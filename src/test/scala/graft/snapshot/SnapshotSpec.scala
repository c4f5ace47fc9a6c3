package graft.snapshot

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{count, lit, sum, when}

import graft.SparkSpec

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  test("commit/read round-trip with version monotonicity") {
    val dir = tempDir("graft-snap")
    val t = new SnapshotTable(spark, dir)
    assert(t.currentVersion.isEmpty)
    val v1 = t.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val v2 = t.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    assert(v1 == 1 && v2 == 2 && t.currentVersion.contains(2))
    assert(t.read().count() == 3)
  }

  test("manifests name data relative to the table: a moved table reads its own data") {
    val from = Paths.get(tempDir("graft-snap"), "t")
    val fromTable = new SnapshotTable(spark, from.toString)
    fromTable.commit(Seq(1, 2).toDF("x"))
    val data = from.relativize(fromTable.dataDirOf(1)).toString
    assert(data.startsWith("data/v000001-"), data)
    val manifest = from.resolve("manifests").resolve("v000001.json")
    assert(new String(Files.readAllBytes(manifest), "UTF-8").contains(s""""dataDir":"$data""""))
    val to = Paths.get(tempDir("graft-snap"), "moved")
    Files.move(from, to)
    assert(new SnapshotTable(spark, to.toString).read().as[Int].collect().sorted.toSeq == Seq(1, 2))
    // older manifests name the data directory by absolute path
    val moved = to.resolve("manifests").resolve("v000001.json")
    Files.write(moved, new String(Files.readAllBytes(moved), "UTF-8")
      .replace("\"" + data + "\"", "\"" + to.resolve(data) + "\"").getBytes("UTF-8"))
    assert(new String(Files.readAllBytes(moved), "UTF-8").contains(s""""dataDir":"$to/"""))
    assert(new SnapshotTable(spark, to.toString).read().count() == 2)
  }

  test("an unpartitioned read takes its schema from the manifest: no job, any column name") {
    val dir = tempDir("graft-snap")
    val t = new SnapshotTable(spark, dir)
    val name = "a\"b\\c"
    val df = Seq((1L, "x", Option(2)), (2L, "y\n", None)).toDF("k", name, "n")
    t.commit(df)
    val manifest = Paths.get(dir, "manifests", "v000001.json")
    assert(new String(Files.readAllBytes(manifest), "UTF-8").contains("\"schema\":"))
    countingGroup("snapshot-read") { c =>
      val read = t.read()
      c.settle()
      assert(c.jobs.get() == 0, s"reading the snapshot ran ${c.jobs.get()} jobs")
      // the schema the footer gives, field for field
      assert(read.schema == spark.read.parquet(t.dataDirOf(1).toString).schema)
      assert(read.schema.fieldNames.toSeq == Seq("k", name, "n"))
    }
    assert(t.read().as[(Long, String, Option[Int])].collect().sorted.toSeq ==
      Seq((1L, "x", Some(2)), (2L, "y\n", None)))
    // a manifest written before the schema was recorded still reads, by
    // inference
    val json = new String(Files.readAllBytes(manifest), "UTF-8")
    Files.write(manifest, json.substring(0, json.indexOf(",\n\"schema\":")).concat("}").getBytes("UTF-8"))
    assert(!new String(Files.readAllBytes(manifest), "UTF-8").contains("schema"))
    assert(t.read().schema == spark.read.parquet(t.dataDirOf(1).toString).schema)
    assert(t.read().as[(Long, String, Option[Int])].collect().sorted.toSeq ==
      Seq((1L, "x", Some(2)), (2L, "y\n", None)))
    // a partitioned commit records no schema: its partition columns' types
    // come from inference
    val pdir = tempDir("graft-snap")
    new SnapshotTable(spark, pdir)
      .commit(Seq(("aaa", 1, 10)).toDF("prefix", "run_id", "v"), partitionBy = Seq("prefix", "run_id"))
    assert(!new String(Files.readAllBytes(Paths.get(pdir, "manifests", "v000001.json")), "UTF-8")
      .contains("schema"))
  }

  test("time travel: older versions stay readable") {
    val dir = tempDir("graft-snap")
    val t = new SnapshotTable(spark, dir)
    t.commit(Seq(1, 2).toDF("x"))
    t.commit(Seq(1, 2, 3, 4).toDF("x"))
    assert(t.read(Some(1)).count() == 2)
    assert(t.read(Some(2)).count() == 4)
  }

  test("crash safety: data dir without a published manifest is invisible") {
    val dir = tempDir("graft-snap")
    val t = new SnapshotTable(spark, dir)
    t.commit(Seq(1, 2, 3).toDF("x"))
    // simulate a crash mid-commit: orphan data directory, no manifest rename
    Seq(9, 9, 9).toDF("x").write.parquet(s"$dir/data/v000099")
    val t2 = new SnapshotTable(spark, dir)
    assert(t2.currentVersion.contains(1))
    assert(t2.read().count() == 3)
  }

  test("two writers of one version: exactly one publishes, and its rows read back") {
    val dir = tempDir("graft-snap")
    new SnapshotTable(spark, dir).commit(Seq(0L).toDF("x"))
    // each writer's one write task waits until the other's has started, so
    // both have read v1 as HEAD and publish v2
    val rows = Seq(1L until 4L, 4L until 6L)
    val outcomes = rows.map { xs =>
      val f = new java.util.concurrent.FutureTask[Either[Throwable, Int]](() => {
        val df = spark.range(xs.head, xs.last + 1, 1, 1).as[Long].mapPartitions { it =>
          CommitRace.start.countDown()
          CommitRace.start.await(60, java.util.concurrent.TimeUnit.SECONDS)
          it
        }.toDF("x")
        try Right(new SnapshotTable(spark, dir).commit(df))
        catch { case e: IllegalStateException => Left(e) }
      })
      new Thread(f).start()
      f
    }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(CommitRace.start.getCount == 0, "the writers did not overlap")
    val won = outcomes.zip(rows).collect { case (Right(v), xs) => (v, xs) }
    assert(won.size == 1, s"outcomes: $outcomes")
    assert(won.head._1 == 2)
    assert(outcomes.exists(_.left.exists(_.getMessage == "concurrent commit for v2")), s"$outcomes")
    val t = new SnapshotTable(spark, dir)
    assert(t.versions == Seq(1, 2))
    assert(t.read().as[Long].collect().sorted.toSeq == won.head._2)
    // the loser deleted its own data directory: only the manifest's is left
    val dirs = Files.list(Paths.get(dir, "data")).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(dirs.filter(_.startsWith("v000002-")) == Seq(t.dataDirOf(2).getFileName.toString), dirs)
    assert(!Files.list(Paths.get(dir, "manifests")).iterator().asScala.exists(_.getFileName.toString.startsWith(".tmp")))
  }

  test("commit counts rows on the write itself: one job, no re-scan") {
    val dir = tempDir("graft-snap")
    val t = new SnapshotTable(spark, dir)
    val input = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    countingGroup("snapshot-commit") { c =>
      t.commit(input)
      c.settle()
      assert(c.jobs.get() == 1, s"commit must trigger exactly one job over the data, saw ${c.jobs.get()}")
    }
    // and the manifest row count is the real one (from the Observation)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      Paths.get(dir, "manifests", "v000001.json")))
    assert(manifest.contains("\"rowCount\":3"), manifest)
  }

  test("metrics + lineage travel in the manifest") {
    val dir = tempDir("graft-snap")
    val t = new SnapshotTable(spark, dir)
    t.commit(Seq(1).toDF("x"), metrics = Map("n_ok" -> "1", "run_id" -> "0"))
    t.commit(Seq(1, 2).toDF("x"), metrics = Map("n_ok" -> "2", "run_id" -> "1"))
    assert(t.metricsOf(1)("n_ok") == "1")
    assert(t.metricsOf(2)("run_id") == "1")
    // observed aggregates are computed on the write and join the metrics
    t.commit(Seq(1, 2, 3, 4).toDF("x"), metrics = Map("run_id" -> "2"),
      observed = Seq(sum($"x").as("x_sum"), count(when($"x" > 2, 1)).as("n_big")))
    assert(t.metricsOf(3) == Map("run_id" -> "2", "x_sum" -> "10", "n_big" -> "2"))
  }

  test("partitioned snapshot supports partition-pruned reads") {
    val dir = tempDir("graft-snap")
    val t = new SnapshotTable(spark, dir)
    val df = Seq(("aaa", 1, 10), ("aab", 1, 20), ("aaa", 2, 30)).toDF("prefix", "run_id", "v")
    t.commit(df, partitionBy = Seq("prefix", "run_id"))
    val pruned = t.read().filter($"prefix" === "aaa" && $"run_id" === 1)
    assert(pruned.collect().map(_.getAs[Int]("v")).toSeq == Seq(10))
    // partition pruning visible in the scan
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("partitioned commit writes one data file per partition value") {
    val dir = tempDir("graft-snap")
    val t = new SnapshotTable(spark, dir)
    // 8 input partitions, each holding rows of all 16 prefixes: a plain
    // partitioned write opens 8 × 16 files
    val df = spark.range(0, 1600, 1, 8)
      .select(($"id" % 16).cast("string").as("prefix"), lit(3).as("run_id"), $"id".as("v"))
    assert(df.rdd.getNumPartitions == 8)
    t.commit(df, partitionBy = Seq("prefix", "run_id"))
    val dataDir = t.dataDirOf(1)
    val partDirs = Files.walk(dataDir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("run_id="))
    assert(partDirs.size == 16)
    partDirs.foreach { p =>
      val files = Files.list(p).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
      assert(files.size == 1, s"$p holds ${files.size} data files")
    }
    // same rows back, and the manifest row count is the observed one
    assert(t.read().select($"v").as[Long].collect().sorted.toSeq == (0L until 1600L))
    assert(new String(Files.readAllBytes(Paths.get(dir, "manifests", "v000001.json")))
      .contains("\"rowCount\":1600"))
    val pruned = t.read().filter($"prefix" === "5")
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(pruned.select($"v").as[Long].collect().sorted.toSeq == (5L until 1600L by 16))
  }

  test("a literal partition column commits without a rebalance shuffle") {
    val dir = tempDir("graft-snap")
    val t = new SnapshotTable(spark, dir)
    // one partition value: a rebalance could only funnel the 8 input
    // partitions into one writer, so each input partition writes its own file
    val df = spark.range(0, 800, 1, 8).withColumn("crawl_date", lit("2024-02-01"))
    t.commit(df, partitionBy = Seq("crawl_date"))
    val files = Files.list(t.dataDirOf(1).resolve("crawl_date=2024-02-01"))
      .iterator().asScala.toSeq.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(files.size == 8, s"${files.size} data files")
    assert(t.read().select($"id").as[Long].collect().sorted.toSeq == (0L until 800L))
  }

  test("version listing releases its directory descriptor") {
    val t = new SnapshotTable(spark, tempDir("graft-snap"))
    t.commit(Seq(1).toDF("x"))
    val fdDir = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fdDir), "needs /proc/self/fd")
    def openFds(): Int = {
      val s = Files.list(fdDir)
      try s.count().toInt finally s.close()
    }
    (0 until 10).foreach(_ => t.currentVersion)
    val before = openFds()
    (0 until 1000).foreach(_ => assert(t.currentVersion.contains(1)))
    val after = openFds()
    // a leak holds one descriptor per call; the slack absorbs Spark's own
    // background threads opening and closing files meanwhile
    assert(after - before < 50, s"open descriptors went $before -> $after")
  }
}

/** The two-writer case's rendezvous: an object, so the write tasks of both
  * writers share it (a latch captured in a task closure is a copy). */
object CommitRace {
  val start = new java.util.concurrent.CountDownLatch(2)
}
