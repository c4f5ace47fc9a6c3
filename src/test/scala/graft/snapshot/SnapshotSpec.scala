package graft.snapshot

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{count, lit, sum, when}

import graft.SparkSpec

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-snap").toString

  test("commit/read round-trip with version monotonicity") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    assert(t.currentVersion.isEmpty)
    val v1 = t.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val v2 = t.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    assert(v1 == 1 && v2 == 2 && t.currentVersion.contains(2))
    assert(t.read().count() == 3)
  }

  test("time travel: older versions stay readable") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    t.commit(Seq(1, 2).toDF("x"))
    t.commit(Seq(1, 2, 3, 4).toDF("x"))
    assert(t.read(Some(1)).count() == 2)
    assert(t.read(Some(2)).count() == 4)
  }

  test("crash safety: data dir without a published manifest is invisible") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    t.commit(Seq(1, 2, 3).toDF("x"))
    // simulate a crash mid-commit: orphan data directory, no manifest rename
    Seq(9, 9, 9).toDF("x").write.parquet(s"$dir/data/v000099")
    val t2 = new SnapshotTable(spark, dir)
    assert(t2.currentVersion.contains(1))
    assert(t2.read().count() == 3)
  }

  test("commit counts rows on the write itself: one job, no re-scan") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      t.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
      // listener delivery is async: wait until the job count is stable
      var last = jobs.get(); var stable = 0
      while (stable < 4) {
        Thread.sleep(100)
        if (jobs.get() == last) stable += 1 else { last = jobs.get(); stable = 0 }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 1, s"commit must trigger exactly one job over the data, saw ${jobs.get()}")
    // and the manifest row count is the real one (from the Observation)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      Paths.get(dir, "manifests", "v000001.json")))
    assert(manifest.contains("\"rowCount\":3"), manifest)
  }

  test("metrics + lineage travel in the manifest") {
    val dir = tmpDir()
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
    val dir = tmpDir()
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
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    // 8 input partitions, each holding rows of all 16 prefixes: a plain
    // partitioned write opens 8 × 16 files
    val df = spark.range(0, 1600, 1, 8)
      .select(($"id" % 16).cast("string").as("prefix"), lit(3).as("run_id"), $"id".as("v"))
    assert(df.rdd.getNumPartitions == 8)
    t.commit(df, partitionBy = Seq("prefix", "run_id"))
    val dataDir = Paths.get(dir, "data", "v000001")
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
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    // one partition value: a rebalance could only funnel the 8 input
    // partitions into one writer, so each input partition writes its own file
    val df = spark.range(0, 800, 1, 8).withColumn("crawl_date", lit("2024-02-01"))
    t.commit(df, partitionBy = Seq("crawl_date"))
    val files = Files.list(Paths.get(dir, "data", "v000001", "crawl_date=2024-02-01"))
      .iterator().asScala.toSeq.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(files.size == 8, s"${files.size} data files")
    assert(t.read().select($"id").as[Long].collect().sorted.toSeq == (0L until 800L))
  }

  test("version listing releases its directory descriptor") {
    val t = new SnapshotTable(spark, tmpDir())
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
