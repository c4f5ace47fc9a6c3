package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.core.{CacheScope, CrawlConfig, FrontierEntry, Ids}
import graft.etl.CrawlToDb
import graft.fetch.Fetcher
import graft.frontier.{Frontier, SeenSet, SeenStore}
import graft.scheduler.VirtualClockOracle
import graft.snapshot.SnapshotTable

class CrawlSpec extends SparkSpec {
  import spark.implicits._

  test("end-to-end run: order parity, seen-set exactness, snapshot resume") {
    val dir = tempDir("graft-crawl")
    val cfg = CrawlConfig(runId = 1)

    // frontier from the three reference sources (crawler:203-215)
    val existing = spark.createDataset((0 until 500).map(i => Ids.syntheticId(i.toLong)))
    val forum = spark.createDataset((0 until 500 by 40).map(i => Ids.syntheticId(i.toLong)))
    val discovered = spark.createDataset(
      (400 until 900).map(i => Ids.syntheticId(i.toLong))) // 100 overlap, 400 new
    val frontier = Frontier.buildWorklist(spark, existing, forum, discovered,
      maxNew = 1000, runId = 1)
    val flist = frontier.entries.collect().toSeq
    assert(flist.map(_.id).distinct.size == 900, "overlap must dedup (discover.py:68)")
    assert(flist.count(_.forums) == 13)

    val out = Crawl.run(spark, frontier, cfg, dir)

    // crawl-order parity vs the sequential oracle
    val oracle = VirtualClockOracle.schedule(flist, cfg)
    val pipeline = out.scheduled.collect().sortBy(_.seq)
    assert(pipeline.toSeq == oracle.toSeq, "north-rule order parity")

    // seen set == exact id set
    val seen = Crawl.seenIds(spark, dir).as[String].collect().toSet
    assert(seen == flist.map(_.id).toSet)

    // resume: a second run over a new frontier appends snapshot versions and
    // carries the old seen set forward
    val discovered2 = spark.createDataset((850 until 1000).map(i => Ids.syntheticId(i.toLong)))
    val known2 = Crawl.seenIds(spark, dir).as[String]
    val frontier2 = Frontier.buildWorklist(spark, known2, forum, discovered2,
      maxNew = 1000, runId = 2)
    val out2 = Crawl.run(spark, frontier2, cfg.copy(runId = 2), dir)
    assert(out2.resultsVersion == 2 && out2.seenVersion == 2)

    // etag-conditional semantics (T2/J14): an id that 200'd in run 1 and
    // whose synthetic content version is unchanged in run 2 must come back
    // 304 not_modified; a changed version must re-fetch (never 304)
    val r1 = out.results.collect().map(r => r.id -> r).toMap
    val r2map = out2.results.collect().map(r => r.id -> r).toMap
    r2map.foreach { case (id, r2r) =>
      r1.get(id).filter(_.status == 200).foreach { prev =>
        if (graft.fetch.Fetcher.contentVersion(id, 1) ==
            graft.fetch.Fetcher.contentVersion(id, 2)) {
          assert(r2r.status == 304, s"$id: unchanged content must 304")
          assert(r2r.etag == prev.etag)
        } else {
          assert(r2r.status != 304, s"$id: changed content must re-fetch")
        }
      }
    }
    assert(r2map.values.exists(_.status == 304), "some ids must hit the etag cache")
    val seen2 = Crawl.seenIds(spark, dir).as[String].collect().toSet
    assert(seen2 == (0 until 1000).map(i => Ids.syntheticId(i.toLong)).toSet)

    // time travel: run-1 seen set still readable (snapshot layer resume)
    val t = new graft.snapshot.SnapshotTable(spark, s"$dir/url_seen")
    assert(t.read(Some(1)).count() == 900)

    // metrics recorded in the manifest lineage
    val rt = new graft.snapshot.SnapshotTable(spark, s"$dir/fetch_results")
    // ... observed on the results write: the same counters a separate
    // aggregation over the run's results computes, and the same row count
    Seq(1 -> out, 2 -> out2).foreach { case (v, o) =>
      val m = graft.fetch.Fetcher.metrics(o.results).head()
      val expected = m.schema.fieldNames.map(n => n -> m.getAs[Long](n).toString).toMap
      assert(rt.metricsOf(v) == expected + ("run_id" -> v.toString))
      val manifest = new String(Files.readAllBytes(
        java.nio.file.Paths.get(dir, "fetch_results", "manifests", f"v$v%06d.json")))
      assert(manifest.contains(s""""rowCount":${o.results.count()},"""), manifest)
      assert(o.resultRows == o.results.count())
    }

    // determinism / idempotent re-run (reference's converging re-runs):
    // rerunning run 1 into a fresh dir produces the identical result set
    val dirB = tempDir("graft-crawl-b")
    val outB = Crawl.run(spark, frontier, cfg, dirB)
    assert(outB.results.collect().sortBy(_.seq).toSeq ==
      out.results.collect().sortBy(_.seq).toSeq)

    // committed per-id state in url_seen (T2, the conditional-fetch
    // cache): each run's 200s upsert (id, etag, runId); every other id
    // keeps its prior entry, and an id without a 200 yet has null etag and
    // lastRun
    def state(d: String) = new graft.snapshot.SnapshotTable(spark, s"$d/url_seen")
      .read().select("id", "etag", "lastRun").as[(String, Option[String], Option[Int])]
      .collect().toSeq
    def etagState(d: String) = state(d).collect { case (id, Some(e), Some(v)) => (id, e, v) }.sorted
    def upserts(o: Crawl.RunOutput, runId: Int) = o.results.collect()
      .filter(_.status == 200).map(r => r.id -> (r.etag, runId)).toMap
    def rows(m: Map[String, (String, Int)]) = m.toSeq.map { case (id, (e, v)) => (id, e, v) }.sorted
    val state1 = upserts(out, 1)
    assert(state1.nonEmpty)
    assert(etagState(dirB) == rows(state1))
    assert(etagState(dir) == rows(state1 ++ upserts(out2, 2)))
    val stateRows = state(dir)
    assert(stateRows.size == seen2.size && stateRows.map(_._1).toSet == seen2,
      "one state row per id ever crawled")
    assert(stateRows.forall { case (_, e, v) => e.isDefined == v.isDefined })
    // no second per-id table beside it
    assert(!Files.exists(Paths.get(dir, "etag_state")))
  }

  /** The synthetic ids numbered `ids`. */
  private def idsOf(ids: Seq[Int]) = spark.createDataset(ids.map(i => Ids.syntheticId(i.toLong)))

  /** A work-list of the synthetic ids numbered `ids`, every 40th a forum id. */
  private def frontierOf(runId: Int, ids: Seq[Int]) =
    Frontier.buildWorklist(spark, idsOf(ids.filter(_ % 40 != 0)), idsOf(ids.filter(_ % 40 == 0)),
      spark.emptyDataset[String], maxNew = 0, runId = runId)

  private def entry(i: Int, forums: Boolean, runId: Int) = {
    val id = Ids.syntheticId(i.toLong)
    val url = Frontier.urlFor(id)
    FrontierEntry(id, url, Frontier.hostOf(url), forums, runId)
  }

  private def seenState(dir: String) = new SnapshotTable(spark, s"$dir/url_seen").read()
    .as[(String, Option[String], Option[Int])].collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("more new ids than maxNew: the round schedules known ∪ the first maxNew new ids") {
    val dir = tempDir("graft-crawl-cap")
    CacheScope.withScope { Crawl.run(spark, frontierOf(1, 0 until 200), CrawlConfig(runId = 1), dir) }
    // round 2: the 200 known ids, forum ids among them and past them, and
    // 400 new discovered ids of which the cap admits 150
    val forum = (0 until 400 by 50)
    val discovered = 100 until 600
    val cfg = CrawlConfig(runId = 2)
    CacheScope.withScope {
      val out = Crawl.run(spark, Frontier.buildWorklist(spark, Crawl.seenIds(spark, dir).as[String],
        idsOf(forum), idsOf(discovered), maxNew = 150, runId = 2), cfg, dir)
      val known = ((0 until 200) ++ forum).distinct
      val admitted = discovered.filterNot(known.contains).sortBy(i => Ids.syntheticId(i.toLong)).take(150)
      assert(admitted.size == 150)
      val expected = (known ++ admitted).map(i => entry(i, forum.contains(i), 2))
      assert(out.scheduled.collect().sortBy(_.seq).toSeq == VirtualClockOracle.schedule(expected, cfg))
      assert(out.resultRows == out.results.count() && out.resultRows == expected.size)
      assert(Crawl.seenIds(spark, dir).as[String].collect().toSet == expected.map(_.id).toSet)
    }
  }

  test("an id listed by several sources is scheduled once, restricted if any source says so") {
    // round 2 leaves ids [0, 50) of url_seen out; forum ids fall in
    // existing, in discovered, in both, and in neither; discovered repeats
    val existing = 50 until 300
    val forum = (0 until 600 by 30) ++ Seq(240, 240)
    val discovered = (200 until 500) ++ (250 until 260)
    val listed = (existing ++ forum ++ discovered).distinct
    val cfg = CrawlConfig(runId = 2)
    val expected = listed.map(i => entry(i, forum.contains(i), 2))
    assert(Seq(240, 270).forall(i => existing.contains(i) && forum.contains(i) && discovered.contains(i)))
    val oracle = VirtualClockOracle.schedule(expected, cfg)
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions")
    Seq(2, 16).foreach { parts =>
      val dir = tempDir(s"graft-crawl-repeat-$parts")
      CacheScope.withScope { Crawl.run(spark, frontierOf(1, 0 until 300), CrawlConfig(runId = 1), dir) }
      val before = seenState(dir)
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try CacheScope.withScope {
        val out = Crawl.run(spark, Frontier.buildWorklist(spark, idsOf(existing), idsOf(forum), idsOf(discovered),
          maxNew = 1000, runId = 2), cfg, dir)
        assert(out.scheduled.collect().sortBy(_.seq).toSeq == oracle, s"$parts partitions")
      } finally spark.conf.set("spark.sql.shuffle.partitions", defaultParts)
      val after = seenState(dir)
      assert(after.keySet == before.keySet ++ listed.map(i => Ids.syntheticId(i.toLong)))
      val stateOnly = (0 until 50).filterNot(forum.contains).map(i => Ids.syntheticId(i.toLong))
      assert(stateOnly.exists(id => before(id)._1.isDefined))
      stateOnly.foreach { id =>
        assert(after(id) == before(id), s"$parts partitions: state-only $id lost its url_seen row")
      }
    }
  }

  test("url_seen after each round == a sequential model of per-id state") {
    val dir = tempDir("graft-crawl-model")
    // round 1 is a first crawl; round 2 leaves out ids [0, 100) and lists
    // new ones; round 3 brings some of [0, 100) back and leaves out others;
    // then round 2 runs again, over rows that round 3 wrote
    val rounds = Seq(1 -> (0 until 300), 2 -> (100 until 450), 3 -> ((0 until 50) ++ (200 until 600)),
      2 -> (100 until 450))
    // per id: (etag, run) of its last 200, None for an id without one
    var model = Map.empty[String, Option[(String, Int)]]
    var statuses = Map.empty[String, Seq[Int]]
    var unscheduledKept = 0
    var laterKept = 0
    rounds.foreach { case (runId, ids) =>
      CacheScope.withScope {
        val cfg = CrawlConfig(runId = runId)
        val out = Crawl.run(spark, frontierOf(runId, ids), cfg, dir)
        val scheduled = out.scheduled.collect().sortBy(_.seq).toSeq
        assert(scheduled.map(_.id).toSet == ids.map(i => Ids.syntheticId(i.toLong)).toSet)
        // the fetch, row for row: a prior etag is the etag of a 200 from an
        // earlier run
        val expected = scheduled.map(s => Fetcher.conditionalResult(s, runId,
          model.get(s.id).flatten.collect { case (e, v) if v < runId => e }, cfg))
        assert(out.results.collect().sortBy(_.seq).toSeq == expected, s"round $runId results")
        unscheduledKept += model.keySet.diff(scheduled.map(_.id).toSet).count(model(_).isDefined)
        // last-wins by run: a 200 does not replace a later run's row
        expected.foreach { r =>
          val later = model.get(r.id).flatten.exists(_._2 > runId)
          if (r.status == 200 && later) laterKept += 1
          if (r.status == 200 && !later) model += r.id -> Some((r.etag, runId))
          else if (!model.contains(r.id)) model += r.id -> None
          statuses += r.id -> (statuses.getOrElse(r.id, Nil) :+ r.status)
        }
        val state = new SnapshotTable(spark, s"$dir/url_seen").read()
          .as[(String, Option[String], Option[Int])].collect().toSeq
        assert(state.map(_._1).distinct.size == state.size, s"round $runId: one row per id")
        val got = state.map { case (id, e, v) => id -> e.zip(v) }.toMap
        if (got != model) {
          val diff = (got.keySet ++ model.keySet).filter(k => got.get(k) != model.get(k)).take(3)
          fail(s"round $runId url_seen differs, e.g. ${diff.map(k => (k, got.get(k), model.get(k)))}")
        }
      }
    }
    // the shapes the model must have met: a prior id left out of a later
    // frontier keeps its 200, an id whose 200 is followed by a failure, and
    // a re-run's 200 that leaves a later run's row in place
    assert(unscheduledKept > 0)
    assert(laterKept > 0)
    assert(statuses.values.exists(_.sliding(2).exists {
      case Seq(a, b) => a == 200 && b != 200 && b != 304
      case _ => false
    }))
  }

  test("a round reads url_seen once: no broadcast or window, one scan, and none on a first crawl") {
    val dir = tempDir("graft-crawl-plan")
    // the distinct url_seen scans of a set of plans, told apart by their
    // output attributes: a plan that reads a cache repeats the cached scan
    val scan = """Scan parquet[^\n]*\nOutput \[\d+\]: \[([^\]]*)\]\nBatched: [^\n]*\nLocation: [^\n]*url_seen/""".r
    def seenScans(plans: Seq[String]) = plans.flatMap(scan.findAllMatchIn(_).map(_.group(1))).distinct
    countingGroup("crawl-plan") { c =>
      Seq(1 -> (0 until 300), 2 -> (100 until 450)).foreach { case (runId, ids) =>
        CacheScope.withScope {
          c.reset()
          Crawl.run(spark, frontierOf(runId, ids), CrawlConfig(runId = runId), dir)
          c.settle()
          assert(c.plans.nonEmpty)
          // the prior state meets the work-list inside the schedule's
          // exchange: no join in either round
          for (op <- Seq("BroadcastHashJoin", "BroadcastExchange", "Window", "SortMergeJoin",
                         "ShuffledHashJoin"); p <- c.plans)
            assert(!p.contains(op), s"round $runId: an executed plan has $op:\n$p")
          if (runId == 1) assert(seenScans(c.plans).isEmpty)
          else
            assert(seenScans(c.plans).size == 1,
              s"round 2 scans url_seen ${seenScans(c.plans).size} times:\n${c.plans.mkString("\n")}")
        }
      }
    }
  }

  /** One crawl round as `CrawlMain` runs it, plus the archive commit that
    * follows it in a nightly crawl: round r lists ids [0, 300r) and every
    * 40th of them as forum ids. `commitStore = false` stops it before the
    * seen store's commit, `commitArchive = false` before the archive's. */
  private def round(dir: String, runId: Int, commitStore: Boolean = true,
                    commitArchive: Boolean = true): Unit =
    CacheScope.withScope {
      val listed = (0 until 300 * runId).map(i => Ids.syntheticId(i.toLong))
      val known =
        if (new SnapshotTable(spark, s"$dir/url_seen").currentVersion.isDefined)
          Crawl.seenIds(spark, dir).as[String]
        else spark.emptyDataset[String]
      val store = new SeenStore(dir, expectedKeys = 1 << 16)
      val frontier = Frontier.buildWorklist(spark, known,
        spark.createDataset(listed.indices.by(40).map(listed)), spark.createDataset(listed),
        maxNew = 1000, runId = runId, store = Some(store))
      val out = Crawl.run(spark, frontier, CrawlConfig(runId = runId), dir)
      def hashes(ids: org.apache.spark.sql.DataFrame) =
        ids.select(SeenSet.idHash(col("id")).as("h")).as[Long]
      if (commitStore) {
        store.commitRun(spark, hashes(out.results.toDF()), out.results.count(),
          seenVersion = out.seenVersion,
          fullCorpusHashes = hashes(Crawl.seenIds(spark, dir)),
          fullCount = Crawl.seenIds(spark, dir).count())
        if (commitArchive) CrawlToDb.commitRunArchive(spark, dir, out.results, runId)
      }
      ()
    }

  /** Every path under `root`, parents before children. */
  private def tree(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def deleteTree(root: Path): Unit = tree(root).reverse.foreach(Files.delete)

  test("resume from every commit point: a crashed round re-runs to the uninterrupted snapshots") {
    val base = Paths.get(tempDir("graft-crawl-resume"))
    val r1 = base.resolve("r1")
    round(r1.toString, 1)
    // copies of the round-1 tree; r1 is deleted before round 2 runs, so
    // every copy reads round 1's snapshots from its own tree
    val names = Seq("clean", "after-results", "after-seen", "after-store", "after-archive")
    names.foreach { name =>
      val to = base.resolve(name)
      tree(r1).foreach(p => Files.copy(p, to.resolve(r1.relativize(p).toString)))
    }
    deleteTree(r1)
    val Seq(clean, afterResults, afterSeen, afterStore, afterArchive) = names.map(base.resolve(_).toString)
    def snapshots(dir: String) = (
      new SnapshotTable(spark, s"$dir/fetch_results").read()
        .select("seq", "id", "status", "etag", "isNew", "retried", "prefix", "run_id")
        .as[(Long, String, Int, String, Boolean, Boolean, String, Int)].collect().sorted.toSeq,
      new SnapshotTable(spark, s"$dir/url_seen").read()
        .as[(String, Option[String], Option[Int])].collect().sorted.toSeq,
      CrawlToDb.fullArchive(spark, dir)
        .select("doc_id", "text", "source", "crawl_date")
        .as[(Long, String, String, String)].collect().sorted.toSeq)

    round(clean, 2)
    val expected = snapshots(clean)
    assert(expected._1.exists(_._3 == 304) && expected._1.exists(_._3 == 200))
    assert(expected._3.map(_._4).distinct.size == 2, "one archive generation per round")

    // (a) crash after the results commit: round 2's url_seen commit, the
    // seen-store commit and the archive commit never happened
    round(afterResults, 2, commitStore = false)
    val seenDir = Paths.get(afterResults, "url_seen")
    Files.delete(seenDir.resolve("manifests").resolve("v000002.json"))
    deleteTree(seenDir.resolve("data").resolve("v000002"))
    // (b) crash after the url_seen commit: the re-run reads round 2's own
    // committed state
    round(afterSeen, 2, commitStore = false)
    // (c) crash after the seen-store commit, before the archive commit
    round(afterStore, 2, commitArchive = false)
    // (d) a re-run after the round's last commit, the archive's
    round(afterArchive, 2)

    Seq(afterResults, afterSeen, afterStore, afterArchive).foreach { dir =>
      round(dir, 2)
      val got = snapshots(dir)
      // the first differing rows, not two whole tables, on failure
      def same[T](table: String, a: Seq[T], b: Seq[T]): Unit =
        if (a != b) fail(s"$dir: $table differs, e.g. ${a.diff(b).take(3)} vs ${b.diff(a).take(3)}")
      same("latest fetch_results", got._1, expected._1)
      same("latest url_seen", got._2, expected._2)
      same("full crawl archive", got._3, expected._3)
      val probe = new SeenStore(dir, expectedKeys = 1 << 16).loadProbe(spark)
      assert(probe.isDefined, s"$dir: the seen store must cover every url_seen version")
      val seenHashes = Crawl.seenIds(spark, dir)
        .select(SeenSet.idHash(col("id"))).as[Long].collect()
      assert(seenHashes.forall(h => probe.get.filters.exists(_.mightContain(h))),
        s"$dir: the probe must flag every url_seen id")
    }
  }
}
