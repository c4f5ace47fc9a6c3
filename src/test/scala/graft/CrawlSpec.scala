package graft

import java.nio.file.Files

import graft.core.{CrawlConfig, Ids}
import graft.frontier.Frontier
import graft.scheduler.VirtualClockOracle

class CrawlSpec extends SparkSpec {
  import spark.implicits._

  test("end-to-end run: order parity, seen-set exactness, snapshot resume") {
    val dir = Files.createTempDirectory("graft-crawl").toString
    val cfg = CrawlConfig(runId = 1)

    // frontier from the three reference sources (crawler:203-215)
    val existing = spark.createDataset((0 until 500).map(i => Ids.syntheticId(i.toLong)))
    val forum = spark.createDataset((0 until 500 by 40).map(i => Ids.syntheticId(i.toLong)))
    val discovered = spark.createDataset(
      (400 until 900).map(i => Ids.syntheticId(i.toLong))) // 100 overlap, 400 new
    val frontier = Frontier.buildWorklist(spark, existing, forum, discovered,
      maxNew = 1000, runId = 1)
    val flist = frontier.collect().toSeq
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
    }

    // determinism / idempotent re-run (reference's converging re-runs):
    // rerunning run 1 into a fresh dir produces the identical result set
    val dirB = Files.createTempDirectory("graft-crawl-b").toString
    val outB = Crawl.run(spark, frontier, cfg, dirB)
    assert(outB.results.collect().sortBy(_.seq).toSeq ==
      out.results.collect().sortBy(_.seq).toSeq)

    // the columnar opt-in produces the BIT-IDENTICAL crawl (results +
    // committed etag state) — the knob is a performance re-baseline, never
    // a semantics change
    System.setProperty("spark.graft.columnar.fetch", "1")
    try {
      val dirC = Files.createTempDirectory("graft-crawl-c").toString
      val outC = Crawl.run(spark, frontier, cfg, dirC)
      assert(outC.results.collect().sortBy(_.seq).toSeq ==
        out.results.collect().sortBy(_.seq).toSeq)
      val stateA = new graft.snapshot.SnapshotTable(spark, s"$dirB/etag_state")
        .read().collect().map(_.mkString("|")).sorted.toSeq
      val stateC = new graft.snapshot.SnapshotTable(spark, s"$dirC/etag_state")
        .read().collect().map(_.mkString("|")).sorted.toSeq
      assert(stateC == stateA)
    } finally System.clearProperty("spark.graft.columnar.fetch")
  }
}
