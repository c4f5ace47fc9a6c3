package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.{Crawl, SparkSpec}
import graft.core.{CacheScope, CrawlConfig, FrontierEntry, Ids}
import graft.fetch.Fetcher
import graft.frontier.Frontier
import graft.scheduler.VirtualClockOracle
import graft.snapshot.SnapshotTable
import graft.streaming.StreamingCrawl.Discovery

/** Structured-Streaming incremental layer (SURVEY §2.9): each micro-batch
  * of discoveries is one batch crawl round (T1/T2), checked against the
  * batch rounds and the sequential schedule oracle; the monitoring
  * queries (T5) beside it. */
class StreamingSpec extends SparkSpec {

  test("streaming stall monitor: a silent metric fires its timeout alert; active metrics don't") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingCrawl.{MetricSample, StallAlert}

    val input = MemoryStream[MetricSample]
    val alerts = StreamingCrawl.stallAlerts(input.toDS(),
      bucketMs = 60000L, watermarkDelay = "0 seconds")
    val checkpoint = tempDir("graft_stall_ckpt")
    val out = scala.collection.mutable.ArrayBuffer.empty[StallAlert]
    val q = alerts.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StallAlert], _: Long) =>
        out.synchronized { out ++= df.collect() }
        ()
      }
      .start()
    def at(min: Long) = new Timestamp(min * 60000L)

    // both metrics active in minutes 1-2 (start past 0: a ts equal to the
    // initial watermark sits on the late-data boundary)
    input.addData(Seq(MetricSample("download", at(1)), MetricSample("forum", at(1)),
      MetricSample("download", at(2)), MetricSample("forum", at(2))))
    q.processAllAvailable()
    // 'download' goes SILENT; 'forum' keeps producing batch by batch,
    // advancing the watermark far past download's 1-minute bucket timeout
    (3L to 10L).foreach { m =>
      input.addData(Seq(MetricSample("forum", at(m))))
      q.processAllAvailable()
    }
    q.stop()

    val snap = out.synchronized(out.toList)
    val downloadStalls = snap.filter(a => a.metric == "download" && a.stalled)
    assert(downloadStalls.nonEmpty,
      s"a silent metric must alert via its event-time timeout: $snap")
    // the stalled alert repeats the cumulative count (the monitor's
    // 'same count twice' signature) — 2 samples then silence
    assert(downloadStalls.forall(_.cum_n == 2L), s"stall alerts: $downloadStalls; all: $snap")
    // forum produced through the whole watermark range — never a stall
    // while its newest sample is within one bucket of the watermark
    val forumLastTs = 10L * 60000L
    assert(!snap.exists(a => a.metric == "forum" && a.stalled && a.atMs < forumLastTs),
      s"an active metric must not alert while producing: $snap")
    // progress rows carry the advancing cumulative count
    val forumCums = snap.filter(a => a.metric == "forum" && !a.stalled).map(_.cum_n)
    assert(forumCums.nonEmpty && forumCums.max == 10L, s"forum cums: $forumCums")
  }

  /** Drain `ids` discovered at `runId` (the first `older` of them at the
    * run before) into `tableDir` as one micro-batch, under a checkpoint of
    * its own (MemoryStream offsets do not survive across query instances). */
  private def stream(tableDir: String, ids: Seq[String], runId: Int, older: Int = 0): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Discovery]
    in.addData(ids.zipWithIndex.map { case (i, n) =>
      Discovery(i, if (n < older) runId - 1 else runId, new Timestamp(0L))
    })
    StreamingCrawl.runToSnapshot(spark, in.toDS(), tableDir, tempDir("graft_stream_ckpt"))
  }

  private def resultsOf(dir: String, v: Int) = new SnapshotTable(spark, s"$dir/fetch_results").read(Some(v))
    .select("seq", "id", "fetchClass", "startMs", "status", "etag", "isNew", "retried", "prefix", "run_id")
    .collect().map(_.toString).sorted.toSeq

  private def seenOf(dir: String) = new SnapshotTable(spark, s"$dir/url_seen").read()
    .select("id", "etag", "lastRun", "firstRun").collect().map(_.toString).sorted.toSeq

  test("streamed micro-batches == batch rounds over the same ids") {
    import spark.implicits._
    val id = (i: Int) => Ids.syntheticId(i.toLong)
    // B1..B3 at runs 1..3; each later batch re-discovers some known ids,
    // and some of a batch's events carry the run before: a batch's round is
    // its largest run
    val batches = Seq(1 -> (0 until 40), 2 -> (20 until 70), 3 -> ((0 until 10) ++ (60 until 90)))
      .map { case (r, is) => r -> is.map(id) }
    val streamed = tempDir("graft_stream_oracle")
    val batch = tempDir("graft_stream_batch")
    // the session is shared with other suites, whose persisted RDDs (local
    // checkpoints among them) stay theirs: the rounds must add none
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    var lastOk = Map.empty[String, Int]
    batches.foreach { case (runId, ids) =>
      val known = if (runId == 1) Nil else Crawl.seenIds(spark, streamed).as[String].collect().toSeq
      stream(streamed, ids, runId, older = 5 * (runId - 1))
      CacheScope.withScope {
        val none = spark.emptyDataset[String]
        Crawl.run(spark, Frontier.buildWorklist(spark, none, none, spark.createDataset(ids),
          maxNew = Int.MaxValue, runId = runId), CrawlConfig(runId = runId), batch)
      }
      assert(resultsOf(streamed, runId) == resultsOf(batch, runId), s"run $runId: fetch_results")
      val results = new SnapshotTable(spark, s"$streamed/fetch_results").read(Some(runId))
        .select("seq", "id", "fetchClass", "startMs", "status").as[(Long, String, String, Long, Int)]
        .collect().sortBy(_._1).toSeq
      // the schedule: the sequential oracle over url_seen ∪ the batch's ids
      val expected = VirtualClockOracle.schedule((known ++ ids).distinct.map { i =>
        val url = Frontier.urlFor(i)
        FrontierEntry(i, url, Frontier.hostOf(url), forums = false, runId)
      }, CrawlConfig(runId = runId))
      assert(results.map(r => (r._1, r._2, r._3, r._4)) == expected.map(e => (e.seq, e.id, e.fetchClass, e.startMs)),
        s"run $runId: schedule")
      // the conditional fetch: a prior 200's etag is current iff its
      // content version is unchanged, and only then is the fetch a 304
      results.foreach { case (_, i, _, _, status) =>
        lastOk.get(i).foreach { prev =>
          if (Fetcher.contentVersion(i, prev) == Fetcher.contentVersion(i, runId)) assert(status == 304, s"$i")
          else assert(status != 304, s"$i: changed content must re-fetch")
        }
      }
      if (runId > 1) assert(results.exists(_._5 == 304) && results.exists(r => lastOk.contains(r._2) && r._5 == 200))
      lastOk ++= results.collect { case (_, i, _, _, 200) => i -> runId }
      assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore, s"run $runId left persisted RDDs")
    }
    assert(seenOf(streamed) == seenOf(batch))
    assert(new SnapshotTable(spark, s"$streamed/fetch_results").versions == Seq(1, 2, 3))
  }

  test("runToSnapshot: a replayed micro-batch converges, restart-safe") {
    val tableDir = tempDir("graft_stream_snap")
    val ids = (0 until 30).map(i => Ids.syntheticId(i.toLong))
    // run 1: one drained micro-batch crawls 30 ids
    stream(tableDir, ids, 1)
    assert(seenOf(tableDir).size == 30)
    // run 2: a batch re-discovering 10 ids at run 5 recrawls all 30, as a
    // nightly round does, and adds no row
    stream(tableDir, ids.take(10), 5)
    val seen = seenOf(tableDir)
    val results = resultsOf(tableDir, 2)
    assert(seen.size == 30 && results.size == 30)
    // replaying that micro-batch, from a fresh checkpoint, re-runs round 5
    // and converges to the identical snapshots
    stream(tableDir, ids.take(10), 5)
    assert(new SnapshotTable(spark, s"$tableDir/url_seen").currentVersion.contains(3))
    assert(seenOf(tableDir) == seen, "replaying a batch must converge to the identical url_seen")
    assert(resultsOf(tableDir, 3) == results, "a replayed round must fetch as the first did")
  }

  test("micro-batches of one run over other ids, and late events of an earlier run, lose no id") {
    val tableDir = tempDir("graft_stream_same_run")
    val id = (i: Int) => Ids.syntheticId(i.toLong)
    val (a, b, late) = ((0 until 20).map(id), (20 until 35).map(id), (35 until 40).map(id))
    // id -> (firstRun, lastRun)
    def state() = new SnapshotTable(spark, s"$tableDir/url_seen").read().select("id", "firstRun", "lastRun")
      .collect().map(r => r.getString(0) -> (r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Int]))).toMap
    // two drains at run 3 with disjoint ids, as a rate-limited source or a
    // later drain of the same run delivers them
    stream(tableDir, a, 3)
    stream(tableDir, b, 3)
    val seen = state()
    assert(seen.keySet == (a ++ b).toSet && seen.values.forall(_._1 == 3))
    // the second batch recrawls the first's ids at run 3
    assert(resultsOf(tableDir, 2).size == 35)
    // a batch of only late events of run 2 recrawls every id at run 2,
    // keeps run 3's admissions, and replaces no run-3 etag
    stream(tableDir, late, 2)
    val after = state()
    assert(after.keySet == (a ++ b ++ late).toSet)
    assert(late.forall(after(_)._1 == 2))
    assert(seen.forall { case (i, (f, last)) => after(i)._1 == f && last.forall(l => after(i)._2.contains(l)) })
  }

  test("windowed metrics with watermark aggregates the discovery stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Discovery]
    val metrics = StreamingCrawl.windowedMetrics(input.toDS().toDF())
    val q = metrics.writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName("disc_metrics")
      .start()
    input.addData((0 until 20).map(i =>
      Discovery(Ids.syntheticId(i.toLong), 1, new Timestamp(i * 60000L))))
    q.processAllAvailable()
    val rows = spark.table("disc_metrics").collect()
    assert(rows.map(_.getLong(1)).sum === 20)
    q.stop()
  }
}
