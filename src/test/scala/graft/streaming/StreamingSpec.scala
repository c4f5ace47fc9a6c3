package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.streaming.StreamingCrawl.Discovery

/** Structured-Streaming incremental semantics (SURVEY §2.9 T1/T2): etag
  * state carried across micro-batches via mapGroupsWithState — a
  * re-discovered id with an unchanged etag classifies 304 not_modified
  * without a fetch (archive.py:305-348's If-Modified-Since/ETag skip). */
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

  test("stateful fetch: first sight fetches, re-sight with same etag → 304") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Discovery]
    val results = StreamingCrawl.fetchWithState(input.toDS())
    val checkpoint = tempDir("graft_stream_ckpt")

    // one long-lived query; foreachBatch segments output per micro-batch so
    // the etag state carried by mapGroupsWithState is observable batch by
    // batch (checkpointed state store — the streaming resume layer)
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Int]]()
    val q = results.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.core.FetchResult], id: Long) =>
        batches.put(id, df.collect().map(r => r.id -> r.status).toMap)
        ()
      }
      .start()

    var nextBatch = 0L
    def runBatch(data: Seq[Discovery]): Map[String, Int] = {
      input.addData(data)
      q.processAllAvailable()
      val out = batches.getOrDefault(nextBatch, Map.empty)
      nextBatch += 1
      out
    }

    val ids = (0 until 50).map(i => graft.core.Ids.syntheticId(i.toLong))
    val t = new Timestamp(0L)

    // batch 1: all ids are first-sight → fetched (status from the
    // deterministic fetcher; 200s record etag state)
    val b1 = runBatch(ids.map(Discovery(_, 1, t)))
    assert(b1.size === 50)
    assert(!b1.values.exists(_ == -1)) // exceptions retried, never emitted raw
    val okIds = b1.collect { case (id, 200) => id }.toSet
    assert(okIds.nonEmpty)

    // batch 2: same runId re-discovery → every previously-200 id must come
    // back 304 not_modified (etag unchanged), without a payload fetch
    val b2 = runBatch(ids.map(Discovery(_, 1, t)))
    assert(okIds.forall(id => b2(id) === 304))

    // batch 3: a new run — ids whose synthetic content version is unchanged
    // still 304 off the carried state; changed versions must re-fetch
    val b3 = runBatch(ids.take(5).map(Discovery(_, 2, t)))
    assert(b3.size === 5)
    ids.take(5).foreach { id =>
      val unchanged = graft.fetch.Fetcher.contentVersion(id, 1) ==
        graft.fetch.Fetcher.contentVersion(id, 2)
      if (okIds.contains(id) && unchanged) assert(b3(id) === 304)
      else if (okIds.contains(id)) assert(b3(id) !== 304,
        s"$id: changed content must re-fetch, not serve stale 304")
    }
    q.stop()
  }

  test("runToSnapshot: micro-batches MERGE into the snapshot table, restart-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tableDir = tempDir("graft_stream_snap")
    val checkpoint = tempDir("graft_stream_snap_ckpt")
    val ids = (0 until 30).map(i => graft.core.Ids.syntheticId(i.toLong))
    val t = new Timestamp(0L)

    // run 1: drain-and-stop (AvailableNow) → one snapshot of 30 ids
    val in1 = MemoryStream[Discovery]
    in1.addData(ids.map(Discovery(_, 1, t)))
    StreamingCrawl.runToSnapshot(spark, in1.toDS(), tableDir, checkpoint)
    val table = new graft.snapshot.SnapshotTable(spark, tableDir)
    assert(table.read().select("id").distinct().count() == 30)

    // run 2 (new drained run, own checkpoint — MemoryStream offsets don't
    // survive across query instances): re-discovered ids MERGE, not append
    val ckpt2 = tempDir("graft_stream_snap_ckpt2")
    val in2 = MemoryStream[Discovery]
    in2.addData(ids.take(10).map(Discovery(_, 5, t)))
    StreamingCrawl.runToSnapshot(spark, in2.toDS(), tableDir, ckpt2)
    val rows = table.read()
    assert(rows.select("id").distinct().count() == 30, "merge must not duplicate ids")
    assert(rows.count() == 30)
    assert(table.currentVersion.exists(_ >= 2), "each drained run commits a snapshot")

    // replaying the same micro-batch converges (idempotent sink, T6): the
    // restart-safety property foreachBatch + mergeUpsert provides
    val ckpt3 = tempDir("graft_stream_snap_ckpt3")
    val in3 = MemoryStream[Discovery]
    in3.addData(ids.take(10).map(Discovery(_, 5, t)))
    StreamingCrawl.runToSnapshot(spark, in3.toDS(), tableDir, ckpt3)
    val replay = table.read()
    assert(replay.count() == 30)
    val a = rows.orderBy("id").collect().map(_.toString).toSeq
    val b = replay.orderBy("id").collect().map(_.toString).toSeq
    assert(a == b, "replaying a batch must converge to the identical snapshot")
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
      Discovery(graft.core.Ids.syntheticId(i.toLong), 1, new Timestamp(i * 60000L))))
    q.processAllAvailable()
    val rows = spark.table("disc_metrics").collect()
    assert(rows.map(_.getLong(1)).sum === 20)
    q.stop()
  }
}
