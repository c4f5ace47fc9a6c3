package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.Crawl
import graft.core.{CacheScope, CrawlConfig}
import graft.frontier.Frontier

/** Structured-Streaming incremental layer (SURVEY §2.9).
  *
  * The reference is batch-with-state: nightly runs with per-id ETag caches
  * deciding "not modified" (archive.py:194-237, 305-348) on a cron
  * cadence (scripts/update/global_update.sh:219-234). Here frontier deltas
  * arrive as a stream of (id, runId) discovery events, and each micro-batch
  * runs one batch crawl round ([[graft.Crawl.run]]) over its ids: the same
  * schedule, the same conditional fetch against `url_seen` (T2), the same
  * snapshot commits (T1). Windowed counts with a watermark give the per-run
  * metrics view (T5/A1), and a timeout-driven monitor the stall alerts.
  */
object StreamingCrawl {

  /** One discovery event in the frontier delta stream. */
  final case class Discovery(id: String, runId: Int, ts: java.sql.Timestamp)

  /** Windowed per-class metrics with a watermark — the monitoring time-series
    * (scripts/monitoring gnuplot reports) as a streaming aggregation (T5). */
  def windowedMetrics(discoveries: DataFrame, window: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame =
    discoveries
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(count(lit(1)).as("n_discovered"),
        approx_count_distinct(col("id")).as("n_unique_ids"))

  /** One monitoring sample (a progress event for `metric`). */
  final case class MetricSample(metric: String, ts: java.sql.Timestamp)
  final case class MonitorState(cum: Long)
  final case class StallAlert(metric: String, atMs: Long, cum_n: Long, stalled: Boolean)

  /** The stall monitor as a CONTINUOUS query — the streaming form of the
    * batch q61 (global_update_monitor.sh:200-211 samples a cumulative
    * counter on a cron cadence and alerts when it repeats). In streaming,
    * "the counter repeated" = a full bucket with NO samples, which only a
    * TIMEOUT can observe (no row arrives to trigger computation):
    * `flatMapGroupsWithState` with an event-time timeout re-armed
    * `bucketMs` past the watermark — progress rows (stalled=false) flow on
    * data; a key whose source goes silent fires its timeout and emits
    * stalled=true every bucket until data resumes, exactly the cron
    * alert's cadence.
    *
    * SCOPE: this detects PER-METRIC stalls while the pipeline itself is
    * alive (some metric still advances the watermark). A TOTAL outage
    * freezes the watermark, so event-time timers cannot fire — which is
    * why the reference runs its monitor OUT-OF-BAND on cron
    * (global_update_monitor.sh); the batch form (q61,
    * ViewQueries.stallMonitor) scheduled externally is the faithful
    * whole-pipeline alarm, and this operator complements it in-stream. */
  def stallAlerts(samples: Dataset[MetricSample], bucketMs: Long = 8L * 3600 * 1000,
                  watermarkDelay: String = "10 seconds"): Dataset[StallAlert] = {
    import samples.sparkSession.implicits._
    samples
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.metric)
      .flatMapGroupsWithState[MonitorState, StallAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (metric: String, events: Iterator[MetricSample], state: GroupState[MonitorState]) =>
          val st = state.getOption.getOrElse(MonitorState(0L))
          val wm = state.getCurrentWatermarkMs()
          if (state.hasTimedOut) {
            // continued silence: re-alert one bucket past the watermark
            state.setTimeoutTimestamp(wm + bucketMs)
            Iterator.single(StallAlert(metric, wm, st.cum, stalled = true))
          } else {
            var cum = st.cum
            var lastTs = 0L
            events.foreach { e => cum += 1; lastTs = math.max(lastTs, e.ts.getTime) }
            state.update(MonitorState(cum))
            // arm from the LAST SAMPLE's event time, not the watermark: a
            // burst that arrives as one batch must count as progress up to
            // its newest sample, or the stale timer reads it as a stall
            state.setTimeoutTimestamp(math.max(lastTs, wm) + bucketMs)
            Iterator.single(StallAlert(metric, wm, cum, stalled = false))
          }
      }
  }

  /** Production sink: each micro-batch of `discoveries` is one crawl round
    * into the snapshot tables under `tableDir` (`fetch_results`,
    * `url_seen`), drained with `Trigger.AvailableNow`. The round discovers
    * the batch's ids with no cap, since the stream already carries the
    * discovery output (discover.py), and recrawls every `url_seen` id, as a
    * nightly run does. Its run is the batch's largest `runId`, not the
    * streaming batch id, which a fresh checkpoint restarts at 0: a replayed
    * micro-batch re-runs the same round and converges to the same snapshots
    * (the reference's idempotent upserts, mysql_backend.py:99-104), and a
    * later micro-batch of that run over other ids keeps the earlier ids. */
  def runToSnapshot(spark: SparkSession, discoveries: Dataset[Discovery],
                    tableDir: String, checkpoint: String): Unit =
    discoveries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Discovery], _: Long) =>
        val session = batch.sparkSession
        import session.implicits._
        // an empty batch has no run
        batch.agg(max("runId")).as[Option[Int]].head().foreach { runId =>
          CacheScope.withScope {
            val none = session.emptyDataset[String]
            Crawl.run(session, Frontier.buildWorklist(session, none, none, batch.select("id").as[String],
              maxNew = Int.MaxValue, runId = runId), CrawlConfig(runId = runId), tableDir)
          }
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
