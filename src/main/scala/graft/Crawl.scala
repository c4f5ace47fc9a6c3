package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.core._
import graft.fetch.Fetcher
import graft.frontier.Worklist
import graft.scheduler.Politeness
import graft.snapshot.SnapshotTable

/** End-to-end crawl run (SURVEY.md §3.1 re-expressed Spark-first):
  * work-list → seeded-shuffle schedule under the politeness budget → fetch
  * → two snapshot commits: the run's results, then `url_seen`.
  *
  * `url_seen` is the one per-id crawl state table, `(id, etag, lastRun,
  * firstRun)`: every id ever crawled, with the etag and run of its last 200
  * (both null if it never had one) and the run that first scheduled it.
  * It is both the known-id
  * set (crawler:203-215) and the conditional-fetch cache
  * (archive.py:194-237), as the reference derives both from one archive
  * record per extension.
  *
  * A round shuffles once, as the reference shuffles its one work-list once
  * (archive.py:594) and each worker reads that extension's own etag record
  * as it fetches: the work-list's forum and discovered ids and the prior
  * `url_seen` rows go through the schedule's bucket exchange together,
  * where the rows of one id sit side by side and merge into its schedule
  * slot and its prior state. The prior rows are the round's known ids, so
  * every id in `url_seen` is recrawled and the caller does not pass them
  * back. The same rows give the next version, as the reference updates one
  * etag record per extension as it fetches (mysql_backend.py:186-199).
  * Everything is a pure function of (work-list, config, prior
  * `url_seen`), so re-runs and resumes converge (the reference's idempotent
  * tar-append/upsert discipline, archive.py:532-538, mysql_backend.py:99-104):
  * a re-run after the round's own `url_seen` commit reads the ids it
  * admitted with `firstRun = runId`, and a prior etag is an earlier run's.
  */
object Crawl {

  /** `resultRows` is the row count the results commit observed. */
  final case class RunOutput(
      scheduled: Dataset[ScheduledFetch],
      results: Dataset[FetchResult],
      resultsVersion: Int,
      seenVersion: Int,
      resultRows: Long)

  /** One crawl run over a work-list, checkpointing results + the per-id
    * state into snapshot tables under `tableDir`. */
  def run(spark: SparkSession, worklist: Worklist, cfg: CrawlConfig,
          tableDir: String): RunOutput = {
    import spark.implicits._
    val seenTable = new SnapshotTable(spark, s"$tableDir/url_seen")
    // a table written before `firstRun` was recorded reads it as 0, a run
    // before any (run ids start at 1), and its first commit stores that
    val prior = seenTable.currentVersion.map(_ => seenTable.read()).map { t =>
      t.select(col("id"), col("etag"), col("lastRun"),
        if (t.columns.contains("firstRun")) col("firstRun") else lit(0).as("firstRun"))
    }
    val ex = Politeness.cap(Politeness.exchange(spark,
      worklist.tagged.select(col("id"), lit(null).cast("string").as("host"), col("forums"), col("known")),
      prior, cfg), worklist.maxNew, cfg)
    val placed = Politeness.walk(spark, ex, cfg)
    val joined = placed.toDF().select(col("seq"), col("id"), col("fetchClass"), col("startMs"),
      col("etag").as("__etag"), col("lastRun").as("__lastRun"), col("firstRun").as("__firstRun"))

    // prior etag (T2: the conditional-fetch cache): the etag of a 200 from
    // an earlier run. A null lastRun (no 200 yet) fails the test too; the
    // bound keeps a re-run of this round, after its state commit landed,
    // from reading its own etags as prior ones
    val fetched = Fetcher.withPriorEtag(joined, cfg,
      when(col("__lastRun") < cfg.runId, col("__etag")))

    // next state, last-wins by lastRun (the reference's ON-DUP-KEY etag
    // cache, mysql_backend.py:186-199): a 200 carries (etag, runId) unless
    // the row holds a later run; any other status keeps the prior row, and a
    // new id without a 200 enters with nulls
    val won = col("status") === 200 && coalesce(col("__lastRun") <= cfg.runId, lit(true))
    // persist: the rows feed the results commit, the url_seen commit and
    // the caller — without it the walk and the fetch re-execute per use.
    // Scope-registered: released at crawl-round end
    val rows = CacheScope.persist(fetched.select(Fetcher.resultColumns ++ Seq(
      when(won, col("etag")).otherwise(col("__etag")).as("__etag"),
      when(won, lit(cfg.runId)).otherwise(col("__lastRun")).as("__lastRun"), col("__firstRun")): _*))
    val results = rows.select(Fetcher.resultColumns: _*).as[FetchResult]

    val resultsTable = new SnapshotTable(spark, s"$tableDir/fetch_results")
    // prefix-shard partition layout (ext_id[:3] sharding, config.py:117-119;
    // depth via cfg.prefixLen) + run id → partition pruning on both natural
    // access paths
    val rdf = results.withColumn("prefix", substring(col("id"), 1, cfg.prefixLen))
      .withColumn("run_id", lit(cfg.runId))
    val rv = resultsTable.commit(rdf, partitionBy = Seq("prefix", "run_id"),
      metrics = Map("run_id" -> cfg.runId.toString), observed = Fetcher.metricColumns)

    // a cached plan keeps its last shuffle's partition count, so the state
    // write merges the cached partitions to the advisory partition size, as
    // the adaptive planner does for a plan that is not cached; the results
    // commit has loaded the cache, so its size is the measured one
    val state = rows.select(col("id"), col("__etag").as("etag"), col("__lastRun").as("lastRun"),
      col("__firstRun").as("firstRun"))
    val parts = state.queryExecution.optimizedPlan.stats.sizeInBytes /
      spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) + 1
    val sv = seenTable.commit(state.coalesce(parts.min(Int.MaxValue).toInt).sortWithinPartitions("id"))

    RunOutput(Politeness.scheduled(placed), results, rv, sv, resultsTable.metricsOf(rv)("n_total").toLong)
  }

  /** The known-id set: the latest `url_seen` snapshot's ids. Its versions
    * ARE the checkpoint; a re-run of the same (frontier, cfg) produces
    * identical snapshots. */
  def seenIds(spark: SparkSession, tableDir: String): DataFrame =
    new SnapshotTable(spark, s"$tableDir/url_seen").read().select("id")
}
