package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.core._
import graft.fetch.Fetcher
import graft.scheduler.Politeness
import graft.snapshot.SnapshotTable

/** End-to-end crawl run (SURVEY.md §3.1 re-expressed Spark-first):
  * frontier → seeded-shuffle schedule under the politeness budget → fetch →
  * two snapshot commits: the run's results, then `url_seen`.
  *
  * `url_seen` is the one per-id crawl state table, `(id, etag, lastRun)`:
  * every id ever crawled, with the etag and run of its last 200 (both null
  * if it never had one). It is both the known-id set (crawler:203-215) and
  * the conditional-fetch cache (archive.py:194-237), as the reference
  * derives both from one archive record per extension. A round reads it
  * once: one full outer join of the schedule to it on id gives the fetch
  * its prior etag, and the same joined rows give the next version, as the
  * reference updates one etag record per extension as it fetches
  * (mysql_backend.py:186-199). Everything is a pure function of (frontier,
  * config, prior `url_seen`), so re-runs and resumes converge (the
  * reference's idempotent tar-append/upsert discipline, archive.py:532-538,
  * mysql_backend.py:99-104).
  */
object Crawl {

  final case class RunOutput(
      scheduled: Dataset[ScheduledFetch],
      results: Dataset[FetchResult],
      resultsVersion: Int,
      seenVersion: Int)

  /** One crawl run over a prepared frontier, checkpointing results + the
    * per-id state into snapshot tables under `tableDir`. */
  def run(spark: SparkSession, frontier: Dataset[FrontierEntry], cfg: CrawlConfig,
          tableDir: String): RunOutput = {
    import spark.implicits._
    val schedule = Politeness.schedule(spark, frontier, cfg)

    // the schedule and the prior state are both key-unique, so the join is
    // 1:1. A shuffled hash join, built on the state side, measured cheaper
    // than a sort-merge join at nightly sizes. A first crawl joins an empty
    // relation, which the optimizer folds away
    val seenTable = new SnapshotTable(spark, s"$tableDir/url_seen")
    val prior =
      (if (seenTable.currentVersion.isDefined) seenTable.read()
       else spark.emptyDataset[EtagState].toDF())
        .select(col("id"), col("etag").as("__etag"), col("lastRun").as("__lastRun"))
    val joined = schedule.toDF().drop("host").join(prior.hint("shuffle_hash"), Seq("id"), "full_outer")

    // prior etag (T2: the conditional-fetch cache): the etag of a 200 from
    // an earlier run. A null lastRun (no 200 yet) fails the test too; the
    // bound keeps a re-run of this round, after its state commit landed,
    // from reading its own etags as prior ones
    val fetched = Fetcher.withPriorEtag(joined, cfg,
      when(col("__lastRun") < cfg.runId, col("__etag")))

    // next state, last-wins by lastRun (the reference's ON-DUP-KEY etag
    // cache, mysql_backend.py:186-199): a 200 carries (etag, runId) unless
    // the row holds a later run; any other status, and a prior id that is
    // not scheduled, keeps its row, and a new id without a 200 enters with
    // nulls
    val won = col("status") === 200 && coalesce(col("__lastRun") <= cfg.runId, lit(true))
    // persist: the rows feed the results commit, the url_seen commit and
    // the caller — without it the whole schedule+join+fetch DAG re-executes
    // per use. Scope-registered: released at crawl-round end
    val rows = CacheScope.persist(fetched.select(Fetcher.resultColumns ++ Seq(
      when(won, col("etag")).otherwise(col("__etag")).as("__etag"),
      when(won, lit(cfg.runId)).otherwise(col("__lastRun")).as("__lastRun")): _*))
    val results = rows.filter(col("seq").isNotNull).select(Fetcher.resultColumns: _*).as[FetchResult]

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
    val state = rows.select(col("id"), col("__etag").as("etag"), col("__lastRun").as("lastRun"))
    val parts = state.queryExecution.optimizedPlan.stats.sizeInBytes /
      spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) + 1
    val sv = seenTable.commit(state.coalesce(parts.min(Int.MaxValue).toInt).sortWithinPartitions("id"))

    RunOutput(schedule, results, rv, sv)
  }

  /** The known-id set: the latest `url_seen` snapshot's ids. Its versions
    * ARE the checkpoint; a re-run of the same (frontier, cfg) produces
    * identical snapshots. */
  def seenIds(spark: SparkSession, tableDir: String): DataFrame =
    new SnapshotTable(spark, s"$tableDir/url_seen").read().select("id")
}
