package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  * derives both from one archive record per extension. Everything is a pure
  * function of (frontier, config, prior `url_seen`), so re-runs and resumes
  * converge (the reference's idempotent tar-append/upsert discipline,
  * archive.py:532-538, mysql_backend.py:99-104).
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

    // prior ETags (T2: the conditional-fetch cache): ids whose last 200 came
    // from an earlier run. A null lastRun (no 200 yet) fails the test too;
    // the bound keeps a re-run of this round, after its state commit
    // landed, from reading its own etags as prior ones
    val seenTable = new SnapshotTable(spark, s"$tableDir/url_seen")
    val priorState: Dataset[EtagState] =
      if (seenTable.currentVersion.isDefined)
        seenTable.read().filter(col("lastRun") < cfg.runId).as[EtagState]
      else spark.emptyDataset[EtagState]

    // persist: results feed three consumers (results commit, url_seen
    // merge, caller) — without it the whole schedule+fetch DAG re-executes
    // per use. Scope-registered: released at crawl-round end.
    val results = graft.core.CacheScope.persist(
      Fetcher.runWithState(spark, schedule, cfg, priorState))

    val resultsTable = new SnapshotTable(spark, s"$tableDir/fetch_results")
    // prefix-shard partition layout (ext_id[:3] sharding, config.py:117-119;
    // depth via cfg.prefixLen) + run id → partition pruning on both natural
    // access paths
    val rdf = results.withColumn("prefix", substring(col("id"), 1, cfg.prefixLen))
      .withColumn("run_id", lit(cfg.runId))
    val rv = resultsTable.commit(rdf, partitionBy = Seq("prefix", "run_id"),
      metrics = Map("run_id" -> cfg.runId.toString), observed = Fetcher.metricColumns)

    // state MERGE (the reference's ON-DUP-KEY etag cache,
    // mysql_backend.py:186-199): every result row upserts its id; a 200
    // carries (etag, runId), anything else nulls, which sort last, so the
    // prior row wins and a new non-200 id enters with nulls. Results carry
    // one row per frontier id (the frontier is a set), so the update batch
    // is key-unique → cold-start commits skip the merge shuffle
    val ok = col("status") === 200
    val updates = results.toDF()
      .select(col("id"), when(ok, col("etag")).as("etag"), when(ok, lit(cfg.runId)).as("lastRun"))
    val sv = graft.etl.Etl.mergeUpsert(spark, seenTable, updates,
      keyCols = Seq("id"), versionCol = "lastRun", updatesUniqueByKey = true)

    RunOutput(schedule, results, rv, sv)
  }

  /** The known-id set: the latest `url_seen` snapshot's ids. Its versions
    * ARE the checkpoint; a re-run of the same (frontier, cfg) produces
    * identical snapshots. */
  def seenIds(spark: SparkSession, tableDir: String): DataFrame =
    new SnapshotTable(spark, s"$tableDir/url_seen").read().select("id")
}
