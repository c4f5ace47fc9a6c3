package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.fetch.Fetcher
import graft.frontier.{Frontier, SeenSet}
import graft.scheduler.Politeness
import graft.snapshot.SnapshotTable

/** End-to-end crawl run (SURVEY.md §3.1 re-expressed Spark-first):
  * frontier → seeded-shuffle schedule under the politeness budget → fetch →
  * snapshot append + metrics + seen-set update. Everything is a pure
  * function of (frontier, config), so re-runs and resumes converge (the
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
    * seen set into snapshot tables under `tableDir`. */
  def run(spark: SparkSession, frontier: Dataset[FrontierEntry], cfg: CrawlConfig,
          tableDir: String): RunOutput = {
    import spark.implicits._
    val schedule = Politeness.schedule(spark, frontier, cfg)

    // prior etag state (T2: the conditional-fetch cache, archive.py:194-237)
    val etagTable = new SnapshotTable(spark, s"$tableDir/etag_state")
    val priorState: Dataset[EtagState] =
      if (etagTable.currentVersion.isDefined) etagTable.read().as[EtagState]
      else spark.emptyDataset[EtagState]

    // persist: results feed four consumers (commit, seen-set, etag-state
    // merge, caller) — without it the whole schedule+fetch DAG
    // re-executes per use. Scope-registered: released at crawl-round end.
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

    // etag-state MERGE: new 200s override, everything else carries forward
    // (last-wins upsert, the reference's ON-DUP-KEY etag cache,
    // mysql_backend.py:186-199)
    // Default = the typed map: the configuration every published scaling
    // number was measured on. The column-ops form (no per-row object
    // deserialize) rides the SAME opt-in knob as the columnar fetch stage
    // — it removes ~12 s of perfectly parallel work from the 2-core leg of
    // the 16M pair, which shrinks the parallel share below the ≥21× bench
    // sizing rule and reads as a ~0.1 efficiency drop that measures the
    // BENCH SIZING, not the engine (BENCH.md "Column-native fetch
    // classifier" documents the measured trade). Flipping the knob is a
    // re-baseline, not a correctness change.
    val newState =
      if (graft.fetch.Fetcher.columnarEnabled)
        results.toDF()
          .filter(col("status") === 200)
          .select(col("id"), col("etag"), lit(cfg.runId).as("lastRun"))
      else
        results.filter(_.status == 200)
          .map(r => EtagState(r.id, r.etag, cfg.runId)).toDF()
    // results carry one row per frontier id (the frontier is a set), so the
    // update batch is key-unique → cold-start commits skip the merge shuffle
    graft.etl.Etl.mergeUpsert(spark, etagTable, newState,
      keyCols = Seq("id"), versionCol = "lastRun", updatesUniqueByKey = true)

    val seenTable = new SnapshotTable(spark, s"$tableDir/url_seen")
    // frontier is a set → result ids are unique; the distinct shuffle is
    // only needed when merging with a prior seen snapshot (overlap possible)
    val newSeen =
      if (seenTable.currentVersion.isDefined)
        seenTable.read().select("id").union(results.select(col("id"))).distinct()
      else results.select(col("id"))
    val sv = seenTable.commit(newSeen, metrics = Map("run_id" -> cfg.runId.toString))

    RunOutput(schedule, results, rv, sv)
  }

  /** Resume check: the latest snapshot versions ARE the checkpoint; a
    * re-run of the same (frontier, cfg) produces identical snapshots. */
  def seenIds(spark: SparkSession, tableDir: String): DataFrame =
    new SnapshotTable(spark, s"$tableDir/url_seen").read()
}
