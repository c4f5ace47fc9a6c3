package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.core.{FetchResult, Ids}
import graft.fetch.{Fetcher, Payload}
import graft.scheduler.Politeness
import graft.snapshot.SnapshotTable

/** create-db over the CRAWLER'S OWN committed archive — the reference's
  * actual end-to-end flow (crawler appends each night's fetches to the tar
  * archive, create-db:57-87 later rescans the tars into the DB), composed
  * from this engine's components instead of a synthesized archive.
  *
  * Each crawl run commits ONE archive generation: the payload text of that
  * run's 200-fetches at the content version the fetch saw (a 304 archives
  * nothing — exactly the tar discipline, archive.py:305-348), dated by the
  * run and partitioned by crawl_date. The full archive is the union of all
  * generations (the "scan every tar" read path, S8), and
  * [[rebuildFromCrawl]] feeds it through the same [[CreateDb.rebuild]] the
  * synthetic-archive path uses — so the database/README.md:63-69 invariant
  * (store rebuilt from the archive == store built by nightly loads) is
  * exercised over REAL run boundaries, etag windows and all.
  *
  * Scale: a run's commit writes only that run's delta (O(night), like the
  * tar append); the rebuild reads all generations once, partition-pruned by
  * the date window.
  */
object CrawlToDb {

  def archiveTable(spark: SparkSession, tableDir: String): SnapshotTable =
    new SnapshotTable(spark, s"$tableDir/crawl_archive")

  /** The synthetic calendar: run N crawls on the Nth day from 2024-02-01 —
    * a REAL rolled calendar (not `2024-02-NN`, which leaves the month past
    * day 28 and breaks lexicographic ordering at runId ≥ 99: '2024-02-100'
    * sorts BELOW '2024-02-99', silently excluding runs from the
    * string-compared rebuild window). ISO dates stay lexicographic for any
    * run count. */
  def crawlDateOf(runId: Int): String =
    java.time.LocalDate.of(2024, 2, 1).plusDays((runId - 1).toLong).toString

  /** What run `runId` tars: one archive row per 200-fetch — the payload
    * caption at the content version this fetch observed, keyed by a stable
    * numeric doc id (the child-table derivations compute on `doc_id`).
    * Typed map, no shuffle: archive text is a pure function of (id, run). */
  def archiveRowsFromRun(spark: SparkSession, results: Dataset[FetchResult],
                         runId: Int): DataFrame = {
    import spark.implicits._
    results.filter(_.status == 200).map { r =>
      // full-width (sign-cleared) 63-bit hash: a mod-1e9 truncation would
      // make distinct crawl ids collide with certainty at the 10^8-10^10 id
      // scale this module targets (birthday bound), silently merging their
      // archive rows in every rebuilt child table
      val docId = Ids.mix64(Politeness.strHash64(r.id, 3L)) & Long.MaxValue
      val text = s"${Payload.captionFor(r.id)} v${Fetcher.contentVersion(r.id, runId)}"
      (docId, text)
    }.toDF("doc_id", "text")
      // constant columns as literals: the commit sees a single partition
      // value and writes without a rebalance shuffle
      .withColumn("source", lit("crawl"))
      .withColumn("crawl_date", lit(crawlDateOf(runId)))
  }

  /** Commit run `runId`'s archive generation (the tar append). */
  def commitRunArchive(spark: SparkSession, tableDir: String,
                       results: Dataset[FetchResult], runId: Int): Int =
    archiveTable(spark, tableDir).commit(
      archiveRowsFromRun(spark, results, runId),
      partitionBy = Seq("crawl_date"),
      metrics = Map("run_id" -> runId.toString))

  /** One committed generation, with `crawl_date` back as the STRING the
    * engine's lexicographic date windows compare on (partition-column type
    * inference reads the partition dir back as DATE otherwise). */
  def readGeneration(spark: SparkSession, tableDir: String, v: Int): DataFrame =
    archiveTable(spark, tableDir).read(Some(v))
      .withColumn("crawl_date",
        org.apache.spark.sql.functions.col("crawl_date").cast("string"))

  /** The tar-generations scan: every committed generation up to
    * `untilVersion` (latest by default) unioned — each version holds one
    * run's delta, so this is the whole archive as of that generation
    * (time travel: pass an older version to rebuild a historical store). */
  def fullArchive(spark: SparkSession, tableDir: String,
                  untilVersion: Option[Int] = None): DataFrame = {
    val t = archiveTable(spark, tableDir)
    val vs = t.versions.filter(v => untilVersion.forall(v <= _))
    require(vs.nonEmpty, s"no committed crawl archive in $tableDir")
    vs.map(v => readGeneration(spark, tableDir, v)).reduce(_ unionByName _)
  }

  /** The composed rebuild: crawl archive generations → date slice → the
    * same one-pass child-table derivation the synthetic path uses. */
  def rebuildFromCrawl(spark: SparkSession, tableDir: String,
                       from: String, until: String,
                       untilVersion: Option[Int] = None): CreateDb.ChildTables =
    CreateDb.rebuild(
      CreateDb.slice(fullArchive(spark, tableDir, untilVersion), from, until))
}
