package graft

import org.apache.spark.sql.SparkSession

import graft.etl.{CrawlToDb, CreateDb}
import graft.snapshot.SnapshotTable

/** The `create-db` entry point: rebuild the relational store from the
  * committed golden archive in one job (create-db:57-87,147-152).
  *
  * Usage:
  *   runMain graft.CreateDbMain <sfDir> <workDir> [fromDate] [untilDate]
  *   runMain graft.CreateDbMain --from-crawl <workDir> [numIds] [runs]
  *
  * Default mode commits the synthetic archive as a crawl_date-partitioned
  * snapshot table (so the date window prunes partitions), reads it BACK
  * through the snapshot layer (the rebuild must start from the committed
  * archive, not the in-memory frame — the whole point of the invariant),
  * rebuilds the four child tables in one pass, and MERGE-commits each under
  * `<workDir>/db`. Prints one summary line per table.
  *
  * `--from-crawl` runs the REAL pipeline end to end instead: `runs` crawl
  * rounds (frontier build → politeness schedule → etag-conditional fetch →
  * snapshot commits), each round also committing its archive generation
  * ([[CrawlToDb.commitRunArchive]] — the tar append), then rebuilds the
  * child tables from those committed generations. The reference's actual
  * crawler → tar archive → create-db chain, in one command. */
object CreateDbMain {
  def main(args: Array[String]): Unit = {
    val fromCrawl = args.headOption.contains("--from-crawl")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-create-db")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (fromCrawl) runFromCrawl(spark, args.drop(1)) else runSynthetic(spark, args)
    } finally spark.stop()
  }

  private def runSynthetic(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_createdb").toString
    val from = if (args.length > 2) args(2) else "2024-01-05"
    val until = if (args.length > 3) args(3) else "2024-01-20"
    val archive = new SnapshotTable(spark, s"$workDir/archive")
    archive.commit(CreateDb.archiveRows(spark, sfDir), partitionBy = Seq("crawl_date"))
    val tables = CreateDb.rebuild(
      CreateDb.slice(archive.read(), from, until))
    commitAndReport(spark, s"$workDir/db", tables)
  }

  private def runFromCrawl(spark: SparkSession, args: Array[String]): Unit = {
    import spark.implicits._
    import graft.core.{CrawlConfig, Ids}
    import graft.frontier.{Frontier => FrontierOps}
    val workDir = args.headOption
      .getOrElse(java.nio.file.Files.createTempDirectory("graft_crawldb").toString)
    val numIds = if (args.length > 1) args(1).toInt else 2000
    val runs = if (args.length > 2) args(2).toInt else 3
    (1 to runs).foreach { runId =>
      val cfg = CrawlConfig(runId = runId, prefixLen = 1)
      graft.core.CacheScope.withScope {
        val haveSeen =
          new snapshot.SnapshotTable(spark, s"$workDir/url_seen").currentVersion.isDefined
        val existing =
          if (haveSeen) Crawl.seenIds(spark, workDir).as[String]
          else spark.emptyDataset[String]
        // a rolling window of ids so later runs mix refetches (etag/304
        // paths) with fresh discoveries, like a nightly store crawl
        val lo = (runId - 1) * numIds / 2
        val discovered = spark.range(lo, lo + numIds).map(i => Ids.syntheticId(i))
        val forum = spark.range(lo, lo + numIds, 41).map(i => Ids.syntheticId(i))
        val frontier = FrontierOps.buildWorklist(spark, existing, forum, discovered,
          maxNew = numIds, runId = runId)
        val out = Crawl.run(spark, frontier, cfg, workDir)
        val av = CrawlToDb.commitRunArchive(spark, workDir, out.results, runId)
        // scalastyle:off println
        println(s"[create-db] crawl run=$runId fetched=${out.resultRows} archive_v=$av")
        // scalastyle:on println
      }
    }
    val tables = CrawlToDb.rebuildFromCrawl(spark, workDir,
      from = CrawlToDb.crawlDateOf(1), until = CrawlToDb.crawlDateOf(runs + 1))
    commitAndReport(spark, s"$workDir/db", tables)
  }

  private def commitAndReport(spark: SparkSession, dbDir: String,
                              tables: CreateDb.ChildTables): Unit = {
    val versions = CreateDb.commitAll(spark, dbDir, tables)
    Seq("overview" -> tables.overview, "tokens" -> tables.tokens,
      "annotations" -> tables.annotations, "comments" -> tables.comments)
      .foreach { case (name, df) =>
        // scalastyle:off println
        println(s"[create-db] $name: rows=${df.count()} v=${versions(name)}")
        // scalastyle:on println
      }
  }
}
