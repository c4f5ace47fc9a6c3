package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Crawl, SparkSpec}
import graft.core.{CrawlConfig, Ids}
import graft.frontier.Frontier
import graft.snapshot.SnapshotTable

/** The composed crawler → tar-archive → create-db chain over REAL crawl
  * runs: each run commits its archive generation (only that run's 200s, at
  * the content version the fetch saw), the full archive is the union of
  * generations, and the rebuilt store equals the per-run incremental loads
  * (database/README.md:63-69 exercised across genuine run boundaries —
  * etag windows, refetches and all). */
class CrawlToDbSpec extends SparkSpec {
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("crawlDateOf is a real rolled calendar, lexicographic for any run count") {
    // f"2024-02-$runId%02d" broke both properties: out-of-calendar days past
    // 28 and '2024-02-100' < '2024-02-99' lexicographically, which silently
    // excluded runs from the string-compared rebuild window
    val dates = (1 to 120).map(CrawlToDb.crawlDateOf)
    assert(dates === dates.sorted, "ISO dates stay lexicographic past run 99")
    assert(dates.distinct.size === dates.size)
    assert(dates.head === "2024-02-01" && dates(28) === "2024-02-29")
    dates.foreach(d => java.time.LocalDate.parse(d)) // every one a valid date
  }

  test("crawl runs commit archive generations; rebuild == incremental loads; revisions flow") {
    val dir = tempDir("graft_crawltodb")
    val runs = 3
    val per200 = scala.collection.mutable.Map.empty[Int, Long]
    (1 to runs).foreach { runId =>
      graft.core.CacheScope.withScope {
        val haveSeen =
          new SnapshotTable(spark, s"$dir/url_seen").currentVersion.isDefined
        val existing =
          if (haveSeen) Crawl.seenIds(spark, dir).as[String]
          else spark.emptyDataset[String]
        // rolling discovery window: later runs REFETCH the known set (the
        // nightly discipline) plus discover fresh ids
        val lo = (runId - 1) * 100
        val discovered = spark.createDataset(
          (lo until lo + 200).map(i => Ids.syntheticId(i.toLong)))
        val forum = spark.createDataset(
          (lo until lo + 200 by 41).map(i => Ids.syntheticId(i.toLong)))
        val frontier = Frontier.buildWorklist(spark, existing, forum, discovered,
          maxNew = 1000, runId = runId)
        val out = Crawl.run(spark, frontier, CrawlConfig(runId = runId, prefixLen = 1), dir)
        per200(runId) = out.results.filter(_.status == 200).count()
        CrawlToDb.commitRunArchive(spark, dir, out.results, runId)
      }
    }

    // each generation holds exactly that run's 200s, dated by the run
    val t = CrawlToDb.archiveTable(spark, dir)
    assert(t.versions === Seq(1, 2, 3))
    (1 to runs).foreach { v =>
      val gen = CrawlToDb.readGeneration(spark, dir, v)
      assert(gen.count() === per200(v))
      assert(gen.select("crawl_date").distinct().collect().map(_.getString(0)).toSeq
        === Seq(CrawlToDb.crawlDateOf(v)))
    }

    // the composed rebuild == per-run incremental mergeUpsert loads
    val archive = CrawlToDb.fullArchive(spark, dir)
    val rebuilt = CrawlToDb.rebuildFromCrawl(spark, dir,
      CrawlToDb.crawlDateOf(1), CrawlToDb.crawlDateOf(runs + 1))
    val outDir = tempDir("graft_crawltodb_inc")
    val tabs = Map(
      "overview" -> new SnapshotTable(spark, s"$outDir/overview"),
      "tokens" -> new SnapshotTable(spark, s"$outDir/tokens"),
      "annotations" -> new SnapshotTable(spark, s"$outDir/annotations"))
    (1 to runs).foreach { v =>
      val day = CreateDb.rebuild(CrawlToDb.readGeneration(spark, dir, v))
      Etl.mergeUpsert(spark, tabs("overview"),
        day.overview.withColumn("__v", lit(1)), CreateDb.Keys, "__v")
      Etl.mergeUpsert(spark, tabs("tokens"),
        day.tokens.withColumn("__v", lit(1)), CreateDb.Keys :+ "token_md5", "__v")
      Etl.mergeUpsert(spark, tabs("annotations"),
        day.annotations.withColumn("__v", lit(1)),
        CreateDb.Keys ++ Seq("author", "commentmd5"), "__v")
    }
    assert(sorted(tabs("overview").read().drop("__v")) === sorted(rebuilt.overview))
    assert(sorted(tabs("tokens").read().drop("__v")) === sorted(rebuilt.tokens))
    assert(sorted(tabs("annotations").read().drop("__v")) === sorted(rebuilt.annotations))
    // comments dedup content ACROSS crawls (global n_refs recount — same
    // convention CreateDbSpec pins for the synthetic archive)
    assert(sorted(Etl.commentTableFrom(archive, CreateDb.Keys)) === sorted(rebuilt.comments))

    // content revisions flow: some id fetched 200 in two runs at DIFFERENT
    // content versions must contribute two distinct texts → its version
    // token differs per crawl_date in the token child table
    val versioned = archive
      .groupBy("doc_id").agg(countDistinct("text").as("nv"))
      .filter(col("nv") >= 2)
    assert(versioned.count() > 0, "the run window must produce real revisions")
    val someDoc = versioned.select("doc_id").orderBy("doc_id").head().getLong(0)
    val vTokens = rebuilt.tokens
      .filter(col("doc_id") === someDoc && col("token").rlike("^v[0-9]+$"))
      .select("crawl_date", "token").distinct().collect()
    assert(vTokens.map(_.getString(1)).distinct.length >= 2,
      "a revised doc's version token must differ across its crawls")

    // time travel: rebuilding as of generation 2 equals rebuilding from
    // runs 1-2 only
    val asOf2 = CrawlToDb.rebuildFromCrawl(spark, dir,
      CrawlToDb.crawlDateOf(1), CrawlToDb.crawlDateOf(runs + 1), untilVersion = Some(2))
    val firstTwo = CreateDb.rebuild(CrawlToDb.readGeneration(spark, dir, 1)
      .unionByName(CrawlToDb.readGeneration(spark, dir, 2)))
    assert(sorted(asOf2.overview) === sorted(firstTwo.overview))
    assert(sorted(asOf2.tokens) === sorted(firstTwo.tokens))
  }
}
