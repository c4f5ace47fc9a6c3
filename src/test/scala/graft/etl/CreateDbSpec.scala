package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.snapshot.SnapshotTable

/** The create-db invariant (database/README.md:63-69): the store rebuilt
  * from the golden archive in one composed pass equals the store built by
  * nightly incremental loads — per table, per row. */
class CreateDbSpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("rebuild equals the incrementally-built store (all four tables)") {
    val from = "2024-01-05"; val until = "2024-01-20"
    val archive = CreateDb.slice(CreateDb.archiveRows(spark, sf0001), from, until)

    // incremental path: one mergeUpsert per crawl_date, in date order —
    // the nightly loads (crawler:… global_update nightly batch)
    val outDir = tempDir("graft_createdb_inc")
    val dates = archive.select("crawl_date").distinct()
      .collect().map(_.getString(0)).sorted
    assert(dates.length > 3, "window must span several crawl dates")
    val tabs = Map(
      "overview" -> new SnapshotTable(spark, s"$outDir/overview"),
      "tokens" -> new SnapshotTable(spark, s"$outDir/tokens"),
      "annotations" -> new SnapshotTable(spark, s"$outDir/annotations"),
      "comments" -> new SnapshotTable(spark, s"$outDir/comments"))
    dates.foreach { d =>
      val day = archive.filter(col("crawl_date") === d)
      val t = CreateDb.rebuild(day)
      Etl.mergeUpsert(spark, tabs("overview"),
        t.overview.withColumn("__v", lit(1)), CreateDb.Keys, "__v")
      Etl.mergeUpsert(spark, tabs("tokens"),
        t.tokens.withColumn("__v", lit(1)), CreateDb.Keys :+ "token_md5", "__v")
      Etl.mergeUpsert(spark, tabs("annotations"),
        t.annotations.withColumn("__v", lit(1)),
        CreateDb.Keys ++ Seq("author", "commentmd5"), "__v")
      // comments dedup by content hash ACROSS crawls: merge is last-wins on
      // commentmd5 but n_refs must ACCUMULATE — recompute from scratch over
      // everything seen so far, as the reference's count does implicitly
      day.unpersist()
    }
    // comment table is a global aggregate (n_refs across all crawls) — the
    // incremental analog recomputes it over the union of processed days
    Etl.mergeUpsert(spark, tabs("comments"),
      Etl.commentTableFrom(archive, CreateDb.Keys).withColumn("__v", lit(1)),
      Seq("commentmd5"), "__v", updatesUniqueByKey = true)

    // rebuild path: one composed pass
    val rebuilt = CreateDb.rebuild(archive)

    assert(sorted(tabs("overview").read().drop("__v")) === sorted(rebuilt.overview))
    assert(sorted(tabs("tokens").read().drop("__v")) === sorted(rebuilt.tokens))
    assert(sorted(tabs("annotations").read().drop("__v")) === sorted(rebuilt.annotations))
    assert(sorted(tabs("comments").read().drop("__v")) === sorted(rebuilt.comments))
  }

  test("date window is lexicographic and selects per-(doc, crawl) rows") {
    val all = CreateDb.archiveRows(spark, sf0001)
    val s = CreateDb.slice(all, "2024-01-05", "2024-01-20")
    val outside = s.filter(col("crawl_date") < "2024-01-05" || col("crawl_date") >= "2024-01-20")
    assert(outside.count() === 0)
    // docs with doc_id%14 == 4 have BOTH crawls in-window (days 05 and 19)
    val both = s.filter(col("doc_id") % 14 === 4).groupBy("doc_id").count()
    assert(both.filter(col("count") =!= 2).count() === 0)
    assert(both.count() > 0)
    // and every doc appears at least once
    assert(s.select("doc_id").distinct().count() === all.select("doc_id").distinct().count())
  }

  test("revised crawl bodies flow into the child tables (per-crawl rows differ)") {
    val t = CreateDb.rebuild(
      CreateDb.slice(CreateDb.archiveRows(spark, sf0001), "2024-01-01", "2024-02-01"))
    // a doc's two crawls tokenize differently ('rev2' appears only in crawl 2)
    val rev2 = t.tokens.filter(col("token") === "rev2")
    assert(rev2.count() > 0)
    assert(rev2.select("crawl_date").distinct().collect()
      .forall(_.getString(0) >= "2024-01-15"))
  }
}
