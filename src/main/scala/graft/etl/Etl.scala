package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.snapshot.SnapshotTable

/** Archive→relational ETL idioms (SURVEY §1.3, §2.1 S10, §2.4 A6-A8).
  *
  * The reference explodes nested manifest/review JSON into child tables keyed
  * by content hash (db.py:236-252, 300-329; md5-PK dedup db.py:195,240-251)
  * and upserts with last-wins ON-DUPLICATE-KEY batches sorted by PK
  * (mysql_backend.py:78-108,181-193). Spark-first: `explode` + `md5` PKs +
  * window-argmax MERGE, with `sortWithinPartitions(pk)` before the sink
  * (the deadlock-avoidance sort becomes write-locality, O6).
  */
object Etl {

  /** Exploded child table: token rows per document with content-hash PK —
    * the permissions[]-explode analog (db.py:236-252). Dedup by
    * (doc_id, token_md5) exactly like the reference's (crx_etag,
    * permission_md5) PK (permission.sql:23-29). */
  def tokenChildTable(spark: SparkSession, dir: String): DataFrame =
    // spread: the explode+md5 mint below multiplies the single-row-group
    // scan ~50× before its dedup exchange (Tables.spread doc); the crawl-
    // path caller (tokenChildTableFrom) keeps its source's partitioning
    tokenChildTableFrom(Tables.spread(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id")))

  /** Source-parameterized token explode — `keyCols` are the PK columns to
    * carry (doc_id for the catalog query; (doc_id, crawl_date) when the
    * composed create-db rebuild derives per-crawl child rows). */
  def tokenChildTableFrom(df: DataFrame, keyCols: Seq[String] = Seq("doc_id")): DataFrame =
    df
      .select(keyCols.map(col) :+ explode(split(trim(col("text")), "\\s+")).as("token"): _*)
      .filter(length(col("token")) > 0)
      .select(keyCols.map(col) :+ md5(col("token")).as("token_md5") :+ col("token"): _*)
      .dropDuplicates(keyCols :+ "token_md5")

  /** Corpus-wide token frequency — exploded rollup over the child table. */
  def wordFrequency(spark: SparkSession, dir: String, minCount: Long = 5): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** MERGE-style last-wins upsert semantics (A8, mysql_backend.py:99-104
    * ON-DUP-KEY + etag LRU 186-199): latest value per (user_id, event_type)
    * key — one window pass, ties broken by event_id for determinism. */
  def lastWins(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "value")
  }

  /** Apply a batch of upserts into a snapshot table: MERGE = union old+new,
    * keep newest per key (last-wins), sort within partitions by PK before
    * the write (O6). Returns the committed version. Idempotent: re-applying
    * the same batch converges (T6). A null version sorts last, so it never
    * replaces a row that has one. */
  def mergeUpsert(spark: SparkSession, table: SnapshotTable, updates: DataFrame,
                  keyCols: Seq[String], versionCol: String,
                  updatesUniqueByKey: Boolean = false): Int = {
    val prev: Option[DataFrame] = table.currentVersion.map(_ => table.read())
    val merged = (prev, updatesUniqueByKey) match {
      // first commit of key-unique updates: nothing to merge against — skip
      // the window shuffle entirely (the common cold-start path)
      case (None, true) =>
        updates.sortWithinPartitions(keyCols.map(col): _*)
      case _ =>
        val all = prev.map(_.unionByName(updates)).getOrElse(updates)
        val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(versionCol).desc)
        all
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__rn")
          .sortWithinPartitions(keyCols.map(col): _*)
    }
    table.commit(merged)
  }

  /** Deterministic padded review-JSON payload per document — the shape of
    * the reference's paged review responses: Google anti-XSSI junk prefix
    * (stripped with `content[find('{"'):]`, db.py:300-304) + an
    * `annotations` array; every third document repeats its annotation so the
    * commentmd5 dedup (review.sql:23-35 PK) has real work. Built from
    * `documents` columns so a SQL oracle constructs the identical bytes. */
  private def reviewPayload = {
    val comment = substring(regexp_replace(lower(col("text")), "[^a-z ]", ""), 1, 24)
    val ann = concat(
      lit("{\"author\":\"u"), (col("doc_id") % 7).cast("string"),
      lit("\",\"comment\":\""), comment,
      lit("\",\"rating\":"), (col("doc_id") % 5 + 1).cast("string"), lit("}"))
    concat(lit(")]}'\n{\"annotations\":["), ann,
      when(col("doc_id") % 3 === 0, concat(lit(","), ann)).otherwise(lit("")),
      lit("]}"))
  }

  private val annSchema =
    "STRUCT<annotations: ARRAY<STRUCT<author: STRING, comment: STRING, rating: INT>>>"

  /** Exploded annotation rows: padding-slice → from_json → explode — the
    * review/support child-table ETL (db.py:300-329, F9's raw_decode
    * pre-slice idiom preserved as instr+substring). */
  private[etl] def annotationRowsFrom(df: DataFrame,
                                      keyCols: Seq[String] = Seq("doc_id")): DataFrame =
    df
      .select(keyCols.map(col) :+ reviewPayload.as("payload"): _*)
      .withColumn("body", expr("substring(payload, instr(payload, '{\"'))"))
      .withColumn("a", explode(from_json(col("body"), lit(annSchema)).getField("annotations")))
      .select(keyCols.map(col) :+ col("a.author").as("author") :+
        col("a.comment").as("comment") :+ col("a.rating").as("rating"): _*)

  private def annotationRows(spark: SparkSession, dir: String): DataFrame =
    annotationRowsFrom(Tables.documents(spark, dir))

  /** Review child table (review.sql:23-35 shape): one row per (doc, author,
    * commentmd5), duplicates collapsed by the content-hash PK. */
  def annotationsExplode(spark: SparkSession, dir: String): DataFrame =
    annotationsExplodeFrom(Tables.documents(spark, dir))

  def annotationsExplodeFrom(df: DataFrame,
                             keyCols: Seq[String] = Seq("doc_id")): DataFrame =
    annotationRowsFrom(df, keyCols)
      .withColumn("commentmd5", md5(col("comment")))
      .distinct()

  /** Comment content table (review_comment.sql:23-28): comment text keyed by
    * its md5, with the reference count across all annotation rows. */
  def commentTable(spark: SparkSession, dir: String): DataFrame =
    commentTableFrom(Tables.documents(spark, dir))

  def commentTableFrom(df: DataFrame,
                       keyCols: Seq[String] = Seq("doc_id")): DataFrame =
    annotationRowsFrom(df, keyCols)
      .groupBy(md5(col("comment")).as("commentmd5"))
      .agg(min("comment").as("comment"), count(lit(1)).as("n_refs"))

  /** Synthetic overview-HTML per document, built only from `documents`
    * columns so a SQL oracle constructs the identical page. Shape mirrors
    * what db.py:100-187 scrapes: itemprop metas, a version span, a
    * comma-formatted user count, category anchors, a description div.
    * Every 7th document omits its rating (the null-handling path). */
  // Arithmetic over doc_id is written mod-first (d % 1000 * 3, not d * 3 %
  // 1000 — same value by modular identity; users is display-only) so the
  // synthesis stays total over FULL-WIDTH 63-bit ids: the crawl->archive
  // pipeline (CrawlToDb) hashes crawl ids to doc_id, and an ANSI-mode long
  // overflow there would kill the rebuild job.
  private def overviewHtml = concat(
    lit("<meta itemprop=\"name\" content=\"Doc "), col("doc_id").cast("string"), lit("\"/>"),
    lit("<span class=\"version\">"), (col("doc_id") % 9).cast("string"),
    lit("."), (col("doc_id") % 5).cast("string"), lit("</span>"),
    when(col("doc_id") % 7 === 0, lit("")).otherwise(concat(
      lit("<meta itemprop=\"ratingValue\" content=\""), (col("doc_id") % 5).cast("string"),
      lit("."), (col("doc_id") % 10).cast("string"), lit("\"/>"))),
    lit("<meta itemprop=\"ratingCount\" content=\""), (col("doc_id") % 1000 * 3 % 1000).cast("string"), lit("\"/>"),
    lit("<span class=\"users\">"), format_number(col("doc_id") % 1000000 * 977 + 1000, 0), lit(" users</span>"),
    lit("<a class=\"category\" href=\"/cat/"), col("source"), lit("\">x</a>"),
    lit("<meta itemprop=\"applicationCategory\" content=\"cat_"), (col("doc_id") % 4).cast("string"), lit("\"/>"),
    lit("<div class=\"desc\">"), substring(regexp_replace(col("text"), "[<>\"]", ""), 1, 40), lit("</div>"))

  /** P8 — the 8-field overview metadata projection (db.py:100-187): one
    * regexp_extract per field over the page, empty match → NULL (the
    * reference's None), downloads de-comma'd before the numeric cast
    * (db.py:126-130), rating/count cast to their numeric types. The single
    * most-used ETL step in the reference, as one codegen'd projection. */
  def overviewMetadata(spark: SparkSession, dir: String): DataFrame =
    overviewMetadataFrom(Tables.documents(spark, dir))

  def overviewMetadataFrom(df: DataFrame,
                           keyCols: Seq[String] = Seq("doc_id")): DataFrame = {
    def ex(re: String) = nullif(regexp_extract(col("html"), re, 1), lit(""))
    df
      .select(keyCols.map(col) :+ overviewHtml.as("html"): _*)
      .select(keyCols.map(col) ++ Seq(
        ex("<meta itemprop=\"name\" content=\"([^\"]*)\"").as("name"),
        ex("<span class=\"version\">([^<]*)").as("version"),
        ex("<meta itemprop=\"ratingValue\" content=\"([^\"]*)\"").cast("double").as("rating"),
        ex("<meta itemprop=\"ratingCount\" content=\"([^\"]*)\"").cast("int").as("ratingcount"),
        regexp_replace(ex("<span class=\"users\">([0-9,]+) users"), ",", "")
          .cast("long").as("downloads"),
        ex("<a class=\"category\" href=\"/cat/([^\"]*)\"").as("category"),
        ex("<meta itemprop=\"applicationCategory\" content=\"([^\"]*)\"").as("item_category"),
        ex("<div class=\"desc\">([^<]*)").as("description")): _*)
  }

  /** F7 — the reference's non-standard ISO-offset truncation convention
    * `convert_date = date[:-6]` (mysql_backend.py:209-210): drop the
    * trailing `+00:00` BY LENGTH, not by parsing, then parse the naive
    * stamp. Preserved faithfully as substring(1, len-6). */
  def dateTruncationConvention(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        concat(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"), lit("+00:00")).as("iso"))
      .withColumn("convert_date", expr("substring(iso, 1, length(iso) - 6)"))
      .withColumn("parsed", to_timestamp(col("convert_date"), "yyyy-MM-dd'T'HH:mm:ss"))

  /** The reference's `_small` 1/256 sampling convention
    * (database/views/extension_small.sql:30: `extid like 'aa%'`, two chars
    * of a 16-char alphabet): deterministic content-derived sample for query
    * testing. `chars` scales the rate (2 → 1/256 like the reference; 1 →
    * 1/16 for corpora too small to survive 1/256). */
  def smallView(df: DataFrame, idCol: String, chars: Int = 2): DataFrame =
    df.filter(substring(md5(col(idCol).cast("string")), 1, chars) === "a" * chars)

  /** Version-set reconciliation (U4, cdnjs_crawler.py:91-101,168-180):
    * full outer join of local vs upstream key sets, coalesce into one key
    * column with presence flags — "outphased" keys (local-only) preserved. */
  def reconcile(local: DataFrame, upstream: DataFrame, keyCol: String): DataFrame = {
    val l = local.select(col(keyCol).as("lk")).distinct()
    val u = upstream.select(col(keyCol).as("uk")).distinct()
    l.join(u, col("lk") === col("uk"), "full_outer")
      .select(
        coalesce(col("lk"), col("uk")).as("entity_key"),
        col("lk").isNotNull.as("in_local"),
        col("uk").isNotNull.as("in_upstream"))
  }
}
