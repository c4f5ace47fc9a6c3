package graft.frontier

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{FrontierEntry, Ids}

/** Frontier construction — the reference's work-list algebra
  * (crawler:203-215): known = archive-scan ∪ forum-conf; new = sitemap ids
  * not in known, capped; work-list = known ∪ new with a forums flag
  * (archive.py:589-592).
  */
object Frontier {

  /** Overview-URL template — config.py:33-35 analog (synthetic host space
    * so politeness/host-salting has real key diversity; `nHosts` compresses
    * to one host for the reference's single-store shape). */
  def urlFor(id: String, nHosts: Int = 16): String = {
    val h = Math.floorMod(Ids.mix64(id.hashCode.toLong), nHosts.toLong)
    s"https://store-$h.example.com/detail/$id"
  }

  def hostOf(url: String): String = {
    val i = url.indexOf("://")
    val rest = url.substring(i + 3)
    val j = rest.indexOf('/')
    if (j < 0) rest else rest.substring(0, j)
  }

  /** Line-filter for config-derived id lists (`^[a-p]+$`, archive.py:637). */
  def validIdLines(raw: Dataset[String]): Dataset[String] = {
    raw.filter(col("value").rlike(Ids.LinePattern)).as(raw.encoder)
  }

  /** Strict 32-char id filter (discovery extraction, discover.py:48). */
  def validIds(raw: Dataset[String]): Dataset[String] =
    raw.filter(col("value").rlike(Ids.IdPattern)).as(raw.encoder)

  // ---- S3: sitemap shard discovery (discover.py:27-75), network-free ----
  // The transport (requests.get) is the only piece the sandbox can't run;
  // the parsing + fan-out semantics are full: index XML → generic shard
  // URLs → per-shard <loc> extraction → 32-char id regex → validity filter.

  /** Minimal XML entity unescape for `<loc>` TEXT — spec-compliant sitemap
    * XML must escape `&` as `&amp;`, so the shard query strings arrive as
    * `?shard=0&amp;numshards=4`. */
  private[frontier] def xmlUnescape(s: String): String =
    s.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")

  /** Shard URLs from the sitemap INDEX document — `<loc>` elements kept
    * only in the generic `?shard=N&numshards=M` form (language-parameterized
    * shard urls return SUBSETS of the plain ones and are skipped,
    * discover.py:33-40). The index is one small document; parsing it
    * driver-side mirrors the reference exactly. */
  def sitemapShardUrls(indexXml: String, sitemapBase: String): Seq[String] = {
    val generic = (java.util.regex.Pattern.quote(sitemapBase) + "\\?shard=\\d+&numshards=\\d+").r
    "<loc>([^<]*)</loc>".r.findAllMatchIn(indexXml)
      .map(m => xmlUnescape(m.group(1).trim))
      .filter(u => generic.pattern.matcher(u).matches())
      .toSeq
  }

  /** Distributed shard scan: (url, xml) shard documents → candidate ids.
    * One codegen'd pass: `regexp_extract_all` pulls every `<loc>` text,
    * explode fans them out, the 32-char lowercase run is the candidate id
    * (discover.py:46-48's `re.search("[a-z]{32}", url)`); [[validIds]]
    * downstream enforces the strict store alphabet. */
  def sitemapIds(shardDocs: DataFrame): Dataset[String] = {
    import shardDocs.sparkSession.implicits._
    shardDocs
      .select(explode(expr("regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1)")).as("loc"))
      .select(regexp_extract(col("loc"), "[a-z]{32}", 0).as("value"))
      .filter(length(col("value")) === 32)
      .as[String]
  }

  /** Work-list build (crawler:203-215 + archive.py:589-592): set algebra,
    * known ∪ (the first `maxNew` of discovered ∖ known in id order),
    * forums-flagged.
    *
    * Every known id is recrawled, so known ∪ (discovered ∖ known) = known ∪
    * discovered: the work-list is the three sources tagged `(existing,
    * forums = false, known = true)`, `(forumIds, true, true)` and
    * `(discovered, false, false)`, merged per id with `max(forums)` and
    * `max(known)`. Building it submits no job: it returns the tagged
    * sources, and a crawl round merges them inside its schedule's bucket
    * exchange ([[graft.Crawl.run]]), where the rows of one id sit side by
    * side. [[Worklist.entries]] merges and caps them on its own, for callers
    * that need the rows.
    *
    * `store` is kept, unread, for source compatibility with callers that
    * still commit a [[SeenStore]] each round. */
  def buildWorklist(spark: SparkSession,
                    existing: Dataset[String],
                    forumIds: Dataset[String],
                    discovered: Dataset[String],
                    maxNew: Int,
                    runId: Int,
                    nHosts: Int = 16,
                    store: Option[SeenStore] = None): Worklist =
    new Worklist(existing, forumIds, discovered, maxNew, runId, nHosts)
}

/** A round's work-list as its three id sources, not yet merged: see
  * [[Frontier.buildWorklist]]. */
final class Worklist(existing: Dataset[String],
                     forumIds: Dataset[String],
                     discovered: Dataset[String],
                     val maxNew: Int,
                     val runId: Int,
                     val nHosts: Int) {

  /** The tagged source rows `(id, forums, known)`; an id may repeat. The
    * rows without the known flag are the new ids the cap applies to. */
  def tagged: DataFrame = {
    def rows(ids: Dataset[String], forums: Boolean, known: Boolean) =
      ids.toDF("id").select(col("id"), lit(forums).as("forums"), lit(known).as("known"))
    rows(existing, forums = false, known = true)
      .union(rows(forumIds, forums = true, known = true))
      .union(rows(discovered, forums = false, known = false))
  }

  /** The merged, capped work-list: one row per id, known ∪ the first
    * `maxNew` new ids in id order (discover.py:66-73). The cap's global
    * sort funnels the new ids through one partition. */
  def entries: Dataset[FrontierEntry] = {
    import existing.sparkSession.implicits._
    val ids = tagged.groupBy("id").agg(max("forums").as("forums"), max("known").as("known"))
    val (n, r) = (nHosts, runId)
    ids.filter(col("known")).union(ids.filter(!col("known")).orderBy("id").limit(maxNew))
      .select("id", "forums").as[(String, Boolean)]
      .map { case (id, forums) =>
        val url = Frontier.urlFor(id, n)
        FrontierEntry(id, url, Frontier.hostOf(url), forums, r)
      }
  }
}
