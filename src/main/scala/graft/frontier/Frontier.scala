package graft.frontier

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, FrontierEntry, Ids}

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
    * Every known id is recrawled, so `known` is scanned every round anyway,
    * and known ∪ (discovered ∖ known) = known ∪ discovered. The work-list is
    * therefore one aggregate over three tagged sources, `(existing, forums =
    * false, known = true)`, `(forumIds, true, true)` and `(discovered,
    * false, false)`, grouped by id with `max(forums)` and `max(known)` and
    * persisted once: no anti-join and no filter pre-tier. The rows without
    * the known flag are the new ids; the cap's count of them rides on the
    * write that fills the cache.
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
                    store: Option[SeenStore] = None): Dataset[FrontierEntry] = {
    import spark.implicits._
    def tagged(ids: Dataset[String], forums: Boolean, known: Boolean) =
      ids.toDF("id").select(col("id"), lit(forums).as("forums"), lit(known).as("known"))
    // scope-registered: the crawl loop unpersists it at round end
    // (CacheScope.withScope), after the schedule's pass has read it
    val ids = CacheScope.persist(
      tagged(existing, forums = false, known = true)
        .union(tagged(forumIds, forums = true, known = true))
        .union(tagged(discovered, forums = false, known = false))
        .groupBy("id").agg(max("forums").as("forums"), max("known").as("known")))
    // one noop-sink write fills the cache and counts the new ids on the way
    val obs = Observation()
    ids.observe(obs, count_if(!col("known")).as("fresh")).write.format("noop").mode("overwrite").save()
    // deterministic cap (discover.py:66-73). A global sort+limit funnels
    // everything through one partition, so it runs only when the cap binds
    val capped = if (obs.get("fresh").asInstanceOf[Long] <= maxNew) ids
      else ids.filter(col("known")).union(ids.filter(!col("known")).orderBy("id").limit(maxNew))
    capped.select("id", "forums").as[(String, Boolean)]
      .map { case (id, forums) =>
        val url = urlFor(id, nHosts)
        FrontierEntry(id, url, hostOf(url), forums, runId)
      }
  }
}
