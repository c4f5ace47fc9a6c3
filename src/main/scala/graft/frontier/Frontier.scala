package graft.frontier

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, FrontierEntry, Ids}

/** Frontier construction — the reference's work-list algebra
  * (crawler:203-215): known = archive-scan ∪ forum-conf; discovered =
  * sitemap ids anti-joined against known, capped; work-list = known ∪
  * discovered with a forums flag (archive.py:589-592).
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

  /** Work-list build (crawler:203-215 + archive.py:589-592):
    * known ∪ (discovered ⟕anti known, limit maxNew), forums-flagged.
    *
    * `known` = `(existing, false) ∪ (forumIds, true)` grouped by id with
    * `max(forums)`, persisted once: the forum tier, the exact anti-join and
    * the work-list read its cached rows, and so does the schedule's pass.
    *
    * The anti-join runs behind a tiered pre-filter ([[SeenSet.dedup]]).
    * With `store = Some(SeenStore)` the tiers are the PERSISTED epoch bloom
    * and per-run cuckoo spills — no per-run full scan of the seen corpus
    * to rebuild a filter (the dominant constant of a nightly run at 10^10
    * ids) — plus a bloom over the forum ids (a small config set), so the
    * probe covers everything `known` contains. The store's probe only
    * loads when it covers every committed url_seen version
    * (SeenStore.loadProbe's crash validation); otherwise, and without a
    * store, the one tier is a bloom rebuilt from `known`, sized from its row
    * count. The exact anti-join is the same either way, so exactness never
    * depends on the filter's freshness. */
  def buildWorklist(spark: SparkSession,
                    existing: Dataset[String],
                    forumIds: Dataset[String],
                    discovered: Dataset[String],
                    maxNew: Int,
                    runId: Int,
                    nHosts: Int = 16,
                    store: Option[SeenStore] = None): Dataset[FrontierEntry] = {
    import spark.implicits._
    def flagged(ids: Dataset[_], forums: Boolean) = ids.toDF("id").withColumn("forums", lit(forums))
    def hashes(ids: DataFrame) = ids.select(SeenSet.idHash(col("id"))).as[Long]
    // scope-registered persists: the crawl loop unpersists them at round
    // end (CacheScope.withScope), so iterative crawls don't leak cached rounds
    val known = CacheScope.persist(flagged(existing, forums = false).union(flagged(forumIds, forums = true))
      .groupBy("id").agg(max("forums").as("forums")))
    val probe = store.flatMap(_.loadProbe(spark)) match {
      case Some(p) =>
        // forum list = config-file lines (archive.py:634-639), a few
        // thousand rows: its own in-heap tier, sized to the list
        val forumHashes = hashes(known.filter(col("forums"))).collect()
        val forumBloom = BlockedBloom.sized(forumHashes.length)
        forumHashes.foreach(forumBloom.add)
        p.withFilter(forumBloom)
      case None =>
        val keys = known.count()
        SeenProbe(Seq(SeenSet.buildFilter(hashes(known), () => BlockedBloom.sized(keys))), None, 0L)
    }
    val freshAll = CacheScope.persist(
      SeenSet.dedup(spark, discovered.distinct().toDF("id"), known.select("id"), probe))
    // deterministic cap (discover.py:66-73). A global sort+limit funnels
    // everything through one partition, so it runs only when the cap binds;
    // otherwise the cap costs one count().
    val fresh = if (freshAll.count() <= maxNew) freshAll else freshAll.orderBy("id").limit(maxNew)
    // known is a set; fresh is a set anti-joined against known, which holds
    // every forum id, so its rows are not forum ids and the union is a set
    known.union(flagged(fresh, forums = false)).as[(String, Boolean)]
      .map { case (id, forums) =>
        val url = urlFor(id, nHosts)
        FrontierEntry(id, url, hostOf(url), forums, runId)
      }
  }
}
