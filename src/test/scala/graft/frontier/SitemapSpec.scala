package graft.frontier

import graft.SparkSpec
import graft.core.Ids

/** S3 — sitemap shard discovery semantics (discover.py:27-75) over
  * synthetic XML: generic-shard filtering, per-shard id extraction, and the
  * composed flow into the deduped work-list. */
class SitemapSpec extends SparkSpec {
  import spark.implicits._

  private val base = "https://store.example.com/sitemap"

  private def shardUrl(i: Int, n: Int) = s"$base?shard=$i&numshards=$n"

  /** Spec-compliant index XML: `&` in loc TEXT must be escaped as `&amp;`
    * (a raw `&` is not well-formed XML — the parser must unescape). */
  private def indexXml(n: Int): String = {
    def esc(u: String) = u.replace("&", "&amp;")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
       |${(0 until n).map(i => s"  <sitemap><loc>${esc(shardUrl(i, n))}</loc></sitemap>").mkString("\n")}
       |  <sitemap><loc>${esc(s"$base?shard=1&numshards=$n&hl=de")}</loc></sitemap>
       |  <sitemap><loc>https://other.example.com/unrelated</loc></sitemap>
       |</sitemapindex>""".stripMargin
  }

  private def shardXml(ids: Seq[String]): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
       |${ids.map(id => s"  <url><loc>https://store.example.com/detail/$id</loc></url>").mkString("\n")}
       |  <url><loc>https://store.example.com/category/tools</loc></url>
       |</urlset>""".stripMargin

  test("index parse keeps only generic shard urls (language-parameterized subsets skipped)") {
    val urls = Frontier.sitemapShardUrls(indexXml(4), base)
    assert(urls == (0 until 4).map(i => shardUrl(i, 4)))
  }

  test("shard scan extracts exactly the 32-char ids; junk locs and short runs drop") {
    val good = (0 until 40).map(i => Ids.syntheticId(i.toLong))
    val docs = Seq(
      (shardUrl(0, 2), shardXml(good.take(20))),
      (shardUrl(1, 2), shardXml(good.drop(20) :+ "tooshort" :+ ("z" * 31)))
    ).toDF("url", "xml")
    val ids = Frontier.sitemapIds(docs).collect().toSet
    assert(ids == good.toSet, s"diff: ${ids.diff(good.toSet)} / ${good.toSet.diff(ids)}")
  }

  test("composed discovery: sitemap ids -> validity filter -> deduped capped work-list") {
    val known = (0 until 30).map(i => Ids.syntheticId(i.toLong))
    val fresh = (30 until 80).map(i => Ids.syntheticId(i.toLong))
    // one id with letters outside [a-p]: survives the [a-z]{32} extraction
    // (discover.py's loose regex) but must fail the strict validity filter
    val loose = "z" * 32
    val docs = Seq(
      (shardUrl(0, 1), shardXml(known ++ fresh.take(25) :+ loose)),
      (shardUrl(1, 1), shardXml(fresh.drop(25)))).toDF("url", "xml")
    val discovered = Frontier.validIds(Frontier.sitemapIds(docs))
    assert(!discovered.collect().contains(loose))
    val work = Frontier.buildWorklist(spark, known.toDS(), spark.emptyDataset[String],
      discovered, maxNew = 20, runId = 1)
      .entries.collect().map(_.id).toSet
    // known all present; exactly maxNew fresh ids added; loose id gone
    assert(known.toSet.subsetOf(work))
    assert((work -- known).size == 20)
    assert((work -- known).subsetOf(fresh.toSet))
  }
}
