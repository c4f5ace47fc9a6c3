package graft.text

import scala.collection.mutable

import graft.SparkSpec

/** Passage-level exact dedup (q98): global first-occurrence semantics,
  * segment alignment (including the partial tail segment), intra- and
  * cross-document drops, and kept-text reconstruction. */
class PassageDedupSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private val BP = PassageDedup.Boilerplate

  test("planted corpus: intra-doc, cross-doc, and tail-segment semantics") {
    // ids picked against the planting arithmetic: 10 % 21 == 10 (boilerplate
    // twice), 17 % 7 == 3 (once), 1 and 2 unplanted.
    def words(prefix: String, n: Int): String = (1 to n).map(p => s"$prefix$p").mkString(" ")
    val segA = words("a", 16); val segB = words("b", 16); val tailE = words("e", 8)
    val segC = words("c", 16); val segD = words("d", 16)
    val dir = tempDir("graft-pd")
    Seq(
      (1L, s"$segA $segB $tailE", "en", "s1", 0L), // 40 words -> 16/16/8
      (2L, segA, "en", "s1", 0L),                  // cross-doc dup of d1 seg0
      (10L, segC, "en", "s2", 0L),                 // planted: BP BP C
      (17L, segD, "en", "s2", 0L))                 // planted: BP D
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = PassageDedup.passageDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((3L, 0L, md5hex(s"$segA $segB $tailE"))))
    assert(out(2L) == ((1L, 1L, md5hex(""))))
    // d10: BP kept (first global instance), second BP dropped, C kept
    assert(out(10L) == ((3L, 1L, md5hex(s"$BP $segC"))))
    // d17: its BP loses to d10's -> dropped; D kept
    assert(out(17L) == ((2L, 1L, md5hex(segD))))
  }

  test("sf0.001: engine output equals a driver-side replay of the semantics") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val firstSeen = mutable.Set[String]()
    val expected = docs.map { case (id, source, text) =>
      val planted =
        if (id % 21 == 10) s"$BP $BP $text"
        else if (id % 7 == 3) s"$BP $text"
        else text
      val ws = planted.split(" ", -1)
      val segs = ws.grouped(16).map(_.mkString(" ")).toSeq
      val kept = segs.filter(s => firstSeen.add(s)) // global (doc_id, seg_idx) order
      (id, source, segs.length.toLong,
        (segs.length - kept.length).toLong, md5hex(kept.mkString(" ")))
    }.toSet
    val got = PassageDedup.passageDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(got == expected)
    // the corpus exercises both shapes: planted boilerplate drops AND the
    // table's own exact-dup docs dropping every segment
    val dropsByDoc = got.map(t => t._1 -> t._4).toMap
    assert(dropsByDoc.count(_._2 > 0) > 10)
    assert(got.exists(t => t._1 % 7 == 3 && t._4 >= 1))
  }
}
