package graft.text

import graft.SparkSpec

/** End-to-end semantics of the composed curation funnel (q85): the four
  * stages must apply in order (lang -> quality -> exact -> near-dup
  * component), survivors must be attributed to their own source, and a
  * cross-source near-dup chain must collapse to ONE survivor corpus-wide. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("curationFunnel: per-source attrition through all four gates") {
    // Planted corpus (thresholds relaxed to minWords=5, minStopRatio=0.1 so
    // the docs stay readable; the q85 catalog entry runs the defaults):
    //   d1 s1  clean unique English            -> survives everything
    //   d2 s1 / d3 s2  EXACT duplicates        -> d2 (min doc_id) survives
    //   d4 s1 / d5 s2 / d6 s2  near-dup CHAIN  4~5 (J=4/6), 5~6 (J=4/6),
    //     4~6 only J=3/7 < 0.5                 -> one component, d4 survives;
    //     s2 loses both its members cross-source
    //   d7 s1  German                          -> fails the lang gate
    //   d8 s2  two words (lang still en)       -> fails minWords
    //   d9 s2  1 stopword in 12 words (0.083)  -> fails minStopRatio
    val dir = tempDir("graft-cur")
    Seq(
      (1L, "the quick fox is one of a kind here", "en", "s1", 0L),
      (2L, "a b c d e f the is g", "en", "s1", 0L),
      (3L, "a b c d e f the is g", "en", "s2", 0L),
      (4L, "the cat is a of and go", "en", "s1", 0L),
      (5L, "the cat is a of and ox", "en", "s2", 0L),
      (6L, "cat is a of and ox yak", "en", "s2", 0L),
      (7L, "der die und ist nicht der die und ist", "de", "s1", 0L),
      (8L, "the end", "en", "s2", 0L),
      (9L, "is bright blue sky over mountain ridge today zero nine ten eleven", "en", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = Curation.curationFunnel(spark, dir, lang = "en",
        minWords = 5L, minStopRatio = 0.1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSet
    assert(out == Set(
      ("s1", 4L, 3L, 3L, 3L, 3L),
      ("s2", 5L, 5L, 3L, 2L, 0L)), s"got $out")
  }
}
