package graft.etl

import graft.SparkSpec
import graft.snapshot.SnapshotTable

/** MERGE-upsert + reconciliation semantics (SURVEY A6-A8, U4, S10;
  * reference: mysql_backend.py:78-108 ON-DUP-KEY upsert idempotence). */
class EtlSpec extends SparkSpec {

  test("mergeUpsert is last-wins by version and idempotent") {
    import spark.implicits._
    val dir = tempDir("graft_merge")
    val t = new SnapshotTable(spark, dir)

    val v1 = Seq(("a", 1, "x1"), ("b", 1, "y1")).toDF("k", "ver", "payload")
    Etl.mergeUpsert(spark, t, v1, Seq("k"), "ver")
    val v2 = Seq(("a", 2, "x2"), ("c", 1, "z1")).toDF("k", "ver", "payload")
    Etl.mergeUpsert(spark, t, v2, Seq("k"), "ver")

    val rows = t.read().orderBy("k").collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(rows.toSeq === Seq(("a", 2, "x2"), ("b", 1, "y1"), ("c", 1, "z1")))

    // idempotent: re-applying the same batch converges to the same state (T6)
    Etl.mergeUpsert(spark, t, v2, Seq("k"), "ver")
    val again = t.read().orderBy("k").collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(again.toSeq === rows.toSeq)
  }

  test("reconcile: full outer with presence flags preserves outphased keys") {
    import spark.implicits._
    val local = Seq("a", "b", "c").toDF("k")
    val upstream = Seq("b", "c", "d").toDF("k")
    val r = Etl.reconcile(local, upstream, "k").orderBy("entity_key")
      .collect().map(x => (x.getString(0), x.getBoolean(1), x.getBoolean(2)))
    assert(r.toSeq === Seq(("a", true, false), ("b", true, true), ("c", true, true), ("d", false, true)))
  }

  test("tokenChildTable dedups by (doc_id, token_md5)") {
    val t = Etl.tokenChildTable(spark, sf0001)
    assert(t.count() === t.dropDuplicates("doc_id", "token_md5").count())
    assert(t.count() > 0)
  }

  test("overviewMetadata: 8 fields extracted; missing rating -> NULL; commas stripped") {
    val m = Etl.overviewMetadata(spark, sf0001).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("name") == s"Doc $id")
      assert(r.getAs[String]("version") == s"${id % 9}.${id % 5}")
      if (id % 7 == 0) assert(r.isNullAt(r.fieldIndex("rating")), s"doc $id rating must be NULL")
      else assert(r.getAs[Double]("rating") == s"${id % 5}.${id % 10}".toDouble)
      assert(r.getAs[Int]("ratingcount") == (id * 3 % 1000).toInt)
      assert(r.getAs[Long]("downloads") == id * 977 + 1000, "comma-strip must restore the number")
      assert(r.getAs[String]("item_category") == s"cat_${id % 4}")
    }
  }

  test("dateTruncationConvention: [:-6] slice by length, then naive parse") {
    val rows = Etl.dateTruncationConvention(spark, sf0001).limit(20).collect()
    rows.foreach { r =>
      val iso = r.getAs[String]("iso")
      assert(iso.endsWith("+00:00"))
      assert(r.getAs[String]("convert_date") == iso.dropRight(6))
      assert(r.getAs[java.sql.Timestamp]("parsed") != null)
    }
  }

  test("smallView samples deterministically at ~1/16^chars") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val n = docs.count()
    val s1 = Etl.smallView(docs, "doc_id", chars = 1).count()
    assert(s1 > 0 && s1 < n / 4, s"1/16 sample of $n docs was $s1")
    // deterministic: same rows every time
    assert(Etl.smallView(docs, "doc_id", chars = 1).count() == s1)
  }
}
