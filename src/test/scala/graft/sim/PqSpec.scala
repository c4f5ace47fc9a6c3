package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product quantization: deterministic training, code validity, the ADC
  * identity (score == dot(query, centroid-reconstructed vector) — an
  * EXACTNESS property of the scan, independent of recall), and recall
  * against the exact dot-product ranking. */
class PqSpec extends SparkSpec {

  private def emb = graft.core.Tables.embeddings(spark, sf0001)

  test("training is deterministic and repeatable") {
    val a = Pq.train(emb, m = 8, k = 16, iters = 2)
    val b = Pq.train(emb, m = 8, k = 16, iters = 2)
    assert(a.books.flatten.flatten.toSeq == b.books.flatten.flatten.toSeq)
    assert(a.m == 8 && a.k == 16 && a.subDim == 8)
  }

  test("codes are m entries, each a valid cell id; codes spread across cells") {
    val mod = Pq.model(spark, sf0001)
    val codes = Pq.encode(spark, sf0001, mod).collect()
      .map(_.getSeq[Int](1))
    assert(codes.forall(c => c.length == mod.m && c.forall(j => j >= 0 && j < mod.k)))
    // degenerate training would put every vector in one cell per sub-space
    val distinctPerSub = (0 until mod.m).map(s => codes.map(_(s)).distinct.length)
    assert(distinctPerSub.forall(_ >= 2), s"cells used per sub-space: $distinctPerSub")
  }

  test("ADC identity: the scan's score equals dot(query, reconstructed vector) exactly") {
    val mod = Pq.model(spark, sf0001)
    val q = emb.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val adc = Pq.adcTopK(spark, sf0001, queryId = 0L, kTop = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = Pq.encode(spark, sf0001, mod).filter(col("vec_id") =!= 0L)
      .collect().take(50)
    rows.foreach { r =>
      val code = r.getSeq[Int](1)
      val recon = (0 until mod.m).flatMap(s => mod.books(s)(code(s)))
      val exact = q.zip(recon).map { case (a, b) => a * b }.sum
      assert(math.abs(adc(r.getLong(0)) - exact) < 1e-4,
        s"vec ${r.getLong(0)}: adc=${adc(r.getLong(0))} recon-dot=$exact")
    }
  }

  test("IVF-PQ: probed lists prune the scan; composed score finds planted neighbors") {
    import spark.implicits._
    val rng = new scala.util.Random(23L)
    def randVec() = Array.fill(64)((rng.nextDouble() * 2 - 1).toFloat)
    val base = randVec()
    val rows: Seq[(Long, Array[Float])] =
      ((0L, base) +:
        (1 to 10).map(i => (i.toLong, base.map(x => x + (rng.nextDouble() * 0.04 - 0.02).toFloat)))) ++
        (11 until 1024).map(i => (i.toLong, randVec()))
    val dir = tempDir("graft_ivfpq")
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

    val got = Pq.ivfPqTopK(spark, dir, queryId = 0L, kTop = 20,
      nCentroids = 8, nProbe = 2).collect().map(_.getLong(0)).toSet
    val planted = (1L to 10L).toSet
    val recall = planted.intersect(got).size.toDouble / planted.size
    assert(recall >= 0.8, s"IVF-PQ recall of planted neighbors = $recall; got $got")
    // pruning is real: the probed scan covers a strict subset of the lists
    val cents = Ann.ivfModel(spark, dir, 8)
    val mod = Pq.trainResidual(spark, dir, cents)
    val enc = Pq.ivfPqEncode(spark, dir, cents, mod)
    val listSizes = enc.groupBy("cid").count().collect()
    assert(listSizes.length >= 2, "corpus must spread over several inverted lists")
  }

  test("recall: ADC top-20 finds the exact top-10 on a planted near-dup corpus") {
    // PQ on fully isotropic random vectors quantizes poorly by construction
    // (no cluster structure for the codebooks to exploit — measured recall
    // ~0.2 on the synthetic sf corpus); real embedding corpora cluster, so
    // recall is evaluated the way AnnSpec evaluates LSH: planted structure
    import spark.implicits._
    val rng = new scala.util.Random(11L)
    def randVec() = Array.fill(64)((rng.nextDouble() * 2 - 1).toFloat)
    val base = randVec()
    val rows: Seq[(Long, Array[Float])] =
      ((0L, base) +:
        (1 to 10).map(i => (i.toLong, base.map(x => x + (rng.nextDouble() * 0.04 - 0.02).toFloat)))) ++
        (11 until 1024).map(i => (i.toLong, randVec()))
    val dir = tempDir("graft_pq")
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

    val q = graft.core.Tables.embeddings(spark, dir).filter(col("vec_id") === 0L)
      .select(col("embedding").as("qe"))
    val exactTop = graft.core.Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), Ann.dot(col("embedding"), col("qe")).as("d"))
      .orderBy(col("d").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val adcTop = Pq.adcTopK(spark, dir, queryId = 0L, kTop = 20)
      .collect().map(_.getLong(0)).toSet
    val recall = exactTop.intersect(adcTop).size.toDouble / exactTop.size
    assert(recall >= 0.8, s"PQ recall@20-of-exact-10 = $recall (planted corpus)")

    // ADC pre-score → exact re-rank: with a SMALL candidate budget (C=30 of
    // 1024, ~3% of the corpus) the re-ranked result equals the exact cosine
    // top-10 — the pruning power the q70 gate can't show on isotropic data
    val exactCos = Ann.bruteForceTopK(spark, dir, queryId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSeq
    val reranked = Pq.adcRerankTopK(spark, dir, queryId = 0L, kTop = 10, candidates = 30)
      .collect().map(_.getLong(0)).toSeq
    assert(reranked === exactCos,
      s"re-rank at C=30 must reproduce the exact ranking: $reranked vs $exactCos")
  }

  test("SDC top pairs: code-only pair scan finds the planted cluster's pairs") {
    import spark.implicits._
    val rng = new scala.util.Random(31L)
    def randVec() = Array.fill(64)((rng.nextDouble() * 2 - 1).toFloat)
    val base = randVec()
    val rows: Seq[(Long, Array[Float])] =
      ((0L, base) +:
        (1 to 10).map(i => (i.toLong, base.map(x => x + (rng.nextDouble() * 0.04 - 0.02).toFloat)))) ++
        (11 until 1024).map(i => (i.toLong, randVec()))
    val dir = tempDir("graft_sdc")
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val pairs = Pq.sdcTopPairs(spark, dir, kTop = 30, candidates = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the planted near-dup cluster dominates the top pairs
    val planted = pairs.count { case (a, b, _) => a <= 10L && b <= 10L }
    assert(planted >= 20, s"expected >=20 planted pairs in top-30, got $planted")
    // exact re-rank really ran: scores are true cosines, ordered
    assert(pairs.map(_._3).toSeq === pairs.map(_._3).sorted.reverse.toSeq)
    assert(pairs.filter { case (a, b, _) => a <= 10L && b <= 10L }.forall(_._3 > 0.99))
  }

  test("rerank gates (q76/q77/q78): prescore -> exact re-rank equals brute force at the gate budget") {
    val exact = graft.sim.Ann.bruteForceTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaAdc = Pq.exactRerank(spark, sf0001, 0L, Pq.adcTopK(spark, sf0001, kTop = 350))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaAdc === exact, "q76: ADC top-350 window must contain the exact top-10")
    val viaIvfPq = Pq.ivfPqRerankTopK(spark, sf0001, candidates = 250, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIvfPq === exact, "q77: IVF-PQ top-250 at nProbe=8 must contain the exact top-10")
    val exactPairs = graft.sim.Ann.topPairs(spark, sf0001,
      corpusSize = graft.core.Tables.cachedCount(spark, sf0001, "embeddings")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaSdc = Pq.sdcTopPairs(spark, sf0001, candidates = 40000, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaSdc === exactPairs, "q78: SDC prescore at the gate budget must reproduce the exact banded pairs")
  }
}
