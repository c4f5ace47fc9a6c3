package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** OPQ dimension allocation (Ge et al. 2013, eigenvalue-allocation
  * heuristic restricted to permutations): on an anisotropic corpus whose
  * variance concentrates in a few ADJACENT dimensions, contiguous PQ
  * starves — one codebook quantizes all the signal, the rest encode noise
  * — and the balanced allocation must measurably recover recall. */
class OpqSpec extends SparkSpec {
  import spark.implicits._

  /** Anisotropic corpus, NO planted cluster: dims 0..7 carry the signal
    * (scale 10), dims 8..63 are low-amplitude noise. Recall is measured on
    * the query's GENUINE nearest neighbors, which is the hard case:
    * contiguous PQ resolves the whole signal space with sub-space 0's 16
    * cells (measured recall 0.0-0.1 across seeds), while the balanced
    * allocation gives every sub-space one signal dimension (16^8 effective
    * cells — measured 0.8-0.9). A planted near-dup cluster would be
    * vacuous here: both variants find it trivially. */
  private lazy val dir: String = {
    val rng = new scala.util.Random(47L)
    def vec(): Array[Float] = Array.tabulate(64) { i =>
      if (i < 8) ((rng.nextDouble() * 2 - 1) * 10).toFloat
      else ((rng.nextDouble() * 2 - 1) * 0.1).toFloat
    }
    val rows: Seq[(Long, Array[Float])] = (0L until 1024L).map(i => (i, vec()))
    val d = tempDir("graft_opq")
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$d/embeddings.parquet")
    d
  }

  test("balancedPerm is a permutation that spreads the hot dimensions one per sub-space") {
    val emb = graft.core.Tables.embeddings(spark, dir)
    val perm = Opq.balancedPerm(emb, m = 8)
    assert(perm.sorted.toSeq === (0 until 64))
    // the 8 high-variance dims (0..7) land in 8 DIFFERENT sub-spaces
    val subOf = perm.zipWithIndex.map { case (origDim, p) => origDim -> p / 8 }.toMap
    assert((0 until 8).map(subOf).toSet.size === 8,
      s"hot dims must spread: ${(0 until 8).map(subOf)}")
    // deterministic
    assert(Opq.balancedPerm(emb, m = 8).toSeq === perm.toSeq)
  }

  test("OPQ recall beats contiguous PQ on the anisotropic corpus") {
    val exact = Ann.bruteForceTopK(spark, dir, queryId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    def recall(ids: Set[Long]): Double = exact.intersect(ids).size.toDouble / exact.size
    val plain = recall(Pq.adcTopK(spark, dir, queryId = 0L, kTop = 20)
      .collect().map(_.getLong(0)).toSet)
    val opq = recall(Opq.adcTopK(spark, dir, queryId = 0L, kTop = 20)
      .collect().map(_.getLong(0)).toSet)
    assert(plain <= 0.4, s"corpus must be hard for contiguous PQ (got $plain) — " +
      "if this fires the fixture lost its anisotropy")
    assert(opq > plain, s"allocation must improve recall: opq=$opq plain=$plain")
    assert(opq >= 0.7, s"OPQ recall@20-of-exact-10 = $opq (plain PQ: $plain)")
  }

  test("permuted encode is a pure gather: same codes as encoding a pre-permuted vector") {
    val (perm, mod) = Opq.model(spark, dir)
    val row = graft.core.Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 5L).head().getSeq[Float](1).toArray
    val permuted = perm.map(row)
    val viaExpr = graft.core.Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 5L)
      .select(Pq.encodeExpr(Opq.permuteExpr(col("embedding"), perm), mod).as("c"))
      .head().getSeq[Int](0).toSeq
    // reference encode computed driver-side from the codebooks
    val expected = (0 until mod.m).map { s =>
      val sub = permuted.slice(s * mod.subDim, (s + 1) * mod.subDim).map(_.toDouble)
      mod.books(s).zipWithIndex.minBy { case (c, j) =>
        (sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, j)
      }._2
    }
    assert(viaExpr === expected)
  }

  test("rerank gates (q79/q80): OPQ prescore -> exact re-rank equals brute force at the gate budget") {
    val exact = graft.sim.Ann.bruteForceTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaAlloc = Opq.adcRerankTopK(spark, sf0001, candidates = 300)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaAlloc === exact, "q79: permutation-ADC top-300 must contain the exact top-10")
    val viaRot = Opq.rotatedAdcRerankTopK(spark, sf0001, candidates = 300)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaRot === exact, "q80: rotated-ADC top-300 must contain the exact top-10")
  }
}
