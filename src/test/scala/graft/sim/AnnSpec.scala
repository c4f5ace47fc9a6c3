package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ANN quality + scale-shape checks on planted corpora (VERDICT r1 #4):
  * recall vs brute force, bucket population ≪ N, skew cap bounds the pair
  * join, integer-exact bucket determinism. */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  /** Write an embeddings.parquet corpus into a temp dir usable as `sfDir`. */
  private def writeCorpus(rows: Seq[(Long, Array[Float])]): String = {
    val dir = tempDir("graft_ann")
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def randVec(rng: scala.util.Random): Array[Float] =
    Array.fill(64)((rng.nextDouble() * 2 - 1).toFloat)

  /** Planted corpus: one query vector, `nNear` tight near-duplicates of it
    * (cosine ≈ 0.99+), the rest independent random vectors. */
  private def plantedCorpus(n: Int, nNear: Int, seed: Long): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    val base = randVec(rng)
    val near = (1 to nNear).map { i =>
      (i.toLong, base.map(x => x + (rng.nextDouble() * 0.04 - 0.02).toFloat))
    }
    val noise = (nNear + 1 until n).map(i => (i.toLong, randVec(rng)))
    ((0L, base) +: near) ++ noise
  }

  test("nPlanesFor pins expected bucket occupancy (4..24, grows with N)") {
    assert(Ann.nPlanesFor(500) == 4)
    assert(Ann.nPlanesFor(100000) > Ann.nPlanesFor(1000))
    assert(Ann.nPlanesFor(1000000000L) == 24)
  }

  test("lshTopK recall >= 0.9 vs brute force on a planted near-dup corpus") {
    val dir = writeCorpus(plantedCorpus(n = 2048, nNear = 10, seed = 7L))
    val exact = Ann.bruteForceTopK(spark, dir, queryId = 0L, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Ann.lshTopK(spark, dir, queryId = 0L, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall; exact=$exact approx=$approx")
  }

  test("adaptive buckets spread the corpus: max occupancy well below N") {
    val dir = writeCorpus(plantedCorpus(n = 2048, nNear = 10, seed = 7L))
    val planes = Ann.nPlanesFor(2048)
    val occ = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("bucket", Ann.lshBucket(col("embedding"), planes))
      .groupBy("bucket").count()
      .agg(max("count").as("mx"), count(lit(1)).as("nb"))
      .head()
    assert(occ.getLong(1) >= 8, s"expected many buckets, got ${occ.getLong(1)}")
    assert(occ.getLong(0) < 2048 / 2, s"hot bucket holds ${occ.getLong(0)} of 2048")
  }

  test("per-bucket cap bounds pair candidates under total skew") {
    // 64 identical-direction vectors → one bucket; cap 8 must bound the
    // pair join to C(8,2) rows no matter how hot the bucket is
    val rng = new scala.util.Random(3L)
    val base = randVec(rng)
    val rows = (0 until 64).map(i => (i.toLong, base.map(x => x * (1 + i * 1e-6f))))
    val dir = writeCorpus(rows)
    val pairs = Ann.topPairs(spark, dir, k = 100000, nPlanes = 4, capPerBucket = 8)
    assert(pairs.count() == 28, "cap=8 → exactly C(8,2) candidate pairs")
  }

  test("cosineNearDupPairs: planted near-dups cross the threshold; every emitted pair qualifies") {
    val dir = writeCorpus(plantedCorpus(n = 2048, nNear = 10, seed = 7L))
    val pairs = Ann.cosineNearDupPairs(spark, dir, threshold = 0.9).collect()
    assert(pairs.nonEmpty, "the planted cluster must yield near-dup pairs")
    assert(pairs.forall(_.getDouble(2) >= 0.9))
    // most of the planted cluster is recovered (multi-probe covers bucket
    // Hamming <= 1; a mutated vector can drift further, hence 'most')
    val ids = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(ids.count(i => i >= 0L && i <= 10L) >= 8, s"cluster coverage: $ids")
  }

  test("q86 gate shape: thresholded pairs == bucket-restricted brute force on the driver corpus") {
    // independent driver-side replay of the q86 semantics: every bucket-
    // Hamming-<=-1 pair with exact cosine >= 0.40 must be emitted (complete-
    // ness), every emitted pair must recompute to its cos_sim (exactness)
    val got = Ann.cosineNearDupPairs(spark, sf0001, threshold = 0.40).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.nonEmpty, "the driver gate must not be vacuously empty")
    val rows = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .withColumn("bucket", Ann.lshBucket(col("embedding"), 4))
      .select("vec_id", "embedding", "bucket").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getLong(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = (for {
      (ia, ea, ba) <- rows; (ib, eb, bb) <- rows
      if ia < ib && java.lang.Long.bitCount(ba ^ bb) <= 1
      c = BigDecimal(cos(ea, eb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.40
    } yield (ia, ib) -> c).toMap
    assert(got.keySet == want.keySet,
      s"pair-set mismatch: missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    want.foreach { case (k, c) => assert(math.abs(got(k) - c) < 1e-9, s"$k: ${got(k)} vs $c") }
  }

  test("q108 components: labeling equals a driver-side transitive closure of the q86 pair set") {
    val labels = Ann.cosineNeardupComponents(spark, sf0001).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(labels.size === 500, "labeling must be total over embeddings")
    // independent closure: union-find over the gated pair edges
    val edges = Ann.cosineNearDupPairs(spark, sf0001, threshold = 0.40).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val reps = labels.keys.map(id => id -> find(id)).toMap
    val sizes = reps.values.groupBy(identity).map { case (r, xs) => r -> xs.size.toLong }
    labels.foreach { case (id, (rep, size)) =>
      assert(rep === reps(id), s"vec $id rep")
      assert(size === sizes(reps(id)), s"vec $id cluster size")
    }
    assert(sizes.values.max >= 2, "the corpus must exercise at least one real cluster")
  }

  test("IVF: trained centroids partition the corpus; probe recall >= 0.9") {
    val dir = writeCorpus(plantedCorpus(n = 2048, nNear = 10, seed = 7L))
    val exact = Ann.bruteForceTopK(spark, dir, queryId = 0L, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Ann.ivfTopK(spark, dir, queryId = 0L, k = 10, nCentroids = 16, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall; exact=$exact approx=$approx")
    // the probed scan is a real subset: assignment spreads over many lists
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Ann.trainIvfCentroids(emb, 16, 2)
    val lists = emb
      .withColumn("nrm", Ann.norm(col("embedding")))
      .withColumn("cid", Ann.nearestCentroid(col("embedding"), col("nrm"), cents))
      .groupBy("cid").count().collect()
    assert(lists.length >= 8, s"expected many inverted lists, got ${lists.length}")
    assert(lists.map(_.getLong(1)).max < 2048 / 2, "no list may swallow the corpus")
  }

  test("IVF training is deterministic for a fixed layout (repeatable runs)") {
    // double means are summation-order sensitive, so determinism is per
    // (data, partitioning) — the repeatability a resumable pipeline needs
    val dir = writeCorpus(plantedCorpus(n = 512, nNear = 4, seed = 13L))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = Ann.trainIvfCentroids(emb, 8, 2).map(_.toSeq).toSeq
    val b = Ann.trainIvfCentroids(emb, 8, 2).map(_.toSeq).toSeq
    assert(a == b)
    assert(a.flatten.exists(_ != 0.0))
  }

  test("integer-exact bucket: stable across repartitioning / evaluation order") {
    val dir = writeCorpus(plantedCorpus(n = 256, nNear = 4, seed = 11L))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = emb.withColumn("b", Ann.lshBucket(col("embedding"), 6))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = emb.repartition(7).withColumn("b", Ann.lshBucket(col("embedding"), 6))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }
}
