package graft.sim

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Tables}

/** OPQ-style space decomposition for PQ — the dimension-allocation
  * component of Optimized Product Quantization (Ge/He/Ke/Sun, CVPR 2013 —
  * public algorithm; "eigenvalue allocation", §4.2 of the paper, restricted
  * here to the axis-aligned case: the orthogonal transform is a
  * PERMUTATION matrix).
  *
  * Why it matters: vanilla PQ slices vectors into CONTIGUOUS sub-spaces.
  * When variance concentrates in a few adjacent dimensions (the common
  * case for learned embeddings, whose energy is front-loaded by training
  * dynamics or a prior PCA), one codebook drowns trying to quantize all
  * the high-variance dims with k cells while the rest encode noise —
  * recall collapses. Balancing the per-sub-space variance product spreads
  * the information evenly, and a permutation is free at scan time: the
  * encode/score expressions just read the vector in permuted order
  * (element_at with literal indices — still codegen, no extra pass).
  *
  * The allocation is DATA-ADAPTIVE but needs only per-dimension variances:
  * one distributed aggregation over the corpus, then a greedy driver-side
  * assignment (sort dims by variance, place each into the non-full
  * sub-space with the smallest log-variance sum — the paper's balanced
  * partition heuristic). Deterministic: ties break by dimension index.
  */
object Opq {

  /** Variance-balancing dimension permutation: `perm(p)` = the original
    * dimension read at permuted position `p`; positions [s·subDim,
    * (s+1)·subDim) form sub-space s. */
  def balancedPerm(emb: DataFrame, m: Int, dim: Int = 64): Array[Int] = {
    val subDim = dim / m
    val vars = emb
      .select(posexplode(col("embedding")).as(Seq("p", "v")))
      .groupBy("p").agg(variance(col("v").cast("double")).as("vr"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val order = (0 until dim).sortBy(i => (-vars.getOrElse(i, 0.0), i))
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val logSum = Array.fill(m)(0.0)
    order.foreach { i =>
      val open = (0 until m).filter(buckets(_).size < subDim)
      val s = open.minBy(logSum(_))
      buckets(s) += i
      logSum(s) += math.log(math.max(vars.getOrElse(i, 0.0), 1e-12))
    }
    buckets.flatMap(_.toSeq).toArray
  }

  /** The permuted view of an embedding column — literal-index gather, one
    * codegen'd array construction, no shuffle. */
  def permuteExpr(emb: Column, perm: Array[Int]): Column =
    array(ArraySeq.unsafeWrapArray(perm.map(i => element_at(emb, i + 1))): _*)

  private def permutedCorpus(spark: SparkSession, dir: String,
                             perm: Array[Int]): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), permuteExpr(col("embedding"), perm).as("embedding"))

  /** Train the OPQ model: allocation pass + the standard deterministic PQ
    * training on the permuted corpus. Memoized per (corpus, m, k, iters)
    * like [[Pq.model]], under its own tag — the two models share a recipe —
    * and omitting iters from the key would silently serve a
    * differently-trained model to an explicit-iters caller. */
  def model(spark: SparkSession, dir: String, m: Int = 8,
            k: Int = 16, iters: Int = 2): (Array[Int], Pq.PqModel) =
    Memo("opq.model", dir, m, k, iters) {
      val perm = balancedPerm(Tables.embeddings(spark, dir), m)
      (perm, Pq.train(permutedCorpus(spark, dir, perm), m, k, iters))
    }

  // ---------- full OPQ: learned ORTHOGONAL rotation (Ge 2013 §3.2) ----------

  /** Permutation matrix for [[balancedPerm]] — `z = R x` with
    * `z(p) = x(perm(p))`; the alternation's starting point (already
    * orthogonal, already variance-balanced). */
  def permMatrix(perm: Array[Int]): Rotation.Mat = {
    val n = perm.length
    val r = Array.fill(n, n)(0.0)
    var p = 0
    while (p < n) { r(p)(perm(p)) = 1.0; p += 1 }
    r
  }

  private def encodeLocal(z: Array[Double], mod: Pq.PqModel): Array[Int] =
    Array.tabulate(mod.m) { s =>
      var best = 0; var bd = Double.MaxValue
      var j = 0
      while (j < mod.k) {
        var d = 0.0; var t = 0
        while (t < mod.subDim) {
          val diff = z(s * mod.subDim + t) - mod.books(s)(j)(t); d += diff * diff; t += 1
        }
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      best
    }

  private def decodeLocal(code: Array[Int], mod: Pq.PqModel): Array[Double] = {
    val out = new Array[Double](mod.m * mod.subDim)
    var s = 0
    while (s < mod.m) {
      System.arraycopy(mod.books(s)(code(s)), 0, out, s * mod.subDim, mod.subDim)
      s += 1
    }
    out
  }

  private def corpusVectors(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, e.map(_.toDouble)) }
  }

  /** Non-parametric OPQ alternation (Ge et al. 2013 §3.2): repeat
    *   (1) fix R, train the PQ codebooks on the rotated corpus Z = R·X;
    *   (2) fix the codes, update R = Procrustes(M) with M = Σ ẑ xᵀ
    *       (ẑ = decode(encode(R x)) — the reconstruction in rotated space),
    *       the closed-form argmin over orthogonal R of ‖R X − Ẑ‖_F
    *       (Schönemann 1966).
    * Each M accumulation is ONE distributed pass (mapPartitions folding a
    * 64×64 array, treeReduce-style combine); the eigen/Procrustes math is
    * O(dim³) driver work on a 64×64 matrix. Init = the balanced
    * PERMUTATION, so the learned rotation can only improve on the
    * axis-aligned variant. At 10^10 rows one would train on a sample —
    * both passes are linear scans, the model is O(dim² + m·k·subDim). */
  /** The trained OPQ state: the learned rotation, the codebooks for the
    * FINAL rotation, and the measured per-alternation distortion
    * Σ‖R·x − ẑ‖² — the objective both alternation steps minimize, whose
    * NON-INCREASE is the convergence guarantee of OPQ-NP and the property
    * the spec gates (each step is an exact argmin of the shared
    * objective, so the sequence can only descend). */
  final case class OpqModel(r: Rotation.Mat, pq: Pq.PqModel, distortions: Seq[Double])

  def trainRotation(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
                    alternations: Int = 3, iters: Int = 2): OpqModel = {
    import spark.implicits._
    val xs = corpusVectors(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val dim = 64
    var r: Rotation.Mat = permMatrix(balancedPerm(Tables.embeddings(spark, dir), m))
    var mod: Pq.PqModel = null
    val dists = scala.collection.mutable.ArrayBuffer.empty[Double]
    var a = 0
    while (a < alternations) {
      val bcR = spark.sparkContext.broadcast(r)
      val rotated = xs.map { case (id, x) => (id, Rotation.applyTo(bcR.value, x)) }
        .toDF("vec_id", "embedding")
      mod = Pq.train(rotated, m, k, iters,
        init = Option(mod).map(_.books))
      val bcMod = spark.sparkContext.broadcast(mod)
      // M = Σ ẑ xᵀ and the distortion Σ‖z − ẑ‖², one pass: per-partition
      // dense accumulate, then a driver fold in PARTITION-ID order — not
      // treeReduce, whose arrival-order float sums wobble M by ~1e-12 and
      // Procrustes turns that into a visibly different rotation along the
      // near-zero singular directions (see DetAgg's scaladoc). Collect is
      // O(partitions · dim²) — a few MB for any sane training sample.
      val partials = xs.rdd.mapPartitionsWithIndex { (pid, it) =>
        val acc = Array.fill(dim, dim)(0.0)
        var err = 0.0
        val rr = bcR.value; val md = bcMod.value
        it.foreach { case (_, x) =>
          val z = Rotation.applyTo(rr, x)
          val zh = decodeLocal(encodeLocal(z, md), md)
          var i = 0
          while (i < dim) {
            val zi = zh(i)
            val d = z(i) - zi
            err += d * d
            if (zi != 0.0) {
              var j = 0
              while (j < dim) { acc(i)(j) += zi * x(j); j += 1 }
            }
            i += 1
          }
        }
        Iterator.single((pid, acc, err))
      }.collect().sortBy(_._1)
      val mMat = Array.fill(dim, dim)(0.0)
      var dist = 0.0
      partials.foreach { case (_, acc, err) =>
        var i = 0
        while (i < dim) {
          var j = 0
          while (j < dim) { mMat(i)(j) += acc(i)(j); j += 1 }
          i += 1
        }
        dist += err
      }
      dists += dist
      r = Rotation.procrustes(mMat)
      a += 1
    }
    // final codebooks refined against the final rotation (warm-started)
    val bcR = spark.sparkContext.broadcast(r)
    val rotated = xs.map { case (id, x) => (id, Rotation.applyTo(bcR.value, x)) }
      .toDF("vec_id", "embedding")
    mod = Pq.train(rotated, m, k, iters, init = Option(mod).map(_.books))
    xs.unpersist(blocking = false)
    OpqModel(r, mod, dists.toSeq)
  }

  def rotationModel(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
                    alternations: Int = 3, iters: Int = 2): OpqModel =
    Memo("opq.rotation_model", dir, m, k, alternations, iters)(
      trainRotation(spark, dir, m, k, alternations, iters))

  /** The rotation model and its rotated code table — an index artifact
    * (built once, like `Pq.cachedCodes`): rotation + encode happen at BUILD
    * time; the query scan still reads 8-byte codes only. Keyed on the FULL
    * training recipe (incl. alternations/iters), the model's own: a key
    * missing the training knobs would silently serve codes encoded under a
    * differently-trained rotation (ADVICE r4). */
  private def rotatedCodes(spark: SparkSession, dir: String, m: Int, k: Int,
                           alternations: Int, iters: Int): (OpqModel, DataFrame) = {
    val om = rotationModel(spark, dir, m, k, alternations, iters)
    (om, Memo.inSession(spark, "opq.rotation_codes", dir, m, k, alternations, iters) {
      import spark.implicits._
      val bcR = spark.sparkContext.broadcast(om.r)
      val bcMod = spark.sparkContext.broadcast(om.pq)
      corpusVectors(spark, dir)
        .map { case (id, x) =>
          (id, encodeLocal(Rotation.applyTo(bcR.value, x), bcMod.value))
        }
        .toDF("vec_id", "code")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    })
  }

  /** Parquet artifact for the OPQ model — rotation rows + codebooks +
    * the training trace, like `Pq.saveModel`/`Ann.saveModel`: a new
    * session serves queries from the artifact instead of re-running the
    * alternation. */
  def saveModel(spark: SparkSession, om: OpqModel, path: String): Unit = {
    import spark.implicits._
    om.r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("i", "r_row").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/rotation")
    Pq.saveModel(spark, om.pq, s"$path/codebooks")
    om.distortions.zipWithIndex.map { case (d, a) => (a, d) }
      .toDF("alternation", "distortion").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/distortions")
  }

  def loadModel(spark: SparkSession, path: String): OpqModel = {
    val r = spark.read.parquet(s"$path/rotation").orderBy("i").collect()
      .map(_.getSeq[Double](1).toArray)
    val pq = Pq.loadModel(spark, s"$path/codebooks")
    val dists = spark.read.parquet(s"$path/distortions").orderBy("alternation")
      .collect().map(_.getDouble(1)).toSeq
    OpqModel(r, pq, dists)
  }

  /** ADC top-k under the LEARNED rotation: the query rotates on the driver
    * (O(dim²)), the scan is the unchanged 8 B/vector ADC walk. */
  def rotatedAdcTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
                     kTop: Int = 10, m: Int = 8, k: Int = 16,
                     alternations: Int = 3, iters: Int = 2): DataFrame =
    rotatedAdcTopKWith(spark, dir, Pq.queryVec(spark, dir, queryId), queryId,
      kTop, m, k, alternations, iters)

  private def rotatedAdcTopKWith(spark: SparkSession, dir: String, q: Array[Double],
                                 queryId: Long, kTop: Int, m: Int, k: Int,
                                 alternations: Int, iters: Int): DataFrame = {
    val (om, codes) = rotatedCodes(spark, dir, m, k, alternations, iters)
    val qRot = Rotation.applyTo(om.r, q)
    codes
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(Pq.adcScore(qRot, om.pq), 6).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id").asc)
      .limit(kTop)
  }

  /** ADC top-k over OPQ codes: identical scan shape to [[Pq.adcTopK]] —
    * the permutation is applied to the query on the driver and to the
    * corpus inside the (cached) encode expression; the code scan itself is
    * byte-for-byte the same 8 B/vector ADC walk. */
  // the permuted-encode CODE TABLE is an index artifact like Pq.cachedCodes:
  // built once per (corpus, geometry), lineage truncated — re-encoding (and
  // re-analyzing the permute×encode expression tree, whose sub-distances
  // each duplicate the 64-element gather) per query cost ~0.9 s at sf0.1.
  // Keyed on the FULL training recipe (incl. iters), the model's own — a
  // key missing the training knobs would silently serve codes encoded under
  // a differently-trained model (the ADVICE r4 defect class)
  private def permutedCodes(spark: SparkSession, dir: String, m: Int, k: Int,
                            iters: Int): ((Array[Int], Pq.PqModel), DataFrame) = {
    val (perm, mod) = model(spark, dir, m, k, iters)
    ((perm, mod), Memo.inSession(spark, "opq.perm_codes", dir, m, k, iters)(
      permutedCorpus(spark, dir, perm)
        .select(col("vec_id"), Pq.encodeExpr(col("embedding"), mod).as("code"))
        .localCheckpoint(true)))
  }

  def adcTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
              kTop: Int = 10, m: Int = 8, k: Int = 16): DataFrame =
    adcTopKWith(spark, dir, Pq.queryVec(spark, dir, queryId), queryId, kTop, m, k)

  /** q-threading variant (see [[Pq.exactRerank]]): the rerank composition
    * fetches the query vector once and shares it across both stages. */
  private def adcTopKWith(spark: SparkSession, dir: String, q: Array[Double],
                          queryId: Long, kTop: Int, m: Int, k: Int,
                          iters: Int = 2): DataFrame = {
    val ((perm, mod), codes) = permutedCodes(spark, dir, m, k, iters)
    val qPerm = perm.map(q)
    codes
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(Pq.adcScore(qPerm, mod), 6).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id").asc)
      .limit(kTop)
  }

  /** OPQ-allocated ADC pre-score → exact re-rank (the q73 tier's gate
    * composition, [[Pq.exactRerank]]): the top-C of [[adcTopK]]'s
    * permutation-coded scan feed the exact cosine re-rank; at a sufficient
    * C the output equals the brute-force ranking. */
  def adcRerankTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
                    kTop: Int = 10, candidates: Int = 100,
                    m: Int = 8, k: Int = 16, iters: Int = 2): DataFrame = {
    val q = Pq.queryVec(spark, dir, queryId)
    Pq.exactRerank(spark, dir, q,
      adcTopKWith(spark, dir, q, queryId, candidates, m, k, iters), kTop)
  }

  /** Learned-rotation ADC pre-score → exact re-rank (the q75 tier's gate
    * composition): candidates from [[rotatedAdcTopK]]'s rotated-code index
    * scan, floats touched only for the re-rank. */
  def rotatedAdcRerankTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
                           kTop: Int = 10, candidates: Int = 100,
                           m: Int = 8, k: Int = 16,
                           alternations: Int = 3, iters: Int = 2): DataFrame = {
    val q = Pq.queryVec(spark, dir, queryId)
    Pq.exactRerank(spark, dir, q,
      rotatedAdcTopKWith(spark, dir, q, queryId, candidates, m, k, alternations, iters), kTop)
  }
}
