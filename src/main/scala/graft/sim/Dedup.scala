package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Deduplication + similarity-join operators for the document corpus.
  *
  * Centerpiece: the reference's simhash LSH bucket join (simhashbucket:77-180,
  * implementing Manku et al. WWW'07) — split a 64-bit fingerprint into
  * ⌈64/(k+1)⌉-bit bands (k=3 → 4 bands × 16 bits, simhashbucket:132-140),
  * candidate pairs = equal in ≥1 band, verified by popcount(XOR) ≤ k
  * (simhashbucket:114-116). The reference runs one OS process per band with
  * queues; here each side explodes into (band, chunk) rows and ONE shuffle
  * equi-join on (band, chunk) replaces the N-process pipeline. The Hamming
  * verify is `bit_count(xor)` — built-in, codegen'd, no UDF.
  *
  * Scale notes (100 TB): the band-explode multiplies rows by 4 but each band
  * key is 16 bits appended with the band index, so the join key space is
  * ~2^18 × data skew of equal fingerprints. AQE skew-join handles hot buckets
  * (e.g. the all-zeros fingerprint); the verify filter runs inside the join's
  * whole-stage-codegen, and `a < b` dedups the pair space before the shuffle
  * output grows.
  */
object Dedup {

  /** Deterministic 64-bit content fingerprint derivable in any engine:
    * the top 60 bits of md5(text), via hex → decimal conversion. Plays the
    * role of the reference's stored 64-bit simhash (crxfile.sql:31) where an
    * engine-portable oracle is needed; `graft.functions.Simhash64` is the
    * real similarity-preserving fingerprint (no SQL-portable equivalent).
    * 15 hex digits = 60 bits, always non-negative in a signed 64-bit long. */
  def md5Fingerprint(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Band-LSH self-join on a fingerprint column: emits candidate document
    * pairs (a < b) whose fingerprints agree in at least one of `bands`
    * chunks, verified Hamming(fp_a, fp_b) <= maxDist.
    *
    * Geometry follows Manku et al. WWW'07 (simhashbucket:132-140): bands =
    * maxDist+1 exact-match chunks guarantee every pair at dist <= maxDist
    * shares a band. Two scale/recall extensions beyond the reference:
    *
    *  - `multiProbe`: the probe side also joins on every Hamming-1 neighbor
    *    of each chunk (chunk XOR one bit). By pigeonhole this makes recall
    *    EXACT out to dist <= 2*bands - 1 (if every band differed in >= 2
    *    bits the total distance would be >= 2*bands) — the right way to
    *    widen a sparse corpus's candidate set; shrinking the chunk space
    *    would quadratize the join instead.
    *  - `capPerBucket`: at most `cap` rows per (band, chunk) bucket (ordered
    *    by id, deterministic). A degenerate hot bucket (e.g. the all-zeros
    *    fingerprint of empty documents) would otherwise produce
    *    O(occupancy^2) pairs; the cap bounds candidates to
    *    O(N * bands * (1 + multiProbe*bitsPerBand) * cap) — linear in N.
    */
  def lshSelfJoin(df: DataFrame, idCol: String, fpCol: String,
                  bands: Int = 4, bitsPerBand: Int = 16, maxDist: Int = 3,
                  multiProbe: Boolean = false, capPerBucket: Int = 0): DataFrame = {
    // explode into (band, chunk): chunk i = bits [i*bpb, (i+1)*bpb);
    // unsigned shift so negative (full-64-bit) fingerprints band correctly
    val mask = (1L << bitsPerBand) - 1
    val exploded = df
      .select(col(idCol).as("id"), col(fpCol).cast("long").as("fp"))
      .withColumn("band", explode(array((0 until bands).map(lit): _*)))
      .withColumn("chunk", expr(s"shiftrightunsigned(fp, band * $bitsPerBand) & ${mask}L"))
    val capped =
      if (capPerBucket <= 0) exploded
      else {
        import org.apache.spark.sql.expressions.Window
        exploded
          .withColumn("__bn", row_number().over(
            Window.partitionBy("band", "chunk").orderBy("id")))
          .filter(col("__bn") <= capPerBucket)
          .drop("__bn")
      }
    val aBase = capped.select(col("id").as("id_a"), col("fp").as("fp_a"), col("band"), col("chunk"))
    val a =
      if (!multiProbe) aBase
      else aBase
        .withColumn("__flip",
          explode(array((lit(0L) +: (0 until bitsPerBand).map(i => lit(1L << i))): _*)))
        .withColumn("chunk", col("chunk").bitwiseXOR(col("__flip")))
        .drop("__flip")
    val b = capped.select(col("id").as("id_b"), col("fp").as("fp_b"), col("band"), col("chunk"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int").as("dist"))
      .distinct() // a pair can match in multiple bands (unique_justseen, simhashbucket:179-180)
  }

  /** Simhash-candidates → EXACT n-gram-Jaccard verify → top-k pairs: the
    * reference's two-stage near-dup discipline (simhashbucket's banded
    * candidates, then a verify pass) composed so the output is
    * ORACLE-GATEABLE (q50): the band join over the real `simhash64`
    * fingerprint (Manku 4×16 geometry, Hamming-1 multi-probe — recall
    * EXACT out to dist ≤ 7 by pigeonhole) supplies candidate pairs; only
    * those pairs get the exact shingle-Jaccard (same shingle lineage +
    * hot-shingle cap as [[ngramJaccard]]), and the top-k by Jaccard must
    * equal the ALL-PAIRS Jaccard top-k whenever every true top-k pair
    * sits within the banded radius — measured on the test corpus: the
    * top-20 Jaccard pairs have simhash dist ≤ 4 (sf0.001) / ≤ 7 (sf0.01),
    * all within the ≤ 7 guarantee. At scale the Jaccard join touches
    * O(candidates) pairs, not O(N²) — the banding IS the scan-scale
    * lever, the verify is exact. */
  def simhashVerifiedTopPairs(spark: SparkSession, dir: String, kTop: Int = 20,
                              maxDocFreq: Long = 50L): DataFrame = {
    // spread: simhash64 tokenizes + hashes every document — heavy per-row
    // work on an unsplittable single-partition scan (Tables.spread doc)
    val docs = Tables.spread(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash64(col("text")).as("fp"))
    val cand = lshSelfJoin(docs, "doc_id", "fp", bands = 4, bitsPerBand = 16,
      maxDist = 7, multiProbe = true, capPerBucket = 10000)
      .select("id_a", "id_b")
    // exact Jaccard restricted to the candidate pairs: the SHARED shingle
    // lineage of ngramJaccard (rareShingles — the q14/q50 oracles replay
    // the same definition, so the two must stay in lockstep), but the
    // intersection join runs THROUGH the broadcast candidate list —
    // O(|cand| · shingles/doc), never all-pairs
    val (shingles, sizes) = rareShingles(spark, dir, maxDocFreq)
    val inter = broadcast(cand)
      .join(shingles.select(col("doc_id").as("id_a"), col("shingle")), "id_a")
      .join(shingles.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")), 4)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc)
      .limit(kTop)
  }

  /** Two-sided band-LSH join (queries × fingerprint corpus) — the shape of
    * the reference's SimhashBucket probe (build corpus band tables, probe
    * queries, simhashbucket:104-116) as ONE explode + equi-join per side.
    * Both sides explode into (band, chunk); candidates verified by
    * popcount ≤ maxDist. Right side carries passenger columns through. */
  def lshJoin(left: DataFrame, leftId: String, right: DataFrame, rightId: String,
              fpCol: String, bands: Int = 4, bitsPerBand: Int = 16, maxDist: Int = 3): DataFrame = {
    val mask = (1L << bitsPerBand) - 1
    def exploded(df: DataFrame, idAs: String, fpAs: String, idCol: String) = df
      .withColumn("band", explode(array((0 until bands).map(lit): _*)))
      .withColumn("chunk", expr(s"shiftrightunsigned($fpCol, band * $bitsPerBand) & ${mask}L"))
      .withColumnRenamed(idCol, idAs)
      .withColumnRenamed(fpCol, fpAs)
    val l = exploded(left, "__lid", "__lfp", leftId)
    val r = exploded(right, "__rid", "__rfp", rightId)
    l.join(r, Seq("band", "chunk"))
      .filter(bit_count(col("__lfp").bitwiseXOR(col("__rfp"))) <= maxDist)
      .withColumn("dist", bit_count(col("__lfp").bitwiseXOR(col("__rfp"))).cast("int"))
      .drop("band", "chunk", "__lfp", "__rfp")
      .withColumnRenamed("__lid", leftId)
      .withColumnRenamed("__rid", rightId)
      .distinct()
  }

  /** The COMPOSED library-detection pipeline — simhashbucket's main chain
    * (simhashbucket:251-287): corpus scan ⋈ query scan → exact-hash matches
    * (MD5Table, :53-74) ∪ band-LSH matches (SimhashBucket, :77-180) →
    * greedy newest-first rollup (:259-287). One query, three operators,
    * exactly how an operator of the reference runs it end to end.
    *
    * Corpus = every 5th document (lib/version/add_date derived
    * deterministically); queries = the rest. Exact tier keys on
    * md5(text head); LSH tier on the 60-bit md5 fingerprint. */
  def libraryDetection(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread( // two md5 fingerprints per row ≫ the 2-column scan
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        md5Fingerprint(substring(col("text"), 1, 30)).as("fp"),
        md5(substring(col("text"), 1, 20)).as("fh"))
    val corpus = d.filter(col("doc_id") % 5 === 0)
      .select(
        concat(lit("lib"), (col("doc_id") % 20).cast("string")).as("lib"),
        concat(lit("v"), (col("doc_id") % 7).cast("string")).as("version"),
        concat(lit("2024-01-"), lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0")).as("add_date"),
        col("doc_id").as("corpus_id"), col("fp"), col("fh"))
    val queries = d.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("query_id"), col("fp"), col("fh"))
    // exact tier (J9): content-hash equi-join, the MD5Table path
    val exact = queries.select(col("query_id"), col("fh"))
      .join(corpus.select(col("lib"), col("version"), col("add_date"), col("fh")), "fh")
      .select("lib", "version", "add_date", "query_id")
    // LSH tier (J10): banded fingerprint join
    val lsh = lshJoin(
      queries.select(col("query_id"), col("fp")), "query_id",
      corpus.select(col("corpus_id"), col("lib"), col("version"), col("add_date"), col("fp")), "corpus_id",
      "fp")
      .select("lib", "version", "add_date", "query_id")
    // merged match stream, deduped (unique_justseen, simhashbucket:179-180),
    // then the newest-first rollup (window-argmax production form)
    greedyNewestFirstRollup(exact.union(lsh).distinct())
  }

  /** Heuristic library detection BEYOND hash match — the reference's regex
    * evidence tier (js_decomposer.py:409-502): when the content hash misses
    * the known-library DB, filename/comment regexes identify the library,
    * and every match carries `detect_method` provenance so downstream
    * consumers know the evidence grade. Precedence is per FILE, as in the
    * reference's decomposer: a hash hit ends detection for that file; only
    * hash-missed files fall to the regex tier (anti-join on doc_id).
    * Scale shape: the known-hash dim is tiny (broadcast equi-join); the
    * regex tier is one codegen'd scan of the hash-missed remainder —
    * never a re-scan per rule. */
  def libraryDetectRegexTier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), md5(substring(col("text"), 1, 20)).as("fh"))
    // known-library hash DB: prefix hashes of every 50th doc (the reference
    // builds its DB from known release files the same way)
    val dim = docs.filter(col("doc_id") % 50 === 0)
      .select(concat(lit("lib"), col("doc_id").cast("string")).as("lib"), col("fh"))
    val q = docs.filter(col("doc_id") % 50 =!= 0)
    val hashHits = q.join(broadcast(dim), "fh")
      .select(col("doc_id"), col("lib"), lit("md5").as("detect_method"))
    val rules = Seq("sparkkit" -> "\\bspark\\b", "windowlib" -> "\\bwindow\\b")
    val ruleStructs = rules.map { case (lib, rx) =>
      struct(lit(lib).as("lib"), col("text").rlike(rx).as("hit"))
    }
    val regexHits = q
      .join(hashHits.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), explode(array(ruleStructs: _*)).as("r"))
      .filter(col("r.hit"))
      .select(col("doc_id"), col("r.lib").as("lib"), lit("regex").as("detect_method"))
    hashHits.unionByName(regexHits)
  }

  /** Exact dedup by content hash — the reference's md5-keyed comment/category
    * dedup tables (db.py:195,240-251): keep min doc_id per md5(text). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("fingerprint"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dups"))

  /** Simhash-LSH near-dup candidates over documents using the portable
    * md5-derived fingerprint of the text head (prefix-collisions make the
    * candidate space non-trivial; oracle-checkable). */
  def lshHammingJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread( // md5 fingerprint per row ≫ the 2-column scan
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), md5Fingerprint(substring(col("text"), 1, 30)).as("fp"))
    lshSelfJoin(docs, "doc_id", "fp")
  }

  /** MinHash signature per document: K independent min-hashes over word
    * 3-gram shingles. Engine-portable hash: md5(seed || shingle) string-min.
    * shingle→minhash→band→bucket-join is the standard near-dup pipeline;
    * one explode + one groupBy (partial agg does the per-partition min). */
  def minhashSignatures(docs: DataFrame, k: Int = 8): DataFrame = {
    val words = docs.select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
    // word 3-gram shingles: words[i] ~ words[i+2] joined by space
    val shingles = words
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(words) - 3), i -> concat_ws(' ', words[i], words[i+1], words[i+2]))")).as("shingle"))
      .distinct()
    minhashFromShingles(shingles, k)
  }

  /** Signatures over a prepared distinct (doc_id, shingle) frame. */
  private def minhashFromShingles(shingles: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map(i => min(md5(concat(lit(s"s$i|"), col("shingle")))).as(s"mh$i"))
    shingles.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH near-dup candidate pairs: signatures banded 2 hashes per
    * band; pairs agreeing on any band. Verified downstream by n-gram Jaccard
    * if exactness is needed. Round 6: the signature pass reads the SAME
    * cached shingle lineage as [[rareShingles]] (identical definition —
    * word 3-grams of ≥3-word docs, distinct per doc) instead of minting its
    * own explode+distinct shuffle; the signatures are unchanged. */
  def minhashLsh(spark: SparkSession, dir: String, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val sig = minhashFromShingles(allShingles(spark, dir), k)
    val nBands = k / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat(parts: _*)).as("bkey"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bc"))
      .select(col("doc_id"), col("bc.band").as("band"), col("bc.bkey").as("bkey"))
    val a = banded.select(col("doc_id").as("id_a"), col("band"), col("bkey"))
    val b = banded.select(col("doc_id").as("id_b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** A5/W5 — greedy newest-first rollup (simhashbucket:259-287): per lib,
    * walk versions newest-add_date-first and assign each query id to the
    * first (newest) version it appears under; emit (lib, version, add_date,
    * n_queries).
    *
    * PRODUCTION PLAN: the greedy walk's "first version a query appears
    * under, scanning newest-first" is exactly the per-(lib, query) argmax of
    * (add_date, version) — so the scale-safe formulation is a window
    * `row_number = 1` + count: one shuffle, streaming window evaluation, no
    * group buffering. [[greedyNewestFirstRollupReference]] keeps the literal
    * stateful scan as a cross-check oracle in DedupSpec (it buffers whole
    * lib groups on one task — a hot lib would pin a single heap at scale).
    */
  def greedyNewestFirstRollup(matches: DataFrame): DataFrame = {
    // round 6: the argmax is an AGGREGATE, not a window — max(struct(
    // add_date, version)) compares fieldwise, which IS the (add_date desc,
    // version desc) rank-1 row, and partial (map-side) aggregation collapses
    // each (lib, query_id) group before the exchange where the window form
    // shuffled and sorted EVERY match row (guide §2.3 "aggregate before you
    // shuffle"). Ties on (add_date, version) are value-identical, so the
    // rollup counts are unchanged.
    matches
      .select(col("lib").cast("string"), col("version").cast("string"),
        col("add_date").cast("string"), col("query_id").cast("long"))
      .groupBy("lib", "query_id")
      .agg(max(struct(col("add_date"), col("version"))).as("__m"))
      .groupBy(col("lib"), col("__m.version").as("version"), col("__m.add_date").as("add_date"))
      .agg(count(lit(1)).as("n_queries"))
  }

  /** The literal order-dependent stateful scan of simhashbucket:273-284 —
    * test-only reference semantics for [[greedyNewestFirstRollup]]. */
  def greedyNewestFirstRollupReference(matches: DataFrame): DataFrame = {
    val spark = matches.sparkSession
    import spark.implicits._
    matches
      .select(col("lib").cast("string"), col("version").cast("string"),
        col("add_date").cast("string"), col("query_id").cast("long"))
      .as[(String, String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (lib, it) =>
        // newest add_date first, version desc tiebreak, query asc — a total
        // deterministic order (simhashbucket sorts the same way)
        val rows = it.toArray.sortBy { case (_, v, d, q) => (d, v) }(
          Ordering.Tuple2(Ordering.String.reverse, Ordering.String.reverse))
        val assigned = scala.collection.mutable.HashSet.empty[Long]
        val counts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
        rows.foreach { case (_, v, d, q) =>
          if (assigned.add(q)) {
            val k = (v, d)
            counts(k) = counts.getOrElse(k, 0L) + 1
          }
        }
        counts.iterator.map { case ((v, d), n) => (lib, v, d, n) }
      }
      .toDF("lib", "version", "add_date", "n_queries")
  }

  /** n-gram Jaccard similarity join over word 3-gram shingle sets: exact
    * set-overlap similarity for pairs sharing ≥1 shingle. |A∩B| from the
    * shingle equi-join, |A∪B| = |A|+|B|−|A∩B|. Threshold keeps the pair
    * space bounded.
    *
    * `maxDocFreq` caps the shingle universe: shingles appearing in more
    * documents are dropped BEFORE the join (and before the set sizes, so
    * Jaccard stays well-defined over the rare-shingle universe). At corpus
    * scale a stop-phrase shingle ("of the and") otherwise lands its whole
    * posting list on one reducer — the hot set is tiny by construction, so
    * it excludes via a broadcast anti-join, never a shuffle of the rare
    * mass. */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.8,
                   maxDocFreq: Long = 50L): DataFrame = {
    val (shingles, sizes) = rareShingles(spark, dir, maxDocFreq)
    val inter = shingles.select(col("doc_id").as("id_a"), col("shingle"))
      .join(shingles.select(col("doc_id").as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    // the thresholded pair frame is TINY (near-dup pairs only) but its
    // lineage is the posting-list self-join — the most expensive exchange in
    // the text tier. It feeds multiple consumers (q90 unions it twice for
    // both edge orientations, q84/q85 close it transitively), so persist it
    // like rareShingles: O(pairs) rows cached vs the self-join re-run per
    // consumer (round-6; same discipline as the round-2 q14 fix).
    graft.core.CacheScope.persist(
      inter
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
        .withColumn("jaccard",
          round(col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")), 4))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  }

  /** Near-dup CLUSTER dedup (q84): connected components over the exact
    * n-gram-Jaccard near-dup graph, each document mapped to its component's
    * canonical representative (the min `doc_id`) — the step a training-data
    * pipeline runs AFTER pair detection: near-dups come in CHAINS (A~B,
    * B~C with A≁C), so keeping "one of each pair" over-keeps; the component
    * is the dedup unit and one survivor per component is the policy.
    *
    * Edges are [[ngramJaccard]]'s thresholded pairs — recall is EXACT by
    * construction (any pair with Jaccard > 0 shares ≥1 rare shingle, so the
    * posting-list equi-join emits it; no banded-radius caveat), which is
    * what makes the whole query oracle-gateable: DuckDB replays the same
    * pair SQL and closes it transitively with a recursive CTE.
    *
    * Components via hash-min label propagation: every doc starts as its own
    * rep; each round takes the min rep over itself and its neighbors; the
    * fixpoint labels each doc with its component's min id. Rounds =
    * component DIAMETER — near-dup clusters are tiny dense blobs (diameter
    * 1-3), so 2-4 rounds in practice; each round is ONE equi-join shuffle
    * of (edges ⋈ labels) + a min-aggregate, and `localCheckpoint` truncates
    * the per-round lineage so the plan stays O(1) deep. (For adversarial
    * long-chain graphs the published fix is large-star/small-star
    * [Kiveris 2014], which halves paths per round — not needed for the
    * near-dup workload.) Singletons pass through with rep = self, so the
    * output is total over `documents` (one row per doc). */
  def neardupComponents(spark: SparkSession, dir: String, threshold: Double = 0.5,
                        maxDocFreq: Long = 50L, maxIters: Int = 25): DataFrame = {
    val edges = ngramJaccard(spark, dir, threshold, maxDocFreq).select("id_a", "id_b")
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    componentLabels(nodes, edges, maxIters)
      .withColumnRenamed("id", "doc_id")
  }

  /** Generic hash-min connected components over any node/edge frame (the
    * q84 propagation, factored so the image near-dup tier (q95) runs the
    * SAME distributed closure over string image ids): `nodes` is one `id`
    * column, `edges` is (`id_a`, `id_b`) of the same type; any orderable id
    * type works — the min label is the component representative. Output is
    * total over `nodes`: (id, rep_id, cluster_size), singletons rep
    * themselves. An edge endpoint missing from `nodes` is left out of the
    * output, but it still links its neighbors during propagation: edges
    * (1, 9) and (9, 3) with 9 not a node put 1 and 3 in one component of
    * size 2, with rep 1 (a rep is always a node). Callers that need
    * components over `nodes` alone pass edges with both endpoints in
    * `nodes`. Per-round cost: one equi-join shuffle + a min-aggregate;
    * rounds = component diameter; `localCheckpoint` truncates the lineage
    * so the plan stays O(1) deep regardless of rounds. */
  private[graft] def componentLabels(nodes: DataFrame, edges: DataFrame,
                                     maxIters: Int = 25): DataFrame = {
    // eager localCheckpoint, not persist: every round's nmin/next plan embeds
    // this frame, and with a persist that meant re-optimizing (and cache-
    // matching) the FULL upstream pair-join tree twice per round on the
    // driver — with 2-4 rounds per call that planning time rivaled the
    // actual execution. Checkpointed, each round plans against a tiny
    // LogicalRDD scan (round 6; same rationale as Pq's IVF-PQ index note).
    val sym = edges.union(edges.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint(true)
    val initial = nodes
      .select(col("id"), col("id").as("rep"))
      .localCheckpoint(true)
    var labels = initial

    /** One propagation unit over a (id, rep, chg) frame: neighbor-min as a
      * single union + aggregate — next(id) = min(rep(id), min over
      * neighbors rep(nbr)); the node's own row is tagged so the aggregate
      * recovers the previous rep for change detection (the former
      * join-aggregate-join chain shipped the same rows through one more
      * exchange per unit, guide §2.4) — then, when `withJump`, POINTER
      * JUMPING: rep := rep(rep), so label chains halve per unit and deep
      * graphs finish in O(log diameter) units instead of O(diameter)
      * (Shiloach-Vishkin compression; the q108 embedding graph measured
      * diameter ~9 at threshold 0.40). rep values are always node ids, so
      * the jump lookup is total; min-propagation is monotone, so extra
      * units never move the fixpoint (the component min). */
    def unit(lbl: DataFrame, withJump: Boolean): DataFrame = {
      val stepped = sym
        .join(lbl.select(col("id").as("id_b"), col("rep").as("rep")), "id_b")
        .select(col("id_a").as("id"), col("rep"), lit(false).as("own"), lit(false).as("chg"))
        .unionByName(lbl.select(col("id"), col("rep"), lit(true).as("own"), col("chg")))
        .groupBy("id").agg(
          min("rep").as("rep"),
          min(when(col("own"), col("rep"))).as("__prev"),
          max("chg").as("__chg"))
        // no own row (null __prev): an edge endpoint missing from `nodes`
        // got its first label, a change that must keep the loop going
        .select(col("id"), col("rep"),
          (col("__chg") || coalesce(col("rep") =!= col("__prev"), lit(true))).as("chg"))
      if (!withJump) stepped
      else stepped.as("s")
        .join(stepped.select(col("id").as("__rid"), col("rep").as("__rrep")).as("t"),
          col("s.rep") === col("__rid"), "left")
        .select(col("s.id").as("id"),
          coalesce(col("__rrep"), col("s.rep")).as("rep"),
          (col("s.chg") ||
            coalesce(col("__rrep"), col("s.rep")) =!= col("s.rep")).as("chg"))
    }

    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // ADAPTIVE schedule (round 6, measured): the common near-dup blob has
      // diameter 1-2 and converges inside two plain neighbor-min steps —
      // any extra machinery there is pure loss (a jump join per round
      // measured q84 0.70 → 1.18 s). Only a graph still changing after two
      // steps is genuinely deep, and for those each subsequent job runs
      // TWO jump-compressed units: per-round frames are small relative to
      // the fixed job/stage latency, so batching two units under one
      // checkpoint+count halves the job count for the same join work, and
      // the jump (Shiloach-Vishkin) makes covered distance grow
      // geometrically. `chg` ORs across both units, so convergence
      // detection is unchanged.
      val s2 =
        if (iter < 2) unit(labels.withColumn("chg", lit(false)), withJump = false)
        else if (iter == 2) unit(labels.withColumn("chg", lit(false)), withJump = true)
        else unit(unit(labels.withColumn("chg", lit(false)), withJump = true),
          withJump = true)
      // LAZY localCheckpoint: still truncates the per-iteration lineage
      // (the plan references `labels`/`stepped` multiply, so an
      // untruncated plan grows exponentially), but defers materialization
      // to the convergence count — ONE job per iteration materializes the
      // checkpoint AND answers convergence (the former eager-checkpoint +
      // isEmpty pair ran two jobs per round).
      val next = s2.localCheckpoint(false)
      converged = next.filter(col("chg")).count() == 0L
      labels = next.drop("chg")
      iter += 1
    }
    require(converged, s"hash-min components did not converge in $maxIters rounds")
    // the neighbor-min union also labels edge endpoints missing from
    // `nodes`; the semi-join against the checkpointed initial labels drops
    // them without re-running the `nodes` plan. Cluster sizes as one window
    // count over the converged labels (round 6): the former aggregate +
    // join-back re-shuffled the labels twice for the same per-rep count the
    // window computes in its single exchange
    labels.join(initial.select("id"), Seq("id"), "left_semi")
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("rep")))
      .select(col("id"), col("rep").as("rep_id"), col("cluster_size"))
  }

  /** The rare-shingle lineage SHARED by [[ngramJaccard]] and
    * [[simhashVerifiedTopPairs]] (the q14/q50 oracles both replay this
    * exact definition, so the two must stay in lockstep): distinct word
    * 3-gram shingles per doc with hot shingles (df > `maxDocFreq`)
    * excluded via broadcast anti-join, plus the per-doc rare-shingle set
    * sizes. Both the explode+distinct lineage and the filtered set persist
    * once — they feed multiple consumers (hot census, sizes, join sides),
    * and unpersisted Spark re-runs the shuffle per consumer (round-2 bench
    * regression: q14 2.77→3.80 s). The hot set is tiny by construction, so
    * it excludes via broadcast, never a shuffle of the rare mass. */
  private[graft] def rareShingles(spark: SparkSession, dir: String,
                                  maxDocFreq: Long): (DataFrame, DataFrame) = {
    val all = allShingles(spark, dir)
    val hot = all.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select("shingle")
    val shingles = graft.core.CacheScope.persist(
      all.join(broadcast(hot), Seq("shingle"), "left_anti"),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // the per-doc set-size frame persists too (round 6): one row per doc,
    // consumed by q14's Jaccard denominators AND q50's verify join — each
    // run otherwise re-aggregates the cached shingle frame for it
    val sizes = graft.core.CacheScope.persist(
      shingles.groupBy("doc_id").agg(count(lit(1)).as("n")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    (shingles, sizes)
  }

  /** The distinct (doc_id, word-3-gram) frame every shingle consumer
    * (q14/q15/q50 and the hot-shingle census) shares — persisted once. The
    * corpus scan is SPREAD before the explode ([[Tables.spread]] doc): the
    * single-row-group input would otherwise tokenize + explode the whole
    * corpus on one task before the distinct's exchange. */
  private[graft] def allShingles(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.spread(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
    graft.core.CacheScope.persist(words
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(words) - 3), i -> concat_ws(' ', words[i], words[i+1], words[i+2]))")).as("shingle"))
      .distinct(),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  }
}
