package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.text.TextAnalysis

/** Training-data preparation operators (LLM-pipeline mandate; no reference
  * analog — the reference stops at archive+analysis, a training pipeline
  * needs these two steps between curation and the trainer):
  *
  *  - a deterministic, leakage-free dataset SPLIT: assignment is a pure
  *    function of the stable document id (never of row order, partitioning,
  *    or sampling state), so re-runs, backfills, and incremental appends
  *    all route a given document to the same fold — the property that
  *    prevents train/test leakage across pipeline versions;
  *  - sequence PACKING: the standard next-fit concat-and-chunk packer that
  *    turns variable-length documents into fixed-token-budget training
  *    packs, per source, in stable id order.
  *
  * Both are single-pass, fully declarative (codegen'd projections + one
  * window shuffle), and DuckDB-expressible end to end — q88/q89 hash-gate
  * the complete semantics.
  */
object TrainPrep {

  /** q88 — deterministic hash split. `bucket` = first 6 hex digits of
    * md5(doc_id) mod 100 (md5 so the DuckDB oracle can replay it exactly;
    * 24 bits is plenty for a 100-way split). Default 80/10/10.
    *
    * Scale shape: a pure projection — no shuffle, no state, embarrassingly
    * parallel at any corpus size; the split of 100 TB costs one scan. The
    * per-source balance (hash uniformity ⇒ every stratum splits ~80/10/10
    * without a stratified pass) is asserted in TrainPrepSpec. */
  /** The shared md5 hash bucket (first 6 hex digits mod `buckets`) — the
    * one deterministic hash both engines can compute bit-identically, so
    * every hash-routed decision (fold split, DSIR feature bucket) stays
    * inside the DuckDB gate. The SQL twin is [[hashBucketSql]]. */
  def hashBucket(c: Column, buckets: Int): Column =
    conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long") % buckets

  def hashBucketSql(expr: String, buckets: Int): String =
    s"CAST(('0x' || substr(md5(CAST($expr AS VARCHAR)), 1, 6)) AS BIGINT) % $buckets"

  def datasetSplit(spark: SparkSession, dir: String,
                   trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bucket = hashBucket(col("doc_id"), 100).as("bucket")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  def datasetSplitOracleSql(trainPct: Int = 80, valPct: Int = 10): String =
    s"""WITH b AS (SELECT doc_id, source,
       |  ${hashBucketSql("doc_id", 100)} AS bucket
       |  FROM documents)
       |SELECT doc_id, source, bucket,
       |  CASE WHEN bucket < $trainPct THEN 'train'
       |       WHEN bucket < ${trainPct + valPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b""".stripMargin

  /** q89 — next-fit sequence packing: per source, documents in stable id
    * order fill fixed `budget`-token packs; a document starts the next pack
    * when the running total before it has crossed the current pack's budget
    * (the streaming concat-and-chunk discipline — deterministic, one
    * boundary rule, no bin-packing search). Output is the per-pack manifest
    * (doc count, token total, fill ratio) a trainer's data loader consumes.
    *
    * Scale shape: token counts are a codegen'd projection (q19's
    * whitespace tokenizer); the only shuffle is the per-source window, and
    * `source` is the natural partition key of the corpus — at 100 TB the
    * cumulative sum runs partition-local after a single hash exchange. */
  def packSequences(spark: SparkSession, dir: String, budget: Int = 2048): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // bucket = floor(cum/budget) encodes the boundary rule, but a doc
      // longer than the budget SKIPS bucket values — dense_rank renumbers
      // to contiguous pack ids so a loader iterating 0..max never hits a
      // phantom empty pack. Same source partitioning → no extra shuffle.
      .withColumn("pack_bucket", floor(col("cum_before") / budget.toDouble).cast("long"))
      .withColumn("pack_id",
        (dense_rank().over(Window.partitionBy("source").orderBy("pack_bucket")) - 1).cast("long"))
      .groupBy("source", "pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("pack_tokens"),
        round(sum("n_tokens") / lit(budget.toDouble), 4).as("fill_ratio"))
  }

  /** q90 — train/eval DECONTAMINATION: the check a training pipeline runs
    * after splitting — an eval (val/test) document that near-duplicates a
    * train document leaks the answer into the training set and poisons the
    * benchmark. Composes q88's fold assignment with q14's exact
    * n-gram-Jaccard pair machinery (recall exact by the rare-shingle
    * construction): every cross-split near-dup edge is oriented
    * train→eval, and each contaminated eval document reports its WORST
    * offender (max Jaccard, ties to the smallest train id).
    *
    * Scale shape: reuses q14's posting-list equi-join (hot-shingle capped,
    * never all-pairs); the fold columns join onto the pair list — O(pairs)
    * rows, so both joins stay broadcast-size at any corpus scale where the
    * near-dup rate is sane; one final window shuffle on eval_id over the
    * contaminated subset only. Fully DuckDB-expressible, so the composed
    * semantics (pair set × fold assignment × argmax policy) are hash-gated
    * end to end. */
  def decontamination(spark: SparkSession, dir: String,
                      threshold: Double = 0.5): DataFrame = {
    val pairs = graft.sim.Dedup.ngramJaccard(spark, dir, threshold)
    val split = datasetSplit(spark, dir).select(col("doc_id"), col("split"))
    val edges = pairs
      .select(col("id_a").as("train_id"), col("id_b").as("eval_id"), col("jaccard"))
      .unionByName(pairs
        .select(col("id_b").as("train_id"), col("id_a").as("eval_id"), col("jaccard")))
    val w = Window.partitionBy("eval_id")
      .orderBy(col("jaccard").desc, col("train_id").asc)
    edges
      .join(split.select(col("doc_id").as("train_id"), col("split").as("train_split")), "train_id")
      .join(split.select(col("doc_id").as("eval_id"), col("split").as("eval_split")), "eval_id")
      .filter(col("train_split") === "train" && col("eval_split") =!= "train")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("eval_id", "eval_split", "train_id", "jaccard")
  }

  /** q92's default target mixture — explicit per-source rates plus a
    * default for unlisted sources. Rates are binary-exact doubles so the
    * oracle's CASE arms compare exactly. */
  val DefaultMixture: Seq[(String, Double)] =
    Seq("src0" -> 1.0, "src1" -> 0.25, "src2" -> 0.5)
  val DefaultMixtureRate = 0.75

  /** q92 — deterministic MIXTURE SAMPLING: given target per-source keep
    * rates (the "data mixture" a training run specifies), decide keep/drop
    * per document as a pure function of the stable doc id — a salted hash
    * bucket (`md5("mix:" || doc_id)` mod 10000) compared against the
    * source's rate. The salt decorrelates the sampling decision from q88's
    * fold hash, so sampling is independent of the split; like q88,
    * re-runs/backfills/appends can never flip a document's decision.
    *
    * Scale shape: a pure codegen projection — no shuffle, no state, no
    * sampling RNG to coordinate across executors; re-mixing 100 TB costs
    * one scan, and the achieved rate converges to the target by hash
    * uniformity (asserted in TrainPrepSpec). */
  def mixtureSample(spark: SparkSession, dir: String,
                    weights: Seq[(String, Double)] = DefaultMixture,
                    default: Double = DefaultMixtureRate): DataFrame = {
    val bucket = (conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
      .cast("long") % 10000).as("bucket")
    val rate = weights.foldRight(lit(default)) { case ((s, w), tail) =>
      when(col("source") === s, lit(w)).otherwise(tail)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), bucket)
      .withColumn("rate", rate)
      .withColumn("kept", col("bucket") < col("rate") * 10000)
  }

  def mixtureSampleOracleSql(weights: Seq[(String, Double)] = DefaultMixture,
                             default: Double = DefaultMixtureRate): String = {
    val arms = weights.map { case (s, w) => s"WHEN source = '$s' THEN $w" }.mkString(" ")
    s"""WITH b AS (SELECT doc_id, source,
       |  CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10000 AS bucket
       |  FROM documents)
       |SELECT doc_id, source, bucket,
       |  CAST(CASE $arms ELSE $default END AS DOUBLE) AS rate,
       |  bucket < CAST(CASE $arms ELSE $default END AS DOUBLE) * 10000 AS kept
       |FROM b""".stripMargin
  }

  /** q93 — exact N-GRAM COLLISION decontamination (the GPT-3/Pile-style
    * complement to q90's Jaccard check): an eval document is contaminated
    * to the degree its word n-grams appear verbatim ANYWHERE in the train
    * fold. Reports, per eval document, its distinct n-gram count, how many
    * of them collide with the train side, and the collision ratio.
    *
    * Unlike pairwise near-dup detection this needs NO pair join at all:
    * the train side collapses to its DISTINCT n-gram set first, and eval
    * n-grams probe it with one equi-join — output is O(eval n-grams), so
    * hot n-grams cannot blow the join up quadratically and no frequency
    * cap is needed (capping would silently change the semantics).
    *
    * Verified plan shape (executedPlan at sf0.001): Catalyst pushes the
    * fold predicate THROUGH the distinct into both parquet scans — the
    * train subtree's scan carries the `bucket < 80` DataFilter and the
    * eval subtree's its complement, so each side tokenizes/explodes ONLY
    * its own fold (one corpus pass in total, not two). At 100 TB that
    * leaves: two shingle-distinct shuffles (each over one fold's
    * n-grams), one hash join keyed on the n-gram, one aggregate keyed on
    * the eval doc. */
  def ngramCollisions(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val (trainNgrams, evalShingles) = collisionSides(spark, dir, n)
    collisionRollup(evalShingles.join(trainNgrams, Seq("shingle"), "left"))
  }

  /** The two sides of the collision probe, shared by q93 (exact) and q99
    * (bloom-prefiltered): the DISTINCT train n-gram set (with a constant
    * `hit` marker) and the per-(eval doc, shingle) probe rows. */
  private def collisionSides(spark: SparkSession, dir: String, n: Int): (DataFrame, DataFrame) = {
    val terms = (0 until n).map(j => s"words[i+$j]").mkString(", ")
    // spread: the n-gram explode multiplies the single-row-group scan ~50×
    // before the distinct's exchange (Tables.spread doc)
    val words = Tables.spread(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= n)
    val shingles = words.select(col("doc_id"),
      explode(expr(s"transform(sequence(0, size(words) - $n), i -> concat_ws(' ', $terms))"))
        .as("shingle")).distinct()
    val folds = datasetSplit(spark, dir).select(col("doc_id"), col("split"))
    // the distinct TRAIN n-gram set persists (CacheScope): it feeds q93's
    // probe join AND q99's bloom build + verify join, and its lineage is
    // the train fold's whole shingle mint (the rareShingles shared-lineage
    // discipline). The shingle frame itself deliberately does NOT persist —
    // that would block the fold predicate from pushing into the corpus
    // scans (each side must explode only its own fold; see the q93 doc).
    val trainNgrams = graft.core.CacheScope.persist(
      shingles.join(folds.filter(col("split") === "train"), "doc_id")
        .select("shingle").distinct().withColumn("hit", lit(1)),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val evalShingles = shingles.join(folds.filter(col("split") =!= "train"), "doc_id")
    (trainNgrams, evalShingles)
  }

  /** Per-eval-doc rollup over (doc_id, split, shingle, hit) probe results. */
  private def collisionRollup(probed: DataFrame): DataFrame =
    probed
      .groupBy(col("doc_id").as("eval_id"), col("split").as("eval_split"))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("hit")).as("n_collided"),
        round(count(col("hit")).cast("double") / count(lit(1)), 4).as("collision_ratio"))

  def ngramCollisionsOracleSql(n: Int = 5): String = {
    val terms = (1 to n).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= $n),
       |sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(list_transform(range(0, len(ws) - ${n - 1}), i -> $terms)) AS shingle FROM w)),
       |sp AS (SELECT doc_id,
       |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 80 THEN 'train'
       |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split FROM documents),
       |tr AS (SELECT DISTINCT shingle FROM sh JOIN sp ON sp.doc_id = sh.doc_id AND sp.split = 'train'),
       |ev AS (SELECT sh.doc_id, sp.split, sh.shingle FROM sh JOIN sp ON sp.doc_id = sh.doc_id AND sp.split <> 'train')
       |SELECT ev.doc_id AS eval_id, ev.split AS eval_split,
       |  count(*) AS n_shingles, count(tr.shingle) AS n_collided,
       |  round(CAST(count(tr.shingle) AS DOUBLE) / count(*), 4) AS collision_ratio
       |FROM ev LEFT JOIN tr ON tr.shingle = ev.shingle
       |GROUP BY 1, 2""".stripMargin
  }

  /** q99 — BLOOM-PREFILTERED n-gram decontamination: q93's semantics with
    * the 100 TB shuffle lever in front. A blocked Bloom filter is built once
    * over the train fold's distinct n-grams (the [[graft.frontier.SeenSet]]
    * `treeReduce` build — Spark's partial aggregation IS the distributed
    * build) and shipped to executors as a codegen'd
    * `bloom_might_contain` scan predicate; only eval n-grams that PASS the
    * probe (true collisions + the ε false-positive tail) enter the exact
    * verify join, and probe misses — definitively absent from train, blooms
    * have no false negatives — skip the exchange entirely with a null `hit`.
    *
    * Because the miss branch is exactly the join's no-match outcome, the
    * composition is BIT-IDENTICAL to q93 at any filter size, so it gates on
    * q93's exact-SQL oracle (the q70 rerank-equality pattern): a false
    * negative anywhere in build/serialize/probe would drop a collision and
    * move the hash. The filter is sized from an upper bound (docs ×
    * `maxShinglesPerDoc`) — sizing affects only the FP rate, never the
    * result — and memoized per (corpus, n, maxShinglesPerDoc) in
    * [[graft.core.Memo]] like the ANN models.
    *
    * Scale math: the eval→train equi-join is q93's dominant exchange (all
    * eval n-grams shuffle). With contamination at c and bloom FP at ε, the
    * prefiltered exchange carries (c + ε) of that volume — for a typical
    * c ≈ 1-5%, a 20-100× cut — while the bloom itself is ~10 bits per train
    * n-gram broadcast once per executor. */
  def bloomNgramCollisions(spark: SparkSession, dir: String, n: Int = 5,
                           maxShinglesPerDoc: Int = 128): DataFrame = {
    val (trainNgrams, evalShinglesRaw) = collisionSides(spark, dir, n)
    // the probe/!probe branches would otherwise re-execute the eval shingle
    // mint + fold join twice, so the shingles persist once
    val evalShingles = graft.core.CacheScope.persist(evalShinglesRaw)
    val bloom = graft.core.Memo("trainprep.decon_bloom", dir, n, maxShinglesPerDoc) {
      import spark.implicits._
      val expected = Tables.documents(spark, dir).count() * maxShinglesPerDoc
      graft.frontier.SeenSet.buildFilter(trainNgrams.select(xxhash64(col("shingle"))).as[Long],
        () => graft.frontier.BlockedBloom.sized(expected))
    }
    val probe = graft.frontier.FilterProbe.might(bloom, xxhash64(col("shingle")))
    val maybe = evalShingles.filter(probe).join(trainNgrams, Seq("shingle"), "left")
    val miss = evalShingles.filter(!probe).withColumn("hit", lit(null).cast("int"))
    collisionRollup(maybe.unionByName(miss))
  }

  /** q94 — intra-document REPETITION statistics (the Gopher-style quality
    * rule q18's length/stopword features don't cover): a document whose
    * text is dominated by one repeated word or by duplicated word n-grams
    * is boilerplate/spam, not prose. Per document:
    *  - `top_word_frac`  = occurrences of the most frequent word / words;
    *  - `dup_ngram_ratio` = 1 − distinct 3-grams / total 3-grams;
    *  - `repetitive`      = either ratio past its threshold.
    *
    * The synthetic corpus has no heavy repetition, so the operator PLANTS
    * it deterministically (the q67/q87/q91 closed-form pattern): every
    * doc_id % 5 == 0 doc gets its first word appended 48 more times
    * (docs span 10-100 words, so 49/(n+48) >= 0.33 clears the top-word
    * threshold and the repeated run's ~46 identical 3-grams clear the
    * dup-ngram threshold at every corpus size) — the
    * planted docs land far past both thresholds, the rest far below, and
    * the oracle replays the identical planting, so the tokenize → count →
    * threshold semantics are all inside the hash gate.
    *
    * Scale shape: two partial-aggregated explode→count passes (words,
    * 3-grams) joined on doc_id — each is one shuffle keyed by the doc id,
    * no pair joins, no state; the metric of a 100 TB corpus is one scan
    * per tokenization. */
  def repetitionStats(spark: SparkSession, dir: String,
                      maxTopWordFrac: Double = 0.3,
                      maxDupNgramRatio: Double = 0.2): DataFrame = {
    val planted = Tables.spread( // two explode passes below ≫ the scan
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), repeat(concat(lit(" "), element_at(split(col("text"), " "), 1)), 48)))
          .otherwise(col("text")).as("text"))
    val words = planted.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val wordStats = words.groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_words"),
        max("c").as("max_word"))
    val grams = planted
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
        .as("shingle"))
    val gramStats = grams.groupBy("doc_id").agg(
      count(lit(1)).as("n_grams"),
      countDistinct(col("shingle")).as("n_distinct_grams"))
    wordStats.join(gramStats, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_words"),
        round(col("max_word").cast("double") / col("n_words"), 4).as("top_word_frac"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(round(lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"), 4), lit(0.0))
          .as("dup_ngram_ratio"))
      .withColumn("repetitive",
        col("top_word_frac") > maxTopWordFrac || col("dup_ngram_ratio") > maxDupNgramRatio)
  }

  def repetitionStatsOracleSql(maxTopWordFrac: Double = 0.3,
                               maxDupNgramRatio: Double = 0.2): String =
    s"""WITH base AS (SELECT doc_id,
       |  CASE WHEN doc_id % 5 = 0 THEN text || repeat(' ' || string_split(text, ' ')[1], 48)
       |       ELSE text END AS text FROM documents),
       |wc AS (SELECT doc_id, word, count(*) AS c FROM (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM base) GROUP BY 1, 2),
       |ws AS (SELECT doc_id, sum(c) AS n_words, max(c) AS max_word FROM wc GROUP BY 1),
       |g AS (SELECT doc_id, unnest(list_transform(range(0, len(ws) - 2),
       |    i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM base WHERE len(string_split(text, ' ')) >= 3)),
       |gs AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT shingle) AS n_distinct_grams FROM g GROUP BY 1),
       |j AS (SELECT ws.doc_id, CAST(ws.n_words AS BIGINT) AS n_words,
       |  round(CAST(ws.max_word AS DOUBLE) / ws.n_words, 4) AS top_word_frac,
       |  CAST(COALESCE(gs.n_grams, 0) AS BIGINT) AS n_grams,
       |  COALESCE(round(1.0 - CAST(gs.n_distinct_grams AS DOUBLE) / gs.n_grams, 4), 0.0) AS dup_ngram_ratio
       |  FROM ws LEFT JOIN gs ON gs.doc_id = ws.doc_id)
       |SELECT *, top_word_frac > $maxTopWordFrac OR dup_ngram_ratio > $maxDupNgramRatio AS repetitive
       |FROM j""".stripMargin

  def packSequencesOracleSql(budget: Int = 2048): String =
    s"""WITH t AS (SELECT doc_id, source,
       |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM t),
       |d AS (SELECT *, CAST(floor(cum_before / $budget.0) AS BIGINT) AS pack_bucket FROM c),
       |e AS (SELECT *, dense_rank() OVER (PARTITION BY source ORDER BY pack_bucket) - 1 AS pack_id FROM d)
       |SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
       |  count(*) AS n_docs, sum(n_tokens) AS pack_tokens,
       |  round(sum(n_tokens) / $budget.0, 4) AS fill_ratio
       |FROM e GROUP BY 1, 2""".stripMargin
}
