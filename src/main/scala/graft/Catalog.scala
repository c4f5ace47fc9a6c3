package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sim.{Ann, Dedup}
import graft.text.TextAnalysis
import graft.views.ViewQueries

/** Central registry: operator name → (Spark plan, DuckDB oracle SQL).
  *
  * Every operator from SURVEY.md §2 that is SQL-expressible carries an oracle
  * run by the driver on the same parquet tables; non-SQL-expressible ops
  * (custom expressions, crawl scheduling) register without an oracle and are
  * covered by ScalaTest specs instead.
  */
object Catalog {
  type Q = (SparkSession, String) => DataFrame

  final case class Entry(fn: Q, oracle: Option[String])

  // DuckDB-portable word-3gram shingle CTE fragment (mirrors Dedup shingles)
  private val shingleCte =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(0, len(ws) - 2), i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle FROM w))""".stripMargin

  // Rare-shingle pair machinery shared by every Jaccard-pair oracle
  // (q14/q50/q84/q85/q90) — mirrors Dedup.rareShingles + ngramJaccard. The
  // hot-shingle cap and the Jaccard threshold are written ONCE here; editing
  // a per-query copy out of lockstep with the Scala defaults is impossible.
  private def rareShingleCtes(maxDocFreq: Int = 50): String =
    s"""shc AS (SELECT * FROM sh WHERE shingle NOT IN (
       |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > $maxDocFreq)),
       |sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
       |it AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  private def jaccardPairsCte(name: String, threshold: Option[Double] = Some(0.5)): String = {
    val where = threshold
      .map(t => s"\n  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) >= $t")
      .getOrElse("")
    s"""$name AS (SELECT id_a, id_b, round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
       |  FROM it JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b$where)""".stripMargin
  }

  val entries: Seq[(String, Entry)] = Seq(

    // ---- aggregation / classification (SURVEY §2.4) ----
    "q01_pricing_summary" -> Entry(ViewQueries.pricingSummary, Some(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_base_price,
        |round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |round(avg(l_discount), 6) AS avg_disc, count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    "q08_status_counts" -> Entry(ViewQueries.statusCounts, Some(
      """SELECT count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |count(*) FILTER (WHERE event_type = 'error') AS n_error,
        |count(*) AS n_total, count(DISTINCT user_id) AS n_users FROM events""".stripMargin)),

    "q28_source_profile" -> Entry(TextAnalysis.sourceProfile, Some(
      """SELECT source, count(*) AS n_docs,
        |CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split(trim(text), ' ')) END) AS BIGINT) AS total_tokens,
        |round(avg(length(text)), 2) AS avg_chars FROM documents GROUP BY source""".stripMargin)),

    // ---- window views (SURVEY §2.5, database/views/*.sql) ----
    "q02_most_recent" -> Entry(ViewQueries.mostRecent, Some(
      """SELECT user_id, event_id, event_type, value FROM (
        |SELECT user_id, event_id, event_type, value,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events) t WHERE rn = 1""".stripMargin)),

    "q03_second_most_recent" -> Entry(ViewQueries.secondMostRecent, Some(
      """SELECT user_id, event_id, event_type, value FROM (
        |SELECT user_id, event_id, event_type, value,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events) t WHERE rn = 2""".stripMargin)),

    "q04_asof_most_recent" -> Entry((s, d) => ViewQueries.asOfMostRecent(s, d), Some(
      """SELECT user_id, event_id, event_type, value FROM (
        |SELECT user_id, event_id, event_type, value,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') t WHERE rn = 1""".stripMargin)),

    "q05_update_intervals" -> Entry(ViewQueries.updateIntervals, Some(
      """SELECT user_id, event_id, prev_type, event_type FROM (
        |SELECT user_id, event_id, event_type,
        |lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
        |FROM events) t WHERE prev_type IS NOT NULL AND prev_type <> event_type""".stripMargin)),

    "q27_value_deltas" -> Entry(ViewQueries.valueDeltas, Some(
      """SELECT user_id, event_id, round(value - prev_value, 2) AS value_delta FROM (
        |SELECT user_id, event_id, value,
        |lag(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_value
        |FROM events) t WHERE prev_value IS NOT NULL""".stripMargin)),

    // ---- joins (SURVEY §2.3) ----
    "q06_added_items" -> Entry(ViewQueries.addedItems, Some(
      """WITH ranked AS (SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders),
        |latest AS (SELECT o_custkey, o_orderkey FROM ranked WHERE rn = 1),
        |prev AS (SELECT o_custkey, o_orderkey AS prev_orderkey FROM ranked WHERE rn = 2),
        |pairs AS (SELECT l.o_custkey, l.o_orderkey, p.prev_orderkey FROM latest l JOIN prev p USING (o_custkey))
        |SELECT DISTINCT pr.o_custkey, pr.o_orderkey, li.l_partkey
        |FROM pairs pr JOIN lineitem li ON li.l_orderkey = pr.o_orderkey
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem li2
        |  WHERE li2.l_orderkey = pr.prev_orderkey AND li2.l_partkey = li.l_partkey)""".stripMargin)),

    "q12_brand_rollup" -> Entry(ViewQueries.brandRollup, Some(
      """SELECT p_brand, count(*) AS n_items, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""".stripMargin)),

    "q11_seen_anti_join" -> Entry((s, d) => {
      // candidate ids (discovered) anti-joined against the seen set — THE
      // URL-seen dedup (discover.py:68); ids are md5-derived as in F5
      val cand = Tables.customer(s, d)
        .select(substring(md5(col("c_custkey").cast("string")), 1, 8).as("id")).distinct()
      val seen = Tables.events(s, d)
        .select(substring(md5(col("user_id").cast("string")), 1, 8).as("id")).distinct()
      cand.join(seen, Seq("id"), "left_anti")
    }, Some(
      """SELECT id FROM (SELECT DISTINCT substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) AS id FROM customer) t
        |WHERE id NOT IN (SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 8) FROM events)""".stripMargin)),

    // ---- sorts / top-k (SURVEY §2.6) ----
    "q07_top_k" -> Entry((s, d) => ViewQueries.topKOrders(s, d), Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    // ---- set ops (SURVEY §2.7) ----
    "q09_set_algebra" -> Entry(ViewQueries.setAlgebra, Some(
      """SELECT DISTINCT c_custkey AS entity_key FROM customer
        |EXCEPT SELECT DISTINCT user_id AS entity_key FROM events""".stripMargin)),

    // ---- dedup / similarity ----
    "q10_dedup_exact" -> Entry(Dedup.exactDedup, Some(
      """SELECT md5(text) AS fingerprint, min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin)),

    "q13_lsh_hamming_join" -> Entry(Dedup.lshHammingJoin, Some(
      """WITH fps AS (SELECT doc_id, ('0x' || substr(md5(substr(text, 1, 30)), 1, 15))::BIGINT AS fp FROM documents),
        |ex AS (SELECT doc_id, fp, band, (fp >> (band * 16)) & 65535 AS chunk
        |  FROM fps CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b)
        |SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(bit_count(xor(a.fp, c.fp)) AS INTEGER) AS dist
        |FROM ex a JOIN ex c ON a.band = c.band AND a.chunk = c.chunk AND a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.fp, c.fp)) <= 3""".stripMargin)),

    "q14_ngram_jaccard" -> Entry((s, d) => Dedup.ngramJaccard(s, d, 0.5), Some(
      s"""WITH $shingleCte,
         |${rareShingleCtes()},
         |${jaccardPairsCte("p")}
         |SELECT id_a, id_b, jaccard FROM p""".stripMargin)),

    "q15_minhash_lsh" -> Entry((s, d) => Dedup.minhashLsh(s, d), Some(
      s"""WITH $shingleCte,
         |sig AS (SELECT doc_id,
         |  min(md5('s0|' || shingle)) AS mh0, min(md5('s1|' || shingle)) AS mh1,
         |  min(md5('s2|' || shingle)) AS mh2, min(md5('s3|' || shingle)) AS mh3,
         |  min(md5('s4|' || shingle)) AS mh4, min(md5('s5|' || shingle)) AS mh5,
         |  min(md5('s6|' || shingle)) AS mh6, min(md5('s7|' || shingle)) AS mh7
         |  FROM sh GROUP BY doc_id),
         |band AS (
         |  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bkey FROM sig UNION ALL
         |  SELECT doc_id, 1, md5(mh2 || mh3) FROM sig UNION ALL
         |  SELECT doc_id, 2, md5(mh4 || mh5) FROM sig UNION ALL
         |  SELECT doc_id, 3, md5(mh6 || mh7) FROM sig)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM band a JOIN band b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin)),

    "q16_embedding_topk" -> Entry((s, d) => Ann.bruteForceTopK(s, d), Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
        |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)
        |SELECT vec_id, round(list_dot_product(emb, qe) /
        |  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qe, qe))), 6) AS cos_sim
        |FROM e, q WHERE vec_id <> 0 ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin)),

    // ---- text analysis ----
    "q17_lang_id" -> Entry(TextAnalysis.languageId, Some(
      """WITH s AS (SELECT doc_id,
        |  len(list_filter(string_split(trim(text), ' '), w -> list_contains(['der','die','und','ist','nicht'], w))) AS de_s,
        |  len(list_filter(string_split(trim(text), ' '), w -> list_contains(['the','a','is','and','of'], w))) AS en_s,
        |  len(list_filter(string_split(trim(text), ' '), w -> list_contains(['el','la','que','de','y'], w))) AS es_s,
        |  len(list_filter(string_split(trim(text), ' '), w -> list_contains(['le','la','et','les','des'], w))) AS fr_s
        |  FROM documents)
        |SELECT doc_id, CASE WHEN greatest(de_s, en_s, es_s, fr_s) = 0 THEN 'unknown'
        |  WHEN de_s >= en_s AND de_s >= es_s AND de_s >= fr_s THEN 'de'
        |  WHEN en_s >= es_s AND en_s >= fr_s THEN 'en'
        |  WHEN es_s >= fr_s THEN 'es' ELSE 'fr' END AS lang_pred FROM s""".stripMargin)),

    "q18_quality_score" -> Entry(TextAnalysis.quality, Some(
      """WITH t AS (SELECT doc_id, text, length(text) AS n,
        |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split(trim(text), ' ')) END AS nw
        |  FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars, CAST(nw AS BIGINT) AS n_words,
        |  round(CAST(n - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / greatest(n, 1), 4) AS punct_ratio,
        |  round(CAST(len(list_filter(string_split(trim(text), ' '), w -> list_contains(['the','a','of','and','to','in','is'], w))) AS DOUBLE) / greatest(nw, 1), 4) AS stopword_ratio,
        |  round(CAST(n - nw + 1 AS DOUBLE) / greatest(nw, 1), 4) AS mean_word_len FROM t""".stripMargin)),

    "q19_token_counts" -> Entry(TextAnalysis.tokenCounts, Some(
      """SELECT doc_id,
        |CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tokens,
        |CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> length(x) > 0)) AS BIGINT) AS n_subwords
        |FROM documents""".stripMargin)),

    "q20_fingerprints" -> Entry(TextAnalysis.fingerprints, Some(
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp FROM documents""")),

    // ---- scalar-function parity (SURVEY §2.8) ----
    "q21_prefix_histogram" -> Entry((s, d) =>
      Tables.documents(s, d)
        .select(substring(md5(col("doc_id").cast("string")), 1, 2).as("prefix"))
        .groupBy("prefix").agg(count(lit(1)).as("n_ids")), Some(
      """SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS prefix, count(*) AS n_ids
        |FROM documents GROUP BY 1""".stripMargin)),

    "q22_content_hashes" -> Entry((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        md5(col("text")).as("h_md5"), sha2(col("text"), 256).as("h_sha256")), Some(
      """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256 FROM documents""")),

    "q23_http_date" -> Entry((s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        date_format(col("o_orderdate"), "EEE, dd MMM yyyy HH:mm:ss 'GMT'").as("http_date")), Some(
      """SELECT o_orderkey, strftime(o_orderdate, '%a, %d %b %Y %H:%M:%S GMT') AS http_date FROM orders""")),

    "q24_regexp_extract" -> Entry((s, d) =>
      Tables.events(s, d).select(col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("k_str")), Some(
      """SELECT event_id, regexp_extract(props, '"k": (\d+)', 1) AS k_str FROM events""")),

    "q25_json_extract" -> Entry((s, d) =>
      Tables.events(s, d).select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k_val")), Some(
      """SELECT event_id, json_extract_string(props, '$.k') AS k_val FROM events""")),

    // ---- grouping sets / rollup (SURVEY §2.4 note: free via Spark SQL) ----
    "q26_rollup_agg" -> Entry((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n")), Some(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // ---- exploded child tables + frequency rollup (ETL, F16/A6) ----
    "q29_word_freq" -> Entry((s, d) => graft.etl.Etl.wordFrequency(s, d), Some(
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents) t
        |WHERE length(word) > 0 GROUP BY word HAVING count(*) >= 5""".stripMargin)),

    "q44_token_child_table" -> Entry((s, d) => graft.etl.Etl.tokenChildTable(s, d), Some(
      """SELECT DISTINCT doc_id, md5(word) AS token_md5, word AS token FROM (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word FROM documents) t
        |WHERE length(word) > 0""".stripMargin)),

    // ---- set ops: intersect + full-outer reconciliation (U3/U4) ----
    "q30_intersect" -> Entry((s, d) => {
      val known = Tables.customer(s, d).select(col("c_custkey").as("entity_key")).distinct()
      val active = Tables.events(s, d).select(col("user_id").as("entity_key")).distinct()
      known.intersect(active)
    }, Some(
      """SELECT DISTINCT c_custkey AS entity_key FROM customer
        |INTERSECT SELECT DISTINCT user_id AS entity_key FROM events""".stripMargin)),

    "q31_full_outer_reconcile" -> Entry((s, d) =>
      graft.etl.Etl.reconcile(
        Tables.customer(s, d).select(col("c_custkey").as("entity_key")),
        Tables.events(s, d).select(col("user_id").as("entity_key")), "entity_key"), Some(
      """SELECT coalesce(l.k, u.k) AS entity_key, l.k IS NOT NULL AS in_local,
        |u.k IS NOT NULL AS in_upstream
        |FROM (SELECT DISTINCT c_custkey AS k FROM customer) l
        |FULL OUTER JOIN (SELECT DISTINCT user_id AS k FROM events) u ON l.k = u.k""".stripMargin)),

    // ---- version compare (F17, LooseVersion → array-of-int compare) ----
    "q32_version_compare" -> Entry((s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        concat_ws(".", col("o_orderkey") % 5, col("o_orderkey") % 10, col("o_orderkey") % 7).as("version"))
        .withColumn("is_newer",
          expr("transform(split(version, '\\\\.'), x -> CAST(x AS INT)) > array(1, 5, 0)")), Some(
      """SELECT o_orderkey,
        |CAST(o_orderkey % 5 AS VARCHAR) || '.' || CAST(o_orderkey % 10 AS VARCHAR) || '.' || CAST(o_orderkey % 7 AS VARCHAR) AS version,
        |(o_orderkey % 5 > 1) OR (o_orderkey % 5 = 1 AND (o_orderkey % 10 > 5
        |  OR (o_orderkey % 10 = 5 AND o_orderkey % 7 > 0))) AS is_newer
        |FROM orders""".stripMargin)),

    // ---- transition detection (J13/W3: vulnerable→fixed analog) ----
    "q33_transition_counts" -> Entry((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type") === "error" && col("event_type") =!= "error")
        .groupBy("user_id").agg(count(lit(1)).as("n_recoveries"))
    }, Some(
      """SELECT user_id, count(*) AS n_recoveries FROM (
        |  SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
        |  FROM events) t
        |WHERE prev_type = 'error' AND event_type <> 'error' GROUP BY user_id""".stripMargin)),

    // ---- pivot contingency (A9: permission×evidence boolean-OR agg) ----
    "q34_pivot_contingency" -> Entry((s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"), col("view").as("n_view"), col("click").as("n_click"),
          col("purchase").as("n_purchase"), col("signup").as("n_signup"), col("error").as("n_error")), Some(
      """SELECT user_id,
        |count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY user_id""".stripMargin)),

    // ---- MERGE / last-wins upsert semantics (A8, S10) ----
    "q35_last_wins_upsert" -> Entry((s, d) => graft.etl.Etl.lastWins(s, d), Some(
      """SELECT user_id, event_type, event_id, value FROM (
        |SELECT user_id, event_type, event_id, value,
        |row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events) t WHERE rn = 1""".stripMargin)),

    // ---- URL canonicalization (F4; oracle = independently-computed canon) ----
    "q36_canonical_urls" -> Entry((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        graft.functions.GraftFunctions.canonicalizeUrl(
          concat(lit("HTTPS://Store-"), col("doc_id") % 16, lit(".Example.COM:443/detail/"),
            col("doc_id"), lit("/?b=2&a=1#frag"))).as("canon_url")), Some(
      """SELECT doc_id, 'https://store-' || CAST(doc_id % 16 AS VARCHAR) || '.example.com/detail/'
        ||| CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS canon_url FROM documents""".stripMargin)),

    // ---- custom-expression suite (F2/F14/F15 rolling, north-rule xxhash64):
    //      not SQL-expressible → rows-only check; exactness covered by
    //      ExpressionsSpec unit vectors ----
    "q37_fingerprint_suite" -> Entry((s, d) => {
      import graft.functions.GraftFunctions._
      Tables.documents(s, d).select(
        col("doc_id"),
        simhash64(col("text")).as("simhash"),
        shannonEntropy(col("text")).as("entropy"),
        (shannonEntropy(col("text")) > 2.0 &&
          length(regexp_replace(col("text"), "[^0-9]", "")) >= 5).as("likely_hash"),
        rollingMinHash(col("text"), lit(16)).as("rolling_fp"),
        xxhash64(canonicalizeUrl(concat(lit("https://x.example.com/d/"), col("doc_id")))).as("url_hash"))
    }, None),

    // ---- ANN / embedding similarity (scale path) ----
    // Oracle-checked now: the LSH bucket is integer-exact (Ann.lshBucket),
    // so DuckDB replays the identical bucket assignment + multi-probe
    // candidate set; cosine/top-k mirror the green q16 formulation. The
    // engine side stays ADAPTIVE (nPlanesFor(corpus) — pinning 4 planes at
    // sf0.1's 5,000 vectors put ~300 rows/bucket and slowed q39 1.6×); the
    // oracle SQL is GENERATED at the correctness gate's geometry,
    // nPlanesFor(500) = 4 for the sf0.01 embeddings table. If the driver
    // ever moves the gate off sf0.01 this reads as a loud row-count
    // mismatch, not a silent wrong answer.
    "q38_ann_lsh_topk" -> Entry((s, d) =>
      Ann.lshTopK(s, d, corpusSize = Tables.cachedCount(s, d, "embeddings")), Some(
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |b AS (SELECT vec_id, emb, ${Ann.bucketSql("emb", 4)} AS bucket FROM e),
         |q AS (SELECT emb AS qe, bucket AS qb FROM b WHERE vec_id = 0)
         |SELECT vec_id, round(list_dot_product(emb, qe) /
         |  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qe, qe))), 6) AS cos_sim
         |FROM b, q WHERE vec_id <> 0 AND bit_count(xor(bucket, qb)) <= 1
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin)),
    "q39_embedding_top_pairs" -> Entry((s, d) =>
      Ann.topPairs(s, d, corpusSize = Tables.cachedCount(s, d, "embeddings")), Some(
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |b AS (SELECT vec_id, emb, ${Ann.bucketSql("emb", 4)} AS bucket FROM e)
         |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |  round(list_dot_product(a.emb, c.emb) /
         |  (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cos_sim
         |FROM b a JOIN b c ON a.vec_id < c.vec_id AND bit_count(xor(a.bucket, c.bucket)) <= 1
         |ORDER BY cos_sim DESC, id_a ASC, id_b ASC LIMIT 50""".stripMargin)),

    // ---- multimodal payload validation (F18/input_hint; rows-only) ----
    "q40_image_validate" -> Entry((s, d) => graft.sources.Images.validateAndProfile(s, d), None),
    "q41_image_audit" -> Entry((s, d) => graft.sources.Images.auditSummary(s, d), None),

    // ---- simhash near-dup pairs (F2+J10 on the REAL similarity-
    //      preserving fingerprint), ORACLE-GATED since round 5: Manku
    //      geometry (4×16-bit bands = maxDist 3 + 1, simhashbucket:
    //      132-140) with Hamming-1 multi-probe generates the candidates
    //      (recall EXACT out to dist ≤ 7 by pigeonhole), an exact
    //      shingle-Jaccard verifies ONLY those pairs, and the top-20 must
    //      equal DuckDB's all-pairs Jaccard top-20 — valid because the
    //      measured top-20 Jaccard pairs sit at simhash dist ≤ 4
    //      (sf0.001) / ≤ 7 (sf0.01), inside the banded radius. The raw
    //      candidate tier (dist column, custom-expression geometry) stays
    //      covered by DedupSpec + the q37 fingerprint suite. ----
    "q50_simhash_neardup" -> Entry((s, d) =>
      Dedup.simhashVerifiedTopPairs(s, d), Some(
      s"""WITH $shingleCte,
         |${rareShingleCtes()},
         |${jaccardPairsCte("p", threshold = None)}
         |SELECT id_a, id_b, jaccard FROM p
         |ORDER BY jaccard DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin)),

    // ---- mincer (F12, Generator/flatMap; rows-only) ----
    "q42_mince_profile" -> Entry((s, d) => graft.text.Mincer.minceProfile(s, d), None),
    "q43_mince_blocks" -> Entry((s, d) => graft.text.Mincer.blocks(s, d), None),

    // ---- sessionization: gap-based sessions via window cumulative sum
    //      (the event-stream analog of the reference's per-run grouping of
    //      crawl timestamps into dated runs, archive.py:480) ----
    "q46_sessionization" -> Entry((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("sec", col("ts").cast("timestamp").cast("long"))
        .withColumn("gap_s", col("sec") - lag(col("sec"), 1).over(w))
        .withColumn("new_session",
          when(col("gap_s").isNull || col("gap_s") > 3600, 1L).otherwise(0L))
        .withColumn("session_no", sum("new_session").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_no")
        // exact decimal sum: double summation is order-sensitive and Spark's
        // partial-agg order ≠ DuckDB's scan order — groups near a .005
        // boundary would round differently (round-1 hash mismatch)
        .agg(count(lit(1)).as("n_events"),
          // accumulate exact (decimal), emit DOUBLE: the driver's pandas
          // comparator stringifies Spark parquet decimals as Decimal('3.10')
          // but DuckDB sums as float64 '3.1' — representation-stable output
          // type on both sides (round-2 hash_match=false with rows green)
          sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
    }, Some(
      """WITH e AS (SELECT user_id, event_id, value, ts,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |g AS (SELECT user_id, event_id, value, ts,
        |  sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_s
        |  FROM e),
        |s AS (SELECT user_id, event_id, value,
        |  CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 3600 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM g)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM s GROUP BY user_id, session_no""".stripMargin)),

    // ---- exact percentiles per group (monitoring distribution cuts) ----
    "q47_percentiles" -> Entry((s, d) =>
      Tables.events(s, d).groupBy("event_type").agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n")), Some(
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        |round(quantile_cont(value, 0.95), 4) AS p95, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin)),

    // ---- value histogram (fixed-width buckets, portable arithmetic) ----
    "q48_value_histogram" -> Entry((s, d) =>
      Tables.events(s, d)
        .select(floor(col("value") / 10.0).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n")), Some(
      """SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin)),

    // ---- correlation / covariance (stat aggregates over the series) ----
    "q49_correlation" -> Entry((s, d) =>
      Tables.lineitem(s, d).agg(
        round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
        round(covar_samp("l_discount", "l_tax"), 6).as("cov_disc_tax"),
        round(stddev_samp("l_extendedprice"), 4).as("sd_price")), Some(
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |round(covar_samp(l_discount, l_tax), 6) AS cov_disc_tax,
        |round(stddev_samp(l_extendedprice), 4) AS sd_price FROM lineitem""".stripMargin)),

    // ---- greedy newest-first rollup (A5/W5, simhashbucket:259-287):
    //      stateful sorted flatMapGroups; oracle = the equivalent
    //      argmax-per-(lib,query) formulation ----
    "q45_greedy_rollup" -> Entry((s, d) => {
      // spread BY THE AGG KEY before the broadcast join (round 6): the
      // single-row-group lineitem scan otherwise feeds the rollup's
      // SortAggregate through ONE task (max(struct) has a non-primitive
      // buffer, so the partial aggregate is sort-based — the whole 600k-row
      // sort + partial agg ran serially). Hash-partitioning on l_orderkey
      // (== query_id) both parallelizes the probe/sort AND satisfies the
      // (lib, query_id) aggregate's distribution through the alias, so the
      // rollup's own mid-plan exchange disappears — the spread IS the agg
      // exchange, moved before the join; serial sort → 32-way (guide
      // §2.4/§2.5; plans/r06/q45_greedy_rollup_{before,after}.txt).
      val m = Tables.spread(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate")), col("l_orderkey"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("lib"), col("p_type").as("version"),
          col("l_shipdate").cast("string").as("add_date"), col("l_orderkey").as("query_id"))
      Dedup.greedyNewestFirstRollup(m)
    }, Some(
      """WITH m AS (SELECT p_brand AS lib, p_type AS version, CAST(l_shipdate AS VARCHAR) AS add_date,
        |  l_orderkey AS query_id FROM lineitem JOIN part ON l_partkey = p_partkey),
        |r AS (SELECT lib, version, add_date, query_id,
        |  row_number() OVER (PARTITION BY lib, query_id ORDER BY add_date DESC, version DESC) AS rn FROM m)
        |SELECT lib, version, add_date, count(*) AS n_queries FROM r WHERE rn = 1
        |GROUP BY lib, version, add_date""".stripMargin))
  )

  // DuckDB fragment shared by q51/q52: the identical padded review payload +
  // indexed-path JSON explode (≤2 annotations per doc by construction)
  private val annotationCte =
    // NOTE: interpolated into s-strings that get stripMargin'd again, so no
    // line here may begin with '|' after this stripMargin (a leading || would
    // lose a pipe)
    """ann AS (SELECT doc_id, '{"author":"u' || CAST(doc_id % 7 AS VARCHAR) || '","comment":"' ||
      |  substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 24) ||
      |  '","rating":' || CAST(doc_id % 5 + 1 AS VARCHAR) || '}' AS a FROM documents),
      |p AS (SELECT doc_id, ')]}''' || chr(10) || '{"annotations":[' || a ||
      |  CASE WHEN doc_id % 3 = 0 THEN ',' || a ELSE '' END || ']}' AS payload FROM ann),
      |s AS (SELECT doc_id, substr(payload, strpos(payload, '{"')) AS body FROM p),
      |x AS (SELECT doc_id,
      |  json_extract_string(body, '$.annotations[' || i || '].author') AS author,
      |  json_extract_string(body, '$.annotations[' || i || '].comment') AS comment,
      |  CAST(json_extract(body, '$.annotations[' || i || '].rating') AS INTEGER) AS rating
      |  FROM s CROSS JOIN (SELECT unnest([0, 1]) AS i))""".stripMargin

  /** S6/F9 catalog rows appended after the round-1 block (keeps q-numbering
    * stable for the driver's per-round diffs). */
  val extraEntries: Seq[(String, Entry)] = Seq(
    // ---- S6 analog: padded review JSON → annotations explode → child
    //      tables with commentmd5 dedup (db.py:300-329, review.sql:23-35) ----
    "q51_annotations_explode" -> Entry((s, d) => graft.etl.Etl.annotationsExplode(s, d), Some(
      s"""WITH $annotationCte
         |SELECT DISTINCT doc_id, author, comment, rating, md5(comment) AS commentmd5
         |FROM x WHERE author IS NOT NULL""".stripMargin)),

    "q52_comment_table" -> Entry((s, d) => graft.etl.Etl.commentTable(s, d), Some(
      s"""WITH $annotationCte
         |SELECT md5(comment) AS commentmd5, min(comment) AS comment, count(*) AS n_refs
         |FROM x WHERE author IS NOT NULL GROUP BY md5(comment)""".stripMargin)),

    // ---- the COMPOSED library-detection pipeline (simhashbucket:251-287):
    //      corpus join → exact-md5 ∪ band-LSH match → greedy rollup, chained
    //      the way the reference's main runs it ----
    "q54_library_detection" -> Entry((s, d) => Dedup.libraryDetection(s, d), Some(
      """WITH d AS (SELECT doc_id, ('0x' || substr(md5(substr(text, 1, 30)), 1, 15))::BIGINT AS fp,
        |  md5(substr(text, 1, 20)) AS fh FROM documents),
        |corpus AS (SELECT 'lib' || CAST(doc_id % 20 AS VARCHAR) AS lib,
        |  'v' || CAST(doc_id % 7 AS VARCHAR) AS version,
        |  '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS add_date,
        |  doc_id AS corpus_id, fp, fh FROM d WHERE doc_id % 5 = 0),
        |q AS (SELECT doc_id AS query_id, fp, fh FROM d WHERE doc_id % 5 <> 0),
        |exact AS (SELECT c.lib, c.version, c.add_date, q.query_id FROM q JOIN corpus c USING (fh)),
        |qb AS (SELECT query_id, fp, band, (fp >> (band * 16)) & 65535 AS chunk
        |  FROM q CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b),
        |cb AS (SELECT lib, version, add_date, fp, band, (fp >> (band * 16)) & 65535 AS chunk
        |  FROM corpus CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b),
        |lsh AS (SELECT DISTINCT c.lib, c.version, c.add_date, qq.query_id
        |  FROM qb qq JOIN cb c ON qq.band = c.band AND qq.chunk = c.chunk
        |  WHERE bit_count(xor(qq.fp, c.fp)) <= 3),
        |m AS (SELECT * FROM exact UNION SELECT * FROM lsh),
        |r AS (SELECT lib, version, add_date, query_id,
        |  row_number() OVER (PARTITION BY lib, query_id ORDER BY add_date DESC, version DESC) AS rn FROM m)
        |SELECT lib, version, add_date, count(*) AS n_queries FROM r WHERE rn = 1
        |GROUP BY lib, version, add_date""".stripMargin)),

    // ---- P8: the 8-field overview metadata projection (db.py:100-187) ----
    "q53_overview_metadata" -> Entry((s, d) => graft.etl.Etl.overviewMetadata(s, d), Some(
      """WITH h AS (SELECT doc_id,
        |  '<meta itemprop="name" content="Doc ' || CAST(doc_id AS VARCHAR) || '"/>' ||
        |  '<span class="version">' || CAST(doc_id % 9 AS VARCHAR) || '.' || CAST(doc_id % 5 AS VARCHAR) || '</span>' ||
        |  CASE WHEN doc_id % 7 = 0 THEN '' ELSE
        |    '<meta itemprop="ratingValue" content="' || CAST(doc_id % 5 AS VARCHAR) || '.' || CAST(doc_id % 10 AS VARCHAR) || '"/>' END ||
        |  '<meta itemprop="ratingCount" content="' || CAST(doc_id % 1000 * 3 % 1000 AS VARCHAR) || '"/>' ||
        |  '<span class="users">' || format('{:,}', doc_id % 1000000 * 977 + 1000) || ' users</span>' ||
        |  '<a class="category" href="/cat/' || source || '">x</a>' ||
        |  '<meta itemprop="applicationCategory" content="cat_' || CAST(doc_id % 4 AS VARCHAR) || '"/>' ||
        |  '<div class="desc">' || substr(regexp_replace(text, '[<>"]', '', 'g'), 1, 40) || '</div>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  nullif(regexp_extract(html, '<meta itemprop="name" content="([^"]*)"', 1), '') AS name,
        |  nullif(regexp_extract(html, '<span class="version">([^<]*)', 1), '') AS version,
        |  CAST(nullif(regexp_extract(html, '<meta itemprop="ratingValue" content="([^"]*)"', 1), '') AS DOUBLE) AS rating,
        |  CAST(nullif(regexp_extract(html, '<meta itemprop="ratingCount" content="([^"]*)"', 1), '') AS INTEGER) AS ratingcount,
        |  CAST(replace(nullif(regexp_extract(html, '<span class="users">([0-9,]+) users', 1), ''), ',', '') AS BIGINT) AS downloads,
        |  nullif(regexp_extract(html, '<a class="category" href="/cat/([^"]*)"', 1), '') AS category,
        |  nullif(regexp_extract(html, '<meta itemprop="applicationCategory" content="([^"]*)"', 1), '') AS item_category,
        |  nullif(regexp_extract(html, '<div class="desc">([^<]*)', 1), '') AS description
        |FROM h""".stripMargin)),

    // ---- F7: the [:-6] ISO-offset truncation convention
    //      (mysql_backend.py:209-210), preserved by length not parsing ----
    "q55_date_truncation" -> Entry((s, d) => graft.etl.Etl.dateTruncationConvention(s, d), Some(
      """WITH i AS (SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '+00:00' AS iso FROM orders),
        |t AS (SELECT o_orderkey, iso, substr(iso, 1, length(iso) - 6) AS convert_date FROM i)
        |SELECT o_orderkey, iso, convert_date,
        |  strptime(convert_date, '%Y-%m-%dT%H:%M:%S') AS parsed FROM t""".stripMargin)),

    // ---- the reference's own `_small` 1/256 sampling convention
    //      (extension_small.sql:30), scaled to 1/16 for the 500-doc gate ----
    "q56_small_sample" -> Entry((s, d) =>
      graft.etl.Etl.smallView(Tables.documents(s, d), "doc_id", chars = 1)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), round(avg(length(col("text"))), 2).as("avg_chars")), Some(
      """SELECT source, count(*) AS n_docs, round(avg(length(text)), 2) AS avg_chars
        |FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'a'
        |GROUP BY source""".stripMargin)),

    // ---- IVF ANN: trained coarse quantizer (deterministic Lloyd rounds),
    //      probe nProbe of k inverted lists — the 100 TB ANN architecture
    //      where sign-bit LSH recall saturates. Rows-only (k-means isn't
    //      reasonably SQL-expressible); recall vs brute force in AnnSpec. ----
    "q60_ivf_ann" -> Entry((s, d) => Ann.ivfTopK(s, d), None),

    // ---- P7 wired: binary-resource guard short-circuit — magic_format
    //      gates the expensive text identifiers; CaseWhen evaluates only the
    //      taken branch, so binary rows never run simhash/entropy
    //      (file_identifiers.py:132-133). Rows-only (custom expressions). ----
    "q59_guarded_profile" -> Entry((s, d) => graft.sources.Images.guardedProfile(s, d), None),

    // ---- F10 complete: crx signed-container audit — le_u32 header decode
    //      (codegen'd expression) + RSA-PKCS1-SHA1 verify against the
    //      embedded key (crx.py:59-79) as a cold-path UDF; every 7th
    //      container tampered post-signing. Rows-only (RSA isn't
    //      SQL-expressible); semantics covered by CrxSpec. ----
    "q58_crx_signature" -> Entry((s, d) => graft.sources.Crx.signatureAudit(s, d), None),

    // ---- S12/O2: per-class sorted ID lists (crawler:37-76's report files)
    //      as a query; the file sink is Fetcher.writeFailureReports ----
    //      Emitted as a joined STRING, not an ARRAY column: (a) the driver's
    //      pandas comparator cannot factorize ndarray cells (round-2 q57 err)
    //      and (b) a scalar string bounds the row the same way the report
    //      file sink does — no unbounded list object per class in the plan
    "q57_class_id_lists" -> Entry((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(array_join(sort_array(collect_list(col("event_id"))), ",").as("ids"),
          count(lit(1)).as("n")), Some(
      """SELECT event_type,
        |  array_to_string(list(event_id ORDER BY event_id), ',') AS ids, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin)),

    // ---- stall-detection monitor (global_update_monitor.sh:200-211): the
    //      cumulative progress counter sampled on a DENSE 8h spine;
    //      alert = same count twice in a row (lag equality). stalled cast
    //      to int for comparator portability. ----
    "q61_stall_monitor" -> Entry((s, d) =>
      ViewQueries.stallMonitor(s, d)
        .withColumn("stalled", col("stalled").cast("int")), Some(
      """WITH e AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |b AS (SELECT min(sec) AS lo, max(sec) AS hi FROM e),
        |counts AS (SELECT event_type, CAST(floor((sec - lo) / 28800) AS BIGINT) AS bucket,
        |    count(*) AS n FROM e, b GROUP BY 1, 2),
        |spine AS (SELECT unnest(generate_series(0, CAST(floor((hi - lo) / 28800) AS BIGINT))) AS bucket FROM b),
        |types AS (SELECT DISTINCT event_type FROM e),
        |grid AS (SELECT t.event_type, s.bucket, coalesce(c.n, 0) AS n
        |  FROM types t CROSS JOIN spine s
        |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.bucket = s.bucket),
        |cum AS (SELECT event_type, bucket,
        |  CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n FROM grid)
        |SELECT event_type, bucket, cum_n,
        |  CAST(coalesce(cum_n = lag(cum_n) OVER (PARTITION BY event_type ORDER BY bucket),
        |    false) AS INTEGER) AS stalled
        |FROM cum""".stripMargin)),

    // ---- extgrep composed chain (extgrep:38-56,97-161): date-bounded scan
    //      → per-pattern match with the likely-hash router (driver-side
    //      entropy classification of the PATTERN, as the reference does) →
    //      per-(date, pattern) rollup ----
    "q62_extgrep" -> Entry((s, d) => graft.text.ExtGrep.grep(s, d),
      Some(graft.text.ExtGrep.grepOracleSql())),

    // ---- library detection regex tier (js_decomposer.py:409-502): hash DB
    //      miss → comment/filename regex evidence with detect_method
    //      provenance; per-file precedence (hash ends detection) ----
    "q63_libdet_regex_tier" -> Entry((s, d) => Dedup.libraryDetectRegexTier(s, d), Some(
      """WITH d AS (SELECT doc_id, text, md5(substr(text, 1, 20)) AS fh FROM documents),
        |dim AS (SELECT 'lib' || CAST(doc_id AS VARCHAR) AS lib, fh FROM d WHERE doc_id % 50 = 0),
        |q AS (SELECT doc_id, text, fh FROM d WHERE doc_id % 50 <> 0),
        |hash_hits AS (SELECT q.doc_id, dim.lib, 'md5' AS detect_method
        |  FROM q JOIN dim ON q.fh = dim.fh),
        |regex_hits AS (SELECT q.doc_id, r.lib, 'regex' AS detect_method
        |  FROM q, (VALUES ('sparkkit', '\bspark\b'), ('windowlib', '\bwindow\b')) r(lib, rx)
        |  WHERE regexp_matches(q.text, r.rx)
        |    AND q.doc_id NOT IN (SELECT doc_id FROM hash_hits))
        |SELECT doc_id, lib, detect_method FROM hash_hits
        |UNION ALL SELECT doc_id, lib, detect_method FROM regex_hits""".stripMargin)),

    // ---- PQ ANN (Jégou et al. 2011): 8-byte codes + ADC lookup-table scan
    //      — the memory-scale tier past IVF (256 B/vector float corpus →
    //      8 B/vector code table at 10^10 vectors). Rows-only (trained
    //      codebooks aren't SQL-replayable); PqSpec asserts the ADC
    //      identity exactly + recall vs the exact ranking. ----
    "q64_pq_adc_topk" -> Entry((s, d) => graft.sim.Pq.adcTopK(s, d), None),

    // ---- IVF-PQ composed index (FAISS IVFPQ shape): coarse-quantizer list
    //      pruning × residual PQ codes — the scan reads ~9 B/vector over
    //      nProbe/k of the corpus. Rows-only; PqSpec planted recall. ----
    "q65_ivfpq_topk" -> Entry((s, d) => graft.sim.Pq.ivfPqTopK(s, d), None),

    // ---- S13 source side: the cdnjs catalog BUILD (cdnjs_git.py:165-244,
    //      release dating :303-314) — tree walk with member exclusion,
    //      (library, version) path parse, window-min add_date, per-file
    //      hashes, then the detection join the built dim exists for ----
    "q66_cdnjs_catalog_build" -> Entry(
      (s, d) => graft.etl.CdnjsCatalog.catalogBuildAndJoin(s, d),
      Some(graft.etl.CdnjsCatalog.catalogOracleSql)),

    // ---- the ANN recall GATE: the IVF probe at its operating point must
    //      return the EXACT cosine top-10 — the oracle is the brute-force
    //      ranking (q16's SQL), so the CORRECTNESS hash gates recall@10 ==
    //      1.0, not just non-emptiness. nProbe=10 of 16 lists carries two
    //      steps of margin over the measured exact-recall threshold
    //      (nProbe=6 at sf0.01, 8 at sf0.001); the aggressive-pruning
    //      operating point stays q60, recall-vs-budget curves in AnnSpec. ----
    "q68_ivf_recall_gate" -> Entry(
      (s, d) => Ann.ivfTopK(s, d, nProbe = 10), Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
        |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)
        |SELECT vec_id, round(list_dot_product(emb, qe) /
        |  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qe, qe))), 6) AS cos_sim
        |FROM e, q WHERE vec_id <> 0 ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin)),

    // ---- ADC pre-score → exact re-rank (the q39 100 TB lever): the corpus
    //      scans as 8-byte codes, only the top-C ADC survivors touch float
    //      vectors (broadcast semi-join), and the result must EQUAL the
    //      brute-force ranking — recall gated like q68. C=350/500 here
    //      because isotropic random vectors give PQ nothing to exploit
    //      (measured exactness threshold C=300 at both test scales);
    //      PqSpec's planted corpus shows the real pruning power (C≈30). ----
    "q70_adc_rerank_gate" -> Entry(
      (s, d) => graft.sim.Pq.adcRerankTopK(s, d, candidates = 350), Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
        |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)
        |SELECT vec_id, round(list_dot_product(emb, qe) /
        |  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qe, qe))), 6) AS cos_sim
        |FROM e, q WHERE vec_id <> 0 ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin)),

    // ---- crx-jsstrings joined-string-line extraction (crx-jsstrings:
    //      38-63, 200-232): fnmatch file filter → mince → per-code-block
    //      joined literals → regex match with (start - end) line ranges.
    //      ORACLE-GATED since round 5: the synthesized sources embed a
    //      closed form for every unit range and literal text, so the
    //      scanner's state machine is hash-gated end to end (positions,
    //      extraction, fnmatch filter); JsStringsSpec keeps the
    //      hand-traced grammar goldens. ----
    "q67_jsstrings_joined" -> Entry(
      (s, d) => graft.text.JsStrings.joinedStringLines(s, d),
      Some(graft.text.JsStrings.joinedStringLinesOracleSql())),

    // ---- robots.txt parse → broadcastable cache table (RFC 9309 group
    //      selection + conservative folds, Robots.scala): the real parser
    //      over synthesized per-host documents; oracle = the closed form
    //      the synthesis embeds (grammar exactness in RobotsSpec) ----
    "q74_robots_parse" -> Entry(
      (s, d) => graft.scheduler.Robots.parseTable(s, d),
      Some(graft.scheduler.Robots.parseTableOracleSql)),

    // ---- OPQ-allocated ADC (Ge 2013 eigenvalue allocation, permutation-
    //      restricted): per-dimension variance pass → balanced dimension
    //      assignment → same 8 B/vector ADC scan. Rows-only; OpqSpec
    //      measures the recall rescue on an anisotropic corpus (0.0-0.1 →
    //      0.8-0.9 vs contiguous PQ). ----
    "q73_opq_adc_topk" -> Entry(
      (s, d) => graft.sim.Opq.adcTopK(s, d), None),

    // ---- FULL OPQ (Ge 2013 §3.2 non-parametric alternation): learned
    //      orthogonal rotation via warm-started Lloyd + exact Procrustes
    //      (Jacobi SVD, Rotation.scala); rotation applied at index-build
    //      time, query rotates on the driver — the scan stays the 8 B/row
    //      ADC walk. Rows-only; RotationSpec gates monotone distortion
    //      descent, orthogonality, and cross-layout recall. ----
    "q75_opq_rotated_adc" -> Entry(
      (s, d) => graft.sim.Opq.rotatedAdcTopK(s, d), None),

    // ---- SDC-prescored pair search (Jégou 2011 §III): the pair join runs
    //      over (bucket, 8-byte code) only — pairs score as m LUT lookups,
    //      floats touched for just the top-C re-rank. Rows-only (trained
    //      codebooks aren't SQL-replayable); PqSpec gates planted recall. ----
    "q72_sdc_top_pairs" -> Entry(
      (s, d) => graft.sim.Pq.sdcTopPairs(s, d), None),

    // ---- extgrep over the ARCHIVE (extgrep:97-161 walks dated tar
    //      members): the date-windowed archive slice grepped per crawl
    //      date; rev_marker fires only on second-crawl bodies, proving the
    //      grep sees per-crawl content ----
    "q71_archive_grep" -> Entry(
      (s, d) => graft.text.ExtGrep.grepArchive(s, d),
      Some(graft.text.ExtGrep.grepArchiveOracleSql())),

    // ---- the composed create-db rebuild (create-db:57-87): archive →
    //      lexicographic date window → ONE cached slice feeding overview +
    //      token + annotation + comment derivations; summary hash-gates the
    //      whole composition (CreateDbMain is the committing entry point,
    //      CreateDbSpec proves rebuild == incremental) ----
    "q69_create_db_rebuild" -> Entry(
      (s, d) => graft.etl.CreateDb.rebuildSummary(s, d),
      Some(graft.etl.CreateDb.summaryOracleSql())),

    // ---- round-5 rerank-equality gates: every remaining coded ANN tier
    //      composed as <tier prescore, top-C> -> exact re-rank at a budget
    //      where the output EQUALS the brute-force ranking (q68/q70's
    //      construction) — converting the rows-only tiers q64/q65/q72/q73/
    //      q75 into hard CORRECTNESS signals. Measured exactness thresholds
    //      (smallest C with equality, sf0.001 / sf0.01) are quoted per
    //      gate; each operating point keeps >= 1 step of margin. The
    //      AGGRESSIVE operating points stay q64/q65/q72/q73/q75; recall
    //      curves and planted-structure pruning live in PqSpec/OpqSpec. ----

    // q64's gate: the PUBLIC adcTopK operator output (top-C window) is the
    // candidate generator. Threshold C=300 at both scales (isotropic
    // vectors give PQ little margin — q70's finding, reproduced).
    "q76_pq_topc_rerank_gate" -> Entry(
      (s, d) => graft.sim.Pq.adcRerankTopK(s, d, candidates = 350),
      Some(BruteForceTopKSql)),

    // q65's gate: IVF-PQ (cid-pruned residual-code scan) prescore -> exact
    // re-rank. nProbe=8 of 16 lists; threshold C=150 (sf0.001) / 100
    // (sf0.01) — the composed index prunes better than flat PQ here
    // because the centroid term carries real signal.
    "q77_ivfpq_rerank_gate" -> Entry(
      (s, d) => graft.sim.Pq.ivfPqRerankTopK(s, d, candidates = 250, nProbe = 8),
      Some(BruteForceTopKSql)),

    // q72's gate: SDC pair prescore -> exact re-rank must equal the exact
    // banded top-pairs (q39's SQL). Threshold C=25k (sf0.001) / 30k
    // (sf0.01): on an ISOTROPIC corpus the symbolic pair scores barely
    // separate, so the gate budget is near the full candidate set — the
    // row proves the (bucket, code) index + LUT scoring + re-rank pipeline
    // end to end; the pruning power of the q72 operating point (C=500) is
    // evidenced on planted structure in PqSpec. nPlanes pinned to the
    // oracle's generated geometry (4, like q38/q39).
    "q78_sdc_rerank_gate" -> Entry(
      (s, d) => graft.sim.Pq.sdcTopPairs(s, d, candidates = 40000, nPlanes = 4),
      Some(ExactTopPairsSql)),

    // q73's gate: variance-balanced permutation ADC prescore -> exact
    // re-rank. Threshold C=200 at both scales.
    "q79_opq_rerank_gate" -> Entry(
      (s, d) => graft.sim.Opq.adcRerankTopK(s, d, candidates = 300),
      Some(BruteForceTopKSql)),

    // q75's gate: learned-rotation ADC prescore -> exact re-rank.
    // Threshold C=200 (sf0.001) / 100 (sf0.01).
    "q80_opq_rotated_rerank_gate" -> Entry(
      (s, d) => graft.sim.Opq.rotatedAdcRerankTopK(s, d, candidates = 300),
      Some(BruteForceTopKSql)),

    // ---- the grep-unused-permissions evidence map (PermissionAnalysis/
    //      grep-unused-permissions:68-150): minced JS members grepped for
    //      permission evidence literals x manifest-requested permissions
    //      -> the reference's four REQ/FOUND class labels per (extid,
    //      crawl date, permission) ----
    "q81_unused_permissions" -> Entry(
      (s, d) => graft.text.PermissionGrep.unusedPermissions(s, d),
      Some(graft.text.PermissionGrep.unusedPermissionsOracleSql)),

    // ---- multimodal RESIZE stage: decode -> aspect-preserving bilinear
    //      thumbnail -> lossless re-encode, with phash drift as the feature-
    //      fidelity signal. Rows-only (image decode isn't SQL-expressible);
    //      geometry/determinism/fidelity pinned by MultimodalSpec. ----
    "q82_thumbnails" -> Entry((s, d) => graft.sources.Images.thumbnails(s, d), None),

    // ---- multimodal FRAME-SAMPLE stage: real multi-frame GIF containers,
    //      every stride-th frame decoded (one reader per container) to a
    //      per-frame phash feature row. Rows-only; the decode==render
    //      lossless invariant is pinned by MultimodalSpec. ----
    "q83_frame_sample" -> Entry((s, d) => graft.sources.Video.frameSample(s, d), None),

    // ---- near-dup CLUSTER dedup: connected components over the exact
    //      n-gram-Jaccard graph (q14's edges — recall exact by the shared-
    //      rare-shingle construction, no banded-radius caveat), canonical
    //      rep = component min doc_id. The oracle closes the SAME pair SQL
    //      transitively with a recursive CTE, so the distributed hash-min
    //      propagation is hash-gated end-to-end. ----
    "q84_neardup_components" -> Entry((s, d) => Dedup.neardupComponents(s, d), Some(
      s"""WITH RECURSIVE $shingleCte,
         |${rareShingleCtes()},
         |${jaccardPairsCte("pairs")},
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT doc_id AS u, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v),
         |comp AS (SELECT u AS doc_id, min(r) AS rep_id FROM reach GROUP BY u),
         |cs AS (SELECT rep_id, count(*) AS cluster_size FROM comp GROUP BY rep_id)
         |SELECT comp.doc_id, comp.rep_id, cs.cluster_size
         |FROM comp JOIN cs ON cs.rep_id = comp.rep_id""".stripMargin)),

    // ---- the composed corpus-curation funnel: lang gate -> quality gate ->
    //      exact dedup -> component near-dup dedup, reported as the
    //      per-source attrition table (n_input -> n_lang -> n_quality ->
    //      n_exact -> n_final). Every stage is DuckDB-expressible (q17/q18
    //      gate fragments, q10's window dedup, q84's recursive-CTE closure),
    //      so the WHOLE pipeline — stage ordering, both survivor policies,
    //      cross-source collisions — is hash-gated end-to-end. ----
    "q85_curation_funnel" -> Entry((s, d) => graft.text.Curation.curationFunnel(s, d), Some(
      s"""WITH RECURSIVE $shingleCte,
         |${rareShingleCtes()},
         |${jaccardPairsCte("pairs")},
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT doc_id AS u, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v),
         |comp AS (SELECT u AS doc_id, min(r) AS rep_id FROM reach GROUP BY u),
         |lf AS (SELECT doc_id, source, text,
         |  len(list_filter(string_split(trim(text), ' '), w -> list_contains(['der','die','und','ist','nicht'], w))) AS de_s,
         |  len(list_filter(string_split(trim(text), ' '), w -> list_contains(['the','a','is','and','of'], w))) AS en_s,
         |  len(list_filter(string_split(trim(text), ' '), w -> list_contains(['el','la','que','de','y'], w))) AS es_s,
         |  len(list_filter(string_split(trim(text), ' '), w -> list_contains(['le','la','et','les','des'], w))) AS fr_s,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split(trim(text), ' ')) END AS nw
         |  FROM documents),
         |fq AS (SELECT doc_id, source, text, lang_ok,
         |  (lang_ok AND nw >= 20 AND stop_r >= 0.03) AS qual_ok FROM (
         |  SELECT doc_id, source, text, nw,
         |    (CASE WHEN greatest(de_s, en_s, es_s, fr_s) = 0 THEN 'unknown'
         |      WHEN de_s >= en_s AND de_s >= es_s AND de_s >= fr_s THEN 'de'
         |      WHEN en_s >= es_s AND en_s >= fr_s THEN 'en'
         |      WHEN es_s >= fr_s THEN 'es' ELSE 'fr' END = 'en') AS lang_ok,
         |    round(CAST(len(list_filter(string_split(trim(text), ' '), w -> list_contains(['the','a','of','and','to','in','is'], w))) AS DOUBLE) / greatest(nw, 1), 4) AS stop_r
         |  FROM lf) g),
         |ek AS (SELECT doc_id FROM (SELECT doc_id,
         |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM fq WHERE qual_ok) t WHERE rn = 1),
         |nk AS (SELECT doc_id FROM (SELECT ek.doc_id,
         |    row_number() OVER (PARTITION BY comp.rep_id ORDER BY ek.doc_id) AS rn
         |  FROM ek JOIN comp ON comp.doc_id = ek.doc_id) t WHERE rn = 1)
         |SELECT source, count(*) AS n_input,
         |  count(*) FILTER (WHERE lang_ok) AS n_lang,
         |  count(*) FILTER (WHERE qual_ok) AS n_quality,
         |  count(*) FILTER (WHERE fq.doc_id IN (SELECT doc_id FROM ek)) AS n_exact,
         |  count(*) FILTER (WHERE fq.doc_id IN (SELECT doc_id FROM nk)) AS n_final
         |FROM fq GROUP BY source""".stripMargin)),

    // ---- embedding-cosine near-dup pairs: q39's capped multi-probe
    //      candidate generation, THRESHOLDED instead of top-k — the
    //      dedup form (no global sort/CollectLimit funnel; the output
    //      scales with the duplicate count, not the corpus). The oracle
    //      replays the same bucket-Hamming-≤-1 restriction, so candidate
    //      generation, the dot product, and the threshold semantics are
    //      all inside the hash gate. Threshold 0.40 because the driver
    //      embeddings corpus is ISOTROPIC (max pair cosine ≈ 0.51, no
    //      planted duplicates) — at 0.9 the gate would be vacuously empty;
    //      the ≥-0.9 planted-near-dup behavior is pinned by AnnSpec.
    //      Nearest pair cosine sits ≥ 1e-4 from the threshold at both
    //      driver SFs, so the rounded-value comparison can't straddle it. ----
    "q86_cosine_neardup" -> Entry((s, d) =>
      // nPlanes pinned to 4 — the oracle below hard-codes bucketSql(_, 4);
      // the adaptive default (nPlanesFor(corpus)) would silently diverge
      // from it past 1024 vectors (q78 pins its planes the same way)
      Ann.cosineNearDupPairs(s, d, threshold = 0.40, nPlanes = 4,
        corpusSize = Tables.cachedCount(s, d, "embeddings")), Some(
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |b AS (SELECT vec_id, emb, ${Ann.bucketSql("emb", 4)} AS bucket FROM e),
         |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |  round(list_dot_product(a.emb, c.emb) /
         |  (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cos_sim
         |FROM b a JOIN b c ON a.vec_id < c.vec_id AND bit_count(xor(a.bucket, c.bucket)) <= 1)
         |SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.40""".stripMargin)),

    // ---- IMAGE near-dup dedup: decode -> phash (from decoded pixels) ->
    //      Manku banded Hamming join, over a corpus whose near-dup variants
    //      sit at an EXACT planted distance (q67-style closed-form
    //      synthesis: variants flip exactly 3 of the 64 binary phash
    //      cells). The oracle replays the planted pair set from id
    //      arithmetic alone, so decode, the perceptual hash, the band
    //      geometry, and the verify threshold are all inside the hash
    //      gate; unrelated images are iid 64-bit fingerprints (P(dist<=3)
    //      ~ 2e-15 per pair), so planted pairs ARE the full answer. ----
    "q87_image_phash_neardup" -> Entry(
      (s, d) => graft.sources.Images.phashNeardupPairs(s, d),
      Some(graft.sources.Images.phashNeardupOracleSql())),

    // ---- deterministic leakage-free dataset split (TrainPrep.scala):
    //      fold = pure function of the stable doc id, so re-runs and
    //      incremental appends never migrate a document across folds. ----
    "q88_dataset_split" -> Entry(
      (s, d) => graft.etl.TrainPrep.datasetSplit(s, d),
      Some(graft.etl.TrainPrep.datasetSplitOracleSql())),

    // ---- next-fit sequence packing (TrainPrep.scala): per-source
    //      fixed-token-budget training packs in stable id order; the
    //      oracle replays the boundary rule with the same window SQL. ----
    "q89_pack_sequences" -> Entry(
      (s, d) => graft.etl.TrainPrep.packSequences(s, d),
      Some(graft.etl.TrainPrep.packSequencesOracleSql())),

    // ---- train/eval decontamination: q88's fold assignment × q14's exact
    //      Jaccard pairs (recall exact — rare-shingle construction), each
    //      contaminated eval doc reporting its worst train offender. The
    //      oracle composes the SAME two proven SQL fragments, gating the
    //      composition (orientation, fold filter, argmax policy). ----
    "q90_decontamination" -> Entry(
      (s, d) => graft.etl.TrainPrep.decontamination(s, d), Some(
      s"""WITH $shingleCte,
         |${rareShingleCtes()},
         |${jaccardPairsCte("p")},
         |sp AS (SELECT doc_id,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split FROM documents),
         |e AS (SELECT id_a AS train_id, id_b AS eval_id, jaccard FROM p
         |  UNION ALL SELECT id_b, id_a, jaccard FROM p),
         |x AS (SELECT e.eval_id, se.split AS eval_split, e.train_id, e.jaccard,
         |  row_number() OVER (PARTITION BY e.eval_id ORDER BY e.jaccard DESC, e.train_id ASC) AS rn
         |  FROM e JOIN sp st ON st.doc_id = e.train_id AND st.split = 'train'
         |  JOIN sp se ON se.doc_id = e.eval_id AND se.split <> 'train')
         |SELECT eval_id, eval_split, train_id, jaccard FROM x WHERE rn = 1""".stripMargin)),

    // ---- PII scrub: planted-PII corpus (closed-form doc_id synthesis, the
    //      q67/q87 pattern) → regex detect + count + replace; md5(redacted)
    //      puts the replacement spans themselves inside the hash gate. ----
    "q91_pii_redaction" -> Entry(
      (s, d) => graft.text.Redaction.redactPii(s, d),
      Some(graft.text.Redaction.redactPiiOracleSql())),

    // ---- deterministic mixture sampling: salted-hash keep/drop per doc
    //      against per-source target rates; salt decorrelates from q88's
    //      fold hash. Pure projection — the oracle gates every decision. ----
    "q92_mixture_sample" -> Entry(
      (s, d) => graft.etl.TrainPrep.mixtureSample(s, d),
      Some(graft.etl.TrainPrep.mixtureSampleOracleSql())),

    // ---- exact n-gram collision decontamination: eval 5-grams probe the
    //      DISTINCT train n-gram set (no pair join, no frequency cap);
    //      per-eval-doc collision counts + ratio, hash-gated end to end. ----
    "q93_ngram_collisions" -> Entry(
      (s, d) => graft.etl.TrainPrep.ngramCollisions(s, d),
      Some(graft.etl.TrainPrep.ngramCollisionsOracleSql())),

    // ---- Gopher-style repetition stats: top-word fraction + duplicate
    //      3-gram ratio per doc, repetition planted from doc_id arithmetic
    //      (q91's pattern) so tokenize -> count -> threshold is all inside
    //      the hash gate. Two explode->aggregate passes joined on doc_id. ----
    "q94_repetition_stats" -> Entry(
      (s, d) => graft.etl.TrainPrep.repetitionStats(s, d),
      Some(graft.etl.TrainPrep.repetitionStatsOracleSql())),

    // ---- image near-dup CLUSTER dedup: q84's component step on the image
    //      axis — decode -> phash -> banded pairs over planted diameter-2
    //      chains (base~v~w, base≁w by nested flip sets) -> the SAME
    //      hash-min label propagation, over string image ids. The closed-
    //      form oracle gates decode, band recall at both planted distances,
    //      and the propagation fixpoint in one hash comparison. ----
    "q95_image_neardup_components" -> Entry(
      (s, d) => graft.sources.Images.phashNeardupComponents(s, d),
      Some(graft.sources.Images.phashNeardupComponentsOracleSql())),

    // ---- audio modality (the third payload axis): REAL RIFF/WAVE PCM16
    //      round-trips over planted square waves whose every feature has an
    //      exact closed form — synth -> encode -> decode -> window ->
    //      RMS/peak/zero-crossings all inside the hash gate (q87's pattern
    //      on the audio axis). One typed flatMap, no shuffle. ----
    "q96_audio_features" -> Entry(
      (s, d) => graft.sources.Audio.audioFeatures(s, d),
      Some(graft.sources.Audio.audioFeaturesOracleSql())),

    // ---- audio stereo DOWNMIX + DECIMATE: interleaved 2-channel frames
    //      decoded, channel-averaged (exact integer downmix by planted
    //      parity), decimated 2:1; gates frame layout, downmix arithmetic,
    //      and the decimated wave's crossing structure. ----
    "q97_audio_downmix" -> Entry(
      (s, d) => graft.sources.Audio.audioDownmix(s, d),
      Some(graft.sources.Audio.audioDownmixOracleSql())),

    // ---- passage-level exact dedup: q10's complement at sub-document
    //      granularity (boilerplate/syndicated passages inside non-dup
    //      docs). Global first-occurrence window on md5(segment); the
    //      kept-text digest puts every drop DECISION inside the gate. ----
    "q98_passage_dedup" -> Entry(
      (s, d) => graft.text.PassageDedup.passageDedup(s, d),
      Some(graft.text.PassageDedup.passageDedupOracleSql())),

    // ---- bloom-prefiltered decontamination: q93's exact semantics with a
    //      broadcast blocked-bloom scan predicate in front of the verify
    //      join (no false negatives => bit-identical output), gated on the
    //      SAME exact SQL — the q70 composition pattern applied to the
    //      decon tier's dominant exchange. ----
    "q99_bloom_decon_gate" -> Entry(
      (s, d) => graft.etl.TrainPrep.bloomNgramCollisions(s, d),
      Some(graft.etl.TrainPrep.ngramCollisionsOracleSql())),

    // ---- duplicated-span coverage: the UNALIGNED ExactSubstr complement
    //      to q98 — overlapping n-gram instances, global multiset count,
    //      per-doc gaps-and-islands interval union. No pair join; every
    //      covered-token count hash-gated by a full DuckDB replay. ----
    "q100_dup_span_coverage" -> Entry(
      (s, d) => graft.text.DupSpans.dupSpanCoverage(s, d),
      Some(graft.text.DupSpans.dupSpanCoverageOracleSql())),

    // ---- mincer oracle gates (the q67 closed-form-synthesis convention):
    //      the real state machine over synthesized sources whose block
    //      trace is a closed form of the documents columns — q101 hashes
    //      the per-doc profile (counts, LoC, per-kind char sums), q102 the
    //      FULL per-block trace (order, kind, length), so the scanner that
    //      q42/q43 run over free-form text is CORRECTNESS-gated end to end
    //      (escape handling, EOF closes, empty-buffer flush suppression). ----
    "q101_mince_gate" -> Entry(
      (s, d) => graft.text.Mincer.minceGate(s, d),
      Some(graft.text.Mincer.minceGateOracleSql)),
    "q102_mince_blocks_gate" -> Entry(
      (s, d) => graft.text.Mincer.minceBlocksGate(s, d),
      Some(graft.text.Mincer.minceBlocksGateOracleSql)),

    // ---- C4-style line-level cleaning (LineClean.scala): the public C4
    //      heuristics applied per line over a planted multi-line body
    //      (q67/q91 closed-form synthesis) — the split, every per-line keep
    //      decision, the reassembled text, and the >=3-lines page rule are
    //      all inside the hash gate via md5(cleaned). Zero shuffles. ----
    "q103_line_clean" -> Entry(
      (s, d) => graft.text.LineClean.lineClean(s, d),
      Some(graft.text.LineClean.lineCleanOracleSql())),

    // ---- LM-based corpus selection (LmQuality.scala): CCNet-style
    //      perplexity tertiles under a train-fold unigram LM, and
    //      DSIR-style hashed importance selection toward a target domain.
    //      LM counts, smoothing, scoring, quantile cuts, and every per-doc
    //      decision are all replayed by the oracles. ----
    "q104_perplexity_buckets" -> Entry(
      (s, d) => graft.text.LmQuality.perplexityBuckets(s, d),
      Some(graft.text.LmQuality.perplexityBucketsOracleSql())),
    "q105_dsir_selection" -> Entry(
      (s, d) => graft.text.LmQuality.dsirSelection(s, d),
      Some(graft.text.LmQuality.dsirSelectionOracleSql())),

    // ---- Distributed BPE tokenizer training (Bpe.scala): one corpus-scale
    //      dict aggregation, then vocabulary-bounded merge rounds. q106
    //      gates the round-1 pair statistics in SQL; q107's multi-round
    //      merge table is rows-only by declared design (each round depends
    //      on the previous argmax — not static-SQL-expressible) and is
    //      replayed imperatively by BpeSpec. ----
    "q106_bpe_pair_stats" -> Entry(
      (s, d) => graft.text.Bpe.pairStats(s, d),
      Some(graft.text.Bpe.pairStatsOracleSql())),
    "q107_bpe_train" -> Entry(
      (s, d) => graft.text.Bpe.bpeTrain(s, d), None),

    // ---- embedding-axis near-dup CLUSTER dedup: connected components over
    //      q86's gated cosine pair set (q84's propagation on the embedding
    //      payload — text/image/embedding symmetry complete). The oracle
    //      replays candidates, cosine, threshold, AND the transitive
    //      closure (recursive CTE), clusters and sizes. ----
    "q108_embedding_neardup_components" -> Entry(
      (s, d) => Ann.cosineNeardupComponents(s, d), Some(
      s"""WITH RECURSIVE emb0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |bk AS (SELECT vec_id, emb, ${Ann.bucketSql("emb", 4)} AS bucket FROM emb0),
         |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b FROM bk a JOIN bk c
         |  ON a.vec_id < c.vec_id AND bit_count(xor(a.bucket, c.bucket)) <= 1
         |  WHERE round(list_dot_product(a.emb, c.emb) /
         |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 6) >= 0.40),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         |  UNION ALL SELECT id_b, id_a FROM p),
         |reach AS (SELECT vec_id AS u, vec_id AS r FROM embeddings
         |  UNION
         |  SELECT ed.u, reach.r FROM edges ed JOIN reach ON reach.u = ed.v),
         |comp AS (SELECT u AS vec_id, min(r) AS rep_id FROM reach GROUP BY u),
         |cs AS (SELECT rep_id, count(*) AS cluster_size FROM comp GROUP BY rep_id)
         |SELECT comp.vec_id, comp.rep_id, cs.cluster_size
         |FROM comp JOIN cs ON cs.rep_id = comp.rep_id""".stripMargin))
  )

  /** The brute-force cosine top-10 (q16's oracle) — the shared equality
    * target of every coded-tier rerank gate. */
  private def BruteForceTopKSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)
      |SELECT vec_id, round(list_dot_product(emb, qe) /
      |  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qe, qe))), 6) AS cos_sim
      |FROM e, q WHERE vec_id <> 0 ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin

  /** The exact banded top-pairs (q39's oracle) — the SDC pair gate's
    * equality target; bucket geometry generated at the gate's scale. */
  private def ExactTopPairsSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |b AS (SELECT vec_id, emb, ${graft.sim.Ann.bucketSql("emb", 4)} AS bucket FROM e)
       |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       |  round(list_dot_product(a.emb, c.emb) /
       |  (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cos_sim
       |FROM b a JOIN b c ON a.vec_id < c.vec_id AND bit_count(xor(a.bucket, c.bucket)) <= 1
       |ORDER BY cos_sim DESC, id_a ASC, id_b ASC LIMIT 50""".stripMargin

  def allEntries: Seq[(String, Entry)] = entries ++ extraEntries

  def queries: Map[String, Q] = allEntries.map { case (n, e) => n -> e.fn }.toMap
  def oracles: Map[String, String] =
    allEntries.collect { case (n, Entry(_, Some(sql))) => n -> sql.replace('\n', ' ') }.toMap
}
