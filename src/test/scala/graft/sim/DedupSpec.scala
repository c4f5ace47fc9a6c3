package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** LSH band-join + greedy rollup semantics (reference: simhashbucket:77-180,
  * 259-287; fixture plan FIXTURES.md §5). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("lshSelfJoin: planted pairs at Hamming 0/1/3 match, 4 does not") {
    val base = 0x0123456789ABCDEFL
    val rows = Seq(
      ("a0", base), ("a1", base),                  // dist 0
      ("b0", base ^ 1L),                           // dist 1 from a*
      ("c0", base ^ 0x7L),                         // dist 3 from a*
      ("d0", base ^ 0x1010101010L))                // dist ≥4 from everything
      .toDF("doc_id", "fp")
    val pairs = Dedup.lshSelfJoin(rows, "doc_id", "fp")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(pairs.contains(("a0", "a1", 0)))
    assert(pairs.contains(("a0", "b0", 1)) && pairs.contains(("a1", "b0", 1)))
    assert(pairs.exists(p => p._1 == "a0" && p._2 == "c0" && p._3 == 3))
    assert(!pairs.exists(p => p._1.startsWith("d") || p._2 == "d0"),
      "distance-4 pair must NOT match at max_dist 3 (simhashbucket:132-140)")
  }

  test("lshSelfJoin multi-probe: exact recall out to dist 2*bands-1") {
    // bands=4 × 16 bits, Hamming-1 multi-probe → EVERY pair at dist ≤ 7 must
    // surface (pigeonhole: 4 bands each ≥2 diffs would mean dist ≥ 8)
    val base = 0x7123456789ABCDEFL
    // dist-7 pair with diffs spread 2+2+2+1 across the four 16-bit bands —
    // no band matches exactly, only multi-probe can find it
    val spread7 = base ^ 0x0001_0003_0003_0003L
    // dist-8 spread 2+2+2+2: beyond the multi-probe guarantee AND invisible
    // to it (every band differs by 2)
    val spread8 = base ^ 0x0003_0003_0003_0003L
    val rows = Seq(("a", base), ("b", spread7), ("c", spread8)).toDF("doc_id", "fp")
    val found = Dedup.lshSelfJoin(rows, "doc_id", "fp", bands = 4, bitsPerBand = 16,
      maxDist = 7, multiProbe = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(found.contains(("a", "b")), "dist-7 spread pair must be found by multi-probe")
    // (b,c) is a legitimate dist-1 pair; the everywhere-2 dist-8 pair (a,c)
    // is outside the guarantee and invisible to Hamming-1 probes
    assert(!found.contains(("a", "c")),
      "dist-8 everywhere-2 pair is outside the guarantee and must not appear")
  }

  test("lshSelfJoin: negative (full-64-bit) fingerprints band correctly") {
    val neg = 0x8000_0000_0000_0001L // top bit set → negative long
    val rows = Seq(("x", neg), ("y", neg ^ 2L)).toDF("doc_id", "fp")
    val found = Dedup.lshSelfJoin(rows, "doc_id", "fp").collect()
    assert(found.length == 1 && found.head.getInt(2) == 1)
  }

  test("lshSelfJoin cap bounds candidates on a degenerate hot bucket") {
    // 200 identical fingerprints → one bucket per band; cap 8 keeps the SAME
    // 8 ids (ordered) in every band, so distinct pairs = C(8,2), not C(200,2)
    val rows = (0 until 200).map(i => (f"d$i%03d", 0x1111222233334444L)).toDF("doc_id", "fp")
    val pairs = Dedup.lshSelfJoin(rows, "doc_id", "fp", maxDist = 0,
      multiProbe = true, capPerBucket = 8)
    assert(pairs.count() == 28, "cap=8 → exactly C(8,2) pairs on a hot bucket")
  }

  test("greedyNewestFirstRollup: newest version wins each query, counted once") {
    // q1 under v2(new)+v1(old) → v2; q2 under v1 only → v1; q3 under v2 → v2
    val m = Seq(
      ("libA", "v2", "2024-02-01", 1L),
      ("libA", "v1", "2024-01-01", 1L),
      ("libA", "v1", "2024-01-01", 2L),
      ("libA", "v2", "2024-02-01", 3L),
      ("libB", "v9", "2023-05-05", 1L)) // independent lib: q1 counts again
      .toDF("lib", "version", "add_date", "query_id")
    val out = Dedup.greedyNewestFirstRollup(m)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
    assert(out == Set(("libA", "v2", 2L), ("libA", "v1", 1L), ("libB", "v9", 1L)))
    // the window-argmax production plan must equal the literal greedy scan
    val ref = Dedup.greedyNewestFirstRollupReference(m)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val prod = Dedup.greedyNewestFirstRollup(m)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(prod == ref)
  }

  test("greedyNewestFirstRollup production plan has no group-buffering (aggregate form)") {
    // round 6: the argmax runs as max(struct(add_date, version)) — a real
    // AGGREGATE with partial (map-side) combining before the exchange, not
    // a window (which shuffled+sorted every match row) and not a typed
    // MapGroups (which would buffer whole lib groups on one task)
    val m = Seq(("libA", "v1", "2024-01-01", 1L)).toDF("lib", "version", "add_date", "query_id")
    val plan = Dedup.greedyNewestFirstRollup(m).queryExecution.executedPlan.toString
    assert(plan.contains("max(struct("), "argmax must be the max(struct) aggregate:\n" + plan)
    assert(!plan.contains("Window"), "production rollup must not use a window:\n" + plan)
    assert(!plan.contains("MapGroups"), "production rollup must not buffer groups:\n" + plan)
  }

  test("greedyNewestFirstRollup: same-date tie broken by version desc, deterministically") {
    val m = Seq(
      ("libA", "v1", "2024-01-01", 7L),
      ("libA", "v2", "2024-01-01", 7L)).toDF("lib", "version", "add_date", "query_id")
    val out = Dedup.greedyNewestFirstRollup(m)
      .collect().map(r => (r.getString(1), r.getLong(3))).toSet
    assert(out == Set(("v2", 1L)))
  }

  test("neardupComponents: transitive chain clusters as ONE component, non-edges stay apart") {
    // Planted word-3gram chain (threshold 0.5): 1~2 (J=4/6), 2~3 (J=4/6),
    // but 1~3 only J=3/7 — pairwise dedup would over-keep; the component
    // must merge all three. Doc 4 is a singleton and must pass through.
    val dir = tempDir("graft-cc")
    Seq(
      (1L, "a b c d e f g", "en", "s", 13L),
      (2L, "a b c d e f x", "en", "s", 13L),
      (3L, "b c d e f x y", "en", "s", 13L),
      (4L, "p q r s t u v", "en", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.neardupComponents(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (4L, 4L, 1L)),
      s"got $out")
  }

  test("componentLabels: output is total over nodes, dangling edge endpoints dropped") {
    // 9 and 0 are edge endpoints missing from `nodes`: neither may appear
    // in the output nor count towards a cluster size
    val nodes = Seq(1L, 2L, 3L, 5L).toDF("id")
    val edges = Seq((1L, 2L), (3L, 9L), (0L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.componentLabels(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L), (5L, 5L, 1L)), s"got $out")
    // a missing endpoint still links its neighbors, as the scaladoc states
    val bridged = Dedup.componentLabels(Seq(1L, 3L).toDF("id"),
      Seq((1L, 9L), (9L, 3L)).toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bridged == Set((1L, 1L, 2L), (3L, 1L, 2L)), s"got $bridged")
  }
}
