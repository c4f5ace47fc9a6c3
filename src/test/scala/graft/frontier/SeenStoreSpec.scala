package graft.frontier

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.core.Ids
import org.apache.spark.sql.functions.col

/** Persistent two-tier seen-state: epoch bloom + per-run cuckoo spills,
  * crash validation against the url_seen version chain, epoch rolls with a
  * PERSISTED capacity budget. */
class SeenStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ids(lo: Int, hi: Int) = (lo until hi).map(i => Ids.syntheticId(i.toLong))

  private def hashesOf(xs: Seq[Long]) =
    spark.createDataset(xs).toDF("h").as[Long]

  /** Simulate a committed url_seen snapshot version (manifest file only —
    * the store validates against the version listing, not the data). */
  private def fakeSeenCommit(dir: String, v: Int): Unit = {
    val m = Paths.get(dir, "url_seen", "manifests")
    Files.createDirectories(m)
    Files.write(m.resolve(f"v$v%06d.json"), "{}".getBytes("UTF-8"))
    ()
  }

  /** The loaded in-heap tiers by kind: one epoch bloom, one cuckoo per spill. */
  private def epochBloom(p: SeenProbe) = p.filters.collect { case b: BlockedBloom => b }.head
  private def spills(p: SeenProbe) = p.filters.collect { case c: CuckooFilter => c }

  test("incremental path == rebuild path across runs; no per-run corpus scan needed") {
    val dir = tempDir("graft_seenstore")
    val store = new SeenStore(dir, expectedKeys = 1 << 16)
    val forum = spark.createDataset(ids(0, 7))

    // run 1: no epoch filter yet → identical to the rebuild path by definition
    val d1 = spark.createDataset(ids(0, 300))
    val f1 = Frontier.buildWorklist(spark, spark.emptyDataset[String], forum, d1,
      maxNew = 1000, runId = 1, store = Some(store))
      .entries.collect().map(e => (e.id, e.forums)).toSet
    val f1ref = Frontier.buildWorklist(spark, spark.emptyDataset[String], forum, d1,
      maxNew = 1000, runId = 1)
      .entries.collect().map(e => (e.id, e.forums)).toSet
    assert(f1 == f1ref)

    // graduate run 1's ids (first commit = epoch roll: builds the bloom)
    fakeSeenCommit(dir, 1)
    val h1 = spark.createDataset(ids(0, 300))
      .toDF("value").select(SeenSet.idHash(col("value")).as("h")).as[Long]
    val (rolled1, n1) = store.commitRun(spark, h1, 300, seenVersion = 1, h1, 300)
    assert(rolled1 && n1 == 300 && store.bloomExists)

    // run 2: overlapping + fresh discoveries; the store path must equal the
    // full-rebuild path exactly (filters are a pre-filter, anti-join exact)
    val existing = spark.createDataset(ids(0, 300))
    val d2 = spark.createDataset(ids(150, 500))
    val inc = Frontier.buildWorklist(spark, existing, forum, d2,
      maxNew = 1000, runId = 2, store = Some(store))
      .entries.collect().map(e => (e.id, e.forums)).toSet
    val ref = Frontier.buildWorklist(spark, existing, forum, d2,
      maxNew = 1000, runId = 2)
      .entries.collect().map(e => (e.id, e.forums)).toSet
    assert(inc == ref, "epoch-probe dedup must match the rebuild path")

    // graduate run 2 as a SPILL (O(delta)) and check run 3 parity again —
    // now the probe has both tiers live
    fakeSeenCommit(dir, 2)
    val h2 = spark.createDataset(ids(300, 500))
      .toDF("value").select(SeenSet.idHash(col("value")).as("h")).as[Long]
    val (rolled2, n2) = store.commitRun(spark, h2, 200, seenVersion = 2,
      fullCorpusHashes = fail("spill path must not scan the corpus"),
      fullCount = fail("spill path must not count the corpus"))
    // the spill holds the ids the epoch does not flag
    val probe2 = store.loadProbe(spark).get
    val h2s = h2.collect().toSeq
    assert(!rolled2 && n2 == 300 + h2s.count(h => !epochBloom(probe2).mightContain(h)))
    assert(h2s.forall(h => probe2.filters.exists(_.mightContain(h))))
    val existing3 = spark.createDataset(ids(0, 500))
    val d3 = spark.createDataset(ids(400, 800))
    val inc3 = Frontier.buildWorklist(spark, existing3, forum, d3,
      maxNew = 1000, runId = 3, store = Some(store))
      .entries.collect().map(e => (e.id, e.forums)).toSet
    val ref3 = Frontier.buildWorklist(spark, existing3, forum, d3,
      maxNew = 1000, runId = 3)
      .entries.collect().map(e => (e.id, e.forums)).toSet
    assert(inc3 == ref3, "bloom+spill dedup must match the rebuild path")
  }

  test("spill commit is O(delta): the epoch bloom file is not rewritten") {
    val dir = tempDir("graft_seenstore_spill")
    val store = new SeenStore(dir, expectedKeys = 1 << 16)
    fakeSeenCommit(dir, 1)
    store.commitRun(spark, hashesOf((0 until 500).map(i => Ids.mix64(i.toLong))),
      500, seenVersion = 1, hashesOf((0 until 500).map(i => Ids.mix64(i.toLong))), 500)
    val bloomBytes = Files.readAllBytes(Paths.get(dir, "url_seen_bloom.bin"))
    fakeSeenCommit(dir, 2)
    val delta = (500 until 700).map(i => Ids.mix64(i.toLong))
    val (rolled, covered) = store.commitRun(spark, hashesOf(delta), 200, seenVersion = 2,
      fullCorpusHashes = fail("spill path must not scan the corpus"),
      fullCount = fail("spill path must not count the corpus"))
    assert(java.util.Arrays.equals(bloomBytes,
      Files.readAllBytes(Paths.get(dir, "url_seen_bloom.bin"))),
      "spill commit must leave the multi-GB epoch bloom file untouched")
    // the spill holds the delta ids the epoch does not flag, so every delta
    // id is flagged by one tier (no false negatives through the probe)
    val probe = store.loadProbe(spark).get
    val fresh = delta.filterNot(epochBloom(probe).mightContain)
    assert(!rolled && covered == 500 + fresh.size)
    assert(spills(probe).map(_.size).sum == fresh.size)
    assert(delta.forall(h =>
      epochBloom(probe).mightContain(h) || spills(probe).exists(_.mightContain(h))))
    assert(probe.coveredKeys == covered)
  }

  test("spills hold only the run's new ids: recrawling the corpus spills and covers it once") {
    val dir = tempDir("graft_seenstore_delta")
    val store = new SeenStore(dir, expectedKeys = 1024)
    def upTo(n: Int) = (0 until n).map(i => Ids.mix64(i.toLong))
    def flagsAll(n: Int) = {
      val probe = store.loadProbe(spark).get
      upTo(n).forall(h => probe.filters.exists(_.mightContain(h)))
    }
    fakeSeenCommit(dir, 1)
    val (r1, n1) = store.commitRun(spark, hashesOf(upTo(2000)), 2000, 1, hashesOf(upTo(2000)), 2000)
    assert(r1 && n1 == 2000, "the first commit builds the epoch at capacity 4000")
    // each run passes every id crawled so far plus 100 new ones; the upper
    // bound (covered + every id) overflows the capacity, the delta does not
    (2 to 4).foreach { v =>
      val corpus = 2000 + 100 * (v - 1)
      fakeSeenCommit(dir, v)
      val (rolled, covered) = store.commitRun(spark, hashesOf(upTo(corpus)), corpus, v,
        fullCorpusHashes = fail(s"run $v must spill, not roll"),
        fullCount = fail(s"run $v must spill, not count the corpus"))
      assert(!rolled)
      assert(covered <= corpus, s"run $v: $covered covered keys for a corpus of $corpus")
      assert(store.loadProbe(spark).get.coveredKeys == covered)
      assert(flagsAll(corpus), s"run $v: every committed id stays flagged")
    }
    // a re-commit of version 4 leaves its own spill out of the filter and
    // replaces it: the same delta again, counted once
    val before = store.loadProbe(spark).get.coveredKeys
    val (rolled, covered) = store.commitRun(spark, hashesOf(upTo(2300)), 2300, 4,
      fullCorpusHashes = fail("a re-commit must spill, not roll"),
      fullCount = fail("a re-commit must spill, not count the corpus"))
    assert(!rolled && covered == before)
    assert(flagsAll(2300), "every committed id stays flagged after a re-commit")
  }

  test("crash gap: a url_seen version without its spill invalidates the probe; next commit heals by rolling") {
    val dir = tempDir("graft_seenstore_crash")
    val store = new SeenStore(dir, expectedKeys = 1 << 16)
    fakeSeenCommit(dir, 1)
    val h1 = (0 until 400).map(i => Ids.mix64(i.toLong))
    store.commitRun(spark, hashesOf(h1), 400, seenVersion = 1, hashesOf(h1), 400)
    assert(store.loadProbe(spark).isDefined)
    // crash: run 2 commits its url_seen snapshot but dies before commitRun
    fakeSeenCommit(dir, 2)
    assert(store.loadProbe(spark).isEmpty,
      "a version gap means the filter under-covers — the probe must refuse to load")
    // run 3 commits; the store heals with a roll from the authoritative corpus
    fakeSeenCommit(dir, 3)
    val all = (0 until 900).map(i => Ids.mix64(i.toLong))
    val (rolled, covered) = store.commitRun(spark,
      hashesOf((700 until 900).map(i => Ids.mix64(i.toLong))), 200, seenVersion = 3,
      hashesOf(all), 900)
    assert(rolled && covered == 900)
    val probe = store.loadProbe(spark).get
    assert(all.forall(epochBloom(probe).mightContain), "healed epoch covers the corpus")
  }

  test("roll capacity is PERSISTED: a corpus past the constructor default rolls once, then spills") {
    val dir = tempDir("graft_seenstore_budget")
    // constructor budget 1024; the corpus will grow to 1300 > 1024
    val store = new SeenStore(dir, expectedKeys = 1024)
    fakeSeenCommit(dir, 1)
    val h1 = (0 until 600).map(i => Ids.mix64(i.toLong))
    val (r1, _) = store.commitRun(spark, hashesOf(h1), 600, 1, hashesOf(h1), 600)
    assert(r1, "first commit builds the epoch")
    fakeSeenCommit(dir, 2)
    val all2 = (0 until 1300).map(i => Ids.mix64(i.toLong))
    val h2 = (600 until 1300).map(i => Ids.mix64(i.toLong))
    val (r2, n2) = store.commitRun(spark, hashesOf(h2), 700, 2, hashesOf(all2), 1300)
    assert(r2 && n2 == 1300, "600-key budget exhausted → epoch roll from the corpus")
    // REGRESSION (round-2 advice): the roll persisted capacity 2×1300, so the
    // next small delta must take the spill path — not re-roll every run
    fakeSeenCommit(dir, 3)
    val h3 = (1300 until 1400).map(i => Ids.mix64(i.toLong))
    val (r3, n3) = store.commitRun(spark, hashesOf(h3), 100, seenVersion = 3,
      fullCorpusHashes = fail("capacity must come from the persisted meta, not the constructor"),
      fullCount = fail("no corpus count on the spill path"))
    val probe = store.loadProbe(spark).get
    assert(!r3 && n3 == 1300 + h3.count(h => !epochBloom(probe).mightContain(h)))
    assert(all2.forall(epochBloom(probe).mightContain))
    assert(h3.forall(h =>
      epochBloom(probe).mightContain(h) || spills(probe).exists(_.mightContain(h))))
  }

  /** Rolls 2,000 ids into a store with the 1 << 22 roll budget the crawl
    * mains pass, then spills two runs of 100 new ids. Returns the hashes
    * committed, the ones the loaded probe flags, and its false-positive
    * rate over 100k never-committed hashes. */
  private def rollThenSpill(store: SeenStore, dir: String) = {
    def range(lo: Int, hi: Int) = (lo until hi).map(i => Ids.mix64(i.toLong))
    fakeSeenCommit(dir, 1)
    val (r1, n1) = store.commitRun(spark, hashesOf(range(0, 2000)), 2000, 1,
      hashesOf(range(0, 2000)), 2000)
    assert(r1 && n1 == 2000)
    (2 to 3).foreach { v =>
      fakeSeenCommit(dir, v)
      val delta = range(2000 + 100 * (v - 2), 2100 + 100 * (v - 2))
      val (rolled, _) = store.commitRun(spark, hashesOf(delta), 100, v,
        fullCorpusHashes = fail(s"run $v must spill within the persisted budget"),
        fullCount = fail(s"run $v must not count the corpus"))
      assert(!rolled)
    }
    val committed = range(0, 2200)
    val never = range(1 << 20, (1 << 20) + 100000)
    val flagged = SeenSet.maybeSeen(spark, hashesOf(committed ++ never).toDF("h"), col("h"),
      store.loadProbe(spark).get).filter(col("maybe")).select("h").as[Long].collect().toSet
    (committed, flagged, never.count(flagged).toDouble / never.size)
  }

  test("epoch bloom is sized from its corpus; the roll budget stays") {
    val dir = tempDir("graft_seenstore_sized")
    val store = new SeenStore(dir, expectedKeys = 1L << 22)
    val (committed, flagged, fp) = rollThenSpill(store, dir)
    assert(Files.size(Paths.get(dir, "url_seen_bloom.bin")) ==
      BlockedBloom.sized(2000).serialized.length, "the epoch's bits follow its 2,000 keys")
    assert(committed.forall(flagged), "every committed id stays flagged")
    assert(fp < 0.05, s"false-positive rate too high: $fp")
    info(s"false-positive rate over 100k never-committed hashes: $fp")
  }

  test("sharded epoch shards are sized from the corpus") {
    val dir = tempDir("graft_seenstore_sized_shards")
    val store = new SeenStore(dir, expectedKeys = 1L << 22, numShards = 8)
    val (committed, flagged, fp) = rollThenSpill(store, dir)
    val sizes = spark.read.parquet(Paths.get(dir, "url_seen_bloom_shards").toString)
      .select("bytes").as[Array[Byte]].collect().map(_.length).toSet
    assert(sizes == Set(BlockedBloom.sized(2000 / 8 * 5 / 4 + 1).serialized.length),
      "each shard's bits follow its slice of the 2,000 keys, with a 25% skew margin")
    assert(committed.forall(flagged), "every committed id stays flagged")
    assert(fp < 0.05, s"false-positive rate too high: $fp")
    info(s"false-positive rate over 100k never-committed hashes: $fp")
  }

  test("sharded epoch mode: table-resident shards + spills dedup exactly like the rebuild path") {
    val dir = tempDir("graft_seenstore_sharded")
    val store = new SeenStore(dir, expectedKeys = 1 << 16, numShards = 8)
    val forum = spark.createDataset(ids(0, 7))

    // run 1: no epoch → rebuild-path parity by definition; commit ROLLS
    // into the parquet shard table (not a single bloom file)
    fakeSeenCommit(dir, 1)
    val h1 = spark.createDataset(ids(0, 400))
      .toDF("value").select(SeenSet.idHash(col("value")).as("h")).as[Long]
    val (r1, n1) = store.commitRun(spark, h1, 400, seenVersion = 1, h1, 400)
    assert(r1 && n1 == 400)
    assert(Files.isDirectory(Paths.get(dir, "url_seen_bloom_shards")))
    assert(!Files.exists(Paths.get(dir, "url_seen_bloom.bin")),
      "sharded mode must not write the single-filter artifact")
    val loaded = store.loadProbe(spark).get
    assert(loaded.filters.isEmpty && loaded.shards.exists(_.numShards == 8),
      "sharded mode loads table-resident tiers, no in-heap filter")

    // run 2: spill commit (O(delta), shard table untouched), then the
    // frontier's sharded dedup must equal the exact rebuild path
    fakeSeenCommit(dir, 2)
    val h2 = spark.createDataset(ids(400, 600))
      .toDF("value").select(SeenSet.idHash(col("value")).as("h")).as[Long]
    val (r2, n2) = store.commitRun(spark, h2, 200, seenVersion = 2,
      fullCorpusHashes = fail("spill path must not scan the corpus"),
      fullCount = fail("spill path must not count the corpus"))
    assert(!r2 && n2 == 600)
    // the spill is TABLE-RESIDENT in sharded mode: a (shard, cuckooBytes)
    // parquet dir + sidecar count json, never a single in-heap .bin whose
    // geometry cap would force epoch rolls on big nightly deltas
    assert(Files.isDirectory(Paths.get(dir, "url_seen_spill-v000002.shards")))
    assert(Files.exists(Paths.get(dir, "url_seen_spill-v000002.json")))
    assert(!Files.exists(Paths.get(dir, "url_seen_spill-v000002.bin")),
      "sharded mode must not write a monolithic spill filter")
    val existing = spark.createDataset(ids(0, 600))
    val d3 = spark.createDataset(ids(300, 1000))
    val inc = Frontier.buildWorklist(spark, existing, forum, d3,
      maxNew = 2000, runId = 3, store = Some(store))
      .entries.collect().map(e => (e.id, e.forums)).toSet
    val ref = Frontier.buildWorklist(spark, existing, forum, d3,
      maxNew = 2000, runId = 3)
      .entries.collect().map(e => (e.id, e.forums)).toSet
    assert(inc == ref, "sharded-probe dedup must match the rebuild path")

    // crash gap invalidates the sharded probe too
    fakeSeenCommit(dir, 3)
    assert(store.loadProbe(spark).isEmpty,
      "a version gap must invalidate the shard-table probe")

    // v3's own commit IS the heal: its spill closes the gap while the
    // chain stays contiguous, so no roll is needed
    val h3 = spark.createDataset(ids(600, 700))
      .toDF("value").select(SeenSet.idHash(col("value")).as("h")).as[Long]
    val (r3, _) = store.commitRun(spark, h3, 100, seenVersion = 3,
      fullCorpusHashes = fail("spill path must not scan the corpus"),
      fullCount = fail("spill path must not count the corpus"))
    assert(!r3, "committing the missing version's spill heals without rolling")
    assert(store.loadProbe(spark).isDefined)
    // now simulate a crash BETWEEN the spill table's directory move and its
    // sidecar json (the publish point): the half-written spill must be
    // invisible, so the probe invalidates
    fakeSeenCommit(dir, 4)
    val h4 = spark.createDataset(ids(700, 750))
      .toDF("value").select(SeenSet.idHash(col("value")).as("h")).as[Long]
    val (r4, _) = store.commitRun(spark, h4, 50, seenVersion = 4,
      fullCorpusHashes = fail("spill path must not scan the corpus"),
      fullCount = fail("spill path must not count the corpus"))
    assert(!r4)
    Files.delete(Paths.get(dir, "url_seen_spill-v000004.json"))
    assert(store.loadProbe(spark).isEmpty,
      "a spill table without its sidecar json must read as a version gap")
    // a MALFORMED sidecar (partial write on a non-atomic filesystem) must
    // read as a gap too — silently counting 0 keys would let the bloom
    // overfill past its persisted capacity with no signal
    Files.write(Paths.get(dir, "url_seen_spill-v000004.json"),
      "{\"cou".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(store.loadProbe(spark).isEmpty,
      "a corrupt sidecar json must read as a version gap, not count 0")
  }

  test("maxSpillRuns consolidation: spills accumulate then one roll absorbs them") {
    val dir = tempDir("graft_seenstore_consol")
    val store = new SeenStore(dir, expectedKeys = 1 << 16, maxSpillRuns = 2)
    var corpus = Seq.empty[Long]
    var rolls = 0
    (1 to 5).foreach { v =>
      fakeSeenCommit(dir, v)
      val delta = ((v - 1) * 100 until v * 100).map(i => Ids.mix64(i.toLong))
      corpus = corpus ++ delta
      val c = corpus
      val (rolled, _) = store.commitRun(spark, hashesOf(delta), 100, v,
        hashesOf(c), c.size.toLong)
      if (rolled) rolls += 1
    }
    // v1 roll (initial epoch), v2+v3 spill, v4 roll (maxSpillRuns=2 hit), v5 spill
    assert(rolls == 2, s"expected initial + one consolidation roll, got $rolls")
    val probe = store.loadProbe(spark).get
    assert(corpus.forall(h =>
      epochBloom(probe).mightContain(h) || spills(probe).exists(_.mightContain(h))))
  }
}
