package graft.frontier

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

/** Persistent two-tier seen-state across crawl runs (T2 at frontier scale;
  * north rule: "partitioned blocked Bloom filter (merged via treeAggregate)
  * plus cuckoo-filter spill").
  *
  * `Frontier.buildWorklist` otherwise builds a bloom from the full known set
  * on every call — a full scan of the seen corpus per nightly run, the most
  * expensive constant in the loop at a 10^10 frontier. This store makes the
  * filter a PERSISTED artifact with an O(delta) nightly commit:
  *
  *  - the **epoch bloom** covers the seen corpus up to one `url_seen`
  *    snapshot version (recorded in its meta file). It is only rewritten at
  *    epoch ROLLS — at archive scale the bloom file is multi-GB, so the
  *    per-run commit must not touch it;
  *  - each run's commit writes a **cuckoo spill**: a small filter over just
  *    that run's new id hashes, built DISTRIBUTED (per-partition filters,
  *    fingerprint-wise treeAggregate merge — no driver-side per-row loop)
  *    and published atomically as `url_seen_spill-v{N}.bin`, keyed by the
  *    `url_seen` snapshot version it covers. Commit cost is O(delta);
  *  - when spills accumulate past `maxSpillRuns`, or covered keys outgrow
  *    the bloom's persisted capacity, the epoch ROLLS: one rebuild from the
  *    authoritative snapshot (the only full scan, amortized over many runs),
  *    after which the spills are deleted.
  *
  * **Crash safety is validation, not staging** (the round-2 design staged
  * current-run inserts in a driver-held delta that production never
  * exercised — an unsound claim): the filter tiers are valid only if they
  * cover EVERY `url_seen` version up to the current one — the bloom's meta
  * version plus one contiguous spill per later version. A run that crashes
  * between its `url_seen` snapshot commit and its spill write leaves a
  * version gap; [[loadProbe]] then returns None, `Frontier.buildWorklist`
  * falls back to the full-rebuild path (exact), and the next [[commitRun]]
  * heals the store by rolling. Exactness never depends on the filter's
  * freshness: the bloom/spills remain a pre-filter ahead of the exact
  * anti-join ([[SeenSet.dedup]]'s contract), and the version check
  * guarantees the pre-filter tier never silently under-covers.
  */
final class SeenStore(dir: String, expectedKeys: Long = 1L << 22,
                      bitsPerKey: Int = 10, numHashes: Int = 5,
                      maxSpillRuns: Int = 8,
                      /** >0 → SHARDED epochs: the bloom persists as a
                        * parquet table of (shard, bloomBytes) rows probed
                        * via cogroup ([[SeenSet.shardedMaybeSeenTiers]]) — the
                        * 10^10-key mode where one filter (~12.5 GB) fits
                        * neither a task binary nor comfortably one heap.
                        * 0 → the single-filter epoch (default). */
                      numShards: Int = 0) {
  import SeenStore.Meta

  private val bloomPath = Paths.get(dir, "url_seen_bloom.bin")
  private val metaPath = Paths.get(dir, "url_seen_bloom.json")
  private val shardDir = Paths.get(dir, "url_seen_bloom_shards")
  Files.createDirectories(Paths.get(dir))

  private def sharded: Boolean = numShards > 0

  // -------- url_seen snapshot version (the validation authority) --------

  /** Current committed `url_seen` snapshot version — read from the manifest
    * listing beside this store (same resolution rule as SnapshotTable);
    * 0 when the table doesn't exist yet. */
  def currentSeenVersion: Int = {
    val manifests = Paths.get(dir, "url_seen", "manifests")
    if (!Files.isDirectory(manifests)) 0
    else listEntries(manifests)
      .map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d{6}\\.json") => s.substring(1, 7).toInt }
      .foldLeft(0)(math.max)
  }

  /** Directory listing with the underlying stream closed — a bare
    * `Files.list(..).iterator()` leaks one directory fd per call, and probe
    * loads/commits hit these paths every cycle in a long-lived driver. */
  private def listEntries(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  // -------- meta: {insertedKeys, capacityKeys, seenVersion} --------

  private def readMeta(): Option[Meta] =
    if (!Files.exists(metaPath)) None
    else {
      val s = new String(Files.readAllBytes(metaPath), StandardCharsets.UTF_8)
      def f(k: String): Option[Long] =
        (s""""$k":(\\d+)""").r.findFirstMatchIn(s).map(_.group(1).toLong)
      for (n <- f("insertedKeys"); c <- f("capacityKeys"); v <- f("seenVersion"))
        yield Meta(n, c, v.toInt)
    }

  private def atomicWrite(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(s".tmp-${target.getFileName}-${System.nanoTime()}")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def saveMeta(m: Meta): Unit =
    atomicWrite(metaPath,
      s"""{"insertedKeys":${m.insertedKeys},"capacityKeys":${m.capacityKeys},"seenVersion":${m.seenVersion}}"""
        .getBytes(StandardCharsets.UTF_8))

  private def saveBloom(bloom: BlockedBloom, m: Meta): Unit = {
    atomicWrite(bloomPath, bloom.serialized)
    saveMeta(m)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p))
        listEntries(p).foreach(deleteRecursively)
      Files.deleteIfExists(p)
      ()
    }

  // -------- spill tier --------

  private def spillPath(v: Int): Path = Paths.get(dir, f"url_seen_spill-v$v%06d.bin")
  // sharded-mode spill artifacts: a (shard, cuckooBytes) parquet table plus
  // a sidecar count json written AFTER the table's atomic move — a crash
  // between the two leaves the version invisible (a gap), which the
  // validation below already treats as "roll on next commit"
  private def spillShardDir(v: Int): Path = Paths.get(dir, f"url_seen_spill-v$v%06d.shards")
  private def spillMetaPath(v: Int): Path = Paths.get(dir, f"url_seen_spill-v$v%06d.json")

  private def spillVersions: Seq[Int] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Nil
    else if (sharded)
      listEntries(d)
        .map(_.getFileName.toString)
        .collect { case s if s.matches("url_seen_spill-v\\d{6}\\.shards") =>
          s.substring(16, 22).toInt }
        .filter(v => shardedSpillCount(v).isDefined)
        .toSeq.sorted
    else listEntries(d)
      .map(_.getFileName.toString)
      .collect { case s if s.matches("url_seen_spill-v\\d{6}\\.bin") =>
        s.substring(16, 22).toInt }
      .toSeq.sorted
  }

  private def deleteSpills(): Unit =
    spillVersions.foreach { v =>
      Files.deleteIfExists(spillPath(v))
      Files.deleteIfExists(spillMetaPath(v))
      deleteRecursively(spillShardDir(v))
    }

  /** Parsed sidecar count — None for a missing OR malformed json, which
    * makes the version INVISIBLE (a gap the next load/commit heals by
    * rolling): a corrupt sidecar must not silently count 0 keys toward the
    * bloom's capacity check. */
  private def shardedSpillCount(v: Int): Option[Long] =
    if (!Files.exists(spillMetaPath(v))) None
    else {
      val s = new String(Files.readAllBytes(spillMetaPath(v)), StandardCharsets.UTF_8)
      """"count":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    }

  /** Spill key count WITHOUT deserializing the filter (potentially GiBs):
    * the 12-byte serialization header in single-filter mode, the sidecar
    * json in sharded mode (validated present by [[spillVersions]]). */
  private def spillCount(v: Int): Long =
    if (sharded) shardedSpillCount(v).get
    else {
      val in = Files.newInputStream(spillPath(v))
      try {
        val hdr = in.readNBytes(12)
        java.nio.ByteBuffer.wrap(hdr).getLong(4)
      } finally in.close()
    }

  // -------- load (validated) --------

  def bloomExists: Boolean =
    if (sharded) Files.isDirectory(shardDir) else Files.exists(bloomPath)

  /** Load the probe tiers — None when absent or invalid: the epoch version
    * plus contiguous spills must cover every committed `url_seen` version
    * (no crash gap). Callers then use the exact full-rebuild path, and the
    * next commit rolls the epoch. Single-filter mode loads the epoch bloom
    * and the spills in heap; sharded mode returns their tables, read
    * lazily by Spark and probed through one cogroup
    * ([[SeenSet.shardedMaybeSeenTiers]]), so nothing filter-sized ever
    * materializes on the driver or in a task binary. */
  def loadProbe(spark: SparkSession): Option[SeenProbe] =
    for {
      m <- readMeta()
      if bloomExists
      vs = spillVersions.filter(_ > m.seenVersion)
      if ((m.seenVersion + 1) to currentSeenVersion).forall(vs.contains)
    } yield {
      val covered = m.insertedKeys + vs.map(spillCount).sum
      if (sharded) {
        import spark.implicits._
        def shardTable(p: Path): Dataset[(Int, Array[Byte])] =
          spark.read.parquet(p.toString)
            .select(org.apache.spark.sql.functions.col("shard").cast("int"),
              org.apache.spark.sql.functions.col("bytes"))
            .as[(Int, Array[Byte])]
        SeenProbe(Nil, Some(ShardTiers(shardTable(shardDir),
          vs.map(v => shardTable(spillShardDir(v))), numShards)), covered)
      } else
        SeenProbe(BlockedBloom.deserialize(Files.readAllBytes(bloomPath)) +:
          vs.map(v => CuckooFilter.deserialize(Files.readAllBytes(spillPath(v)))), None, covered)
    }

  // -------- commit --------

  /** Commit a run's new id hashes. Fast path: write ONE small cuckoo spill
    * over the delta (distributed build, O(delta) I/O, the epoch bloom file
    * untouched). Roll path — taken when the store is absent/stale (crash
    * gap), covered keys would exceed the bloom's PERSISTED capacity, or
    * `maxSpillRuns` spills have accumulated — rebuilds the bloom from the
    * authoritative corpus at 2× headroom and persists the grown capacity (so
    * a corpus larger than the constructor default never re-rolls every run).
    * `seenVersion` is the `url_seen` snapshot version this run committed.
    * Returns (rolled, coveredKeysAfter). */
  def commitRun(spark: SparkSession, newHashes: Dataset[Long], newCount: Long,
                seenVersion: Int,
                fullCorpusHashes: => Dataset[Long], fullCount: => Long): (Boolean, Long) = {
    val meta = readMeta().filter(_ => bloomExists)
    val vs = spillVersions
    // valid iff spills cover exactly (bloomVersion, seenVersion-1]
    val contiguous = meta.exists(m =>
      ((m.seenVersion + 1) until seenVersion).forall(vs.contains))
    val coveredSoFar = meta.map(m =>
      m.insertedKeys + vs.filter(_ > m.seenVersion).map(spillCount).sum)
    val fits = meta.zip(coveredSoFar).exists { case (m, c) =>
      c + newCount <= m.capacityKeys }
    // a delta past the cuckoo's geometry cap can't spill safely (overload →
    // kick overflow; and the per-task zero table would be GiBs) — such a
    // run IS a reshape of the corpus, roll instead. In SHARDED mode the
    // spill is a per-slice table, so the cap applies per shard (with the
    // same 25% skew margin the build sizes with) — a nightly 10^8-key delta
    // spills in O(delta) instead of forcing a full-corpus epoch roll
    val spillable =
      if (sharded) newCount / numShards * 5 / 4 + 1 <= CuckooFilter.MaxSpillKeys
      else newCount <= CuckooFilter.MaxSpillKeys
    if (!contiguous || !fits || !spillable ||
        vs.count(_ > meta.get.seenVersion) + 1 > maxSpillRuns) {
      // epoch roll: one full rebuild from the authoritative snapshot. The
      // empty filter is allocated PER PARTITION on the executors (shipping
      // it as a treeAggregate zeroValue would put the whole multi-GB filter
      // in every task binary at archive scale); partials merge log-depth.
      val total = fullCount
      val capacity = math.max(expectedKeys, total * 2)
      if (sharded) {
        // the epoch becomes a TABLE: one (shard, bloomBytes) row per hash
        // slice, written then published by directory swap; a crash mid-swap
        // is a version gap the next load/commit heals by rolling again
        val blocksPerShard = math.max(1L,
          (capacity / numShards * bitsPerKey + 511) / 512).min(Int.MaxValue / 16).toInt
        val tmp = Paths.get(dir, s".bloomshards-tmp-${System.nanoTime()}")
        SeenSet.buildBloomShards(spark, fullCorpusHashes, numShards, blocksPerShard, numHashes)
          .toDF("shard", "bytes")
          .write.mode("overwrite").parquet(tmp.toString)
        deleteRecursively(shardDir)
        Files.move(tmp, shardDir, StandardCopyOption.REPLACE_EXISTING)
        saveMeta(Meta(total, capacity, seenVersion))
      } else {
        val rebuilt = SeenSet.buildBloomTree(fullCorpusHashes, capacity, bitsPerKey, numHashes)
        saveBloom(rebuilt, Meta(total, capacity, seenVersion))
      }
      deleteSpills()
      (true, total)
    } else if (sharded) {
      // sharded spill: the delta as a (shard, cuckooBytes) table — built
      // per hash-slice like the bloom shards, published by directory move,
      // made VISIBLE by the sidecar count json (written last; a crash
      // between the two is a version gap the next commit heals by rolling).
      // Sized per shard at ≤50% load with a 25% skew margin; add throws on
      // overflow (a dropped key would be a pre-filter false negative).
      val buckets = CuckooFilter.bucketsFor(newCount / numShards * 5 / 4 + 1)
      val tmp = Paths.get(dir, s".spillshards-tmp-${System.nanoTime()}")
      SeenSet.buildCuckooShards(spark, newHashes, numShards, buckets)
        .toDF("shard", "bytes")
        .write.mode("overwrite").parquet(tmp.toString)
      // invisible-before-visible holds on RE-commit of the same version too:
      // the sidecar json is the visibility marker, so drop any stale one
      // BEFORE replacing the table — a crash after the move then leaves the
      // version invisible (a gap), never a fresh table paired with an old
      // count
      Files.deleteIfExists(spillMetaPath(seenVersion))
      deleteRecursively(spillShardDir(seenVersion))
      Files.move(tmp, spillShardDir(seenVersion), StandardCopyOption.REPLACE_EXISTING)
      atomicWrite(spillMetaPath(seenVersion),
        s"""{"count":$newCount}""".getBytes(StandardCharsets.UTF_8))
      (false, coveredSoFar.getOrElse(0L) + newCount)
    } else {
      // spill: distributed cuckoo over the delta only — per-partition local
      // filters, fingerprint-wise log-depth merge. add throws on overflow
      // (a dropped key would be a pre-filter false negative); bucketsFor
      // sizes at ≤50% load so kicks can't cascade to failure.
      val buckets = CuckooFilter.bucketsFor(newCount)
      val rdd = newHashes.rdd
      val spill =
        if (rdd.getNumPartitions == 0) new CuckooFilter(buckets)
        else rdd.mapPartitions { it =>
          val f = new CuckooFilter(buckets)
          it.foreach { h =>
            if (!f.add(h)) throw new IllegalStateException("cuckoo spill overflow")
          }
          Iterator.single(f)
        }.treeReduce((a, b) => a.mergeInPlace(b), depth = 2)
      atomicWrite(spillPath(seenVersion), spill.serialized)
      (false, coveredSoFar.getOrElse(0L) + newCount)
    }
  }
}

object SeenStore {
  private final case class Meta(insertedKeys: Long, capacityKeys: Long, seenVersion: Int)
}
