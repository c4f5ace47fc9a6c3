package graft.frontier

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.snapshot.SnapshotTable

/** Persistent two-tier seen-state across crawl runs (T2 at frontier scale;
  * north rule: "partitioned blocked Bloom filter (merged via treeAggregate)
  * plus cuckoo-filter spill").
  *
  * The store keeps a membership filter over the seen corpus as a PERSISTED
  * artifact with an O(delta) nightly commit. The crawl path commits it each
  * round but does not read it: `Frontier.buildWorklist` recrawls every known
  * id, so it scans the seen corpus every round anyway and builds the
  * work-list by exact set algebra. Nothing on the crawl path calls
  * [[loadProbe]]; it returns the tiers as a [[SeenProbe]] for
  * [[SeenSet.dedup]]. The tiers:
  *
  *  - the **epoch bloom** covers the seen corpus up to one `url_seen`
  *    snapshot version (recorded in its meta file), sized from the keys it
  *    holds ([[BlockedBloom.sized]]; it never gains one after its roll). It
  *    is only rewritten at epoch ROLLS — at archive scale the bloom file is
  *    multi-GB, so the per-run commit must not touch it;
  *  - each run's commit writes a **cuckoo spill**: a small filter over just
  *    the run's ids that no earlier tier flags (the run passes every id it
  *    crawled; the ones the epoch or an earlier spill already covers are
  *    dropped), built by the same distributed builds as the epoch
  *    ([[SeenSet.buildFilter]], [[SeenSet.buildFilterShards]]) and
  *    published atomically as `url_seen_spill-v{N}.bin`, keyed by the
  *    `url_seen` snapshot version it covers. Commit cost is O(delta);
  *  - when spills accumulate past `maxSpillRuns`, or covered keys outgrow
  *    the persisted roll budget (`capacityKeys`, at least 2× the corpus at
  *    the last roll), the epoch ROLLS: one rebuild from the authoritative
  *    snapshot (the store's only full scan, amortized over many runs),
  *    after which the spills are deleted.
  *
  * **Crash safety is validation, not staging** (the round-2 design staged
  * current-run inserts in a driver-held delta that production never
  * exercised — an unsound claim): the filter tiers are valid only if they
  * cover EVERY `url_seen` version up to the current one — the bloom's meta
  * version plus one contiguous spill per later version. A run that crashes
  * between its `url_seen` snapshot commit and its spill write leaves a
  * version gap; [[loadProbe]] then returns None, and the next [[commitRun]]
  * heals the store by rolling. Exactness never depends on the filter's
  * freshness: the bloom/spills remain a pre-filter ahead of the exact
  * anti-join ([[SeenSet.dedup]]'s contract), and the version check
  * guarantees the pre-filter tier never silently under-covers.
  */
final class SeenStore(dir: String,
                      /** Floor of the roll budget: a roll persists
                        * `max(expectedKeys, 2 × corpus)` as the covered-key
                        * count the spills may grow to before the next roll.
                        * It does not size any filter. */
                      expectedKeys: Long = 1L << 22,
                      maxSpillRuns: Int = 8,
                      /** >0 → SHARDED epochs: the bloom persists as a
                        * parquet table of (shard, bloomBytes) rows probed
                        * via cogroup ([[SeenSet.maybeSeen]]) — the
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

  /** Current committed `url_seen` snapshot version (the manifest listing
    * beside this store); 0 when the table doesn't exist yet. */
  def currentSeenVersion: Int =
    SnapshotTable.versions(Paths.get(dir, "url_seen").toString).lastOption.getOrElse(0)

  /** Directory listing with the underlying stream closed — a bare
    * `Files.list(..).iterator()` leaks one directory fd per call, and probe
    * loads/commits hit these paths every cycle in a long-lived driver. */
  private def listEntries(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  // -------- meta: {insertedKeys, capacityKeys, seenVersion} --------
  // insertedKeys: the epoch's keys (its bloom is sized from them);
  // capacityKeys: the roll budget the spills fit against; seenVersion: the
  // url_seen version the epoch covers

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
    * roll-budget check. */
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
      try CuckooFilter.sizeOf(in.readNBytes(12)) finally in.close()
    }

  /** Keys the epoch and the spills `vs` hold. */
  private def covered(m: Meta, vs: Seq[Int]): Long = m.insertedKeys + vs.map(spillCount).sum

  // -------- load (validated) --------

  def bloomExists: Boolean =
    if (sharded) Files.isDirectory(shardDir) else Files.exists(bloomPath)

  /** Load the probe tiers — None when absent or invalid: the epoch version
    * plus contiguous spills must cover every committed `url_seen` version
    * (no crash gap). Callers then use the exact full-rebuild path, and the
    * next commit rolls the epoch. */
  def loadProbe(spark: SparkSession): Option[SeenProbe] =
    for {
      m <- readMeta()
      if bloomExists
      vs = spillVersions.filter(_ > m.seenVersion)
      if ((m.seenVersion + 1) to currentSeenVersion).forall(vs.contains)
    } yield probeOf(spark, m, vs)

  /** The epoch plus the spills `vs` as probe tiers. Single-filter mode
    * loads them in heap; sharded mode returns their tables, read lazily by
    * Spark and probed through one cogroup ([[SeenSet.maybeSeen]]), so
    * nothing filter-sized ever materializes on the driver or in a task
    * binary. */
  private def probeOf(spark: SparkSession, m: Meta, vs: Seq[Int]): SeenProbe =
    if (sharded) {
      import spark.implicits._
      def shardTable(p: Path): Dataset[(Int, Array[Byte])] =
        spark.read.parquet(p.toString).select(col("shard").cast("int"), col("bytes"))
          .as[(Int, Array[Byte])]
      SeenProbe(Nil, Some(ShardTiers(shardTable(shardDir),
        vs.map(v => shardTable(spillShardDir(v))), numShards)), covered(m, vs))
    } else
      SeenProbe(BlockedBloom.deserialize(Files.readAllBytes(bloomPath)) +:
        vs.map(v => CuckooFilter.deserialize(Files.readAllBytes(spillPath(v)))), None,
        covered(m, vs))

  // -------- commit --------

  /** Commit a run's crawled id hashes. Fast path: write ONE small cuckoo
    * spill over the hashes no earlier tier flags (the epoch and the spills
    * of versions below `seenVersion`; this version's own spill is left out,
    * since a re-commit replaces it) — O(delta) I/O, the epoch bloom file
    * untouched. Roll path — taken when the store is absent/stale (crash
    * gap), covered keys would exceed the PERSISTED roll budget, or
    * `maxSpillRuns` spills have accumulated — rebuilds the bloom from the
    * authoritative corpus, sized from the keys it holds, and persists a
    * budget of 2× the corpus (at least `expectedKeys`; so a corpus larger
    * than the constructor default never re-rolls every run).
    * `newCount` bounds the spill's keys from above; the delta is counted
    * only when that bound fails a check. `seenVersion` is the `url_seen`
    * snapshot version this run committed. Returns (rolled,
    * coveredKeysAfter). */
  def commitRun(spark: SparkSession, newHashes: Dataset[Long], newCount: Long,
                seenVersion: Int,
                fullCorpusHashes: => Dataset[Long], fullCount: => Long): (Boolean, Long) = {
    import spark.implicits._
    val meta = readMeta().filter(_ => bloomExists)
    val vs = spillVersions
    // valid iff spills cover exactly (bloomVersion, seenVersion-1]
    val contiguous = meta.exists(m =>
      ((m.seenVersion + 1) until seenVersion).forall(vs.contains))
    val prior = meta.map(m => vs.filter(v => v > m.seenVersion && v < seenVersion)).getOrElse(Nil)
    lazy val coveredSoFar = covered(meta.get, prior)
    // keys one hash slice gets out of `keys`, with a 25% skew margin: the
    // size of each sharded filter, epoch or spill. A delta past the cuckoo's
    // geometry cap can't spill safely (overload → kick overflow; and the
    // per-task zero table would be GiBs) — such a run IS a reshape of the
    // corpus, roll instead. In SHARDED mode the spill is a per-slice table,
    // so the cap applies per shard — a nightly 10^8-key delta spills in
    // O(delta) instead of forcing a full-corpus epoch roll
    def perShard(keys: Long) = keys / numShards * 5 / 4 + 1
    def spillFits(keys: Long) = coveredSoFar + keys <= meta.get.capacityKeys &&
      (if (sharded) perShard(keys) else keys) <= CuckooFilter.MaxSpillKeys
    lazy val delta =
      SeenSet.maybeSeen(spark, newHashes.toDF("h"), col("h"), probeOf(spark, meta.get, prior))
        .filter(!col("maybe")).select("h").as[Long]
    val spillKeys =
      if (!contiguous || prior.size + 1 > maxSpillRuns) None
      else if (spillFits(newCount)) Some(newCount)
      else Some(delta.count()).filter(spillFits)
    spillKeys match {
      case None =>
        // epoch roll: one full rebuild from the authoritative snapshot. Its
        // bits follow the keys it holds, not the roll budget: it never gains
        // a key after the roll (new ids go to spills), and every stage
        // downstream of the probe ships it in its task binary
        val total = fullCount
        val capacity = math.max(expectedKeys, total * 2)
        if (sharded) {
          // the epoch becomes a TABLE: one (shard, bloomBytes) row per hash
          // slice, written then published by directory swap; a crash mid-swap
          // is a version gap the next load/commit heals by rolling again
          val perShardKeys = perShard(total)
          val tmp = Paths.get(dir, s".bloomshards-tmp-${System.nanoTime()}")
          SeenSet.buildFilterShards(spark, fullCorpusHashes, numShards,
              () => BlockedBloom.sized(perShardKeys))
            .toDF("shard", "bytes")
            .write.mode("overwrite").parquet(tmp.toString)
          deleteRecursively(shardDir)
          Files.move(tmp, shardDir, StandardCopyOption.REPLACE_EXISTING)
        } else
          atomicWrite(bloomPath,
            SeenSet.buildFilter(fullCorpusHashes, () => BlockedBloom.sized(total)).serialized)
        saveMeta(Meta(total, capacity, seenVersion))
        deleteSpills()
        (true, total)
      case Some(keys) if sharded =>
        // sharded spill: the delta as a (shard, cuckooBytes) table,
        // published by directory move, made VISIBLE by the sidecar count
        // json (written last; a crash between the two is a version gap the
        // next commit heals by rolling). Sized per shard at ≤50% load with a
        // 25% skew margin; the count is read from each filter's header as
        // the write's result tasks pass it
        val buckets = CuckooFilter.bucketsFor(perShard(keys))
        val added = spark.sparkContext.longAccumulator("seenstore.spill_keys")
        val tmp = Paths.get(dir, s".spillshards-tmp-${System.nanoTime()}")
        SeenSet.buildFilterShards(spark, delta, numShards, () => new CuckooFilter(buckets))
          .map { case row @ (_, bytes) => added.add(CuckooFilter.sizeOf(bytes)); row }
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
          s"""{"count":${added.sum}}""".getBytes(StandardCharsets.UTF_8))
        (false, coveredSoFar + added.sum)
      case Some(keys) =>
        val buckets = CuckooFilter.bucketsFor(keys)
        val spill = SeenSet.buildFilter(delta, () => new CuckooFilter(buckets))
        atomicWrite(spillPath(seenVersion), spill.serialized)
        (false, coveredSoFar + spill.size)
    }
  }
}

object SeenStore {
  private final case class Meta(insertedKeys: Long, capacityKeys: Long, seenVersion: Int)
}
