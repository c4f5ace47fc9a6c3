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
  * work-list by exact set algebra. [[loadProbe]] returns the tiers as a
  * [[SeenProbe]] for readers that check what was committed. The tiers:
  *
  *  - the **epoch bloom** covers the seen corpus up to one `url_seen`
  *    snapshot version (recorded in its meta file), sized from the keys it
  *    holds ([[BlockedBloom.sized]]; it never gains one after its roll). It
  *    is only rewritten at epoch ROLLS — at archive scale the bloom file is
  *    multi-GB, so the per-run commit must not touch it;
  *  - each run's commit writes a **cuckoo spill**: a small filter over just
  *    the run's ids that no earlier tier flags (the run passes every id it
  *    crawled; the ones the epoch or an earlier spill already covers are
  *    dropped), built by the same distributed build as the epoch
  *    ([[SeenSet.buildFilter]]) and published atomically as
  *    `url_seen_spill-v{N}.bin`, keyed by the `url_seen` snapshot version it
  *    covers. Commit cost is O(delta);
  *  - when spills accumulate past `maxSpillRuns`, or covered keys outgrow
  *    the persisted roll budget (`capacityKeys`, at least 2× the corpus at
  *    the last roll), the epoch ROLLS: one rebuild from the authoritative
  *    snapshot (the store's only full scan, amortized over many runs),
  *    after which the spills are deleted.
  *
  * Every tier is one in-heap filter file. The rule's "partitioned" half, a
  * table-resident (sharded) layout, is out of scope: the crawl path reads
  * no filter at any scale.
  *
  * **Crash safety is validation, not staging** (the round-2 design staged
  * current-run inserts in a driver-held delta that production never
  * exercised — an unsound claim): the filter tiers are valid only if they
  * cover EVERY `url_seen` version up to the current one — the bloom's meta
  * version plus one contiguous spill per later version. A run that crashes
  * between its `url_seen` snapshot commit and its spill write leaves a
  * version gap; [[loadProbe]] then returns None, and the next [[commitRun]]
  * heals the store by rolling. The version check guarantees the tiers
  * never silently under-cover what was committed.
  */
final class SeenStore(dir: String,
                      /** Floor of the roll budget: a roll persists
                        * `max(expectedKeys, 2 × corpus)` as the covered-key
                        * count the spills may grow to before the next roll.
                        * It does not size any filter. */
                      expectedKeys: Long = 1L << 22,
                      maxSpillRuns: Int = 8) {
  import SeenStore.Meta

  private val bloomPath = Paths.get(dir, "url_seen_bloom.bin")
  private val metaPath = Paths.get(dir, "url_seen_bloom.json")
  Files.createDirectories(Paths.get(dir))

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

  // -------- spill tier --------

  private def spillPath(v: Int): Path = Paths.get(dir, f"url_seen_spill-v$v%06d.bin")

  private def spillVersions: Seq[Int] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Nil
    else listEntries(d)
      .map(_.getFileName.toString)
      .collect { case s if s.matches("url_seen_spill-v\\d{6}\\.bin") =>
        s.substring(16, 22).toInt }
      .sorted
  }

  private def deleteSpills(): Unit =
    spillVersions.foreach(v => Files.deleteIfExists(spillPath(v)))

  /** Spill key count WITHOUT deserializing the filter (potentially GiBs):
    * its 12-byte serialization header. */
  private def spillCount(v: Int): Long = {
    val in = Files.newInputStream(spillPath(v))
    try CuckooFilter.sizeOf(in.readNBytes(12)) finally in.close()
  }

  /** Keys the epoch and the spills `vs` hold. */
  private def covered(m: Meta, vs: Seq[Int]): Long = m.insertedKeys + vs.map(spillCount).sum

  // -------- load (validated) --------

  def bloomExists: Boolean = Files.exists(bloomPath)

  /** Load the probe tiers — None when absent or invalid: the epoch version
    * plus contiguous spills must cover every committed `url_seen` version
    * (no crash gap), and the next commit rolls the epoch. */
  def loadProbe(spark: SparkSession): Option[SeenProbe] =
    for {
      m <- readMeta()
      if bloomExists
      vs = spillVersions.filter(_ > m.seenVersion)
      if ((m.seenVersion + 1) to currentSeenVersion).forall(vs.contains)
    } yield probeOf(m, vs)

  /** The epoch plus the spills `vs`, loaded in heap. */
  private def probeOf(m: Meta, vs: Seq[Int]): SeenProbe =
    SeenProbe(BlockedBloom.deserialize(Files.readAllBytes(bloomPath)) +:
      vs.map(v => CuckooFilter.deserialize(Files.readAllBytes(spillPath(v)))),
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
    // a delta past the cuckoo's geometry cap can't spill safely (overload
    // → kick overflow; and the per-task zero table would be GiBs) — such a
    // run IS a reshape of the corpus, roll instead
    def spillFits(keys: Long) = coveredSoFar + keys <= meta.get.capacityKeys &&
      keys <= CuckooFilter.MaxSpillKeys
    lazy val delta =
      SeenSet.maybeSeen(newHashes.toDF("h"), col("h"), probeOf(meta.get, prior).filters)
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
        atomicWrite(bloomPath,
          SeenSet.buildFilter(fullCorpusHashes, () => BlockedBloom.sized(total)).serialized)
        saveMeta(Meta(total, capacity, seenVersion))
        deleteSpills()
        (true, total)
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
