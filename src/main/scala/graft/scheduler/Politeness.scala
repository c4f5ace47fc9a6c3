package graft.scheduler

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{CacheScope, CrawlConfig, FrontierEntry, Ids, ScheduledFetch}
import graft.frontier.Frontier

/** Deterministic virtual-clock politeness scheduler (SURVEY.md §7.1 step 5).
  *
  * Reference semantics being reproduced (ExtensionCrawler):
  *  - the nightly work-list is a seeded shuffle of the frontier
  *    (`random.shuffle(tups)`, archive.py:594) pulled in order by the worker
  *    pool (chunksize=1, archive.py:603-605) → crawl ORDER is the shuffled
  *    list order;
  *  - "restricted" (forum) requests are globally exclusive and must start
  *    ≥ 0.6 s + U(0, 0.15) s after the previous restricted request
  *    (request_manager.py:15-42); normal requests only wait out the spacing
  *    after the most recent restricted request.
  *
  * The oracle (`VirtualClockOracle`) defines the schedule as a pure function
  * of (frontier, config): shuffle key, jitter and durations all derive from
  * seeded 64-bit mixes of the id. The rule is a prefix scan over the
  * shuffled order, and the Spark pipeline computes it distributed:
  *  - a deterministic bucket shuffle plus an in-partition sort puts the
  *    frontier in global seq order, one contiguous seq range per partition.
  *    A crawl round sends its work-list sources and its prior `url_seen`
  *    rows through the same shuffle, so the rows of one id meet there and
  *    merge: the round's only exchange ([[exchange]]);
  *  - one stats job returns (ids, restricted ids, restricted chain length,
  *    new ids) per partition, and the driver prefix-sums those P tuples;
  *  - one walk per partition starts from its carried-in seq and chain end
  *    and emits restricted and normal rows in the same pass: the chain
  *    carry-in IS the end of the last earlier restricted fetch, so a normal
  *    row needs no lookup ([[walk]]).
  * Driver state is O(partitions) at any frontier size.
  * Physical parallelism changes wall-clock throughput, never the schedule.
  */
object Politeness {

  /** Deterministic 64-bit string hash (pure Scala — shared verbatim by the
    * oracle and the distributed pipeline, so parity is by construction). */
  def strHash64(s: String, seed: Long): Long = {
    var h = seed ^ 0x9E3779B97F4A7C15L
    var i = 0
    while (i < s.length) { h = Ids.mix64(h ^ s.charAt(i).toLong); i += 1 }
    h
  }

  /** Politeness spacing for an id: normalMs + deterministic jitter in
    * [0, jitterMaxMs] (request_manager.py:19,33's 0.6 s + U(0,0.15) s under
    * a seeded RNG). */
  def spacingMs(id: String, cfg: CrawlConfig): Long =
    cfg.politenessNormalMs + Math.floorMod(Ids.mix64(strHash64(id, cfg.shuffleSeed) ^ 0x51ED2701L), cfg.jitterMaxMs + 1)

  /** Deterministic synthetic fetch duration (50-149 ms virtual). */
  def durationMs(id: String, cfg: CrawlConfig): Long =
    50L + Math.floorMod(Ids.mix64(strHash64(id, cfg.shuffleSeed) ^ 0xD1B54A32D192ED03L), 100L)

  /** The seeded-shuffle sort key (archive.py:594 made deterministic). */
  def shuffleKey(id: String, cfg: CrawlConfig): Long = strHash64(id, cfg.shuffleSeed)

  /** Distributed schedule — exactly equal to
    * [[VirtualClockOracle.schedule]] on the same inputs (an id listed
    * twice is scheduled once): the round's [[exchange]] and [[walk]] with
    * no state side. Submits exactly one job (the stats collect, which also
    * fills the persisted sorted partitions); the returned Dataset walks
    * those cached partitions without shuffling the frontier again. */
  def schedule(spark: SparkSession, frontier: Dataset[FrontierEntry], cfg: CrawlConfig,
               numPartitions: Int = 0): Dataset[ScheduledFetch] =
    scheduled(walk(spark, exchange(spark, frontierRows(frontier), None, cfg, numPartitions), cfg))

  /** A frontier's rows as [[exchange]] input: all exempt from a cap. */
  def frontierRows(frontier: Dataset[FrontierEntry]): DataFrame =
    frontier.toDF().select(col("id"), col("host"), col("forums"), lit(true).as("known"))

  /** The scheduled rows of a [[walk]]. */
  def scheduled(placed: Dataset[Placed]): Dataset[ScheduledFetch] = {
    import placed.sparkSession.implicits._
    placed.filter(col("seq").isNotNull)
      .select("seq", "id", "host", "fetchClass", "startMs").as[ScheduledFetch]
  }

  // a slot's flags: a frontier row, restricted, exempt from a cap
  private val Scheduled = 1
  private val Forums = 2
  private val Known = 4

  /** One row through the exchange, and after it one merged id: a frontier
    * row (a null `host` is derived from the id), a `url_seen` row (flags 0,
    * with its `etag` and `lastRun`), or both. `lastRun` is boxed: it is
    * null for an id without a 200. */
  final case class Slot(id: String, host: String, flags: Int, etag: String, lastRun: java.lang.Integer) {
    def merge(o: Slot): Slot = Slot(id, if (host != null) host else o.host, flags | o.flags,
      if (etag != null) etag else o.etag, if (lastRun != null) lastRun else o.lastRun)
  }

  /** One id out of the [[walk]]: its schedule slot (`seq`, `fetchClass`,
    * `startMs`, null for a state-only id) and its prior `url_seen` row. */
  final case class Placed(seq: Option[Long], id: String, host: String, fetchClass: String,
                          startMs: Option[Long], etag: String, lastRun: Option[Int])

  /** The merged ids, sorted and persisted, and per partition (scheduled
    * ids, restricted ids, restricted chain length, ids without the known
    * flag). */
  final case class Exchange(sorted: RDD[Slot], stats: Array[(Long, Long, Long, Long)])

  /** The one shuffle of a round: `frontier` rows `(id, host, forums,
    * known)` and `state` rows `(id, etag, lastRun)` go through a
    * DETERMINISTIC bucket partitioner on the top bits of the (sign-flipped)
    * shuffle key instead of `repartitionByRange`: the keys are uniform
    * 64-bit mixes, so buckets balance by construction and no sampling pass
    * runs. Within a bucket all keys share a sign, so one in-memory sort by
    * (key, id) per partition completes the global sort, and puts the rows
    * of one id side by side to merge. The sort is safe at any frontier size
    * because partition count scales with the data (10^10 rows / 2^17
    * buckets ≈ 76k rows per partition). `numPartitions` 0 takes the
    * session's shuffle partitions; either is rounded up to a power of two. */
  def exchange(spark: SparkSession, frontier: DataFrame, state: Option[DataFrame], cfg: CrawlConfig,
               numPartitions: Int = 0): Exchange = {
    import spark.implicits._
    val parts0 = math.max(if (numPartitions > 0) numPartitions else spark.sessionState.conf.numShufflePartitions, 1)
    // next power of two ≥ parts0 so the bucket is a bit-shift of the key
    val p = Integer.highestOneBit(parts0) * (if (Integer.bitCount(parts0) == 1) 1 else 2)
    val shift = 64 - Integer.numberOfTrailingZeros(p)
    val flags = lit(Scheduled) + when(col("forums"), Forums).otherwise(0) + when(col("known"), Known).otherwise(0)
    val rows = frontier.select(col("id"), col("host"), flags.as("flags"),
      lit(null).cast("string").as("etag"), lit(null).cast("int").as("lastRun"))
    val slots = state.fold(rows)(s => rows.union(s.select(col("id"), lit(null).cast("string").as("host"),
      lit(0).as("flags"), col("etag"), col("lastRun"))))

    // bucket = top bits of unsigned(key): monotone in the signed key order
    // the oracle sorts by, so bucket index order IS global order
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = p
      override def getPartition(key: Any): Int =
        if (shift >= 64) 0 else ((key.asInstanceOf[Long] ^ Long.MinValue) >>> shift).toInt
    }
    val sorted = slots.as[Slot].rdd
      .map(s => (shuffleKey(s.id, cfg), s))
      .partitionBy(part)
      .mapPartitions({ it =>
        val arr = it.toArray
        java.util.Arrays.sort(arr, (a: (Long, Slot), b: (Long, Slot)) => {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c else a._2.id.compareTo(b._2.id)
        })
        val ids = scala.collection.mutable.ArrayBuffer.empty[Slot]
        arr.foreach { case (_, s) =>
          if (ids.nonEmpty && ids.last.id == s.id) ids(ids.length - 1) = ids.last.merge(s) else ids += s
        }
        ids.iterator
      }, preservesPartitioning = true)
    // SER: raw-object RDD caching of tens of millions of rows is pure GC
    // pressure; serialized blocks keep the heap flat. Scope-registered so
    // iterative crawl loops release it at round end
    CacheScope.persistRdd(sorted, StorageLevel.MEMORY_AND_DISK_SER)

    val stats = sorted.mapPartitions { it =>
      var n = 0L; var r = 0L; var chain = 0L; var fresh = 0L
      it.foreach { s =>
        if ((s.flags & Scheduled) != 0) {
          n += 1
          if ((s.flags & Forums) != 0) { r += 1; chain += spacingMs(s.id, cfg) + durationMs(s.id, cfg) }
          if ((s.flags & Known) == 0) fresh += 1
        }
      }
      Iterator.single((n, r, chain, fresh))
    }.collect()
    Exchange(sorted, stats)
  }

  /** One walk per partition in seq order, from its carry-in: the driver's
    * prefix sums of the earlier partitions' stats (seq, restricted ids,
    * chain end). A restricted id starts one spacing after the chain end and
    * extends it; a normal id starts one spacing after it, or at 0 before
    * the first restricted id. A state-only id takes no seq. A null host is
    * the id's store host of `nHosts` ([[Frontier.urlFor]]). */
  def walk(spark: SparkSession, ex: Exchange, cfg: CrawlConfig, nHosts: Int = 16): Dataset[Placed] = {
    import spark.implicits._
    val carryIn = ex.stats.scanLeft((0L, 0L, 0L)) { case ((n, r, c), (dn, dr, dc, _)) => (n + dn, r + dr, c + dc) }
    spark.createDataset(ex.sorted.mapPartitionsWithIndex { (pid, it) =>
      val (seq0, restrictedBefore, chain0) = carryIn(pid)
      var seq = seq0; var chainEnd = chain0; var anyRestricted = restrictedBefore > 0
      it.map { s =>
        val lastRun = Option(s.lastRun).map(_.intValue)
        if ((s.flags & Scheduled) == 0) Placed(None, s.id, null, null, None, s.etag, lastRun)
        else {
          val spacing = spacingMs(s.id, cfg)
          val (cls, start) =
            if ((s.flags & Forums) != 0) {
              val start = chainEnd + spacing
              chainEnd = start + durationMs(s.id, cfg); anyRestricted = true
              ("restricted", start)
            } else ("normal", if (anyRestricted) chainEnd + spacing else 0L)
          val host = if (s.host != null) s.host else Frontier.hostOf(Frontier.urlFor(s.id, nHosts))
          seq += 1
          Placed(Some(seq - 1), s.id, host, cls, Some(start), s.etag, lastRun)
        }
      }
    })
  }
}

/** Sequential reference oracle — the single-threaded semantics of
  * archive.py:588-623 + request_manager.py:15-42 under a virtual clock.
  * Used only by tests and parity checks; never by the pipeline. */
object VirtualClockOracle {
  def schedule(frontier: Seq[FrontierEntry], cfg: CrawlConfig): Seq[ScheduledFetch] = {
    val ordered = frontier.sortBy(e => (Politeness.shuffleKey(e.id, cfg), e.id))
    var lastRestrictedEnd = -1L
    ordered.zipWithIndex.map { case (e, seq) =>
      val spacing = Politeness.spacingMs(e.id, cfg)
      val dur = Politeness.durationMs(e.id, cfg)
      if (e.forums) {
        val start = if (lastRestrictedEnd < 0) spacing else lastRestrictedEnd + spacing
        lastRestrictedEnd = start + dur
        ScheduledFetch(seq.toLong, e.id, e.host, "restricted", start)
      } else {
        val start = if (lastRestrictedEnd < 0) 0L else lastRestrictedEnd + spacing
        ScheduledFetch(seq.toLong, e.id, e.host, "normal", start)
      }
    }
  }
}
