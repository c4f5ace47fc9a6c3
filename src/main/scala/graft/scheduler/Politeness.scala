package graft.scheduler

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.core.{CrawlConfig, FrontierEntry, Ids, ScheduledFetch}

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
  *    frontier in global seq order, one contiguous seq range per partition;
  *  - one stats job returns (rows, restricted rows, restricted chain length)
  *    per partition, and the driver prefix-sums those P triples;
  *  - one walk per partition starts from its carried-in seq and chain end
  *    and emits restricted and normal rows in the same pass: the chain
  *    carry-in IS the end of the last earlier restricted fetch, so a normal
  *    row needs no lookup.
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
    * [[VirtualClockOracle.schedule]] on the same inputs.
    *
    * Scale design: the global sort uses a DETERMINISTIC bucket partitioner on
    * the top bits of the (sign-flipped) shuffle key instead of
    * `repartitionByRange` — the keys are uniform 64-bit mixes, so buckets
    * balance by construction and the range-sampling pass over the full
    * dataset disappears. Shuffle rows carry only (key, id, host, forums) —
    * the url never travels. Per-partition in-memory sort is safe at any
    * frontier size because partition count scales with the data
    * (10^10 rows / 2^17 buckets ≈ 76k rows per partition).
    *
    * Submits exactly one job (the stats collect, which also fills the
    * persisted sorted partitions); the returned Dataset walks those cached
    * partitions without shuffling the frontier again. */
  def schedule(spark: SparkSession, frontier: Dataset[FrontierEntry], cfg: CrawlConfig,
               numPartitions: Int = 0): Dataset[ScheduledFetch] = {
    import spark.implicits._
    val parts0 = if (numPartitions > 0) numPartitions else spark.sessionState.conf.numShufflePartitions
    // next power of two ≥ parts0 so the bucket is a bit-shift of the key
    val p = math.max(Integer.highestOneBit(math.max(parts0, 1)) *
      (if (Integer.bitCount(math.max(parts0, 1)) == 1) 1 else 2), 1)
    val shift = 64 - Integer.numberOfTrailingZeros(p)

    // 1. slim keyed rows; bucket = top bits of unsigned(key) — monotone in
    //    the signed key order the oracle sorts by, so bucket index order IS
    //    global order; within a bucket all keys share a sign → one in-memory
    //    sort per partition completes the global sort without sampling.
    val slim = frontier.map(e => (shuffleKey(e.id, cfg), e.id, e.host, e.forums))
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = p
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    val sorted = slim.rdd
      .map(t => (if (shift >= 64) 0 else (((t._1 ^ Long.MinValue) >>> shift)).toInt, t))
      .partitionBy(part)
      .mapPartitions(it => {
        val arr = it.map(_._2).toArray
        java.util.Arrays.sort(arr, Ordering.by((t: (Long, String, String, Boolean)) => (t._1, t._2)))
        arr.iterator
      }, preservesPartitioning = true)
    // SER: raw-object RDD caching of tens of millions of tuples is pure
    // GC pressure; serialized blocks keep the heap flat. Scope-registered so
    // iterative crawl loops release it at round end.
    graft.core.CacheScope.persistRdd(sorted, StorageLevel.MEMORY_AND_DISK_SER)

    // 2. one stats job: per partition (rows, restricted rows, restricted
    //    chain length = sum of spacing + duration over its restricted rows);
    //    the driver prefix-sums the P triples (never data rows)
    val stats = sorted.mapPartitions { it =>
      var n = 0L; var r = 0L; var chain = 0L
      it.foreach { case (_, id, _, forums) =>
        n += 1
        if (forums) { r += 1; chain += spacingMs(id, cfg) + durationMs(id, cfg) }
      }
      Iterator.single((n, r, chain))
    }.collect()
    val carryIn = stats.scanLeft((0L, 0L, 0L)) { case ((n, r, c), (dn, dr, dc)) => (n + dn, r + dr, c + dc) }
    val bcCarry = spark.sparkContext.broadcast(carryIn)

    // 3. one walk in seq order from each partition's carry-in (seq, end of
    //    the last earlier restricted fetch, any restricted before): a
    //    restricted row starts one spacing after the chain end and extends
    //    it; a normal row starts one spacing after it, or at 0 before the
    //    first restricted row
    spark.createDataset(sorted.mapPartitionsWithIndex { (pid, it) =>
      val (seq0, restrictedBefore, chain0) = bcCarry.value(pid)
      var seq = seq0; var chainEnd = chain0; var anyRestricted = restrictedBefore > 0
      it.map { case (_, id, host, forums) =>
        val spacing = spacingMs(id, cfg)
        val fetch =
          if (forums) {
            val start = chainEnd + spacing
            chainEnd = start + durationMs(id, cfg); anyRestricted = true
            ScheduledFetch(seq, id, host, "restricted", start)
          } else ScheduledFetch(seq, id, host, "normal", if (anyRestricted) chainEnd + spacing else 0L)
        seq += 1
        fetch
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
