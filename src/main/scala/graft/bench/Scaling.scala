package graft.bench

import org.apache.spark.sql.SparkSession

import graft.core.{CrawlConfig, Ids}
import graft.frontier.Frontier

/** Two-parallelism scaling evidence for the north rule's "≥0.8 throughput
  * scaling efficiency from N to 4N executors".
  *
  * No real multi-executor cluster exists in this sandbox, so (per the task
  * driver's instruction) the same job runs at local[8] and local[32] on the
  * same input; efficiency = (rate_32 / rate_8) / 4. The measured job is the
  * crawl hot path — frontier synthesis → seeded-shuffle politeness schedule →
  * deterministic fetch → per-class metrics — everything that scales with
  * cores, excluding one-time JVM/session setup.
  */
object Scaling {

  final case class Result(cores: Int, n: Long, wallSec: Double) {
    def idsPerSec: Double = n / wallSec
  }

  /** All measured iterations at one core count. The HEADLINE number is the
    * median (robust, no cherry-picking); best is reported alongside as the
    * noise envelope (±15% GC/page-cache jitter on this shared VM). */
  final case class Runs(cores: Int, results: Seq[Result]) {
    def n: Long = results.head.n
    def median: Result = results.sortBy(_.idsPerSec).apply((results.size - 1) / 2)
    def best: Result = results.maxBy(_.idsPerSec)
  }

  private def newSession(cores: Int, name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def withSession[T](cores: Int, name: String)(f: SparkSession => T): T = {
    val s = newSession(cores, name)
    try f(s) finally s.stop()
  }

  /** One N/4N iteration pair, measured back-to-back. */
  final case class ScalePair(rN: Result, r4N: Result) {
    def eff: Double = efficiency(rN, r4N)
  }

  /** Interleaved N/4N measurement — the round-3 headline methodology.
    *
    * Running all N-core iterations first and all 4N-core iterations second
    * (round ≤2) let asymmetric JVM state — JIT warmth, page cache, heap
    * shape — land entirely on one level: the measured "efficiency" twice
    * exceeded 1.0, which is physically impossible and only measures noise.
    * Here iterations alternate A/B/A/B — each leg in a fresh session, with a
    * small PILOT run inside that session before its measured run (session
    * setup, executor/block-manager cold state, and first-job warmup are all
    * outside the timed window; the first measured run of round-3's pilot-
    * less variant read 0.41 efficiency purely from session-cold costs) —
    * and efficiency is computed PER PAIR then aggregated as the median of
    * pair efficiencies: drift hits both levels of a pair equally, so the
    * estimator is robust to slow trends in machine state. */
  def runInterleaved(n: Int, n4: Int, numIds: Int, seed: Long = 42L): Seq[ScalePair] = {
    // 7 pairs (round-5: one ~0.52 outlier pair appeared in two consecutive
    // rounds at 5 pairs — more pairs shrink the median's sensitivity to a
    // single stalled leg while the per-leg GC/wall prints below identify it)
    val iters = sys.env.getOrElse("SPARK_GRAFT_SCALE_ITERS", "7").toInt
    val pilotIds = math.max(numIds / 8, 100000)
    def leg(cores: Int, i: Int): Result = {
      // leg-boundary heap hygiene, OUTSIDE the timed window: the previous
      // leg's 16M-row garbage otherwise surfaces as a GC burst inside the
      // next leg's measured run (observed: first-pair 8-core legs paying
      // 10 s of GC on a 55 s wall = 18%, flattening that pair to ~0.64
      // while later legs pay 1.5-3 s) — collect it before the session opens
      System.gc()
      withSession(cores, s"graft-scaling-$cores") { s =>
        runOn(s, cores, pilotIds, seed + 10 * i) // in-session pilot, untimed leg
        val (gc0n, gc0ms) = gcTotals()
        val (t0, i0, s0) = cpuStat()
        val r = runOn(s, cores, numIds, seed + 100 * i)
        val (t1, i1, s1) = cpuStat()
        val (gc1n, gc1ms) = gcTotals()
        // one diagnostic line per measured leg: if a pair stalls, this says
        // whether the slow leg burned GC time, lost wall to hypervisor
        // pressure (steal), or ran against unexplained host busy time
        val dT = math.max(t1 - t0, 1L)
        System.err.println(String.format(java.util.Locale.ROOT,
          "[scaling-leg] iter=%d cores=%d wall=%.2fs rate=%.0f gc_n=%d gc_ms=%d busy=%.0f%% steal=%.1f%%",
          Int.box(i), Int.box(cores), Double.box(r.wallSec),
          Double.box(r.idsPerSec), Long.box(gc1n - gc0n), Long.box(gc1ms - gc0ms),
          Double.box((dT - (i1 - i0)).toDouble / dT * 100.0),
          Double.box((s1 - s0).toDouble / dT * 100.0)))
        r
      }
    }
    (1 to iters).map { i =>
      // Alternate the WITHIN-pair order (N,4N / 4N,N) across iterations:
      // a fixed N-first order would let any monotone machine-state drift
      // (thermal, page-cache fill) bias every pair's efficiency the same
      // way instead of cancelling in the median of pairs.
      if (i % 2 == 1) { val a = leg(n, i); val b = leg(n4, i); ScalePair(a, b) }
      else { val b = leg(n4, i); val a = leg(n, i); ScalePair(a, b) }
    }
  }

  /** Proper median: the mean of the two middle elements for even-length
    * input — the lower-middle shortcut would bias the headline whenever
    * SPARK_GRAFT_SCALE_ITERS is even. */
  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** One full crawl job (frontier build → dedup → schedule → fetch →
    * snapshot commits). Snapshot tables land on tmpfs, so a single disk
    * does not serialize the write I/O and the leg measures the engine. */
  private def runOn(spark: SparkSession, cores: Int, numIds: Int, seed: Long): Result = {
    import spark.implicits._
    val cfg = CrawlConfig(runId = 1, shuffleSeed = seed, prefixLen = 1)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm"), s"graft_scaling_$cores").toString
    val t0 = System.nanoTime()
    // one cache scope per measured round: every stage-registered persist is
    // released at round end, so iterations don't accumulate cached blocks
    val (n, wall) = graft.core.CacheScope.withScope {
      val discovered = spark.range(0L, numIds.toLong).map(i => Ids.syntheticId(i, seed))
      // restricted (forum) class ~1% of the frontier (reference proportion,
      // download-report-one-week.gp:16-22)
      val forum = spark.range(0L, numIds.toLong, 97L).map(i => Ids.syntheticId(i, seed))
      val frontier = Frontier.buildWorklist(spark, spark.emptyDataset[String], forum,
        discovered, maxNew = numIds, runId = 1)
      val out = graft.Crawl.run(spark, frontier, cfg, dir)
      (out.resultRows, (System.nanoTime() - t0) / 1e9)
    }
    // free cached state + bench tables between iterations
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    deleteRecursively(new java.io.File(dir))
    Result(cores, n, wall)
  }

  /** Aggregate (totalJiffies, idle+iowait, steal) from /proc/stat's `cpu`
    * line — per-leg deltas attribute a stalled leg to hypervisor pressure
    * (steal) or other host busy time vs in-JVM causes. Zeroes when the file
    * is unreadable (non-Linux), which prints as busy=100%/steal=0%. */
  private def cpuStat(): (Long, Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // fields: user nice system idle iowait irq softirq steal guest gnice
        val idle = f(3) + (if (f.length > 4) f(4) else 0L)
        val steal = if (f.length > 7) f(7) else 0L
        (f.sum, idle, steal)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L, 0L) }

  /** Cumulative (collections, ms) across all GC beans — deltas around a
    * measured leg attribute a stalled leg to GC vs external machine state. */
  private def gcTotals(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foldLeft((0L, 0L)) { case ((n, ms), b) =>
        (n + math.max(b.getCollectionCount, 0L), ms + math.max(b.getCollectionTime, 0L)) }
  }

  /** Efficiency of scaling from `a` (N cores) to `b` (4N cores). */
  def efficiency(a: Result, b: Result): Double =
    (b.idsPerSec / a.idsPerSec) / (b.cores.toDouble / a.cores)

  /** SURVEY §7.4 hard-part 4 — the skew scenario: a 90%-one-host frontier
    * must not destroy scaling. The measured job is the multi-host path
    * (HostScheduler: robots broadcast, per-host virtual clocks, salted
    * sub-queues splitting the hot host over `numSalts` lanes) + fetch +
    * metrics; without salting the hot host serializes on one task.
    *
    * Measured as interleaved pairs — the SAME methodology as the main pair
    * ([[runInterleaved]]): fresh session per leg, untimed in-session pilot,
    * within-pair order alternated across iterations, efficiency aggregated
    * as the median of per-pair values. The round-3 skew number (0.754) was
    * still measured with the round-2 shape (all N-core iterations in one
    * session, then all 4N) that the main pair abandoned for printing
    * physically impossible values; the two scenarios must be measured the
    * same way to be comparable. */
  def runSkewInterleaved(n: Int, n4: Int, numIds: Int, seed: Long = 42L,
                         numSalts: Int = 32): Seq[ScalePair] = {
    val iters = sys.env.getOrElse("SPARK_GRAFT_SCALE_ITERS", "7").toInt
    val pilotIds = math.max(numIds / 8, 100000)
    def leg(cores: Int, i: Int): Result = {
      System.gc() // leg-boundary heap hygiene (see runInterleaved)
      val s = newSkewSession(cores)
      try {
        runSkewOn(s, cores, pilotIds, seed + 10 * i, numSalts) // in-session pilot
        runSkewOn(s, cores, numIds, seed + 100 * i, numSalts)
      } finally s.stop()
    }
    (1 to iters).map { i =>
      if (i % 2 == 1) { val a = leg(n, i); val b = leg(n4, i); ScalePair(a, b) }
      else { val b = leg(n4, i); val a = leg(n, i); ScalePair(a, b) }
    }
  }

  private def newSkewSession(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-skew-$cores")
      // FIXED partition count across levels: both cores levels execute the
      // identical plan (same lane placement), so the pair measures the
      // engine's strong scaling, not a partitioning change. Default 32
      // (4× the top level) smooths lane placement — hashing ~100 lane
      // keys into exactly `cores` buckets leaves straggler partitions
      // (round-2 finding, preserved through the operator path which
      // shuffles at the session's partition count)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SKEW_PARTS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def runSkewOn(spark: SparkSession, cores: Int, numIds: Int, seed: Long,
                        numSalts: Int): Result = {
    import spark.implicits._
    val cfg = CrawlConfig(runId = 1, shuffleSeed = seed, prefixLen = 1)
    val t0 = System.nanoTime()
    val n = graft.core.CacheScope.withScope {
      val frontier = spark.range(0L, numIds.toLong).map { i =>
        val id = Ids.syntheticId(i, seed)
        // 90% of the frontier on ONE host (FIXTURES §2 skew scenario)
        val host =
          if (Math.floorMod(Ids.mix64(i ^ seed), 10L) < 9) "hot.example.com"
          else s"cold-${i % 64}.example.com"
        graft.core.FrontierEntry(id, s"https://$host/detail/$id", host,
          forums = false, discoveredRun = 1)
      }
      val schedule = graft.scheduler.HostScheduler.schedule(
        spark, frontier, robots = Nil, cfg, numSalts = numSalts, saltThreshold = 100000L)
      val results = graft.fetch.Fetcher.run(spark, schedule, cfg)
      graft.fetch.Fetcher.metrics(results).head()
      results.count()
    }
    Result(cores, n, (System.nanoTime() - t0) / 1e9)
  }

  private[bench] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}

/** CLI for one scaling measurement: `runMain graft.bench.ScalingMain
  * <coresN> <cores4N> <numIds>` — interleaved pairs, prints both
  * throughputs + the per-pair-median efficiency. */
object ScalingMain {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 4
    val n4 = if (args.length > 1) args(1).toInt else n * 4
    val ids = if (args.length > 2) args(2).toInt else 12000000
    val pairs = Scaling.runInterleaved(n, n4, ids)
    val rN = Scaling.Runs(n, pairs.map(_.rN))
    val r4N = Scaling.Runs(n4, pairs.map(_.r4N))
    val effs = pairs.map(_.eff)
    val eff = Scaling.medianOf(effs)
    println(f"""SCALING {"cores_n":$n,"ids_per_sec_n":${rN.median.idsPerSec}%.0f,"wall_n":${rN.median.wallSec}%.2f,""" +
      f""""cores_4n":$n4,"ids_per_sec_4n":${r4N.median.idsPerSec}%.0f,"wall_4n":${r4N.median.wallSec}%.2f,""" +
      f""""n":${rN.n},"efficiency":${math.min(1.0, eff)}%.3f,"efficiency_raw":$eff%.3f,""" +
      f""""eff_min":${effs.min}%.3f,"eff_max":${effs.max}%.3f,"iters":${effs.size}}""")
  }
}

/** Skew-scenario scaling CLI: `runMain graft.bench.SkewScalingMain
  * <coresN> <cores4N> <numIds>` — the 90%-one-host frontier pair. */
object SkewScalingMain {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 2
    val n4 = if (args.length > 1) args(1).toInt else n * 4
    val ids = if (args.length > 2) args(2).toInt else 8000000
    val pairs = Scaling.runSkewInterleaved(n, n4, ids)
    val rN = Scaling.Runs(n, pairs.map(_.rN))
    val r4N = Scaling.Runs(n4, pairs.map(_.r4N))
    val effs = pairs.map(_.eff)
    val effsTxt = effs.map(e => f"$e%.3f").mkString("[", ",", "]")
    println(f"""SKEW_SCALING {"cores_n":$n,"ids_per_sec_n":${rN.median.idsPerSec}%.0f,""" +
      f""""cores_4n":$n4,"ids_per_sec_4n":${r4N.median.idsPerSec}%.0f,""" +
      f""""n":${rN.n},"efficiency":${Scaling.medianOf(effs)}%.3f,""" +
      f""""efficiency_level_medians":${Scaling.efficiency(rN.median, r4N.median)}%.3f,""" +
      s""""pair_effs":$effsTxt,"iters":${effs.size},""" +
      s""""aggregation":"median_of_pairwise_interleaved"}""")
  }
}
