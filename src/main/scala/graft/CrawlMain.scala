package graft

import org.apache.spark.sql.SparkSession

import graft.core.{CrawlConfig, Ids}
import graft.frontier.Frontier
import graft.scheduler.VirtualClockOracle

/** spark-submit entry for a synthetic crawl run (north rule: "the whole job
  * runs via spark-submit").
  *
  * Usage: CrawlMain <tableDir> <numIds> [runId] [seed] [cores]
  *
  * Builds a frontier of `numIds` synthetic Chrome-Web-Store-shaped ids,
  * schedules it under the politeness budget, fetches, commits snapshots, and
  * prints one JSON line with throughput + an order-parity check against the
  * sequential virtual-clock oracle (sampled parity above 200k ids).
  */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    val tableDir = if (args.length > 0) args(0) else "/tmp/graft_crawl"
    val numIds = if (args.length > 1) args(1).toInt else 10000
    val runId = if (args.length > 2) args(2).toInt else 1
    val seed = if (args.length > 3) args(3).toLong else 42L
    val cores = if (args.length > 4) args(4) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-crawl")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // shard depth by scale: 16 prefix shards below 10M ids, the reference's
    // 4096 (ext_id[:3]) at archive scale
    val cfg = CrawlConfig(runId = runId, shuffleSeed = seed,
      prefixLen = if (numIds <= 10000000) 1 else 3)
    val t0 = System.nanoTime()

    // three frontier sources (crawler:203-215): prior seen-set snapshot (if
    // resuming), a forum list, fresh discoveries. The round reads url_seen
    // itself; `existing` feeds only the parity check's set model
    // the whole round runs in one cache scope: every transient persist the
    // stages register (the sorted exchange, the fetched rows) is
    // released when the round's outputs are materialized
    val (n, wallSec, parity, out) = graft.core.CacheScope.withScope {
    val haveSeen = new snapshot.SnapshotTable(spark, s"$tableDir/url_seen").currentVersion.isDefined
    val existing =
      if (haveSeen) Crawl.seenIds(spark, tableDir).as[String]
      else spark.emptyDataset[String]
    val lo = (runId - 1) * numIds
    val discovered = spark.range(lo, lo + numIds).map(i => Ids.syntheticId(i, seed))
    val forum = spark.range(lo, lo + numIds, 41).map(i => Ids.syntheticId(i, seed))
    val frontier = Frontier.buildWorklist(spark, existing, forum, discovered,
      maxNew = numIds, runId = runId)

    val out = Crawl.run(spark, frontier, cfg, tableDir)
    val n = out.resultRows
    val wallSec = (System.nanoTime() - t0) / 1e9

    // order-parity check vs the sequential oracle. Full parity below 200k;
    // above, prefix parity on the first K rows: the oracle's schedule of its
    // first K entries depends only on those K entries (the restricted chain
    // is prefix-local), and the K smallest (shuffleKey, id) pairs are
    // computable distributedly — no full-frontier collect at any scale.
    val parity = if (n <= 200000) {
      val oracle = VirtualClockOracle.schedule(frontier.entries.collect().toSeq, cfg)
      val pipe = out.scheduled.collect().sortBy(_.seq)
      pipe.toSeq == oracle.toSeq
    } else {
      val k = 1000
      val prefix = frontier.entries
        .map(e => (graft.scheduler.Politeness.shuffleKey(e.id, cfg), e))
        .orderBy($"_1", $"_2.id").limit(k)
        .collect().map(_._2).toSeq
      val oracle = VirtualClockOracle.schedule(prefix, cfg)
      out.scheduled.orderBy("seq").limit(k).collect().toSeq == oracle
    }
    (n, wallSec, parity, out)
    }

    println(s"""{"metric":"urls_per_sec","value":${n / wallSec},"unit":"ids/sec",""" +
      s""""n":$n,"wall_sec":$wallSec,"order_parity":$parity,""" +
      s""""results_version":${out.resultsVersion},"seen_version":${out.seenVersion}}""")
    spark.stop()
  }
}
