package graft.scheduler

import graft.SparkSpec
import graft.core.{CrawlConfig, FrontierEntry, Ids}
import graft.frontier.Frontier

class PolitenessSpec extends SparkSpec {
  import spark.implicits._

  private def mkFrontier(n: Int, forumPct: Double, seed: Long = 1L): Seq[FrontierEntry] =
    (0 until n).map { i =>
      val id = Ids.syntheticId(i.toLong, seed)
      val url = Frontier.urlFor(id)
      FrontierEntry(id, url, Frontier.hostOf(url),
        forums = Math.floorMod(Ids.mix64(i.toLong ^ seed), 100L) < (forumPct * 100).toLong,
        discoveredRun = 0)
    }

  test("THE HARD GATE: distributed schedule == sequential virtual-clock oracle, exactly") {
    val frontier = mkFrontier(2000, 0.05)
    val cfg = CrawlConfig()
    val oracle = VirtualClockOracle.schedule(frontier, cfg)
    val pipeline = Politeness.schedule(spark, spark.createDataset(frontier), cfg)
      .collect().sortBy(_.seq)
    assert(pipeline.length == oracle.length)
    // crawl ORDER parity (north rule: exact match of crawl ordering)
    assert(pipeline.map(_.id).toSeq == oracle.map(_.id).toSeq)
    // full schedule parity: class and virtual start times too
    assert(pipeline.toSeq == oracle.toSeq)
  }

  test("schedule is invariant under physical parallelism (2 vs 16 partitions)") {
    val frontier = spark.createDataset(mkFrontier(1200, 0.1, seed = 2L))
    val cfg = CrawlConfig()
    val a = Politeness.schedule(spark, frontier, cfg, numPartitions = 2).collect().sortBy(_.seq).toSeq
    val b = Politeness.schedule(spark, frontier, cfg, numPartitions = 16).collect().sortBy(_.seq).toSeq
    assert(a == b, "parallelism must change throughput, never the schedule")
  }

  /** Distributed schedule of an n-row frontier at a restricted share, on
    * `parts` partitions (0 = the session default), against the oracle. */
  private def assertOracle(n: Int, share: Double, parts: Int, seed: Long): Unit = {
    val frontier = mkFrontier(n, share, seed)
    val cfg = CrawlConfig()
    val oracle = VirtualClockOracle.schedule(frontier, cfg)
    val pipeline = Politeness.schedule(spark, spark.createDataset(frontier), cfg, numPartitions = parts)
      .collect().sortBy(_.seq)
    assert(pipeline.toSeq == oracle, s"n=$n share=$share partitions=$parts")
  }

  test("distributed schedule == oracle at a 5% restricted share") {
    assertOracle(2000, 0.05, 0, seed = 1L)
  }

  test("distributed schedule == oracle at a 50% restricted share") {
    // many restricted rows per partition: the chain carry-in crosses every
    // partition boundary
    assertOracle(1500, 0.5, 16, seed = 9L)
  }

  test("distributed schedule == oracle with no, all, or sparse restricted rows") {
    assertOracle(700, 0.0, 8, seed = 9L)  // no restricted row anywhere: every start is 0
    assertOracle(700, 1.0, 8, seed = 9L)  // one unbroken restricted chain across partitions
    assertOracle(0, 0.05, 4, seed = 9L)   // empty frontier
    assertOracle(5, 0.5, 64, seed = 9L)   // most partitions empty; carries skip them
  }

  test("schedule submits one job; consuming it re-shuffles nothing") {
    val frontier = spark.createDataset(mkFrontier(1500, 0.1, seed = 5L))
    countingGroup("politeness-job-count") { c =>
      graft.core.CacheScope.withScope {
        val sched = Politeness.schedule(spark, frontier, CrawlConfig(), numPartitions = 8)
        c.settle()
        assert(c.jobs.get() == 1, s"schedule must submit exactly one job (the stats collect), saw ${c.jobs.get()}")
        c.reset()
        assert(sched.collect().length == 1500)
        c.settle()
        assert(c.jobs.get() == 1 && c.stages.get() == 1,
          s"consuming the schedule must run one stage, saw ${c.jobs.get()} jobs / ${c.stages.get()} stages")
        assert(c.shuffleBytes.get() == 0L, s"consuming the schedule shuffled ${c.shuffleBytes.get()} bytes")
      }
    }
  }

  test("politeness invariant: restricted fetches spaced >= budget in virtual time") {
    val frontier = mkFrontier(1500, 0.2, seed = 3L)
    val cfg = CrawlConfig()
    val sched = VirtualClockOracle.schedule(frontier, cfg)
    val restricted = sched.filter(_.fetchClass == "restricted").sortBy(_.seq)
    restricted.sliding(2).foreach {
      case Seq(a, b) =>
        val aEnd = a.startMs + Politeness.durationMs(a.id, cfg)
        assert(b.startMs - aEnd >= cfg.politenessNormalMs,
          s"restricted spacing violated: ${b.startMs - aEnd}")
      case _ =>
    }
    // pipeline output satisfies the same invariant (it equals the oracle)
    val pipeline = Politeness.schedule(spark, spark.createDataset(frontier), cfg)
      .filter(_.fetchClass == "restricted").collect().sortBy(_.seq)
    pipeline.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.startMs - (a.startMs + Politeness.durationMs(a.id, cfg)) >= cfg.politenessNormalMs)
      case _ =>
    }
  }

  test("normal fetches respect spacing after their restricted predecessor") {
    val frontier = mkFrontier(800, 0.1, seed = 4L)
    val cfg = CrawlConfig()
    val sched = VirtualClockOracle.schedule(frontier, cfg).sortBy(_.seq)
    var lastREnd = -1L
    sched.foreach { s =>
      if (s.fetchClass == "restricted") lastREnd = s.startMs + Politeness.durationMs(s.id, cfg)
      else if (lastREnd >= 0)
        assert(s.startMs >= lastREnd + cfg.politenessNormalMs,
          s"normal fetch inside restricted politeness window at seq ${s.seq}")
    }
  }

  test("different seeds yield different orders (the shuffle is real)") {
    val frontier = mkFrontier(500, 0.0)
    val o1 = VirtualClockOracle.schedule(frontier, CrawlConfig(shuffleSeed = 1)).map(_.id)
    val o2 = VirtualClockOracle.schedule(frontier, CrawlConfig(shuffleSeed = 2)).map(_.id)
    assert(o1.toSet == o2.toSet && o1 != o2)
  }
}
