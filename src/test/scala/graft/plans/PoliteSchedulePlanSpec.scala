package graft.plans

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.{CrawlConfig, FrontierEntry, Ids, ScheduledFetch}
import graft.scheduler.{HostScheduler, RobotsRules}

/** The custom whole-operator tier: PoliteScheduleNode → Strategy →
  * PoliteScheduleExec. Result parity with the sequential lane walk, and
  * the planner contract: EnsureRequirements INSERTS the lane shuffle+sort
  * for an unprepared child and ELIDES it for a child that already
  * satisfies the declared distribution/ordering. */
class PoliteSchedulePlanSpec extends SparkSpec {
  import spark.implicits._

  private def frontier(n: Int) = spark.createDataset((0 until n).map { i =>
    val host = if (i % 10 < 7) "hot.example.com" else s"cold-${i % 13}.example.com"
    val id = Ids.syntheticId(i.toLong)
    FrontierEntry(id, s"https://$host/detail/$id", host, forums = false, discoveredRun = 0)
  })

  private def collectPlan[T](ds: Dataset[T])(pf: PartialFunction[SparkPlan, Unit]): Unit = {
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => pf.lift(other); other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(ds.queryExecution.executedPlan)
  }

  private def countWhere[T](ds: Dataset[T])(pred: SparkPlan => Boolean): Int = {
    var n = 0
    collectPlan(ds) { case p if pred(p) => n += 1 }
    n
  }

  test("result parity: declarative operator == sequential lane walk, robots honored") {
    val robots = Seq(RobotsRules("hot.example.com", 900L, Nil))
    val cfg = CrawlConfig(shuffleSeed = 99L)
    // the oracle: the lane frame collected, sorted locally into lane order
    // and walked by the sequential reference
    val lanes = HostScheduler.laneFrame(spark, frontier(3000), robots, cfg,
      numSalts = 4, saltThreshold = 500L)
      .as[(String, Int, Boolean, Long, String)].collect()
      .map { case (host, salt, hot, prio, id) => ((host, salt, prio, id), hot) }
      .sortBy(_._1)
    assert(lanes.exists(_._2), "the hot host must be salted")
    val expected = HostScheduler.walkLanes(lanes.iterator, robots.map(r => r.host -> r).toMap, cfg)
      .toSeq.sortBy(s => (s.host, s.id))
    val got = HostScheduler.schedule(spark, frontier(3000), robots, cfg,
      numSalts = 4, saltThreshold = 500L)
      .collect().toSeq.sortBy(s => (s.host, s.id))
    assert(got == expected)
  }

  test("planner inserts the lane shuffle + sort for an unprepared child") {
    val ds = HostScheduler.schedule(spark, frontier(2000), Nil,
      CrawlConfig(), numSalts = 4, saltThreshold = 500L)
    ds.collect()
    assert(countWhere(ds)(_.isInstanceOf[PoliteScheduleExec]) == 1,
      s"operator missing from plan:\n${ds.queryExecution.executedPlan}")
    assert(countWhere(ds)(_.isInstanceOf[ShuffleExchangeLike]) >= 1,
      "EnsureRequirements must plan the lane exchange")
    assert(countWhere(ds)(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]) >= 1,
      "EnsureRequirements must plan the in-partition lane sort")
  }

  test("planner ELIDES the shuffle when the child is already lane-partitioned and sorted") {
    val cfg = CrawlConfig()
    val lanes = HostScheduler.laneFrame(spark, frontier(2000), Nil, cfg,
      numSalts = 4, saltThreshold = 500L)
      .repartition(col("host"), col("salt"))
      .sortWithinPartitions("host", "salt", "priority", "id")
    val ds = PoliteSchedulePlan.schedule(lanes, Nil, cfg)
    ds.collect()
    assert(countWhere(ds)(_.isInstanceOf[PoliteScheduleExec]) == 1)
    // exactly the USER's one exchange + one sort — EnsureRequirements sees
    // the child already satisfies the operator's contract and adds nothing
    assert(countWhere(ds)(_.isInstanceOf[ShuffleExchangeLike]) == 1,
      s"operator must not add a second shuffle:\n${ds.queryExecution.executedPlan}")
    assert(countWhere(ds)(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]) == 1,
      s"operator must not add a second sort:\n${ds.queryExecution.executedPlan}")
    // parity with the from-scratch declarative run (schedule is a pure
    // per-lane function — partition placement must not matter)
    val fresh = HostScheduler.schedule(spark, frontier(2000), Nil, cfg,
      numSalts = 4, saltThreshold = 500L)
      .collect().map(s => (s.host, s.id, s.startMs)).sortBy(t => (t._1, t._2)).toSeq
    val pre = ds.collect().map(s => (s.host, s.id, s.startMs)).sortBy(t => (t._1, t._2)).toSeq
    assert(pre == fresh)
  }

}
