package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CrawlConfig, ScheduledFetch}
import graft.scheduler.{HostScheduler, Politeness, RobotsRules}

/** The politeness virtual-clock walk as a FIRST-CLASS physical operator
  * (SURVEY §2.10 tier (c): custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`, injected via `SparkSessionExtensions`).
  *
  * It is the only implementation behind `HostScheduler.schedule`. A lane
  * walk written against an RDD would hard-code its lane shuffle and hide
  * the operator from the planner behind a black-box `ExternalRDD`, so an
  * upstream stage already hash-partitioned on (host, salt) would still pay
  * a full re-shuffle. This operator instead DECLARES its needs the way
  * Spark's own sort-based operators do:
  *
  *  - `requiredChildDistribution = ClusteredDistribution(host, salt)`
  *  - `requiredChildOrdering    = (host, salt, priority, id)`
  *
  * and leaves the physical shuffle/sort decision to `EnsureRequirements`:
  * an unprepared child gets exactly one Exchange + in-partition Sort
  * planned for it; a child whose partitioning/ordering already satisfies
  * the contract (e.g. the frontier was bucketed by host upstream) is passed
  * through with NO new shuffle. The walk itself is the same streaming
  * O(1)-state virtual clock as [[graft.scheduler.HostScheduler.walkLanes]],
  * operating directly on `InternalRow`s (no encoder round-trip).
  */
object PoliteSchedulePlan {

  private[plans] def outputAttrs(): Seq[Attribute] = Seq(
    AttributeReference("seq", LongType, nullable = false)(),
    AttributeReference("id", StringType, nullable = false)(),
    AttributeReference("host", StringType, nullable = false)(),
    AttributeReference("fetchClass", StringType, nullable = false)(),
    AttributeReference("startMs", LongType, nullable = false)())

  val RequiredColumns: Seq[String] = Seq("host", "salt", "priority", "id", "hot")

  /** Schedule a lane frame (host string, salt int, priority long, id string,
    * hot boolean) through the declarative operator. */
  def schedule(df: DataFrame, robots: Seq[RobotsRules], cfg: CrawlConfig): Dataset[ScheduledFetch] = {
    val spark = df.sparkSession
    ensureStrategy(spark)
    val missing = RequiredColumns.filterNot(df.columns.contains)
    require(missing.isEmpty, s"PoliteSchedule input is missing columns: $missing")
    val node = PoliteScheduleNode(
      robots.map(r => r.host -> r).toMap, cfg, outputAttrs(), Bridge.analyzed(df))
    Bridge.ofRows(spark, node).as(Encoders.product[ScheduledFetch])
  }

  /** Register the planning strategy on sessions not created with
    * `spark.sql.extensions=graft.GraftExtensions`. */
  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(PoliteScheduleStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ PoliteScheduleStrategy
    }
}

/** Logical marker node. `output` rides as a constructor field so plan
  * transforms (which copy the node) keep stable expression ids. */
case class PoliteScheduleNode(
    robots: Map[String, RobotsRules],
    cfg: CrawlConfig,
    override val output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): PoliteScheduleNode =
    copy(child = newChild)
}

/** Plans [[PoliteScheduleNode]] into [[PoliteScheduleExec]]. */
object PoliteScheduleStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PoliteScheduleNode(robots, cfg, out, child) =>
      PoliteScheduleExec(robots, cfg, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PoliteScheduleExec(
    robots: Map[String, RobotsRules],
    cfg: CrawlConfig,
    override val output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  private def in(name: String): Attribute =
    child.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"PoliteSchedule child lost column '$name'"))

  // the contract EnsureRequirements satisfies (or finds already satisfied):
  // all rows of a (host, salt) lane in one partition, lanes contiguous and
  // internally ordered by (priority, id)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(in("host"), in("salt"))) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq("host", "salt", "priority", "id").map(n => SortOrder(in(n), Ascending)))
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)
  override def outputOrdering: Seq[SortOrder] = Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val hostOrd = child.output.indexWhere(_.name == "host")
    val saltOrd = child.output.indexWhere(_.name == "salt")
    val idOrd = child.output.indexWhere(_.name == "id")
    val hotOrd = child.output.indexWhere(_.name == "hot")
    val robotsMap = robots
    val walkCfg = cfg
    val outTypes = output.map(_.dataType).toArray
    child.execute().mapPartitions({ it =>
      val proj = UnsafeProjection.create(outTypes)
      val row = new GenericInternalRow(5)
      val salted = UTF8String.fromString("salted")
      val normal = UTF8String.fromString("normal")
      // O(1) walk state — lanes arrive contiguous and sorted
      var curHost: UTF8String = null
      var curHostStr: String = null
      var curSalt = Int.MinValue
      var delay = 0L
      var clock = 0L
      var rank = 0L
      it.map { r =>
        val host = r.getUTF8String(hostOrd)
        val salt = r.getInt(saltOrd)
        if (curHost == null || curSalt != salt || !host.equals(curHost)) {
          // clone: the child iterator may reuse its row buffer
          curHost = host.clone()
          curHostStr = curHost.toString
          curSalt = salt
          delay = robotsMap.get(curHostStr).map(_.crawlDelayMs)
            .getOrElse(HostScheduler.DefaultDelayMs)
          clock = 0L; rank = 0L
        }
        val id = r.getUTF8String(idOrd)
        val start = clock
        clock += delay + Politeness.durationMs(id.toString, walkCfg)
        row.update(0, rank)
        row.update(1, id) // projected (copied) immediately below
        row.update(2, curHost)
        row.update(3, if (r.getBoolean(hotOrd)) salted else normal)
        row.update(4, start)
        rank += 1
        proj(row)
      }
    }, preservesPartitioning = false)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PoliteScheduleExec =
    copy(child = newChild)
}
