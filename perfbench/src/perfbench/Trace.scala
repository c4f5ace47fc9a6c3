package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as Spark's listener timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span around a public call into the engine. `layer` names the module
  * the call belongs to; `parent` is the enclosing span's id (0 = none). */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      start: Double, var end: Double)

/** Spans kept in memory and written as JSONL when the run ends. Each span id
  * also rides on the driver thread's Spark local properties, so every job a
  * span submits can be matched back to it from the listener. */
final class Spans(sc: SparkContext, enabled: Boolean) {
  val all = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(all.size + 1, name, layer, stack.headOption.map(_.id).getOrElse(0),
        Clock.nowMs, 0.0)
      all += s
      stack = s :: stack
      sc.setLocalProperty(Spans.Key, s.id.toString)
      try body
      finally {
        s.end = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Spans.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""parent":${s.parent},"start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Spans { val Key = "perfbench.span" }

/** Per-job and per-task counters, collected by a listener the benchmark
  * registers on the session (never by the engine itself). */
final class Counters extends SparkListener {
  final case class Job(id: Int, span: Int, callSite: String, start: Long, var end: Long,
                       stages: Seq[Int])
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleBytes: Long, spillBytes: Long)
  /** A stage that ran, with the ids of the persisted RDDs it computes or reads. */
  final case class Stage(id: Int, submitted: Long, completed: Long, persisted: Seq[Int])

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  /** Completed stages, in completion order. */
  val stages = new ConcurrentLinkedQueue[Stage]()
  private val storage = mutable.HashMap.empty[String, Long]
  @volatile var storagePeakBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key)))
      .map(_.toInt).getOrElse(0)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs.add(Job(e.jobId, span, site, e.time, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Stage(s.stageId, s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
      s.rddInfos.filter(_.storageLevel.isValid).map(_.id).toSeq))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
    if (b.storageLevel.isValid && b.memSize > 0) storage(key) = b.memSize else storage.remove(key)
    storagePeakBytes = math.max(storagePeakBytes, storage.valuesIterator.sum)
  }
}

/** Catalyst phase times (analysis + optimization + planning) of every
  * query execution that finishes, from `QueryExecution.tracker`. */
final class PlanTimes extends QueryExecutionListener {
  val planMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private def record(qe: QueryExecution): Unit =
    planMs.add(qe.tracker.phases.valuesIterator.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  def drainSeconds(): Double = {
    var s = 0L
    var x = planMs.poll()
    while (x != null) { s += x; x = planMs.poll() }
    s / 1000.0
  }
}

/** Collection time and count inside open windows, from the JVM's own GC
  * notifications, and the peak live heap over explicit samples. */
final class HeapWatch extends NotificationListener {
  @volatile private var open = false
  @volatile var peakLiveBytes = 0L
  @volatile var gcMs = 0L
  @volatile var collections = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  def windowOpen(): Unit = open = true
  def windowClose(): Unit = open = false

  /** Heap in use after a full collection: the data the program still holds. */
  def sampleLive(): Unit = {
    System.gc()
    peakLiveBytes = math.max(peakLiveBytes,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (open && n.getType == "com.sun.management.gc.notification") {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      gcMs += info.getGcInfo.getDuration
      collections += 1
    }
}

/** Attributes jobs, tasks and time to layers once a run has ended. */
object Layers {
  type Iv = (Double, Double)

  /** Sorted, merged union of intervals. */
  def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def length(ivs: Seq[Iv]): Double = union(ivs).map(i => i._2 - i._1).sum

  /** Part of `ivs` that `cover` overlaps. */
  def overlap(ivs: Seq[Iv], cover: Seq[Iv]): Double = {
    val c = union(cover)
    union(ivs).map { case (s, e) =>
      c.map { case (a, b) => math.max(0.0, math.min(e, b) - math.max(s, a)) }.sum
    }.sum
  }

  /** `ivs` minus `cut`. */
  def minus(ivs: Seq[Iv], cut: Seq[Iv]): Seq[Iv] = {
    val c = union(cut)
    union(ivs).flatMap { case (s0, e0) =>
      var out = List.empty[Iv]
      var s = s0
      c.foreach { case (a, b) =>
        if (b > s && a < e0) { if (a > s) out ::= ((s, a)); s = math.max(s, b) }
      }
      if (s < e0) out ::= ((s, e0))
      out.reverse
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer counter block over the layer's jobs, its stages and its own time. */
  def block(layer: String, jobs: Int, stages: Set[Int], tasks: Seq[Counters#Task],
            owned: Seq[Iv], taskCover: Seq[Iv]): Seq[(String, Double, String)] = {
    val ts = tasks.filter(t => stages.contains(t.stage))
    // skew: per stage max/median task time, weighted by the stage's task time
    val perStage = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val runs = st.map(_.runMs.toDouble)
      val med = median(runs)
      (if (med > 0) runs.max / med else 1.0, runs.sum)
    }
    val wsum = perStage.map(_._2).sum
    val skew = if (wsum > 0) perStage.map(p => p._1 * p._2).sum / wsum else 1.0
    val wall = length(owned) / 1000.0
    Seq(
      (s"$layer.wall_s", wall, "s"),
      (s"$layer.jobs", jobs.toDouble, "count"),
      (s"$layer.tasks", ts.size.toDouble, "count"),
      (s"$layer.cpu_s", ts.map(_.cpuNs).sum / 1e9, "s"),
      (s"$layer.gc_s", ts.map(_.gcMs).sum / 1000.0, "s"),
      (s"$layer.shuffle_mb", ts.map(_.shuffleBytes).sum / 1048576.0, "MB"),
      (s"$layer.spill_mb", ts.map(_.spillBytes).sum / 1048576.0, "MB"),
      (s"$layer.skew", skew, "ratio"),
      (s"$layer.driver_s", (length(owned) - overlap(owned, taskCover)) / 1000.0, "s"))
  }

  /** Innermost frame of a job's call site that names a graft module in
    * `modules` (class `graft.<pkg>.X` maps through `pkg`, top-level objects
    * such as `graft.Crawl$` through their lower-cased name). */
  private val Frame = """(?m)^\s*(?:at\s+)?graft\.(\w+)[.$]""".r
  def moduleOf(callSite: String, modules: PartialFunction[String, String]): Option[String] =
    callSite.linesIterator.flatMap { line =>
      if (line.contains("graft.frontier.SeenStore")) Some("seenstore")
      else Frame.findFirstMatchIn(line).map(_.group(1).toLowerCase)
    }.collectFirst(modules)
}

/** Minimal JSON formatting helpers. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Everything a traced run registers, bundled. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = new Spans(spark.sparkContext, enabled)
  val counters = new Counters
  val planTimes = new PlanTimes
  if (enabled) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(planTimes)
  }

  /** Block until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def taskCover: Seq[Layers.Iv] =
    counters.tasks.asScala.toSeq.map(t => (t.launch.toDouble, t.finish.toDouble))
}
