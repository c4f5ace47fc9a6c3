package graft

import java.nio.file.{Files, Path}
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM under Test/fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  private val tempRoots = ArrayBuffer.empty[Path]

  /** A fresh temporary directory, deleted with everything under it once the
    * suite has run. */
  def tempDir(prefix: String): String = tempRoots.synchronized {
    val d = Files.createTempDirectory(prefix)
    tempRoots += d
    d.toString
  }

  /** Run `body` under the job group `group`, counted by a [[GroupCounters]]. */
  def countingGroup[A](group: String)(body: GroupCounters => A): A = {
    val counters = new GroupCounters(group)
    spark.sparkContext.addSparkListener(counters)
    spark.sparkContext.setJobGroup(group, group)
    try body(counters)
    finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(counters)
    }
  }

  override def afterAll(): Unit =
    try tempRoots.synchronized {
      tempRoots.filter(Files.exists(_)).foreach { root =>
        val s = Files.walk(root)
        try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
      }
      tempRoots.clear()
    } finally super.afterAll()
}

/** The jobs, stages and shuffle bytes (read plus written) of the work that
  * runs under one job group, and the physical plans of its SQL executions
  * (each adaptive re-plan included). */
final class GroupCounters(group: String) extends SparkListener {
  val jobs = new AtomicInteger(0)
  val stages = new AtomicInteger(0)
  val shuffleBytes = new AtomicLong(0L)
  private val groupStages = ConcurrentHashMap.newKeySet[Int]()
  private val executions = ConcurrentHashMap.newKeySet[Long]()
  private val planLog = new ConcurrentLinkedQueue[String]()

  /** Every plan description seen so far, in arrival order. */
  def plans: Seq[String] = planLog.asScala.toSeq

  private def ours(props: Properties) =
    props != null && props.getProperty("spark.jobGroup.id") == group
  override def onJobStart(js: SparkListenerJobStart): Unit =
    if (ours(js.properties)) jobs.incrementAndGet()
  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
    if (ours(ss.properties)) { stages.incrementAndGet(); groupStages.add(ss.stageInfo.stageId) }
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    if (groupStages.contains(sc.stageInfo.stageId) && sc.stageInfo.taskMetrics != null) {
      val m = sc.stageInfo.taskMetrics
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
      executions.add(s.executionId); planLog.add(s.physicalPlanDescription)
    case u: SparkListenerSQLAdaptiveExecutionUpdate if executions.contains(u.executionId) =>
      planLog.add(u.physicalPlanDescription)
    case _ => ()
  }

  /** Listener delivery is async: wait until the counters are stable. */
  def settle(): Unit = {
    var last = (jobs.get(), stages.get(), shuffleBytes.get()); var stable = 0
    while (stable < 4) {
      Thread.sleep(100)
      val now = (jobs.get(), stages.get(), shuffleBytes.get())
      if (now == last) stable += 1 else { last = now; stable = 0 }
    }
  }

  /** Settle, then zero every counter. */
  def reset(): Unit = {
    settle()
    jobs.set(0); stages.set(0); shuffleBytes.set(0L); groupStages.clear()
    executions.clear(); planLog.clear()
  }
}
