package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.core.ScheduledFetch

/** State of one benchmark run: counts of attempted and failed operations and
  * checks, set-up samples, metrics, and the tracer. */
final class Run(val seed: Long, val work: Path, val tracer: Tracer, val perturb: String) {
  val heap = new HeapWatch
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  private val setupSamples = ArrayBuffer.empty[Timing]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val infos = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]

  def spans: Spans = tracer.spans
  def tracing: Boolean = tracer.enabled

  /** Set-up work, under a `setup` span: no layer counts it. */
  def setup[A](body: => A): A = spans("setup", "setup")(body)
  /** One set-up sample; `setup_s` is the median of their CPU seconds. */
  def setupSample(t: Timing): Unit = {
    setupSamples += t
    System.err.println(f"[perfbench] setup: ${t.wall}%.3f s, cpu ${t.cpu}%.3f s")
  }
  def setupCpuMedian: Double = Layers.median(setupSamples.toSeq.map(_.cpu))
  def setupWallMedian: Double = Layers.median(setupSamples.toSeq.map(_.wall))

  private def fail(what: String, t: Throwable): Unit = {
    failed += 1
    failures += s"$what: ${Option(t.getMessage).getOrElse(t.getClass.getName).linesIterator.take(1).mkString}"
    t.printStackTrace()
  }

  /** An engine operation, timed or not: counted as attempted, and as failed
    * if it throws. */
  def op[A](body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case scala.util.control.NonFatal(t) => fail("operation", t); None }
  }

  /** The timed part of an operation: its result and its [[Timing]]. GCs
    * inside it count toward the run's GC record. */
  def timedPart[A](body: => A): (A, Timing) = {
    heap.windowOpen()
    try {
      val (a, t) = Run.measure(body)
      timings += t
      (a, t)
    } finally heap.windowClose()
  }
  /** Every timed part, in order. */
  val timings = ArrayBuffer.empty[Timing]

  def check(name: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"check failed: $name" }
  }

  /** Repeat `body(i)` until `seconds` of wall time have passed and at least
    * `minOps` iterations ran, but no more than `maxOps` iterations. */
  def timed(seconds: Double, minOps: Int, maxOps: Int = Int.MaxValue)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < maxOps && (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds)) { body(i); i += 1 }
  }

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def info(name: String, v: Double, unit: String): Unit = infos(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  // perturbations used by the self-test to show that each check can fail
  def perturbSchedule(s: Seq[ScheduledFetch]): Seq[ScheduledFetch] =
    if (perturb == "schedule" && s.size >= 2) s.updated(0, s(1)).updated(1, s(0)) else s
  def perturbSeen(s: Seq[String]): Seq[String] = if (perturb == "seen") s.drop(1) else s
  def perturbResults(s: Seq[String]): Seq[String] = if (perturb == "results") s.drop(1) else s
}

/** One measured piece of work: wall seconds, process CPU seconds (every
  * thread: the engine's, Spark's, the JIT's and the collector's), and the
  * part of that CPU spent by the JIT compiler threads. */
final case class Timing(wall: Double, cpu: Double, jit: Double)

object Run {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime

  /** Run `body` and measure it. */
  def measure[A](body: => A): (A, Timing) = {
    val j0 = jitCpuNs
    val c0 = processCpuNs
    val t0 = System.nanoTime()
    val a = body
    (a, Timing((System.nanoTime() - t0) / 1e9, (processCpuNs - c0) / 1e9, (jitCpuNs - j0) / 1e9))
  }

  /** CPU nanoseconds of the JIT compiler threads, from /proc/self/task
    * (0 where it cannot be read). `run.py` starts the JVM with a fixed set
    * of compiler threads, so none ends and takes its time with it. */
  def jitCpuNs: Long =
    try {
      val ds = Files.list(java.nio.file.Paths.get("/proc/self/task"))
      try ds.iterator().asScala.map { t =>
        try {
          if (Files.readString(t.resolve("comm")).contains("CompilerThre"))
            Files.readString(t.resolve("schedstat")).trim.split(" ")(0).toLong
          else 0L
        } catch { case scala.util.control.NonFatal(_) => 0L }
      }.sum
      finally ds.close()
    } catch { case scala.util.control.NonFatal(_) => 0L }
}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}
