package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.Catalog
import graft.core.{CacheScope, Tables}

/** analytics-sweep: every catalog query over seeded source tables, each
  * sample timed through the noop sink in its own `CacheScope` after the
  * CacheManager is cleared, so cache builds are paid inside the timed window.
  * An untimed warm-up pass writes each query's output for the DuckDB replay. */
final class AnalyticsWorkload(spark: SparkSession, run: Run, modules: Map[String, String],
                              allQueries: Boolean) {

  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  def moduleOf(query: String): String = modules.getOrElse(query, "other")

  def sweep(sourceDir: Path, seconds: Double): Unit = {
    // set-up: open every source table through the engine's loader (file
    // listing and parquet footers), the cost every query pays before it
    // plans. The engine has no set-up step of its own before queries, so
    // this is a Spark and file-system figure.
    val dataDir = sourceDir.toString
    (0 until AnalyticsWorkload.SetupReps).foreach { _ =>
      run.setupSample(Run.measure(run.setup { tables.foreach(t => Tables(spark, dataDir, t).schema) })._2)
    }
    // the run budget allows a fixed sample: every ninth catalog entry, in
    // catalog order (all of them with --queries all)
    val entries = Catalog.allEntries.zipWithIndex
      .collect { case (e, i) if allQueries || i % AnalyticsWorkload.SampleStep == 0 => e }

    // untimed warm-up: each output written for the oracle replay
    val outDir = run.work.resolve("outputs")
    entries.foreach { case (name, e) =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      run.op {
        CacheScope.withScope {
          e.fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(outDir.resolve(name).toString)
        }
      }
      System.err.println(f"[perfbench] warm-up $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    val oracles = entries.collect { case (n, e) if e.oracle.isDefined => s"${Json.str(n)}: ${Json.str(e.oracle.get)}" }
    Files.writeString(run.work.resolve("oracle_sql.json"), oracles.mkString("{", ",\n", "}"))
    run.info("oracled_queries", oracles.size.toDouble, "count")

    // timed passes over the sampled queries
    val samples = mutable.LinkedHashMap(entries.map(_._1 -> ArrayBuffer.empty[Timing]): _*)
    val planS = mutable.HashMap.empty[String, ArrayBuffer[Double]]
    var passes = 0
    run.tracer.drain(); run.tracer.planTimes.drainSeconds()
    run.timed(seconds, minOps = 2) { pass =>
      entries.foreach { case (name, e) =>
        spark.catalog.clearCache()
        run.op {
          run.spans(s"query:$name", moduleOf(name)) {
            CacheScope.withScope {
              val (_, t) = run.timedPart { e.fn(spark, dataDir).write.format("noop").mode("overwrite").save() }
              // live heap at the end of the sample, while its caches are held;
              // the first pass suffices, as every pass runs the same queries
              if (pass == 0) run.heap.sampleLive()
              t
            }
          }
        }.foreach { t =>
          samples(name) += t
          System.err.println(f"[perfbench] sample $name: ${t.wall}%.3f s, cpu ${t.cpu}%.3f s, jit ${t.jit}%.3f s")
        }
        if (run.tracing) {
          run.tracer.drain()
          planS.getOrElseUpdate(name, ArrayBuffer.empty) += run.tracer.planTimes.drainSeconds()
        }
      }
      passes += 1
    }

    def perQuery(f: Timing => Double) = samples.collect { case (n, s) if s.nonEmpty => n -> Layers.median(s.toSeq.map(f)) }
    val medians = perQuery(_.wall)
    val qs = medians.values.toSeq
    val cpu = perQuery(_.cpu).values.toSeq
    val sweepS = qs.sum
    // a typical query: the geometric mean over queries. It moves with a
    // change to any query; the median over 12 queries jumps between queries
    // from run to run (over ten seeds, IQR/median 0.115 against 0.077)
    run.metric("op_cpu_s", geomean(cpu), "s")
    run.metric("pass_cpu_s", cpu.sum, "s")
    run.info("op_s_p50", Layers.median(qs), "s")
    run.info("pass_s", sweepS, "s")
    run.info("sweep_s", sweepS, "s")
    run.info("query_s_p50", Layers.median(qs), "s")
    run.info("query_s_p90", percentile(qs, 0.9), "s")
    run.info("queries", qs.size.toDouble, "count")
    run.info("samples_per_query", passes.toDouble, "count")

    if (run.tracing) {
      run.tracer.drain()
      val spans = run.spans.all.filter(_.name.startsWith("query:")).toSeq
      val jobs = run.tracer.counters.jobs.toArray(Array.empty[Counters#Job]).toSeq
      val tasks = run.tracer.counters.tasks.toArray(Array.empty[Counters#Task]).toSeq
      val cover = run.tracer.taskCover
      Main.queryModules.foreach { m =>
        val ms = spans.filter(_.layer == m)
        val ids = ms.map(_.id).toSet
        val mj = jobs.filter(j => ids.contains(j.span))
        val b = Layers.block(m, mj.size, mj.flatMap(_.stages).toSet, tasks, ms.map(s => (s.start, s.end)), cover)
          .map { case (k, v, _) => k.substring(m.length + 1) -> v }.toMap
        val names = medians.keySet.filter(n => moduleOf(n) == m)
        def perPass(k: String) = b.getOrElse(k, 0.0) / math.max(passes, 1)
        run.layer(s"$m.query_s", names.toSeq.map(medians).sum, "s")
        run.layer(s"$m.jobs", perPass("jobs"), "count")
        run.layer(s"$m.shuffle_mb", perPass("shuffle_mb"), "MB")
        run.layer(s"$m.spill_mb", perPass("spill_mb"), "MB")
        run.layer(s"$m.gc_s", perPass("gc_s"), "s")
        run.layer(s"$m.driver_s", perPass("driver_s"), "s")
        run.layer(s"$m.plan_s", names.toSeq.map(n => Layers.median(planS.getOrElse(n, ArrayBuffer(0.0)).toSeq)).sum, "s")
      }
      run.layer("traced.op_s_p50", Layers.median(qs), "s")
      run.layer("traced.pass_s", sweepS, "s")
      run.layer("traced.op_cpu_s", geomean(cpu), "s")
      run.layer("traced.pass_cpu_s", cpu.sum, "s")
    }
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated percentile, as `statistics.quantiles` reads it. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object AnalyticsWorkload {
  val SampleStep = 9
  val SetupReps = 3
}
