package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM. `perfbench/run.py` builds the classes,
  * makes the analytics inputs and calls this with:
  *
  *   --workload crawl-bulk|crawl-nightly|analytics-sweep --seed N --seconds S
  *   --trace 0|1 --work DIR --result FILE [--size normal|tiny]
  *   [--sources DIR] [--modules FILE] [--queries sample|all]
  *   [--perturb none|schedule|seen|results]
  *
  * The result file is one JSON object: attempted, failed, failures, metrics
  * (end-to-end), infos (further workload numbers), layers (traced runs only)
  * and env (the per-run environment record). The session runs at
  * `local[4]`; `run.py` refuses to start on a machine with fewer processors.
  */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, result: Path, size: String,
                        sources: Option[Path], modules: Option[Path], perturb: String,
                        allQueries: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      Paths.get(req("work")).toAbsolutePath, Paths.get(req("result")).toAbsolutePath,
      m.getOrElse("size", "normal"),
      m.get("sources").map(Paths.get(_).toAbsolutePath), m.get("modules").map(Paths.get(_)),
      m.getOrElse("perturb", "none"), m.getOrElse("queries", "sample") == "all")
  }

  /** CPU line of /proc/stat: (steal, total) jiffies. */
  private def cpuStat(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  private def memTotalKb: Long =
    try Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case scala.util.control.NonFatal(_) => 0L }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def uptime(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")
    uptime("session ready")
    val tracer = new Tracer(spark, a.trace)
    val run = new Run(a.seed, a.work, tracer, a.perturb)
    val tiny = a.size == "tiny"
    val (steal0, total0) = cpuStat()
    a.workload match {
      case "crawl-bulk" =>
        new CrawlWorkloads(spark, run).bulk(ids = if (tiny) 3000 else 60000, a.seconds)
      case "crawl-nightly" =>
        // 10,000 known ids, not 300,000, and maxSpillRuns 2, not the default
        // 8: on a 4-core box a night costs about 8 s at 10k ids and 21 s at
        // 300k, and a default epoch cycle is nine nights, far past one run's
        // share of the benchmark's time (see perfbench/README.md)
        new CrawlWorkloads(spark, run).nightly(known = if (tiny) 1000 else 10000,
          newShare = 0.015, maxSpillRuns = 2, a.seconds)
      case "analytics-sweep" =>
        val modules = a.modules.map(p => Files.readAllLines(p).asScala.map(_.split("\t"))
          .collect { case Array(q, m) => q -> m }.toMap).getOrElse(Map.empty[String, String])
        new AnalyticsWorkload(spark, run, modules, a.allQueries)
          .sweep(a.sources.getOrElse(throw new IllegalArgumentException("missing --sources")), a.seconds)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val (steal1, total1) = cpuStat()

    uptime("workload done")
    run.info("timed_cpu_s", run.timings.map(_.cpu).sum, "s")
    run.info("timed_jit_cpu_s", run.timings.map(_.jit).sum, "s")
    run.metric("setup_s", run.setupCpuMedian, "s")
    run.info("setup_wall_s", run.setupWallMedian, "s")
    run.metric("heap_live_peak_mb", run.heap.peakLiveBytes / 1048576.0, "MB")
    if (a.trace) {
      tracer.drain()
      if (a.workload.startsWith("crawl")) crawlLayers(run)
      run.layer("spark.storage_peak_mb", tracer.counters.storagePeakBytes / 1048576.0, "MB")
      // every traced run reports every layer; a layer the workload leaves
      // idle reads 0
      perLayerNames.foreach { case (k, u) => if (!run.layers.contains(k)) run.layer(k, 0.0, u) }
      tracer.spans.writeJsonl(a.work.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl"))
    }

    val rt = ManagementFactory.getRuntimeMXBean
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "cores" -> Cores.toString,
      "mem_total_kb" -> memTotalKb.toString,
      "heap_flags" -> Json.str(rt.getInputArguments.asScala.filter(f => f.startsWith("-X")).mkString(" ")),
      "steal_pct" -> Json.num(if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0),
      "gc_ms_timed" -> run.heap.gcMs.toString,
      "gc_count_timed" -> run.heap.collections.toString)
    def obj(m: collection.Map[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }.mkString("{", ", ", "}")
    val json = s"""{"attempted": ${run.attempted}, "failed": ${run.failed}, """ +
      s""""failures": ${run.failures.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""metrics": ${obj(run.metrics)}, "infos": ${obj(run.infos)}, "layers": ${obj(run.layers)}, """ +
      s""""env": ${env.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")}}"""
    Files.writeString(a.result, json)
    spark.stop()
    uptime("session stopped")
  }

  val crawlLayerNames = Seq("frontier", "scheduler", "fetch", "snapshot", "etl", "seenstore", "crawl")
  val queryModules = Seq("views", "sim", "text", "etl", "sources", "other")

  /** Every per-layer metric a traced run reports, with its unit. A name is
    * `<module>.<metric>`: `etl.jobs` counts the etl module's jobs on either
    * workload. */
  val perLayerNames: Seq[(String, String)] =
    crawlLayerNames.flatMap(l => Seq("wall_s" -> "s", "jobs" -> "count", "tasks" -> "count",
      "cpu_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "skew" -> "ratio",
      "driver_s" -> "s").map { case (m, u) => s"$l.$m" -> u }) ++
    Seq("frontier.fresh_ratio" -> "ratio", "seenstore.rolls" -> "count",
      "seenstore.covered_keys" -> "count", "snapshot.files" -> "count", "snapshot.mb" -> "MB",
      "spark.storage_peak_mb" -> "MB", "traced.crawl_urls_per_s" -> "1/s") ++
    (queryModules.flatMap(m => Seq("query_s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB",
      "spill_mb" -> "MB", "gc_s" -> "s", "driver_s" -> "s", "plan_s" -> "s")
      .map { case (k, u) => s"$m.$k" -> u })).distinct ++
    Seq("traced.op_s_p50" -> "s", "traced.pass_s" -> "s", "traced.op_cpu_s" -> "s",
      "traced.pass_cpu_s" -> "s")

  /** Per-layer crawl counters over the timed nights; rounds run under a
    * set-up span are left out. Jobs submitted inside `Crawl.run` go to the
    * innermost `graft.<module>` frame of their call site; other jobs go to
    * the layer of the call that submitted them. The fetch is lazy: it runs
    * inside jobs that `Crawl.run` itself submits, as the stage that first
    * computes the persisted fetch results (the one dataset `Crawl.run`
    * persists). So a stage of a `crawl` job that first computes a persisted
    * dataset goes to `fetch`. A layer's time is the union of its spans, jobs
    * and stages; `crawl` keeps only the part of `Crawl.run` that no other
    * layer's jobs or stages cover. Every counter is per timed night. */
  private def crawlLayers(run: Run): Unit = {
    val byId = run.spans.all.map(s => s.id -> s).toMap
    def excluded(s: Span): Boolean =
      s.layer == "setup" || s.layer == "check" || (s.parent != 0 && excluded(byId(s.parent)))
    val calls = run.spans.all.filter(s => crawlLayerNames.contains(s.layer) && !excluded(s)).toSeq
    val callIds = calls.map(s => s.id -> s).toMap
    val modules: PartialFunction[String, String] = {
      case m if crawlLayerNames.contains(m) => m
      case "plans" => "scheduler"
    }
    val jobs = run.tracer.counters.jobs.toArray(Array.empty[Counters#Job]).toSeq
      .filter(j => callIds.contains(j.span))
    val jobLayer = jobs.map { j =>
      val s = callIds(j.span)
      j.id -> (if (s.layer == "crawl") Layers.moduleOf(j.callSite, modules).getOrElse("crawl") else s.layer)
    }.toMap
    // a stage shared by several jobs runs in the first of them
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> j)).groupBy(_._1)
      .map { case (st, js) => st -> js.map(_._2).minBy(_.id) }
    val filled = scala.collection.mutable.Set.empty[Int]
    val stageLayer = run.tracer.counters.stages.asScala.toSeq.flatMap { st =>
      val fresh = st.persisted.exists(id => !filled.contains(id))
      filled ++= st.persisted
      stageJob.get(st.id).map { j =>
        val l = jobLayer(j.id)
        (st, if (l == "crawl" && fresh) "fetch" else l, j)
      }
    }
    val tasks = run.tracer.counters.tasks.toArray(Array.empty[Counters#Task]).toSeq
    val cover = run.tracer.taskCover
    def jobIv(j: Counters#Job) = (j.start.toDouble, j.end.toDouble)
    val inCrawl = jobs.filter(j => callIds(j.span).layer == "crawl" && jobLayer(j.id) != "crawl")
    val fetchStages = stageLayer.collect { case (st, "fetch", _) => (st.submitted.toDouble, st.completed.toDouble) }
    val nights = math.max(1, calls.count(_.name == "Crawl.run"))
    crawlLayerNames.foreach { l =>
      val spanIvs = calls.filter(_.layer == l).map(s => (s.start, s.end))
      val jobIvs = inCrawl.filter(j => jobLayer(j.id) == l).map(jobIv)
      val owned = l match {
        case "crawl" => Layers.minus(spanIvs, inCrawl.map(jobIv) ++ fetchStages)
        case "fetch" => fetchStages
        case "frontier" | "seenstore" | "etl" => spanIvs ++ jobIvs
        case _ => jobIvs
      }
      val mine = stageLayer.filter(_._2 == l)
      val jobCount = if (l == "fetch") mine.map(_._3.id).distinct.size else jobLayer.count(_._2 == l)
      Layers.block(l, jobCount, mine.map(_._1.id).toSet, tasks, owned, cover).foreach {
        case (k, v, u) => run.layer(k, if (k.endsWith(".skew")) v else v / nights, u)
      }
    }
  }
}
