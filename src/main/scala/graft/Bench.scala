package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark driver. Prints ONE JSON line:
  * query timings over `SPARK_GRAFT_SF_DIR` at `local[SPARK_GRAFT_CPUS]`,
  * plus the north-rule crawl metrics — URLs scheduled+fetched/sec at two
  * parallelism levels (N and 4N cores on the same input; the sandbox proxy
  * for two cluster sizes) and the derived scaling efficiency. Also refreshes
  * `BENCH.md` with the same numbers, above its hand-maintained archive.
  *
  * Hygiene (round-3): one untimed warmup pass over the whole catalog before
  * timing (JIT/codegen warmup no longer lands on whichever query runs
  * first); each query writes its whole result to the noop sink, in the
  * warm-up and the timed pass, inside its own `CacheScope`; queries run in
  * catalog order
  * (deterministic); a query that throws records an `err` entry instead of
  * a fake fast timing; scaling iterations
  * INTERLEAVE the two levels (A/B/A/B, fresh session per leg) and the
  * efficiency is the median of PER-PAIR efficiencies — machine-state drift
  * hits both levels of a pair equally, so no level inherits asymmetric JVM
  * warmth (the round-≤2 artifact that printed impossible >1.0 headlines).
  * The headline is capped at 1.0; the raw value and min-max band ride
  * alongside.
  *
  * Env knobs: SPARK_GRAFT_SCALE_IDS (default 16M frontier ids — 12M sits
  * close enough to the ~6 s serial floor that a single stalled 8-core leg
  * drags a pair badly; 16M measured the tightest bands across rounds),
  * SPARK_GRAFT_SCALE_N (default 2 → pair 2/8), SPARK_GRAFT_SCALE_ITERS
  * (default 7 since round 5), SPARK_GRAFT_SKIP_SCALING. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // scaling FIRST, on a clean JVM: the 32-thread query sweep would warm
    // JIT/heap state asymmetrically for whichever level runs next
    var effForTail: Option[Double] = None
    var scalingForMd: Option[(bench.Scaling.Runs, bench.Scaling.Runs, Seq[Double])] = None
    val crawlJson =
      if (sys.env.contains("SPARK_GRAFT_SKIP_SCALING")) """"skipped":true"""
      else {
        val ids = sys.env.getOrElse("SPARK_GRAFT_SCALE_IDS", "16000000").toInt
        val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "2").toInt
        val pairs = bench.Scaling.runInterleaved(n, n * 4, ids)
        val rN = bench.Scaling.Runs(n, pairs.map(_.rN))
        val r4N = bench.Scaling.Runs(n * 4, pairs.map(_.r4N))
        val effs = pairs.map(_.eff)
        val effMedian = bench.Scaling.medianOf(effs)
        // a computed efficiency > 1.0 is physically impossible — it measures
        // residual noise, never the engine; never print it as the headline
        val effHeadline = math.min(1.0, effMedian)
        effForTail = Some(effHeadline)
        scalingForMd = Some((rN, r4N, effs))
        def n0(v: Double) = String.format(java.util.Locale.ROOT, "%.0f", Double.box(v))
        def n3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
        // compact: the whole JSON line must fit the round driver's 2000-char
        // tail capture (BENCH_r04 lost its head to exactly this), so the
        // band detail keys are short — BENCH.md carries the full story
        s""""n_ids":${rN.n},"cores_n":$n,"urls_per_sec_n":${n0(rN.median.idsPerSec)},""" +
          s""""cores_4n":${n * 4},"urls_per_sec_4n":${n0(r4N.median.idsPerSec)},""" +
          s""""scaling_efficiency":${n3(effHeadline)},"eff_raw":${n3(effMedian)},""" +
          s""""eff_min":${n3(effs.min)},"eff_max":${n3(effs.max)},""" +
          s""""eff_level_med":${n3(bench.Scaling.efficiency(rN.median, r4N.median))},""" +
          s""""pairs":${effs.size}"""
      }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def jsonEsc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

    // catalog order is the bench order (stable across rounds)
    val ordered = Catalog.allEntries.map { case (name, e) => name -> e.fn }

    // every query's whole result goes to the noop sink: a count() lets the
    // optimizer prune the columns it does not need. Each query runs in its
    // own cache scope, so the frames it persists are released before the
    // next one and it pays for its own shared frames; memoized index
    // artifacts (graft.core.Memo) outlive the scope
    def sink(fn: Catalog.Q): Unit = graft.core.CacheScope.withScope {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    }

    // untimed warmup pass: JIT + codegen + parquet footer caches
    ordered.foreach { case (_, fn) =>
      try sink(fn) catch { case _: Throwable => () }
    }

    val timed = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { sink(fn); None }
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          // first line only, markdown/JSON-safe: a multi-line Spark message
          // would split the BENCH.md table row (stripMargin drops the
          // continuation) and corrupt the one-line JSON
          Some(msg.takeWhile(c => c != '\n' && c != '\r')
            .replace("|", "/").replace("\"", "'").take(120))
        }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    spark.stop()

    // Locale.ROOT formatting: f"" uses the default locale — a comma-decimal
    // locale would print 0,1234 and break the driver's JSON parse
    def num(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    // per-query keys shortened to their qNN prefix: 81 full names at 4
    // decimals alone exceed the driver's 2000-char capture window; the
    // full-name timings are regenerated into BENCH.md below
    def shortKey(k: String): String = k.indexOf('_') match {
      case i if i > 0 => k.substring(0, i)
      case _ => k
    }
    val qs = timed.collect { case (k, v, None) => s""""${shortKey(k)}":${num(v, 3)}""" }
      .mkString("{", ",", "}")
    val errs = timed.collect { case (k, _, Some(m)) =>
      "\"" + k + "\":\"" + jsonEsc(m.take(200)) + "\"" }
      .mkString("{", ",", "}")
    val totalQuery = timed.collect { case (_, v, None) => v }.sum

    // Field order (VERDICT r4 item 3): {crawl, headline, errors, queries} —
    // headline metrics first, the bulky per-query map LAST, and the whole
    // line sized to fit the driver's ~2000-char tail capture (short query
    // keys, 3 decimals) so BENCH_r{N}.json parses instead of losing its
    // head like r4 did.
    val effTail = effForTail.map(e => s""","scaling_efficiency":${num(e, 3)}""").getOrElse("")
    scalingForMd.foreach { case (rN, r4N, effs) => writeBenchMd(rN, r4N, effs, timed) }
    val line = s"""{"metric":"total","value":${num(totalQuery, 3)},"unit":"sec",""" +
      s""""sf":"$sfDir","crawl":{$crawlJson},""" +
      s""""headline":{"value":${num(totalQuery, 3)}$effTail},""" +
      s""""errors":$errs,"queries":$qs}"""
    // hard guard: a line that outgrows the capture window is a build error
    // we want to see at bench time, not a null-parsed BENCH_r{N}.json
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} chars exceeds the ~2000-char capture window")
    println(line)
  }

  private def writeBenchMd(rN: bench.Scaling.Runs, r4N: bench.Scaling.Runs,
                           effs: Seq[Double],
                           timed: Seq[(String, Double, Option[String])]): Unit = {
    def row(r: bench.Scaling.Runs): String =
      f"| ${r.cores} | ${r.n} | ${r.median.wallSec}%.1f | ${r.median.idsPerSec}%.0f | ${r.best.idsPerSec}%.0f | ${spreadPct(r)}%.0f%% |"
    val effMedian = bench.Scaling.medianOf(effs)
    val effHeadline = math.min(1.0, effMedian)
    val effsTxt = effs.map(e => f"$e%.3f").mkString(", ")
    val trimmed = if (effs.size > 2) effs.sorted.drop(1).dropRight(1) else effs
    val trimmedLo = trimmed.min
    val trimmedHi = trimmed.max
    // joined with "\n|" because the template's stripMargin consumes one
    // leading '|' per line — each continuation row ships an extra margin pipe
    val queryRows = timed.map {
      case (name, sec, None) => f"| $name | $sec%.3f |"
      case (name, _, Some(err)) => s"| $name | ERR: ${err.take(60)} |"
    }.mkString("\n|")
    val head =
      f"""# BENCH — crawl throughput + scaling evidence
         |
         |Everything above the "hand-maintained" rule is REGENERATED from the run that
         |wrote this file; nothing in it is a carried-forward constant.
         |
         |Job: full crawl run (frontier synthesis → bloom+anti-join URL-seen dedup →
         |deterministic politeness schedule → etag-conditional fetch → snapshot + state
         |commits on tmpfs), same input at two parallelism levels — the sandbox proxy
         |for N vs 4N executors (per BASELINE.md; no real cluster available here).
         |Methodology: ${effs.size} INTERLEAVED iteration pairs (N, 4N, N, 4N, ...),
         |each leg in a fresh session that first runs an untimed in-session pilot —
         |session setup, cold block-manager/executor state, and first-job warmup all
         |land outside the timed window; efficiency is computed per pair and
         |aggregated as the median of pair efficiencies, so machine-state drift hits
         |both levels of a pair equally. A computed efficiency above 1.0 is physically
         |impossible (it measures residual noise) and is never the headline.
         |
         || cores | frontier ids | wall median (s) | URLs/sec median | URLs/sec best | med-best spread |
         ||---|---|---|---|---|---|
         |${row(rN)}
         |${row(r4N)}
         |
         |**Scaling efficiency (N→4N), median of ${effs.size} interleaved pairs:
         |$effHeadline%.3f** (criterion: ≥ 0.8; raw median $effMedian%.3f; per-pair values
         |[$effsTxt]; band ${effs.min}%.3f–${effs.max}%.3f; trimmed band (min+max
         |dropped) $trimmedLo%.3f–$trimmedHi%.3f). Per-leg wall/GC diagnostics for this
         |run are on the bench stderr as `[scaling-leg]` lines — a stalled pair shows
         |up there as either a GC burst or lost wall with flat GC (machine noise).
         |
         |The N=${rN.cores}→4N=${r4N.cores} pair keeps both levels below the box's
         |memory-bandwidth/SMT saturation point; at 8→32 threads the measured raw-CPU
         |ceiling of this VM is ~0.73 (32 logical threads ≈ 22 physical-core
         |equivalents), so that pair would measure the machine, not the engine.
         |Crawl-order parity vs the sequential oracle and URL-seen-set exactness are
         |asserted by `sbt -batch test` (PolitenessSpec/CrawlSpec) and per-run by
         |`CrawlMain`.
         |
         |## Per-query timings (this run, full names)
         |
         |The one-line bench JSON keys queries by their `qNN` prefix to fit the round
         |driver's capture window; this table is the full-name record of the same run
         |(seconds, catalog order, after one untimed warmup pass).
         |
         || query | sec |
         ||---|---|
         |$queryRows%s
         |
         |""".stripMargin
    val path = java.nio.file.Paths.get("BENCH.md")
    val existing =
      if (java.nio.file.Files.exists(path)) Some(java.nio.file.Files.readString(path)) else None
    java.nio.file.Files.writeString(path, spliceBenchMd(head, existing))
    ()
  }

  /** The regenerated `head` followed by the hand-maintained archive of the
    * `existing` BENCH.md — from the `---` rule before its
    * `## Hand-maintained archive` heading to the end, byte for byte. `head`
    * alone when there is no file or it has no archive. */
  private[graft] def spliceBenchMd(head: String, existing: Option[String]): String = {
    val archive = existing.flatMap { md =>
      val heading = md.indexOf("\n## Hand-maintained archive")
      val rule = if (heading < 0) -1 else md.lastIndexOf("\n---\n", heading)
      if (rule < 0) None else Some(md.substring(rule + 1))
    }
    head + archive.getOrElse("")
  }

  /** (best − median) / median of a level's throughput — the per-level noise
    * spread the methodology is judged by. */
  private def spreadPct(r: bench.Scaling.Runs): Double =
    (r.best.idsPerSec - r.median.idsPerSec) / r.median.idsPerSec * 100.0
}
