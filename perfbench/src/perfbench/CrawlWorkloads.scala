package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Crawl
import graft.core.{CacheScope, CrawlConfig, FrontierEntry, Ids}
import graft.etl.CrawlToDb
import graft.frontier.{Frontier, SeenSet, SeenStore}
import graft.scheduler.{Politeness, VirtualClockOracle}

/** The two crawl workloads. Inputs are synthetic store ids made from the
  * seed; the engine is driven only through its public calls, one call at a
  * time, in the order `CrawlMain` makes them. */
final class CrawlWorkloads(spark: SparkSession, run: Run) {
  import spark.implicits._

  private val seed = run.seed
  private val forumStep = 100 // about 1% forum ids

  /** Expected-set fingerprint of ids: count plus an order-independent hash. */
  private def fingerprint(ids: Iterator[String]): (Long, Long) = {
    var n = 0L; var h = 0L
    ids.foreach { id => n += 1; h += Ids.mix64(scala.util.hashing.MurmurHash3.stringHash(id).toLong) }
    (n, h)
  }

  /** Write the seeded sitemap listing (seq, id) as the crawl's input file. */
  private def writeSitemap(dir: Path, n: Long): Unit = {
    val s = seed
    spark.range(0, n).map(i => (i.longValue, Ids.syntheticId(i, s))).toDF("seq", "value")
      .write.mode("overwrite").parquet(dir.toString)
  }

  private def sitemap(dir: Path, until: Long): Dataset[String] =
    spark.read.parquet(dir.toString).filter(col("seq") < until).select("value").as[String]

  private def forum(dir: Path, until: Long): Dataset[String] =
    spark.read.parquet(dir.toString)
      .filter(col("seq") < until && col("seq") % forumStep === 0).select("value").as[String]

  final case class Night(runId: Int, time: Timing, frontierRows: Long, rolled: Boolean,
                         coveredKeys: Long, knownRows: Long, candidates: Long) {
    def seconds: Double = time.wall
  }

  /** One crawl round as `CrawlMain` runs it, plus the archive commit on
    * nightly rounds, from the worklist build to the last commit. A timed
    * round counts toward the timed window (CPU, GC) and is followed by a
    * live-heap sample and the output checks, outside the timing, inside the
    * same cache scope. An untimed (set-up) round only reports its wall
    * seconds: the timed rounds that follow it re-list and re-check all of
    * its ids. */
  private def night(tableDir: Path, input: Path, listed: Long, runId: Int, knownIds: Long,
                    archive: Boolean, timed: Boolean, maxSpillRuns: Int = 8): Night =
    CacheScope.withScope {
      val dir = tableDir.toString
      val cfg = CrawlConfig(runId = runId, shuffleSeed = seed, prefixLen = 1)
      def round() =
        run.spans(s"night $runId", "night") {
          val haveSeen = new graft.snapshot.SnapshotTable(spark, s"$dir/url_seen").currentVersion.isDefined
          val existing = if (haveSeen) Crawl.seenIds(spark, dir).as[String] else spark.emptyDataset[String]
          val store = new SeenStore(dir, expectedKeys = math.max(1L << 22, listed * 8),
            maxSpillRuns = maxSpillRuns)
          val frontier = run.spans("Frontier.buildWorklist", "frontier") {
            Frontier.buildWorklist(spark, existing, forum(input, listed), sitemap(input, listed),
              maxNew = listed.toInt, runId = runId, store = Some(store))
          }
          val out = run.spans("Crawl.run", "crawl") { Crawl.run(spark, frontier, cfg, dir) }
          val n = run.spans("results.count", "crawl") { out.results.count() }
          val commit = run.spans("SeenStore.commitRun", "seenstore") {
            store.commitRun(spark, out.results.select(SeenSet.idHash($"id").as("h")).as[Long], n,
              seenVersion = out.seenVersion,
              fullCorpusHashes = Crawl.seenIds(spark, dir).select(SeenSet.idHash(col("id")).as("h")).as[Long],
              fullCount = Crawl.seenIds(spark, dir).count())
          }
          if (archive) run.spans("CrawlToDb.commitRunArchive", "etl") {
            CrawlToDb.commitRunArchive(spark, dir, out.results, runId)
          }
          (out, n, commit)
        }
      val ((out, n, (rolled, covered)), time) = if (timed) run.timedPart(round()) else Run.measure(round())
      // live heap at the end of the night, while its cached results are held
      if (timed) run.heap.sampleLive()
      System.err.println(f"[perfbench] night $runId: ${time.wall}%.3f s, cpu ${time.cpu}%.3f s, " +
        f"jit ${time.jit}%.3f s, $n rows, rolled=$rolled")
      if (timed) run.spans("checks", "check") { checkNight(out, cfg, dir, n, listed) }
      Night(runId, time, n, rolled, covered, knownIds, listed)
    }

  /** The frontier the generator implies for a night that lists ids
    * [0, listed): every id once, forum ids flagged. */
  private def expectedFrontier(listed: Long, runId: Int): Seq[FrontierEntry] =
    (0L until listed).map { i =>
      val id = Ids.syntheticId(i, seed)
      val url = Frontier.urlFor(id)
      FrontierEntry(id, url, Frontier.hostOf(url), i % forumStep == 0, runId)
    }

  /** The three crawl output checks, against the generator's inputs. */
  private def checkNight(out: Crawl.RunOutput, cfg: CrawlConfig, dir: String, n: Long,
                         listed: Long): Unit = {
    val expected = expectedFrontier(listed, cfg.runId)
    // 1. crawl order vs the sequential oracle: full parity below 200k rows,
    //    first-K prefix parity above (the oracle's first K entries depend only
    //    on the K smallest shuffle keys), as CrawlMain checks it
    val parity = if (n <= 200000)
      run.perturbSchedule(out.scheduled.collect().sortBy(_.seq).toSeq) ==
        VirtualClockOracle.schedule(expected, cfg)
    else {
      val k = 1000
      val prefix = expected.sortBy(e => (Politeness.shuffleKey(e.id, cfg), e.id)).take(k)
      run.perturbSchedule(out.scheduled.orderBy("seq").limit(k).collect().toSeq) ==
        VirtualClockOracle.schedule(prefix, cfg)
    }
    run.check("crawl order parity", parity)
    // 2. the URL-seen set equals the generator's id set
    val ids = fingerprint(expected.iterator.map(_.id))
    val seen = run.perturbSeen(Crawl.seenIds(spark, dir).as[String].collect().toSeq)
    run.check("url_seen set", fingerprint(seen.iterator) == ids)
    // 3. one result row per frontier row, over the same ids
    val resultIds = run.perturbResults(out.results.select("id").as[String].collect().toSeq)
    run.check("results rows = frontier rows", resultIds.size.toLong == n && fingerprint(resultIds.iterator) == ids)
  }

  /** The seeded sitemap file of `n` ids, the workload's input. */
  private def writeInput(n: Long): Path = {
    val p = run.work.resolve("sitemap")
    writeSitemap(p, n)
    p
  }

  /** Set-up: `SetupRounds` first crawls of `ids` listed ids, each into its
    * own empty table directory, each one set-up sample. A first crawl is
    * what an operator runs before any recrawl: it creates the snapshot
    * tables, the crawl archive (with `archive`) and the seen store's epoch.
    * The first rounds also absorb JIT and first-job costs. Returns the
    * table directories. */
  private def firstCrawls(name: String, input: Path, ids: Long, archive: Boolean,
                          maxSpillRuns: Int): Seq[Path] =
    (0 until CrawlWorkloads.SetupRounds).map { i =>
      val d = run.work.resolve(s"$name-$i")
      run.setup {
        run.op { night(d, input, ids, runId = 1, knownIds = 0, archive, timed = false, maxSpillRuns) }
      }.foreach(r => run.setupSample(r.time))
      d
    }

  /** Bytes and files of every snapshot table and seen-store file. */
  private def stored(dir: Path): (Long, Long) = {
    val files = Files.walk(dir).iterator().asScala.filter(p => Files.isRegularFile(p)).toSeq
    (files.map(Files.size).sum, files.size.toLong)
  }

  /** crawl-bulk: CrawlMain's first run — no prior state, one id list. */
  def bulk(ids: Long, seconds: Double): Unit = {
    val input = writeInput(ids)
    firstCrawls("bulk-setup", input, ids, archive = false, maxSpillRuns = 8).foreach(Util.deleteTree)
    val rounds = ArrayBuffer.empty[Night]
    var bytes = 0L; var files = 0L
    run.timed(seconds, minOps = 3) { i =>
      val tdir = run.work.resolve(s"bulk-round-$i")
      val nt = run.op { night(tdir, input, ids, runId = 1, knownIds = ids / forumStep + 1,
        archive = false, timed = true) }
      nt.foreach { r =>
        rounds += r
        val (b, f) = stored(tdir); bytes = b; files = f
      }
      Util.deleteTree(tdir)
    }
    report(rounds.toSeq, rounds.toSeq, bytes, files, rounds.map(_.frontierRows).lastOption.getOrElse(1L))
  }

  /** crawl-nightly: recrawls against persisted state. Set-up crawls the
    * known ids into fresh table directories; each cycle takes one of them
    * and times `maxSpillRuns + 1` nights. Each night's sitemap re-lists every
    * id seen so far plus `newShare` new ids. The first `maxSpillRuns` nights
    * spill to the seen store; the last is the commit that rolls the epoch. */
  def nightly(known: Long, newShare: Double, maxSpillRuns: Int, seconds: Double): Unit = {
    val perNight = math.max(1L, (known * newShare).toLong)
    val nights = maxSpillRuns + 1
    val input = writeInput(known + nights * perNight)
    val states = firstCrawls("nightly", input, known, archive = true, maxSpillRuns)
    val spill = ArrayBuffer.empty[Night]
    val rolls = ArrayBuffer.empty[Night]
    val cycles = ArrayBuffer.empty[Seq[Night]]
    var bytes = 0L; var files = 0L
    run.timed(seconds, minOps = 1, maxOps = states.size) { c =>
      val tdir = states(c)
      val done = (1 to nights).iterator.map { j =>
        run.op { night(tdir, input, known + j * perNight, runId = j + 1,
          knownIds = known + (j - 1) * perNight, archive = true, timed = true, maxSpillRuns) }
      }.takeWhile(_.isDefined).flatten.toSeq
      run.check("only the last night of the cycle rolls the epoch",
        done.size == nights && done.init.forall(!_.rolled) && done.last.rolled)
      done.foreach(r => if (r.rolled) rolls += r else spill += r)
      cycles += done
      val (b, f) = stored(tdir); bytes = b; files = f
    }
    states.foreach(Util.deleteTree)
    // one pass = one epoch cycle: the sum over night positions of their medians
    def pass(f: Night => Double) = (0 until nights).map(j => Layers.median(cycles.flatMap(_.lift(j)).map(f).toSeq)).sum
    report(spill.toSeq, (spill ++ rolls).toSeq, bytes, files,
      known + cycles.lastOption.map(_.map(_.frontierRows).sum).getOrElse(0L),
      Some((pass(_.seconds), pass(_.time.cpu))), Some(Layers.median(rolls.map(_.seconds).toSeq)))
  }

  /** `pass` is one epoch cycle's (wall, CPU) seconds; without it (crawl-bulk)
    * a pass is one round. */
  private def report(medianOver: Seq[Night], all: Seq[Night], bytes: Long, files: Long,
                     rows: Long, pass: Option[(Double, Double)] = None, rollS: Option[Double] = None): Unit = {
    val opP50 = Layers.median(medianOver.map(_.seconds))
    val opCpu = Layers.median(medianOver.map(_.time.cpu))
    val (passS, passCpuS) = pass.getOrElse((opP50, opCpu))
    val urlsPerS = Layers.median(all.map(r => r.frontierRows / r.seconds))
    run.metric("op_cpu_s", opCpu, "s")
    run.metric("pass_cpu_s", passCpuS, "s")
    run.info("op_s_p50", opP50, "s")
    run.info("pass_s", passS, "s")
    run.info("crawl_urls_per_s", urlsPerS, "1/s")
    run.info("night_s_p50", opP50, "s")
    rollS.foreach(v => run.info("roll_night_s", v, "s"))
    run.info("stored_bytes_per_row", bytes.toDouble / rows, "B")
    if (run.tracing) {
      run.layer("frontier.fresh_ratio",
        all.map(r => r.frontierRows - r.knownRows).sum.toDouble / all.map(_.candidates).sum, "ratio")
      run.layer("seenstore.rolls", all.count(_.rolled).toDouble, "count")
      run.layer("seenstore.covered_keys", all.lastOption.map(_.coveredKeys.toDouble).getOrElse(0.0), "count")
      run.layer("snapshot.files", files.toDouble, "count")
      run.layer("snapshot.mb", bytes / 1048576.0, "MB")
      run.layer("traced.crawl_urls_per_s", urlsPerS, "1/s")
      run.layer("traced.op_s_p50", opP50, "s")
      run.layer("traced.pass_s", passS, "s")
      run.layer("traced.op_cpu_s", opCpu, "s")
      run.layer("traced.pass_cpu_s", passCpuS, "s")
    }
  }
}

object CrawlWorkloads {
  val SetupRounds = 3
}
