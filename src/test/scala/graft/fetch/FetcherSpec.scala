package graft.fetch

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.{CrawlConfig, FetchResult, FrontierEntry, Ids, ScheduledFetch}
import graft.frontier.Frontier
import graft.scheduler.Politeness

class FetcherSpec extends SparkSpec {
  import spark.implicits._

  private def frontier(n: Int) = (0 until n).map { i =>
    val id = Ids.syntheticId(i.toLong)
    val url = Frontier.urlFor(id)
    FrontierEntry(id, url, Frontier.hostOf(url), forums = i % 50 == 0, discoveredRun = 0)
  }

  test("fetch results are deterministic and status mix matches FIXTURES §4") {
    val cfg = CrawlConfig()
    val sched = Politeness.schedule(spark, spark.createDataset(frontier(4000)), cfg)
    val r1 = Fetcher.run(spark, sched, cfg).collect().sortBy(_.seq)
    val r2 = Fetcher.run(spark, sched, cfg).collect().sortBy(_.seq)
    assert(r1.toSeq == r2.toSeq, "fetch must be a pure function of (schedule, cfg)")
    val byStatus = r1.groupBy(_.status).view.mapValues(_.length).toMap
    val n = r1.length.toDouble
    assert(byStatus(200) / n > 0.88 && byStatus(200) / n < 0.96)
    assert(byStatus.getOrElse(304, 0) > 0 && byStatus.getOrElse(404, 0) > 0)
  }

  test("exception rows carry the retried flag (single retry pass, crawler:222-234)") {
    val cfg = CrawlConfig()
    val sched = Politeness.schedule(spark, spark.createDataset(frontier(4000)), cfg)
    val rs = Fetcher.run(spark, sched, cfg).collect()
    val retried = rs.filter(_.retried)
    assert(retried.nonEmpty, "some first attempts must hit the exception class")
    // after retry the status is the attempt-1 outcome, not the sentinel
    assert(retried.forall(_.status != -1) || retried.exists(_.status == -1))
  }

  test("failure reports: one sorted text file per class (crawler:37-76 sink)") {
    val cfg = CrawlConfig()
    val sched = Politeness.schedule(spark, spark.createDataset(frontier(2000)), cfg)
    val results = Fetcher.run(spark, sched, cfg)
    val dir = tempDir("graft-reports")
    Fetcher.writeFailureReports(results, dir)
    val classes = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cls="))
    assert(classes.length >= 4, s"expected several class dirs, got ${classes.map(_.getName).toSeq}")
    classes.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".txt"))
      assert(files.length == 1, s"${d.getName} must be exactly one file, got ${files.length}")
      val ids = scala.io.Source.fromFile(files.head).getLines().toSeq
      assert(ids == ids.sorted, s"${d.getName} ids must be sorted")
      assert(ids.nonEmpty)
    }
    // the query form agrees with the files
    val q = Fetcher.failureLists(results).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    classes.foreach { d =>
      val cls = d.getName.stripPrefix("cls=")
      val ids = scala.io.Source.fromFile(d.listFiles().filter(_.getName.endsWith(".txt")).head)
        .getLines().toSeq
      assert(q(cls) == ids)
    }
  }

  test("metrics: every row lands in exactly one class (crawler:81-99 invariant)") {
    val cfg = CrawlConfig()
    val sched = Politeness.schedule(spark, spark.createDataset(frontier(2000)), cfg)
    val results = Fetcher.run(spark, sched, cfg)
    val m = Fetcher.metrics(results).head()
    val classes = Seq("n_ok", "n_not_modified", "n_not_in_store", "n_not_authorized",
      "n_ddos", "n_exception", "n_worker_exception")
    val sum = classes.map(c => m.getAs[Long](c)).sum
    assert(sum == m.getAs[Long]("n_total"))
    assert(m.getAs[Long]("n_total") == 2000L)
  }

  test("T3 per-item timeout: budget-blown items become worker_exception sentinels, never retried in-run") {
    // a large-enough schedule that the ~1/1000 heavy tail fires
    val cfg = CrawlConfig()
    val sched = Politeness.schedule(spark, spark.createDataset(frontier(8000)), cfg)
    val rs = Fetcher.run(spark, sched, cfg).collect()
    val sentinels = rs.filter(_.status == Fetcher.TimeoutStatus)
    assert(sentinels.nonEmpty, "the heavy-tail stall must fire on an 8k schedule")
    // the sentinel mapping (archive.py:606-621): recorded, not retried, not new
    assert(sentinels.forall(r => !r.retried && !r.isNew && r.etag.isEmpty))
    // sentinels are exactly the budget-blown ids — the run never LOSES an id
    val expected = rs.map(_.id).filter(id => Fetcher.timedOut(id, cfg.runId, cfg)).toSet
    assert(sentinels.map(_.id).toSet == expected)
    assert(rs.length == 8000, "every scheduled id yields exactly one result row")
    // surfaced as a first-class failure class in metrics and reports
    val m = Fetcher.metrics(Fetcher.run(spark, sched, cfg)).head()
    assert(m.getAs[Long]("n_worker_exception") == sentinels.length.toLong)
    val lists = Fetcher.failureLists(Fetcher.run(spark, sched, cfg)).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(lists("worker_exception").toSet == expected)
    // a roomier budget clears the class: the timeout is cfg-driven, not baked in
    val roomy = cfg.copy(itemTimeoutMs = Long.MaxValue / 4)
    assert(Fetcher.run(spark, sched, roomy).collect()
      .forall(_.status != Fetcher.TimeoutStatus))
  }

  /** Per-row oracle for the stateless fetch: a blown budget is the timeout
    * sentinel; otherwise the FIXTURES §4 status draw with the single retry
    * pass, and the etag on 200s. */
  private def oracle(s: ScheduledFetch, cfg: CrawlConfig): FetchResult =
    if (Fetcher.timedOut(s.id, cfg.runId, cfg))
      FetchResult(s.seq, s.id, s.fetchClass, s.startMs, Fetcher.TimeoutStatus, "",
        isNew = false, retried = false)
    else {
      val st0 = Fetcher.statusFor(s.id, cfg.runId, 0)
      val (st, retried) =
        if (st0 == -1) (Fetcher.statusFor(s.id, cfg.runId, 1), true) else (st0, false)
      FetchResult(s.seq, s.id, s.fetchClass, s.startMs, st,
        if (st == 200) Fetcher.etagFor(s.id, cfg.runId) else "", isNew = st == 200, retried = retried)
    }

  test("fetch == statusFor/etagFor/timedOut oracle, row for row (stateless path)") {
    val cfg = CrawlConfig(runId = 3, itemTimeoutMs = 7200000L)
    val sched = Politeness.schedule(spark, spark.createDataset(frontier(4000)), cfg)
    val rows = sched.collect().sortBy(_.seq)
    assert(Fetcher.run(spark, sched, cfg).collect().sortBy(_.seq).toSeq ==
      rows.map(oracle(_, cfg)).toSeq)
    // a tight budget forces timeout sentinels
    val tight = cfg.copy(itemTimeoutMs = 100L)
    val t = Fetcher.run(spark, sched, tight).collect().sortBy(_.seq)
    assert(t.toSeq == rows.map(oracle(_, tight)).toSeq)
    assert(t.exists(_.status == Fetcher.TimeoutStatus))
  }

  /** The schedule left-joined with prior `(id, etag)` rows and fetched by
    * `Fetcher.withPriorEtag`, the columns `Crawl.run` fetches its merged
    * rows with. */
  private def fetchWithPrior(sched: Dataset[ScheduledFetch], cfg: CrawlConfig,
                             state: Dataset[(String, String)]): Dataset[FetchResult] =
    Fetcher.withPriorEtag(sched.toDF().join(state.toDF("id", "prior"), Seq("id"), "left_outer"),
      cfg, col("prior"))
      .select(Fetcher.resultColumns: _*).as[FetchResult]

  test("conditional fetch == conditionalResult, row for row (etag-state path)") {
    val cfg = CrawlConfig(runId = 4)
    val sched = Politeness.schedule(spark, spark.createDataset(frontier(3000)), cfg)
    // prior state: half the ids carry the CURRENT etag (→ 304 short-circuit),
    // a quarter carry a stale etag (→ real fetch), the rest are absent
    val rows = sched.collect().sortBy(_.seq)
    val state: Seq[(String, String)] = rows.map(_.id).zipWithIndex.collect {
      case (id, i) if i % 2 == 0 => (id, Fetcher.etagFor(id, cfg.runId))
      case (id, i) if i % 4 == 1 => (id, "W/\"stale\"")
    }.toSeq
    val prior = state.toMap
    val out = fetchWithPrior(sched, cfg, spark.createDataset(state))
      .collect().sortBy(_.seq)
    assert(out.toSeq == rows.map(s => Fetcher.conditionalResult(s, cfg.runId, prior.get(s.id), cfg)).toSeq)
    assert(out.count(_.status == 304) >= rows.length / 2 - 1)
  }

  test("columnar fetch plan: whole-stage codegen, no encoder round-trip") {
    val cfg = CrawlConfig()
    val sched = Politeness.schedule(spark, spark.createDataset(frontier(500)), cfg)
    val state = spark.createDataset(Seq((sched.head().id, "W/\"stale\"")))
    // both fetch forms: the stateless stage and the prior-etag columns Crawl.run fetches with
    Seq("run" -> Fetcher.run(spark, sched, cfg).toDF(),
        "withPriorEtag" -> fetchWithPrior(sched, cfg, state).toDF()).foreach {
      case (name, df) =>
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("DeserializeToObject") && !plan.contains("MapElements"),
          s"$name must not fall back to object mode:\n$plan")
    }
  }
}

/** S6 — reviews/support paged fetch + reply batch (archive.py:372-465) and
  * the P2 composite classifier (archive.py:102-150). */
class ReviewsSpec extends SparkSpec {
  import spark.implicits._

  private def schedule(n: Int) = {
    val f = (0 until n).map { i =>
      val id = Ids.syntheticId(i.toLong)
      val url = Frontier.urlFor(id)
      FrontierEntry(id, url, Frontier.hostOf(url), forums = false, discoveredRun = 0)
    }
    Politeness.schedule(spark, spark.createDataset(f), CrawlConfig())
  }

  test("paged fetch: every id fans out into 2 review + 2 support pages, deterministically") {
    val sched = schedule(100)
    val pages = Reviews.fetchPages(spark, sched, runId = 1)
    val byIdKind = pages.collect().groupBy(p => (p.id, p.kind))
    assert(byIdKind.forall(_._2.map(_.page).sorted.sameElements(Array(0, 1))))
    assert(byIdKind.size == 200, "100 ids x {review, support}")
    val again = Reviews.fetchPages(spark, sched, runId = 1).collect().toSet
    assert(again == pages.collect().toSet, "payloads are pure functions of (id, runId)")
    // anti-XSSI padding present, and strippable with the find-slice idiom
    assert(pages.head().payload.startsWith(")]}'\n"))
  }

  test("annotations explode: rows match the payload contents; commentmd5 dedup holds") {
    val sched = schedule(200)
    val pages = Reviews.fetchPages(spark, sched, runId = 1)
    val ann = Reviews.explodeAnnotations(pages)
    val rows = ann.collect()
    assert(rows.length > 100, s"expected a real corpus of annotations, got ${rows.length}")
    // row count equals the sum of per-page reviewCount (minus md5-PK dups)
    val expected = (for {
      p <- pages.collect()
    } yield Reviews.reviewCount(p.id, 1, p.kind, p.page)).sum
    assert(rows.length <= expected && rows.length > expected / 2)
    assert(rows.forall(_.getAs[String]("commentmd5").length == 32))
    // PK uniqueness: (id, kind, author, commentmd5)
    val keys = rows.map(r => (r.getAs[String]("id"), r.getAs[String]("kind"),
      r.getAs[String]("author"), r.getAs[String]("commentmd5")))
    assert(keys.distinct.length == keys.length)
  }

  test("reply batch: one batch per id with replyExists authors only; explode matches") {
    val sched = schedule(300)
    val ann = Reviews.explodeAnnotations(Reviews.fetchPages(spark, sched, runId = 1))
    val withReply = ann.filter($"reply_exists").select("id").distinct().count()
    val batches = Reviews.replyBatches(spark, ann, runId = 1)
    assert(batches.count() == withReply, "exactly one reply batch per id that needs one")
    val replies = Reviews.explodeReplies(batches)
    // every reply's author had replyExists in the annotations
    val replyAuthors = replies.select("id", "author").distinct()
    val eligible = ann.filter($"reply_exists").select("id", "author").distinct()
    assert(replyAuthors.join(eligible, Seq("id", "author"), "left_anti").count() == 0)
    assert(replies.count() >= withReply)
  }

  test("composite classifier: precedence over the four sub-fetches (archive.py:102-150)") {
    val rows = Seq(
      (200, 200, 200, 200, "ok"),
      (200, 304, 200, 200, "not_modified"),
      (404, 200, 200, 200, "not_in_store"),
      (200, 404, 200, 200, "not_in_store"),
      (401, 200, 200, 200, "not_authorized"),
      (200, 200, 503, 200, "raised_google_ddos"),
      (503, 404, 200, 200, "raised_google_ddos"), // ddos outranks not_in_store
      (-1, 503, 200, 200, "worker_exception"),    // exception outranks all
      (200, 200, 200, 500, "partial_failure"))
      .toDF("o", "c", "r", "s", "expected")
    val out = rows.withColumn("got",
      Fetcher.compositeClass($"o", $"c", $"r", $"s")).collect()
    out.foreach(r => assert(r.getAs[String]("got") == r.getAs[String]("expected"),
      s"row $r"))
  }

  test("subStatuses composite mix over a real schedule is dominated by ok") {
    val sub = Fetcher.subStatuses(spark, schedule(2000), CrawlConfig())
    val counts = sub.groupBy("composite").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("ok") > 1000, counts.toString)
    assert(counts.keySet.contains("not_in_store"))
  }
}

class PayloadSpec extends SparkSpec {
  test("per-row payload invariant: PSNR>=40dB lossy, exact lossless, caption equality") {
    val ids = (0 until 60).map(i => Ids.syntheticId(i.toLong))
    val rows = ids.map(Payload.imageRow)
    val fmts = rows.groupBy(_.fmt).view.mapValues(_.length).toMap
    assert(fmts.keySet.subsetOf(Set("png", "jpg", "gif")) && fmts.size >= 2, fmts.toString)
    rows.foreach { r => assert(Payload.validate(r), s"payload invariant failed for ${r.image_id} (${r.fmt})") }
  }

  test("corrupted payload fails validation (integrity check has teeth)") {
    val row = Payload.imageRow(Ids.syntheticId(1L))
    val bad = row.copy(caption = row.caption + "X")
    assert(!Payload.validate(bad))
    val badBytes = row.bytes.clone()
    // corrupt pixel data region (past the header) so decode changes/breaks
    if (badBytes.length > 100) (60 until 100).foreach(i => badBytes(i) = (badBytes(i) ^ 0x5A).toByte)
    val badRow = row.copy(bytes = badBytes)
    val stillValid = try Payload.validate(badRow) catch { case _: Exception => false }
    assert(!stillValid)
  }

  test("P7 guard: binary payloads skip the text identifiers, text payloads get them") {
    val out = graft.sources.Images.guardedProfile(spark, sf0001, limit = 40).collect()
    assert(out.length == 40)
    out.foreach { r =>
      val binary = r.getAs[Boolean]("is_binary")
      if (binary) {
        assert(r.getAs[String]("sniffed_fmt") == "png")
        assert(r.isNullAt(r.fieldIndex("text_fp")) && r.isNullAt(r.fieldIndex("entropy")))
      } else {
        assert(!r.isNullAt(r.fieldIndex("text_fp")) && r.getAs[Double]("entropy") > 0.0)
      }
    }
    assert(out.count(_.getAs[Boolean]("is_binary")) == 20)
  }

  test("phash is deterministic and similarity-preserving across fmt") {
    val id = Ids.syntheticId(7L)
    val a = Payload.phash(Payload.renderPixels(id, 64, 64))
    val b = Payload.phash(Payload.renderPixels(id, 64, 64))
    assert(a == b)
    val other = Payload.phash(Payload.renderPixels(Ids.syntheticId(8L), 64, 64))
    assert(java.lang.Long.bitCount(a ^ other) > 0)
  }
}
