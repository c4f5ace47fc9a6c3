package graft.fetch

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.scheduler.Politeness

/** Deterministic synthetic fetch stage (SURVEY.md §7.1 step 6).
  *
  * In-sandbox stand-in for the reference's HTTP stage (archive.py:273-465):
  * status, etag and payload are pure functions of (id, runId), with the
  * FIXTURES.md §4 status mix — 200 ok 92%, 304 not-modified 4% (requires
  * etag state), 404 2%, 401 1%, 503 0.5%, exception 0.5% (retried once,
  * crawler:222-234). The payload is a real encoded PNG/JPEG rendered from a
  * seeded pattern so the validation stage (PSNR/caption, archive.py:288-302
  * analog) exercises true decode paths.
  */
object Fetcher {

  /** Status class for (id, runId, attempt) — deterministic FIXTURES §4 mix. */
  def statusFor(id: String, runId: Int, attempt: Int): Int = {
    val r = Math.floorMod(Ids.mix64(Politeness.strHash64(id, 7L * runId + attempt) ^ 0xFE7C0A1L), 1000L)
    if (r < 920) 200
    else if (r < 960) 304
    else if (r < 980) 404
    else if (r < 990) 401
    else if (r < 995) 503
    else -1 // worker exception → retry pass
  }

  /** Synthetic content version: each id's payload changes on its own cadence
    * (every 2-5 runs, seeded) — so ETag-conditional fetches have real
    * not-modified windows to skip, like the store content the reference
    * crawls nightly (archive.py:305-348). */
  def contentVersion(id: String, runId: Int): Int = {
    val cadence = 2 + Math.floorMod(Ids.mix64(Politeness.strHash64(id, 23L)), 4L).toInt
    runId / cadence
  }

  def etagFor(id: String, runId: Int): String =
    f"""W/"${Ids.mix64(Politeness.strHash64(id, 13L) ^ contentVersion(id, runId))}%016x""""

  /** T3 — virtual fetch-WORK duration for an item, with the heavy tail real
    * crawls have (a hung download): ~1 in 1,000 (id, run) pairs draws a
    * pathological stall far past any budget. Distinct from
    * `Politeness.durationMs` (the schedule's virtual clock), so the timeout
    * never perturbs schedule parity with the sequential oracle. */
  /** A hung download stalls for ~a day — far past the reference's 2 h
    * budget, but finite and budget-independent (a roomier cfg budget can
    * legitimately absorb it). */
  val StallMs: Long = 86400000L

  def fetchDurationMs(id: String, runId: Int, cfg: CrawlConfig): Long =
    fetchDurationMsSeeded(id, runId, cfg.shuffleSeed)

  def fetchDurationMsSeeded(id: String, runId: Int, seed: Long): Long = {
    val h = Ids.mix64(Politeness.strHash64(id, seed ^ 0x7107L) ^ runId.toLong)
    val base = 50L + Math.floorMod(h, 100L)
    if (Math.floorMod(Ids.mix64(h ^ 0xBADCAFEL), 1000L) == 0L) StallMs + base
    else base
  }

  /** True when the item blows its per-item budget (config.py:160-162) —
    * mapped to a `worker_exception` SENTINEL row, never retried in-run
    * (archive.py:606-621: the expired future's id is recorded, the worker
    * moves on; the next nightly run picks the id up again). */
  def timedOut(id: String, runId: Int, cfg: CrawlConfig): Boolean =
    fetchDurationMs(id, runId, cfg) > cfg.itemTimeoutMs

  /** Sentinel status for a timed-out item (the reference's worker_exception
    * UpdateResult with a sentinel payload, archive.py:606-621). */
  val TimeoutStatus: Int = -2

  /** Conditional fetch against prior etag state — the If-Modified-Since/ETag
    * skip (archive.py:305-348): unchanged etag → 304 without a payload
    * fetch; otherwise a real fetch with the single retry pass
    * (crawler:222-234). */
  def conditionalResult(s: graft.core.ScheduledFetch, runId: Int,
                        priorEtag: Option[String], cfg: CrawlConfig = CrawlConfig()): FetchResult = {
    val newEtag = etagFor(s.id, runId)
    if (priorEtag.contains(newEtag)) {
      // a conditional 304 transfers no payload — the hung-download stall
      // can't bite it; the timeout budget applies to real fetch work only
      FetchResult(s.seq, s.id, s.fetchClass, s.startMs, 304, newEtag,
        isNew = false, retried = false)
    } else if (timedOut(s.id, runId, cfg)) {
      FetchResult(s.seq, s.id, s.fetchClass, s.startMs, TimeoutStatus, "",
        isNew = false, retried = false)
    } else {
      val st0 = statusFor(s.id, runId, 0)
      val (stRaw, retried) = if (st0 == -1) (statusFor(s.id, runId, 1), true) else (st0, false)
      // our validator no longer matches → an actual 304 is impossible on
      // this path; the mix's 304 share re-fetches as 200
      val st = if (stRaw == 304) 200 else stRaw
      FetchResult(s.seq, s.id, s.fetchClass, s.startMs, st,
        if (st == 200) newEtag else "", isNew = st == 200, retried = retried)
    }
  }

  /** State-driven fetch stage: schedule co-joined with the prior etag-state
    * table (J14 — both sides hash-partition on id, the reference's etag
    * side-cache lookup archive.py:194-237 as a distributed join). */
  def runWithState(spark: SparkSession, schedule: Dataset[ScheduledFetch],
                   cfg: CrawlConfig, etagState: Dataset[EtagState]): Dataset[FetchResult] =
    if (columnarEnabled) runWithStateColumnar(spark, schedule, cfg, etagState)
    else {
      import spark.implicits._
      schedule
        .joinWith(etagState, schedule("id") === etagState("id"), "left_outer")
        .map { case (s, st) =>
          conditionalResult(s, cfg.runId, Option(st).map(_.etag), cfg)
        }
    }

  /** Column-native [[run]]: one struct-producing codegen expression per row
    * (status, etag, retried) + plain column projections. */
  def runColumnar(spark: SparkSession, schedule: Dataset[ScheduledFetch],
                  cfg: CrawlConfig): Dataset[FetchResult] = {
    import spark.implicits._
    schedule.toDF()
      .withColumn("__c", graft.functions.GraftFunctions.fetchClassify(
        col("id"), cfg.runId, cfg.shuffleSeed, cfg.itemTimeoutMs, conditional = false))
      .select(col("seq"), col("id"), col("fetchClass"), col("startMs"),
        col("__c.status").as("status"),
        when(col("__c.status") === 200,
          graft.functions.GraftFunctions.fetchEtag(col("id"), cfg.runId))
          .otherwise(lit("")).as("etag"),
        (col("__c.status") === 200).as("isNew"),
        col("__c.retried").as("retried"))
      .as[FetchResult]
  }

  /** Column-native [[runWithState]]: same left join, but the conditional
    * branch ([[conditionalResult]]) is expressed as columns — prior-etag
    * hit → 304 short-circuit, else the classify struct with the 304→200
    * remap baked into its `conditional` mode. */
  def runWithStateColumnar(spark: SparkSession, schedule: Dataset[ScheduledFetch],
                           cfg: CrawlConfig, etagState: Dataset[EtagState]): Dataset[FetchResult] = {
    import spark.implicits._
    val st = etagState.toDF().select(col("id").as("__sid"), col("etag").as("__prior"))
    val hit = col("__prior").isNotNull && (col("__prior") === col("__new"))
    schedule.toDF()
      .join(st, col("id") === col("__sid"), "left_outer")
      .withColumn("__new", graft.functions.GraftFunctions.fetchEtag(col("id"), cfg.runId))
      .withColumn("__c", graft.functions.GraftFunctions.fetchClassify(
        col("id"), cfg.runId, cfg.shuffleSeed, cfg.itemTimeoutMs, conditional = true))
      .select(col("seq"), col("id"), col("fetchClass"), col("startMs"),
        when(hit, lit(304)).otherwise(col("__c.status")).as("status"),
        when(hit, col("__new"))
          .when(col("__c.status") === 200, col("__new"))
          .otherwise(lit("")).as("etag"),
        (!hit && (col("__c.status") === 200)).as("isNew"),
        (!hit && col("__c.retried")).as("retried"))
      .as[FetchResult]
  }

  /** P2 — composite result classification over the FOUR sub-fetches of a
    * crawl item (overview, crx, reviews, support — archive.py:498-507),
    * reproducing UpdateResult's precedence (archive.py:102-150):
    * worker_exception (any sub-result raised) > raised_google_ddos (any 503)
    * > not_in_store (overview 404) > not_authorized (401) > not_modified
    * (crx 304, everything else fine) > ok (all four succeeded). */
  def compositeClass(overview: org.apache.spark.sql.Column, crx: org.apache.spark.sql.Column,
                     reviews: org.apache.spark.sql.Column, support: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def anyIs(v: Int) = overview === v || crx === v || reviews === v || support === v
    when(anyIs(-1), "worker_exception")
      .when(anyIs(503), "raised_google_ddos")
      .when(overview === 404 || crx === 404, "not_in_store")
      .when(anyIs(401), "not_authorized")
      .when(crx === 304, "not_modified")
      .when(overview === 200 && crx === 200 && reviews === 200 && support === 200, "ok")
      .otherwise("partial_failure")
  }

  /** The four deterministic sub-fetch statuses for an id — distinct salts
    * per sub-fetch so the composite mix is realistic. */
  def subStatuses(spark: SparkSession, schedule: Dataset[ScheduledFetch], cfg: CrawlConfig): DataFrame = {
    import spark.implicits._
    schedule.map { s =>
      (s.id,
        statusFor(s.id, cfg.runId, 0),
        statusFor(s.id + "#crx", cfg.runId, 0),
        statusFor(s.id + "#rev", cfg.runId, 0),
        statusFor(s.id + "#sup", cfg.runId, 0))
    }.toDF("id", "overview_status", "crx_status", "reviews_status", "support_status")
      .withColumn("composite", compositeClass(
        col("overview_status"), col("crx_status"), col("reviews_status"), col("support_status")))
  }

  def classify(status: Int): String = status match {
    case 200 => "ok"
    case 304 => "not_modified"
    case 404 => "not_in_store"
    case 401 => "not_authorized"
    case 503 => "ddos"
    case TimeoutStatus => "worker_exception"
    case _   => "exception"
  }

  /** Run the fetch stage over a schedule, with the single retry pass for
    * exception rows (crawler:222-234: retry once, then record). */
  /** Opt-in column-native classifier (SPARK_GRAFT_COLUMNAR_FETCH=1): the
    * per-row fetch classification runs as a codegen'd Catalyst expression
    * over UnsafeRows instead of a typed map — no encoder round-trip, no
    * FetchResult allocation until the sink. Parity with the typed paths is
    * spec-gated (FetcherSpec); DEFAULT OFF: the typed map is the path every
    * published number was measured on, and speeding the parallel stage
    * shrinks the parallel share the N→4N efficiency gate measures. */
  private[graft] def columnarEnabled: Boolean =
    sys.env.get("SPARK_GRAFT_COLUMNAR_FETCH")
      .orElse(sys.props.get("spark.graft.columnar.fetch"))
      .contains("1")

  def run(spark: SparkSession, schedule: Dataset[ScheduledFetch], cfg: CrawlConfig): Dataset[FetchResult] =
    if (columnarEnabled) runColumnar(spark, schedule, cfg)
    else runTyped(spark, schedule, cfg)

  private def runTyped(spark: SparkSession, schedule: Dataset[ScheduledFetch], cfg: CrawlConfig): Dataset[FetchResult] = {
    import spark.implicits._
    schedule.map { s =>
      if (timedOut(s.id, cfg.runId, cfg)) {
        // per-item budget blown → worker_exception sentinel, no in-run retry
        FetchResult(s.seq, s.id, s.fetchClass, s.startMs, TimeoutStatus, "",
          isNew = false, retried = false)
      } else {
        val st0 = statusFor(s.id, cfg.runId, 0)
        val (st, retried) = if (st0 == -1) (statusFor(s.id, cfg.runId, 1), true) else (st0, false)
        FetchResult(s.seq, s.id, s.fetchClass, s.startMs, st,
          if (st == 200) etagFor(s.id, cfg.runId) else "",
          isNew = st == 200, retried = retried)
      }
    }
  }

  private def classCol = when(col("status") === 200, "ok")
    .when(col("status") === 304, "not_modified")
    .when(col("status") === 404, "not_in_store")
    .when(col("status") === 401, "not_authorized")
    .when(col("status") === 503, "ddos")
    .when(col("status") === TimeoutStatus, "worker_exception")
    .otherwise("exception")

  /** S12/O2 — per-class sorted ID lists, the greppable per-run report files
    * of crawler:37-76 (log_failures_to_file): one row per class with its
    * sorted id array. */
  def failureLists(results: Dataset[FetchResult]): DataFrame =
    results.toDF()
      .withColumn("cls", classCol)
      .groupBy("cls")
      .agg(sort_array(collect_list(col("id"))).as("ids"), count(lit(1)).as("n"))

  /** Write the per-class reports as one sorted text file per class under
    * `dir/cls=<class>/` — the reference's 10 per-run log files
    * (crawler:45-76). repartition-by-class + in-partition sort means each
    * class lands in exactly one file, already sorted; no driver collect. */
  def writeFailureReports(results: Dataset[FetchResult], dir: String): Unit = {
    results.toDF()
      .withColumn("cls", classCol)
      .select(col("cls"), col("id").as("value"))
      .repartition(col("cls"))
      .sortWithinPartitions("cls", "value")
      .write.mode("overwrite").partitionBy("cls").text(dir)
    ()
  }

  /** Per-run metrics — the 11 summary counters of crawler:81-99 as
    * aggregate columns over a results frame. `Crawl.run` observes them on
    * the results commit; [[metrics]] evaluates the same columns on their own. */
  def metricColumns: Seq[Column] = {
    def cnt(c: String) = count(when(classCol === c, 1)).as(s"n_$c")
    Seq(cnt("ok"), cnt("not_modified"), cnt("not_in_store"),
      cnt("not_authorized"), cnt("ddos"), cnt("exception"),
      cnt("worker_exception"),
      count(when(col("retried"), 1)).as("n_retried"),
      count(lit(1)).as("n_total"))
  }

  /** The [[metricColumns]] in one partial+final aggregation pass. */
  def metrics(results: Dataset[FetchResult]): DataFrame = {
    val cols = metricColumns
    results.agg(cols.head, cols.tail: _*)
  }
}

/** Deterministic image+caption payload generation/validation — the engine's
  * input_hint payload (ImageRow) and the reference's archive integrity
  * checks (PSNR≥40dB for lossy, exact bytes for lossless, caption equality;
  * crx validation analog archive.py:288-302 + crx.py:59-63). Cold path only
  * (validation/tests); the hot path carries bytes opaquely + phash. */
object Payload {
  private val words = Array("amber", "basalt", "cinder", "delta", "ember",
    "fjord", "garnet", "harbor", "indigo", "juniper", "krypton", "lumen",
    "meadow", "nectar", "onyx", "prism")

  def captionFor(id: String): String = {
    val h = Politeness.strHash64(id, 99L)
    (0 until 6).map(i => words(((h >>> (i * 4)) & 15).toInt)).mkString(" ")
  }

  def fmtFor(id: String): String = {
    val r = Math.floorMod(Ids.mix64(Politeness.strHash64(id, 5L)), 100L)
    if (r < 70) "png" else if (r < 95) "jpg" else "gif"
  }

  /** Seeded smooth bilinear gradient (JPEG-compresses well, so the lossy
    * branch of the PSNR invariant is meaningful, not noise-defeated). For
    * gif, pixels quantize to a 16-level grayscale ramp (≤16 distinct colors
    * → GIF palette encoding is exactly lossless). */
  def renderPixels(id: String, w: Int, h: Int, fmt: String = "png"): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val base = Politeness.strHash64(id, 11L)
    // 4 seeded corner colors
    val corners = Array.tabulate(4)(i => (Ids.mix64(base ^ i) & 0xFFFFFF).toInt)
    def chan(c: Int, s: Int) = (c >> s) & 0xFF
    var y = 0
    while (y < h) {
      val fy = if (h == 1) 0.0 else y.toDouble / (h - 1)
      var x = 0
      while (x < w) {
        val fx = if (w == 1) 0.0 else x.toDouble / (w - 1)
        var rgb = 0
        var s = 0
        while (s < 24) {
          val top = chan(corners(0), s) * (1 - fx) + chan(corners(1), s) * fx
          val bot = chan(corners(2), s) * (1 - fx) + chan(corners(3), s) * fx
          val v = (top * (1 - fy) + bot * fy).round.toInt.max(0).min(255)
          rgb |= v << s
          s += 8
        }
        if (fmt == "gif") {
          val luma = (0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)).toInt
          val q = (luma / 17) * 17 // 16-level ramp
          rgb = (q << 16) | (q << 8) | q
        }
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    img
  }

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    if (fmt == "jpg") {
      // explicit quality so the ≥40 dB invariant has headroom (archive
      // validation analog, archive.py:288-302)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.92f)
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      writer.dispose(); ios.close()
    } else {
      javax.imageio.ImageIO.write(img, if (fmt == "gif") "gif" else "png", out)
    }
    out.toByteArray
  }

  def sizeFor(id: String): Int = {
    val opts = Array(16, 32, 64, 128)
    opts(Math.floorMod(Ids.mix64(Politeness.strHash64(id, 17L)), 4L).toInt)
  }

  /** Bilinear resize to exactly (tw, th) — the kernel of the multimodal
    * RESIZE stage (thumbnailing for a training-data pipeline). Pure
    * in-memory AWT, deterministic for a given JVM. */
  def resize(img: BufferedImage, tw: Int, th: Int): BufferedImage = {
    val out = new BufferedImage(tw, th, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, tw, th, null)
      ()
    } finally g.dispose()
    out
  }

  /** Aspect-preserving thumbnail geometry: long edge capped at `maxDim`,
    * never upscaled, both edges ≥ 1. */
  def thumbDims(w: Int, h: Int, maxDim: Int): (Int, Int) = {
    val scale = maxDim.toDouble / math.max(w, h)
    if (scale >= 1.0) (w, h)
    else (math.max(1, math.round(w * scale).toInt), math.max(1, math.round(h * scale).toInt))
  }

  /** Full deterministic payload row for an id. */
  def imageRow(id: String): ImageRow = {
    val w = sizeFor(id); val h = sizeFor(id + "h")
    val fmt = fmtFor(id)
    val img = renderPixels(id, w, h, fmt)
    val bytes = encode(img, fmt)
    val caption = captionFor(id)
    ImageRow(id, bytes, w, h, fmt, caption, phash(img))
  }

  /** 64-bit perceptual-hash stand-in: average-luma threshold over an 8x8
    * downsample (the role of the reference's simhash, crxfile.sql:31). */
  def phash(img: BufferedImage): Long = {
    val cells = new Array[Double](64)
    val cw = math.max(1, img.getWidth / 8); val ch = math.max(1, img.getHeight / 8)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        var sum = 0.0; var n = 0
        var y = cy * ch
        while (y < math.min((cy + 1) * ch, img.getHeight)) {
          var x = cx * cw
          while (x < math.min((cx + 1) * cw, img.getWidth)) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
            n += 1; x += 1
          }
          y += 1
        }
        cells(cy * 8 + cx) = if (n == 0) 0 else sum / n
        cx += 1
      }
      cy += 1
    }
    val mean = cells.sum / 64
    var out = 0L; var i = 0
    while (i < 64) { if (cells(i) > mean) out |= (1L << i); i += 1 }
    out
  }

  /** PSNR between two images (dB); Double.PositiveInfinity for identical. */
  def psnr(a: BufferedImage, b: BufferedImage): Double = {
    require(a.getWidth == b.getWidth && a.getHeight == b.getHeight)
    var se = 0.0; var n = 0
    var y = 0
    while (y < a.getHeight) {
      var x = 0
      while (x < a.getWidth) {
        val pa = a.getRGB(x, y); val pb = b.getRGB(x, y)
        var c = 0
        while (c < 3) {
          val d = ((pa >> (8 * c)) & 0xFF) - ((pb >> (8 * c)) & 0xFF)
          se += d.toDouble * d; n += 1; c += 1
        }
        x += 1
      }
      y += 1
    }
    if (se == 0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 / (se / n))
  }

  /** Per-row payload invariant (input_hint): decode-validate `bytes` against
    * the reference render — exact pixels for lossless fmts, PSNR ≥ 40 dB for
    * jpg — and caption equality. */
  def validate(row: ImageRow): Boolean = {
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.bytes))
    if (decoded == null) return false
    val ref = renderPixels(row.image_id, row.w, row.h, row.fmt)
    val pixelOk = row.fmt match {
      case "jpg" => psnr(decoded, ref) >= 40.0
      case _ =>
        // lossless: identical pixel values
        (0 until row.h).forall(y => (0 until row.w).forall(x =>
          (decoded.getRGB(x, y) & 0xFFFFFF) == (ref.getRGB(x, y) & 0xFFFFFF)))
    }
    pixelOk && row.caption == captionFor(row.image_id)
  }

  /** Binary-cell noise render for the phash near-dup corpus (q87): an 8×8
    * grid of uniform black/white cells (8 px each → 64×64), cell colors iid
    * seeded bits of `baseId`. With both colors present, the phash bit of a
    * cell is exactly its is-white bit (cell luma is 0 or 255 and the global
    * mean sits strictly between), so flipping `flips` distinct cells moves
    * the phash by EXACTLY `flips` bits — the planted Hamming distance is a
    * closed form of the id, which is what lets the decode→phash→band-join
    * pipeline be oracle-gated end to end. Unrelated ids are iid 64-bit
    * fingerprints: P(dist ≤ 3) ≈ 2.4e-15 per pair, so the planted pair set
    * is the whole answer. */
  def renderNoise(baseId: String, flips: Int): BufferedImage = {
    val seed = Politeness.strHash64(baseId, 23L)
    val white = Array.tabulate(64)(i => (Ids.mix64(seed ^ (i + 1L)) & 1L) == 1L)
    // keep both colors present so bit == is-white holds (see doc above)
    if (!white.exists(identity)) white(0) = true
    if (white.forall(identity)) white(0) = false
    // the flip loop draws WITHOUT replacement from 64 cells — more flips
    // than cells would spin forever looking for an unflipped one
    require(flips >= 0 && flips <= 64, s"flips must be in [0, 64], got $flips")
    if (flips > 0) {
      val flipped = new Array[Boolean](64)
      var done = 0; var j = 0L
      while (done < flips) {
        val cell = java.lang.Math.floorMod(Ids.mix64(seed ^ (0x1000L + j)), 64L).toInt
        if (!flipped(cell)) { flipped(cell) = true; white(cell) = !white(cell); done += 1 }
        j += 1
      }
    }
    val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        val rgb = if (white(cy * 8 + cx)) 0xFFFFFF else 0x000000
        var y = cy * 8
        while (y < (cy + 1) * 8) {
          var x = cx * 8
          while (x < (cx + 1) * 8) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        cx += 1
      }
      cy += 1
    }
    img
  }
}

/** Static kernel for the column-native fetch classifier — called from both
  * generated code and interpreted eval (the ExprImpl pattern). */
object FetchKernel {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.unsafe.types.UTF8String

  /** (status, retried) for one id. `conditional` applies the conditional
    * path's 304→200 remap (once the validator mismatched, a true 304 is
    * impossible — see Fetcher.conditionalResult). */
  def classify(idU: UTF8String, runId: Int, seed: Long, timeoutMs: Long,
               conditional: Boolean): InternalRow = {
    val id = idU.toString
    if (Fetcher.fetchDurationMsSeeded(id, runId, seed) > timeoutMs)
      InternalRow(Fetcher.TimeoutStatus, false)
    else {
      val st0 = Fetcher.statusFor(id, runId, 0)
      val (stRaw, retried) =
        if (st0 == -1) (Fetcher.statusFor(id, runId, 1), true) else (st0, false)
      val st = if (conditional && stRaw == 304) 200 else stRaw
      InternalRow(st, retried)
    }
  }

  def etag(idU: UTF8String, runId: Int): UTF8String =
    UTF8String.fromString(Fetcher.etagFor(idU.toString, runId))
}
