package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.core.{CrawlConfig, FrontierEntry, Ids}
import graft.frontier.{BlockedBloom, CuckooFilter, Frontier, SeenSet, SeenStore}
import graft.functions.ExprImpl
import graft.scheduler.{Politeness, VirtualClockOracle}
import graft.text.Mincer
import org.apache.spark.unsafe.types.UTF8String

/** Property-based tests (SURVEY §5.4): frontier algebra vs the Set model,
  * politeness invariants under random inputs, filter
  * soundness, normalizer idempotence. Raw ScalaCheck (no scalatestplus in
  * the offline cache) — each property asserts `Test.check(...).passed`. */
class PropertySpec extends SparkSpec {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(40)
  private def check(p: Prop, tests: Int = 40): Unit = {
    val r = SCTest.check(params.withMinSuccessfulTests(tests), p)
    assert(r.passed, r.status.toString)
  }

  private val genIds: Gen[List[String]] =
    Gen.resize(60, Gen.listOf(Gen.chooseNum(0L, 300L).map(Ids.syntheticId(_))))

  /** The built frontier against the Set model: known = existing ∪ forum;
    * the new ids are the first `maxNew` of discovered − known in sorted
    * order; `forums` is true exactly for listed forum ids. The forum list
    * repeats an id and shares ids with `existing` and `discovered`; with
    * `bindCap` the cap is half the new ids. */
  private def frontierMatchesModel(existing: List[String], forum0: List[String],
                                   discovered: List[String], bindCap: Boolean,
                                   store: Option[SeenStore] = None): Boolean = {
    import spark.implicits._
    val forum = forum0 ++ forum0.take(1) ++ existing.take(2) ++ discovered.take(2)
    val known = existing.toSet ++ forum
    val newIds = (discovered.toSet -- known).toList.sorted
    val maxNew = if (bindCap) newIds.size / 2 else Int.MaxValue
    val frontier = Frontier.buildWorklist(spark, spark.createDataset(existing),
      spark.createDataset(forum), spark.createDataset(discovered), maxNew, runId = 1, store = store)
      .entries.collect()
    val model = known ++ newIds.take(maxNew)
    frontier.map(_.id).toSet == model &&
      frontier.length == model.size && // no duplicate rows
      frontier.forall(e => e.forums == forum.contains(e.id))
  }

  /** Ids past the range [[genIds]] draws from. */
  private val genOutsideIds: Gen[List[String]] =
    Gen.resize(20, Gen.nonEmptyListOf(Gen.chooseNum(1000L, 1100L).map(Ids.syntheticId(_))))

  test("frontier algebra == Set model (crawler:203-215 semantics)") {
    // (existing, forum, ids outside both, discovered) => (existing, forum, discovered)
    type Shape = (List[String], List[String], List[String], List[String]) =>
      (List[String], List[String], List[String])
    val shapes = Seq[(String, Shape, Int)](
      ("random triples", (e, f, _, d) => (e, f, d), 8), // Spark round-trips are expensive
      ("first crawl: nothing seen yet, as in the set-up rounds", (_, f, _, d) => (Nil, f, d), 3),
      ("nothing discovered", (e, f, _, _) => (e, f, Nil), 3),
      ("discovered repeats ids", (e, f, _, d) => (e, f, d ++ d.reverse ++ d.take(3)), 3),
      ("forum ids in neither existing nor discovered", (e, f, o, d) => (e, f ++ o, d), 3))
    shapes.foreach { case (name, shape, tests) =>
      val prop = Prop.forAllNoShrink(genIds, genIds, genOutsideIds, genIds, Gen.oneOf(false, true)) {
        (existing, forum, outside, discovered, bindCap) =>
          val (e, f, d) = shape(existing, forum, outside, discovered)
          Prop(frontierMatchesModel(e, f, d, bindCap)) :| name
      }
      check(prop, tests)
    }
  }

  test("frontier algebra == Set model behind a seen store with one spill") {
    import spark.implicits._
    def hashes(ids: List[String]) =
      spark.createDataset(ids).select(SeenSet.idHash(col("value"))).as[Long]
    val prop = Prop.forAllNoShrink(genIds, genIds, genIds, Gen.oneOf(false, true)) {
      (existing, forum, discovered, bindCap) =>
        // the store covers `existing`: an epoch over its first half, a spill
        // over the rest, each against a url_seen version (the store checks
        // the manifest listing only)
        val dir = tempDir("graft-prop-store")
        val store = new SeenStore(dir, expectedKeys = 1 << 12)
        val (epoch, spill) = existing.distinct.splitAt(existing.distinct.size / 2)
        val manifests = Paths.get(dir, "url_seen", "manifests")
        Files.createDirectories(manifests)
        Seq(1, 2).foreach(v => Files.write(manifests.resolve(f"v$v%06d.json"), "{}".getBytes("UTF-8")))
        store.commitRun(spark, hashes(epoch), epoch.size, seenVersion = 1, hashes(epoch), epoch.size)
        val (rolled, _) = store.commitRun(spark, hashes(spill), spill.size, seenVersion = 2,
          hashes(existing), existing.distinct.size)
        val spills = store.loadProbe(spark).toSeq.flatMap(_.filters.collect { case c: CuckooFilter => c })
        !rolled && spills.size == 1 &&
          frontierMatchesModel(existing, forum, discovered, bindCap, Some(store))
    }
    check(prop, tests = 6)
  }

  test("bloom filter: NEVER a false negative (any key set, any sizing)") {
    val prop = Prop.forAll(
      Gen.nonEmptyListOf(Gen.long),
      Gen.chooseNum(1, 64),
      Gen.chooseNum(1, 7)) { (keys, blocks, hashes) =>
      val bloom = new BlockedBloom(blocks, hashes)
      keys.foreach(bloom.add)
      keys.forall(bloom.mightContain)
    }
    check(prop)
  }

  test("cuckoo filter: inserted keys found; deleted keys' slots freed") {
    val prop = Prop.forAll(Gen.nonEmptyListOf(Gen.long)) { keys0 =>
      val keys = keys0.distinct.take(200)
      val f = new CuckooFilter(1024)
      val inserted = keys.filter(f.add)
      inserted.forall(f.mightContain) && {
        inserted.foreach(f.remove)
        f.size == 0
      }
    }
    check(prop)
  }

  test("cuckoo filter: distributed-merge + serialize round-trip never loses a key") {
    // the treeAggregate combOp contract behind SeenStore's spill tier: a
    // fingerprint-wise merge of per-partition filters must preserve every
    // inserted key (a false negative would poison the seen-set pre-filter)
    val prop = Prop.forAll(Gen.listOf(Gen.long), Gen.listOf(Gen.long)) { (ka0, kb0) =>
      val ka = ka0.distinct.take(300)
      val kb = kb0.distinct.take(300)
      val buckets = CuckooFilter.bucketsFor((ka.size + kb.size).toLong)
      val a = new CuckooFilter(buckets)
      val b = new CuckooFilter(buckets)
      ka.foreach(k => assert(a.add(k)))
      kb.foreach(k => assert(b.add(k)))
      val merged = CuckooFilter.deserialize(a.mergeInPlace(b).serialized)
      (ka ++ kb).forall(merged.mightContain)
    }
    check(prop)
  }

  test("lane walk == per-lane sequential model for ANY lane mix") {
    // the streaming walk (O(1) state over a lane-contiguous sorted
    // iterator) must equal the naive model: group by lane, sort, walk each
    // independently with its own clock
    val genLanes = Gen.resize(40, Gen.listOf(for {
      h <- Gen.oneOf("a.example.com", "b.example.com", "c.example.com")
      s <- Gen.chooseNum(0, 2)
      i <- Gen.chooseNum(0L, 500L)
    } yield (h, s, Ids.syntheticId(i))))
    val cfg = CrawlConfig(shuffleSeed = 7L)
    val prop = Prop.forAllNoShrink(genLanes) { lanes0 =>
      val lanes = lanes0.distinct
      val sorted = lanes
        .map { case (h, s, id) => ((h, s, Politeness.shuffleKey(id, cfg), id), false) }
        .sortBy(_._1)
      // multiset compare: the same id may legitimately sit in two salt
      // lanes of one host, so (host, id) is not a key
      val walked = graft.scheduler.HostScheduler
        .walkLanes(sorted.iterator, Map.empty, cfg)
        .map(f => (f.host, f.id, f.seq, f.startMs)).toList.sorted
      val model = lanes.groupBy { case (h, s, _) => (h, s) }.toList.flatMap { case (_, rows) =>
        var clock = 0L
        rows.map { case (h, _, id) => (Politeness.shuffleKey(id, cfg), h, id) }
          .sortBy { case (p, _, id) => (p, id) }
          .zipWithIndex.map { case ((_, h, id), rank) =>
            val start = clock
            clock += graft.scheduler.HostScheduler.DefaultDelayMs +
              Politeness.durationMs(id, cfg)
            (h, id, rank.toLong, start)
          }
      }.sorted
      walked == model
    }
    check(prop)
  }

  test("stall monitor: dense spine, monotone cumulative, stalled ⟺ zero increment") {
    import spark.implicits._
    val genEvents = Gen.resize(50, Gen.nonEmptyListOf(for {
      t <- Gen.oneOf("download", "forum")
      min <- Gen.chooseNum(0L, 600L)
    } yield (t, new java.sql.Timestamp(1700000000000L + min * 60000L))))
    val prop = Prop.forAllNoShrink(genEvents) { events =>
      val out = graft.views.ViewQueries.stallMonitorOver(
        events.toDF("event_type", "ts"), bucketSec = 3600L)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      val types = events.map(_._1).distinct
      val buckets = out.map(_._2).distinct.sorted
      // dense: every (type, bucket) cell appears exactly once
      val cells = out.map(x => (x._1, x._2))
      cells.length == cells.distinct.length &&
        cells.length == types.size * buckets.length &&
        buckets.headOption.contains(0L) &&
        buckets.toSeq == (0L to buckets.max).toSeq &&
        types.forall { t =>
          val series = out.filter(_._1 == t).sortBy(_._2)
          val monotone = series.sliding(2).forall {
            case Array(a, b) => b._3 >= a._3
            case _ => true
          }
          val stallCorrect = series.sliding(2).forall {
            case Array(a, b) => b._4 == (b._3 == a._3)
            case _ => true
          }
          monotone && stallCorrect && !series.head._4 &&
            series.last._3 == events.count(_._1 == t)
        }
    }
    check(prop, tests = 25)
  }

  test("politeness: restricted spacing holds for ANY frontier mix and seed") {
    val genFrontier = for {
      n <- Gen.chooseNum(1, 400)
      pct <- Gen.chooseNum(0, 100)
      seed <- Gen.long
    } yield (n, pct, seed)
    val prop = Prop.forAll(genFrontier) { case (n, pct, seed) =>
      val cfg = CrawlConfig(shuffleSeed = seed)
      val frontier = (0 until n).map { i =>
        val id = Ids.syntheticId(i.toLong, seed)
        FrontierEntry(id, s"https://h/$id", "h",
          forums = Math.floorMod(Ids.mix64(i.toLong), 100L) < pct, 0)
      }
      val sched = VirtualClockOracle.schedule(frontier, cfg)
      val restricted = sched.filter(_.fetchClass == "restricted").sortBy(_.seq)
      restricted.size < 2 || restricted.sliding(2).forall {
        case Seq(a, b) =>
          b.startMs - (a.startMs + Politeness.durationMs(a.id, cfg)) >= cfg.politenessNormalMs
        case _ => true
      }
    }
    check(prop, tests = 60)
  }

  test("canonicalize_url is idempotent on arbitrary strings") {
    val prop = Prop.forAll(Gen.asciiPrintableStr) { s =>
      val once = ExprImpl.canonicalizeUrl(UTF8String.fromString(s)).toString
      val twice = ExprImpl.canonicalizeUrl(UTF8String.fromString(once)).toString
      once == twice
    }
    check(prop, tests = 200)
  }

  test("mincer: normalize is idempotent; splitting loses no code characters to other kinds") {
    val genSrc = Gen.listOf(Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.const("// comment\n"),
      Gen.const("/* block */"),
      Gen.const("'str'"),
      Gen.const("\"dq\""),
      Gen.const("\n"))).map(_.mkString)
    val prop = Prop.forAll(genSrc) { src =>
      val (norm1, loc1) = Mincer.normalize(src)
      val (norm2, loc2) = Mincer.normalize(norm1)
      norm1 == norm2 && loc1 == loc2 &&
        Mincer.split(src).map(_.content.length).sum <= src.length
    }
    check(prop, tests = 200)
  }

  test("simhash64: a single-letter substitution moves few bits; unrelated text moves many") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    // substitute only at alphanumeric positions: replacing a separator would
    // INSERT a char into the normalized text and legitimately shift every
    // downstream shingle (simhash is content-aligned, not edit-aligned)
    val letterPos = base.indices.filter(i => base(i).isLetterOrDigit)
    val prop = Prop.forAll(Gen.oneOf(letterPos), Gen.alphaLowerChar) { (pos, c) =>
      val edited = base.updated(pos, c)
      val ha = ExprImpl.simhash64(UTF8String.fromString(base))
      val hb = ExprImpl.simhash64(UTF8String.fromString(edited))
      ham(ha, hb) <= 20
    }
    check(prop, tests = 100)
  }

  // ---- JsStrings scanner vs a segment model (crx-jsstrings semantics) ----

  private sealed trait Seg
  private case class CodeSeg(s: String) extends Seg
  private case class LineSeg(s: String) extends Seg
  private case class BlockSeg(s: String) extends Seg
  private case class LitSeg(s: String, dq: Boolean) extends Seg

  /** Random source assembled from structured segments whose rendered form
    * can't accidentally open/close a different region: code/comment bodies
    * draw from chars with no quote/slash/star/backslash, literal bodies
    * additionally carry no newline. */
  private val genSegs: Gen[List[Seg]] = {
    val safe = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', ';', '\n', '(', ')')))
      .map(_.mkString)
    val safe1 = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))).map(_.mkString)
    Gen.resize(12, Gen.listOf(Gen.oneOf(
      safe.map(CodeSeg), safe1.map(LineSeg), safe.map(BlockSeg),
      Gen.zip(safe1, Gen.oneOf(true, false)).map { case (s, dq) => LitSeg(s, dq) })))
  }

  private def render(segs: List[Seg]): String = segs.map {
    case CodeSeg(s)  => s
    case LineSeg(s)  => "//" + s + "\n"
    case BlockSeg(s) => "/*" + s + "*/"
    case LitSeg(s, true)  => "\"" + s + "\""
    case LitSeg(s, false) => "'" + s + "'"
  }.mkString

  test("JsStrings scanner: literals recovered exactly, in order, from random segment streams") {
    val prop = Prop.forAllNoShrink(genSegs) { segs =>
      val units = graft.text.JsStrings.codeUnits(render(segs))
      val gotLits = units.flatMap(_.literals)
      val wantLits = segs.collect { case LitSeg(s, _) => s }
      // every literal body comes back verbatim and in stream order …
      gotLits.map(_.text) == wantLits &&
        // … positions are consistent: 1-based, non-decreasing line numbers
        gotLits.forall(l => l.line >= 1 && l.colPos >= 1) &&
        units.forall(u => u.startLine >= 1 && u.endLine >= u.startLine) &&
        // comment bodies NEVER leak into literals (the classic state bug)
        segs.collect { case LineSeg(s) if s.nonEmpty => s }
          .forall(c => !gotLits.exists(_.text.contains("//" + c)))
    }
    check(prop, tests = 200)
  }

  test("Robots parser: group binding survives arbitrary interleaving with unknown directives") {
    import graft.scheduler.Robots
    // random robots docs: groups of (agent tokens, disallow paths) with
    // noise lines; the parse must bind each rule to its OWN group only
    val genAgent = Gen.oneOf("*", "graftbot", "otherbot", "graftbot-wide")
    val genPath = Gen.chooseNum(1, 99).map(n => s"/p$n/")
    val genGroup = Gen.zip(Gen.nonEmptyListOf(genAgent).map(_.distinct),
      Gen.listOf(genPath))
    val prop = Prop.forAllNoShrink(Gen.resize(6, Gen.nonEmptyListOf(genGroup))) { gs =>
      val body = gs.map { case (agents, paths) =>
        agents.map(a => s"User-agent: $a").mkString("\n") + "\n" +
          "X-Noise: ignored\n" +
          paths.map(p => s"Disallow: $p").mkString("\n") + "\nDisallow:\n"
      }.mkString("\n")
      val r = Robots.parse("h.example.com", body, userAgent = "graftbot")
      // model: groups matching 'graftbot' exactly (len 8) beat '*' (0);
      // 'graftbot-wide' never matches UA 'graftbot'
      val exact = gs.filter(_._1.contains("graftbot"))
      val fallback = gs.filter(_._1.contains("*"))
      val expect = (if (exact.nonEmpty) exact else fallback)
        .flatMap(_._2).distinct // path-form prefixes (scheme-agnostic matching)
      r.disallowPrefixes.sorted == expect.sorted
    }
    check(prop, tests = 200)
  }

  test("JsStrings scanner: literal line/col equals the quote position in the rendered source") {
    val prop = Prop.forAllNoShrink(genSegs) { segs =>
      val src = render(segs)
      val units = graft.text.JsStrings.codeUnits(src)
      units.flatMap(_.literals).forall { l =>
        // walk to (line, col) in the rendered source: the char there must
        // be the opening quote of this literal
        val lines = src.split("\n", -1)
        l.line <= lines.length && l.colPos <= lines(l.line - 1).length && {
          val c = lines(l.line - 1).charAt(l.colPos - 1)
          (c == '\'' || c == '"') &&
            // and the literal body follows immediately after the quote
            src.replace("\n", "\u0000").indexOf(s"$c${l.text.replace("\n", "\u0000")}$c") >= 0
        }
      }
    }
    check(prop, tests = 200)
  }
}
