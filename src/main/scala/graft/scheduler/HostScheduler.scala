package graft.scheduler

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CrawlConfig, FrontierEntry, Ids, ScheduledFetch}

/** Per-host robots policy — the broadcastable analog of a robots.txt cache
  * (north rule "robots.txt cache broadcast"; the reference consults a global
  * politeness regime instead because it crawls one store,
  * request_manager.py:15-42). */
final case class RobotsRules(
    host: String,
    crawlDelayMs: Long,
    disallowPrefixes: Seq[String],
    allowPrefixes: Seq[String] = Nil,
    wildcardDisallowPrefixes: Seq[String] = Nil) {

  /** RFC 9309 §2.2.2 precedence over PATH prefixes: the longest matching
    * rule wins; a length tie goes to Allow (least-restrictive). Matching on
    * the URL's PATH (not the full URL string) makes the decision
    * scheme-agnostic — an `http://` frontier URL is judged by the same
    * rules as its `https://` twin (the full-URL-prefix form let http URLs
    * bypass every disallow; ADVICE r4). Disallow rules that were TRUNCATED
    * at a wildcard live in [[wildcardDisallowPrefixes]] and block
    * unconditionally: their true pattern length is unknowable after
    * truncation, so letting a folded Allow outrank them could under-block
    * (e.g. `Disallow: /a/pub*ic/secret` truncates to `/a/pub`, which an
    * `Allow: /a/pub` would tie-beat) — over-blocking is the safe
    * direction. */
  def blocks(url: String): Boolean =
    if (disallowPrefixes.isEmpty && wildcardDisallowPrefixes.isEmpty) false
    else {
      val path = RobotsRules.pathOf(url)
      if (wildcardDisallowPrefixes.exists(path.startsWith)) true
      else {
        val dis = disallowPrefixes.iterator.filter(path.startsWith)
          .map(_.length).maxOption.getOrElse(-1)
        dis >= 0 && dis > allowPrefixes.iterator.filter(path.startsWith)
          .map(_.length).maxOption.getOrElse(-1)
      }
    }
}

object RobotsRules {
  /** Path (+query) component of a URL, scheme- and host-agnostic:
    * everything from the first `/` after the authority; a URL with no path
    * is the root `/`. A `?` or `#` BEFORE any slash also ends the authority
    * (`https://h.example?x=1` → `/?x=1`): dropping the query there would
    * let an exact `Disallow: /?x=1` rule miss — an under-block, the one
    * direction the conservative parse forbids. */
  def pathOf(url: String): String = {
    val schemeEnd = url.indexOf("://")
    // protocol-relative URLs ("//host/path") have an authority too: scanning
    // from 0 would return "//host/path" as the "path" and path-scoped
    // disallow rules would silently stop matching — an under-block
    val from =
      if (schemeEnd >= 0) schemeEnd + 3
      else if (url.startsWith("//")) 2
      else 0
    val delim = url.indexWhere(c => c == '/' || c == '?' || c == '#', from)
    if (delim < 0) "/"
    else if (url.charAt(delim) == '/') url.substring(delim)
    else "/" + url.substring(delim)
  }
}

/** Generalized multi-host politeness scheduler (north rule: "schedules
  * fetches through a per-host politeness priority queue (host-salted
  * repartition to defeat domain skew, robots.txt cache broadcast)").
  *
  * The oracle-parity scheduler ([[Politeness.schedule]]) reproduces the
  * reference's single-store semantics exactly; THIS layer is the engine's
  * generalization when the frontier spans many hosts:
  *
  *  - **robots broadcast**: per-host crawl-delay + disallow prefixes ride to
  *    every executor once; disallowed URLs are filtered before scheduling
  *    (a dead-letter row class, like the reference's 10 failure logs).
  *  - **per-host priority queue**: all of a host's URLs land in one
  *    partition (the operator's lane exchange on (host, salt)), where a single
  *    virtual-clock walk assigns start times ≥ crawlDelay apart per host —
  *    the priority is the seeded shuffle key, so intra-host order is the
  *    reference's deterministic shuffle order (archive.py:594).
  *  - **host-salted sub-queues to defeat skew**: a host whose URL count
  *    exceeds `saltThreshold` is split into `numSalts` independent
  *    sub-queues (`salt = xxhash64(id) % numSalts`), modeling `numSalts`
  *    parallel connections; each sub-queue honors the per-host delay
  *    internally. A 90%-one-host frontier therefore spreads over
  *    `numSalts` partitions instead of serializing on one straggler task
  *    (the skew scenario in FIXTURES.md §2).
  *
  * Everything is a pure function of (frontier, robots, cfg) — physical
  * parallelism never changes the assigned virtual schedule.
  */
object HostScheduler {

  val DefaultDelayMs = 600L // request_manager.py:19's 0.6 s floor

  /** The lane frame (host, salt, hot, priority, id): robots-filtered,
    * skew-salted — the input of the lane walk. */
  def laneFrame(spark: SparkSession, frontier: Dataset[FrontierEntry],
                robots: Seq[RobotsRules], cfg: CrawlConfig,
                numSalts: Int = 8, saltThreshold: Long = 100000L): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val bcRobots = spark.sparkContext.broadcast(robots.map(r => r.host -> r).toMap)

    // skew census: which hosts need salted sub-queues (tiny aggregate —
    // one row per distinct host, not per URL)
    val hot = frontier.groupBy("host").count()
      .filter(col("count") > saltThreshold)
      .select("host").as[String].collect().toSet
    val bcHot = spark.sparkContext.broadcast(hot)

    frontier
      .filter { e =>
        !bcRobots.value.get(e.host).exists(_.blocks(e.url))
      }
      .map { e =>
        val isHot = bcHot.value.contains(e.host)
        val salt =
          if (isHot)
            Math.floorMod(Ids.mix64(Politeness.strHash64(e.id, 0x5A17L)), numSalts.toLong).toInt
          else 0
        (e.host, salt, isHot, Politeness.shuffleKey(e.id, cfg), e.id)
      }
      .toDF("host", "salt", "hot", "priority", "id")
  }

  /** Schedule with per-host politeness. Returns scheduled fetches; rows
    * whose URL matches a disallow prefix are dropped (callers wanting the
    * dead-letter set use [[disallowed]]).
    *
    * The lane walk runs as the declarative operator
    * ([[graft.plans.PoliteSchedulePlan]]): `EnsureRequirements` plans its
    * lane exchange over Tungsten rows, or elides it when the child is
    * already lane-partitioned and sorted. */
  def schedule(spark: SparkSession, frontier: Dataset[FrontierEntry],
               robots: Seq[RobotsRules], cfg: CrawlConfig,
               numSalts: Int = 8, saltThreshold: Long = 100000L): Dataset[ScheduledFetch] =
    graft.plans.PoliteSchedulePlan.schedule(
      laneFrame(spark, frontier, robots, cfg, numSalts, saltThreshold), robots, cfg)

  /** Streaming virtual-clock walk over a lane-contiguous, lane-sorted
    * iterator: carries ONLY (current lane, clock, rank) — O(1) state per
    * task regardless of lane size. Pure; unit-testable off-cluster
    * (HostSchedulerSpec asserts it never materializes its input). It is
    * the sequential lane reference PoliteSchedulePlanSpec checks the
    * operator against. */
  private[graft] def walkLanes(
      it: Iterator[((String, Int, Long, String), Boolean)],
      robotsMap: Map[String, RobotsRules],
      cfg: CrawlConfig): Iterator[ScheduledFetch] = {
    var curHost: String = null
    var curSalt = Int.MinValue
    var curDelay = 0L
    var clock = 0L
    var rank = 0L
    it.map { case ((host, salt, _, id), hot) =>
      if (host != curHost || salt != curSalt) {
        curHost = host; curSalt = salt
        curDelay = robotsMap.get(host).map(_.crawlDelayMs).getOrElse(DefaultDelayMs)
        clock = 0L; rank = 0L
      }
      val start = clock
      clock += curDelay + Politeness.durationMs(id, cfg)
      // seq = deterministic rank WITHIN the (host, sub-queue) lane;
      // global order is not an invariant in multi-host mode — per-host
      // spacing is (each lane models one polite connection)
      val fetch = ScheduledFetch(rank, id, host, if (hot) "salted" else "normal", start)
      rank += 1
      fetch
    }
  }

  /** Dead-letter set: frontier rows blocked by robots disallow rules. */
  def disallowed(spark: SparkSession, frontier: Dataset[FrontierEntry],
                 robots: Seq[RobotsRules]): Dataset[FrontierEntry] = {
    val bcRobots = spark.sparkContext.broadcast(robots.map(r => r.host -> r).toMap)
    frontier.filter { e =>
      bcRobots.value.get(e.host).exists(_.blocks(e.url))
    }
  }
}
