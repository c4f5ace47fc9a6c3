package graft.core

/** Typed row contracts for the crawl engine (SURVEY.md §1.1-1.2).
  *
  * The reference passes untyped dicts / ad-hoc tuples between stages
  * (ExtensionCrawler/archive.py:88-150 UpdateResult, crawler:203-215 id
  * lists); here every stage boundary is a `Dataset[T]` with a case-class
  * encoder, so schemas are compile-time checked and Tungsten-encoded.
  */

/** Frontier work item — the reference's `(extid, forums)` tuple
  * (archive.py:589-592) plus provenance. `id` is a 32-char [a-p] extension
  * id (archive.py:627); `url` its canonical overview URL (config.py:33-35);
  * `host` the politeness domain. */
final case class FrontierEntry(
    id: String,
    url: String,
    host: String,
    forums: Boolean,
    discoveredRun: Int)

/** One scheduled fetch slot, assigned by the deterministic virtual-clock
  * politeness scheduler. `seq` is the global crawl order (the reference's
  * seeded-shuffle worklist position, archive.py:594); `startMs` the virtual
  * start time under the politeness budget (request_manager.py:15-42). */
final case class ScheduledFetch(
    seq: Long,
    id: String,
    host: String,
    fetchClass: String, // "normal" | "restricted"  (forums → restricted)
    startMs: Long)

/** Fetch outcome row — the reference's RequestResult/UpdateResult
  * (archive.py:63-150) flattened. Status classes: 200 ok / 304 not-modified /
  * 404 not-in-store / 401 not-authorized / 503 ddos / -1 exception. */
final case class FetchResult(
    seq: Long,
    id: String,
    fetchClass: String,
    startMs: Long,
    status: Int,
    etag: String,
    isNew: Boolean,
    retried: Boolean)

/** The payload table row, per BASELINE.json input_hint: image + caption
  * pairs. `bytes` are the archived payload (analog of the chunked .crx
  * write, archive.py:352-355); `phash` the 64-bit perceptual hash playing
  * the role of the reference's simhash (crxfile.sql:31). */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)

/** Crawl configuration — politeness constants from request_manager.py:19,33
  * (0.6 s + U(0, 0.15) s), seeded so every run is a pure function of
  * (frontier, config). */
final case class CrawlConfig(
    politenessNormalMs: Long = 600,
    jitterMaxMs: Long = 150,
    shuffleSeed: Long = 42L,
    runId: Int = 0,
    /** id-prefix shard depth for the snapshot partition layout
      * (config.py:117-119 uses 3 → 16^3 = 4096 shards, right for 10^10
      * rows; small runs shard shallower so the partitioned write doesn't
      * degenerate into thousands of tiny files). */
    prefixLen: Int = 3,
    /** T3 per-item wall budget (config.py:160-162's 7,200 s per extension):
      * an item whose fetch work exceeds this becomes a `worker_exception`
      * sentinel row instead of stalling its worker forever
      * (archive.py:606-621 maps Timeout/ProcessExpired futures the same
      * way) — the discipline that lets a nightly run never lose an id. */
    itemTimeoutMs: Long = 7200000L)

object Ids {
  /** Chrome-Web-Store id alphabet: 32 chars over [a-p] (archive.py:627-628,
    * id-validity regex archive.py:637). */
  val IdPattern = "^[a-p]{32}$"
  val LinePattern = "^[a-p]+$"

  /** Deterministic id for a sequence number: 32 hex digits of two md5-free
    * 64-bit mixes mapped into [a-p] — pure function of (seq, seed). */
  def syntheticId(seq: Long, seed: Long = 42L): String = {
    val sb = new StringBuilder(32)
    var h = mix64(seq ^ (seed * 0x9E3779B97F4A7C15L))
    var i = 0
    while (i < 32) {
      if (i % 16 == 0 && i > 0) h = mix64(h ^ (seq + i))
      sb.append(('a' + ((h >>> ((i % 16) * 4)) & 0xF)).toChar)
      i += 1
    }
    sb.toString
  }

  /** splitmix64 finalizer — the standard public-domain 64-bit mixer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Prefix shard of an id — the reference's `ext_id[:3]` archive sharding
    * (config.py:117-119). */
  def shard(id: String): String = id.substring(0, math.min(3, id.length))
}
