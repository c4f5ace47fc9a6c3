package graft.frontier

import graft.core.Ids.mix64

/** Probabilistic membership structures for the URL-seen set (SURVEY.md J1,
  * north rule: "partitioned blocked Bloom filter (merged via treeAggregate)
  * plus cuckoo-filter spill").
  *
  * The reference's seen-set is a Python `set` (discover.py:68,
  * crawler:203-215) — exact but driver-bound. At 10^10 URLs the exact set is
  * a table; these filters are the cheap pre-filter tier in front of the
  * exact anti-join (false positives fall through to the join, so end-to-end
  * dedup stays EXACT; false negatives are impossible).
  */

/** One tier of the seen-set pre-filter: may report a key it never saw,
  * never misses one it did. */
trait MembershipFilter extends Serializable {
  def mightContain(key: Long): Boolean
}

/** A filter the two distributed builds ([[SeenSet.buildFilter]],
  * [[SeenSet.buildFilterShards]]) can fill, merge and persist. `add` returns
  * false when the filter is full (a bloom never is); the builds throw then,
  * since a dropped key would be a pre-filter false negative. */
trait BuildableFilter[F <: BuildableFilter[F]] extends MembershipFilter {
  def add(key: Long): Boolean
  def mergeInPlace(o: F): F
  def serialized: Array[Byte]
}

/** Cache-friendly blocked Bloom filter: 512-bit (8-word) blocks; the first
  * hash selects the block, k bit-positions come from 9-bit slices of a
  * second hash. One cache line per probe. */
final class BlockedBloom(val numBlocks: Int, val numHashes: Int)
    extends BuildableFilter[BlockedBloom] {
  require(numBlocks > 0 && numHashes >= 1 && numHashes <= 7)
  val words = new Array[Long](numBlocks * 8)

  @inline private def blockOf(h1: Long): Int = (Math.floorMod(h1, numBlocks.toLong)).toInt

  def add(key: Long): Boolean = {
    val h1 = mix64(key)
    val h2 = mix64(h1 ^ 0x5851F42D4C957F2DL)
    val base = blockOf(h1) * 8
    var i = 0
    while (i < numHashes) {
      val bit = ((h2 >>> (9 * i)) & 511).toInt
      words(base + (bit >> 6)) |= (1L << (bit & 63))
      i += 1
    }
    true
  }

  def mightContain(key: Long): Boolean = {
    val h1 = mix64(key)
    val h2 = mix64(h1 ^ 0x5851F42D4C957F2DL)
    val base = blockOf(h1) * 8
    var i = 0
    while (i < numHashes) {
      val bit = ((h2 >>> (9 * i)) & 511).toInt
      if ((words(base + (bit >> 6)) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** In-place union — the merged build's combOp (bitwise OR). */
  def mergeInPlace(o: BlockedBloom): BlockedBloom = {
    require(o.numBlocks == numBlocks && o.numHashes == numHashes)
    var i = 0
    while (i < words.length) { words(i) |= o.words(i); i += 1 }
    this
  }

  def serialized: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(numBlocks).putInt(numHashes)
    words.foreach(bb.putLong)
    bb.array()
  }
}

object BlockedBloom {
  def deserialize(bytes: Array[Byte]): BlockedBloom = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val nb = bb.getInt; val nh = bb.getInt
    val f = new BlockedBloom(nb, nh)
    var i = 0
    while (i < f.words.length) { f.words(i) = bb.getLong; i += 1 }
    f
  }

  private val BitsPerKey = 10
  private val NumHashes = 5

  /** The one bloom sizing rule: ~`BitsPerKey` bits/key over `expectedKeys`. */
  def sized(expectedKeys: Long): BlockedBloom = {
    val blocks = math.max(1L, (expectedKeys * BitsPerKey + 511) / 512)
    new BlockedBloom(math.min(blocks, Int.MaxValue / 16).toInt, NumHashes)
  }
}

/** Cuckoo filter with 16-bit fingerprints, 4-slot buckets, partial-key
  * cuckoo hashing (Fan et al., CoNEXT'14 — public algorithm). Supports
  * delete, so it serves as the mutable spill/delta tier on top of immutable
  * bloom snapshots: recent inserts live here until the next snapshot rebuild
  * absorbs them into the bloom. */
final class CuckooFilter(val numBuckets: Int) extends BuildableFilter[CuckooFilter] {
  require(numBuckets > 0 && (numBuckets & (numBuckets - 1)) == 0, "numBuckets must be a power of 2")
  private val slots = new Array[Short](numBuckets * 4)
  private val rnd = new java.util.Random(42) // deterministic kick selection
  private var count = 0L

  @inline private def fingerprint(h: Long): Short = {
    val f = ((h >>> 48) & 0xFFFF).toInt
    (if (f == 0) 1 else f).toShort // 0 = empty marker
  }
  @inline private def bucket1(h: Long): Int = (h & (numBuckets - 1)).toInt
  @inline private def altBucket(b: Int, f: Short): Int =
    (b ^ (mix64(f & 0xFFFFL) & (numBuckets - 1)).toInt) & (numBuckets - 1)

  private def insertAt(b: Int, f: Short): Boolean = {
    var i = 0
    while (i < 4) {
      if (slots(b * 4 + i) == 0) { slots(b * 4 + i) = f; count += 1; return true }
      i += 1
    }
    false
  }

  /** False when the table is full — the caller must rebuild/snapshot. */
  def add(key: Long): Boolean = {
    val h = mix64(key)
    insertFingerprint(bucket1(h), fingerprint(h))
  }

  def mightContain(key: Long): Boolean = {
    val h = mix64(key)
    val f = fingerprint(h)
    val b1 = bucket1(h)
    val b2 = altBucket(b1, f)
    var i = 0
    while (i < 4) {
      if (slots(b1 * 4 + i) == f || slots(b2 * 4 + i) == f) return true
      i += 1
    }
    false
  }

  def remove(key: Long): Boolean = {
    val h = mix64(key)
    val f = fingerprint(h)
    var b = bucket1(h)
    var pass = 0
    while (pass < 2) {
      var i = 0
      while (i < 4) {
        if (slots(b * 4 + i) == f) { slots(b * 4 + i) = 0; count -= 1; return true }
        i += 1
      }
      b = altBucket(b, f)
      pass += 1
    }
    false
  }

  def size: Long = count

  /** Insert a (bucket, fingerprint) pair, kicking residents to their
    * alternate bucket when both are full — the partial-key property makes
    * this sufficient for merge/resize too: alt(b, f) is an involution, so
    * re-inserting at the bucket a fingerprint was FOUND in preserves its
    * (b1, b2) pair. */
  private def insertFingerprint(b0: Int, f0: Short): Boolean = {
    if (insertAt(b0, f0) || insertAt(altBucket(b0, f0), f0)) return true
    var b = b0
    var f = f0
    var kicks = 0
    while (kicks < 500) {
      val slot = b * 4 + rnd.nextInt(4)
      val evicted = slots(slot)
      slots(slot) = f
      f = evicted
      b = altBucket(b, f)
      if (insertAt(b, f)) return true
      kicks += 1
    }
    false
  }

  /** In-place union — the merged build's combOp for cuckoo filters
    * (per-partition filters merged fingerprint-wise). Throws on
    * overflow rather than silently dropping: a dropped fingerprint would be
    * a false NEGATIVE, which breaks the seen-set pre-filter contract
    * (callers size with ≥2× headroom, so this never fires in practice). */
  def mergeInPlace(o: CuckooFilter): CuckooFilter = {
    require(o.numBuckets == numBuckets, "cuckoo merge requires equal geometry")
    var i = 0
    while (i < o.slots.length) {
      val f = o.slots(i)
      if (f != 0) {
        if (!insertFingerprint(i / 4, f))
          throw new IllegalStateException(
            s"cuckoo merge overflow at load ${count.toDouble / (numBuckets * 4)}")
      }
      i += 1
    }
    this
  }

  def serialized: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + slots.length * 2)
    bb.putInt(numBuckets).putLong(count)
    slots.foreach(bb.putShort)
    bb.array()
  }
}

object CuckooFilter {
  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val nb = bb.getInt; val n = bb.getLong
    val f = new CuckooFilter(nb)
    var i = 0
    while (i < nb * 4) { f.slots(i) = bb.getShort; i += 1 }
    f.count = n
    f
  }

  /** Key count from a serialized filter's 12-byte header, without its slots. */
  def sizeOf(header: Array[Byte]): Long = java.nio.ByteBuffer.wrap(header).getLong(4)

  /** Buckets for `keys` inserts at ≤50% load (4 slots/bucket, power of 2) —
    * the headroom that makes kick-overflow practically impossible. */
  def bucketsFor(keys: Long): Int = {
    val need = math.max(1024L, keys / 2 + 1)
    var b = java.lang.Long.highestOneBit(need)
    if (b < need) b <<= 1
    math.min(b, MaxBuckets.toLong).toInt
  }

  /** Largest serializable geometry: [[serialized]] allocates
    * `12 + numBuckets*4*2` bytes in ONE ByteBuffer, so numBuckets must stay
    * ≤ 1<<27 (2^30 bytes) or the Int size computation overflows negative
    * and `allocate` throws at spill-write time. */
  val MaxBuckets: Int = 1 << 27

  /** Largest delta ONE spill filter can hold at ≤50% load under the bucket
    * cap above — past this, SeenStore must roll instead of spilling (an
    * overloaded filter would kick-overflow, and its serialized form would
    * exceed the single-ByteBuffer Int limit). Kept consistent with
    * [[MaxBuckets]] so any delta that passes the spill guard is guaranteed
    * to serialize. In SHARDED mode this cap applies PER HASH-SLICE
    * (SeenSet.buildFilterShards): the run's delta capacity scales with the
    * shard count, so a 10^8-10^9-key nightly delta spills as a table
    * instead of forcing an epoch roll — the single-filter cap only bounds
    * the in-heap mode, whose filter must also fit a task binary. */
  val MaxSpillKeys: Long = MaxBuckets.toLong * 2
}
