package graft.frontier

import graft.SparkSpec
import graft.core.Ids
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

class SeenSetSpec extends SparkSpec {
  import spark.implicits._

  test("BlockedBloom: no false negatives, bounded false positives") {
    val bloom = BlockedBloom.sized(10000)
    val keys = (0L until 10000L).map(Ids.mix64)
    keys.foreach(bloom.add)
    assert(keys.forall(bloom.mightContain), "bloom must never lose a key")
    val probes = (100000L until 120000L).map(Ids.mix64)
    val fp = probes.count(bloom.mightContain).toDouble / probes.size
    assert(fp < 0.05, s"false-positive rate too high: $fp")
  }

  test("BlockedBloom: merge is union (treeAggregate combOp semantics)") {
    val a = new BlockedBloom(64, 5); val b = new BlockedBloom(64, 5)
    (0L until 500L).foreach(i => a.add(Ids.mix64(i)))
    (500L until 1000L).foreach(i => b.add(Ids.mix64(i)))
    a.mergeInPlace(b)
    assert((0L until 1000L).forall(i => a.mightContain(Ids.mix64(i))))
  }

  test("BlockedBloom: serialization round-trip") {
    val a = new BlockedBloom(32, 4)
    (0L until 100L).foreach(i => a.add(i * 7 + 1))
    val b = BlockedBloom.deserialize(a.serialized)
    assert((0L until 100L).forall(i => b.mightContain(i * 7 + 1)))
    assert(b.numBlocks == 32 && b.numHashes == 4)
  }

  test("CuckooFilter: add/contains/remove with no false negatives") {
    val f = new CuckooFilter(4096)
    val keys = (0L until 8000L).map(Ids.mix64) // 50% load
    assert(keys.forall(f.add), "inserts at 50% load must succeed")
    assert(keys.forall(f.mightContain))
    // delete support — the reason cuckoo is the mutable spill tier
    keys.take(4000).foreach(k => assert(f.remove(k)))
    val fpAfter = keys.take(4000).count(f.mightContain)
    assert(fpAfter < 200, s"removed keys mostly gone, got $fpAfter residual")
    assert(keys.drop(4000).forall(f.mightContain), "surviving keys intact")
  }

  test("tiered dedup == dedupExact == set model, for every tier mix") {
    // the seen set: an epoch snapshot, one run's delta, and the forum list
    val snapshot = (0 until 2000).map(i => s"a_$i")
    val delta = (0 until 500).map(i => s"b_$i")
    val forum = (0 until 50).map(i => s"f_$i")
    val sparse = (0 until 40).map(i => s"s_$i")
    def hashes(ids: Seq[String]) = ids.toDF("id").select(SeenSet.idHash(col("id"))).as[Long]
    def bloom(ids: Seq[String]) = {
      val b = BlockedBloom.sized(ids.size)
      hashes(ids).collect().foreach(b.add)
      b
    }
    def cuckoo(ids: Seq[String]) = {
      val c = new CuckooFilter(CuckooFilter.bucketsFor(ids.size))
      hashes(ids).collect().foreach(h => assert(c.add(h)))
      c
    }
    def shards(bloomIds: Seq[String], spillIds: Seq[Seq[String]], n: Int) = Some(ShardTiers(
      SeenSet.buildFilterShards(spark, hashes(bloomIds), n, () => new BlockedBloom(128, 5)),
      spillIds.map { ids =>
        val buckets = CuckooFilter.bucketsFor(ids.size / n * 5 / 4 + 1)
        SeenSet.buildFilterShards(spark, hashes(ids), n, () => new CuckooFilter(buckets))
      }, n))
    val all = snapshot ++ delta ++ forum
    val cases = Seq(
      ("bloom only", all, SeenProbe(Seq(bloom(all)), None, 0L)),
      ("bloom + cuckoo", all, SeenProbe(Seq(bloom(snapshot ++ forum), cuckoo(delta)), None, 0L)),
      ("shard bloom, 4 shards", all, SeenProbe(Nil, shards(all, Nil, 4), 0L)),
      // 40 keys over 64 slices: most shards have no row, and their
      // candidates must classify definitely new
      ("shard bloom, 64 shards", sparse, SeenProbe(Nil, shards(sparse, Nil, 64), 0L)),
      ("shard bloom + shard cuckoo spill", all,
        SeenProbe(Nil, shards(snapshot ++ forum, Seq(delta), 8), 0L)),
      ("bloom + cuckoo + forum tier", all,
        SeenProbe(Seq(bloom(snapshot), cuckoo(delta)), None, 0L).withFilter(bloom(forum))),
      ("shard tiers + forum tier", all,
        SeenProbe(Nil, shards(snapshot, Seq(delta), 8), 0L).withFilter(bloom(forum))))
    assert(SeenSet.buildFilterShards(spark, hashes(sparse), 64, () => new BlockedBloom(128, 5)).count() < 64,
      "the 64-shard case must include empty shards")
    cases.foreach { case (name, seen, probe) =>
      val candidates = seen.drop(seen.size / 3) ++ (0 until 800).map(i => s"fresh_$i")
      val expected = candidates.toSet -- seen.toSet
      val exact = SeenSet.dedupExact(candidates.toDF("id"), seen.toDF("id"), "id")
        .as[String].collect().toSet
      val out = SeenSet.dedup(spark, candidates.toDF("id"), seen.toDF("id"), probe)
        .as[String].collect()
      assert(exact == expected, name)
      assert(out.toSet == expected, s"$name: false positives must fall through to the anti-join")
      assert(out.length == expected.size, s"$name: no duplicate output rows")
    }
  }

  test("buildFilter over 8 partitions == sequential build") {
    val keys = (0L until 20000L).map(Ids.mix64)
    val hashes = spark.createDataset(keys).repartition(8)
    assert(hashes.rdd.getNumPartitions == 8)
    // bloom: OR-merging partials sets exactly the bits one filter would
    val bloom = SeenSet.buildFilter(hashes, () => BlockedBloom.sized(20000L))
    val seqBloom = BlockedBloom.sized(20000L)
    keys.foreach(seqBloom.add)
    assert(bloom.numBlocks == seqBloom.numBlocks && bloom.numHashes == seqBloom.numHashes)
    assert(bloom.words.toSeq == seqBloom.words.toSeq, "bloom must be bit-identical")
    // cuckoo: slot placement depends on insertion order, so compare geometry
    // and key count, and check every key survives the merge
    val buckets = CuckooFilter.bucketsFor(keys.size.toLong)
    val cuckoo = SeenSet.buildFilter(hashes, () => new CuckooFilter(buckets))
    val seqCuckoo = new CuckooFilter(buckets)
    keys.foreach(k => assert(seqCuckoo.add(k)))
    assert(cuckoo.numBuckets == seqCuckoo.numBuckets && cuckoo.size == seqCuckoo.size)
    assert(keys.forall(cuckoo.mightContain), "cuckoo merge must keep every key")
    // an overfull filter throws rather than dropping a key
    val full = intercept[org.apache.spark.SparkException] {
      SeenSet.buildFilter(hashes, () => new CuckooFilter(256))
    }
    assert(full.getMessage.contains("CuckooFilter overflow"), full.getMessage)
  }

  private val shardKeys = (0L until 5000L).map(Ids.mix64)

  private def checkShards(rows: Dataset[(Int, Array[Byte])],
                          read: Array[Byte] => MembershipFilter): Unit = {
    val filters = rows.collect().map { case (shard, bytes) => shard -> read(bytes) }.toMap
    assert(filters.size == 8)
    assert(shardKeys.forall(h => filters(Math.floorMod(h, 8L).toInt).mightContain(h)))
  }

  test("sharded bloom build covers all inserted keys") {
    val hashes = spark.createDataset(shardKeys)
    checkShards(SeenSet.buildFilterShards(spark, hashes, 8, () => new BlockedBloom(256, 5)),
      BlockedBloom.deserialize)
  }

  test("sharded cuckoo build covers all inserted keys") {
    val hashes = spark.createDataset(shardKeys)
    val buckets = CuckooFilter.bucketsFor(5000L / 8 * 5 / 4 + 1)
    checkShards(SeenSet.buildFilterShards(spark, hashes, 8, () => new CuckooFilter(buckets)),
      CuckooFilter.deserialize)
  }
}
