package graft.frontier

import graft.SparkSpec
import graft.core.Ids
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
    val seen = snapshot ++ delta ++ forum
    val cases = Seq[(String, Seq[MembershipFilter])](
      ("bloom only", Seq(bloom(seen))),
      ("bloom + cuckoo", Seq(bloom(snapshot ++ forum), cuckoo(delta))),
      ("bloom + cuckoo + forum tier", Seq(bloom(snapshot), cuckoo(delta), bloom(forum))))
    val candidates = seen.drop(seen.size / 3) ++ (0 until 800).map(i => s"fresh_$i")
    val expected = candidates.toSet -- seen.toSet
    val exact = SeenSet.dedupExact(candidates.toDF("id"), seen.toDF("id"), "id")
      .as[String].collect()
    assert(exact.toSet == expected && exact.length == expected.size, "dedupExact == set model")
    cases.foreach { case (name, filters) =>
      val flagged = SeenSet.maybeSeen(candidates.toDF("id"), SeenSet.idHash(col("id")), filters)
      val maybe = flagged.filter(col("maybe")).select("id").as[String].collect().toSet
      assert(candidates.filter(seen.toSet).forall(maybe), s"$name: maybeSeen missed a seen id")
      // the tiers as a pre-filter: unflagged candidates pass, flagged ones
      // fall to the exact anti-join
      val out = flagged.filter(!col("maybe")).select("id").as[String].collect() ++
        SeenSet.dedupExact(flagged.filter(col("maybe")).select("id"), seen.toDF("id"), "id")
          .as[String].collect()
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
}
