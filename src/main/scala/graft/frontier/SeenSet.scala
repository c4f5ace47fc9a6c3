package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}

/** URL-seen dedup — the engine's J1 (discover.py:68: `id not in known_ids`).
  *
  * Architecture (north rule): candidates → bloom pre-filter (definitely-new
  * pass straight through; maybe-seen fall to an exact `left_anti` join) →
  * exact result. Bloom false positives only cost join work, never
  * correctness. The bloom is built distributed and merged via
  * `treeAggregate` (depth 2) so driver merge cost is O(log parts); at larger
  * budgets the filter shards by hash-slice (partitioned build via
  * `groupByKey.mapGroups`, one shard row each) and the probe co-shuffles
  * candidates with their shard — no full-filter broadcast needed.
  */
object SeenSet {

  /** xxhash64 of the id column — the engine's canonical URL hash (north rule
    * "canonicalizes and xxHash64-hashes URLs"). */
  def idHash(c: Column): Column = xxhash64(c)

  /** Distributed bloom build over the seen-id hashes: each partition
    * allocates its OWN filter locally (the task closure carries only the
    * sizing ints — a treeAggregate zeroValue would serialize the whole
    * empty filter into EVERY task binary, GBs per task at a 10^10-key
    * epoch), then partials merge log-depth via `treeReduce(depth=2)`
    * (SURVEY §4 "partial + final aggregation"). */
  def buildBloomTree(seenHashes: Dataset[Long], expectedKeys: Long,
                     bitsPerKey: Int = 10, numHashes: Int = 5): BlockedBloom = {
    val proto = BlockedBloom.sized(math.max(expectedKeys, 1024), bitsPerKey, numHashes)
    val (nb, nh) = (proto.numBlocks, proto.numHashes)
    val rdd = seenHashes.rdd
    if (rdd.getNumPartitions == 0) proto
    else rdd.mapPartitions { it =>
      val b = new BlockedBloom(nb, nh)
      it.foreach(b.add)
      Iterator.single(b)
    }.treeReduce((a, b) => a.mergeInPlace(b), depth = 2)
  }

  /** Sharded build: one blocked bloom per hash-slice, built streaming per
    * group; returns (shard, bloomBytes) rows that stay table-resident (the
    * 10^10-scale path where no single filter fits one JVM). */
  def buildBloomShards(spark: SparkSession, seenHashes: Dataset[Long], numShards: Int,
                       blocksPerShard: Int, numHashes: Int = 5): Dataset[(Int, Array[Byte])] = {
    import spark.implicits._
    seenHashes
      .groupByKey(h => Math.floorMod(h, numShards.toLong).toInt)
      .mapGroups { (shard, it) =>
        val bloom = new BlockedBloom(blocksPerShard, numHashes)
        it.foreach(bloom.add)
        (shard, bloom.serialized)
      }
  }

  /** Sharded cuckoo build — the table-resident form of a run's spill delta
    * (the cuckoo analog of [[buildBloomShards]]): one filter per hash-slice,
    * (shard, cuckooBytes) rows. At 10^10-frontier scale a nightly delta can
    * be 10^8+ keys; ONE in-heap spill filter would be GiBs in every task
    * binary (addReferenceObj) and GiBs through treeReduce, so past the
    * single-filter cap the spill becomes this table and rides the same
    * cogroup probe as the bloom shards. `add` throws on overflow rather than
    * dropping (a dropped fingerprint would be a pre-filter false negative —
    * callers size bucketsPerShard with headroom). */
  def buildCuckooShards(spark: SparkSession, hashes: Dataset[Long], numShards: Int,
                        bucketsPerShard: Int): Dataset[(Int, Array[Byte])] = {
    import spark.implicits._
    hashes
      .groupByKey(h => Math.floorMod(h, numShards.toLong).toInt)
      .mapGroups { (shard, it) =>
        val f = new CuckooFilter(bucketsPerShard)
        it.foreach { h =>
          if (!f.add(h)) throw new IllegalStateException("cuckoo shard overflow")
        }
        (shard, f.serialized)
      }
  }

  /** Exact dedup: candidates not in seen — the oracle for [[dedup]]. */
  def dedupExact(candidates: DataFrame, seen: DataFrame, idCol: String): DataFrame =
    candidates.join(seen.select(idCol), Seq(idCol), "left_anti")

  /** Multi-tier sharded probe: the epoch bloom shards PLUS any number of
    * per-run cuckoo spill shard tables, all sharded by the same
    * `floorMod(hash, numShards)` slice so one cogroup co-shuffles a
    * candidate with every tier's filter for its slice. This is the
    * 10^10-key mode, where no single bloom fits one JVM (10^10 keys × 10
    * bits ≈ 12.5 GB): each task deserializes ≤ 1 bloom + (spill runs)
    * cuckoo shard filters — a few rows per shard — never a whole-corpus
    * filter. A shard with no seen keys has no row, so its candidates flag
    * definitely new. Returns (value, maybe) pairs. */
  def shardedMaybeSeenTiers(spark: SparkSession, candidates: DataFrame, idCol: String,
                            bloomShards: Dataset[(Int, Array[Byte])],
                            cuckooShards: Seq[Dataset[(Int, Array[Byte])]],
                            numShards: Int): Dataset[(String, Boolean)] = {
    import spark.implicits._
    val tagged = cuckooShards
      .map(_.map { case (s, b) => (s, false, b) })
      .foldLeft(bloomShards.map { case (s, b) => (s, true, b) })(_ union _)
    candidates.select(col(idCol).cast("string").as("value"))
      .withColumn("h", idHash(col("value")))
      .select(col("value"), col("h"),
        pmod(col("h"), lit(numShards.toLong)).cast("int").as("shard"))
      .as[(String, Long, Int)]
      .groupByKey(_._3)
      .cogroup(tagged.groupByKey(_._1)) { (_, cands, filters) =>
        var bloom: BlockedBloom = null
        val cuckoos = scala.collection.mutable.ArrayBuffer.empty[CuckooFilter]
        filters.foreach { case (_, isBloom, bytes) =>
          if (isBloom) bloom = BlockedBloom.deserialize(bytes)
          else cuckoos += CuckooFilter.deserialize(bytes)
        }
        cands.map { case (v, h, _) =>
          (v, (bloom != null && bloom.mightContain(h)) ||
            cuckoos.exists(_.mightContain(h)))
        }
      }
  }

  /** Exact dedup behind a tiered pre-filter: candidates no tier of `probe`
    * flags pass straight through; maybe-seen candidates fall to the exact
    * `left_anti` join against `known`. The probe must cover `known` (no
    * false negatives); its false positives only cost join work. Both
    * frames carry one id column; the output keeps the candidates' name.
    *
    *  1. the in-heap tiers OR into one codegen column — each filter ships
    *     once per executor via `addReferenceObj`;
    *  2. the table-resident shard tiers, when the probe has them, go
    *     through one cogroup ([[shardedMaybeSeenTiers]]);
    *  3. the flagged candidates persist once, so the two branches don't
    *     re-run the candidate plan (and the shuffles feeding it). */
  def dedup(spark: SparkSession, candidates: DataFrame, known: DataFrame,
            probe: SeenProbe): DataFrame = {
    val id = candidates.columns.head
    val inHeap = probe.filters.map(FilterProbe.might(_, idHash(col(id))))
      .reduceOption(_ || _).getOrElse(lit(false))
    val flagged = graft.core.CacheScope.persist(probe.shards match {
      case None => candidates.select(col(id), inHeap.as("maybe"))
      case Some(t) =>
        shardedMaybeSeenTiers(spark, candidates, id, t.bloom, t.spills, t.numShards)
          .toDF(id, "in_shard")
          .select(col(id), (col("in_shard") || inHeap).as("maybe"))
    })
    flagged.filter(!col("maybe")).select(id)
      .union(flagged.filter(col("maybe")).select(id).join(known.toDF(id), Seq(id), "left_anti"))
  }
}

/** The seen-set pre-filter as a list of tiers; a key is maybe-seen if ANY
  * tier says so. `filters` are the in-heap tiers (epoch bloom, per-run
  * cuckoo spills, the forum bloom); `shards` the table-resident ones.
  * `coveredKeys` is the key count a [[SeenStore]]'s tiers cover. */
final case class SeenProbe(filters: Seq[MembershipFilter], shards: Option[ShardTiers],
                           coveredKeys: Long) {
  def withFilter(f: MembershipFilter): SeenProbe = copy(filters = filters :+ f)
}

/** Table-resident tiers: (shard, filterBytes) rows sliced by
  * `floorMod(hash, numShards)` — the epoch bloom ([[SeenSet.buildBloomShards]])
  * and one cuckoo table per spilled run ([[SeenSet.buildCuckooShards]]). */
final case class ShardTiers(bloom: Dataset[(Int, Array[Byte])],
                            spills: Seq[Dataset[(Int, Array[Byte])]], numShards: Int)

/** `bloom_might_contain(hash)` / `cuckoo_might_contain(hash)` — codegen'd
  * probe of one filter tier; the filter object ships in the task binary
  * via `ctx.addReferenceObj` (one deserialize per executor, not per row). */
case class MightContain(filter: MembershipFilter, child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    filter.mightContain(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftFilter", filter, filter.getClass.getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContain($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): MightContain =
    copy(child = newChild)
  override def prettyName: String = filter match {
    case _: CuckooFilter => "cuckoo_might_contain"
    case _ => "bloom_might_contain"
  }
}

object FilterProbe {
  def might(filter: MembershipFilter, hashCol: Column): Column =
    Bridge.column(MightContain(filter, Bridge.expression(hashCol)))
}
