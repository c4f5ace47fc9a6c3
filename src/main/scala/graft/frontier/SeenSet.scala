package graft.frontier

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
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
  * correctness. Every filter, bloom or cuckoo, comes from one of two builds:
  * [[buildFilter]] merges per-partition filters via `treeReduce` (depth 2)
  * into one driver-side filter; [[buildFilterShards]] builds one filter per
  * hash slice (`groupByKey.mapGroups`, one shard row each) for the
  * table-resident tiers, which the probe co-shuffles candidates with — no
  * full-filter broadcast needed.
  */
object SeenSet {

  /** xxhash64 of the id column — the engine's canonical URL hash (north rule
    * "canonicalizes and xxHash64-hashes URLs"). */
  def idHash(c: Column): Column = xxhash64(c)

  /** Merged build: each partition fills its OWN filter from `empty` (the
    * task closure carries only the sizing — a treeAggregate zeroValue would
    * serialize the whole empty filter into EVERY task binary, GBs per task
    * at a 10^10-key epoch), then partials merge log-depth via
    * `treeReduce(depth = 2)` (SURVEY §4 "partial + final aggregation") into
    * the one filter the driver uses: a probe expression's reference object,
    * or the file the seen store writes. */
  def buildFilter[F <: BuildableFilter[F]: ClassTag](hashes: Dataset[Long], empty: () => F): F = {
    val rdd = hashes.rdd
    if (rdd.getNumPartitions == 0) empty()
    else rdd.mapPartitions(it => Iterator.single(fill(empty(), it)))
      .treeReduce((a, b) => a.mergeInPlace(b), depth = 2)
  }

  /** Per-shard build: one filter per hash slice `floorMod(h, numShards)`,
    * filled streaming from its group, as (shard, filterBytes) rows that stay
    * table-resident (the 10^10-scale path where no single filter fits one
    * JVM). Only the 8-byte hashes shuffle; a slice with no hash has no row. */
  def buildFilterShards[F <: BuildableFilter[F]](spark: SparkSession, hashes: Dataset[Long],
                                                 numShards: Int,
                                                 empty: () => F): Dataset[(Int, Array[Byte])] = {
    import spark.implicits._
    hashes
      .groupByKey(h => Math.floorMod(h, numShards.toLong).toInt)
      .mapGroups((shard, it) => (shard, fill(empty(), it).serialized))
  }

  /** `f` with every hash added; throws when it fills up (a dropped key would
    * be a pre-filter false negative — callers size with headroom). */
  private def fill[F <: BuildableFilter[F]](f: F, hashes: Iterator[Long]): F = {
    hashes.foreach { h =>
      if (!f.add(h)) throw new IllegalStateException(s"${f.getClass.getSimpleName} overflow")
    }
    f
  }

  /** Exact dedup: candidates not in seen — the oracle for [[dedup]]. */
  def dedupExact(candidates: DataFrame, seen: DataFrame, idCol: String): DataFrame =
    candidates.join(seen.select(idCol), Seq(idCol), "left_anti")

  /** `rows` plus a `maybe` column: true when any tier of `probe` flags
    * `hash`, the hash of the row's key. No false negatives over the keys the
    * probe covers; false positives are the callers' to resolve.
    *
    *  1. the in-heap tiers OR into one codegen column — each filter is a
    *     reference object of the plan ([[MightContain]]), so it rides in the
    *     task binary of every stage whose lineage holds the probe, and
    *     every task deserializes it: its size is paid per stage and task;
    *  2. the table-resident shard tiers, when the probe has them, go
    *     through one cogroup ([[shardedMaybeSeenTiers]]). */
  def maybeSeen(spark: SparkSession, rows: DataFrame, hash: Column, probe: SeenProbe): DataFrame = {
    val inHeap = probe.filters.map(FilterProbe.might(_, hash))
      .reduceOption(_ || _).getOrElse(lit(false))
    probe.shards match {
      case None => rows.select(col("*"), inHeap.as("maybe"))
      case Some(t) =>
        shardedMaybeSeenTiers(spark, rows, hash, t)
          .withColumn("maybe", col("in_shard") || inHeap).drop("in_shard")
    }
  }

  /** Multi-tier sharded probe: the epoch bloom shards PLUS any number of
    * per-run cuckoo spill shard tables, all sharded by the same
    * `floorMod(hash, numShards)` slice so one cogroup co-shuffles a row
    * with every tier's filter for its slice. This is the 10^10-key mode,
    * where no single bloom fits one JVM (10^10 keys × 10 bits ≈ 12.5 GB):
    * each task deserializes ≤ 1 bloom + (spill runs) cuckoo shard filters —
    * a few rows per shard — never a whole-corpus filter. A shard with no
    * seen keys has no row, so its rows flag definitely new. Returns `rows`
    * plus an `in_shard` column. */
  private def shardedMaybeSeenTiers(spark: SparkSession, rows: DataFrame, hash: Column,
                                    t: ShardTiers): DataFrame = {
    import spark.implicits._
    val tagged = t.spills
      .map(_.map { case (s, b) => (s, false, b) })
      .foldLeft(t.bloom.map { case (s, b) => (s, true, b) })(_ union _)
    val n = t.numShards.toLong
    val width = rows.columns.length
    rows.select(col("*"), hash.as("seen_hash"))
      .groupByKey(r => Math.floorMod(r.getLong(width), n).toInt)
      .cogroup(tagged.groupByKey(_._1)) { (_, rs, filters) =>
        var bloom: BlockedBloom = null
        val cuckoos = scala.collection.mutable.ArrayBuffer.empty[CuckooFilter]
        filters.foreach { case (_, isBloom, bytes) =>
          if (isBloom) bloom = BlockedBloom.deserialize(bytes)
          else cuckoos += CuckooFilter.deserialize(bytes)
        }
        rs.map { r =>
          val h = r.getLong(width)
          Row.fromSeq(r.toSeq.take(width) :+
            ((bloom != null && bloom.mightContain(h)) || cuckoos.exists(_.mightContain(h))))
        }
      }(Encoders.row(rows.schema.add("in_shard", BooleanType, nullable = false)))
  }

  /** Exact dedup behind a tiered pre-filter: candidates no tier of `probe`
    * flags ([[maybeSeen]]) pass straight through; maybe-seen candidates fall
    * to the exact `left_anti` join against `known`. The probe must cover
    * `known` (no false negatives); its false positives only cost join work.
    * Both frames carry one id column; the output keeps the candidates'
    * name. The flagged candidates persist once, so the two branches don't
    * re-run the candidate plan (and the shuffles feeding it). */
  def dedup(spark: SparkSession, candidates: DataFrame, known: DataFrame,
            probe: SeenProbe): DataFrame = {
    val id = candidates.columns.head
    val flagged = graft.core.CacheScope.persist(
      maybeSeen(spark, candidates.select(col(id)), idHash(col(id)), probe))
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
  * `floorMod(hash, numShards)`, each from [[SeenSet.buildFilterShards]] —
  * the epoch bloom and one cuckoo table per spilled run. */
final case class ShardTiers(bloom: Dataset[(Int, Array[Byte])],
                            spills: Seq[Dataset[(Int, Array[Byte])]], numShards: Int)

/** `bloom_might_contain(hash)` / `cuckoo_might_contain(hash)` — codegen'd
  * probe of one filter tier. The filter object is a reference object
  * (`ctx.addReferenceObj`) of the plan, so it is serialized into the task
  * binary of every stage whose lineage holds the probe and deserialized
  * once per task (not per row). */
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
