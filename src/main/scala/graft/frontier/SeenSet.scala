package graft.frontier

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}

/** URL-seen membership — the engine's J1 (discover.py:68: `id not in
  * known_ids`).
  *
  * The crawl path's seen set is exact set algebra (`Frontier.buildWorklist`).
  * This object holds the filter side the [[SeenStore]] persists: every
  * filter, bloom or cuckoo, comes from one build, [[buildFilter]], which
  * merges per-partition filters via `treeReduce` (depth 2) into one
  * driver-side filter; [[maybeSeen]] probes rows against filters in heap.
  * [[dedupExact]] is the exact anti-join, the oracle a filter is checked
  * against.
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

  /** `f` with every hash added; throws when it fills up (a dropped key would
    * be a pre-filter false negative — callers size with headroom). */
  private def fill[F <: BuildableFilter[F]](f: F, hashes: Iterator[Long]): F = {
    hashes.foreach { h =>
      if (!f.add(h)) throw new IllegalStateException(s"${f.getClass.getSimpleName} overflow")
    }
    f
  }

  /** Exact dedup: candidates not in seen. */
  def dedupExact(candidates: DataFrame, seen: DataFrame, idCol: String): DataFrame =
    candidates.join(seen.select(idCol), Seq(idCol), "left_anti")

  /** `rows` plus a `maybe` column: true when any of `filters` flags `hash`,
    * the hash of the row's key. No false negatives over the keys the filters
    * hold; false positives are the callers' to resolve. The filters OR into
    * one codegen column: each is a reference object of the plan
    * ([[MightContain]]), so it rides in the task binary of every stage whose
    * lineage holds the probe, and every task deserializes it — its size is
    * paid per stage and task. */
  def maybeSeen(rows: DataFrame, hash: Column, filters: Seq[MembershipFilter]): DataFrame =
    rows.select(col("*"), filters.map(FilterProbe.might(_, hash))
      .reduceOption(_ || _).getOrElse(lit(false)).as("maybe"))
}

/** A [[SeenStore]]'s loaded tiers; a key is maybe-seen if ANY of `filters`
  * (the epoch bloom, then one cuckoo per spill) says so. `coveredKeys` is
  * the key count the tiers hold. */
final case class SeenProbe(filters: Seq[MembershipFilter], coveredKeys: Long)

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
