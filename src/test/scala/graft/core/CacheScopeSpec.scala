package graft.core

import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec

class CacheScopeSpec extends SparkSpec {

  test("a scope drops the broadcast values made inside it; its plans still run after it") {
    val s = spark
    import s.implicits._
    // a broadcast made before the scope, with its value held on the driver
    val outer = spark.sparkContext.broadcast(Array.fill(1000)(1L))
    val before = Bridge.broadcastValueIds()
    assert(before.contains(outer.id))

    val joined = spark.range(0, 300).select(($"id" % 3).as("i"), $"id")
      .join(broadcast(Seq(("a", 0L), ("b", 1L), ("c", 2L)).toDF("k", "i")), "i")
    val (made, inScope) = CacheScope.withScope {
      val rows = joined.collect().map(r => (r.getLong(1), r.getString(2)))
      (Bridge.broadcastValueIds() -- before, rows)
    }
    // the join's hash relation and the stages' task binaries
    assert(made.nonEmpty)
    val after = Bridge.broadcastValueIds()
    assert((after intersect made).isEmpty, s"still held: ${after intersect made}")
    assert(after.contains(outer.id))

    // the same executed plan runs again: its broadcast is read back from
    // the serialized pieces the scope left in place
    val again = joined.collect().map(r => (r.getLong(1), r.getString(2)))
    assert(inScope.length == 300)
    assert(again.sorted.toSeq == inScope.sorted.toSeq)
    assert(again.forall { case (id, k) => k == Seq("a", "b", "c")((id % 3).toInt) })
    outer.destroy()
  }
}
