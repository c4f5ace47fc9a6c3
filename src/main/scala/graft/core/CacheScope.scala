package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Scoped lifetime for transient `persist`s.
  *
  * Pipeline stages cache intermediates that only live for one crawl round
  * (the bloom-dedup'd discovery set, the sorted schedule); in an iterative
  * crawl loop those caches would accumulate MEMORY_AND_DISK blocks across
  * rounds. Stages register their persists here; a driver loop wraps each
  * round in [[withScope]], which unpersists everything registered inside it
  * at exit — after the round's commits/counts have materialized every
  * consumer, so nothing recomputes.
  *
  * Without an active scope, registration is a no-op (one-shot callers keep
  * the cache for the session, the previous behavior).
  */
object CacheScope {
  private val current = new ThreadLocal[ArrayBuffer[() => Unit]]

  /** Persist `ds` at `level` and register it for unpersist at scope exit. */
  def persist[T](ds: Dataset[T], level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    ds.persist(level)
    register(() => { ds.unpersist(blocking = false); () })
    ds
  }

  /** Persist an RDD at `level` under the same scope discipline. */
  def persistRdd[T](rdd: org.apache.spark.rdd.RDD[T], level: StorageLevel): org.apache.spark.rdd.RDD[T] = {
    rdd.persist(level)
    register(() => { rdd.unpersist(blocking = false); () })
    rdd
  }

  def register(release: () => Unit): Unit = {
    val buf = current.get()
    if (buf != null) buf += release
  }

  /** Run `body` with a fresh scope; release everything registered inside it
    * afterwards (outer scope, if any, is restored — scopes nest).
    *
    * The scope also drops the deserialized values of the broadcasts made
    * inside it: the broadcast joins' hash relations (each holds at least one
    * page, 16 MB at local[4] on a 3 GB heap) and the stages' task binaries.
    * Left alone they stay in the block manager until a GC finds their
    * broadcast unreachable and the ContextCleaner removes them, so how many
    * earlier rounds' relations the driver holds depends on GC timing. The
    * serialized pieces stay, so a plan that runs again after the scope
    * reads its broadcast back from them. */
  def withScope[A](body: => A): A = {
    val prev = current.get()
    val buf = ArrayBuffer.empty[() => Unit]
    val priorBroadcasts = Bridge.broadcastValueIds()
    current.set(buf)
    try body
    finally {
      current.set(prev)
      buf.foreach(f => try f() catch { case scala.util.control.NonFatal(_) => () })
      try Bridge.dropBroadcastValues(Bridge.broadcastValueIds() -- priorBroadcasts)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
