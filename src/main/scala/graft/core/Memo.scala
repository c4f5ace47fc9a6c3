package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The one process-wide memo for built artifacts: trained ANN models, code
  * tables and indexes, the decon bloom, table counts.
  *
  * A key is a tag naming the artifact followed by its full recipe: every
  * parameter the build reads. Two artifacts with equal parameters (the PQ
  * and OPQ models both train on `(dir, m, k, iters)`) differ by tag, and a
  * recipe that leaves out a knob would serve one caller the artifact built
  * for another.
  *
  *  - [[apply]] holds values with no Spark handle (models, centroids,
  *    blooms, counts) for the life of the JVM.
  *  - [[inSession]] holds persisted or checkpointed frames, which are bound
  *    to the SparkContext that built them; an entry is dropped once that
  *    context has stopped, so a JVM that cycles sessions (tests, benches)
  *    neither pins dead sessions nor serves their frames.
  *
  * Entries are not registered with [[CacheScope]] and outlive every scope.
  *
  * Builds nest (the IVF-PQ index trains through the IVF model), so no build
  * runs inside the map's `computeIfAbsent`, which rejects a nested update of
  * the same map. The map holds one cell per key instead, and the cell builds
  * under its own lock: each key builds once, and a build that throws leaves
  * the cell empty for the next call to retry.
  */
object Memo {
  private final class Cell(private var build: () => Any) {
    private var value: Any = _
    // the build closure captures its caller's session: drop it once built
    def get: Any = synchronized {
      if (build != null) { value = build(); build = null }
      value
    }
  }

  private final case class SessionKey(spark: SparkSession, key: Seq[Any])

  private val cells = new ConcurrentHashMap[Any, Cell]()

  private def cell[V](key: Any, build: => V): V =
    cells.computeIfAbsent(key, _ => new Cell(() => build)).get.asInstanceOf[V]

  /** The value built for `tag` and `recipe`, built on first use. */
  def apply[V](tag: String, recipe: Any*)(build: => V): V =
    cell(tag +: recipe, build)

  /** As [[apply]], for a value bound to `spark`'s context. */
  def inSession[V](spark: SparkSession, tag: String, recipe: Any*)(build: => V): V = {
    cells.keySet().removeIf {
      case SessionKey(s, _) => s.sparkContext.isStopped
      case _ => false
    }
    cell(SessionKey(spark, tag +: recipe), build)
  }
}
