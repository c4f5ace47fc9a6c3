package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal visibility bridge: `ExpressionUtils` is `private[sql]` in Spark
  * 4.x, so Column↔Expression conversion for custom Catalyst expressions is
  * exposed to the graft library through this in-namespace shim (the standard
  * Spark-extension-library pattern). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — needed to hand custom logical operators like
    * `graft.plans.PoliteScheduleNode` to the planner. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Ids of the broadcasts whose deserialized value this JVM's block
    * manager holds (`BlockManager` is `private[spark]`). Empty without a
    * running SparkContext. */
  def broadcastValueIds(): Set[Long] =
    Option(org.apache.spark.SparkEnv.get).toSeq
      .flatMap(_.blockManager.getMatchingBlockIds {
        case org.apache.spark.storage.BroadcastBlockId(_, "") => true
        case _ => false
      })
      .collect { case org.apache.spark.storage.BroadcastBlockId(id, _) => id }
      .toSet

  /** Drop the deserialized values of broadcasts `ids` from this JVM's block
    * manager. Their serialized pieces stay, so a later read deserializes the
    * value again; the pieces go when the ContextCleaner collects the
    * broadcast, as before. */
  def dropBroadcastValues(ids: Iterable[Long]): Unit =
    Option(org.apache.spark.SparkEnv.get).foreach { env =>
      ids.foreach(id => env.blockManager.removeBlock(org.apache.spark.storage.BroadcastBlockId(id)))
    }
}
