package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Spark extension injection point: makes every custom Catalyst expression
  * available to ANY session created with
  * `spark.sql.extensions=graft.GraftExtensions` — including plain
  * `spark-sql` / `spark-submit` users who never touch the library's Scala
  * API (the standard extension-library pattern; complements
  * [[graft.functions.GraftFunctions.register]] for sessions built in code).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String) = new ExpressionInfo("graft.functions", name)
    // optimizer rewrite: naive bit_count(a^b) <= k theta-joins become banded
    // LSH equi-joins (graft.plans.LshJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.LshJoinRule())
    // whole-operator tier: plans PoliteScheduleNode (the politeness
    // virtual-clock walk with declared distribution/ordering requirements)
    ext.injectPlannerStrategy(_ => graft.plans.PoliteScheduleStrategy)
    ext.injectFunction(
      (FunctionIdentifier("simhash64"), info("simhash64"),
        (es: Seq[Expression]) => Simhash64(es.head)))
    ext.injectFunction(
      (FunctionIdentifier("shannon_entropy"), info("shannon_entropy"),
        (es: Seq[Expression]) => ShannonEntropy(es.head)))
    ext.injectFunction(
      (FunctionIdentifier("canonicalize_url"), info("canonicalize_url"),
        (es: Seq[Expression]) => CanonicalizeUrl(es.head)))
    ext.injectFunction(
      (FunctionIdentifier("le_u32"), info("le_u32"),
        (es: Seq[Expression]) => LeU32(es.head, es(1))))
    ext.injectFunction(
      (FunctionIdentifier("rolling_minhash"), info("rolling_minhash"),
        (es: Seq[Expression]) => RollingMinHash(es.head, es(1))))
    ext.injectFunction(
      (FunctionIdentifier("magic_format"), info("magic_format"),
        (es: Seq[Expression]) => MagicFormat(es.head)))
  }
}
