package perfbench.test

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Catalog

/** The sweep times each query through the noop sink, not `.count()`, because
  * under `.count()` Catalyst's ColumnPruning drops q22's `md5` and `sha2`
  * projections and they never run. This test fails unless the executed plan
  * of q22's timed form still computes both.
  *
  * Usage: Q22PlanTest <tableDir>   (exit code 0 = pass, 1 = fail)
  */
object Q22PlanTest {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val executed = new AtomicReference[String]("")
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.set(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val q22 = Catalog.allEntries.collectFirst { case (n, e) if n.startsWith("q22_") => e.fn }.get

    // the timed form: the same noop write the sweep times
    q22(spark, dir).write.format("noop").mode("overwrite").save()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val timedPlan = executed.get()
    // the old form, for the record: what `.count()` leaves of the plan
    val countPlan = q22(spark, dir).groupBy().count().queryExecution.executedPlan.toString
    spark.stop()

    val missing = Seq("md5(", "sha2(").filterNot(timedPlan.contains)
    println(s"[q22-plan] count form computes md5: ${countPlan.contains("md5(")}, sha2: ${countPlan.contains("sha2(")}")
    if (missing.nonEmpty) {
      println(s"[q22-plan] FAIL: the timed plan lacks ${missing.mkString(", ")}:\n$timedPlan")
      sys.exit(1)
    }
    println("[q22-plan] PASS: the timed plan computes md5 and sha2")
  }
}
