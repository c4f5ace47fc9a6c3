package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must light up all custom functions in a session that
  * only configured `spark.sql.extensions` — the plain-SQL-user path. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions registers every custom function for pure-SQL sessions") {
    val base = TestSpark.spark // ensures the shared SparkContext exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions = the same injection the static conf
      // `spark.sql.extensions=graft.GraftExtensions` performs on a fresh
      // spark-submit (static confs are ignored when a context already exists,
      // so the in-test path must inject via the builder)
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s ne base)
      assert(s.sql("SELECT simhash64('the quick brown fox runs')").head().getLong(0) != 0L)
      assert(math.abs(s.sql("SELECT shannon_entropy('abcd')").head().getDouble(0) - 2.0) < 1e-12)
      assert(s.sql("SELECT canonicalize_url('HTTP://X.com:80/a/')").head().getString(0)
        == "http://x.com/a")
      assert(s.sql("SELECT le_u32(X'01000000', 0)").head().getLong(0) == 1L)
      assert(s.sql("SELECT rolling_minhash('abcdefghij', 4)").head().getLong(0) != 0L)
      assert(s.sql("SELECT magic_format(X'89504E47')").head().getString(0) == "png")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
