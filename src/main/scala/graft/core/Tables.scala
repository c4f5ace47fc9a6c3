package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (see TESTDATA.md).
  *
  * All engine queries take `(spark, sfDir)` and read from these tables only —
  * mirroring how the reference's analytics read from its relational store
  * (reference: database/README.md:63-69, the archive/DB is the golden source).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Spread a narrow frame across the session's cores before heavy per-row
    * work (payload codecs, shingle explodes, fingerprinting). The driver
    * testdata ships each table as ONE single-row-group parquet file, which
    * Spark cannot split — every scan, and everything narrow-dependent on
    * it, otherwise runs on a single task (optimization guide §2.5, "input
    * skew: one huge unsplittable file → repartition immediately after the
    * read"). Hash repartition on a caller-supplied high-cardinality key:
    * deterministic row→partition assignment (safe under task retry, unlike
    * rand-derived keys) and no sort-before-repartition cost (which
    * round-robin pays). Parallelism follows the session's
    * `defaultParallelism` — derived from the master's core count, never a
    * constant — so the same code sizes itself on any cluster. Only applied
    * where downstream per-row work dominates the scan; a pure projection
    * gains nothing from an extra exchange. */
  def spread(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)

  /** Cached row count per (dir, table) — the stand-in for catalog table
    * statistics (on a real deployment this is `spark.table(...).stats`).
    * Repeated ANN queries size their geometry from it without paying a
    * count() job per invocation; driver testdata is immutable, so the
    * memo never invalidates. */
  def cachedCount(spark: SparkSession, dir: String, name: String): Long =
    Memo("tables.count", dir, name)(apply(spark, dir, name).count())
}
