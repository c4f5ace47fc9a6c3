package graft.snapshot

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-shaped snapshot table layer (SURVEY.md §7.0/§7.1 step 3).
  *
  * No Iceberg runtime resolves offline, so snapshot semantics are built by
  * hand on Parquet + a versioned JSON manifest with an atomic link commit:
  *  - every commit writes data files under its own `data/v{N}-{nonce}/`,
  *    then publishes `manifests/v{N}.json` (a tmp file hard-linked into
  *    place, which fails if the version exists) naming its data directory
  *    relative to the table's base (so the table can move), parent version,
  *    row count, and a metrics map (per-partition lineage). Of two writers
  *    of one version, one publishes and the other deletes its data
  *    directory and raises;
  *  - readers resolve HEAD = max published manifest → uncommitted/partial
  *    data directories are invisible (crash safety);
  *  - time travel = read any older manifest; resume-from-checkpoint = open
  *    latest (north rule resumability).
  *
  * This mirrors the reference's append-only archive discipline: the tar
  * append is atomic per id (archive.py:532-538) and the DB re-derivable from
  * the archive (database/README.md:63-69); here the manifest commit is the
  * atomicity point and every snapshot is re-derivable from its lineage.
  */
final class SnapshotTable(spark: SparkSession, baseDir: String) {
  private val base = Paths.get(baseDir)
  private val manifests = base.resolve("manifests")
  Files.createDirectories(manifests)

  private def manifestPath(v: Int): Path = manifests.resolve(f"v$v%06d.json")

  def versions: Seq[Int] = SnapshotTable.versions(baseDir)

  def currentVersion: Option[Int] = versions.lastOption

  /** Append a new snapshot; returns the committed version. Partition columns
    * (e.g. prefix shard + run date, config.py:117-119) flow into the parquet
    * layout so partition pruning works on read. A partitioned commit is
    * rebalanced on its partition columns that are not literals in `df`'s
    * plan, so its file count follows bytes. `observed` aggregate columns
    * ride on the write as an Observation, next to the row count; their
    * values join `metrics` in the manifest under the columns' names. */
  def commit(df: DataFrame, partitionBy: Seq[String] = Nil,
             metrics: Map[String, String] = Map.empty,
             observed: Seq[Column] = Nil): Int = {
    val parent = currentVersion.getOrElse(0)
    val v = parent + 1
    val nonce = java.util.UUID.randomUUID()
    val dataDir = f"data/v$v%06d-$nonce"
    // a plain partitioned write opens one file per (input partition ×
    // partition value): 8 × 16 = 128 files for a night's results. A
    // rebalance exchange on the partition columns lets AQE size the write
    // tasks by bytes instead: a reducer under the advisory size writes one
    // file per value it holds. AQE splits a larger reducer only at map-output
    // boundaries, so no value gets more files than the plain write gives it.
    // Columns the plan sets to a literal (a run's date or id) spread nothing,
    // so they are left out of the keys; with none left (and for unpartitioned
    // commits) the input keeps its own layout, with no shuffle.
    val keys = partitionBy.filterNot(literalColumns(df))
    val input = if (keys.isEmpty) df else df.hint("rebalance", keys.map(col): _*)
    // row count rides on the write itself via an Observation — a second full
    // scan of freshly committed data would double the commit path's I/O
    // (at archive scale, 2× the write volume read back per commit)
    val obs = Observation(s"graft_commit_${System.nanoTime()}")
    val observedInput = input.observe(obs, count(lit(1)).as("rows"), observed: _*)
    val writer = observedInput.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(base.resolve(dataDir).toString)
    val stats = obs.get
    val rowCount = stats("rows").asInstanceOf[Long]
    val allMetrics = metrics ++ (stats - "rows").map { case (k, w) => k -> String.valueOf(w) }
    val json = {
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
      val m = allMetrics.map { case (k, w) => s""""${esc(k)}":"${esc(w)}"""" }.mkString(",")
      // a partitioned table's partition-column types come from inference on
      // read, so only unpartitioned commits record the schema
      val schema = if (partitionBy.isEmpty) s""",\n"schema":"${esc(df.schema.json)}"""" else ""
      s"""{"version":$v,"parent":$parent,"dataDir":"${esc(dataDir)}",
         |"rowCount":$rowCount,"partitionBy":[${partitionBy.map(p => s""""${esc(p)}"""").mkString(",")}],
         |"metrics":{$m}$schema}""".stripMargin
    }
    // atomic publish: link(2) of a complete tmp file, which, unlike a
    // rename, refuses to replace a manifest another writer published
    val tmp = manifests.resolve(s".tmp-$v-$nonce")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    try Files.createLink(manifestPath(v), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // no manifest names this attempt's data, and no other writer knows it
        deleteTree(base.resolve(dataDir))
        throw new IllegalStateException(s"concurrent commit for v$v")
    } finally Files.deleteIfExists(tmp)
    v
  }

  private def deleteTree(dir: Path): Unit =
    scala.util.Using.resource(Files.walk(dir))(_.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete))

  /** Output columns that the top projection of `df`'s plan sets to a
    * constant expression, e.g. `withColumn("run_id", lit(3))`. */
  private def literalColumns(df: DataFrame): Set[String] =
    df.queryExecution.analyzed match {
      case Project(list, _) => list.collect { case a: Alias if a.child.foldable => a.name }.toSet
      case _ => Set.empty
    }

  /** The string field `name` of a manifest's text, unescaped. */
  private def field(json: String, name: String): Option[String] =
    (s""""$name":"((?:[^"\\\\]|\\\\.)*)"""").r.findFirstMatchIn(json).map { m =>
      """\\(u[0-9a-f]{4}|.)""".r.replaceAllIn(m.group(1), e => java.util.regex.Matcher.quoteReplacement(
        e.group(1) match {
          case "n" => "\n"
          case u if u.length == 5 => Integer.parseInt(u.substring(1), 16).toChar.toString
          case c => c
        }))
    }

  /** Read a snapshot (latest by default; any version for time travel). An
    * unpartitioned version's manifest records its schema, so the read
    * skips the job that infers it from a data file's footer. Older
    * manifests name the data directory by absolute path. */
  def read(version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion)
      .getOrElse(throw new IllegalStateException(s"no snapshots in $baseDir"))
    val json = manifestOf(v)
    val dataDir = dataDirOf(v).toString
    field(json, "schema") match {
      case Some(s) => spark.read.schema(DataType.fromJson(s).asInstanceOf[StructType]).parquet(dataDir)
      case None => spark.read.parquet(dataDir)
    }
  }

  private def manifestOf(v: Int): String =
    new String(Files.readAllBytes(manifestPath(v)), StandardCharsets.UTF_8)

  /** The data directory that version `v`'s manifest names. */
  def dataDirOf(v: Int): Path =
    base.resolve(field(manifestOf(v), "dataDir").getOrElse(throw new IllegalStateException(s"bad manifest v$v")))

  def metricsOf(v: Int): Map[String, String] = {
    val json = manifestOf(v)
    """"metrics":\{(.*?)\}""".r.findFirstMatchIn(json).map(_.group(1)) match {
      case Some(body) if body.nonEmpty =>
        """"(.*?)":"(.*?)"""".r.findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap
      case _ => Map.empty
    }
  }
}

object SnapshotTable {
  /** Published versions of the table at `baseDir`, ascending: the one rule
    * that resolves a table's HEAD. Nil when it has no manifests directory. */
  def versions(baseDir: String): Seq[Int] = {
    val manifests = Paths.get(baseDir, "manifests")
    if (!Files.isDirectory(manifests)) Nil
    else {
      // the stream holds a directory descriptor until closed
      val s = Files.list(manifests)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.matches("v\\d{6}\\.json") => n.substring(1, 7).toInt }
        .toSeq.sorted
      finally s.close()
    }
  }
}
