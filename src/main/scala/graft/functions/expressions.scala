package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY.md §2.8, §2.10) — all codegen'd via
  * static calls into [[ExprImpl]]; no Scala UDF closures in the hot path, so
  * they stay inside whole-stage codegen spans.
  */

/** Static (JVM-forwarded) implementations shared by interpreted eval and
  * generated code. */
object ExprImpl {

  /** 64-bit simhash over 3-char shingles of the lowercased, non-word-stripped
    * input — the reference's similarity-preserving fingerprint
    * (ExtensionCrawler/file_identifiers.py:54-72: lowercase → strip \W →
    * 3-gram shingles → per-bit weighted majority). Shingles are hashed with
    * the splitmix64 finalizer; empty input → 0L. */
  def simhash64(s: UTF8String): Long = {
    val str = s.toString.toLowerCase
    val sb = new java.lang.StringBuilder(str.length)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (Character.isLetterOrDigit(c)) sb.append(c)
      i += 1
    }
    val t = sb.toString
    if (t.length < 3) return 0L
    val votes = new Array[Int](64)
    i = 0
    while (i <= t.length - 3) {
      // 3-char shingle → 64-bit hash (splitmix64 over the packed chars)
      var h = (t.charAt(i).toLong << 32) ^ (t.charAt(i + 1).toLong << 16) ^ t.charAt(i + 2).toLong
      h = graft.core.Ids.mix64(h)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Shannon entropy over the [A-Za-z0-9] characters of the input — the
    * reference's likely-hash heuristic component (extgrep:38-52). Strings
    * with no alphanumeric chars → 0.0. */
  def shannonEntropy(s: UTF8String): Double = {
    val str = s.toString
    val counts = new Array[Int](62)
    var n = 0
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      val idx =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'A' && c <= 'Z') 10 + (c - 'A')
        else if (c >= 'a' && c <= 'z') 36 + (c - 'a')
        else -1
      if (idx >= 0) { counts(idx) += 1; n += 1 }
      i += 1
    }
    if (n == 0) return 0.0
    var e = 0.0
    i = 0
    while (i < 62) {
      if (counts(i) > 0) {
        val p = counts(i).toDouble / n
        e -= p * (math.log(p) / math.log(2.0))
      }
      i += 1
    }
    e
  }

  /** URL canonicalization — the crawl-frontier normalizer (reference builds
    * URLs from templates, config.py:33-62; canonical form + xxhash64 per the
    * north rule). Rules: lowercase scheme+host, drop default ports (http:80,
    * https:443), drop fragment, sort query params by key (stable), strip a
    * single trailing slash on a non-root path, empty path → "/". */
  def canonicalizeUrl(s: UTF8String): UTF8String = {
    val raw = s.toString
    try {
      val schemeEnd = raw.indexOf("://")
      if (schemeEnd < 0) return UTF8String.fromString(raw)
      val scheme = raw.substring(0, schemeEnd).toLowerCase
      var rest = raw.substring(schemeEnd + 3)
      val fragIdx = rest.indexOf('#')
      if (fragIdx >= 0) rest = rest.substring(0, fragIdx)
      val pathIdx = rest.indexWhere(c => c == '/' || c == '?')
      var (authority, pathQuery) =
        if (pathIdx < 0) (rest, "") else (rest.substring(0, pathIdx), rest.substring(pathIdx))
      authority = authority.toLowerCase
      if ((scheme == "http" && authority.endsWith(":80")) ||
          (scheme == "https" && authority.endsWith(":443")))
        authority = authority.substring(0, authority.lastIndexOf(':'))
      val qIdx = pathQuery.indexOf('?')
      var path = if (qIdx < 0) pathQuery else pathQuery.substring(0, qIdx)
      val query = if (qIdx < 0) "" else pathQuery.substring(qIdx + 1)
      if (path.isEmpty) path = "/"
      if (path.length > 1 && path.endsWith("/")) path = path.substring(0, path.length - 1)
      val canonQuery =
        if (query.isEmpty) ""
        else "?" + query.split("&").filter(_.nonEmpty).sortBy(p => p.takeWhile(_ != '=')).mkString("&")
      UTF8String.fromString(scheme + "://" + authority + path + canonQuery)
    } catch {
      case _: Exception => s
    }
  }

  /** Little-endian unsigned 32-bit read at `offset` — the crx container
    * header decode (reference crx.py:66-79: magic "Cr24" + LE u32 version /
    * pubkey-len / sig-len). Returns -1 on out-of-bounds. */
  def leU32(bytes: Array[Byte], offset: Int): Long = {
    if (bytes == null || offset < 0 || offset + 4 > bytes.length) return -1L
    ((bytes(offset) & 0xFFL)) |
      ((bytes(offset + 1) & 0xFFL) << 8) |
      ((bytes(offset + 2) & 0xFFL) << 16) |
      ((bytes(offset + 3) & 0xFFL) << 24)
  }

  /** Magic-byte content sniff — the libmagic-style mimetype identification
    * (reference file_identifiers.py:111-135) as a tiny broadcast-free prefix
    * table. Returns a short format token or "unknown". */
  def magicFormat(bytes: Array[Byte]): UTF8String = {
    def has(off: Int, sig: Int*): Boolean =
      bytes.length >= off + sig.length &&
        sig.indices.forall(i => (bytes(off + i) & 0xFF) == sig(i))
    val fmt =
      if (has(0, 0x89, 'P', 'N', 'G')) "png"
      else if (has(0, 0xFF, 0xD8, 0xFF)) "jpg"
      else if (has(0, 'G', 'I', 'F', '8')) "gif"
      else if (has(0, 'P', 'K', 0x03, 0x04)) "zip"
      else if (has(0, 0x1F, 0x8B)) "gzip"
      else if (has(0, '%', 'P', 'D', 'F')) "pdf"
      else if (has(0, 'C', 'r', '2', '4')) "crx"
      else if (has(0, 'R', 'I', 'F', 'F')) "riff"
      else "unknown"
    UTF8String.fromString(fmt)
  }

  /** gzip decompress with the reference's zip-bomb guard: abort once output
    * exceeds `cap` × input size (file_identifiers.py:204-213's 100× cap).
    * Returns null on bad input or cap breach (cold path only — validation /
    * ETL, never the scan hot path). */
  def gunzipCapped(bytes: Array[Byte], cap: Int): Array[Byte] = {
    if (bytes == null || bytes.length < 2) return null
    val maxOut = bytes.length.toLong * cap
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size() > maxOut) return null // bomb guard
        n = in.read(buf)
      }
      out.toByteArray
    } catch { case _: java.io.IOException => null }
  }

  /** Element-wise dot product over two numeric arrays, accumulated LEFT TO
    * RIGHT in double — the codegen replacement for the
    * `aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
    * 0.0, _ + _)` chain the ANN tier used: higher-order functions are
    * CodegenFallback in Spark (interpreted per row, per-element lambda-
    * variable binding + boxing), which made the 64-dim dot the measured
    * wall of every pair/top-k query (guide §1.2 step 2 / §4.1). The loop
    * below performs the IDENTICAL IEEE sequence — widen each element to
    * double, multiply, add in ascending index order, zero init — so results
    * are bit-identical to the HOF form and the DuckDB oracles
    * (`list_dot_product` replay) are unaffected. `aFloat`/`bFloat` are
    * plan-time constants emitted into the generated call site. */
  def vecDot(a: org.apache.spark.sql.catalyst.util.ArrayData,
             b: org.apache.spark.sql.catalyst.util.ArrayData,
             aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Element-wise squared L2 distance, same accumulation discipline (and
    * same HOF-replacement rationale) as [[vecDot]]: Σ (x−y)² ascending. */
  def vecSqDist(a: org.apache.spark.sql.catalyst.util.ArrayData,
                b: org.apache.spark.sql.catalyst.util.ArrayData,
                aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  /** Deterministic Rademacher sign for (plane p, dim i): md5 hex head parity
    * — the SAME pure function `graft.sim.Ann.planeSign` defines (Ann
    * delegates here; the DuckDB `bucketSql` replays it with SQL md5). */
  def planeSign(p: Int, i: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$p|$i".getBytes("UTF-8"))
      .take(2).map(b => f"$b%02x").mkString
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
  }

  /** Sign table for up to 24 planes × 64 dims, built once per JVM. */
  private lazy val planeSignTable: Array[Array[Long]] =
    Array.tabulate(24, 64)((p, i) => planeSign(p, i))

  /** Integer-exact LSH sign-bit bucket of a float-array embedding under
    * `nPlanes` seeded hyperplanes — the codegen replacement for the
    * per-plane `aggregate(zip_with(emb, signs, floor(x·1024)·s), 0L, _+_)`
    * HOF chain (see [[vecDot]] for why). Bit-identical: Spark's
    * FLOOR(double) is `Math.floor(d).toLong` for in-range values, the
    * products and the projection sum are exact long arithmetic, and bit p
    * sets on proj ≥ 0 — exactly `Ann.lshBucket`'s former column form and
    * the generated DuckDB `bucketSql`. */
  def lshBucket64(emb: org.apache.spark.sql.catalyst.util.ArrayData, nPlanes: Int): Long = {
    val n = emb.numElements()
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val signs = planeSignTable(p)
      var proj = 0L
      var i = 0
      while (i < n) {
        proj += Math.floor(emb.getFloat(i).toDouble * 1024.0).toLong * signs(i)
        i += 1
      }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Karp-Rabin rolling-hash document fingerprint: minimum rolling hash over
    * all `window`-char windows (winnowing-style min selection), base 257 mod
    * 2^61-1. Deterministic content fingerprint robust to local edits. */
  def rollingMinHash(s: UTF8String, window: Int): Long = {
    val str = s.toString
    if (str.length < window || window <= 0) return 0L
    val MOD = (1L << 61) - 1
    val BASE = 257L
    def mulmod(a: Long, b: Long): Long = {
      // 61-bit modular multiply: 2^64 ≡ 8 and 2^61 ≡ 1 (mod 2^61-1), so
      // hi·2^64 + lo ≡ 8·hi + (lo & MOD) + (lo >>> 61)
      val hi = Math.multiplyHigh(a, b)
      val lo = a * b
      var r = (lo & MOD) + (lo >>> 61) + (hi << 3)
      while (r >= MOD) r -= MOD
      r
    }
    var pow = 1L
    var i = 0
    while (i < window - 1) { pow = mulmod(pow, BASE); i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = (mulmod(h, BASE) + str.charAt(i)) % MOD; i += 1 }
    var minH = h
    i = window
    while (i < str.length) {
      h = (h - mulmod(str.charAt(i - window), pow) % MOD + MOD) % MOD
      h = (mulmod(h, BASE) + str.charAt(i)) % MOD
      if (h < minH) minH = h
      i += 1
    }
    minH
  }
}

/** simhash64(string) → long */
case class Simhash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Simhash64 = copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** shannon_entropy(string) → double */
case class ShannonEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.shannonEntropy(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.shannonEntropy($c)")
  override protected def withNewChildInternal(newChild: Expression): ShannonEntropy = copy(child = newChild)
  override def prettyName: String = "shannon_entropy"
}

/** canonicalize_url(string) → string */
case class CanonicalizeUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.canonicalizeUrl(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.canonicalizeUrl($c)")
  override protected def withNewChildInternal(newChild: Expression): CanonicalizeUrl = copy(child = newChild)
  override def prettyName: String = "canonicalize_url"
}

/** le_u32(binary, int) → long */
case class LeU32(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(bytes: Any, offset: Any): Any =
    ExprImpl.leU32(bytes.asInstanceOf[Array[Byte]], offset.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, o) => s"graft.functions.ExprImpl.leU32($b, $o)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LeU32 =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "le_u32"
}

/** magic_format(binary) → string */
case class MagicFormat(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.magicFormat(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.magicFormat($c)")
  override protected def withNewChildInternal(newChild: Expression): MagicFormat = copy(child = newChild)
  override def prettyName: String = "magic_format"
}

/** rolling_minhash(string, window) → long */
case class RollingMinHash(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(s: Any, w: Any): Any =
    ExprImpl.rollingMinHash(s.asInstanceOf[UTF8String], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, w) => s"graft.functions.ExprImpl.rollingMinHash($s, $w)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RollingMinHash =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "rolling_minhash"
}

/** vec_dot(array<float|double>, array<float|double>) → double — see
  * [[ExprImpl.vecDot]]. Element types resolve at plan time and specialize
  * the generated call. */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.vecDot(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ExprImpl.vecDot($a, $b, ${isFloat(left)}, ${isFloat(right)})")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}

/** vec_sqdist(array<float|double>, array<float|double>) → double — see
  * [[ExprImpl.vecSqDist]]. */
case class VecSqDist(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.vecSqDist(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ExprImpl.vecSqDist($a, $b, ${isFloat(left)}, ${isFloat(right)})")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecSqDist =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_sqdist"
}

/** lsh_bucket(array<float>, nPlanes) → long — see [[ExprImpl.lshBucket64]].
  * `nPlanes` is a plan-time constant (≤ 24, the Ann geometry cap). */
case class LshBucket64(child: Expression, nPlanes: Int) extends UnaryExpression {
  require(nPlanes >= 1 && nPlanes <= 24, s"nPlanes out of range: $nPlanes")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.lshBucket64(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], nPlanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.lshBucket64($c, $nPlanes)")
  override protected def withNewChildInternal(newChild: Expression): LshBucket64 =
    copy(child = newChild)
  override def prettyName: String = "lsh_bucket"
}

/** fetch_classify(id) → struct<status:int, retried:boolean> — the crawl's
  * per-row result classification as ONE codegen'd expression (run
  * parameters are plan-time constants, not child columns). Powers the
  * fetch stage (Fetcher.run / runWithState), which keeps the hottest
  * per-row work inside whole-stage codegen with no encoder round-trip. */
case class FetchClassify(child: Expression, runId: Int, seed: Long,
                         timeoutMs: Long, conditional: Boolean) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("status", IntegerType, nullable = false),
    StructField("retried", BooleanType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.fetch.FetchKernel.classify(
      input.asInstanceOf[UTF8String], runId, seed, timeoutMs, conditional)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.fetch.FetchKernel.classify($c, $runId, ${seed}L, ${timeoutMs}L, $conditional)")
  override protected def withNewChildInternal(newChild: Expression): FetchClassify =
    copy(child = newChild)
  override def prettyName: String = "fetch_classify"
}

/** fetch_etag(id) → string — the deterministic synthetic ETag for
  * (id, runId), as an expression for the fetch stage. */
case class FetchEtag(child: Expression, runId: Int) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.fetch.FetchKernel.etag(input.asInstanceOf[UTF8String], runId)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fetch.FetchKernel.etag($c, $runId)")
  override protected def withNewChildInternal(newChild: Expression): FetchEtag =
    copy(child = newChild)
  override def prettyName: String = "fetch_etag"
}

/** Column-API + SQL registration for the custom expressions. */
object GraftFunctions {
  import org.apache.spark.sql.functions.bit_count

  def simhash64(c: Column): Column = Bridge.column(Simhash64(Bridge.expression(c)))
  def shannonEntropy(c: Column): Column = Bridge.column(ShannonEntropy(Bridge.expression(c)))
  def canonicalizeUrl(c: Column): Column = Bridge.column(CanonicalizeUrl(Bridge.expression(c)))
  def leU32(b: Column, off: Column): Column =
    Bridge.column(LeU32(Bridge.expression(b), Bridge.expression(off)))
  def rollingMinHash(s: Column, w: Column): Column =
    Bridge.column(RollingMinHash(Bridge.expression(s), Bridge.expression(w)))
  def magicFormat(b: Column): Column = Bridge.column(MagicFormat(Bridge.expression(b)))
  def vecDot(a: Column, b: Column): Column =
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))
  def vecSqDist(a: Column, b: Column): Column =
    Bridge.column(VecSqDist(Bridge.expression(a), Bridge.expression(b)))
  def lshBucket(emb: Column, nPlanes: Int): Column =
    Bridge.column(LshBucket64(Bridge.expression(emb), nPlanes))

  /** gunzip_capped as a plain UDF — cold path only (F11: validation/ETL;
    * the reference's 100× zip-bomb cap preserved). */
  def gunzipCapped(cap: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((b: Array[Byte]) => Option(ExprImpl.gunzipCapped(b, cap)))

  /** Hamming distance = popcount(xor) — built-ins only (reference
    * file_identifiers.py:75-83, simhashbucket:114-116). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Fetch classification (see Fetcher.run): one struct-producing codegen
    * expression per row instead of a typed map. */
  def fetchClassify(id: Column, runId: Int, seed: Long, timeoutMs: Long,
                    conditional: Boolean): Column =
    Bridge.column(FetchClassify(Bridge.expression(id), runId, seed, timeoutMs, conditional))

  def fetchEtag(id: Column, runId: Int): Column =
    Bridge.column(FetchEtag(Bridge.expression(id), runId))

  /** Register all custom expressions for SQL use (`SELECT simhash64(text)…`). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def info(name: String) = new ExpressionInfo("graft.functions", name)
    reg.registerFunction(FunctionIdentifier("simhash64"), info("simhash64"),
      (es: Seq[Expression]) => Simhash64(es.head))
    reg.registerFunction(FunctionIdentifier("shannon_entropy"), info("shannon_entropy"),
      (es: Seq[Expression]) => ShannonEntropy(es.head))
    reg.registerFunction(FunctionIdentifier("canonicalize_url"), info("canonicalize_url"),
      (es: Seq[Expression]) => CanonicalizeUrl(es.head))
    reg.registerFunction(FunctionIdentifier("le_u32"), info("le_u32"),
      (es: Seq[Expression]) => LeU32(es.head, es(1)))
    reg.registerFunction(FunctionIdentifier("rolling_minhash"), info("rolling_minhash"),
      (es: Seq[Expression]) => RollingMinHash(es.head, es(1)))
    reg.registerFunction(FunctionIdentifier("magic_format"), info("magic_format"),
      (es: Seq[Expression]) => MagicFormat(es.head))
  }
}
