package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // ---- simhash64 (reference semantics: file_identifiers.py:54-72) ----

  test("simhash64: deterministic and similarity-preserving") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy dot", // 1-char edit
      "completely different content zzz qqq 12345").toDF("s")
      .select(GraftFunctions.simhash64(col("s")).as("h"))
    val Array(a, b, c) = df.collect().map(_.getLong(0))
    assert(a != 0L && b != 0L && c != 0L)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, b) < ham(a, c), s"near-dup should be closer: ${ham(a, b)} vs ${ham(a, c)}")
    // SQL registration path produces identical values
    val viaSql = spark.sql("SELECT simhash64('the quick brown fox jumps over the lazy dog')").head().getLong(0)
    assert(viaSql == a)
  }

  test("simhash64: case/punctuation-insensitive (lowercase + strip non-word)") {
    val df = Seq(("Hello, World! 42", "hello world 42")).toDF("a", "b")
      .select(GraftFunctions.simhash64(col("a")), GraftFunctions.simhash64(col("b")))
    val r = df.head()
    assert(r.getLong(0) == r.getLong(1))
  }

  test("simhash64: short/empty input yields 0") {
    val r = Seq("", "ab", "a b ").toDF("s")
      .select(GraftFunctions.simhash64(col("s"))).collect().map(_.getLong(0))
    assert(r.forall(_ == 0L))
  }

  // ---- shannon_entropy (extgrep:38-52) ----

  test("shannon_entropy: hand-computed vectors") {
    val rows = Seq("aaaa", "abab", "abcd", "", "!!!").toDF("s")
      .select(GraftFunctions.shannonEntropy(col("s"))).collect().map(_.getDouble(0))
    assert(math.abs(rows(0) - 0.0) < 1e-12)      // single symbol
    assert(math.abs(rows(1) - 1.0) < 1e-12)      // two symbols equal freq
    assert(math.abs(rows(2) - 2.0) < 1e-12)      // four symbols equal freq
    assert(rows(3) == 0.0 && rows(4) == 0.0)     // nothing alphanumeric
  }

  test("shannon_entropy: likely-hash heuristic (entropy>2 and >=5 digits)") {
    val hash = "d41d8cd98f00b204e9800998ecf8427e"
    val word = "session"
    val e = Seq(hash, word).toDF("s")
      .select(GraftFunctions.shannonEntropy(col("s"))).collect().map(_.getDouble(0))
    assert(e(0) > 2.0 && e(1) < 3.0)
  }

  // ---- canonicalize_url (north rule F4) ----

  test("canonicalize_url: variants collapse to one canonical form") {
    val urls = Seq(
      "HTTP://Example.COM:80/path/",
      "http://example.com/path",
      "http://example.com/path#frag",
      "http://example.com/path?b=2&a=1",
      "https://Example.com:443/")
    val out = urls.toDF("u").select(GraftFunctions.canonicalizeUrl(col("u"))).collect().map(_.getString(0))
    assert(out(0) == "http://example.com/path")
    assert(out(1) == "http://example.com/path")
    assert(out(2) == "http://example.com/path")
    assert(out(3) == "http://example.com/path?a=1&b=2")
    assert(out(4) == "https://example.com/")
    // idempotence
    val again = out.toSeq.toDF("u").select(GraftFunctions.canonicalizeUrl(col("u"))).collect().map(_.getString(0))
    assert(again.toSeq == out.toSeq)
  }

  // ---- le_u32 (crx.py:66-79 header decode) ----

  test("le_u32: little-endian u32 incl. max value and out-of-bounds") {
    val bytes = Array[Byte]('C', 'r', '2', '4', 2, 0, 0, 0, -1, -1, -1, -1)
    val df = Seq((bytes, 4), (bytes, 8), (bytes, 100)).toDF("b", "o")
      .select(GraftFunctions.leU32(col("b"), col("o")).as("v"))
    val vs = df.collect().map(_.getLong(0))
    assert(vs(0) == 2L)
    assert(vs(1) == 0xFFFFFFFFL) // unsigned max, not -1
    assert(vs(2) == -1L)         // OOB sentinel
  }

  test("le_u32: crx header layout decodes magic+version") {
    // Cr24 | version=3 | header_len=16
    val hdr = Array[Byte]('C', 'r', '2', '4', 3, 0, 0, 0, 16, 0, 0, 0)
    val df = Seq(hdr).toDF("b").select(
      GraftFunctions.leU32(col("b"), lit(4)).as("version"),
      GraftFunctions.leU32(col("b"), lit(8)).as("hlen"))
    val r = df.head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 16L)
  }

  // ---- rolling_minhash ----

  test("rolling_minhash: shift-invariant for shared windows, deterministic") {
    val base = "abcdefghijklmnopqrstuvwxyz0123456789"
    val df = Seq(
      ("XX" + base, 12), (base + "YY", 12), // share all windows of base
      ("totally different string content here", 12)).toDF("s", "w")
      .select(GraftFunctions.rollingMinHash(col("s"), col("w")).as("h"))
    val Array(a, b, c) = df.collect().map(_.getLong(0))
    // the min window-hash of the shared region usually survives both edits
    assert(a != 0 && b != 0 && c != 0)
    assert(a != c)
    // exact repeat → exact same fingerprint
    val a2 = Seq(("XX" + base, 12)).toDF("s", "w")
      .select(GraftFunctions.rollingMinHash(col("s"), col("w"))).head().getLong(0)
    assert(a2 == a)
  }

  test("custom expressions stay codegen-compatible (no fallback)") {
    // use a parquet scan so ConvertToLocalRelation can't pre-evaluate the plan
    val df = spark.read.parquet(s"$sf0001/documents.parquet").select(
      GraftFunctions.simhash64(col("text")),
      GraftFunctions.shannonEntropy(col("text")),
      GraftFunctions.canonicalizeUrl(col("text")))
    // the Project with our exprs must sit inside a WholeStageCodegen span
    // (rendered as "*(n)" in the simple plan string)
    val plan = df.queryExecution.executedPlan
    val hasWscg = plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasWscg, plan.toString)
    assert(df.collect().length > 0) // and the generated code actually runs
  }

  // ---- magic_format (F13 libmagic-style sniff) ----

  test("magic_format: identifies png/jpg/gif/gzip/zip/crx prefixes") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A)
    val jpg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)
    val gif = "GIF89a".getBytes
    val gz = Array[Byte](0x1F, 0x8B.toByte, 8)
    val zip = Array[Byte]('P', 'K', 3, 4)
    val crx = "Cr24____".getBytes
    val junk = "hello".getBytes
    val out = Seq(png, jpg, gif, gz, zip, crx, junk).toDF("b")
      .select(GraftFunctions.magicFormat(col("b"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("png", "jpg", "gif", "gzip", "zip", "crx", "unknown"))
  }

  test("magic_format agrees with the payload generator's fmt column") {
    val ids = (0 until 40).map(i => graft.core.Ids.syntheticId(i.toLong))
    val rows = ids.map(graft.fetch.Payload.imageRow)
    val df = rows.map(r => (r.fmt, r.bytes)).toDF("fmt", "b")
      .select(col("fmt"), GraftFunctions.magicFormat(col("b")).as("sniffed"))
    assert(df.filter(col("fmt") =!= col("sniffed")).count() == 0)
  }

  // ---- gunzip_capped (F11 + zip-bomb guard) ----

  test("gunzip_capped: round-trips gzip and enforces the expansion cap") {
    def gzipBytes(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes); g.close(); bos.toByteArray
    }
    val small = gzipBytes("hello graft world")
    val bomb = gzipBytes("a" * 1000000) // ~1 KB gz → 1 MB out: >100× expansion
    val df = Seq(small, bomb, "not gzip".getBytes).toDF("b")
      .select(GraftFunctions.gunzipCapped(100)(col("b")).as("out"))
    val rows = df.collect()
    assert(new String(rows(0).getAs[Array[Byte]]("out")) == "hello graft world")
    assert(rows(1).isNullAt(0), "zip bomb must be rejected by the 100x cap")
    assert(rows(2).isNullAt(0), "bad input yields null, not an exception")
  }

  // ---- hamming via built-ins (F3) ----
  test("hamming distance = bit_count(xor)") {
    val r = Seq((0xFFL, 0x0FL)).toDF("a", "b")
      .select(GraftFunctions.hamming(col("a"), col("b"))).head()
    assert(r.getInt(0) == 4)
  }
}
