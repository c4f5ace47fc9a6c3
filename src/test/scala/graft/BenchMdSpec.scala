package graft

import org.scalatest.funsuite.AnyFunSuite

/** BENCH.md regeneration: `Bench` replaces the text above the rule before
  * the hand-maintained archive and keeps the archive byte for byte. */
class BenchMdSpec extends AnyFunSuite {

  // rules, tables and odd whitespace inside the archive must all survive
  private val archive =
    "---\n\n## Hand-maintained archive\n\nNOT regenerated.\n\n| a | 100% |\n|---|---|\n" +
      "trailing spaces  \r\nwindows line\r\n\n---\n\n### Later section\nno final newline"

  test("splice replaces the head and keeps the archive byte for byte") {
    // the old head has a rule of its own: only the one right before the
    // archive heading starts the kept tail
    val old = "# BENCH (old)\n\n| 2 | 9.0 |\n\n---\n\nan older rule\n\n" + archive
    val head = "# BENCH\n\n| q01 | 0.125 |\n\n"
    val spliced = Bench.spliceBenchMd(head, Some(old))
    assert(spliced == head + archive)
    // regenerating again over the result changes nothing
    assert(Bench.spliceBenchMd(head, Some(spliced)) == spliced)
  }

  test("without a file, or a file without an archive, the head is the whole file") {
    val head = "# BENCH\n\n| q01 | 0.125 |\n\n"
    assert(Bench.spliceBenchMd(head, None) == head)
    assert(Bench.spliceBenchMd(head, Some("# BENCH (old)\n\n---\n\nno archive\n")) == head)
  }
}
