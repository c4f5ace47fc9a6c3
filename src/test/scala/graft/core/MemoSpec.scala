package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Memo]]: nested builds, tag separation, retry after a failed build, and
  * one build per key. The stopped-session sweep of [[Memo.inSession]] is
  * not covered here: it needs a session stopped under the suite's shared
  * one. Keys carry a per-run nonce, since the memo lives for the JVM. */
class MemoSpec extends AnyFunSuite {
  private val run = java.util.UUID.randomUUID().toString

  test("a build that memoizes another key returns both values") {
    val inner = new AtomicInteger
    val outer = Memo("memospec.outer", run) {
      Memo("memospec.inner", run) { inner.incrementAndGet(); 2 } + 1
    }
    assert(outer == 3)
    assert(Memo[Int]("memospec.inner", run)(fail("built twice")) == 2)
    assert(inner.get == 1)
  }

  test("two tags with equal parameters build separately") {
    assert(Memo("memospec.a", run, 8, 16, 2)("a") == "a")
    assert(Memo("memospec.b", run, 8, 16, 2)("b") == "b")
    assert(Memo("memospec.a", run, 8, 16, 2)("b") == "a")
    // and one tag with different parameters
    assert(Memo("memospec.a", run, 8, 16, 3)("c") == "c")
  }

  test("a build that throws is retried on the next call") {
    val calls = new AtomicInteger
    def build(): Int = {
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      7
    }
    intercept[IllegalStateException](Memo("memospec.retry", run)(build()))
    assert(Memo("memospec.retry", run)(build()) == 7)
    assert(Memo("memospec.retry", run)(build()) == 7)
    assert(calls.get == 2)
  }

  test("each key builds once over repeated calls") {
    val calls = new AtomicInteger
    val threads = (1 to 4).map { _ =>
      new Thread(() => (1 to 50).foreach(i => Memo("memospec.once", run, i % 5)(calls.incrementAndGet())))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(calls.get == 5)
  }
}
