package graft.frontier

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.{CacheScope, Ids}

class FrontierSpec extends SparkSpec {
  import spark.implicits._

  private def ids(lo: Int, hi: Int, step: Int = 1) = (lo until hi by step).map(i => Ids.syntheticId(i.toLong))

  /** A seen store whose epoch covers ids [0, 600), with a valid probe: one
    * url_seen version (the store validates against the manifest listing
    * only) and one roll. */
  private lazy val store: SeenStore = {
    val dir = tempDir("graft-frontier")
    val store = new SeenStore(dir, expectedKeys = 1 << 16)
    Files.createDirectories(Paths.get(dir, "url_seen", "manifests"))
    Files.write(Paths.get(dir, "url_seen", "manifests", "v000001.json"), "{}".getBytes("UTF-8"))
    val knownHashes = spark.createDataset(ids(0, 600)).select(SeenSet.idHash(col("value"))).as[Long]
    store.commitRun(spark, knownHashes, 600, seenVersion = 1, knownHashes, 600)
    assert(store.loadProbe(spark).isDefined)
    store
  }

  // forum ids inside the known ids, inside the discovered ids, and past both
  private val forum = ids(0, 1000, step = 50)

  /** Known ids [0, 600), discovered [300, 900), a cap that does not bind:
    * 902 work-list rows. */
  private def worklist(store: Option[SeenStore]) =
    Frontier.buildWorklist(spark, spark.createDataset(ids(0, 600)),
      spark.createDataset(forum), spark.createDataset(ids(300, 900)),
      maxNew = 1000, runId = 2, store = store)

  test("building the work-list submits no job; its entries merge the sources") {
    Seq(None, Some(store)).foreach { s =>
      countingGroup("frontier-build") { c =>
        CacheScope.withScope {
          c.reset()
          val w = worklist(s)
          c.settle()
          assert(c.jobs.get() == 0, s"store=${s.isDefined}: building the work-list ran ${c.jobs.get()} jobs")
          val rows = w.entries.collect()
          assert(rows.length == 902 && rows.map(_.id).distinct.length == 902)
          assert(rows.count(_.forums) == forum.size)
        }
      }
    }
  }

  test("one work-list aggregate: two jobs, no probe, broadcast or anti-join") {
    // with and without a store whose probe would load: the store is not read
    Seq(None, Some(store)).foreach { s =>
      countingGroup("frontier-work") { c =>
        CacheScope.withScope {
          c.reset()
          val rows = worklist(s).entries.collect()
          c.settle()
          assert(rows.length == 902 && rows.count(_.forums) == forum.size)
          // adaptive execution runs the aggregate's exchange as its own
          // job; the collect, with the cap's sort, is the other (the
          // probe-and-anti-join build ran 13 without a store, 11 with one)
          assert(c.jobs.get() <= 2, s"store=${s.isDefined}: building and collecting ran ${c.jobs.get()} jobs")
          assert(c.plans.nonEmpty)
          for (op <- Seq("BroadcastHashJoin", "LeftAnti", "bloom_might_contain"); p <- c.plans)
            assert(!p.contains(op), s"store=${s.isDefined}: an executed plan has $op:\n$p")
        }
      }
    }
  }
}
