package graft.frontier

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.{CacheScope, Ids}

class FrontierSpec extends SparkSpec {
  import spark.implicits._

  private def ids(lo: Int, hi: Int, step: Int = 1) = (lo until hi by step).map(i => Ids.syntheticId(i.toLong))

  test("a built frontier reads its cached known set: collecting it shuffles nothing") {
    // a seen store whose epoch covers the known ids: one url_seen version
    // (the store validates against the manifest listing only) and one roll
    val dir = tempDir("graft-frontier")
    val store = new SeenStore(dir, expectedKeys = 1 << 16)
    Files.createDirectories(Paths.get(dir, "url_seen", "manifests"))
    Files.write(Paths.get(dir, "url_seen", "manifests", "v000001.json"), "{}".getBytes("UTF-8"))
    val knownHashes = spark.createDataset(ids(0, 600)).select(SeenSet.idHash(col("value"))).as[Long]
    store.commitRun(spark, knownHashes, 600, seenVersion = 1, knownHashes, 600)
    assert(store.loadProbe(spark).isDefined)

    // forum ids inside the known ids, inside the discovered ids, and past both
    val forum = ids(0, 1000, step = 50)
    Seq(None, Some(store)).foreach { s =>
      countingGroup("frontier-shuffle") { c =>
        CacheScope.withScope {
          val frontier = Frontier.buildWorklist(spark, spark.createDataset(ids(0, 600)),
            spark.createDataset(forum), spark.createDataset(ids(300, 900)),
            maxNew = 1000, runId = 2, store = s)
          c.reset()
          val rows = frontier.collect()
          c.settle()
          assert(rows.length == 902 && rows.count(_.forums) == forum.size)
          assert(c.shuffleBytes.get() == 0L,
            s"store=${s.isDefined}: collecting the frontier shuffled ${c.shuffleBytes.get()} bytes")
          assert(c.stages.get() == 1, s"store=${s.isDefined}: collecting ran ${c.stages.get()} stages")
        }
      }
    }
  }
}
