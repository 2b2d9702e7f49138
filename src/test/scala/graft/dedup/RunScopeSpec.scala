package graft.dedup

import graft.SparkTest
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** RunScope's join rule, and its contract on a run that fails: conf
  * restored, caches released. */
class RunScopeSpec extends AnyFunSuite with SparkTest {

  test("a run is pinned at its ceiling and only while the session allows broadcasts") {
    val ceiling = 1000L
    val threshold = 256L << 20
    assert(RunScope.pinned(ceiling, ceiling, threshold))
    assert(!RunScope.pinned(ceiling + 1, ceiling, threshold))
    assert(!RunScope.pinned(ceiling, ceiling, -1L))
    assert(!RunScope.pinned(ceiling + 1, ceiling, -1L))
  }

  test("lookup hints the broadcast build side only inside a pinned run") {
    val input = spark.range(10).toDF("id")
    def hinted(df: DataFrame) = df.queryExecution.analyzed.toString.contains("strategy=broadcast")
    def inRun(maxRows: Long) = RunScope(input, maxRows)(_ => Some(RunScope.lookup(input))).get
    assert(RunScope.lookup(input) eq input)
    assert(hinted(inRun(10)))
    assert(!hinted(inRun(9)))
  }

  test("a run that throws restores session conf and releases what it persisted") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val confBefore = keys.map(spark.conf.get)
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val input = spark.range(100).toDF("id")
    var cached: DataFrame = null
    var confInside = Seq.empty[String]
    intercept[IllegalStateException] {
      RunScope(input, DedupPipeline.VerifyBroadcastMaxRows) { _ =>
        confInside = keys.map(spark.conf.get)
        cached = RunScope.persist(input.selectExpr("id * 2 AS x"))
        cached.count()
        input.localCheckpoint(true)
        throw new IllegalStateException("run failed")
      }
    }
    assert(confInside == Seq("2", "false", "-1"))
    assert(keys.map(spark.conf.get) == confBefore)
    assert(sc.getPersistentRDDs.keySet == rddsBefore)
    // the CacheManager entry is gone too, not only its RDD
    assert(cached.storageLevel == StorageLevel.NONE)
  }
}
