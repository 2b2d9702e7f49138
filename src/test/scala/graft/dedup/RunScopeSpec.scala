package graft.dedup

import graft.SparkTest
import graft.core.DedupConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** RunScope's contract on a run that fails: conf restored, caches released. */
class RunScopeSpec extends AnyFunSuite with SparkTest {

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
      RunScope.textLane(input, DedupConfig.default) { (_, _) =>
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
