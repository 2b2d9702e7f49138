package graft.dedup

import graft.SparkTest
import graft.core.DedupConfig
import graft.corpus.CorpusGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.PlanShim
import org.scalatest.funsuite.AnyFunSuite

/** The BASELINE.json headline gate: dup-pair recall >= 0.99 of the Spark
  * pipeline vs the brute-force reference clustering at the same frozen
  * shingle/signature config (graft of the reference's oracle test method,
  * MasterFETest.java:213-275). */
class DedupPipelineSpec extends AnyFunSuite with SparkTest {

  private val n = 1000
  private val seed = 42L
  private val cfg = DedupConfig.default

  private lazy val transcripts: Array[String] = {
    val pl = CorpusGen.plan(n, seed)
    Array.tabulate(n)(i => CorpusGen.clipSpec(seed, i.toLong, pl).transcript)
  }

  private lazy val oracleClusters: Array[Int] = BruteForceOracle.clusters(transcripts, cfg)

  private lazy val clips: DataFrame = {
    import spark.implicits._
    // text-only clip frame (audio bytes not needed for clustering; the
    // pipeline only selects clip_id/transcript anyway — column pruning)
    spark.createDataset(
      transcripts.zipWithIndex.map { case (t, i) => (CorpusGen.clipId(i.toLong), t) }.toSeq
    ).toDF("clip_id", "transcript")
  }

  private def clusterOf(assign: DataFrame): Map[String, Long] =
    assign.select("clip_id", "cluster").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private lazy val defaultAssign: Map[String, Long] = clusterOf(DedupPipeline.run(clips, cfg))

  /** Clusters relabelled as int group ids in clip order, for comparison. */
  private def groups(assign: Map[String, Long]): Array[Int] = {
    val labels = Array.tabulate(n)(i => assign(CorpusGen.clipId(i.toLong)))
    val remap = labels.distinct.zipWithIndex.toMap
    labels.map(remap)
  }

  private lazy val pipelineClusters: Array[Int] = groups(defaultAssign)

  test("oracle finds a non-trivial planted cluster structure") {
    val groups = oracleClusters.groupBy(identity).map(_._2.length)
    assert(groups.count(_ > 1) >= 20, "expected many multi-member clusters")
    assert(groups.max >= 30, "expected a giant cluster (skew case)")
  }

  test("dup-pair recall >= 0.99 vs brute-force reference clustering") {
    val recall = BruteForceOracle.pairRecall(oracleClusters, pipelineClusters)
    info(s"dup-pair recall = $recall")
    assert(recall >= 0.99, s"recall $recall < 0.99")
  }

  test("the exact pair generator at a bucket cap of 8 keeps dup-pair recall >= 0.99") {
    // maxBucketSize = 8: CandidatePairs.pairsPacked salts the buckets of
    // every planted cluster above 8 members, the giant one of 30+ included
    val salted = clusterOf(DedupPipeline.run(clips, cfg.copy(maxBucketSize = 8)))
    val recall = BruteForceOracle.pairRecall(oracleClusters, groups(salted))
    info(s"bucket cap 8 dup-pair recall = $recall")
    assert(recall >= 0.99, s"recall $recall < 0.99")
  }

  test("no false merges: every pipeline co-clustered pair is oracle co-clustered") {
    // verification applies the exact predicate, so pipeline pairs are a
    // subset of oracle pairs and transitive closure cannot exceed it
    val precision = BruteForceOracle.pairRecall(pipelineClusters, oracleClusters)
    info(s"pair precision = $precision")
    assert(precision == 1.0, s"pipeline merged non-duplicate clips (precision $precision)")
  }

  test("run() self-cleans: no internal cache survives, only the returned checkpoints") {
    import spark.implicits._
    val clips = spark.createDataset(
      transcripts.take(200).zipWithIndex.map { case (t, i) => (CorpusGen.clipId(i.toLong), t) }.toSeq
    ).toDF("clip_id", "transcript")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out1 = DedupPipeline.run(clips, cfg)
    assert(out1.count() == 200)
    val out2 = DedupPipeline.run(clips, cfg)
    assert(out2.count() == 200)
    // the audio lane runs the same stage graph under its own scope
    val out3 = AudioDedup.run(CorpusGen.clips(spark, 200).toDF(), cfg)
    assert(out3.count() == 200)
    val keep = Seq(out1, out2, out3).flatMap(PlanShim.checkpointRddIds).toSet
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before -- keep
    assert(leaked.isEmpty,
      s"pipeline leaked persistent RDDs: $leaked (VERDICT r2 #2 regression)")
  }

  test("above the broadcast ceiling both text drivers verify without broadcasts, same assignments") {
    val dir = tempDir("graft-ceiling")
    for ((driver, run) <- Seq[(String, () => DataFrame)](
        "DedupPipeline" -> (() => DedupPipeline.run(clips, cfg)),
        "CheckpointedDedup" -> (() => CheckpointedDedup.run(clips, dir, cfg).get))) {
      val (assign, plans) = plansWith("graft_jaccard_ge") {
        RunScope.withConf(spark, NoBroadcasts)(clusterOf(run()))
      }
      assert(plans.nonEmpty, s"$driver: no verify plan captured")
      plans.foreach(plan => assert(!plan.contains("BroadcastExchange"),
        s"$driver verified through a broadcast above the ceiling:\n$plan"))
      assert(assign == defaultAssign, s"$driver assignments differ above the ceiling")
    }
  }

  test("truncation (substring) pairs are recovered via the winnowing lane") {
    val pl = CorpusGen.plan(n, seed)
    val truncIdx = (0 until n).filter { i =>
      CorpusGen.clipSpec(seed, i.toLong, pl).perturbation == "trunc"
    }
    assert(truncIdx.nonEmpty, "corpus should contain truncated members")
    val recovered = truncIdx.count { i =>
      val canonIdx = (0 until n).find(j =>
        pl.clusterOf(j) == pl.clusterOf(i) && pl.memberIdxOf(j) == 0)
      canonIdx.exists(c => pipelineClusters(c) == pipelineClusters(i) ||
        oracleClusters(c) != oracleClusters(i)) // only count oracle-co-clustered ones
    }
    assert(recovered.toDouble / truncIdx.size >= 0.99,
      s"only $recovered/${truncIdx.size} truncation members recovered")
  }

  test("driver and Spark CC executors agree on a hand-built graph") {
    import spark.implicits._
    // chain + triangle + singleton-edge + high-id star: covers hooking,
    // transitivity, and label-min-through-intermediate cases
    val edges = Seq(
      (5L, 3L), (3L, 9L), (9L, 7L), // chain with min in the middle
      (20L, 21L), (21L, 22L), (20L, 22L), // triangle
      (40L, 41L), // pair
      (100L, 50L), (100L, 60L), (100L, 70L) // star centered on a non-min id
    ).toDF("a", "b")
    val local = ConnectedComponents.run(edges, cfg)
      .as[(Long, Long)].collect().sorted.toSeq
    val dist = ConnectedComponents.run(edges, cfg.copy(ccLocalMaxEdges = 0))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(local == dist)
    assert(local.toMap.apply(7L) == 3L) // chain contracts to the min id
    assert(local.toMap.apply(100L) == 50L)
  }
}
