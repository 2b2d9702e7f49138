package graft.dedup

import graft.SparkTest
import graft.core.DedupConfig
import graft.corpus.CorpusGen
import graft.snapshot.SnapshotLog
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** North-rule resumability: a run killed after any committed checkpoint
  * resumes and reproduces the uninterrupted run's assignments exactly. */
class ResumeSpec extends AnyFunSuite with SparkTest {

  private val n = 400
  private val cfg = DedupConfig.default
  // every graph here is far below the default ccLocalMaxEdges: this config
  // keeps the CC rounds on Spark
  private val sparkCfg = cfg.copy(ccLocalMaxEdges = 0)

  private def clips = CorpusGen.clips(spark, n).toDF()

  private def tmpDir(tag: String): String = tempDir(s"graft-resume-$tag")

  private def clusterOf(assign: DataFrame): Map[String, Long] =
    assign.select("clip_id", "cluster").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def assignmentsOf(workDir: String): Map[String, Long] =
    clusterOf(CheckpointedDedup.run(clips, workDir, cfg).get)

  private lazy val uninterrupted: Map[String, Long] = assignmentsOf(tmpDir("full"))

  test("uninterrupted checkpointed run matches the plain pipeline") {
    val plain = DedupPipeline.run(clips, cfg)
      .select("clip_id", "cluster").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uninterrupted == plain)
  }

  test("kill after features, resume reproduces assignments") {
    val dir = tmpDir("feat")
    assert(CheckpointedDedup.run(clips, dir, cfg, stopAfter = Some("features")).isEmpty)
    assert(SnapshotLog.exists(s"$dir/features"))
    assert(!SnapshotLog.exists(s"$dir/edges"))
    assert(assignmentsOf(dir) == uninterrupted)
  }

  test("kill after edges, resume reproduces assignments") {
    val dir = tmpDir("edges")
    assert(CheckpointedDedup.run(clips, dir, cfg, stopAfter = Some("edges")).isEmpty)
    assert(SnapshotLog.exists(s"$dir/edges"))
    assert(assignmentsOf(dir) == uninterrupted)
  }

  test("kill mid-CC (after round 0), resume reproduces assignments") {
    for (c <- Seq(cfg, sparkCfg)) {
      val dir = tmpDir("cc")
      assert(CheckpointedDedup.run(clips, dir, c, stopAfter = Some("labels_round_0")).isEmpty)
      val snap = SnapshotLog.latestStage(s"$dir/labels")
      assert(snap.exists(_.stage == "labels_round_0"))
      assert(clusterOf(CheckpointedDedup.run(clips, dir, c).get) == uninterrupted)
      // converged marker present after resume
      assert(SnapshotLog.latestStage(s"$dir/labels").exists(_.stage == "labels_converged"))
    }
  }

  test("driver and Spark CC commit identical label versions and resume each other") {
    import spark.implicits._
    def versions(c: DedupConfig): Seq[(String, Seq[(Long, Long)])] = {
      val dir = tmpDir("versions")
      assert(clusterOf(CheckpointedDedup.run(clips, dir, c).get) == uninterrupted)
      (0 to SnapshotLog.latestVersion(s"$dir/labels").get).map { v =>
        SnapshotLog.manifest(s"$dir/labels", v).get.stage ->
          SnapshotLog.read(spark, s"$dir/labels", v).as[(Long, Long)].collect().sorted.toSeq
      }
    }
    val local = versions(cfg)
    assert(local.size >= 2 && local.last._1 == "labels_converged")
    assert(local == versions(sparkCfg))
    for ((killOn, resumeOn) <- Seq((cfg, sparkCfg), (sparkCfg, cfg))) {
      val dir = tmpDir("cross")
      assert(CheckpointedDedup.run(clips, dir, killOn, stopAfter = Some("labels_round_0")).isEmpty)
      assert(clusterOf(CheckpointedDedup.run(clips, dir, resumeOn).get) == uninterrupted)
    }
  }

  test("killed and completed runs release every RDD they persisted") {
    val sc = spark.sparkContext
    val dir = tmpDir("pins")
    val before = sc.getPersistentRDDs.keySet
    assert(CheckpointedDedup.run(clips, dir, cfg, stopAfter = Some("labels_round_0")).isEmpty)
    assert(sc.getPersistentRDDs.keySet == before, "killed run left persisted RDDs")
    assert(CheckpointedDedup.run(clips, dir, cfg).isDefined)
    assert(sc.getPersistentRDDs.keySet == before, "completed run left persisted RDDs")
  }

  test("manifests carry per-partition lineage and metrics are appended") {
    val dir = tmpDir("lineage")
    assignmentsOf(dir)
    val m = SnapshotLog.manifest(s"$dir/features").get
    assert(m.rows == n)
    assert(m.partRows.sum == m.rows, "partition lineage must sum to row count")
    assert(m.partRows.nonEmpty)
    val metrics = Files.readString(Paths.get(dir, "metrics.jsonl"))
    assert(metrics.contains("\"stage\":\"features\""))
    assert(metrics.contains("\"stage\":\"labels_converged\""))
    assert(metrics.contains("\"stage\":\"assignments\""))
    // the benchmark reads these lines: stages in run order, each with its
    // row count and elapsed time
    val lines = metrics.split("\n").toSeq
    val stages = lines.map(l => "\"stage\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1))
    val rounds = stages.drop(2).dropRight(2)
    assert(stages.take(2) == Seq("features", "edges") &&
      stages.takeRight(2) == Seq("labels_converged", "assignments") &&
      rounds == rounds.indices.map(i => s"labels_round_$i"), s"stage order: $stages")
    lines.foreach(l => assert(l.matches(""".*"rows":\d+,"elapsed_ms":\d+.*"""), l))
  }

  test("a kill point CC never reaches does not stop the run") {
    val dir = tmpDir("nokill")
    val got = CheckpointedDedup.run(clips, dir, cfg, stopAfter = Some("labels_round_49"))
    assert(got.isDefined, "converged run reported as stopped")
    assert(clusterOf(got.get) == uninterrupted)
    assert(SnapshotLog.latestStage(s"$dir/labels").exists(_.stage == "labels_converged"))
  }

  test("a corpus without near-duplicates converges on the empty graph and resumes as a pure read") {
    import spark.implicits._
    // unrelated random-word transcripts: no pair passes any clause
    val rnd = new scala.util.Random(7L)
    val distinct = (0 until 6).map { i =>
      (s"solo-$i", Seq.fill(40)(rnd.alphanumeric.take(7).mkString).mkString(" "))
    }.toDF("clip_id", "transcript")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val dir = tmpDir("empty")
    val clusters = CheckpointedDedup.run(distinct, dir, cfg).get
      .select("clip_id", "cluster").as[(String, Long)].collect()
    assert(clusters.length == 6)
    assert(clusters.map(_._2).distinct.length == 6, "every clip is its own cluster")
    assert(SnapshotLog.manifest(s"$dir/edges").exists(_.rows == 0L))
    assert(SnapshotLog.latestStage(s"$dir/labels").exists(_.stage == "labels_converged"))
    assert(sc.getPersistentRDDs.keySet == before, "run left persisted RDDs")
    val v1 = SnapshotLog.latestVersion(s"$dir/assignments")
    assert(CheckpointedDedup.run(distinct, dir, cfg).get.count() == 6)
    assert(SnapshotLog.latestVersion(s"$dir/assignments") == v1, "resume must not re-commit")
  }

  test("second run over a completed workDir is a pure read (no recompute)") {
    val dir = tmpDir("idem")
    assignmentsOf(dir)
    val v1 = SnapshotLog.latestVersion(s"$dir/assignments")
    assert(assignmentsOf(dir) == uninterrupted)
    assert(SnapshotLog.latestVersion(s"$dir/assignments") == v1, "resume must not re-commit")
  }
}
