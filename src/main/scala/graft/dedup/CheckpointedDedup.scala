package graft.dedup

import graft.core.DedupConfig
import graft.snapshot.SnapshotLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Snapshot-aligned, resumable execution of the dedup pipeline
  * (SURVEY.md §2.2 P10; north rule "resumes from Iceberg-snapshot-aligned
  * checkpoints with per-partition lineage and accumulator metrics").
  *
  * Every stage commits its output through [[SnapshotLog]] (immutable data
  * files + versioned manifest + atomic latest pointer). A killed run leaves
  * either a fully committed snapshot (resume skips the stage) or an
  * uncommitted torn write (resume recomputes the stage) — never a half-read
  * state.
  *
  * CC is [[ConnectedComponents.run]]'s loop: its per-check callback commits
  * each round's labels as the next version of one snapshot table,
  * `labels_round_<round>` or, at the fixpoint, `labels_converged`, so a
  * kill mid-iteration resumes from the last committed round. This driver
  * never takes the `ccLocalMaxEdges` union-find shortcut of the plain
  * drivers: a driver-local contraction commits no rounds, and resume
  * granularity (and every kill at `labels_round_0`) needs them.
  *
  * Per-partition lineage = `part_rows` in each manifest; run metrics
  * (stage, rows, elapsed) are appended to `<workDir>/metrics.jsonl`.
  */
object CheckpointedDedup {

  private def metric(workDir: String, stage: String, rows: Long, ms: Long,
                     extra: String = ""): Unit = {
    Files.createDirectories(Paths.get(workDir))
    val line =
      s"""{"stage":"$stage","rows":$rows,"elapsed_ms":$ms$extra}\n"""
    Files.writeString(Paths.get(workDir, "metrics.jsonl"), line,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def stageTable(workDir: String, name: String): String = s"$workDir/$name"

  /** Compute-or-load one stage through the snapshot log. */
  private def stage(workDir: String, name: String, parents: Seq[String],
                    spark: SparkSession)(compute: => DataFrame): DataFrame = {
    val dir = stageTable(workDir, name)
    if (SnapshotLog.exists(dir)) {
      SnapshotLog.read(spark, dir)
    } else {
      val t0 = System.nanoTime()
      val snap = SnapshotLog.commit(compute, dir, name, parents)
      metric(workDir, name, snap.rows, (System.nanoTime() - t0) / 1000000)
      SnapshotLog.read(spark, dir)
    }
  }

  /** Run (or resume) the pipeline. `stopAfter` aborts after the named stage
    * commits — the kill/restart test hook. Returns assignments unless
    * stopped early. Session conf and cache release follow
    * [[RunScope.textLane]], the same as DedupPipeline.run: killed or
    * complete, the run leaves no cache behind (sym, the per-round label
    * checkpoints, their internal pins) — the returned assignments read from
    * their snapshot. */
  def run(clips: DataFrame, workDir: String,
          cfg: DedupConfig = DedupConfig.default,
          stopAfter: Option[String] = None): Option[DataFrame] =
    RunScope.textLane(clips, cfg)(runStages(clips, workDir, _, stopAfter, _))

  private def runStages(clips: DataFrame, workDir: String,
                        cfg: DedupConfig,
                        stopAfter: Option[String],
                        p: Int): Option[DataFrame] = {
    val spark = clips.sparkSession

    // a fully completed workDir is a pure read: skip straight to the
    // committed assignments instead of re-materializing sym + labels
    if (SnapshotLog.exists(stageTable(workDir, "assignments")))
      return Some(SnapshotLog.read(spark, stageTable(workDir, "assignments")))

    val features = stage(workDir, "features", Seq("input"), spark) {
      // features is a map-only projection, so its natural partitioning is
      // the input file layout (32 corpus files at n=1000); the clamp-sized
      // repartition keeps the committed table — and every downstream scan
      // of it — at p files instead of 32 near-empty ones
      DedupPipeline.features(clips, cfg).repartition(p)
    }
    if (stopAfter.contains("features")) return None
    RunScope.persist(features)
    val edges = stage(workDir, "edges", Seq("features"), spark) {
      DedupPipeline.verifiedEdges(features, DedupPipeline.candidates(features, cfg), cfg)
    }
    if (stopAfter.contains("edges")) return None

    // ---- CC rounds, one snapshot version per round -----------------------
    val labelsDir = stageTable(workDir, "labels")
    val start = SnapshotLog.latestStage(labelsDir).map(snap => ConnectedComponents.Start(
      SnapshotLog.read(spark, labelsDir).localCheckpoint(true), snap.version + 1,
      snap.stage == "labels_converged"))
    var t0 = System.nanoTime()
    val labels = ConnectedComponents.run(edges, start, onCheck = { (next, round, converged, sum) =>
      val stageName = if (converged) "labels_converged" else s"labels_round_$round"
      // `next` is already checkpointed and bit-identical to the committed
      // parquet (long columns round-trip exactly): the loop carries it
      // forward, which skips a read-back + re-materialization per round
      val snap = SnapshotLog.commit(next, labelsDir, stageName, Seq("edges"))
      metric(workDir, stageName, snap.rows, (System.nanoTime() - t0) / 1000000,
        s""","label_sum":$sum""")
      t0 = System.nanoTime()
      !stopAfter.contains(stageName)
    })
    if (stopAfter.exists(_.startsWith("labels"))) return None

    val assignments = stage(workDir, "assignments", Seq("features", "labels"), spark) {
      DedupPipeline.assignments(features, labels)
    }
    Some(assignments)
  }
}
