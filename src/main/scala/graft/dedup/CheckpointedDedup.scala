package graft.dedup

import graft.core.DedupConfig
import graft.snapshot.SnapshotLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Snapshot-aligned, resumable execution of the dedup pipeline
  * (SURVEY.md §2.2 P10; north rule "resumes from Iceberg-snapshot-aligned
  * checkpoints with per-partition lineage and accumulator metrics").
  *
  * The text lane through [[DedupPipeline.stages]], as DedupPipeline.run,
  * under a committing policy: every stage commits its output through
  * [[SnapshotLog]] (immutable data files + versioned manifest + atomic
  * latest pointer) and reads it back. A killed run leaves either a fully
  * committed snapshot (resume skips the stage) or an uncommitted torn write
  * (resume recomputes the stage) — never a half-read state.
  *
  * CC is [[ConnectedComponents.run]]'s loop: its per-check callback commits
  * each round's labels as the next version of one snapshot table,
  * `labels_round_<round>` or, at the fixpoint, `labels_converged`, so a
  * kill mid-iteration resumes from the last committed round. Its executor
  * is chosen from the committed edges' row count, and both executors
  * commit the same tables, so a run may resume on the other one.
  *
  * Per-partition lineage = `part_rows` in each manifest; run metrics
  * (stage, rows, elapsed) are appended to `<workDir>/metrics.jsonl`.
  */
object CheckpointedDedup {

  /** Run (or resume) the pipeline. `stopAfter` is the kill/restart test
    * hook: the run returns None once the named stage (`features`, `edges`,
    * `labels_round_<k>`, `labels_converged`, `assignments`) is committed or
    * read back; a CC that never commits that round runs to the end. Session
    * conf, join policy and cache release follow [[RunScope]] at the text
    * lane's ceiling: killed or complete, the run leaves no cache behind —
    * the returned assignments read from their snapshot. */
  def run(clips: DataFrame, workDir: String,
          cfg: DedupConfig = DedupConfig.default,
          stopAfter: Option[String] = None): Option[DataFrame] =
    RunScope(clips, DedupPipeline.VerifyBroadcastMaxRows) { p =>
      val done = s"$workDir/assignments"
      // a fully completed workDir is a pure read: skip straight to the
      // committed assignments instead of re-materializing sym + labels
      if (SnapshotLog.exists(done)) Some(SnapshotLog.read(clips.sparkSession, done))
      else DedupPipeline.stages(clips, new Committed(clips.sparkSession, workDir, p, cfg, stopAfter))(
        DedupPipeline.features(_, cfg),
        f => DedupPipeline.verifiedEdges(f, DedupPipeline.candidates(f, cfg), cfg))
    }

  private final class Committed(spark: SparkSession, workDir: String, p: Int, cfg: DedupConfig,
                                stopAfter: Option[String]) extends DedupPipeline.Materialize {

    // features is a map-only projection laid out like the input files (32
    // corpus files at n=1000): the clamp-sized repartition keeps the table
    // and every downstream scan of it at p files, not 32 near-empty ones
    def features(compute: => DataFrame) =
      stage("features", "input")(compute.repartition(p)).map(RunScope.persist)

    def edges(compute: => DataFrame) = stage("edges", "features")(compute)

    def labels(edges: DataFrame) = {
      val dir = s"$workDir/labels"
      val start = SnapshotLog.latestStage(dir).map(snap => ConnectedComponents.Start(
        SnapshotLog.read(spark, dir), snap.version + 1, snap.stage == "labels_converged"))
      var stopped = false
      var t0 = System.nanoTime()
      val rows = SnapshotLog.manifest(s"$workDir/edges").map(_.rows)
      val labels = ConnectedComponents.run(edges, cfg, start, rows, { (next, round, converged, sum) =>
        val name = if (converged) "labels_converged" else s"labels_round_$round"
        // the loop carries its own state forward, bit-identical to the
        // committed parquet (long columns round-trip exactly), which skips
        // a read-back + re-materialization per round
        metric(name, SnapshotLog.commit(next, dir, name, Seq("edges")).rows, t0, s""","label_sum":$sum""")
        t0 = System.nanoTime()
        stopped = stopAfter.contains(name)
        !stopped
      })
      if (stopped) None else Some(labels)
    }

    def assignments(compute: => DataFrame) = stage("assignments", "features", "labels")(compute)

    /** Compute-or-load one stage through the snapshot log; None if the run
      * stops after it. */
    private def stage(name: String, parents: String*)(compute: => DataFrame): Option[DataFrame] = {
      val dir = s"$workDir/$name"
      val t0 = System.nanoTime()
      if (!SnapshotLog.exists(dir)) metric(name, SnapshotLog.commit(compute, dir, name, parents).rows, t0)
      val out = SnapshotLog.read(spark, dir)
      if (stopAfter.contains(name)) None else Some(out)
    }

    private def metric(name: String, rows: Long, t0: Long, extra: String = ""): Unit =
      Files.writeString(Paths.get(workDir, "metrics.jsonl"),
        s"""{"stage":"$name","rows":$rows,"elapsed_ms":${(System.nanoTime() - t0) / 1000000}$extra}\n""",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
