package graft.dedup

import graft.core.DedupConfig
import graft.snapshot.SnapshotLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Snapshot-aligned, resumable execution of the dedup pipeline
  * (SURVEY.md §2.2 P10; north rule "resumes from Iceberg-snapshot-aligned
  * checkpoints with per-partition lineage and accumulator metrics").
  *
  * Every stage commits its output through [[SnapshotLog]] (immutable data
  * files + versioned manifest + atomic latest pointer). A killed run leaves
  * either a fully committed snapshot (resume skips the stage) or an
  * uncommitted torn write (resume recomputes the stage) — never a half-read
  * state. CC label tables commit once per round into the same snapshot
  * table, so a kill mid-iteration resumes from the last completed round;
  * the converged round is marked in its manifest stage name.
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
          stopAfter: Option[String] = None,
          maxCcRounds: Int = 50): Option[DataFrame] =
    RunScope.textLane(clips, cfg)(runStages(clips, workDir, _, stopAfter, maxCcRounds, _))

  private def runStages(clips: DataFrame, workDir: String,
                        cfg: DedupConfig,
                        stopAfter: Option[String],
                        maxCcRounds: Int,
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
    val edgeRows = SnapshotLog.manifest(stageTable(workDir, "edges")).map(_.rows).getOrElse(0L)
    if (edgeRows == 0L) {
      // no duplicate pairs at all: every clip is its own singleton cluster
      import org.apache.spark.sql.types._
      val emptyLabels = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", LongType), StructField("label", LongType))))
      val assignments = stage(workDir, "assignments", Seq("features"), spark) {
        DedupPipeline.assignments(features, emptyLabels)
      }
      return Some(assignments)
    }
    var labels: DataFrame = null
    var round = 0
    var converged = false
    SnapshotLog.latestStage(labelsDir) match {
      case Some(snap) =>
        labels = SnapshotLog.read(spark, labelsDir).localCheckpoint(true)
        round = snap.version + 1
        converged = snap.stage == "labels_converged"
      case None => ()
    }
    // sym is only needed when rounds remain — an already-converged resume
    // must not pay its eager repartition+sort materialization
    lazy val sym = ConnectedComponents.checkpointedSym(edges, p)
    if (labels == null) labels = ConnectedComponents.initLabels(sym).localCheckpoint(true)
    // convergence via the monotone label-sum invariant (one scan-agg per
    // round) — exact, no per-round join (see ConnectedComponents.labelSum)
    var prevSum = if (converged) null else ConnectedComponents.labelSum(labels)
    while (!converged && round < maxCcRounds) {
      val t0 = System.nanoTime()
      val next = ConnectedComponents.step(sym, labels, eager = true)
      val s = ConnectedComponents.labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      val stageName = if (converged) "labels_converged" else s"labels_round_$round"
      val snap = SnapshotLog.commit(next, labelsDir, stageName, Seq("edges"))
      metric(workDir, stageName, snap.rows, (System.nanoTime() - t0) / 1000000,
        s""","label_sum":$s""")
      // `next` is already eagerly checkpointed and bit-identical to the
      // committed parquet (long columns round-trip exactly): carrying it
      // forward skips a read-back + re-materialization per round
      labels = next
      round += 1
      if (stopAfter.contains(stageName)) return None
    }
    if (stopAfter.exists(_.startsWith("labels"))) return None

    val assignments = stage(workDir, "assignments", Seq("features", "labels"), spark) {
      DedupPipeline.assignments(features, labels)
    }
    Some(assignments)
  }
}
