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
    * stopped early.
    *
    * Cache lifecycle: every RDD the run persists (sym, the per-round label
    * checkpoints, their internal pins) is released before it returns, killed
    * or complete — the returned assignments read from their snapshot. */
  def run(clips: DataFrame, workDir: String,
          cfg: DedupConfig = DedupConfig.default,
          stopAfter: Option[String] = None,
          maxCcRounds: Int = 50): Option[DataFrame] = {
    // same session scoping AND the same broadcast graceful degrade as
    // DedupPipeline.run (ADVICE r3): the composed stages carry explicit
    // broadcast hints, so AQE re-planning is pure serial latency at pinned
    // scale and the static planner must not broadcast per-round label
    // tables (O(vertices) — see ConnectedComponents.run); but above the
    // row ceiling the broadcast pin must fall back to AQE-chosen joins —
    // a resumable run over a huge corpus degrades to sort-merge, it does
    // not OOM the build side where the non-checkpointed path would not.
    val spark = clips.sparkSession
    val nRows = clips.count()
    val cfgEff =
      if (cfg.broadcastLookups && nRows > cfg.broadcastLookupMaxRows)
        cfg.copy(broadcastLookups = false)
      else cfg
    // Size shuffle parallelism to the INPUT, mirroring DedupPipeline.run:
    // on a session sized for a big corpus (e.g. 32 partitions), a small
    // checkpointed run otherwise schedules ~100 stages of 32 near-empty
    // tasks each — measured at n=1000: ~80% of the lifecycle's task CPU was
    // fixed per-task cost (parquet reader init, task deser), not work. The
    // clamp is scale-adaptive (min(session, rows/2000+1)): at production
    // row counts it is a no-op and the session's own sizing wins.
    val pKey = "spark.sql.shuffle.partitions"
    val prevP = spark.conf.get(pKey)
    val p = math.max(2L, math.min(prevP.toLong, nRows / 2000L + 1L)).toInt
    spark.conf.set(pKey, p.toString)
    val aqeKey = "spark.sql.adaptive.enabled"
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAqe = spark.conf.getOption(aqeKey)
    val prevBc = spark.conf.getOption(bcKey)
    if (cfgEff.broadcastLookups) spark.conf.set(aqeKey, "false")
    spark.conf.set(bcKey, "-1")
    val sc = spark.sparkContext
    val preexisting = sc.getPersistentRDDs.keySet
    try runStages(clips, workDir, cfgEff, stopAfter, maxCcRounds, p)
    finally {
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!preexisting.contains(id)) rdd.unpersist(blocking = false)
      }
      spark.conf.set(pKey, prevP)
      prevAqe match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None => spark.conf.unset(aqeKey)
      }
      prevBc match {
        case Some(v) => spark.conf.set(bcKey, v)
        case None => spark.conf.unset(bcKey)
      }
    }
  }

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
    features.persist()
    // every exit below releases the features cache: the returned
    // assignments read from their committed snapshot, and a leaked entry
    // would otherwise be served (via CacheManager plan-matching) to the
    // NEXT lifecycle over the same workDir path
    try runCc(clips, workDir, cfg, stopAfter, maxCcRounds, p, features)
    finally features.unpersist(blocking = false)
  }

  private def runCc(clips: DataFrame, workDir: String, cfg: DedupConfig,
                    stopAfter: Option[String], maxCcRounds: Int, p: Int,
                    features: DataFrame): Option[DataFrame] = {
    val spark = clips.sparkSession
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
    lazy val sym = ConnectedComponents.checkpointedSym(edges, math.max(2, p))
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
