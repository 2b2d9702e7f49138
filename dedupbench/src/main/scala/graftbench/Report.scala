package graftbench

import graft.dedup.DedupPipeline
import graftbench.ChainsWorkload.ChainOp
import graftbench.QueriesWorkload.Pass
import org.apache.spark.sql.DataFrame

/** Per-layer metrics of a traced run. Every workload prints the same names;
  * a layer a workload does not exercise reads 0. Figures are per op (the
  * mean over the traced ops of the run). */
object Report {

  private def zeroAll(r: Runner): Unit =
    Metrics.perLayer.foreach { case (name, unit) => r.metric(name, 0.0, unit) }

  private def put(r: Runner, name: String, v: Double): Unit = {
    val unit = Metrics.perLayer.getOrElse(name, sys.error(s"undeclared per-layer metric $name"))
    r.metric(name, v, unit)
  }

  /** Wall, task, driver and job figures of one layer, per op. */
  private def layer(r: Runner, prefix: String, spans: Seq[Span],
                    jobSpan: Map[Int, Span], ops: Int): Unit = {
    val s = Layers.stats(r.log, jobSpan, spans)
    val k = math.max(1, ops).toDouble
    put(r, s"$prefix.wall_s", s.wallS / k)
    put(r, s"$prefix.task_cpu_s", s.taskCpuS / k)
    put(r, s"$prefix.driver_s", s.driverS / k)
    put(r, s"$prefix.jobs", s.jobs / k)
    if (Metrics.perLayer.contains(s"$prefix.par_use")) put(r, s"$prefix.par_use", Layers.parUse(s, r.cfg.cores))
    if (Metrics.perLayer.contains(s"$prefix.shuffle_write_mb")) put(r, s"$prefix.shuffle_write_mb", s.shuffleWriteMb / k)
    if (Metrics.perLayer.contains(s"$prefix.task_skew")) put(r, s"$prefix.task_skew", s.taskSkew)
  }

  /** Tracing cost: traced minus plain op wall (medians), and the part of a
    * traced op's wall no layer span covers. */
  private def overhead(r: Runner, tracedWalls: Seq[Double], plainWalls: Seq[Double],
                       opSpans: Seq[Span]): Unit = {
    val spans = r.tracer.spans.toSeq
    val lv = Layers.leaves(spans)
    def covered(op: Span): Double =
      lv.filter(s => s.op == op.op && s.startMs >= op.startMs && s.endMs <= op.endMs).map(_.wallS).sum
    val byOp = opSpans.groupBy(_.op).values.map { ss =>
      ss.map(_.wallS).sum - ss.map(covered).sum
    }.toSeq
    put(r, "trace.overhead_s", Stats.median(tracedWalls) - Stats.median(plainWalls))
    put(r, "trace.unattributed_s", Stats.median(byOp))
    put(r, "trace.ops", tracedWalls.size.toDouble)
  }

  private def spark(r: Runner, ops: Int, leaked: Int, spans: Seq[Span], jobSpan: Map[Int, Span]): Unit = {
    val all = Layers.stats(r.log, jobSpan, Layers.leaves(spans))
    val k = math.max(1, ops).toDouble
    put(r, "spark.gc_s", r.gcDuringWindowS / math.max(1, r.opsInWindow))
    put(r, "spark.spill_mb", all.spillMb / k)
    put(r, "spark.leaked_rdds", leaked.toDouble)
  }

  /** Task-busy milliseconds inside [a, b]. */
  private def busy(r: Runner, a: Double, b: Double): Double =
    Layers.unionLen(r.log.synchronized(r.log.tasks.map(t =>
      (t.launchMs.toDouble, t.finishMs.toDouble)).toSeq), a, b)

  // -------------------------------------------------------------- chains

  /** Rebuild each traced call's layer spans from the program's stage log:
    * stage i covers (end of stage i-1, commit of stage i], so the spans tile
    * the call. The stretch a resume spends before its first new commit
    * (manifest listing, snapshot reads, label reload) is the snapshot
    * layer's read time. */
  private def stageSpans(r: Runner, op: ChainOp): Unit = {
    val byId = r.tracer.spans.map(s => s.id -> s).toMap
    def layerOf(stage: String): String =
      if (stage == "features") "features"
      else if (stage == "edges") "edges"
      else if (stage.startsWith("labels")) "cc"
      else "assign"
    Seq(op.killSpan -> false, op.resumeSpan -> true).foreach { case (id, isResume) =>
      val call = byId(id)
      val lines = op.stages.filter(l => l.committedMs >= call.startMs - 1 && l.committedMs <= call.endMs + 1)
        .sortBy(_.committedMs)
      var prev = call.startMs
      lines.zipWithIndex.foreach { case (l, i) =>
        val end = math.min(call.endMs, math.max(prev, l.committedMs.toDouble))
        val start = math.max(prev, end - l.elapsedMs)
        if (i == 0 && isResume && start > prev) {
          r.tracer.addSpan("snapshot", "read", id, prev, start)
          prev = start
        }
        val last = i == lines.size - 1
        r.tracer.addSpan(layerOf(l.stage), l.stage, id, prev, if (last) call.endMs else end)
        prev = end
      }
    }
  }

  def chainLayers(r: Runner, clips: DataFrame, traced: Seq[ChainOp], plain: Seq[ChainOp],
                  leaked: Int, overflow: Long): Unit = {
    zeroAll(r)
    r.waitForListener()
    traced.foreach(stageSpans(r, _))
    val spans = r.tracer.spans.toSeq
    val jobSpan = Layers.jobSpans(r.log, spans)
    val k = traced.size
    val by = spans.groupBy(_.layer)
    Seq("features", "edges", "cc", "assign").foreach(l => layer(r, l, by.getOrElse(l, Nil), jobSpan, k))
    def avg(f: ChainOp => Double): Double = if (traced.isEmpty) 0.0 else traced.map(f).sum / traced.size
    def rowsOf(o: ChainOp, st: String) = o.stages.find(_.stage == st).map(_.rows.toDouble).getOrElse(0.0)
    put(r, "features.rows_out", avg(rowsOf(_, "features")))
    put(r, "edges.edges_out", avg(rowsOf(_, "edges")))
    put(r, "assign.clusters", avg(_.clusters.toDouble))
    put(r, "candidates.overflow_runs", overflow.toDouble / math.max(1, k))
    // CheckpointedDedup commits candidate generation and verification as one
    // stage (the edges layer); the candidate pairs are counted once here,
    // outside every span
    val pairs = {
      val f = DedupPipeline.features(clips)
      DedupPipeline.candidates(f).count().toDouble
    }
    put(r, "candidates.pairs_out", pairs)
    put(r, "edges.pass_ratio", if (pairs > 0) avg(rowsOf(_, "edges")) / pairs else 0.0)
    // rounds: one committed labels table per CC round
    val rounds = traced.flatMap(_.stages.filter(_.stage.startsWith("labels")))
    put(r, "cc.rounds", if (k == 0) 0.0 else rounds.size.toDouble / k)
    if (rounds.nonEmpty) {
      val worst = rounds.maxBy(_.elapsedMs)
      val (a, b) = (worst.committedMs.toDouble - worst.elapsedMs, worst.committedMs.toDouble)
      put(r, "cc.round_max_s", worst.elapsedMs / 1000.0)
      put(r, "cc.round_max_driver_s", (b - a - busy(r, a, b)) / 1000.0)
    }
    val commitJobs = r.log.synchronized(r.log.jobs.filter(j => j.callSite.contains("SnapshotLog.scala") &&
      jobSpan.get(j.id).exists(_.layer == "cc")).toSeq)
    put(r, "snapshot.commits", avg(_.stages.size.toDouble))
    put(r, "snapshot.commit_s", commitJobs.map(j => (j.endMs - j.submitMs) / 1000.0).sum / math.max(1, k))
    put(r, "snapshot.bytes_written_mb", avg(_.workBytes / 1048576.0))
    put(r, "snapshot.read_s", by.getOrElse("snapshot", Nil).map(_.wallS).sum / math.max(1, k))
    spark(r, k, leaked, spans, jobSpan)
    overhead(r, traced.map(_.wall), plain.map(_.wall), by.getOrElse("op", Nil))
  }

  // ------------------------------------------------------------- queries

  def queryLayers(r: Runner, traced: Seq[Pass], plain: Seq[Double],
                  leaked: Int): Unit = {
    zeroAll(r)
    r.waitForListener()
    val spans = r.tracer.spans.toSeq
    val jobSpan = Layers.jobSpans(r.log, spans)
    val k = traced.size
    QueriesWorkload.Families.foreach { f =>
      layer(r, s"queries.$f", spans.filter(_.layer == s"queries.$f"), jobSpan, k)
    }
    spark(r, k, leaked, spans, jobSpan)
    // a pass is one op: its query spans are its layer spans
    val unattributed = traced.map { p =>
      val ids = p.execs.map(_.span).toSet
      p.wall - spans.filter(s => ids.contains(s.id)).map(_.wallS).sum
    }
    put(r, "trace.overhead_s", Stats.median(traced.map(_.wall)) - Stats.median(plain))
    put(r, "trace.unattributed_s", Stats.median(unattributed))
    put(r, "trace.ops", k.toDouble)
  }
}

/** The metric names and units BENCHMARK.json declares. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "retained_mb" -> "MB", "op_cpu_s" -> "s")

  private def timed(p: String, par: Boolean = true) =
    Seq(s"$p.wall_s" -> "s", s"$p.task_cpu_s" -> "s", s"$p.driver_s" -> "s", s"$p.jobs" -> "count") ++
      (if (par) Seq(s"$p.par_use" -> "ratio") else Nil)

  val perLayer: scala.collection.immutable.ListMap[String, String] = scala.collection.immutable.ListMap(
    (timed("features") ++ Seq("features.rows_out" -> "rows") ++
      Seq("candidates.pairs_out" -> "count", "candidates.overflow_runs" -> "count") ++
      timed("edges") ++ Seq("edges.shuffle_write_mb" -> "MB", "edges.task_skew" -> "ratio",
        "edges.edges_out" -> "count", "edges.pass_ratio" -> "ratio") ++
      timed("cc") ++ Seq("cc.rounds" -> "count", "cc.round_max_s" -> "s", "cc.round_max_driver_s" -> "s") ++
      timed("assign", par = false) ++ Seq("assign.clusters" -> "count") ++
      Seq("snapshot.commits" -> "count", "snapshot.commit_s" -> "s", "snapshot.bytes_written_mb" -> "MB",
        "snapshot.read_s" -> "s") ++
      QueriesWorkload.Families.flatMap(f => timed(s"queries.$f")) ++
      Seq("spark.gc_s" -> "s", "spark.spill_mb" -> "MB", "spark.leaked_rdds" -> "count",
        "trace.overhead_s" -> "s", "trace.unattributed_s" -> "s", "trace.ops" -> "count")): _*)
}
