package graftbench

import graft.core.DedupConfig
import graft.dedup.{CandidatePairs, CheckpointedDedup}
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The `chains_ckpt` workload: closed loop, one client. Each op runs
  * CheckpointedDedup into a fresh work directory, kills it after a fixed
  * committed stage and resumes it to the end, over the default CorpusGen mix
  * plus seeded near-duplicate edit chains (deep CC). */
object ChainsWorkload {

  private val Dcfg = DedupConfig.default

  /** Input sizes: default-mix rows, chains, longest chain, CC rounds the
    * chains are cut to. The planner's size estimate of the carried-forward
    * label table grows with every round a run executes, and its cost about
    * quintuples per round once it shows: at ten rounds the last round takes
    * about twice a middle one, nearly all on the driver (about 1.5 s of a
    * 19 s op on 4 cores); at eleven it takes about 10 s, and an op with its
    * set-up no longer fits the benchmark's time budget on a shared host. */
  private val Sizes = (2000, 8, 100, 10)
  private val SmokeSizes = (400, 2, 30, 4)
  private val OpTimeoutS = 100.0

  /** Assignment checksums must repeat across the ops of a run, and across
    * runs of a seed in one checkout: the first value seen for a key is kept
    * under the state directory. (What makes an op's output right is checked
    * against the generator: `Inputs.chainPartitionHolds`.) */
  private def expectChecksum(r: Runner, key: String, got: (Long, Long, Long)): Unit = {
    val f = r.cfg.state.resolve("checksums").resolve(key)
    val s = s"${got._1} ${got._2} ${got._3}"
    if (!Files.exists(f)) {
      Files.createDirectories(f.getParent)
      Files.writeString(f, s)
    }
    require(Files.readString(f).trim == s, s"assignment checksum $s != recorded ${Files.readString(f).trim}")
  }

  /** Committed stage after which the first run of each op is killed. */
  val KillAt = "labels_round_0"

  final case class ChainOp(wall: Double, cpu: Double, jit: Double, resume: Double, stages: Seq[StageLine],
                           workBytes: Long, clusters: Long, killSpan: Int, resumeSpan: Int)

  /** One metrics.jsonl line plus the commit time from its manifest. */
  final case class StageLine(stage: String, rows: Long, elapsedMs: Long, committedMs: Long)

  def run(r: Runner, setupT0: Double): Unit = {
    val cfg = r.cfg
    val (n, nChains, len, rounds) = if (cfg.smoke) SmokeSizes else Sizes
    val (clips, rows, chains) = Inputs.writeChainCorpus(r.spark, n, nChains, len, rounds, cfg.seed,
      cfg.scratch.resolve("chains_input"))
    val key = s"chains_${Inputs.digest(clips)}"
    r.say(s"chains input written: $rows rows, chains cut to ${chains.rounds} CC rounds")
    var opNo = 0

    def op(traced: Boolean): ChainOp = {
      val wd = cfg.scratch.resolve(s"work/op$opNo")
      opNo += 1
      Inputs.deleteTree(wd)
      val t = r.tracer
      if (traced) t.beginOp()
      // traced: each of the two calls is an op-level span; its layer spans
      // are rebuilt afterwards from the program's own stage log
      def call[T](name: String)(b: => T): (T, Int) =
        if (traced) { val v = t.span("op", name)(b); (v, t.spans.last.id) } else (b, -1)
      val t0 = r.nowS
      val c0 = r.cpu
      val (killed, killSpan) = call("kill") {
        CheckpointedDedup.run(clips, wd.toString, Dcfg, stopAfter = Some(KillAt))
      }
      require(killed.isEmpty, s"kill hook $KillAt did not fire")
      val t1 = r.nowS
      val (resumed, resumeSpan) = call("resume")(CheckpointedDedup.run(clips, wd.toString, Dcfg))
      val t2 = r.nowS
      val (cpu, jit) = r.cpuSince(c0)
      val assign = resumed.getOrElse(sys.error("resume returned no assignments"))
      require(Inputs.chainPartitionHolds(assign, chains.components),
        "chain rows are not clustered into the generator's duplicate components")
      val sum = Inputs.assignChecksum(assign)
      expectChecksum(r, key, sum)
      val res = ChainOp(t2 - t0, cpu, jit, t2 - t1, stageLines(wd), Inputs.treeBytes(wd), sum._3,
        killSpan, resumeSpan)
      Inputs.deleteTree(wd)
      res
    }

    val recall = warmUp(r, clips, rows, key) { sl =>
      // the same kill-and-resume lifecycle as the timed ops (a slice whose
      // CC converges before the kill point finishes in the first run)
      val wd = cfg.scratch.resolve("work/warmup")
      Inputs.deleteTree(wd)
      try {
        val t0 = r.nowS
        val a = CheckpointedDedup.run(sl, wd.toString, Dcfg, stopAfter = Some(KillAt))
          .orElse(CheckpointedDedup.run(sl, wd.toString, Dcfg)).get
        (r.nowS - t0, Inputs.clusterMap(a))
      } finally Inputs.deleteTree(wd)
    }
    // set-up is reported in CPU seconds (the JVM's, from its start): its
    // wall spreads with the host's CPU steal far more than its work does.
    // The warm-up's recall check runs after the timed window: its oracle is
    // the harness's own work, cached per corpus.
    val setupCpuS = r.cpuS
    val setupWallS = r.nowS - setupT0
    val before = r.persistedRdds
    val ovf0 = CandidatePairs.overflowRuns(r.spark)
    r.openWindow()
    val deadline = r.nowS + cfg.seconds
    val plain = ArrayBuffer[ChainOp]()
    val traced = ArrayBuffer[ChainOp]()
    var i = 0
    // a traced run times at least plain, traced, plain: the first op is the
    // coldest, and the tracing overhead compares the traced op with both
    while ((r.nowS < deadline || (cfg.trace && i < 3)) && r.failed == 0) {
      if (cfg.trace && i % 2 == 1)
        r.attempt("chains traced op", OpTimeoutS)(op(traced = true)).foreach(traced += _)
      else r.attempt("chains op", OpTimeoutS)(op(traced = false)).foreach(plain += _)
      if (i == 0) r.settle()
      r.say(s"chains op $i done")
      i += 1
    }
    r.closeWindow(i)
    val leaked = (r.persistedRdds -- before).size
    val overflow = CandidatePairs.overflowRuns(r.spark) - ovf0
    recall()
    val p50 = Stats.median(plain.map(_.wall).toSeq)
    r.metric("setup_s", setupCpuS, "s")
    r.note("setup_wall_s", setupWallS, "s")
    r.metric("op_cpu_s", Stats.median(plain.map(_.cpu).toSeq), "s")
    r.note("op_jit_cpu_s", Stats.median(plain.map(_.jit).toSeq), "s")
    r.note("op_p50_s", p50, "s")
    r.note("clips_per_s", if (p50 > 0) rows / p50 else 0.0, "clips/s")
    r.note("resume_s", Stats.median(plain.map(_.resume).toSeq), "s")
    r.note("chain_sim_rounds", chains.rounds.toDouble, "count")
    r.note("cc_rounds", Stats.median(plain.map(_.stages.count(_.stage.startsWith("labels")).toDouble).toSeq), "count")
    r.note("ops", plain.size.toDouble, "count")
    r.note("input_rows", rows.toDouble, "rows")
    if (cfg.trace) Report.chainLayers(r, clips, traced.toSeq, plain.toSeq, leaked, overflow)
  }

  /** metrics.jsonl lines of a work directory, each with its manifest's
    * commit time. */
  def stageLines(wd: Path): Seq[StageLine] = {
    val f = wd.resolve("metrics.jsonl")
    if (!Files.exists(f)) return Nil
    val manifests = Seq("features", "edges", "labels", "assignments").flatMap { tbl =>
      val md = wd.resolve(tbl).resolve("metadata")
      if (!Files.isDirectory(md)) Nil
      else {
        val s = Files.list(md)
        try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".json")).map { m =>
          val txt = Files.readString(m)
          (Json.str(txt, "stage"), Json.long(txt, "committed_at_ms"))
        }.toList finally s.close()
      }
    }.toMap[String, Long]
    Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val st = Json.str(l, "stage")
      StageLine(st, Json.long(l, "rows"), Json.long(l, "elapsed_ms"), manifests.getOrElse(st, -1L))
    }
  }

  /** The warm-up op: the workload's dedup entry point on a seeded slice of
    * its corpus, the first op of the process (its wall is `cold_op_s`).
    * `dedup` returns its wall up to materialized assignments and the
    * slice's clip_id -> cluster map. Returns the check of its dup-pair
    * recall against the brute-force oracle (cached per corpus digest), to
    * be run outside set-up. */
  private def warmUp(r: Runner, clips: DataFrame, rows: Long, key: String)
            (dedup: DataFrame => (Double, Map[String, Long])): () => Unit = {
    val name = "chains"
    val target = if (r.cfg.smoke) 200 else 400
    val sl = Inputs.slice(clips, rows, target, r.cfg.seed)
    val done = r.attempt(s"$name warm-up op", OpTimeoutS)(dedup(sl))
    r.say(s"$name warm-up done")
    () => done.foreach { case (wall, got) =>
      r.note("cold_op_s", wall, "s")
      r.say(f"$name warm-up op $wall%.2f s")
      r.check(s"$name pair_recall >= 0.99") {
        val oracle = Inputs.oracleClusters(sl,
          r.cfg.state.resolve("oracle").resolve(s"${key}_$target.tsv"))
        val rec = Inputs.pairRecall(oracle, got)
        r.note("pair_recall", rec, "ratio")
        r.note("recall_slice_rows", oracle.size.toDouble, "rows")
        rec >= 0.99
      }
    }
  }
}

/** Field extraction from the flat, machine-written JSON lines the program
  * emits (metrics.jsonl, snapshot manifests). */
object Json {
  def str(txt: String, k: String): String =
    s""""$k":"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
  def long(txt: String, k: String): Long =
    s""""$k":(-?\\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(-1L)
}
