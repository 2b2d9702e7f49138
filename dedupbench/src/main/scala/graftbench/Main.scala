package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  *   Main --workload chains_ckpt|queries --seed N --seconds S --trace 0|1
  *        --bench-dir DIR --state DIR --cores N [--smoke] [--record]
  * }}}
  *
  * The last stdout line is the result object
  * `{"correct", "attempted", "failed", "metrics"}`; the lines before it carry
  * the run's provenance and the workload's own named figures. */
object Main {

  final case class Config(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      smoke: Boolean, record: Boolean, cores: Int,
      benchDir: Path, state: Path, scratch: Path)

  private def parse(args: Array[String]): Config = {
    val kv = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "smoke" || k == "record") { kv(k) = "true"; i += 1 }
      else { require(i + 1 < args.length, s"missing value for --$k"); kv(k) = args(i + 1); i += 2 }
    }
    def get(k: String, d: String): String = kv.getOrElse(k, d)
    val workload = kv.getOrElse("workload", sys.error("--workload is required"))
    require(Set("chains_ckpt", "queries").contains(workload), s"unknown workload $workload")
    val benchDir = Paths.get(get("bench-dir", ".")).toAbsolutePath.normalize
    val state = Paths.get(get("state", benchDir.resolve(".state").toString)).toAbsolutePath.normalize
    Config(
      workload = workload,
      seed = get("seed", "1").toLong,
      seconds = get("seconds", "10").toDouble,
      trace = get("trace", "0") == "1",
      smoke = kv.contains("smoke"),
      record = kv.contains("record"),
      cores = get("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      benchDir = benchDir,
      state = state,
      scratch = state.resolve(s"run-${ProcessHandle.current().pid()}"))
  }

  private def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"graft-dedupbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      // single-host settings graft.Bench runs with: uncompressed broadcast
      // pieces, no mmap of shuffle blocks, no locality wait, 1m shuffle
      // write buffers
      .config("spark.broadcast.compress", "false")
      .config("spark.broadcast.blockSize", "64m")
      .config("spark.storage.memoryMapThreshold", "2g")
      .config("spark.locality.wait", "0")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.shuffle.unsafe.file.output.buffer", "1m")
      .config("spark.io.compression.lz4.blockSize", "512k")
      .config("spark.local.dir", cfg.scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.scratch.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def vmHwmMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) return Runtime.getRuntime.totalMemory / 1048576.0
    Files.readAllLines(f).toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricsJson(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"""${q(k)}: {"value": ${num(v)}, "unit": ${q(u)}}""" }
      .mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Seq("--print-timed"))) {
      println(QueriesWorkload.Timed.mkString(" "))
      return
    }
    // set-up time counts from JVM start
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupT0 = System.nanoTime() / 1e9 - (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val cfg = parse(args)
    Files.createDirectories(cfg.scratch)
    // the program's oracle and stream staging files go under the run's own
    // scratch directory
    sys.props("graft.oracleDir") = cfg.scratch.resolve("oracle").toString
    val spark = session(cfg)
    val r = new Runner(spark, cfg)
    r.say(f"session ready ${System.nanoTime() / 1e9 - setupT0}%.2f s after JVM start")
    try {
      cfg.workload match {
        case "chains_ckpt" => ChainsWorkload.run(r, setupT0)
        case "queries" => QueriesWorkload.run(r, setupT0)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.fail(s"${cfg.workload}: ${e}")
    }
    r.metric("retained_mb", r.retainedMb, "MB")
    r.note("peak_rss_mb", vmHwmMb(), "MB")
    if (r.attempted == 0) r.attempted = 1

    val declared = if (cfg.trace) Metrics.perLayer.toSeq else Metrics.endToEnd
    val missing = declared.map(_._1).filterNot(r.metrics.contains)
    if (missing.nonEmpty) r.fail(s"metrics not measured: ${missing.mkString(",")}")
    val printed = declared.flatMap { case (k, _) => r.metrics.get(k).map(k -> _) }
    val errorRate = r.failed.toDouble / r.attempted
    r.note("error_rate", errorRate, "ratio")

    val prov = Seq(
      "workload" -> q(cfg.workload), "seed" -> cfg.seed.toString, "trace" -> cfg.trace.toString,
      "seconds" -> num(cfg.seconds), "smoke" -> cfg.smoke.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> cfg.cores.toString,
      "mem_total_kb" -> sys.props.getOrElse("graftbench.memTotalKb", "0"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> q(s"${sys.props("java.vendor")} ${sys.props("java.runtime.version")}"),
      "spark" -> q(spark.version),
      "git_commit" -> q(sys.props.getOrElse("graftbench.gitCommit", "")),
      "source_sha" -> q(sys.props.getOrElse("graftbench.sourceSha", "")))
    val provJson = prov.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    val detailJson = metricsJson(r.detail)
    val failJson = r.failures.map(q).mkString("[", ", ", "]")
    val result =
      s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, """ +
        s""""failed": ${r.failed}, "metrics": ${metricsJson(printed)}}"""

    val resultsDir = cfg.state.resolve("results")
    Files.createDirectories(resultsDir)
    val tag = s"${cfg.workload}-seed${cfg.seed}-trace${if (cfg.trace) 1 else 0}"
    Files.writeString(resultsDir.resolve(s"$tag.json"),
      s"""{"provenance": $provJson, "detail": $detailJson, "failures": $failJson,""" +
        s""" "all_metrics": ${metricsJson(r.metrics)}, "result": $result}""" + "\n")
    if (cfg.trace) r.tracer.write(resultsDir.resolve(s"$tag.spans.jsonl"))

    println(s"""{"provenance": $provJson}""")
    println(s"""{"detail": $detailJson}""")
    if (r.failures.nonEmpty) println(s"""{"failures": $failJson}""")
    if (r.aborted) {
      // the stuck op thread would hold up a clean stop
      println(result)
      System.out.flush()
      Runtime.getRuntime.halt(0)
    }
    r.shutdown()
    try {
      org.apache.spark.sql.graftshim.PlanShim.stopStateStoreMaintenance()
      spark.stop()
    } catch { case _: Throwable => () }
    Inputs.deleteTree(cfg.scratch)
    println(result)
    System.out.flush()
    sys.exit(0)
  }
}
