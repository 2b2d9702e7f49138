package graftbench

import graft.SparkEntry
import graft.core.Rng
import graft.corpus.CorpusGen
import org.apache.spark.sql.Row

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** The `queries` workload: SparkEntry queries over the benchmark's copy of a
  * query dataset, one at a time, each pass in a seed-shuffled order. Every
  * execution's result hash must equal the recorded one. */
object QueriesWorkload {

  /** Query family = the layer it is traced under. */
  def family(q: String): String = q.head match {
    case 'q' => "relational"
    case 'd' => "text"
    case 'e' => "ann"
    case 'p' => "pipeline"
    case 's' => "stream"
    case c => sys.error(s"unknown query family '$c'")
  }

  val Families = Seq("relational", "text", "ann", "pipeline", "stream")

  /** The queries a run times (prefixes of SparkEntry query names): every
    * family, including the sketch (q09, q17), ANN (e02), audio (p03)
    * and streaming (s01, s02) lanes. A pass over all 38 takes over a minute
    * warm on 4 cores, more than a run can spend within the benchmark's time
    * budget; the dedup pipeline queries (p01, p02, p04) are left to the
    * chains_ckpt workload, which runs the same pipeline. */
  val Timed = Seq("q01", "q04", "q09", "q17", "d01", "d04", "e02", "p03", "s01", "s02")

  /** The staged query dataset under the benchmark's data directory. */
  val Dataset = "sf0.001"
  private val QueryTimeoutS = 45.0

  /** Memory-sink tables the streaming queries leave in the session. */
  private val Sinks = Seq("s01_sink", "s02_sink")

  final case class Exec(query: String, pass: Int, wall: Double, span: Int)
  final case class Pass(wall: Double, cpu: Double, jit: Double, execs: Seq[Exec])

  def run(r: Runner, setupT0: Double): Unit = {
    val cfg = r.cfg
    val spark = r.spark
    val expectedFile = cfg.benchDir.resolve("expected").resolve(s"$Dataset.json")
    val expected = ResultHash.load(expectedFile)
    val dir = cfg.benchDir.resolve("data").resolve(Dataset)
    // p03 reads this cached corpus; generating it is set-up, not query time
    // (as in graft.Bench)
    CorpusGen.clipsCached(spark, 500).count()
    val all = SparkEntry.queries.keys.toSeq.sorted
    val picked = if (cfg.smoke) Seq("q01", "d01", "e02", "p03", "s01") else Timed
    val names = all.filter(q => picked.exists(q.startsWith))
    require(names.size == picked.size, s"unknown queries in ${picked.mkString(",")}")
    val recorded = scala.collection.mutable.LinkedHashMap[String, String]()

    def exec(q: String, pass: Int, traced: Boolean): Option[Exec] =
      r.attempt(s"$q pass $pass", QueryTimeoutS) {
        val t = r.tracer
        val t0 = r.nowS
        val rows = if (traced) t.span(s"queries.${family(q)}", q) {
          SparkEntry.queries(q)(spark, dir.toString).collect()
        } else SparkEntry.queries(q)(spark, dir.toString).collect()
        val wall = r.nowS - t0
        r.say(f"$q pass $pass ${wall}%.3f s")
        Sinks.foreach(s => spark.catalog.dropTempView(s))
        val h = ResultHash.of(rows)
        if (cfg.record) recorded(q) = h
        else require(expected.get(q).contains(h),
          s"$q result hash $h != expected ${expected.getOrElse(q, "(none recorded)")}")
        Exec(q, pass, wall, if (traced) t.spans.last.id else -1)
      }

    def order(pass: Int): Seq[String] = {
      val rng = Rng(cfg.seed, 7000L, pass.toLong)
      val a = names.toArray
      var i = a.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x; i -= 1 }
      a.toSeq
    }

    def pass(p: Int, traced: Boolean): Pass = {
      if (traced) r.tracer.beginOp()
      val t0 = r.nowS
      val c0 = r.cpu
      val ex = order(p).flatMap(q => exec(q, p, traced))
      val (cpu, jit) = r.cpuSince(c0)
      Pass(r.nowS - t0, cpu, jit, ex)
    }

    // the cold pass is the warm-up: the first execution of every query in
    // this process
    val cold = pass(0, traced = false)
    r.note("cold_op_s", cold.wall, "s")
    r.note("queries_cold_s", cold.execs.map(_.wall).sum, "s")
    if (cfg.record) {
      ResultHash.save(expectedFile, Dataset, recorded.toMap)
      r.say(s"recorded ${recorded.size} result hashes to $expectedFile")
    }
    // set-up is reported in CPU seconds (the JVM's, from its start): its
    // wall spreads with the host's CPU steal far more than its work does
    val setupCpuS = r.cpuS
    val setupWallS = r.nowS - setupT0
    val before = r.persistedRdds
    r.openWindow()
    val deadline = r.nowS + cfg.seconds
    // the traced run alternates plain and traced passes, at least plain,
    // traced, plain (the first pass is the coldest)
    val passes = ArrayBuffer[Pass]()
    val tracedPasses = ArrayBuffer[Pass]()
    var p = 1
    while ((r.nowS < deadline || (cfg.trace && p < 4)) && r.failed == 0) {
      if (cfg.trace && p % 2 == 0) tracedPasses += pass(p, traced = true)
      else passes += pass(p, traced = false)
      if (p == 1) r.settle()
      p += 1
    }
    r.closeWindow((passes.size + tracedPasses.size) * names.size)
    val leaked = (r.persistedRdds -- before).size
    val warm = passes.flatMap(_.execs).toSeq
    val perQuery = warm.groupBy(_.query).map { case (q, xs) => q -> Stats.median(xs.map(_.wall)) }
    r.metric("setup_s", setupCpuS, "s")
    r.note("setup_wall_s", setupWallS, "s")
    r.metric("op_cpu_s", Stats.median(passes.map(_.cpu).toSeq), "s")
    r.note("op_jit_cpu_s", Stats.median(passes.map(_.jit).toSeq), "s")
    r.note("op_p50_s", Stats.median(passes.map(_.wall).toSeq), "s")
    r.note("query_p50_s", Stats.median(warm.map(_.wall)), "s")
    r.note("query_p90_s", Stats.pct(warm.map(_.wall), 0.9), "s")
    r.note("query_samples", warm.size.toDouble, "count")
    r.note("queries_total_s", perQuery.values.sum, "s")
    r.note("passes", passes.size.toDouble, "count")
    if (cfg.trace) Report.queryLayers(r, tracedPasses.toSeq, passes.map(_.wall).toSeq, leaked)
  }
}

/** Order-independent hash of a query result: each row rendered with its
  * fields in column-name order (doubles to 6 significant digits, so
  * summation order cannot flip the hash), rows sorted, MD5 of the lines. */
object ResultHash {
  def of(rows: Array[Row]): String = {
    val lines = rows.map { r =>
      val names = r.schema.fieldNames
      names.indices.sortBy(names(_)).map(i => render(r.get(i))).mkString("|")
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    f"${rows.length}%d:" + md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.6g"
    case f: Float => f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }
      .sorted.mkString("<", ",", ">")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case other => other.toString
  }

  def load(f: Path): Map[String, String] =
    if (!Files.exists(f)) Map.empty
    else "\"([a-z0-9_]+)\":\\s*\"([0-9]+:[0-9a-f]+)\"".r
      .findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> m.group(2)).toMap

  def save(f: Path, dataset: String, hashes: Map[String, String]): Unit = {
    val body = hashes.toSeq.sortBy(_._1).map { case (q, h) => s"""    "$q": "$h"""" }
      .mkString(",\n")
    Files.createDirectories(f.getParent)
    Files.writeString(f, s"""{\n  "dataset": "$dataset",\n  "hashes": {\n$body\n  }\n}\n""")
  }
}
