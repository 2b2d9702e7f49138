package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** A traced interval: `layer` names the module the interval's work belongs
  * to ("op" for a whole operation). Times are epoch milliseconds, the clock
  * Spark stamps job and task events with; `wallS` is the nanoTime duration. */
final case class Span(id: Int, layer: String, name: String, parent: Int, op: Int,
                      startMs: Double, endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Spans kept in memory on the driver thread. Each open span is published as
  * a Spark local property, which jobs submitted while it is open carry —
  * including jobs that SQL broadcast and streaming threads submit on its
  * behalf, since those threads inherit or capture the submitting thread's
  * properties. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1
  // epoch ms anchored once, advanced with nanoTime: sub-ms span edges
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def beginOp(): Int = { op += 1; op }

  def span[T](layer: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, id.toString)
    stack = id :: stack
    val t0 = nowMs
    try body
    finally {
      spans += Span(id, layer, name, parent, op, t0, nowMs)
      stack = stack.tail
      sc.setLocalProperty(Tracer.Key, prev)
    }
  }

  /** Record an interval measured elsewhere (e.g. reconstructed from the
    * program's own stage log) as a child of `parent`. */
  def addSpan(layer: String, name: String, parent: Int, startMs: Double, endMs: Double): Unit = {
    spans += Span(nextId, layer, name, parent, op, startMs, endMs)
    nextId += 1
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startMs).map { s =>
      f"""{"id":${s.id},"layer":"${s.layer}","name":"${s.name}","parent":${s.parent},""" +
        f""""op":${s.op},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Key = "graftbench.span"
}

object JobLog {
  final case class Job(id: Int, span: Int, callSite: String, submitMs: Long,
                       stageIds: Seq[Int], var endMs: Long = -1L)
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
                        cpuNs: Long, shuffleWrite: Long, spillDisk: Long)
}

/** Per-job and per-task records from Spark's listener bus. */
final class JobLog extends SparkListener {
  import JobLog._

  val jobs = ArrayBuffer[Job]()
  val tasks = ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    // the result stage is created last: its name is the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs += Job(e.jobId, span, site, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }
}

/** Per-layer aggregation of spans, jobs and tasks. A job belongs to the span
  * whose id it carries, else to the innermost span open when it was
  * submitted; a task belongs to its job's span. */
object Layers {

  final case class Stats(wallS: Double, taskRunS: Double, taskCpuS: Double, driverS: Double,
                         jobs: Int, shuffleWriteMb: Double, spillMb: Double, taskSkew: Double)

  /** Length of the union of closed intervals, clipped to [lo, hi]. */
  def unionLen(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Leaf spans: spans no other span names as parent. */
  def leaves(spans: Seq[Span]): Seq[Span] = {
    val parents = spans.map(_.parent).toSet
    spans.filterNot(s => parents.contains(s.id))
  }

  /** Assign every job to a leaf span (by carried id, re-homed to the leaf
    * open at submission when the carried span has children). */
  def jobSpans(log: JobLog, spans: Seq[Span]): Map[Int, Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val lv = leaves(spans).sortBy(_.startMs)
    def leafAt(ms: Double, within: Option[Span]): Option[Span] =
      lv.find(s => s.startMs <= ms && ms <= s.endMs &&
        within.forall(p => p.startMs <= s.startMs && s.endMs <= p.endMs))
    log.synchronized {
      log.jobs.flatMap { j =>
        val carried = byId.get(j.span)
        val leaf = carried match {
          case Some(s) if lv.exists(_.id == s.id) => Some(s)
          case other => leafAt(j.submitMs.toDouble, other).orElse(other)
        }
        leaf.map(j.id -> _)
      }.toMap
    }
  }

  /** Aggregate one layer: `layerSpans` are its leaf spans. */
  def stats(log: JobLog, jobSpan: Map[Int, Span], layerSpans: Seq[Span]): Stats = {
    val ids = layerSpans.map(_.id).toSet
    val jobIds = jobSpan.collect { case (j, s) if ids.contains(s.id) => j }.toSet
    val (jobs, tasks) = log.synchronized {
      val js = log.jobs.filter(j => jobIds.contains(j.id)).toSeq
      val stageSet = js.flatMap(_.stageIds).toSet
      (js, log.tasks.filter(t => stageSet.contains(t.stage)).toSeq)
    }
    val wall = layerSpans.map(_.wallS).sum
    // task-busy time inside the layer's own intervals; the rest is driver
    val busyMs = layerSpans.map { s =>
      unionLen(tasks.map(t => (t.launchMs.toDouble, t.finishMs.toDouble)), s.startMs, s.endMs)
    }.sum
    val byStage = tasks.groupBy(_.stage)
    val longest: Seq[Double] = if (byStage.isEmpty) Nil else byStage.values.maxBy { ts =>
      ts.map(_.finishMs).max - ts.map(_.launchMs).min
    }.map(_.runMs.toDouble)
    val med = median(longest)
    val skew = if (longest.isEmpty || med <= 0) 0.0 else longest.max / med
    Stats(
      wallS = wall,
      taskRunS = tasks.map(_.runMs).sum / 1000.0,
      taskCpuS = tasks.map(_.cpuNs).sum / 1e9,
      driverS = math.max(0.0, wall - busyMs / 1000.0),
      jobs = jobs.size,
      shuffleWriteMb = tasks.map(_.shuffleWrite).sum / 1048576.0,
      spillMb = tasks.map(_.spillDisk).sum / 1048576.0,
      taskSkew = skew)
  }

  def parUse(s: Stats, cores: Int): Double =
    if (s.wallS <= 0) 0.0 else s.taskRunS / (s.wallS * cores)
}
