package graftbench

import org.apache.spark.sql.SparkSession

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Shared run state: the session, the clock, op execution with a per-op
  * timeout, failure accounting, and the metrics a workload reports. */
final class Runner(val spark: SparkSession, val cfg: Main.Config) {
  val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  val log = new JobLog
  sc.addSparkListener(log)

  /** Set when an op timed out: no further op may run on the session. */
  var aborted = false
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  /** Contract metrics (name -> (value, unit)), in print order. */
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  /** The workload's own figures (clips_per_s, resume_s, query_p50_s, ...),
    * printed on the line before the result. */
  val detail = mutable.LinkedHashMap[String, (Double, String)]()

  // every op runs on this one thread so local properties (spans) and the
  // per-op timeout apply to all jobs it submits
  private val opThread = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "bench-op"); t.setDaemon(true); t
  }

  def nowS: Double = System.nanoTime() / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this JVM has used: what an op costs in compute, apart from
    * the waiting and the host's CPU steal its wall also contains. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used, from /proc (Linux; 0
    * elsewhere). run.py starts the JVM with a fixed set of compiler threads,
    * so none exits and takes its count with it. */
  def jitCpuS: Double = {
    val dir = java.nio.file.Paths.get("/proc/self/task")
    if (!java.nio.file.Files.isDirectory(dir)) return 0.0
    val ls = java.nio.file.Files.list(dir)
    val ticks = try ls.iterator().asScala.map { t =>
      try {
        val st = java.nio.file.Files.readString(t.resolve("stat"))
        val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        // fields after the name: state is the first, utime and stime the 12th and 13th
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        if (name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre"))
          f(11).toLong + f(12).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L } // the thread ended
    }.sum finally ls.close()
    ticks / 100.0 // USER_HZ
  }

  /** A process and JIT-compiler CPU reading. */
  final case class Cpu(total: Double, jit: Double)
  def cpu: Cpu = Cpu(cpuS, jitCpuS)

  /** CPU seconds since `c0` less the JIT compiler's, and the JIT's. The
    * compiler's share of the first warm ops is about half their CPU and
    * varies from run to run with when it gets to each method. */
  def cpuSince(c0: Cpu): (Double, Double) = {
    val c = cpu
    val jit = c.jit - c0.jit
    (c.total - c0.total - jit, jit)
  }

  private val t0 = nowS
  /** Progress line on stderr. */
  def say(msg: String): Unit = System.err.println(f"[bench ${nowS - t0}%7.2fs] $msg")

  /** Run `body` as one attempted op with a timeout. A thrown exception, a
    * timeout, or a failed check inside `body` (a `require`) counts as a
    * failure. Returns the body's value when it succeeded. */
  def attempt[T](what: String, timeoutS: Double)(body: => T): Option[T] = {
    if (aborted) return None
    attempted += 1
    val f = opThread.submit(() => body)
    try Some(f.get((timeoutS * 1000).toLong, TimeUnit.MILLISECONDS))
    catch {
      case _: TimeoutException =>
        // a timed-out op may be stuck on the driver (planning) where job
        // cancellation cannot reach it: the run ends here
        sc.cancelAllJobs()
        fail(s"$what: timed out after ${timeoutS}s")
        aborted = true
        None
      case e: java.util.concurrent.ExecutionException =>
        fail(s"$what: ${e.getCause}")
        None
    }
  }

  /** A failed check outside an op (set-up or post checks). */
  def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"[bench] FAIL $msg")
  }

  /** A check that is not itself an op: counts one attempt. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Throwable => System.err.println(e); false }
    if (!passed) fail(what)
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(name: String, value: Double, unit: String): Unit = detail(name) = (value, unit)

  def persistedRdds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Drain the listener bus so job and task records are complete. */
  def waitForListener(): Unit = org.apache.spark.sql.graftshim.PlanShim.waitListenerBus(sc)

  private def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean]).map(_.getCollectionTime).sum

  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private var settleGcMs = 0L
  /** The `settle` reading. */
  var retainedMb = 0.0
  /** A full collection, then heap plus non-heap in use: the memory the
    * program keeps live between ops (tables it left pinned, caches,
    * broadcasts, classes, compiled code), whatever the heap limit and
    * whenever the collector last ran. Called once, after the first timed
    * op, so every run reads it after the same work; outside the op's
    * timing, and its collection time is not counted in `gcDuringWindowS`. */
  def settle(): Unit = {
    val g0 = gcMs
    System.gc()
    settleGcMs += gcMs - g0
    retainedMb = (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  private var gcAtOpen = 0L
  /** JVM GC time of the ops over the timed window, and the ops it ran. */
  var gcDuringWindowS = 0.0
  var opsInWindow = 0
  def openWindow(): Unit = gcAtOpen = gcMs - settleGcMs
  def closeWindow(ops: Int): Unit = {
    gcDuringWindowS = (gcMs - settleGcMs - gcAtOpen) / 1000.0
    opsInWindow = ops
  }

  def shutdown(): Unit = {
    opThread.shutdownNow()
    opThread.awaitTermination(30, TimeUnit.SECONDS)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = Layers.median(xs)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
}
