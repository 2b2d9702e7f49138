package graft

import org.apache.spark.sql.SparkSession

/** The machine a session runs on: its cores (`SPARK_GRAFT_CPUS`, else the
  * JVM's available processors) and its physical memory (MemTotal). */
final case class Host(cores: Int, memTotalMb: Long)

object Host {
  lazy val current: Host = Host(
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors),
    memTotalMb(try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/meminfo"))
      catch { case _: java.io.IOException => "" })
      .getOrElse(java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize >> 20))

  /** MemTotal in MB from the text of /proc/meminfo. */
  def memTotalMb(meminfo: String): Option[Long] =
    meminfo.linesIterator.collectFirst {
      case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong >> 10
    }
}

/** The one place a SparkSession is built. A session of `cores` task slots
  * gets `local[cores]` unless a master is given, `cores` shuffle partitions,
  * and the settings below. Spark's own defaults (AQE, shuffle and spill
  * compression) are not repeated. Any key the caller already set as a
  * `spark.*` system property (spark-submit `--conf`, or `-Dspark.X`) keeps
  * its value: the factory leaves that default out. */
object Sessions {

  /** Applied on every master. */
  private def everywhere(appName: String, cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> appName,
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.autoBroadcastJoinThreshold" -> "256m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Below this MemTotal the shuffle files stay on disk, in Spark's own
    * default local dir (java.io.tmpdir): tmpfs holds them in RAM beside the
    * heaps. On a 16 GB host the 1M-vector ANN lanes of graft.Bench put
    * 4.6 GB of shuffle files in /dev/shm beside the driver's 8g heap, and
    * MemAvailable fell under 1 GB, still falling, before the run was
    * stopped. */
  private val TmpfsMinMemMb = 64L * 1024

  /** Applied on a `local…` master only: every task, broadcast and shuffle
    * block stays inside one host. */
  private def singleHost(memTotalMb: Long, env: Map[String, String]): Seq[(String, String)] = Seq(
    // local mode: broadcast value materialization is serialized across
    // task threads (TorrentBroadcast KeyLock) — uncompressed pieces make
    // the one-time build several times cheaper (no network to save)
    "spark.broadcast.compress" -> "false",
    "spark.broadcast.blockSize" -> "64m",
    // local-mode shuffle reads otherwise mmap every block >2m: concurrent
    // munmap serializes all page faults on mmap_lock (measured at 32
    // cores: sys time > user time) — plain pread instead
    "spark.storage.memoryMapThreshold" -> "2g",
    // single host: every task is process-local; the default 3s locality
    // wait only delays launches after uneven stage tails
    "spark.locality.wait" -> "0",
    // first-touch page allocation on tmpfs is slow (~40-60 MB/s measured
    // on a 32-core VM); large write buffers cut shuffle write() calls ~16x
    "spark.shuffle.file.buffer" -> "1m",
    "spark.shuffle.localDisk.file.output.buffer" -> "1m",
    "spark.io.compression.lz4.blockSize" -> "512k",
    "spark.driver.host" -> "127.0.0.1") ++
    env.get("SPARK_LOCAL_DIRS")
      .orElse(Option.when(memTotalMb >= TmpfsMinMemMb)("/dev/shm/graft-spark"))
      .map("spark.local.dir" -> _)

  /** The conf the factory applies on a host with `memTotalMb` of memory,
    * given the `spark.*` keys the caller already set (`given`) and the
    * process environment. Pure: no session. */
  def conf(appName: String, cores: Int, memTotalMb: Long, given: Map[String, String],
           env: Map[String, String]): Seq[(String, String)] = {
    val master = given.getOrElse("spark.master", s"local[$cores]")
    val defaults = everywhere(appName, cores) ++
      (if (master.startsWith("local")) singleHost(memTotalMb, env) else Nil)
    defaults.filterNot { case (k, _) => given.contains(k) }
  }

  /** The `spark.*` system properties set on this JVM. */
  def callerConf: Map[String, String] =
    sys.props.toMap.filter { case (k, _) => k.startsWith("spark.") }

  /** The cores of a session whose caller gives none: the host's. On a
    * non-local master the driver's cores say nothing of the cluster's task
    * slots, and the shuffle width AQE starts from would follow the size of
    * the driver box, so there the caller must give them. */
  def defaultCores(given: Map[String, String] = callerConf): Int = {
    require(given.get("spark.master").forall(_.startsWith("local")),
      "a non-local spark.master needs an explicit cores count: the cluster's task slots")
    Host.current.cores
  }

  def create(appName: String, cores: Int = defaultCores()): SparkSession = {
    val builder = SparkSession.builder()
    conf(appName, cores, Host.current.memTotalMb, callerConf, sys.env).foreach { case (k, v) => builder.config(k, v) }
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
