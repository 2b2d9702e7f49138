package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's conf policy and Bench's host fitting, as pure
  * functions: no session is started here. */
class SessionsSpec extends AnyFunSuite {

  private val singleHostKeys = Seq("spark.broadcast.compress", "spark.broadcast.blockSize",
    "spark.storage.memoryMapThreshold", "spark.locality.wait", "spark.shuffle.file.buffer",
    "spark.shuffle.localDisk.file.output.buffer", "spark.io.compression.lz4.blockSize",
    "spark.local.dir", "spark.driver.host")

  test("a local master gets the shared and the single-host settings") {
    val conf = Sessions.conf("app", 4, 16L * 1024, Map.empty, Map("SPARK_LOCAL_DIRS" -> "/scratch/x")).toMap
    assert(conf("spark.master") == "local[4]")
    assert(conf("spark.app.name") == "app")
    assert(conf("spark.sql.shuffle.partitions") == "4")
    assert(conf("spark.sql.autoBroadcastJoinThreshold") == "256m")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.ui.enabled") == "false")
    singleHostKeys.foreach(k => assert(conf.contains(k), k))
    assert(conf("spark.local.dir") == "/scratch/x")
    // without SPARK_LOCAL_DIRS, shuffle files go to tmpfs only on a host
    // with the memory to hold them beside the heaps
    val bigHost = Sessions.conf("app", 4, 256L * 1024, Map.empty, Map.empty).toMap
    assert(bigHost("spark.local.dir") == "/dev/shm/graft-spark")
    val smallHost = Sessions.conf("app", 4, 16L * 1024, Map.empty, Map.empty).toMap
    assert(!smallHost.contains("spark.local.dir"))
    assert(smallHost("spark.broadcast.compress") == "false")
    // Spark's own defaults are not repeated
    Seq("spark.sql.adaptive.enabled", "spark.shuffle.compress", "spark.shuffle.spill.compress")
      .foreach(k => assert(!conf.contains(k), k))
  }

  test("a non-local master gets no single-host settings and keeps its master") {
    val conf = Sessions.conf("app", 16, 256L * 1024, Map("spark.master" -> "spark://head:7077"), Map.empty).toMap
    assert(!conf.contains("spark.master"))
    assert(conf("spark.sql.shuffle.partitions") == "16")
    singleHostKeys.foreach(k => assert(!conf.contains(k), k))
  }

  test("a key the caller set as a spark.* system property is left out") {
    val key = "spark.locality.wait"
    val before = sys.props.get(key)
    sys.props(key) = "1s"
    try {
      assert(Sessions.callerConf(key) == "1s")
      val conf = Sessions.conf("app", 4, 256L * 1024, Sessions.callerConf, Map.empty).toMap
      assert(!conf.contains(key))
      assert(conf("spark.broadcast.compress") == "false")
    } finally before match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  test("a session's cores default to the host's on a local master only") {
    assert(Sessions.defaultCores(Map.empty) == Host.current.cores)
    assert(Sessions.defaultCores(Map("spark.master" -> "local[2]")) == Host.current.cores)
    intercept[IllegalArgumentException](Sessions.defaultCores(Map("spark.master" -> "yarn")))
  }

  test("the ladder runs only the levels the host has cores for") {
    assert(Bench.levels(1) == Seq(1))
    assert(Bench.levels(4) == Seq(1, 2, 4))
    assert(Bench.levels(6) == Seq(1, 2, 4))
    assert(Bench.levels(32) == Seq(1, 2, 4, 8, 32))
  }

  test("a child heap fits in MemTotal beside the parent's max heap") {
    for (memTotalMb <- Seq(16L * 1024, 256L * 1024); parentMb <- Seq(memTotalMb / 2, 4096L)) {
      val child = Bench.childHeapMb(memTotalMb, parentMb)
      assert(child + parentMb <= memTotalMb, s"$memTotalMb: $child + $parentMb")
      assert(child <= 28L * 1024)
      assert(Bench.calibHeapMb(child) <= math.min(8L * 1024, child))
    }
    assert(Bench.childHeapMb(256L * 1024, 128L * 1024) == 28L * 1024)
  }

  test("MemTotal is read from /proc/meminfo text") {
    val meminfo = "MemTotal:       16456384 kB\nMemFree:        13000000 kB\n"
    assert(Host.memTotalMb(meminfo).contains(16070L))
    assert(Host.memTotalMb("").isEmpty)
  }
}
