package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.{BeforeAndAfterAll, Suite}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One shared local session for all Spark suites (startup is ~10s). */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.create("graft-tests", cores = 8)
}

trait SparkTest extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = SparkTestSession.spark

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh directory under java.io.tmpdir, deleted with everything in it
    * once the suite has run (a suite's lazily shared fixtures may live in
    * one across tests). */
  protected def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir.toString
  }

  /** `body`'s result and the executed plans of its queries whose plan
    * mentions `marker` (a verify predicate's function name, say). */
  protected def plansWith[T](marker: String)(body: => T): (T, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      PlanShim.waitListenerBus(spark.sparkContext)
      (out, plans.asScala.filter(_.contains(marker)).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Session conf under which every dedup lane runs unpinned: its verify
    * lookups sort-merge instead of broadcasting. */
  protected val NoBroadcasts: Map[String, String] = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  override protected def afterAll(): Unit =
    try tempDirs.foreach { dir =>
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    } finally super.afterAll()
}
