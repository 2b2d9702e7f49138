package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import java.nio.file.{Files, Path}

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

  override protected def afterAll(): Unit =
    try tempDirs.foreach { dir =>
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    } finally super.afterAll()
}
