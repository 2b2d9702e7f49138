package graft.snapshot

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Thin Iceberg-shaped snapshot layer over Parquet (SURVEY.md §1.2).
  *
  * No Iceberg runtime jar exists in this offline environment, so the
  * *semantics* the north rule needs — append-only versioned snapshots of
  * immutable data files, resumable stage checkpoints aligned to a snapshot,
  * per-partition lineage — are provided by an explicit metadata log:
  *
  * {{{
  *   <tableDir>/data/v<N>/part-*.parquet      (immutable once committed)
  *   <tableDir>/metadata/v<N>.json            (snapshot manifest)
  *   <tableDir>/metadata/latest               (atomic pointer file)
  * }}}
  *
  * A manifest commits: version, stage name, parent versions (lineage),
  * wall-clock, row count, and per-partition row counts (partition lineage).
  * Commit order is write-data → write-manifest → atomically flip `latest`,
  * so a crash mid-write never corrupts a committed snapshot — the reader
  * only trusts `latest`.
  */
object SnapshotLog {

  final case class Snapshot(version: Int, stage: String, rows: Long,
                            parents: Seq[String], partRows: Seq[Long])

  private def metaDir(tableDir: String): Path = Paths.get(tableDir, "metadata")
  private def dataDir(tableDir: String, v: Int): Path = Paths.get(tableDir, "data", s"v$v")

  def latestVersion(tableDir: String): Option[Int] = {
    val p = metaDir(tableDir).resolve("latest")
    if (Files.exists(p)) Some(Files.readString(p).trim.toInt) else None
  }

  def latestStage(tableDir: String): Option[Snapshot] =
    latestVersion(tableDir).map(v => readManifest(tableDir, v))

  /** Commit a DataFrame as the next snapshot version of `tableDir`. */
  def commit(df: DataFrame, tableDir: String, stage: String,
             parents: Seq[String] = Nil): Snapshot = {
    val v = latestVersion(tableDir).getOrElse(-1) + 1
    val dd = dataDir(tableDir, v)
    // enrich with partition lineage, then write immutable data files
    df.withColumn("__part", spark_partition_id())
      .write.mode("overwrite").partitionBy("__part").parquet(dd.toString)
    // per-partition lineage from the parquet footers: driver-side metadata
    // reads over the files just written — no second scan of the data
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val partCounts = partitionRowCounts(dd, hconf)
    // zero rows write no `__part=N` directory, and a data dir without a
    // parquet file has no schema to read back: one schema-only file (the
    // writer's single empty partition for a partitionless input) stands in
    if (partCounts.isEmpty)
      df.sparkSession.createDataFrame(df.sparkSession.sparkContext.emptyRDD[Row], df.schema)
        .write.mode("overwrite").parquet(dd.toString)
    val rows = partCounts.map(_._2).sum
    val snap = Snapshot(v, stage, rows, parents, partCounts.map(_._2).toSeq)
    writeManifest(tableDir, snap)
    snap
  }

  /** Row count per `__part=N` directory, summed from parquet footer
    * metadata (row-group record counts) — the manifest source of truth
    * without re-reading any data pages. */
  private def partitionRowCounts(dd: Path,
      hconf: org.apache.hadoop.conf.Configuration): Seq[(Int, Long)] = {
    if (!Files.exists(dd)) return Nil
    val dirStream = Files.list(dd)
    val partDirs =
      try dirStream.iterator().asScala.filter(p =>
        Files.isDirectory(p) && p.getFileName.toString.startsWith("__part=")).toVector
      finally dirStream.close()
    partDirs.map { d =>
      val part = d.getFileName.toString.stripPrefix("__part=").toInt
      val fileStream = Files.list(d)
      val files =
        try fileStream.iterator().asScala.filter(
          _.getFileName.toString.endsWith(".parquet")).toVector
        finally fileStream.close()
      (part, files.map(footerRowCount(_, hconf)).sum)
    }.sortBy(_._1)
  }

  private def footerRowCount(file: Path,
      hconf: org.apache.hadoop.conf.Configuration): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), hconf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Read the data of a snapshot (latest by default), lineage column dropped. */
  def read(spark: SparkSession, tableDir: String, version: Int = -1): DataFrame = {
    val v = if (version >= 0) version else latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot in $tableDir"))
    spark.read.parquet(dataDir(tableDir, v).toString).drop("__part")
  }

  def exists(tableDir: String): Boolean = latestVersion(tableDir).isDefined

  // ------------------------------------------------------------------ json

  /** JSON string literal of `s`: escapes backslash, quote and ALL control
    * chars (< 0x20). Verify writes oracle_sql.json with it too: a raw tab
    * or CR in a query's SQL would make `json.load` in the oracle compare
    * tools fail, and no query would be checked. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeManifest(tableDir: String, s: Snapshot): Unit = {
    Files.createDirectories(metaDir(tableDir))
    val json =
      s"""{"version":${s.version},"stage":${jsonString(s.stage)},"rows":${s.rows},
         |"committed_at_ms":${System.currentTimeMillis()},
         |"parents":[${s.parents.map(jsonString).mkString(",")}],
         |"part_rows":[${s.partRows.mkString(",")}]}""".stripMargin.replace("\n", "")
    Files.writeString(metaDir(tableDir).resolve(s"v${s.version}.json"), json)
    // atomic latest flip: write temp then move
    val tmp = metaDir(tableDir).resolve(s".latest.tmp${s.version}")
    Files.writeString(tmp, s.version.toString)
    Files.move(tmp, metaDir(tableDir).resolve("latest"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def readManifest(tableDir: String, v: Int): Snapshot = {
    val txt = Files.readString(metaDir(tableDir).resolve(s"v$v.json"))
    // minimal field extraction (manifests are machine-written, schema-fixed)
    def longField(name: String): Long =
      s""""$name":(-?\\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(0L)
    def strField(name: String): String =
      s""""$name":"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    val parts = """"part_rows":\[([^\]]*)\]""".r.findFirstMatchIn(txt)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim.toLong).toSeq).getOrElse(Nil)
    val parents = """"parents":\[([^\]]*)\]""".r.findFirstMatchIn(txt)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq).getOrElse(Nil)
    Snapshot(longField("version").toInt, strField("stage"), longField("rows"), parents, parts)
  }

  def manifest(tableDir: String, version: Int = -1): Option[Snapshot] = {
    val v = if (version >= 0) Some(version) else latestVersion(tableDir)
    v.filter(x => Files.exists(metaDir(tableDir).resolve(s"v$x.json")))
      .map(readManifest(tableDir, _))
  }
}
