package graft

import graft.core.DedupConfig
import graft.corpus.CorpusGen
import graft.dedup.{CheckpointedDedup, DedupPipeline}
import org.apache.spark.sql.SparkSession

/** spark-submit entrypoint for the dedup pipeline (BASELINE.json north_rule:
  * "run via spark-submit on a multi-executor cluster"). In the sandbox it
  * runs in local[N]; on a cluster, drop the master override and submit.
  *
  * Usage: DedupJob <nClips> <outDir> [cores] [checkpointDir]
  *   - generates the deterministic corpus at nClips (FIXTURES.md),
  *   - runs the full near-dup pipeline — snapshot-checkpointed + resumable
  *     when a checkpointDir is given (kill it mid-run; rerun resumes),
  *   - writes cluster assignments to <outDir>/assignments (parquet),
  *   - prints one JSON metrics line: rows, clusters, dup rows, elapsed sec,
  *     clips/sec throughput.
  */
object DedupJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DedupJob <nClips> <outDir> [cores] [checkpointDir]")
    val n = args(0).toInt
    val outDir = args(1)
    val cores = if (args.length > 2) args(2) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    val builder = SparkSession.builder()
      .appName(s"graft-dedup-n$n")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // local master only when not already provided by spark-submit
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(s"local[$cores]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val clips = CorpusGen.clips(spark, n).toDF()
    val assign = args.lift(3) match {
      case Some(ckpt) => CheckpointedDedup.run(clips, ckpt, DedupConfig.default).get
      case None => DedupPipeline.run(clips, DedupConfig.default)
    }
    assign.write.mode("overwrite").parquet(s"$outDir/assignments")

    val rows = spark.read.parquet(s"$outDir/assignments")
    val total = rows.count()
    val clusters = rows.select("cluster").distinct().count()
    val dups = total - clusters
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"dedup","rows":$total,"clusters":$clusters,"dup_rows":$dups,"elapsed_sec":$sec%.2f,"clips_per_sec":${total / sec}%.1f,"cores":"$cores"}""")
    spark.stop()
  }
}
