package graft

import graft.core.DedupConfig
import graft.corpus.CorpusGen
import graft.dedup.{CheckpointedDedup, DedupPipeline}

/** spark-submit entrypoint for the dedup pipeline (BASELINE.json north_rule:
  * "run via spark-submit on a multi-executor cluster"). Without a master
  * it runs in local[cores]; under spark-submit the submitted master wins.
  * The session comes from [[Sessions]]: any `spark.*` property or `--conf`
  * overrides its defaults.
  *
  * Usage: DedupJob <nClips> <outDir> [cores] [checkpointDir]
  *   - `cores` sets the shuffle width and, when no master is given, the
  *     `local[cores]` master. It defaults to the host's (see [[Host]]) on a
  *     local master and is required on a cluster master, whose task slots
  *     the driver cannot see,
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
    val cores = args.lift(2).map(_.toInt).getOrElse(Sessions.defaultCores())
    val spark = Sessions.create(s"graft-dedup-n$n", cores)

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
