package graft.ann

import graft.corpus.EmbedGen
import org.apache.spark.sql.functions._

/** Scale evidence for [[EmbedDedup]]: cluster the deterministic planted
  * corpus (EmbedGen: clusters of `clusterSize` at mate-cosine ~0.99,
  * cross-cluster cosine ~0.1) at n >= 10^6 with production LSH geometry
  * and check the assignment EQUALS the planted partition — every planted
  * cluster must come out intact (no split ⇒ candidate recall + CC
  * connectivity held) and unmerged (no false edge survived the exact
  * cosine verify).
  *
  * `sbt -batch "runMain graft.ann.EmbedDedupAtScale [n] [cores]"` →
  * one JSON line {"job":"embed_dedup_scale",...}; `cores` defaults to the
  * host's and sets the shuffle width. Results recorded in BASELINE.md. */
object EmbedDedupAtScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val cores = if (args.length > 1) args(1).toInt else graft.Sessions.defaultCores()
    val spark = graft.Sessions.create("graft-embed-dedup-scale", cores)
    val clusterSize = 20L
    val vecs = EmbedGen.vectorsCached(spark, n)
      .select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    vecs.count() // corpus staging outside the timed window
    val t0 = System.nanoTime()
    // production geometry at this n: planesPerTable ~ log2(n / targetBucket)
    // (2^16 buckets/table → ~15 vectors/bucket at 1M); 8 independent tables
    // put the per-pair miss at 0.52^8 ≈ 0.005 and a 20-member clique's
    // connectivity failure far below 1e-9 — the same parameter scaling rule
    // the EmbedDedup scaladoc documents.
    val out = EmbedDedup.clusters(vecs, threshold = 0.9,
      planesPerTable = 16, tables = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = out.count()
    val wall = (System.nanoTime() - t0) / 1e9
    // planted truth: members of cluster c are the contiguous ids
    // [c*clusterSize, (c+1)*clusterSize) → expected label = min member id
    val mismatches = out
      .withColumn("exp_cluster", col("vec_id") - pmod(col("vec_id"), lit(clusterSize)))
      .where(col("cluster") =!= col("exp_cluster"))
      .count()
    val nClusters = out.select(countDistinct(col("cluster"))).collect()(0).getLong(0)
    println(f"""{"job":"embed_dedup_scale","n":$n,"rows":$rows,""" +
      f""""clusters":$nClusters,"mismatches":$mismatches,""" +
      f""""wall_sec":$wall%.2f,"vecs_per_sec":${n / wall}%.1f,""" +
      f""""planes":16,"tables":8,"threshold":0.9}""")
    spark.stop()
  }
}
