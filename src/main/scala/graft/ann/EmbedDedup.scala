package graft.ann

import graft.core.DedupConfig
import graft.dedup.{CandidatePairs, ConnectedComponents, RunScope}
import graft.functions.GraftFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-space near-duplicate CLUSTERING — the dedup semantic over an
  * embedding column, not just the pair list ([[graft.SparkEntry]] e03) or
  * top-k search ([[Ann]]).
  *
  * Same architecture as the text pipeline (SURVEY.md §2.2), swapping the
  * candidate generator: random-hyperplane LSH buckets feed the SAME
  * skew-aware [[CandidatePairs]] pair generation (single-exchange bucket
  * runs, hot-bucket salting, star chains) the text lanes ride, candidates
  * are verified with the exact codegen-native cosine predicate, and the
  * surviving edges cluster through the same [[ConnectedComponents]]
  * (min-label rounds, on the driver below the gated edge count).
  * Cluster label = min vec_id of the component; the representative is the
  * label itself — deterministic and parallelism-independent.
  *
  * Scale contract (100 TB path): one scan emits all `tables` signatures
  * (array + posexplode — never `tables` re-scans); buckets travel as
  * (key, id) longs; embeddings are re-attached only to the deduped
  * candidate pairs. Recall is tuned by (planesPerTable, tables) exactly
  * like [[Ann.lshTopK]]: planesPerTable ~ log2(n / targetBucket) keeps
  * bucket collision mass bounded as n grows, at the cost of more tables
  * for the same recall. The driver-gate defaults (4 planes x 32 tables)
  * are geometry-matched to the sf embeddings table the same way e02's
  * parameters are (BASELINE.md round-4 ANN block): its near-dup pairs sit
  * barely above the 0.45 threshold (no planted structure), where a
  * same-bucket probability of (1 - acos(0.45)/pi)^4 = 0.177 per table
  * needs 32 independent tables for miss-all = 0.823^32 = 0.002/pair. */
object EmbedDedup {

  /** Input-row ceiling for broadcasting the embedding table to the verify
    * joins (the [[RunScope]] join rule). At 2k vectors (sf0.1) the
    * broadcast plan ran d10 in a median 3.28 s against 5.00 s sort-merged
    * (10 alternating pairs, 4 cores, same answer); at 1M the broadcast
    * build asked for 4 GB of an 8g driver heap and the run failed. */
  final val VerifyBroadcastMaxRows = 100000L

  /** (vec_id, cluster, is_rep) for every input vector; singletons are their
    * own cluster. Exact predicate: cosine(a, b) >= threshold evaluated on
    * the full vectors (LSH is candidate generation only — a surviving edge
    * is never approximate). */
  def clusters(vectors: DataFrame, threshold: Double = 0.45,
               planesPerTable: Int = 4, tables: Int = 32, seed: Long = 42L,
               cfg: DedupConfig = DedupConfig.default): DataFrame = RunScope(vectors, VerifyBroadcastMaxRows) { _ =>
    val sigCols = (0 until tables).map(t =>
      hyperplane_sig(col("embedding"), planesPerTable, seed + t))
    val sigs = vectors.select(col("vec_id"),
      posexplode(array(sigCols: _*)).as(Seq("table", "bucket")))
    // one packed 64-bit bucket key per (table, sig): tables stay disjoint up
    // to a 64-bit coincidence, and a coincidence can only ADD candidates —
    // every pair is exactly verified below (same argument as the text
    // lanes' lane-salted keyspace, DedupPipeline.candidates). Lane index 0
    // (lane bit 1) in the key's low 2 bits.
    val buckets = sigs.select(
      shiftleft(murmur3_pair(col("bucket"), col("table").cast("long")), 2).as("bkey"),
      col("vec_id").as("id"))
    val cand = CandidatePairs.pairsPacked(buckets, cfg)

    val emb = RunScope.lookup(vectors)
    val embA = emb.select(col("vec_id").as("a"), col("embedding").as("a_emb"))
    val embB = emb.select(col("vec_id").as("b"), col("embedding").as("b_emb"))
    // persisted BEFORE the gating count, mirroring DedupPipeline.run:
    // without the pin, the count materializes the whole LSH -> pair gen ->
    // double embedding join -> cosine verify chain and then CC's edge
    // collect (or its checkpointedSym) re-executes it — at the 1M-vector
    // scale run that re-ran ~9.5M-edge cosine probes a second time
    // (VERDICT r5 #2)
    val edges = RunScope.persist(cand.select(col("a"), col("b"))
      .join(embA, "a").join(embB, "b")
      .where(cosine_sim(col("a_emb"), col("b_emb")) >= threshold)
      .select(col("a"), col("b")))

    val labels = ConnectedComponents.run(edges, cfg)

    // labels are materialized by here (a local table on the driver, or the
    // Spark executor's checkpointed rounds): the returned join reads only
    // them, the one cache RunScope keeps
    Some(vectors.select(col("vec_id"))
      .join(labels.withColumnRenamed("id", "vec_id").withColumnRenamed("label", "lab"),
        Seq("vec_id"), "left")
      .withColumn("cluster", coalesce(col("lab"), col("vec_id")))
      .withColumn("is_rep", col("vec_id") === col("cluster"))
      .select(col("vec_id"), col("cluster"), col("is_rep")))
  }.get
}
