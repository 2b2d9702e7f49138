package graft.dedup

import graft.core.DedupConfig
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end near-duplicate detection + clustering pipeline
  * (SURVEY.md §2.2 P1-P11) over the input-hint-shaped clips table.
  *
  * Stages (all declarative DataFrame ops + custom expressions; Catalyst
  * prunes the audio `bytes` column out of every text stage automatically —
  * only `clip_id`/`transcript` are ever selected here):
  *
  *   clips ─ features (normalize, simhash, LSH bands, simhash blocks,
  *           winnow fingerprints; one pass, persisted)
  *         ─ three candidate lanes (MinHash-LSH ∪ SimHash-blocks ∪
  *           winnowing) through skew-aware [[CandidatePairs]]
  *         ─ exact verification of the frozen predicate's three clauses
  *           ([[verifiedEdges]]: no false-positive pairs can survive)
  *         ─ [[ConnectedComponents]] min-label clustering
  *         ─ assignments + canonical representative per cluster.
  */
object DedupPipeline {

  /** Per-clip signature table: (clip_id, id, norm, simhash, bands, blocks,
    * fps) — one fused expression pass over the transcript (one normalize,
    * one shingle walk per family). Only clip_id/transcript are selected, so
    * Catalyst prunes the audio `bytes` column out of the scan. */
  def features(clips: DataFrame, cfg: DedupConfig = DedupConfig.default): DataFrame = {
    val f = clips
      .select(col("clip_id"), text_signatures(col("transcript")).as("sig"))
      .select(
        col("clip_id"),
        hash_id(col("clip_id")).as("id"),
        col("sig.norm").as("norm"),
        col("sig.simhash").as("simhash"),
        col("sig.bands").as("bands"),
        col("sig.fps").as("fps"),
        col("sig.nsh").as("nsh"),
        length(col("sig.norm")).as("nlen"))
      .withColumn("blocks", simhash_block_keys(col("simhash")))
    if (cfg.exactIds) ExactIds.repair(f) else f
  }

  /** Lane bits carried on candidate pairs (bit = 1 << the lane index that
    * [[candidates]] packs). The SimHash-block lane's bit 2 has no name:
    * the Hamming clause it feeds runs on every pair. */
  final val LaneBands = 1
  final val LaneFps = 4

  /** Minimum winnow-lane co-emissions (`fps_hits`) for a pair to enter the
    * substring-containment verification. Winnowing guarantees >= 2 shared
    * selected fingerprints for a shared run >= winnowWindow + winnowK - 1 +
    * winnowWindow chars (= 79 < minContainLen), so a true containment pair
    * co-emits >= 2 barring hot-key salt splits; corpus-wide shared
    * boilerplate (e.g. a common prefix) co-emits a few fingerprints on
    * MILLIONS of non-duplicate pairs, and this gate is what keeps the exact
    * suffix-array verification off them. */
  final val MinFpsHits = 2

  /** Union of the three candidate lanes through ONE skew-aware pair-gen
    * pass: bucket keys are lane-salted (xor with a per-lane constant keeps
    * the keyspaces disjoint up to a negligible 64-bit coincidence), so hot
    * key counting, salting, grouping, and dedup each run once instead of
    * three times — 1 shuffle instead of 3. */
  def candidates(features: DataFrame, cfg: DedupConfig = DedupConfig.default): DataFrame = {
    // ONE pass over the features cache emits all three lanes' bucket rows
    // already in packed form (lane index in the key's low 2 bits): a
    // per-lane array transform + concat + a single explode. The previous
    // three-branch union scanned the features cache once per lane and ran
    // three separate exchanges-into-union — same bytes, 2 extra cache
    // scans and 2 extra stage barriers per iteration.
    def packLane(arr: Column, salt: Long, li: Int): Column =
      transform(arr, k => shiftleft(k.bitwiseXOR(lit(salt)), 2).bitwiseOR(lit(li.toLong)))
    // the winnowing lane only feeds the substring-containment clause,
    // which requires both norms >= minContainLen — fingerprints of
    // shorter rows can never produce a surviving containment edge, so
    // they are dropped before the bucket shuffle (their hamming/jaccard
    // dup pairs are still guaranteed by the SimHash-block pigeonhole and
    // LSH band lanes respectively). Caveat: this removes the fps lane's
    // REDUNDANCY for short hamming-true pairs — if a hot SimHash-block
    // bucket is window-capped (CandidatePairs caps bucket fan-out) and
    // happens to miss such a pair, there is no fps fallback for it any
    // more. Recall-gated: DedupPipelineSpec's "exact pair generator at a
    // bucket cap of 8" test must stay >= the gate whenever the cap or this
    // floor changes.
    val fpsArr = when(col("nlen") >= cfg.minContainLen, col("fps"))
      .otherwise(array().cast("array<bigint>"))
    val packed = features.select(
      explode(concat(
        packLane(col("bands"), 0x9e3779b97f4a7c15L, 0),
        packLane(col("blocks"), 0xc2b2ae3d27d4eb4fL, 1),
        packLane(fpsArr, 0x165667b19e3779f9L, 2))).as("bkey"),
      col("id"))
    CandidatePairs.pairsPacked(packed, cfg)
  }

  /** Input-row ceiling for broadcasting [[verifiedEdges]]' lookups (the
    * [[RunScope]] join rule): a corpus whose slim+norm lookup tables
    * outgrow executor memory must degrade to sort-merge, not OOM the build
    * side. ~5e6 medium clips ≈ low-GB broadcast relations. */
  final val VerifyBroadcastMaxRows = 5000000L

  /** Exact verification of candidate pairs. Each predicate clause is
    * evaluated only for the pairs whose lane can have produced it (lane
    * provenance bits from [[candidates]]):
    *
    *  1. Hamming <= max: every pair — one xor+popcount on the slim join
    *     (no transcript text shuffled for pairs that die here, which is
    *     most of the SimHash-block lane's output);
    *  2. exact Jaccard >= t: only pairs the LSH band lane emitted AND whose
    *     distinct-shingle counts allow J >= t (exact bound J <= min/max) —
    *     hash-probe Jaccard, memoized shingle sets;
    *  3. substring containment: only pairs the winnowing lane emitted with
    *     min length >= minContainLen, via the grouped per-container
    *     suffix-array pass ([[containmentEdges]]).
    *
    * Vs the oracle predicate this can only drop a pair whose clause held
    * but whose OWN lane missed it (e.g. jaccard-true with zero shared
    * bands: P < 2e-4 at the frozen (b,r)); the recall gate covers it.
    */
  def verifiedEdges(features: DataFrame, cands: DataFrame,
                    cfg: DedupConfig = DedupConfig.default): DataFrame = {
    // narrow lookups: the pair stream never carries the wide features
    // columns (at 160k clips that exchange was 667 MB, the pipeline's
    // largest data motion). They are pruned projections off the columnar
    // features cache, not caches of their own: with RunScope.lookup
    // pinning the build side, dedicated caches cost 300+ MB plus their build
    // scans and bought nothing.
    val slimT = features.select(col("id"), col("simhash"), col("nsh"), col("nlen"))
    val norms = features.select(col("id"), col("norm"))
    // slim lookups use the same one-exchange aliased-self-join shape as the
    // norm lookups below (ReuseExchange builds the relation once)
    val sa0 = RunScope.lookup(slimT.as("sa"))
    val sb0 = RunScope.lookup(slimT.as("sb"))
    // verdict flags are PROJECTED before the persist: the cached table
    // carries (a, b, 3 booleans) — not the simhash/nsh/nlen columns the
    // flags were computed from (the unprojected version cached ~6x the
    // bytes and re-read them twice, a measured bandwidth hit at bench scale)
    val slim = RunScope.persist(cands
      .join(sa0, col("a") === col("sa.id"))
      .join(sb0, col("b") === col("sb.id"))
      .select(col("a"), col("b"), col("lane"), col("fps_hits"),
        col("sa.simhash").as("sim_a"), col("sb.simhash").as("sim_b"),
        col("sa.nsh").as("nsh_a"), col("sb.nsh").as("nsh_b"),
        col("sa.nlen").as("nlen_a"), col("sb.nlen").as("nlen_b"))
      .withColumn("ham_ok",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= cfg.hammingMax)
      .withColumn("jac_possible",
        (col("lane").bitwiseAND(lit(LaneBands)) =!= 0) &&
          least(col("nsh_a"), col("nsh_b")).cast("double") >=
            greatest(col("nsh_a"), col("nsh_b")) * cfg.jaccardThreshold)
      // fps_hits gate: every co-emission term is a pure function of the
      // data (bucket membership, salt = pmod(murmur), window adjacency), so
      // the count is parallelism-independent and safe to gate on
      .withColumn("con_possible",
        (col("lane").bitwiseAND(lit(LaneFps)) =!= 0) &&
          col("fps_hits") >= MinFpsHits &&
          least(col("nlen_a"), col("nlen_b")) >= cfg.minContainLen)
      .select(col("a"), col("b"), col("ham_ok"), col("jac_possible"), col("con_possible")))

    val hamEdges = slim.where(col("ham_ok")).select(col("a"), col("b"))

    // only surviving non-hamming pairs ever look at the transcript text.
    // BOTH text lookups join the SAME aliased `norms` plan — the two
    // broadcast exchanges canonicalize identically, so ReuseExchange
    // materializes the relation ONCE for all four probe joins. (The
    // previous per-side projections normA/normB were canonically distinct:
    // Spark built two ~norms-sized broadcast relations, and with the pair
    // side chosen as build side it re-broadcast pair+norm_a intermediates —
    // the serialized KeyLock waits that dominated run-vs-cpu time in the
    // verify stage.) A pinned run hints norms as the build side; above
    // VerifyBroadcastMaxRows the hint is dropped and the joins sort-merge.
    def attachNorms(p: DataFrame): DataFrame = {
      val na = RunScope.lookup(norms.as("na"))
      val nb = RunScope.lookup(norms.as("nb"))
      p.join(na, col("a") === col("na.id"))
        .join(nb, col("b") === col("nb.id"))
        .select(col("a"), col("b"),
          col("na.norm").as("norm_a"), col("nb.norm").as("norm_b"))
    }

    // jaccard probe order: sorted by `a` within each partition so the
    // shingle-set memo (TextFeatures.shingleMemo) gets a near-perfect hit
    // rate on the a side — each distinct norm_a is shingled once per run
    val jacEdges = attachNorms(
      slim.where(!col("ham_ok") && col("jac_possible"))
        .select(col("a"), col("b"))
        .sortWithinPartitions(col("a")))
      .where(jaccard_ge(col("norm_a"), col("norm_b")))
      .select(col("a"), col("b"))
    val conEdges = containmentEdges(
      attachNorms(slim.where(!col("ham_ok") && col("con_possible"))
        .select(col("a"), col("b"))), cfg)

    // a pair can pass both the jaccard and containment clauses — dedup the
    // overlap; hamEdges are disjoint by the !ham_ok gate and internally
    // unique (verdict rows are unique per pair)
    hamEdges.union(jacEdges.union(conEdges).distinct())
  }

  /** The per-partition suffix-array containment pass. Input rows carry
    * (a, b, norm_a, norm_b); pairs are oriented container→contained and
    * sorted by container WITHIN each partition (no exchange — the norms
    * arrive via the broadcast-able lookup joins upstream, so the pair
    * stream is probed in place). Each partition is walked once: runs of
    * equal container share one lazily-built suffix array of the container
    * text (built on the run's 4th candidate — below that the direct scan
    * is cheaper), so hot boilerplate containers amortize the build while
    * singleton runs never pay it.
    *
    * The previous design exchanged the pairs `groupByKey(container)` to
    * get perfect run grouping; that shuffle carried both norm strings per
    * pair (195 MB at 160k clips — the pipeline's largest exchange) and was
    * the top task-CPU stage. Partition-local runs give the same exact
    * verdict per pair (the predicate is per-pair; grouping only affects
    * amortization) with zero data motion. */
  def containmentEdges(slowCands: DataFrame, cfg: DedupConfig): DataFrame = {
    val spark = slowCands.sparkSession
    import spark.implicits._
    val oriented = slowCands.select(
      when(length(col("norm_a")) >= length(col("norm_b")), col("a")).otherwise(col("b")).as("container"),
      when(length(col("norm_a")) >= length(col("norm_b")), col("b")).otherwise(col("a")).as("contained"),
      when(length(col("norm_a")) >= length(col("norm_b")), col("norm_a")).otherwise(col("norm_b")).as("container_norm"),
      when(length(col("norm_a")) >= length(col("norm_b")), col("norm_b")).otherwise(col("norm_a")).as("contained_norm"))
      .sortWithinPartitions(col("container"))
      .as[(Long, Long, String, String)]
    oriented.mapPartitions { rows =>
      var curId = Long.MinValue
      var curNorm: String = null
      var sa: SuffixArray = null
      var runLen = 0
      rows.flatMap { case (cid, contained, cnorm, dnorm) =>
        if (cid != curId || curNorm == null) {
          curId = cid; curNorm = cnorm; sa = null; runLen = 0
        }
        runLen += 1
        if (sa == null && runLen >= 4) sa = SuffixArray.build(curNorm)
        // mid-needle fast reject: any occurrence of the full contained text
        // includes its middle 64 chars, so a miss on the cheap short probe
        // (O(64 log n) vs O(m log n) full binary search / deep indexOf on
        // boilerplate-prefix near-matches) disproves containment exactly —
        // ~93% of gate-surviving candidates are false and die here
        val m = dnorm.length
        val maybe = m < 96 || {
          val mid = dnorm.substring(m / 2 - 32, m / 2 + 32)
          if (sa != null) sa.contains(mid) else curNorm.contains(mid)
        }
        val hit = maybe &&
          (if (sa != null) sa.contains(dnorm) else curNorm.contains(dnorm))
        if (hit) Iterator.single((math.min(cid, contained), math.max(cid, contained)))
        else Iterator.empty
      }
    }.toDF("a", "b")
  }

  /** Full run: returns (clip_id, id, cluster, rep_clip_id, is_rep). `cluster`
    * is the min hash-id in the component; `rep_clip_id` the lexicographically
    * smallest clip_id in the cluster (deterministic canonical pick, P11).
    * The text lane through [[stages]], kept [[InMemory]]; the returned
    * table's own checkpoint is the only cache its [[RunScope]] leaves. */
  def run(clips: DataFrame, cfg: DedupConfig = DedupConfig.default): DataFrame =
    RunScope(clips, VerifyBroadcastMaxRows) { _ =>
      stages(clips, InMemory(cfg))(features(_, cfg), f => verifiedEdges(f, candidates(f, cfg), cfg))
    }.get

  /** How [[stages]] keeps each stage; None stops the run after it. */
  private[dedup] trait Materialize {
    def features(compute: => DataFrame): Option[DataFrame]
    def edges(compute: => DataFrame): Option[DataFrame]
    def labels(edges: DataFrame): Option[DataFrame]
    def assignments(compute: => DataFrame): Option[DataFrame]
  }

  /** The plain drivers' policy: features and edges persist for the run (the
    * CC gate's count materializes the edges), and the assignments are
    * checkpointed eagerly (only actions plan under the scope's shuffle
    * clamp). */
  private[dedup] final case class InMemory(cfg: DedupConfig) extends Materialize {
    def features(compute: => DataFrame) = Some(RunScope.persist(compute))
    def edges(compute: => DataFrame) = Some(RunScope.persist(compute))
    def labels(edges: DataFrame) = Some(ConnectedComponents.run(edges, cfg))
    def assignments(compute: => DataFrame) = Some(compute.localCheckpoint(true))
  }

  /** The one stage graph of the dedup drivers: a lane's features (of the
    * clips) → its verified edges (of the features) → CC labels →
    * [[assignments]]. None when a stage stopped the run. */
  private[dedup] def stages(clips: DataFrame, materialize: Materialize)(
      featuresOf: DataFrame => DataFrame, edgesOf: DataFrame => DataFrame): Option[DataFrame] =
    for {
      f <- materialize.features(featuresOf(clips))
      edges <- materialize.edges(edgesOf(f))
      labels <- materialize.labels(edges)
      out <- materialize.assignments(assignments(f, labels))
    } yield out

  /** Join clip ids to CC labels; absent vertices are their own singleton
    * cluster. Canonical representative = min clip_id per cluster via a
    * map-side-combinable groupBy (no window sort over the whole corpus). */
  def assignments(features: DataFrame, labels: DataFrame): DataFrame = {
    val ids = features.select(col("clip_id"), col("id"))
    // narrow (clip_id, id, cluster) rows, checkpointed: both the reps
    // aggregation and the final join consume this table — unpersisted it
    // was recomputed per consumer, re-reading the features cache and
    // re-running the labels join three times (at corpus scale: three
    // full-corpus scans in the output phase alone)
    val withLabels = ids
      .join(labels.withColumnRenamed("label", "cc_label"), Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cc_label"), col("id")))
      .select(col("clip_id"), col("id"), col("cluster"))
      .localCheckpoint(false)
    val reps = withLabels.groupBy(col("cluster"))
      .agg(min(col("clip_id")).as("rep_clip_id"))
    withLabels
      .join(reps, "cluster")
      .withColumn("is_rep", col("clip_id") === col("rep_clip_id"))
      .select(col("clip_id"), col("id"), col("cluster"), col("rep_clip_id"), col("is_rep"))
  }

  /** Surviving rows after dedup: one full input row per cluster (P11). */
  def dedupOutput(clips: DataFrame, assign: DataFrame): DataFrame =
    clips.join(assign.where(col("is_rep")).select(col("clip_id"), col("cluster")), "clip_id")
}
