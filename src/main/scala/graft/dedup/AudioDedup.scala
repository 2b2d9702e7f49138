package graft.dedup

import graft.audio.SpectralSig
import graft.core.DedupConfig
import graft.functions.GraftFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Audio-content near-duplicate clustering — the WAVEFORM counterpart of the
  * transcript [[DedupPipeline]]: clips whose decoded audio matches are
  * clustered even when their transcripts, codecs, or gains differ.
  *
  * Plan shape (the 10^12-row story, mirroring the text lane):
  *  1. ONE projection over the corpus computes the spectral signature
  *     ([[SpectralSig.sig]], decode + Goertzel, gain-invariant) and its
  *     64-bit fingerprint per clip — no shuffle.
  *  2. Each clip emits [[SpectralSig.NumBlocks]] (blockIdx, block-value)
  *     bucket rows carrying its fingerprint;
  *     [[CandidatePairs.pairsHamming]] expands buckets into candidate pairs
  *     through one repartition-and-sort exchange, re-splitting over-cap
  *     buckets recursively by the still-unpinned fingerprint bits
  *     (HmSearch-style multi-level pigeonhole) — a true-dup hub still
  *     degrades to the salted window + star chain, but only once its
  *     members are Hamming-indistinguishable, where the star edges pass
  *     verification.
  *  3. Pigeonhole recall: the verify predicate requires Hamming distance
  *     <= NumBlocks - 1, so every accepted pair shares at least one exact
  *     block, and the recursive split preserves that completeness at every
  *     level — bucketing misses nothing the predicate would accept.
  *  4. Pairs join the slim (id, sig, fp) table twice (plain equi-joins on
  *     the uniform hash id — no skew), through [[RunScope.lookup]]: hinted
  *     as the broadcast build side up to [[VerifyBroadcastMaxRows]] clips,
  *     sort-merged above it. They are verified by the frozen predicate:
  *     bit_count(fp_a ^ fp_b) <= MaxHamming AND codegen cosine(sig_a,
  *     sig_b) >= MinCosine.
  *  5. Steps 1 and 2–4 are this lane's features and edges in
  *     [[DedupPipeline.stages]], kept [[DedupPipeline.InMemory]]: edges
  *     cluster via [[ConnectedComponents]], assignments/representatives
  *     are [[DedupPipeline.assignments]].
  *
  * Output: (clip_id, id, cluster, rep_clip_id, is_rep) — cluster is the min
  * hash id of the audio component, rep the lexicographically smallest
  * clip_id.
  */
object AudioDedup {

  /** Packed bucket key: ((blockIdx << BlockBits) | block) << 2 — low 2 bits
    * are the [[CandidatePairs]] lane index (0 = plain LSH-style lane). */
  private def blockKeyCols(fp: org.apache.spark.sql.Column) =
    (0 until SpectralSig.NumBlocks).map { b =>
      shiftleft(
        shiftrightunsigned(fp, SpectralSig.BlockBits * b)
          .bitwiseAND(lit((1L << SpectralSig.BlockBits) - 1))
          .bitwiseOR(lit(b.toLong << SpectralSig.BlockBits)), 2)
    }

  /** One no-shuffle projection: (clip_id, id, sig, fp) — decode + Goertzel
    * once per clip, fingerprint derived from the sig column. Reads ONLY
    * (clip_id, bytes, codec, sr_hz); the transcript never enters this lane.
    * `cfg.exactIds` applies the same collision-detect + re-key repair as the
    * text lane (ADVICE r4: keying this lane on hash_id without the repair
    * path meant a 64-bit id collision silently merged two unrelated clips
    * into one audio-graph vertex — the exact failure ExactIds prevents). */
  def features(clips: DataFrame, cfg: DedupConfig = DedupConfig.default): DataFrame = {
    val f = clips
      .select(col("clip_id"), hash_id(col("clip_id")).as("id"),
        audio_spectral_sig(col("bytes"), col("codec"), col("sr_hz")).as("sig"))
      .withColumn("fp", spectral_fp(col("sig")))
    if (cfg.exactIds) ExactIds.repair(f) else f
  }

  /** Fingerprint bits pinned by a packed bucket key (the block the row was
    * emitted for) — the level-0 mask for the recursive-pigeonhole expansion. */
  private[dedup] def pinnedMask(bkey: Long): Long = {
    val blockIdx = ((bkey >>> 2) >>> SpectralSig.BlockBits).toInt
    ((1L << SpectralSig.BlockBits) - 1) << (SpectralSig.BlockBits * blockIdx)
  }

  /** Input-row ceiling for broadcasting [[verifiedEdges]]' lookups (the
    * [[RunScope]] join rule). Lower than the text lane's: each lookup row
    * carries a 48-double spectral signature, wider than an embedding row. */
  final val VerifyBroadcastMaxRows = 100000L

  /** Block buckets -> candidate pairs -> frozen-predicate verification.
    *
    * Pair generation is [[CandidatePairs.pairsHamming]]: bucket rows carry
    * the fingerprint, and over-cap buckets re-split recursively by the
    * still-unpinned bits instead of windowing. The dominant-band fingerprint
    * is SPARSE, so the quiet-band block value 0 collects a Theta(corpus)
    * heterogeneous bucket — under the flat cap that bucket windowed away
    * real mate pairs (observed at n=500: a ham=1 pair whose only exact
    * blocks were the three over-cap zero blocks); the recursive split keeps
    * candidate recall COMPLETE for the Hamming budget at any bucket size
    * below cap × MaxSalts ids, so the lane still equals the O(n^2) oracle
    * exactly. */
  def verifiedEdges(feats: DataFrame, cfg: DedupConfig): DataFrame = {
    val buckets = feats.select(
      explode(array(blockKeyCols(col("fp")): _*)).as("bkey"), col("id"), col("fp"))
    val cand = CandidatePairs
      .pairsHamming(buckets, cfg, SpectralSig.MaxHamming,
        (1L << SpectralSig.Bins) - 1, pinnedMask)
      .select(col("a"), col("b"))
    val slim = feats.select(col("id"), col("sig"), col("fp"))
    cand
      .join(RunScope.lookup(slim.select(col("id").as("a"), col("sig").as("sa"), col("fp").as("fa"))), "a")
      .join(RunScope.lookup(slim.select(col("id").as("b"), col("sig").as("sb"), col("fp").as("fb"))), "b")
      .where(
        bit_count(col("fa").bitwiseXOR(col("fb"))) <= lit(SpectralSig.MaxHamming) &&
          cosine_sim(col("sa"), col("sb")) >= lit(SpectralSig.MinCosine))
      .select(col("a"), col("b"))
  }

  def run(clips: DataFrame, cfg: DedupConfig = DedupConfig.default): DataFrame =
    RunScope(clips, VerifyBroadcastMaxRows) { _ =>
      DedupPipeline.stages(clips, DedupPipeline.InMemory(cfg))(features(_, cfg), verifiedEdges(_, cfg))
    }.get
}
