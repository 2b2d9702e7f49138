package graft.dedup

import graft.core.DedupConfig
import graft.text.TextFeatures

/** THE near-duplicate pair predicate — the single definition used by both
  * the Spark pipeline's verification stage and the brute-force oracle, so
  * "reference cluster assignments at the same shingle/signature config"
  * (BASELINE.json) is bit-identical by construction.
  *
  * A pair (a, b) of normalized transcripts is a near-duplicate iff ANY of:
  *  1. exact char-k-gram-set Jaccard >= jaccardThreshold,
  *  2. SimHash Hamming distance <= hammingMax,
  *  3. exact substring containment: the shorter text occurs verbatim in the
  *     longer one and has length >= minContainLen.
  *
  * The three clauses are exactly the three candidate-generation lanes
  * (MinHash-LSH, SimHash blocks, winnowing/suffix) — candidates are a
  * superset, verification applies this exact predicate, so the pipeline
  * admits no false-positive pairs and recall is governed by candidate
  * generation alone.
  */
object DupPredicate {

  def isDup(normA: String, normB: String, simA: Long, simB: Long,
            cfg: DedupConfig): Boolean = {
    // cheapest first: Hamming
    if (TextFeatures.hammingDistance(simA, simB) <= cfg.hammingMax) return true
    // substring containment
    if (containment(normA, normB, cfg)) return true
    // exact Jaccard
    val sa = TextFeatures.shingleSet(normA, cfg.shingleK, cfg.seed)
    val sb = TextFeatures.shingleSet(normB, cfg.shingleK, cfg.seed)
    TextFeatures.jaccardSorted(sa, sb) >= cfg.jaccardThreshold
  }

  /** Clauses 1+2 only (Hamming, Jaccard) — the expression-friendly part of
    * the predicate; clause 3 (containment) runs in the grouped suffix-array
    * pass ([[DedupPipeline.containmentEdges]]). isDup ≡ isDupFast ∨
    * containment, by construction. */
  def isDupFast(normA: String, normB: String, simA: Long, simB: Long,
                cfg: DedupConfig): Boolean = {
    if (TextFeatures.hammingDistance(simA, simB) <= cfg.hammingMax) return true
    val sa = TextFeatures.shingleSet(normA, cfg.shingleK, cfg.seed)
    val sb = TextFeatures.shingleSet(normB, cfg.shingleK, cfg.seed)
    TextFeatures.jaccardSorted(sa, sb) >= cfg.jaccardThreshold
  }

  /** Clause 3 alone: shorter-in-longer verbatim, min length respected. */
  def containment(normA: String, normB: String, cfg: DedupConfig): Boolean = {
    val (short, long) = if (normA.length <= normB.length) (normA, normB) else (normB, normA)
    short.length >= cfg.minContainLen && long.contains(short)
  }
}
