package graft.core

/** The frozen shingle/signature configuration.
  *
  * BASELINE.json demands recall >= 0.99 "at the same shingle/signature
  * config" between the pipeline and the reference (brute-force oracle)
  * implementation. Every constant that influences a signature lives here and
  * ONLY here, so pipeline and oracle cannot drift (SURVEY.md §7.4).
  *
  * How a run joins its verify lookups is not configured here: each run
  * measures its input rows against its lane's ceiling
  * ([[graft.dedup.RunScope]]), and a session turns the broadcasts off
  * with `spark.sql.autoBroadcastJoinThreshold=-1`.
  */
final case class DedupConfig(
    /** char k-gram length for shingling (after normalization) */
    shingleK: Int = 5,
    /** MinHash signature width */
    numHashes: Int = 128,
    /** LSH bands (bands * rowsPerBand == numHashes) */
    bands: Int = 32,
    /** LSH rows per band */
    rowsPerBand: Int = 4,
    /** exact Jaccard threshold for the near-duplicate predicate */
    jaccardThreshold: Double = 0.7,
    /** SimHash Hamming-block count (pigeonhole: <=hammingMax shares a block) */
    simhashBlocks: Int = 4,
    /** max Hamming distance for the SimHash near-duplicate predicate */
    hammingMax: Int = 3,
    /** min normalized length (chars) for the substring-containment predicate */
    minContainLen: Int = 100,
    /** winnowing window (shingles) for the substring candidate lane */
    winnowWindow: Int = 32,
    /** winnowing shingle length (chars) — larger than shingleK so a bucket
      * collision implies a shared 16-char run, not a common 5-gram; the
      * winnowing guarantee covers shared substrings >= winnowWindow +
      * winnowK - 1 = 47 chars < minContainLen */
    winnowK: Int = 16,
    /** master seed for all hash families */
    seed: Long = 42L,
    /** cap on LSH bucket size before salted overflow handling (skew guard;
      * each bucket run is counted exactly inside the single run-streaming
      * exchange of [[graft.dedup.CandidatePairs]]) */
    maxBucketSize: Int = 64,
    /** edge-count ceiling for running the CC rounds on the driver
      * ([[graft.dedup.ConnectedComponents.run]]): at or below this the
      * verified dup graph is a few MB, collected once, and ~3 scheduler
      * round-trips of near-empty stages per round cost more than the whole
      * contraction; above it each round runs as Spark jobs (the production
      * path — the 160k-clip bench graph is ~5x this ceiling). Every round's
      * labels are the same either way, so checkpointed runs commit the same. */
    ccLocalMaxEdges: Long = 100000L,
    /** exact 64-bit id guarantee: detect hash_id collisions across distinct
      * clip_ids (one slim map-side-combined aggregation at ingest) and
      * deterministically re-key the colliding clips
      * ([[graft.dedup.ExactIds]]). Off by default — a collision is a
      * ~3e4-in-10^12-rows event and every oracle/checksum gate runs the
      * plain 64-bit path; turn on for corpora where a silent false merge is
      * unacceptable. */
    exactIds: Boolean = false
) {
  require(bands * rowsPerBand == numHashes, "bands*rowsPerBand must equal numHashes")
  require(64 % simhashBlocks == 0, "simhashBlocks must divide 64")
  require(simhashBlocks > hammingMax, "pigeonhole needs blocks > hammingMax")
}

object DedupConfig {
  /** THE frozen config — used by pipeline, oracle, and tests alike. */
  val default: DedupConfig = DedupConfig()
}
