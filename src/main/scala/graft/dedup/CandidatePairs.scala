package graft.dedup

import graft.core.DedupConfig
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Bucket → candidate-pair expansion with explicit skew handling.
  *
  * Input: rows of (bkey: Long, id: Long) — an LSH band bucket, a SimHash
  * block bucket, a winnowing-fingerprint bucket or an embedding-LSH
  * bucket, lane index in the key's low 2 bits. Output: unordered candidate
  * pairs (a, b), a < b.
  *
  * Skew machinery (SURVEY.md §2.2 P7): every bucket is counted exactly
  * inside the one repartition-and-sort exchange that streams its run
  * ([[streamRuns]]); the count is the run's length as the sorted partition
  * streams past, so no per-key state is kept. Exact counts make the pair
  * set a pure function of the data at any partitioning. (The reference's
  * Misra-Gries heavy-hitter query is served separately, as the
  * `freq_sketch_topk` SQL aggregate.) Hot keys are salted into
  * ceil(size/cap) sub-buckets; within each (key, salt) group pairs are
  * emitted all-pairs when small, sliding-window when large (bounding both
  * per-bucket pair count AND per-vertex degree — which is what keeps the
  * later CC joins hub-free); sub-buckets of a hot key are stitched with a
  * chain over their min ids so true giant clusters stay connected.
  */
object CandidatePairs {

  /** Per-vertex pairing window inside oversized buckets. */
  final val Window = 16
  /** Salt-group count bounds for hot keys. */
  final val MaxSalts = 1024

  /** Overflow-degrade visibility (ADVICE r4): past cap × MaxSalts ids a
    * bucket run drains through the bounded-memory windowed path and the
    * advertised "candidate recall COMPLETE below cap × MaxSalts" property
    * stops holding for that run — the repo's no-silent-caps discipline
    * requires that loss to be machine-visible, not oral history. One named
    * accumulator per SparkContext counts overflowed runs across all
    * pair-gen jobs; Bench and Verify surface the value in their artifacts
    * (expected 0 at every tested scale — a single bucket needs ~10^5
    * members to trip it). */
  private val overflowAccs =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext,
      org.apache.spark.util.LongAccumulator]
  private[graft] def overflowAcc(sc: org.apache.spark.SparkContext): org.apache.spark.util.LongAccumulator =
    overflowAccs.computeIfAbsent(sc, c => c.longAccumulator("graft.pairs.overflowRuns"))
  /** Total overflowed runs observed on the session's context so far. */
  def overflowRuns(spark: SparkSession): Long = overflowAcc(spark.sparkContext).value

  /** Stitch the salt groups of one split hot bucket: every group minimum
    * pairs with the smallest minimum (a STAR, not a path). Same candidate
    * count as the old adjacent-rep chain, but the stitched component has
    * diameter 2 instead of #salts — for a bucket split into 1024 salt
    * groups the min-label CC loop previously needed O(log 1024) extra
    * pointer-jump rounds just to collapse the connector path; the star
    * collapses in one propagate. (Connectivity class is identical; which
    * CANDIDATE pairs are emitted differs, and all of them still pass
    * through exact verification like any other candidate.) */
  private def starChain(reps: Array[Long], lane: Int): Iterator[(Long, Long, Int)] = {
    if (reps.length < 2) return Iterator.empty
    var min = reps(0)
    var i = 1
    while (i < reps.length) { if (reps(i) < min) min = reps(i); i += 1 }
    val m = min
    reps.iterator.filter(_ != m).map(r => (math.min(m, r), math.max(m, r), lane))
  }

  /** Salted fallback for an over-cap run shared by the packed and Hamming
    * paths: pmod-salted groups, window-capped expansion per group, star
    * stitch over the salt-ordered group minima. The emitted pair set is a
    * pure function of (bkey, arr, cap); `arr` holds the run's ids
    * ascending. */
  private def saltedRun(bkey: Long, lane: Int, arr: Array[Long],
                        cap: Int): Iterator[(Long, Long, Int)] = {
    val n = arr.length
    val salts = math.max(2L, math.min(MaxSalts.toLong, n.toLong / cap + 1L)).toInt
    val groups = Array.fill(salts)(new scala.collection.mutable.ArrayBuilder.ofLong)
    var i = 0
    while (i < n) {
      val id = arr(i)
      val h = graft.core.Murmur3.hashLong(id, bkey)
      val s = ((h % salts) + salts) % salts
      groups(s.toInt) += id
      i += 1
    }
    val built = groups.map(_.result()) // each ascending (input sorted)
    val pairsIt = built.iterator.flatMap { g =>
      expand(g, cap).map { case (a, b) => (a, b, lane) }
    }
    val reps = built.iterator.filter(_.nonEmpty).map(_.head).toArray
    pairsIt ++ starChain(reps, lane)
  }

  /** Expand sorted in-bucket ids to pairs: all-pairs when |ids| <= cap,
    * else sliding window of `Window` (bounded degree). */
  private def expand(ids: Array[Long], cap: Int): Iterator[(Long, Long)] = {
    java.util.Arrays.sort(ids)
    val m = ids.length
    if (m < 2) Iterator.empty
    else if (m <= cap) {
      for {
        i <- Iterator.range(0, m)
        j <- Iterator.range(i + 1, m)
      } yield (ids(i), ids(j))
    } else {
      for {
        i <- Iterator.range(0, m)
        d <- Iterator.range(1, math.min(Window, m - i))
      } yield (ids(i), ids(i + d))
    }
  }

  /** Full skew-aware pair generation over a packed (bkey, id) bucket
    * table — the entry [[DedupPipeline.candidates]] (one pass over the
    * features cache) and [[graft.ann.EmbedDedup]] emit their rows into.
    * Output (a, b, lane): unordered unique pairs with the OR of the lane
    * bits that produced them — verification then evaluates only the
    * predicate clause(s) whose lane emitted a pair (a jaccard check is
    * pointless for a pair only the SimHash-block lane produced, and vice
    * versa).
    *
    * Data-motion layout:
    *  - bucket rows travel as packed (bkey, id) 2-long rows — lane index
    *    in the low 2 bits of the 64-bit key (keyspaces are already
    *    lane-disjoint via the per-lane xor salt; the 2 bits lost to the
    *    shift are hash bits — a cross-bucket collision merges two buckets,
    *    which can only ADD candidates, all exactly verified downstream);
    *  - they move through ONE repartition-and-sort exchange
    *    ([[streamRuns]]) that streams complete bucket runs per partition —
    *    counts, singleton drop, salting, expansion and chain stitching all
    *    happen inside that single pass;
    *  - runs of 2..cap-1 ids emit all-pairs;
    *  - runs of >= cap ids are salted into ceil(n/cap) (clamped [2,
    *    MaxSalts]) groups by pmod(murmur(id, bkey), salts) — a pure per-row
    *    function, so the emitted pair set (and the fps_hits co-emission
    *    counts the containment gate reads) is independent of partitioning —
    *    each group expanded all-pairs/windowed, plus the chain pairs over
    *    the salt-ordered group minima that keep a split bucket connected. */
  def pairsPacked(packedIn: DataFrame, cfg: DedupConfig = DedupConfig.default): DataFrame = {
    val cap = cfg.maxBucketSize
    streamRuns(packedIn, cfg, withFp = false) { (bkey, lane, ids, _) =>
      if (ids.length < cap) expand(ids, cap).map { case (a, b) => (a, b, lane) }
      else saltedRun(bkey, lane, ids, cap)
    }
  }

  /** Expands one complete bucket run: (bkey, lane, ids ascending, their
    * fingerprints or null) → (a, b, lane) pairs. */
  private type RunExpander = (Long, Int, Array[Long], Array[Long]) => Iterator[(Long, Long, Int)]

  /** Field access for the two exchange row shapes: (bkey, id) on the
    * packed path, (bkey, id, fp) on the Hamming path. */
  private sealed abstract class RunRows[R] extends Serializable {
    def key(r: R): Long
    def id(r: R): Long
    def fp(r: R): Long
  }
  private object IdRows extends RunRows[(Long, Long)] {
    def key(r: (Long, Long)): Long = r._1
    def id(r: (Long, Long)): Long = r._2
    def fp(r: (Long, Long)): Long = 0L
  }
  private object FpRows extends RunRows[(Long, Long, Long)] {
    def key(r: (Long, Long, Long)): Long = r._1
    def id(r: (Long, Long, Long)): Long = r._2
    def fp(r: (Long, Long, Long)): Long = r._3
  }

  /** The bucket-run streamer under both entries: ONE exchange for
    * the whole pair generation.
    *
    * `repartition(bkey) + sortWithinPartitions(bkey, id)` makes every
    * bucket a contiguous sorted run inside exactly one partition; a single
    * streaming pass over each partition then handles everything the old
    * three-exchange flow (per-key count shuffle, salt-delivery broadcast
    * join, salted data exchange, chain-stitch aggregation) did, with zero
    * further data motion and no driver round-trip. Each run is read into
    * arrays of at most runBuffer = cap * MaxSalts ids (with `withFp`, also
    * their fingerprints); singleton runs emit nothing (the old count>=2
    * semi-join for free) and every other complete run goes to `expandRun`.
    *
    * A run longer than runBuffer (65,536 ids at the default cap) drains
    * through [[overflowRun]] instead, counted on [[overflowAcc]]. The drain
    * pins salts at MaxSalts, and that is exact (ADVICE r2): runBuffer is
    * cap * MaxSalts whatever the cap, so every overflowing run has more
    * than cap * MaxSalts ids and its salt count has saturated.
    *
    * The packed exchange carries only (bkey, id); fingerprints travel only
    * with `withFp`. The sort is the shuffle's own ordering work (2-long
    * rows on the packed path); at 10^12 rows this is strictly less motion
    * than the old flow shuffled for the count alone. */
  private def streamRuns(packedIn: DataFrame, cfg: DedupConfig, withFp: Boolean)(
      expandRun: RunExpander): DataFrame = {
    val spark = packedIn.sparkSession
    import spark.implicits._
    val runBuffer = math.min(Int.MaxValue.toLong, cfg.maxBucketSize.toLong * MaxSalts).toInt
    val ovAcc = overflowAcc(spark.sparkContext)
    val sorted = packedIn
      .repartition(col("bkey"))
      .sortWithinPartitions(col("bkey"), col("id"))

    def stream[R](rows: Dataset[R], shape: RunRows[R]): Dataset[(Long, Long, Int)] =
      rows.mapPartitions { it0 =>
        val it = it0.buffered
        def inRun(bkey: Long): Boolean = it.hasNext && shape.key(it.head) == bkey

        // one run = all rows of one bkey (contiguous, ids ascending)
        def run(): Iterator[(Long, Long, Int)] = {
          val bkey = shape.key(it.head)
          val lane = 1 << (bkey & 3L).toInt
          var ids = new Array[Long](16)
          var fps = if (withFp) new Array[Long](16) else null
          var n = 0
          while (n < runBuffer && inRun(bkey)) {
            if (n == ids.length) {
              ids = java.util.Arrays.copyOf(ids, n << 1)
              if (withFp) fps = java.util.Arrays.copyOf(fps, n << 1)
            }
            val r = it.next()
            ids(n) = shape.id(r)
            if (withFp) fps(n) = shape.fp(r)
            n += 1
          }
          if (inRun(bkey)) {
            ovAcc.add(1L)
            val rest = new Iterator[Long] {
              def hasNext: Boolean = inRun(bkey)
              def next(): Long = shape.id(it.next())
            }
            overflowRun(bkey, lane, ids.iterator.take(n) ++ rest)
          } else if (n < 2) Iterator.empty
          else expandRun(bkey, lane, java.util.Arrays.copyOf(ids, n),
            if (withFp) java.util.Arrays.copyOf(fps, n) else null)
        }

        new Iterator[Iterator[(Long, Long, Int)]] {
          def hasNext: Boolean = it.hasNext
          def next(): Iterator[(Long, Long, Int)] = run()
        }.flatten
      }

    val emitted =
      if (withFp) stream(sorted.select(col("bkey"), col("id"), col("fp")).as[(Long, Long, Long)], FpRows)
      else stream(sorted.select(col("bkey"), col("id")).as[(Long, Long)], IdRows)
    aggregatePairs(emitted.toDF("a", "b", "lane"))
  }

  /** Bounded-memory drain of one run longer than the run buffer, for both
    * entries: salts is pinned at MaxSalts (exact, see [[streamRuns]]),
    * per-salt sliding windows of the ascending id stream emit the same
    * windowed pairs, per-salt minima accumulate for the chains — O(
    * MaxSalts * Window) memory however large the bucket.
    *
    * Groups always window-expand: expected group size is runBuffer /
    * MaxSalts >= cap. Residual approximation (ADVICE r2): a salt group
    * that lands *at or below* cap members would have gotten all-pairs
    * expansion in saltedRun but gets the window here; with window >=
    * cap/4 the chains keep recall (DedupPipelineSpec's "exact pair
    * generator at a bucket cap of 8" test gates recall with salting on;
    * CandidatePairsSpec's overflow test keeps a drained run connected),
    * and any TRUE giant bucket's groups are far above cap anyway. On the Hamming path the drain reads ids only and forfeits
    * Hamming-recall completeness for THIS run — which is why every drain
    * is counted on the overflow accumulator (ADVICE r4), never silent. */
  private def overflowRun(bkey: Long, lane: Int, src: Iterator[Long]): Iterator[(Long, Long, Int)] = {
    val salts = MaxSalts
    val win = Window - 1
    val rings = Array.ofDim[Long](salts, win)
    val counts = new Array[Long](salts)
    val mins = new Array[Long](salts)
    val seen = new Array[Boolean](salts)
    val windowed = src.flatMap { id =>
      val h = graft.core.Murmur3.hashLong(id, bkey)
      val s = (((h % salts) + salts) % salts).toInt
      if (!seen(s)) { seen(s) = true; mins(s) = id }
      val c = counts(s)
      val have = math.min(c, win.toLong).toInt
      val ring = rings(s)
      val out = Iterator.range(0, have).map { d =>
        val prev = ring(((c - 1 - d) % win).toInt)
        (math.min(prev, id), math.max(prev, id), lane)
      }
      ring((c % win).toInt) = id
      counts(s) = c + 1
      out
    }
    // chains built lazily AFTER the stream drains (++ is by-name)
    def chains: Iterator[(Long, Long, Int)] = {
      val reps = Iterator.range(0, salts).filter(seen(_)).map(mins(_)).toArray
      starChain(reps, lane)
    }
    windowed ++ chains
  }

  /** Depth guard for [[expandHamming]]: beyond this the group degrades to
    * the salted-window fallback (data would have to be adversarially shaped
    * — each level strictly shrinks both the group and the unpinned mask). */
  final val MaxHamDepth = 16

  /** Round-robin the set bits of `m` into `k` disjoint submasks (each
    * nonempty when popcount(m) >= k). */
  private[dedup] def splitMask(m: Long, k: Int): Array[Long] = {
    val subs = new Array[Long](k)
    var i = 0
    var mm = m
    while (mm != 0L) {
      val b = java.lang.Long.lowestOneBit(mm)
      subs(i % k) |= b
      mm ^= b
      i += 1
    }
    subs
  }

  /** Recursive-pigeonhole expansion of one bucket run for EXACT
    * Hamming-<=maxHam candidate generation (HmSearch-style multi-level
    * splitting, done locally because the run carries each member's full
    * fingerprint).
    *
    * Invariant: all members agree on every fingerprint bit OUTSIDE `mask`
    * (level 0 pins the bucket's own block; each level pins one submask
    * more), so a pair's differing bits all lie inside `mask`.
    *
    *  - n <= cap: all-pairs — exact.
    *  - over cap with > maxHam VARYING unpinned bits: split those bits into
    *    maxHam+1 disjoint submasks and re-group by each submask's value. A
    *    pair with <= maxHam diffs has a diff-free submask (pigeonhole), so
    *    it lands intact in that submask's sub-group — recall-complete at
    *    every level, and each sub-group is strictly smaller because every
    *    submask contains a varying bit. Duplicate emissions across
    *    branches collapse in [[aggregatePairs]].
    *  - over cap with <= maxHam varying unpinned bits: EVERY pair already
    *    satisfies the fingerprint predicate (diffs <= varying <= maxHam) —
    *    a genuine fingerprint swarm. Degrade to the salted-window + star
    *    fallback: connectivity holds when the swarm is verification-
    *    homogeneous (members of a <=maxHam-diameter fp ball that also pass
    *    the secondary check), the documented boundary shared with the text
    *    lane's hub handling.
    *
    * This removes the recall leak the flat cap had: a low-entropy bucket
    * (e.g. the all-quiet audio block value 0, Theta(corpus)-sized and
    * heterogeneous) is re-split by the bits that distinguish its members
    * instead of windowed, so no true pair is lost to salting. */
  private def expandHamming(ids: Array[Long], fps: Array[Long], idx: Array[Int],
                            mask: Long, cap: Int, maxHam: Int, lane: Int,
                            bkey: Long, depth: Int): Iterator[(Long, Long, Int)] = {
    val n = idx.length
    if (n < 2) Iterator.empty
    else if (n <= cap) {
      for {
        i <- Iterator.range(0, n)
        j <- Iterator.range(i + 1, n)
      } yield {
        val a = ids(idx(i))
        val b = ids(idx(j))
        (math.min(a, b), math.max(a, b), lane)
      }
    } else {
      var varying = 0L
      val f0 = fps(idx(0))
      var i = 1
      while (i < n) { varying |= fps(idx(i)) ^ f0; i += 1 }
      val m = mask & varying
      if (java.lang.Long.bitCount(m) <= maxHam || depth >= MaxHamDepth) {
        val arr = new Array[Long](n)
        i = 0
        while (i < n) { arr(i) = ids(idx(i)); i += 1 }
        java.util.Arrays.sort(arr)
        saltedRun(bkey, lane, arr, cap)
      } else {
        splitMask(m, maxHam + 1).iterator.filter(_ != 0L).flatMap { sm =>
          val groups = scala.collection.mutable.LongMap
            .empty[scala.collection.mutable.ArrayBuilder.ofInt]
          var j = 0
          while (j < n) {
            val v = fps(idx(j)) & sm
            groups.getOrElseUpdate(v, new scala.collection.mutable.ArrayBuilder.ofInt) += idx(j)
            j += 1
          }
          groups.valuesIterator.flatMap { g =>
            expandHamming(ids, fps, g.result(), m & ~sm, cap, maxHam, lane, bkey, depth + 1)
          }
        }
      }
    }
  }

  /** Exact Hamming-join pair generation over (bkey, id, fp) bucket rows —
    * the sibling of [[pairsPacked]] for predicates of the form
    * "Hamming(fp_a, fp_b) <= maxHam AND <secondary check>". Same
    * [[streamRuns]] exchange (3-long rows); every run of >= 2 ids goes to
    * [[expandHamming]], which expands all-pairs up to and including cap
    * ids and recurses instead of windowing above it, so candidate recall
    * for the Hamming budget is COMPLETE at any bucket size below
    * cap * MaxSalts (beyond it the same bounded-memory windowed drain as
    * the packed path applies — a ~10^5-member single bucket, the
    * documented boundary).
    *
    * `pinnedMask(bkey)` must return the fingerprint bits the level-0 bucket
    * key already pins (the pigeonhole block the row was emitted for). */
  def pairsHamming(packedIn: DataFrame, cfg: DedupConfig, maxHam: Int,
                   fullMask: Long, pinnedMask: Long => Long): DataFrame = {
    val cap = cfg.maxBucketSize
    streamRuns(packedIn, cfg, withFp = true) { (bkey, lane, ids, fps) =>
      expandHamming(ids, fps, Array.tabulate(ids.length)(identity),
        fullMask & ~pinnedMask(bkey), cap, maxHam, lane, bkey, 0)
    }
  }

  /** lane = OR of the lane bits that produced the pair (verification then
    * evaluates only the clauses whose lane emitted it). fps_hits counts the
    * winnow-lane CO-EMISSIONS of the pair: every term (bucket membership,
    * exact run count, salt assignment, window adjacency) is a pure function
    * of the data, so the count is parallelism-independent and safe to gate
    * on. */
  private def aggregatePairs(emitted: DataFrame): DataFrame = {
    import emitted.sparkSession.implicits._
    emitted.where($"a" =!= $"b")
      .groupBy($"a", $"b")
      .agg(bit_or($"lane").as("lane"),
        sum(when($"lane" === lit(DedupPipeline.LaneFps), 1L).otherwise(0L)).as("fps_hits"))
  }
}
