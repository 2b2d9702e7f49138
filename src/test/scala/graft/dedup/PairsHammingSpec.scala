package graft.dedup

import graft.SparkTest
import graft.audio.SpectralSig
import graft.core.DedupConfig
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for [[CandidatePairs.pairsHamming]] — the recursive-
  * pigeonhole Hamming-join pair generator the audio lane rides on. The
  * property that matters: candidate recall for "Hamming <= maxHam" is
  * COMPLETE even when buckets blow far past the cap (the flat-cap windowed
  * fallback provably loses pairs there — that was d09's n=500 regression). */
class PairsHammingSpec extends AnyFunSuite with SparkTest {
  import PairsHammingSpec._

  private val fullMask = (1L << SpectralSig.Bins) - 1

  private def emittedPairs(fps: Array[Long], cap: Int): Set[(Long, Long)] = {
    import spark.implicits._
    val cfg = DedupConfig.default.copy(maxBucketSize = cap)
    val df = bucketRows(fps).toDF("bkey", "id", "fp")
    // object-method reference: serializable (a suite-local def would drag
    // the non-serializable suite instance into the task closure)
    CandidatePairs
      .pairsHamming(df, cfg, SpectralSig.MaxHamming, fullMask, AudioDedup.pinnedMask)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
  }

  /** union-find: do `pairs` connect all of `ids`? */
  private def oneComponent(ids: Array[Long], pairs: Set[(Long, Long)]): Boolean = {
    val idx = ids.zipWithIndex.toMap
    val root = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = { var r = x; while (root(r) != r) { root(r) = root(root(r)); r = root(r) }; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      if (ra != rb) root(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.indices.map(find).distinct.size == 1
  }

  test("recall is complete under a tiny cap on a sparse, zero-block-heavy corpus") {
    // mimic the real pathology: sparse fingerprints whose quiet-band blocks
    // collapse onto value 0, forming huge heterogeneous buckets. cap=8
    // forces deep recursion through exactly those buckets.
    val rnd = new java.util.Random(7L)
    val n = 400
    val fps = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (i % 4 != 0 || i < 4) {
        // fresh sparse fp: 3..8 set bits, biased to the upper 36 bits so
        // block 0 is zero for most clips (the degenerate bucket)
        var fp = 0L
        val k = 3 + rnd.nextInt(6)
        var j = 0
        while (j < k) {
          val bit = if (rnd.nextInt(10) == 0) rnd.nextInt(48) else 12 + rnd.nextInt(36)
          fp |= (1L << bit)
          j += 1
        }
        fps(i) = fp
      } else {
        // mate of a previous clip: <= MaxHamming random flips, often spread
        // across several blocks (the case the flat cap lost)
        val base = fps(i - 1 - rnd.nextInt(3))
        var fp = base
        val flips = rnd.nextInt(SpectralSig.MaxHamming + 1)
        var j = 0
        while (j < flips) { fp ^= (1L << rnd.nextInt(48)); j += 1 }
        fps(i) = fp
      }
      i += 1
    }
    val ids = Array.tabulate(n)(i => i.toLong * 2654435761L + 11L)
    val expected = (for {
      a <- 0 until n
      b <- (a + 1) until n
      if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= SpectralSig.MaxHamming
    } yield (math.min(ids(a), ids(b)), math.max(ids(a), ids(b)))).toSet
    assert(expected.size > 100, s"degenerate fixture: ${expected.size} true pairs")
    // sanity: the fixture really exercises over-cap buckets
    val zeroBlock0 = fps.count(fp => (fp & ((1L << B) - 1)) == 0L)
    assert(zeroBlock0 > 100, s"fixture lost its hot zero bucket: $zeroBlock0")

    val got = emittedPairs(fps, cap = 8)
    val missed = expected -- got
    assert(missed.isEmpty, s"lost ${missed.size} true pairs, e.g. ${missed.take(3)}")
  }

  test("identical-fingerprint swarm stays connected through the fallback") {
    // all members share one fp: every block run is over-cap with zero
    // varying bits -> salted-window + star fallback. All emitted pairs are
    // real (ham=0), and the swarm must come out CONNECTED.
    val n = 300
    val fps = Array.fill(n)(0x0800400200100L & ((1L << 48) - 1))
    val ids = Array.tabulate(n)(i => i.toLong * 2654435761L + 11L)
    val got = emittedPairs(fps, cap = 8)
    assert(got.nonEmpty)
    assert(oneComponent(ids, got), "swarm split by the fallback")
  }

  test("identical-fingerprint swarm past cap*MaxSalts stays connected through the drain") {
    // cap = 2 buffers 2,048 ids per run: each of the NB block runs of a
    // 2,100-member swarm overflows into the windowed drain
    val n = 2100
    val fps = Array.fill(n)(0x0800400200100L)
    val ids = Array.tabulate(n)(i => i.toLong * 2654435761L + 11L)
    val ov0 = CandidatePairs.overflowRuns(spark)
    val got = emittedPairs(fps, cap = 2)
    assert(CandidatePairs.overflowRuns(spark) - ov0 === NB.toLong)
    assert(oneComponent(ids, got), "swarm split by the drain")
  }

  test("splitMask round-robins bits into maxHam+1 nonempty disjoint submasks") {
    val m = 0x0000F0F0F0F0F0FL
    val subs = CandidatePairs.splitMask(m, 4)
    assert(subs.reduce(_ | _) == m)
    assert(subs.combinations(2).forall { case Array(x, y) => (x & y) == 0L })
    assert(subs.forall(_ != 0L)) // popcount(m)=28 >= 4
  }
}

object PairsHammingSpec {
  private val B = SpectralSig.BlockBits
  private val NB = SpectralSig.NumBlocks

  /** Bucket rows exactly as AudioDedup emits them. */
  def bucketRows(fps: Array[Long]): Seq[(Long, Long, Long)] =
    fps.indices.flatMap { i =>
      val id = i.toLong * 2654435761L + 11L // distinct, unordered vs index
      (0 until NB).map { b =>
        val block = (fps(i) >>> (B * b)) & ((1L << B) - 1)
        val bkey = ((b.toLong << B) | block) << 2
        (bkey, id, fps(i))
      }
    }
}
