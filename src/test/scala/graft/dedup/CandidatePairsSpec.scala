package graft.dedup

import graft.SparkTest
import graft.audio.SpectralSig
import graft.core.{DedupConfig, Murmur3}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the single-exchange skew-aware pair generation
  * ([[CandidatePairs.pairsPacked]]) including the bounded-memory
  * overflow path that bench-scale corpora never reach, and the
  * shuffle-width independence of both entries (with
  * [[CandidatePairs.pairsHamming]]). */
class CandidatePairsSpec extends AnyFunSuite with SparkTest {

  private val cfg = DedupConfig.default

  private def packed(rows: Seq[(Long, Long)], parts: Int) = {
    import spark.implicits._
    spark.createDataset(rows).repartition(parts).toDF("bkey", "id")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** connectivity of one bucket's emitted pairs via union-find */
  private def connected(ids: Seq[Long], pairs: Set[(Long, Long)]): Boolean = {
    val idx = ids.zipWithIndex.toMap
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      (idx.get(a), idx.get(b)) match {
        case (Some(i), Some(j)) => parent(find(i)) = find(j)
        case _ =>
      }
    }
    ids.indices.map(find).distinct.size == 1
  }

  test("singleton buckets emit nothing; small buckets emit all-pairs") {
    val rows = Seq((4L, 10L), (8L, 1L), (8L, 2L), (8L, 3L))
    val out = pairSet(CandidatePairs.pairsPacked(packed(rows, 3), cfg))
    assert(out === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("hot bucket: salted expansion stays connected and bounds degree") {
    val ids = (0L until 1000L).map(_ * 7L + 1L)
    val rows = ids.map(id => (12L, id))
    val df = CandidatePairs.pairsPacked(packed(rows, 5), cfg)
    val out = pairSet(df)
    assert(connected(ids, out), "salted hot bucket must stay connected via chains")
    val degree = out.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity).map(_._2.size)
    // salt groups are ~cap-sized and expand all-pairs below the cap, so the
    // per-vertex bound is O(cap) (+2 for chain links)
    assert(degree.max <= cfg.maxBucketSize + 4,
      s"degree ${degree.max} exceeds the salted-bucket bound")
  }

  test("pair set is identical at any parallelism (exact salting is data-pure)") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map { _ =>
      ((rnd.nextInt(40) + 1).toLong, rnd.nextInt(2000).toLong)
    }
    val a = pairSet(CandidatePairs.pairsPacked(packed(rows, 2), cfg))
    val b = pairSet(CandidatePairs.pairsPacked(packed(rows, 13), cfg))
    assert(a === b)
  }

  test("overflow path (n > cap*MaxSalts): bounded, connected, deterministic") {
    // cap = 2 buffers 2 * MaxSalts = 2,048 ids per run; the 2,500-id bucket
    // overflows into the windowed drain
    val small = cfg.copy(maxBucketSize = 2)
    val ids = (0L until 2500L).map(_ * 3L + 2L)
    val rows = ids.map(id => (20L, id)) ++ Seq((24L, 5L), (24L, 6L))
    val ov0 = CandidatePairs.overflowRuns(spark)
    val s1 = pairSet(CandidatePairs.pairsPacked(packed(rows, 3), small))
    assert(CandidatePairs.overflowRuns(spark) - ov0 === 1L, "the big run must reach the drain")
    assert(s1 === pairSet(CandidatePairs.pairsPacked(packed(rows, 11), small)),
      "overflow expansion must be partitioning-independent")
    assert(connected(ids, s1), "overflow bucket must stay connected")
    assert(s1.contains((5L, 6L)), "cold bucket behind the overflow run must still pair")
  }

  /** (a, b, lane, fps_hits) rows of `pairs` over `in`, read in and
    * planned at 2 and at 13 shuffle partitions (AQE off, so the width is
    * not coalesced away). */
  private def atTwoWidths(in: DataFrame)(pairs: DataFrame => DataFrame): Seq[Seq[(Long, Long, Int, Long)]] =
    Seq(2, 13).map { width =>
      RunScope.withConf(spark, RunScope.StaticJoins + ("spark.sql.shuffle.partitions" -> width.toString)) {
        import spark.implicits._
        pairs(in.repartition(width)).select("a", "b", "lane", "fps_hits")
          .as[(Long, Long, Int, Long)].collect().sorted.toSeq
      }
    }

  /** Bucket tables of singleton, small, exactly-cap and over-cap runs
    * (cap = 8) across the three lane indexes, ids drawn from one shared
    * pool so that buckets overlap and co-emissions add up. */
  private val packedTables: Gen[Seq[(Long, Long)]] = {
    val pool = (0 until 64).map(i => Murmur3.hashLong(i.toLong, 5L))
    val run = for {
      key <- Gen.choose(0L, 1L << 40)
      lane <- Gen.choose(0, 2)
      size <- Gen.oneOf(Gen.const(1), Gen.choose(2, 7), Gen.const(8), Gen.choose(9, 48))
      ids <- Gen.pick(size, pool)
    } yield ids.map(id => ((key << 2) | lane, id))
    Gen.choose(1, 12).flatMap(k => Gen.listOfN(k, run)).map(_.flatten.distinct)
  }

  /** Fingerprint sets in the shape the audio lane buckets: sparse
    * fingerprints (block 0 mostly zero, an over-cap heterogeneous bucket)
    * plus near mates within MaxHamming. */
  private val fingerprints: Gen[Array[Long]] = for {
    n <- Gen.choose(8, 40)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val rnd = new java.util.Random(seed)
    val fps = new Array[Long](n)
    for (i <- 0 until n) {
      fps(i) =
        if (i > 0 && rnd.nextInt(3) == 0) {
          var fp = fps(rnd.nextInt(i))
          for (_ <- 0 until rnd.nextInt(SpectralSig.MaxHamming + 1)) fp ^= 1L << rnd.nextInt(48)
          fp
        } else (0 until 3 + rnd.nextInt(5)).foldLeft(0L)((fp, _) => fp | (1L << (12 + rnd.nextInt(36))))
    }
    fps
  }

  test("exact and Hamming pair sets do not depend on the shuffle width") {
    val hamCfg = cfg.copy(maxBucketSize = 4)
    val fullMask = (1L << SpectralSig.Bins) - 1
    val hamming = (df: DataFrame) => CandidatePairs
      .pairsHamming(df, hamCfg, SpectralSig.MaxHamming, fullMask, AudioDedup.pinnedMask)
    val packedCap = cfg.copy(maxBucketSize = 8)
    val prop = Prop.forAllNoShrink(packedTables, fingerprints) { (table, fps) =>
      import spark.implicits._
      val Seq(p2, p13) = atTwoWidths(table.toDF("bkey", "id"))(CandidatePairs.pairsPacked(_, packedCap))
      val Seq(h2, h13) = atTwoWidths(PairsHammingSpec.bucketRows(fps).toDF("bkey", "id", "fp"))(hamming)
      (Prop(p2 == p13) :| s"packed: ${table.size} rows, ${p2.size} vs ${p13.size} pairs") &&
        (Prop(h2 == h13) :| s"hamming: ${fps.length} fps, ${h2.size} vs ${h13.size} pairs")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(10).withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("fps_hits counts winnow-lane co-emissions only") {
    // lane index 2 (low bits) = winnow lane (bit 4); lane index 0 = bands
    val rows = Seq((2L, 1L), (2L, 2L), (8L, 1L), (8L, 2L), (16L + 2L, 1L), (16L + 2L, 2L))
    val df = CandidatePairs.pairsPacked(packed(rows, 2), cfg)
    val r = df.where(col("a") === 1L && col("b") === 2L)
      .select("lane", "fps_hits").collect()(0)
    assert((r.getInt(0) & DedupPipeline.LaneFps) != 0)
    assert((r.getInt(0) & DedupPipeline.LaneBands) != 0)
    assert(r.getLong(1) === 2L, "two winnow-lane emissions (bkeys 2 and 18)")
  }
}
