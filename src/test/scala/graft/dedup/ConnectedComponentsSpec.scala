package graft.dedup

import graft.SparkTest
import graft.core.{DedupConfig, Murmur3}
import graft.snapshot.SnapshotLog
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The driver and Spark executors of the CC round against each other, and
  * the round counts and plan statistics of the iterations, on graphs whose
  * vertex ids are Murmur3 hashes (random order along every path — the
  * order the pipeline's hashed clip ids give). */
class ConnectedComponentsSpec extends AnyFunSuite with SparkTest {

  private def hashedIds(n: Int, seed: Long): IndexedSeq[Long] =
    (0 until n).map(i => Murmur3.hashLong(i.toLong, seed))

  private def path(ids: IndexedSeq[Long]): Seq[(Long, Long)] =
    ids.indices.tail.map(i => (ids(i - 1), ids(i)))

  /** Edge lists over `n` hashed ids: a path, a star, a random tree
    * (each vertex hangs off an earlier one) or a sparse random graph
    * (about n/2 random pairs, so usually several components). */
  private val graphs: Gen[(String, Seq[(Long, Long)])] = for {
    n <- Gen.choose(2, 48)
    seed <- Gen.choose(0L, Long.MaxValue)
    ids = hashedIds(n, seed)
    kind <- Gen.oneOf("path", "star", "tree", "sparse")
    edges <- kind match {
      case "path" => Gen.const(path(ids))
      case "star" => Gen.const(ids.tail.map(v => (ids.head, v)))
      case "tree" => Gen.sequence[List[(Long, Long)], (Long, Long)](
        (1 until n).map(i => Gen.choose(0, i - 1).map(j => (ids(j), ids(i)))))
      case _ => Gen.listOfN(math.max(1, n / 2),
        Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 2)))
        .map(_.map { case (i, j) => (ids(i), ids(if (j >= i) j + 1 else j)) }.distinct)
    }
  } yield (kind, edges)

  private val sparkCfg = DedupConfig.default.copy(ccLocalMaxEdges = 0)

  /** Every round's (round, converged, label sum, sorted (id, label) rows). */
  private def rounds(edges: DataFrame, cfg: DedupConfig,
                     start: Option[ConnectedComponents.Start] = None) = {
    import spark.implicits._
    val out = Seq.newBuilder[(Int, Boolean, java.math.BigDecimal, Seq[(Long, Long)])]
    ConnectedComponents.run(edges, cfg, start, onCheck = { (labels, round, converged, sum) =>
      out += ((round, converged, sum, labels.as[(Long, Long)].collect().sorted.toSeq))
      true
    })
    out.result()
  }

  test("driver and Spark executors match round for round, fresh and from a carried start") {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(graphs, Gen.choose(0, 8)) { case ((kind, edges), k) =>
      val df = edges.toDF("a", "b")
      val onSpark = rounds(df, sparkCfg)
      val fresh = rounds(df, DedupConfig.default) == onSpark && onSpark.last._2
      // resume both from the Spark executor's round k (clamped to a
      // round that is not yet the fixpoint)
      val open = onSpark.filterNot(_._2)
      val carried = open.isEmpty || {
        val (r, _, _, rows) = open(k % open.size)
        val start = Some(ConnectedComponents.Start(rows.toDF("id", "label"), r + 1, converged = false))
        val s = rounds(df, sparkCfg, start)
        s.nonEmpty && rounds(df, DedupConfig.default, start) == s
      }
      Prop(fresh && carried) :| s"$kind with ${edges.size} edges"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(16).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("carried label tables keep bounded plan statistics over 12 rounds") {
    import spark.implicits._
    // without PlanShim.withoutStats each carried checkpoint copies its
    // origin plan's size estimate, which multiplies through the round's
    // joins: past 256 bits by round 2, millions of digits by round 10.
    // Planned under the conf both CC loops set: static, no broadcast.
    RunScope.withConf(spark, RunScope.StaticJoins) {
      val sym = ConnectedComponents.checkpointedSym(path(hashedIds(64, 3L)).toDF("a", "b"), 4)
      var labels = ConnectedComponents.initLabels(sym).localCheckpoint(true)
      for (round <- 1 to 12) {
        labels = ConnectedComponents.step(sym, labels)
        ConnectedComponents.labelSum(labels) // materializes the round
        val bits = labels.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
        assert(bits < 256, s"label table size estimate has $bits bits after round $round")
      }
      assert(labels.select("label").distinct().count() == 1)
    }
  }

  test("checkpointed CC on a 256-vertex hashed path commits at most 12 label rounds") {
    import spark.implicits._
    val ids = hashedIds(256, 11L)
    val features = ids.zipWithIndex.map { case (id, i) => (s"clip-$i", id) }.toDF("clip_id", "id")
    for (cfg <- Seq(DedupConfig.default, sparkCfg)) {
      // features and edges are committed up front, so the run resumes
      // straight into its CC rounds over exactly this path
      val dir = tempDir("graft-cc-path")
      SnapshotLog.commit(features, s"$dir/features", "features", Seq("input"))
      SnapshotLog.commit(path(ids).toDF("a", "b"), s"$dir/edges", "edges", Seq("features"))
      val assignments = CheckpointedDedup.run(features, dir, cfg).get
      val rounds = SnapshotLog.latestVersion(s"$dir/labels").get + 1
      assert(SnapshotLog.latestStage(s"$dir/labels").exists(_.stage == "labels_converged"))
      assert(rounds <= 12, s"$rounds label rounds committed at ccLocalMaxEdges ${cfg.ccLocalMaxEdges}")
      assert(assignments.select("cluster").distinct().as[Long].collect().toSeq == Seq(ids.min))
    }
  }
}
