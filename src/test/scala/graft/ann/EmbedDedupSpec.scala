package graft.ann

import graft.SparkTest
import graft.core.DedupConfig
import graft.corpus.EmbedGen
import graft.dedup.RunScope
import org.apache.spark.sql.graftshim.PlanShim
import org.scalatest.funsuite.AnyFunSuite

/** EmbedDedup vs an in-test O(n^2) exact-cosine + union-find oracle on the
  * planted-cluster corpus (EmbedGen: clusters of 20 at mate-cosine ~0.99).
  * At threshold 0.9 with the default (4 planes x 32 tables) geometry the
  * per-pair miss probability is ~1e-25, so the assignment must be EXACT —
  * this is the same hard contract the driver's d10 row checks at the sf
  * embeddings geometry. */
class EmbedDedupSpec extends AnyFunSuite with SparkTest {

  private def cosF(a: Array[Float], b: Array[Float]): Double = {
    val m = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < m) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  private val n = 400
  private val threshold = 0.9
  private lazy val vecs = EmbedGen.vectors(spark, n.toLong, clusterSize = 20, numPartitions = 8)
    .select("vec_id", "embedding")

  test("clusters equal the brute-force exact-cosine transitive closure") {
    import spark.implicits._
    val rows = vecs.as[(Long, Array[Float])].collect().sortBy(_._1)
    val root = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (root(r) != r) { root(r) = root(root(r)); r = root(r) }
      r
    }
    var edges = 0
    for (i <- 0 until n; j <- i + 1 until n
         if cosF(rows(i)._2, rows(j)._2) >= threshold) {
      edges += 1
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) root(math.max(ri, rj)) = math.min(ri, rj)
    }
    assert(edges > 100, s"fixture degenerate: only $edges oracle edges")
    val members = (0 until n).groupBy(find)
    val expected = members.values.flatMap { idxs =>
      val lbl = idxs.map(i => rows(i)._1).min
      idxs.map(i => (rows(i)._1, lbl, rows(i)._1 == lbl))
    }.toSet
    // the fixture must contain real multi-member clusters AND singleton-free
    // boundaries are not assumed (jittered vectors near the threshold may
    // split) — the contract is equality, whatever the closure is
    assert(members.values.exists(_.size >= 15))

    val got = EmbedDedup.clusters(vecs, threshold = threshold)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == expected)
  }

  test("assignment is parallelism-independent") {
    import spark.implicits._
    val vecs = EmbedGen.vectors(spark, 300L, clusterSize = 20, numPartitions = 8)
      .select("vec_id", "embedding")
    val a = EmbedDedup.clusters(vecs.repartition(2), threshold = 0.9)
      .as[(Long, Long, Boolean)].collect().toSet
    val b = EmbedDedup.clusters(vecs.repartition(7), threshold = 0.9)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(a == b)
  }

  test("with broadcasts off the embedding joins sort-merge, same clusters") {
    import spark.implicits._
    def run() = EmbedDedup.clusters(vecs, threshold = threshold).as[(Long, Long, Boolean)].collect().toSet
    val (default, pinnedPlans) = plansWith("graft_cosine_sim")(run())
    assert(pinnedPlans.nonEmpty && pinnedPlans.forall(_.contains("BroadcastExchange")),
      s"default run did not broadcast the embedding table:\n${pinnedPlans.mkString("\n")}")
    val (got, plans) = plansWith("graft_cosine_sim")(RunScope.withConf(spark, NoBroadcasts)(run()))
    assert(plans.nonEmpty, "no verify plan captured")
    plans.foreach(plan => assert(!plan.contains("BroadcastExchange"),
      s"verified through a broadcast with broadcasts off:\n$plan"))
    assert(got == default)
  }

  test("distributed CC path releases every RDD but the returned labels") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = EmbedDedup.clusters(vecs, threshold = threshold,
      cfg = DedupConfig.default.copy(ccLocalMaxEdges = 0))
    val kept = PlanShim.checkpointRddIds(out)
    assert(kept.nonEmpty, "expected the distributed CC's label checkpoint")
    assert(sc.getPersistentRDDs.keySet == before ++ kept)
  }
}
