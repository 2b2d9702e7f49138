package graft.dedup

import graft.core.DedupConfig
import graft.text.TextFeatures

/** O(n²) exact reference implementation of the dedup clustering — the graft
  * of the reference's oracle test method (`MasterFETest.java:213-275`,
  * `PositiveCountersMap` as exact gold standard): every candidate shortcut
  * the pipeline takes is checked against this exhaustive evaluation of the
  * same frozen predicate.
  *
  * Used only in tests at n <= a few thousand.
  */
object BruteForceOracle {

  /** Union-find with path compression. */
  final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb // min-root: deterministic
      }
    }
  }

  /** All unordered near-dup pairs (i, j), i < j, by exhaustive evaluation. */
  def pairs(transcripts: Array[String], cfg: DedupConfig = DedupConfig.default): IndexedSeq[(Int, Int)] = {
    val n = transcripts.length
    val norm = transcripts.map(TextFeatures.normalize)
    val sim = norm.map(TextFeatures.simhash64(_, cfg.seed))
    val shingles = norm.map(TextFeatures.shingleSet(_, cfg.shingleK, cfg.seed))
    val out = Vector.newBuilder[(Int, Int)]
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val dup =
          TextFeatures.hammingDistance(sim(i), sim(j)) <= cfg.hammingMax ||
            containment(norm(i), norm(j), cfg) ||
            TextFeatures.jaccardSorted(shingles(i), shingles(j)) >= cfg.jaccardThreshold
        if (dup) out += ((i, j))
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Substring containment: the shorter text occurs verbatim in the longer
    * one and has at least `cfg.minContainLen` chars. */
  private def containment(normA: String, normB: String, cfg: DedupConfig): Boolean = {
    val (short, long) = if (normA.length <= normB.length) (normA, normB) else (normB, normA)
    short.length >= cfg.minContainLen && long.contains(short)
  }

  /** Connected-component cluster label (min member index) per document. */
  def clusters(transcripts: Array[String], cfg: DedupConfig = DedupConfig.default): Array[Int] = {
    val uf = new UnionFind(transcripts.length)
    pairs(transcripts, cfg).foreach { case (i, j) => uf.union(i, j) }
    Array.tabulate(transcripts.length)(uf.find)
  }

  /** Dup-pair recall of `actual` cluster labels vs `expected` cluster labels:
    * of all unordered pairs co-clustered in `expected`, the fraction also
    * co-clustered in `actual`. The BASELINE.json headline metric. */
  def pairRecall(expected: Array[Int], actual: Array[Int]): Double = {
    require(expected.length == actual.length)
    // group by expected cluster; count co-clustered pairs found in actual
    val byCluster = expected.indices.groupBy(expected(_)).values.filter(_.size > 1)
    var total = 0L
    var hit = 0L
    byCluster.foreach { members =>
      val m = members.toArray
      var i = 0
      while (i < m.length) {
        var j = i + 1
        while (j < m.length) {
          total += 1
          if (actual(m(i)) == actual(m(j))) hit += 1
          j += 1
        }
        i += 1
      }
    }
    if (total == 0) 1.0 else hit.toDouble / total
  }
}
