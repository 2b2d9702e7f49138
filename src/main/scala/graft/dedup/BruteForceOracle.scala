package graft.dedup

import graft.core.DedupConfig
import graft.text.TextFeatures

/** O(n²) exact reference implementation of the dedup clustering — the graft
  * of the reference's oracle test method (`MasterFETest.java:213-275`,
  * `PositiveCountersMap` as exact gold standard): every candidate shortcut
  * the pipeline takes is checked against this exhaustive evaluation of the
  * same frozen predicate.
  *
  * Used by tests, the benchmark harness and Verify's oracle parquets
  * ([[graft.OracleDump]]) at n <= a few thousand.
  */
object BruteForceOracle {

  /** Union-find with path compression. */
  private final class UnionFind(n: Int) {
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

  /** Component root (min member index) of each of `n` items, where items
    * i and j join when `dup(i, j)` holds — evaluated for every pair i < j. */
  def components(n: Int)(dup: (Int, Int) => Boolean): Array[Int] = {
    val uf = new UnionFind(n)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (dup(i, j)) uf.union(i, j)
        j += 1
      }
      i += 1
    }
    Array.tabulate(n)(uf.find)
  }

  /** The frozen text near-dup predicate over `transcripts`, by index. */
  private def textDup(transcripts: Array[String], cfg: DedupConfig): (Int, Int) => Boolean = {
    val norm = transcripts.map(TextFeatures.normalize)
    val sim = norm.map(TextFeatures.simhash64(_, cfg.seed))
    val shingles = norm.map(TextFeatures.shingleSet(_, cfg.shingleK, cfg.seed))
    (i, j) =>
      TextFeatures.hammingDistance(sim(i), sim(j)) <= cfg.hammingMax ||
        containment(norm(i), norm(j), cfg) ||
        TextFeatures.jaccardSorted(shingles(i), shingles(j)) >= cfg.jaccardThreshold
  }

  /** All unordered near-dup pairs (i, j), i < j, by exhaustive evaluation. */
  def pairs(transcripts: Array[String], cfg: DedupConfig = DedupConfig.default): IndexedSeq[(Int, Int)] = {
    val dup = textDup(transcripts, cfg)
    val n = transcripts.length
    for (i <- 0 until n; j <- i + 1 until n if dup(i, j)) yield (i, j)
  }

  /** Substring containment: the shorter text occurs verbatim in the longer
    * one and has at least `cfg.minContainLen` chars. */
  private def containment(normA: String, normB: String, cfg: DedupConfig): Boolean = {
    val (short, long) = if (normA.length <= normB.length) (normA, normB) else (normB, normA)
    short.length >= cfg.minContainLen && long.contains(short)
  }

  /** Connected-component cluster label (min member index) per document. */
  def clusters(transcripts: Array[String], cfg: DedupConfig = DedupConfig.default): Array[Int] =
    components(transcripts.length)(textDup(transcripts, cfg))

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
