package graft.dedup

/** Suffix array over one document's text (SURVEY.md §2.2 P6). Prefix-
  * doubling construction, O(N log² N); substring search by binary search
  * over suffixes, O(m log N) per query.
  *
  * Scale rationale: in the verify stage, one container document is checked
  * against many contained-candidates (hot containers fan in).
  * [[DedupPipeline.containmentEdges]] builds one SA per container text, and
  * only once a run of equal containers reaches its 4th candidate, so a hot
  * container's candidates each pay a logarithmic search instead of a full
  * `indexOf` scan while singleton runs never pay the build. The pass stays
  * partition-local and shuffle-free (graft of the reference's sorted-longs
  * binary search, memory4/Util.java:27, and its SoA layout lesson,
  * HashMapReverseEfficientOneArray.java:13-17).
  */
final class SuffixArray private (val text: String, val sa: Array[Int]) {

  /** Compare query against the suffix at sa(i); <0 / 0 / >0 like compareTo,
    * where 0 means the suffix STARTS WITH query. */
  @inline private def cmpAt(query: String, i: Int): Int = {
    val start = sa(i)
    val n = text.length
    var k = 0
    val m = query.length
    while (k < m && start + k < n) {
      val c = query.charAt(k) - text.charAt(start + k)
      if (c != 0) return c
      k += 1
    }
    if (k == m) 0 else 1 // query longer than remaining suffix
  }

  /** Does `query` occur anywhere in the corpus text? */
  def contains(query: String): Boolean = {
    if (query.isEmpty) return true
    var lo = 0
    var hi = sa.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = cmpAt(query, mid)
      if (c == 0) return true
      else if (c < 0) hi = mid - 1
      else lo = mid + 1
    }
    false
  }
}

object SuffixArray {

  /** Prefix-doubling construction (Manber-Myers family, public algorithm). */
  def build(text: String): SuffixArray = {
    val n = text.length
    if (n == 0) return new SuffixArray(text, Array.empty)
    var rank = new Array[Int](n)
    var tmp = new Array[Int](n)
    val sa = Array.tabulate(n)(identity)
    var i = 0
    while (i < n) { rank(i) = text.charAt(i).toInt; i += 1 }

    // Packed fast path for n < 2^20 (any realistic normalized transcript;
    // containers here are single documents, not the concatenated corpus):
    // rank (< 2^20 — initial char ranks are < 2^16), rank2+1 (<= n) and the
    // suffix index each fit 20 bits, so each doubling level sorts ONE
    // primitive Array[Long] with Arrays.sort — no boxed comparator, no
    // order/newSa scratch arrays. Stack sampling put the boxed sortBy
    // build at 6.5% of all pipeline task CPU.
    if (n < (1 << 20)) {
      val packed = new Array[Long](n)
      var k = 1
      while (k < n) {
        val kk = k
        i = 0
        while (i < n) {
          val r2 = if (i + kk < n) rank(i + kk) + 1 else 0
          packed(i) = (rank(i).toLong << 40) | (r2.toLong << 20) | i.toLong
          i += 1
        }
        java.util.Arrays.sort(packed)
        var prevKey = -1L
        var r = -1
        i = 0
        while (i < n) {
          val p = packed(i)
          val key = p >>> 20
          if (key != prevKey) { r += 1; prevKey = key }
          val idx = (p & 0xfffff).toInt
          sa(i) = idx
          tmp(idx) = r
          i += 1
        }
        System.arraycopy(tmp, 0, rank, 0, n)
        if (r == n - 1) k = n // all ranks distinct: done
        else k <<= 1
      }
      return new SuffixArray(text, sa)
    }

    var k = 1
    while (k < n) {
      val kk = k
      def pair(i: Int): Long =
        (rank(i).toLong << 32) | ((if (i + kk < n) rank(i + kk) + 1 else 0).toLong & 0xffffffffL)
      // sort sa by (rank(i), rank(i+k))
      val order = Array.tabulate(n)(identity)
      val keys = new Array[Long](n)
      i = 0
      while (i < n) { keys(i) = pair(sa(i)); i += 1 }
      val sorted = order.sortBy(keys(_))
      val newSa = new Array[Int](n)
      i = 0
      while (i < n) { newSa(i) = sa(sorted(i)); i += 1 }
      System.arraycopy(newSa, 0, sa, 0, n)
      // re-rank
      tmp(sa(0)) = 0
      i = 1
      while (i < n) {
        tmp(sa(i)) = tmp(sa(i - 1)) + (if (pair(sa(i)) == pair(sa(i - 1))) 0 else 1)
        i += 1
      }
      System.arraycopy(tmp, 0, rank, 0, n)
      if (rank(sa(n - 1)) == n - 1) k = n // all ranks distinct: done
      else k <<= 1
    }
    new SuffixArray(text, sa)
  }
}
