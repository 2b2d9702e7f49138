package graft.text

import graft.core.{DedupConfig, Murmur3}
import scala.collection.mutable

/** Pure-Scala text feature primitives shared by the Spark expressions, the
  * brute-force oracle, and the tests. Keeping these in one place is what
  * guarantees "same shingle/signature config" parity (SURVEY.md §7.4).
  *
  * The string→hash edge mirrors the only scan in the reference
  * (`StreamHandler.java:22`: line → MurmurHash3 → long); the k-independent
  * hash bank mirrors CountMin's per-row seeded probes
  * (`CountMin.java:118-121`, `CountMinFast.java:137-138`).
  */
object TextFeatures {

  /** Canonical normalization applied before any signature: lowercase,
    * collapse whitespace runs to single spaces, trim. */
  def normalize(text: String): String = {
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    var lastWasSpace = true // leading spaces dropped
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) {
        if (!lastWasSpace) { sb.append(' '); lastWasSpace = true }
      } else {
        sb.append(Character.toLowerCase(c)); lastWasSpace = false
      }
      i += 1
    }
    // drop single trailing space
    if (sb.length > 0 && sb.charAt(sb.length - 1) == ' ') sb.setLength(sb.length - 1)
    sb.toString
  }

  /** Distinct char-k-gram hashes of the NORMALIZED text (a set, sorted for
    * determinism). Short texts (< k chars) hash the whole text once. */
  def shingleSet(normalized: String, k: Int, seed: Long): Array[Long] = {
    val n = normalized.length
    if (n == 0) return Array.empty
    if (n < k) return Array(Murmur3.hashRange(normalized, 0, n, seed))
    // flat array + sort + in-place dedup: identical result to a hash-set
    // build, but no per-insert probing, no boxed iterator, no second sort —
    // stack sampling showed the LongMap build dominating the verification
    // stage (this function runs once per non-memoized jaccard probe side)
    val m = n - k + 1
    val a = new Array[Long](m)
    var i = 0
    while (i < m) { a(i) = Murmur3.hashRange(normalized, i, i + k, seed); i += 1 }
    java.util.Arrays.sort(a)
    var w = 0
    var r = 1
    while (r < m) {
      if (a(r) != a(w)) { w += 1; a(w) = a(r) }
      r += 1
    }
    if (w + 1 == m) a else java.util.Arrays.copyOf(a, w + 1)
  }

  /** Positional (non-distinct) shingle hashes, in text order — needed by
    * winnowing, which is position-sensitive. */
  def shingleSeq(normalized: String, k: Int, seed: Long): Array[Long] = {
    val n = normalized.length
    if (n == 0) return Array.empty
    if (n < k) return Array(Murmur3.hashRange(normalized, 0, n, seed))
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i < out.length) {
      out(i) = Murmur3.hashRange(normalized, i, i + k, seed)
      i += 1
    }
    out
  }

  /** MinHash signature: min over the shingle set of K pseudo-independent
    * permutations. The permutation bank uses the Kirsch-Mitzenmacher
    * two-hash scheme g_i(x) = h1(x) + i·h2(x) (public result; standard for
    * Bloom/MinHash banks) — 2 full avalanches + K adds per shingle instead
    * of K avalanches, the dominant cost of the whole features stage.
    * Empty set → all Long.MaxValue. */
  def minhashSignature(shingles: Array[Long], cfg: DedupConfig): Array[Long] = {
    val sig = Array.fill(cfg.numHashes)(Long.MaxValue)
    val k = cfg.numHashes
    var s = 0
    while (s < shingles.length) {
      val h = shingles(s)
      val h1 = Murmur3.hashLong(h, cfg.seed + 1001L)
      val h2 = Murmur3.hashLong(h, cfg.seed + 1002L) | 1L
      var g = h1
      var i = 0
      while (i < k) {
        if (g < sig(i)) sig(i) = g
        g += h2
        i += 1
      }
      s += 1
    }
    sig
  }

  /** All per-document signatures in one pass over the raw text: normalize
    * once, shingle once per shingle family. Returns (norm, simhash,
    * bandKeys, winnowFps, numDistinctShingles) — the fused feature tuple
    * the pipeline projects. */
  def signatures(raw: String, cfg: DedupConfig): (String, Long, Array[Long], Array[Long], Int) = {
    val norm = normalize(raw)
    val sh = shingleSet(norm, cfg.shingleK, cfg.seed)
    val sig = minhashSignature(sh, cfg)
    val bands = bandHashes(sig, cfg)
    val sim = simhash64(norm, cfg.seed)
    val fps = winnowFingerprints(norm, cfg)
    (norm, sim, bands, fps, sh.length)
  }

  /** LSH band hashes: signature split into `bands` groups of `rowsPerBand`,
    * each group hashed to one long (band index mixed in so different bands
    * never share a bucket keyspace). */
  def bandHashes(sig: Array[Long], cfg: DedupConfig): Array[Long] = {
    val out = new Array[Long](cfg.bands)
    var b = 0
    while (b < cfg.bands) {
      var h = Murmur3.fmix64(cfg.seed + 2000L + b)
      var r = 0
      while (r < cfg.rowsPerBand) {
        h = Murmur3.fmix64(h ^ sig(b * cfg.rowsPerBand + r))
        r += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Whitespace tokens of the normalized text. */
  def tokens(normalized: String): Array[String] =
    if (normalized.isEmpty) Array.empty else normalized.split(' ')

  /** 64-bit SimHash over whitespace tokens weighted by term frequency
    * (per-doc TF = the tiny exact counter map; the reference's MG sketch F2
    * is the bounded-state version of this same counting). */
  def simhash64(normalized: String, seed: Long): Long = {
    val toks = tokens(normalized)
    if (toks.isEmpty) return 0L
    // per-doc term frequencies, then weighted bit votes
    val votes = new Array[Int](64)
    val counts = new mutable.LongMap[Int]()
    var i = 0
    while (i < toks.length) {
      val h = Murmur3.hashString(toks(i), seed + 3000L)
      counts.update(h, counts.getOrElse(h, 0) + 1)
      i += 1
    }
    counts.foreach { case (h, w) =>
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += w else votes(b) -= w
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Hamming-block keys for a simhash: 64 bits split into cfg.simhashBlocks
    * equal blocks; pigeonhole ⇒ two hashes within hammingMax (< blocks)
    * Hamming distance share at least one identical block. Key packs
    * (blockIdx, blockValue). (A block-PAIR variant was measured and
    * rejected: on vocab-correlated simhashes the C(8,2) 8-bit pair keys
    * produce 4.5x the junk of 4x16-bit single blocks.) */
  def simhashBlockKeys(sim: Long, cfg: DedupConfig): Array[Long] = {
    val width = 64 / cfg.simhashBlocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val out = new Array[Long](cfg.simhashBlocks)
    var b = 0
    while (b < cfg.simhashBlocks) {
      val block = (sim >>> (b * width)) & mask
      out(b) = Murmur3.hashLong(block, cfg.seed + 4000L + b)
      b += 1
    }
    out
  }

  /** Winnowing fingerprints (Schleimer et al. 2003, public): the minimum
    * shingle hash in every window of `w` consecutive shingles, deduplicated.
    * Guarantee: any shared substring of length >= w + k - 1 chars yields at
    * least one shared fingerprint — the candidate generator for the
    * substring-containment lane. */
  def winnowFingerprints(normalized: String, cfg: DedupConfig): Array[Long] = {
    val seq = shingleSeq(normalized, cfg.winnowK, cfg.seed + 7000L)
    if (seq.isEmpty) return Array.empty
    val w = cfg.winnowWindow
    if (seq.length <= w) {
      var min = seq(0); var i = 1
      while (i < seq.length) { if (seq(i) < min) min = seq(i); i += 1 }
      return Array(min)
    }
    val out = new mutable.LongMap[Unit]()
    // sliding-window minimum via monotonic deque of indices
    val deque = new Array[Int](seq.length)
    var head = 0; var tail = 0 // [head, tail)
    var i = 0
    while (i < seq.length) {
      while (tail > head && seq(deque(tail - 1)) >= seq(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out.update(seq(deque(head)), ())
      i += 1
    }
    val arr = out.keysIterator.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** Executor-wide memo of SORTED shingle-hash arrays keyed by a 64-bit
    * content hash — on a hit the verification path does zero string
    * conversion and zero shingling, just a merge walk.
    *
    * SHARED across task threads (plain ConcurrentHashMap): the probe stream
    * is sorted by `a` within each partition, so a per-thread cache serves
    * the a side, but the b side arrives in arbitrary order over tens of
    * thousands of distinct texts — a small per-thread LRU thrashed on it
    * (measured: shingleSet was 17.6% of ALL pipeline task CPU at 8 cores
    * with the old thread-local LRU-2048). Shared, each distinct text is
    * shingled at most once per executor per wave. The cached arrays are
    * FROZEN: every consumer must treat them as read-only (a mutation would
    * poison all task threads at once).
    *
    * Bounded by BYTES, not entries (VERDICT r3 #3 / ADVICE r3: an entry
    * count caps nothing — each value is a per-text Array[Long] whose size
    * tracks transcript length, so 2^19 entries of multi-KB arrays was
    * multi-GB worst case). `memoBytes` tracks the accumulated array bytes;
    * on overflow, entries are evicted in map-iteration order until HALF the
    * budget is free. Eviction MUST be able to reclaim from any entry:
    * the first byte-bounded design evicted only odd-key-parity entries, so
    * once the even-parity residue alone exceeded the budget the sweep
    * reclaimed nothing and every subsequent miss paid a synchronized
    * full-map scan — measured as a ~7x pipeline blowup at 160k clips
    * (working set ~900 MB vs the old 256 MB budget), worst at low core
    * counts where nothing hides the serial sweeps. Evict-to-half instead
    * amortizes to one sweep per budget/2 inserted bytes: working sets above
    * the budget churn the evicted (iteration-order-early) subset at
    * re-shingle cost — a few µs per text — never at sweep-per-miss cost.
    * The default budget is sized so the bench-scale per-executor working
    * set stays fully resident (production corpora tune
    * `-Dgraft.shingleMemoBytes` to the executor's memory share).
    * Verdicts are a pure function of the texts, so cache state can never
    * change a result, only its cost. A key collision would reuse a wrong
    * set with probability ~(working set)²/2^64; ignored. */
  @volatile private[graft] var memoMaxBytes: Long =
    java.lang.Long.getLong("graft.shingleMemoBytes", 1536L << 20)
  private val memoBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val shingleMemo = new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]](1 << 12)

  /** ~bytes one cached entry costs (array data + object/CHM-node overhead). */
  @inline private def entryBytes(arr: Array[Long]): Long = arr.length.toLong * 8 + 64

  private[graft] def memoStats: (Int, Long) = (shingleMemo.size(), memoBytes.get())
  private[graft] def memoClear(): Unit = { shingleMemo.clear(); memoBytes.set(0L) }

  /** Evict entries (map-iteration order) until half the byte budget is
    * free — progress-guaranteed whatever the key distribution. One thread
    * evicts per overflow episode; the double-check makes concurrent callers
    * that lost the race return without a second sweep. */
  private def memoEvictHalf(need: Long): Unit = shingleMemo.synchronized {
    if (memoBytes.get() + need <= memoMaxBytes) return
    val target = memoMaxBytes / 2
    val it = shingleMemo.entrySet().iterator()
    while (it.hasNext && memoBytes.get() > target) {
      val e = it.next()
      memoBytes.addAndGet(-entryBytes(e.getValue))
      it.remove()
    }
  }

  /** Sorted distinct shingle hashes of a UTF8String's text (memoized).
    * The memo key is a full 64-bit content hash — an Int hashCode would
    * collide at ~n²/2^33 within a single working set. */
  def shingleSorted(u: org.apache.spark.unsafe.types.UTF8String, k: Int, seed: Long): Array[Long] = {
    // k folded into the key: a shared executor-wide map may outlive one
    // query's config, and two shingle lengths over the same text must not
    // alias (the old per-thread memo had the same latent hole)
    val key = Murmur3.hashLong(Murmur3.hashBytes(u.getBytes, seed ^ 0x5deece66dL), k.toLong)
    val cached = shingleMemo.get(key)
    if (cached != null) return cached
    val arr = shingleSet(u.toString, k, seed)
    val cost = entryBytes(arr)
    if (cost > memoMaxBytes / 8) return arr // pathological single text: don't pollute
    if (memoBytes.get() + cost > memoMaxBytes) memoEvictHalf(cost)
    if (shingleMemo.putIfAbsent(key, arr) == null) memoBytes.addAndGet(cost)
    arr
  }

  /** Exact Jaccard >= threshold via merge walk over memoized sorted arrays:
    * equivalent to jaccardSorted(shingleSet(a), shingleSet(b)) >= t. */
  def jaccardGe(a: org.apache.spark.unsafe.types.UTF8String,
                b: org.apache.spark.unsafe.types.UTF8String,
                k: Int, seed: Long, t: Double): Boolean = {
    val sa = shingleSorted(a, k, seed)
    val sb = shingleSorted(b, k, seed)
    val (small, big) = if (sa.length <= sb.length) (sa, sb) else (sb, sa)
    if (big.length == 0) return true // both empty
    if (small.length.toDouble / big.length < t) return false // J <= min/max
    // merge walk with an early abort: the final intersection I is bounded by
    // inter + min(remaining on each side); J = I/(|A|+|B|-I) is monotone in
    // I, so once even the bound cannot reach t the verdict is known. The
    // walk over two multi-KB sorted arrays is the verify stage's dominant
    // memory traffic — most false candidates abort in the first stretch.
    val la = sa.length; val lb = sb.length
    var i = 0; var j = 0; var inter = 0
    while (i < la && j < lb) {
      if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
      else {
        if (sa(i) < sb(j)) i += 1 else j += 1
        val bound = inter + math.min(la - i, lb - j)
        if (bound.toDouble < t * (la + lb - bound)) return false
      }
    }
    inter.toDouble / (la + lb - inter) >= t
  }

  /** Exact Jaccard of two SORTED distinct-hash arrays (merge walk). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  @inline def hammingDistance(a: Long, b: Long): Int =
    java.lang.Long.bitCount(a ^ b)

  // ---------------------------------------------------------------- analysis

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately SQL-expressible (each word countable with
    * regexp) so the DuckDB oracle can replicate the scorer exactly. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "es", "una", "por", "con", "para")
  )

  /** Count whole-word occurrences of `word` in normalized text. */
  def wordCount(normalized: String, word: String): Int = {
    var count = 0
    var from = 0
    val n = normalized.length
    val w = word.length
    while (from <= n - w) {
      val idx = normalized.indexOf(word, from)
      if (idx < 0) from = n + 1
      else {
        val beforeOk = idx == 0 || normalized.charAt(idx - 1) == ' '
        val afterOk = idx + w == n || normalized.charAt(idx + w) == ' '
        if (beforeOk && afterOk) count += 1
        from = idx + 1
      }
    }
    count
  }

  /** Language-ID: argmax of stopword hit counts; ties broken by language
    * order; "und" (undetermined) when no stopword hits at all. */
  def languageId(text: String): String = {
    val norm = normalize(text)
    var best = "und"
    var bestScore = 0
    langStopwords.foreach { case (lang, words) =>
      var s = 0
      words.foreach(w => s += wordCount(norm, w))
      if (s > bestScore) { bestScore = s; best = lang }
    }
    best
  }

  /** Quality score in [0,1]: blend of length, punctuation ratio, stopword
    * ratio, mean word length sanity — standard training-data heuristics. */
  def qualityScore(text: String): Double = {
    val norm = normalize(text)
    if (norm.isEmpty) return 0.0
    val toks = tokens(norm)
    val nTok = toks.length
    val lenScore = math.min(1.0, nTok / 50.0)
    var punct = 0
    var i = 0
    while (i < norm.length) {
      val c = norm.charAt(i)
      if (!Character.isLetterOrDigit(c) && c != ' ') punct += 1
      i += 1
    }
    val punctRatio = punct.toDouble / norm.length
    val punctScore = math.max(0.0, 1.0 - 4.0 * punctRatio)
    var stop = 0
    langStopwords.foreach { case (_, ws) => ws.foreach(w => stop += wordCount(norm, w)) }
    val stopScore = math.min(1.0, 4.0 * stop.toDouble / math.max(1, nTok))
    var wl = 0.0
    toks.foreach(t => wl += t.length)
    val meanWl = if (nTok == 0) 0.0 else wl / nTok
    val wlScore = if (meanWl >= 3.0 && meanWl <= 10.0) 1.0 else 0.5
    0.25 * (lenScore + punctScore + stopScore + wlScore)
  }

  /** 64-bit document fingerprint: rolling hash of the normalized text
    * (order-sensitive — exact-dup detection on content). */
  def docFingerprint(text: String, seed: Long): Long =
    Murmur3.hashString(normalize(text), seed + 5000L)
}
