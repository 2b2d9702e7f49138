package graft.text

import graft.core.{DedupConfig, Rng}
import org.scalatest.funsuite.AnyFunSuite

class TextFeaturesSpec extends AnyFunSuite {
  private val cfg = DedupConfig.default

  test("normalize: lowercase, whitespace collapse, trim") {
    assert(TextFeatures.normalize("  Hello   WORLD\t\nfoo  ") == "hello world foo")
    assert(TextFeatures.normalize("") == "")
    assert(TextFeatures.normalize("   ") == "")
    assert(TextFeatures.normalize("a") == "a")
  }

  test("shingleSet: distinct sorted hashes; short text hashes whole") {
    val s = TextFeatures.shingleSet("abcdefgh", 5, 42)
    assert(s.length == 4) // abcde bcdef cdefg defgh
    assert(s.sorted.sameElements(s))
    assert(TextFeatures.shingleSet("abc", 5, 42).length == 1)
    assert(TextFeatures.shingleSet("", 5, 42).isEmpty)
    // repeated shingles dedup
    val rep = TextFeatures.shingleSet("ababababab", 2, 42)
    assert(rep.length == 2) // "ab", "ba"
  }

  test("minhash estimates Jaccard within statistical error") {
    val rng = Rng(3, 3)
    val vocabA = (0 until 300).map(i => s"tok$i")
    // B shares 80% of A's tokens
    val a = (0 until 240).map(vocabA).mkString(" ") + " " + (240 until 300).map(vocabA).mkString(" ")
    val b = (0 until 240).map(vocabA).mkString(" ") + " " + (300 until 360).map(i => s"tok$i").mkString(" ")
    val sa = TextFeatures.shingleSet(a, cfg.shingleK, cfg.seed)
    val sb = TextFeatures.shingleSet(b, cfg.shingleK, cfg.seed)
    val trueJ = TextFeatures.jaccardSorted(sa, sb)
    val siga = TextFeatures.minhashSignature(sa, cfg)
    val sigb = TextFeatures.minhashSignature(sb, cfg)
    val est = siga.zip(sigb).count { case (x, y) => x == y }.toDouble / cfg.numHashes
    assert(math.abs(est - trueJ) < 0.15, s"minhash est $est vs true $trueJ")
  }

  test("identical texts share all bands; disjoint texts share none") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val sa = TextFeatures.shingleSet(a, cfg.shingleK, cfg.seed)
    val siga = TextFeatures.minhashSignature(sa, cfg)
    assert(TextFeatures.bandHashes(siga, cfg).sameElements(
      TextFeatures.bandHashes(TextFeatures.minhashSignature(sa, cfg), cfg)))
    val b = "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg"
    val sigb = TextFeatures.minhashSignature(TextFeatures.shingleSet(b, cfg.shingleK, cfg.seed), cfg)
    val shared = TextFeatures.bandHashes(siga, cfg).toSet
      .intersect(TextFeatures.bandHashes(sigb, cfg).toSet)
    assert(shared.isEmpty)
  }

  test("simhash: near-identical token bags are close in Hamming distance") {
    val base = (0 until 100).map(i => s"word$i").mkString(" ")
    val tweaked = (0 until 98).map(i => s"word$i").mkString(" ") + " extra1 extra2"
    val h1 = TextFeatures.simhash64(base, cfg.seed)
    val h2 = TextFeatures.simhash64(tweaked, cfg.seed)
    assert(TextFeatures.hammingDistance(h1, h2) <= 12)
    val other = (200 until 300).map(i => s"word$i").mkString(" ")
    val h3 = TextFeatures.simhash64(other, cfg.seed)
    assert(TextFeatures.hammingDistance(h1, h3) > 12)
  }

  test("simhash block keys: pigeonhole guarantee at hammingMax") {
    val rng = Rng(4, 4)
    (0 until 500).foreach { _ =>
      val h1 = rng.nextLong()
      // flip at most hammingMax bits
      var h2 = h1
      val flips = rng.nextInt(cfg.hammingMax + 1)
      (0 until flips).foreach(_ => h2 ^= (1L << rng.nextInt(64)))
      val k1 = TextFeatures.simhashBlockKeys(h1, cfg)
      val k2 = TextFeatures.simhashBlockKeys(h2, cfg)
      assert(k1.toSet.intersect(k2.toSet).nonEmpty,
        s"no shared block for Hamming ${TextFeatures.hammingDistance(h1, h2)}")
    }
  }

  test("winnowing: shared long substring implies shared fingerprint") {
    val rng = Rng(5, 5)
    val mkText = (n: Int, salt: Int) =>
      (0 until n).map(i => s"w${rng.nextInt(1000)}x$salt").mkString(" ")
    val shared = mkText(60, 0) // long shared middle (>= winnowWindow+k-1 chars)
    val a = mkText(20, 1) + " " + shared + " " + mkText(20, 2)
    val b = mkText(25, 3) + " " + shared
    val fa = TextFeatures.winnowFingerprints(TextFeatures.normalize(a), cfg)
    val fb = TextFeatures.winnowFingerprints(TextFeatures.normalize(b), cfg)
    assert(fa.toSet.intersect(fb.toSet).nonEmpty)
  }

  test("winnowing: containment always shares fingerprints") {
    val rng = Rng(6, 6)
    (0 until 50).foreach { t =>
      val words = (0 until 120).map(_ => s"q${rng.nextInt(5000)}")
      val full = words.mkString(" ")
      val sub = words.slice(10, 70).mkString(" ") // verbatim substring
      val ff = TextFeatures.winnowFingerprints(full, cfg)
      val fs = TextFeatures.winnowFingerprints(sub, cfg)
      assert(fs.toSet.intersect(ff.toSet).nonEmpty, s"trial $t: containment missed")
    }
  }

  test("jaccard and containment merge walks") {
    val a = Array(1L, 2L, 3L, 4L)
    val b = Array(3L, 4L, 5L, 6L)
    assert(TextFeatures.jaccardSorted(a, b) == 2.0 / 6.0)
    assert(TextFeatures.jaccardSorted(a, a) == 1.0)
    assert(TextFeatures.jaccardSorted(Array.empty[Long], Array.empty[Long]) == 1.0)
    assert(TextFeatures.jaccardSorted(a, Array.empty[Long]) == 0.0)
  }

  test("languageId picks the stopword-dominant language") {
    assert(TextFeatures.languageId("the cat and the dog ran to the house in the garden") == "en")
    assert(TextFeatures.languageId("der Hund und die Katze ist nicht in der Schule") == "de")
    assert(TextFeatures.languageId("le chat et la maison est dans le jardin et les arbres") == "fr")
    assert(TextFeatures.languageId("xyzzy plugh qwerty") == "und")
  }

  test("qualityScore in [0,1], higher for fluent text") {
    val good = "the quick brown fox jumps over the lazy dog and runs to the house in the garden " * 4
    val bad = "@@@ ### !!! $$$ %%% ^^^ &&&"
    val qg = TextFeatures.qualityScore(good)
    val qb = TextFeatures.qualityScore(bad)
    assert(qg >= 0 && qg <= 1 && qb >= 0 && qb <= 1)
    assert(qg > qb)
  }

  test("docFingerprint invariant under case/whitespace, sensitive to content") {
    val f1 = TextFeatures.docFingerprint("Hello   World", 42)
    val f2 = TextFeatures.docFingerprint("hello world", 42)
    val f3 = TextFeatures.docFingerprint("hello world!", 42)
    assert(f1 == f2)
    assert(f3 != f1)
  }

  test("shingleSorted memo never aliases across shingle lengths or seeds") {
    // the memo is executor-wide and outlives one query's config: the same
    // text probed under a different k (or seed) must recompute, not reuse
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(
      "the quick brown fox jumps over the lazy dog")
    val k5a = TextFeatures.shingleSorted(u, 5, 42L)
    val k3 = TextFeatures.shingleSorted(u, 3, 42L)
    val k5s7 = TextFeatures.shingleSorted(u, 5, 7L)
    val k5b = TextFeatures.shingleSorted(u, 5, 42L)
    assert(k5a.sameElements(TextFeatures.shingleSet(u.toString, 5, 42L)))
    assert(k3.sameElements(TextFeatures.shingleSet(u.toString, 3, 42L)))
    assert(k5s7.sameElements(TextFeatures.shingleSet(u.toString, 5, 7L)))
    assert(k5b.sameElements(k5a))
    assert(!k3.sameElements(k5a))
  }

  test("shingle memo is byte-bounded and evicts to half, not to zero") {
    import org.apache.spark.unsafe.types.UTF8String
    val prevCap = TextFeatures.memoMaxBytes
    TextFeatures.memoClear()
    TextFeatures.memoMaxBytes = 64L << 10 // 64 KB budget for the test
    try {
      // each distinct text yields ~96 shingles (~832B entry incl. overhead);
      // 4x the budget's worth of distinct texts forces several evictions
      val texts = (0 until 320).map(i => s"document number $i " + ("lorem ipsum " * 8))
      texts.foreach(t => TextFeatures.shingleSorted(UTF8String.fromString(t), 5, 42L))
      val (entries, bytes) = TextFeatures.memoStats
      // bounded: never above the budget (+1 entry of slack for the in-flight put)
      assert(bytes <= (64L << 10) + 2048, s"memo bytes $bytes exceed budget")
      // evict-to-half, not clear(): a populated memo must survive overflow
      assert(entries > 0, "memo was cleared wholesale on overflow")
      // verdicts are unaffected by cache state: a text evicted and re-probed
      // returns the same shingle set as a fresh computation
      val re = TextFeatures.shingleSorted(UTF8String.fromString(texts.head), 5, 42L)
      assert(re.sameElements(TextFeatures.shingleSet(texts.head, 5, 42L)))
      // a repeat probe of a resident text is a HIT (same frozen instance,
      // zero recompute) — the property the memo exists for
      val again = TextFeatures.shingleSorted(UTF8String.fromString(texts.head), 5, 42L)
      assert(again eq re, "resident entry re-probed must be a cache hit")
    } finally {
      TextFeatures.memoMaxBytes = prevCap
      TextFeatures.memoClear()
    }
  }
}
