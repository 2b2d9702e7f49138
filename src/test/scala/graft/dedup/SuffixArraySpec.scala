package graft.dedup

import graft.core.Rng
import org.scalatest.funsuite.AnyFunSuite

class SuffixArraySpec extends AnyFunSuite {

  private def randomText(rng: Rng, n: Int, alphabet: String = "abcd "): String =
    (0 until n).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString

  test("suffix array is the sorted suffix order") {
    val rng = Rng(1, 1)
    (0 until 20).foreach { _ =>
      val t = randomText(rng, 50 + rng.nextInt(200))
      val sa = SuffixArray.build(t)
      val expected = t.indices.sortBy(t.substring(_))
      assert(sa.sa.toSeq == expected, s"SA mismatch for '$t'")
    }
  }

  test("contains agrees with String.contains on random queries") {
    val rng = Rng(2, 2)
    (0 until 30).foreach { _ =>
      val t = randomText(rng, 300)
      val sa = SuffixArray.build(t)
      (0 until 50).foreach { _ =>
        // half real substrings, half random strings
        val q = if (rng.nextDouble() < 0.5) {
          val i = rng.nextInt(t.length)
          t.substring(i, math.min(t.length, i + 1 + rng.nextInt(20)))
        } else randomText(rng, 1 + rng.nextInt(12))
        assert(sa.contains(q) == t.contains(q), s"query '$q' on '$t'")
      }
    }
  }

  test("empty and degenerate inputs") {
    assert(SuffixArray.build("").sa.isEmpty)
    assert(SuffixArray.build("a").contains("a"))
    assert(!SuffixArray.build("a").contains("b"))
    assert(SuffixArray.build("aaaa").contains("aaaa"))
    assert(!SuffixArray.build("aaaa").contains("aaaaa"))
  }
}
