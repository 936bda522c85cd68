package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.near.Lcs

/** Suffix-array LCS vs brute-force DP — the exactness proof for the
  * verification stage the oracle can't express in SQL. (Seeded random
  * property loop; the scalatest/scalacheck bridge isn't on the offline
  * classpath, so forAll is hand-rolled.) */
class LcsSpec extends AnyFunSuite {

  /** O(n·m) dynamic-programming LCS — the brute-force oracle. */
  private def lcsLengthBrute(x: String, y: String): Int = {
    val xs = x.codePoints().toArray
    val ys = y.codePoints().toArray
    var best = 0
    val prev = new Array[Int](ys.length + 1)
    val cur = new Array[Int](ys.length + 1)
    var i = 1
    while (i <= xs.length) {
      var j = 1
      while (j <= ys.length) {
        cur(j) = if (xs(i - 1) == ys(j - 1)) prev(j - 1) + 1 else 0
        if (cur(j) > best) best = cur(j)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, cur.length)
      i += 1
    }
    best
  }

  test("known cases") {
    assert(Lcs.lcsLength("", "") == 0)
    assert(Lcs.lcsLength("abc", "") == 0)
    assert(Lcs.lcsLength("abc", "abc") == 3)
    assert(Lcs.lcsLength("abcdef", "zabcy") == 3) // "abc"
    assert(Lcs.lcsLength("xyabcz", "qabcde") == 3)
    assert(Lcs.lcsLength("aaaa", "aa") == 2)
    assert(Lcs.lcsLength("abab", "baba") == 3)
    assert(Lcs.lcsLength("hello world", "world hello") == 5) // "world"
  }

  private def randomCheck(seed: Long, rounds: Int, maxLen: Int,
                          alphabet: String): Unit = {
    val rnd = new scala.util.Random(seed)
    def gen(): String =
      Array.fill(rnd.nextInt(maxLen + 1))(alphabet(rnd.nextInt(alphabet.length)))
        .mkString
    (1 to rounds).foreach { _ =>
      val x = gen(); val y = gen()
      assert(Lcs.lcsLength(x, y) == lcsLengthBrute(x, y), s"x='$x' y='$y'")
    }
  }

  test("matches brute-force DP on random small-alphabet strings") {
    randomCheck(seed = 42L, rounds = 300, maxLen = 60, alphabet = "abc")
  }

  test("matches brute-force DP on random wide-alphabet strings") {
    randomCheck(seed = 7L, rounds = 200, maxLen = 120,
      alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 ")
  }

  test("near-identical long strings") {
    val base = "the quick brown fox jumps over the lazy dog " * 10
    val mutated = base.substring(0, 200) + "XX" + base.substring(202)
    assert(Lcs.lcsLength(base, mutated) == lcsLengthBrute(base, mutated))
  }

  test("radix fallback equals the packed-long fast path on random inputs") {
    val rnd = new scala.util.Random(1234L)
    (1 to 100).foreach { _ =>
      val n = 1 + rnd.nextInt(400)
      // same +2 shift lcsLength applies (0/1 reserved for sentinels)
      val s = Array.fill(n)(rnd.nextInt(8) + 2)
      assert(Lcs.suffixArrayLarge(s).toSeq == Lcs.suffixArray(s).toSeq)
    }
    // wide alphabet too (codepoint-scale values)
    (1 to 20).foreach { _ =>
      val n = 1 + rnd.nextInt(300)
      val s = Array.fill(n)(rnd.nextInt(0x10FFFF) + 2)
      assert(Lcs.suffixArrayLarge(s).toSeq == Lcs.suffixArray(s).toSeq)
    }
  }

  test("inputs past the 2^21 packing bound take the radix path and stay exact") {
    // x and y from DISJOINT alphabets + one shared 1000-char marker, so the
    // LCS is exactly the marker; combined length 2 * 1.05M + marker + 1
    // sentinel > 2^21 forces suffixArrayLarge (the old boxed-comparator
    // fallback made this size a cliff; the radix path handles it in-run)
    val rnd = new scala.util.Random(99L)
    val marker = Array.fill(1000)(('A' + rnd.nextInt(4)).toChar).mkString
    def blob(alpha: String, len: Int): String =
      Array.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
    val x = blob("abcdefghijklm", 520000) + marker + blob("abcdefghijklm", 530000)
    val y = blob("nopqrstuvwxyz", 510000) + marker + blob("nopqrstuvwxyz", 540000)
    assert(x.length + y.length + 1 >= (1 << 21))
    assert(Lcs.lcsLength(x, y) == 1000)
  }
}
