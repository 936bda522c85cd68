package graft.near

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Suffix-array-based longest-common-substring verification — the precision
  * net of the near-dup tier (north_rule: "suffix-array-based
  * longest-common-substring verification"). For a candidate pair (x, y):
  * build the suffix array of x + '\\0' + y (prefix-doubling, O(n log n)),
  * the LCP array (Kasai, O(n)), and take the max LCP between adjacent
  * suffixes originating in different strings.
  *
  * Runs per candidate pair as a scalar function — content is bounded per
  * row, candidate pairs come pre-filtered by LSH/SimHash, so the work is
  * embarrassingly parallel with no shuffle (SURVEY.md §2.10).
  */
object Lcs {

  /** Suffix array by prefix doubling, O(n log² n) with primitive-only
    * arithmetic: each round packs (rank, rank-at-offset-k, index) into one
    * long — 21 bits per field — and sorts the long[] with
    * java.util.Arrays.sort (dual-pivot quicksort, no boxing, no comparator).
    * The previous comparator-based stableSort boxed every element every
    * round and dominated the whole near-dup tier's runtime (287 ms/pair).
    * Field bounds: ranks start as codepoints (+2 ≤ 0x10FFFF+2 < 2^21) and
    * afterwards are < n; indices are < n; so n must stay < 2^21 codepoints
    * (2M — far above document-scale row content; guarded below). */
  private[graft] def suffixArray(s: Array[Int]): Array[Int] = {
    val n = s.length
    val sa = new Array[Int](n)
    if (n == 0) return sa
    if (n >= (1 << 21)) return suffixArrayLarge(s)
    var rank = s.clone()
    var tmp = new Array[Int](n)
    val keys = new Array[Long](n)
    var k = 1
    while (true) {
      var i = 0
      while (i < n) {
        val r2 = if (i + k < n) rank(i + k) + 1 else 0
        keys(i) = ((rank(i) + 1).toLong << 42) | (r2.toLong << 21) | i.toLong
        i += 1
      }
      java.util.Arrays.sort(keys)
      var r = 0
      var prevKey = keys(0)
      i = 0
      while (i < n) {
        val key = keys(i)
        val idx = (key & 0x1FFFFF).toInt
        sa(i) = idx
        if ((key >>> 21) != (prevKey >>> 21)) r += 1
        tmp(idx) = r
        prevKey = key
        i += 1
      }
      val t = rank; rank = tmp; tmp = t
      if (r == n - 1 || k >= n) return sa
      k <<= 1
    }
    sa
  }

  /** Fallback for inputs past the 21-bit packing bound (≥ 2M codepoints):
    * prefix doubling with LINEAR counting sorts — O(n log n) total, zero
    * boxing, no comparator. Each round orders suffixes by
    * (rank, rank-at-offset-k) via the classic two-pass radix: first arrange
    * by the second key for free (indices in [n-k, n) lead — their second
    * key is empty/min — then prior-round sa entries shifted by k keep the
    * second-key order), then one stable counting sort by the first key.
    * Replaces the old comparator sort over boxed Integers that made ≥2M-
    * codepoint pairs fall off a performance cliff. */
  private[graft] def suffixArrayLarge(s: Array[Int]): Array[Int] = {
    val n = s.length
    val sa = new Array[Int](n)
    if (n == 0) return sa
    val tmpSa = new Array[Int](n)
    var rank = new Array[Int](n)
    var tmpR = new Array[Int](n)
    // initial round: counting sort over the codepoint alphabet (inputs are
    // codepoints shifted +2 by lcsLength, so values are < 0x110002)
    val k0 = 0x110002
    val cnt = new Array[Int](math.max(n, k0) + 2)
    var i = 0
    while (i < n) { cnt(s(i) + 1) += 1; i += 1 }
    i = 1
    while (i <= k0) { cnt(i) += cnt(i - 1); i += 1 }
    i = 0
    while (i < n) { sa(cnt(s(i))) = i; cnt(s(i)) += 1; i += 1 }
    rank(sa(0)) = 0
    i = 1
    while (i < n) {
      rank(sa(i)) = rank(sa(i - 1)) + (if (s(sa(i)) != s(sa(i - 1))) 1 else 0)
      i += 1
    }
    var maxRank = rank(sa(n - 1))
    var k = 1
    while (k < n && maxRank < n - 1) {
      // pass 1 (free second-key order): suffixes starting in [n-k, n) have
      // an empty second key (sorts first); the rest inherit the prior
      // round's order through the shift p -> p-k
      var idx = 0
      i = n - k
      while (i < n) { tmpSa(idx) = i; idx += 1; i += 1 }
      i = 0
      while (i < n) {
        val p = sa(i)
        if (p >= k) { tmpSa(idx) = p - k; idx += 1 }
        i += 1
      }
      // pass 2: stable counting sort by first-key rank (values ≤ maxRank)
      java.util.Arrays.fill(cnt, 0, maxRank + 2, 0)
      i = 0
      while (i < n) { cnt(rank(i) + 1) += 1; i += 1 }
      i = 1
      while (i <= maxRank + 1) { cnt(i) += cnt(i - 1); i += 1 }
      i = 0
      while (i < n) {
        val p = tmpSa(i)
        sa(cnt(rank(p))) = p
        cnt(rank(p)) += 1
        i += 1
      }
      // recompute ranks off the (rank, rank+k) pairs
      def r2(p: Int): Int = if (p + k < n) rank(p + k) else -1
      tmpR(sa(0)) = 0
      i = 1
      while (i < n) {
        val prev = sa(i - 1); val cur = sa(i)
        val less = rank(prev) != rank(cur) || r2(prev) != r2(cur)
        tmpR(cur) = tmpR(prev) + (if (less) 1 else 0)
        i += 1
      }
      val t = rank; rank = tmpR; tmpR = t
      maxRank = rank(sa(n - 1))
      k <<= 1
    }
    sa
  }

  /** Kasai LCP: lcp(i) = longest common prefix of sa(i) and sa(i-1). */
  private[graft] def lcpArray(s: Array[Int], sa: Array[Int]): Array[Int] = {
    val n = s.length
    val rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(sa(i)) = i; i += 1 }
    val lcp = new Array[Int](n)
    var h = 0
    i = 0
    while (i < n) {
      if (rank(i) > 0) {
        val j = sa(rank(i) - 1)
        while (i + h < n && j + h < n && s(i + h) == s(j + h)) h += 1
        lcp(rank(i)) = h
        if (h > 0) h -= 1
      } else h = 0
      i += 1
    }
    lcp
  }

  /** Length of the longest common substring of x and y (in codepoints). */
  def lcsLength(x: String, y: String): Int = {
    if (x.isEmpty || y.isEmpty) return 0
    val xs = x.codePoints().toArray.map(_ + 2) // shift: 0 and 1 are sentinels
    val ys = y.codePoints().toArray.map(_ + 2)
    val s = new Array[Int](xs.length + 1 + ys.length)
    System.arraycopy(xs, 0, s, 0, xs.length)
    s(xs.length) = 1 // sentinel between the two strings (never matches)
    System.arraycopy(ys, 0, s, xs.length + 1, ys.length)
    val sa = suffixArray(s)
    val lcp = lcpArray(s, sa)
    val boundary = xs.length
    var best = 0
    var i = 1
    while (i < s.length) {
      val p = sa(i - 1); val q = sa(i)
      if ((p < boundary) != (q < boundary) && lcp(i) > best) best = lcp(i)
      i += 1
    }
    best
  }

  private val lcsUdf =
    udf((x: String, y: String) => if (x == null || y == null) 0 else lcsLength(x, y))

  def lcsLen(x: Column, y: Column): Column = lcsUdf(x, y)

  /** Annotate candidate pairs (a, b, …) with lcs_len and the normalized
    * ratio lcs_len / min(len_a, len_b). `files` must carry (file_id, content). */
  def verify(pairs: DataFrame, files: DataFrame): DataFrame =
    pairs
      .join(files.select(col("file_id").as("a"), col("content").as("content_a")), Seq("a"))
      .join(files.select(col("file_id").as("b"), col("content").as("content_b")), Seq("b"))
      .withColumn("lcs_len", lcsLen(col("content_a"), col("content_b")).cast("long"))
      .withColumn("lcs_ratio",
        col("lcs_len").cast("double") /
          least(length(col("content_a")), length(col("content_b"))).cast("double"))
      .drop("content_a", "content_b")
}
