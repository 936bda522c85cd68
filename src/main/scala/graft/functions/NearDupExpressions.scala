package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared modular-hash constants. All arithmetic stays strictly below 2^63
  * so it is exact (and overflow-free) in BOTH Spark (ANSI mode) and the
  * DuckDB oracle: max intermediate = (P-1)^2 + (P-1) ≈ 4.6e18 < 2^63.
  */
object HashConstants {
  /** Mersenne prime 2^31 - 1. */
  val P: Long = 2147483647L
  /** Universal-hash coefficients for permutation j (Knuth multiplier). */
  def coeffA(j: Int): Long = ((j + 1L) * 2654435761L) % (P - 1) + 1
  def coeffB(j: Int): Long = ((j + 1L) * 2654435497L) % P

  /** v mod P for 0 ≤ v < 2^62 without division: P is Mersenne (2^31 ≡ 1
    * mod P), so folding the high bits onto the low bits preserves the
    * residue. Two folds bound the value below 2P; one conditional subtract
    * finishes. Bit-identical to `v % P` — the signature hot loop runs this
    * numPerms × shingles times per row, and 64-bit division was its
    * dominant cost. */
  @inline final def modP(v: Long): Long = {
    var r = (v & P) + (v >>> 31)
    r = (r & P) + (r >>> 31)
    if (r >= P) r - P else r
  }
}

/** 128-perm MinHash signature over a row's distinct-shingle key array —
  * the signature step of the mandated near-dup tier (BASELINE.json
  * north_rule; no reference analogue, SURVEY.md §2.10).
  *
  * A custom Catalyst expression (with doGenCode, so projections stay inside
  * whole-stage codegen) rather than a Scala UDF: per-row work is
  * numPerms × |shingles| multiply-mods, and doing it in one pass over the
  * shingle array beats a posexplode + groupBy(min) formulation by removing
  * the shuffle of |shingles| × numPerms rows entirely — the shuffle-free
  * design the 100 TB target requires.
  */
case class MinHashSignature(child: Expression, numPerms: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      MinHashSignature.compute(input.asInstanceOf[ArrayData].toLongArray(), numPerms))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.MinHashSignature.compute($c.toLongArray(), $numPerms));
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  import HashConstants._

  // coefficient arrays are per-config constants — computed once per JVM,
  // not once per row (compute() runs per row on the hot path)
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  def coefficients(numPerms: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(numPerms,
      n => (Array.tabulate(n)(coeffA), Array.tabulate(n)(coeffB)))

  /** One pass over the shingle keys updating all perm minima. */
  def compute(xs: Array[Long], numPerms: Int): Array[Long] = {
    val (a, b) = coefficients(numPerms)
    val sig = Array.fill(numPerms)(P)
    var i = 0
    while (i < xs.length) {
      val x = xs(i) % P
      var j = 0
      while (j < numPerms) {
        val h = HashConstants.modP(a(j) * x + b(j))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }
}

/** SimHash over whitespace-separated tokens — the second recall net of the
  * near-dup tier (north_rule "SimHash-64"; 60 effective bits here so every
  * intermediate fits signed-64 in both engines). Token hash is a fixed
  * 8-char polynomial (base 131, codepoints mod 256) so the DuckDB oracle can
  * reproduce it in plain SQL; bit b of the output is the majority vote of
  * bit b over all token hashes (ties → 0), standard SimHash semantics.
  */
case class SimHash(child: Expression, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override def nullSafeEval(input: Any): Any =
    SimHash.compute(input.asInstanceOf[UTF8String].toString, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash.compute($c.toString(), $bits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash {
  val PadChar: Char = '_'
  val TokenLen: Int = 8
  val Base: Long = 131L

  /** Polynomial hash of the first 8 codepoints (padded with '_'), codepoints
    * mod 256 — mirrors the oracle's SQL formula exactly. Walks by char index
    * advancing with Character.charCount so supplementary characters (one
    * codepoint, two UTF-16 chars) are counted once and never indexed past the
    * end of the string. */
  def tokenHash(tok: String): Long = {
    var h = 0L
    var pow = 1L
    var i = 0      // codepoint index
    var ci = 0     // char index into tok
    while (i < TokenLen) {
      val cp =
        if (ci < tok.length) { val c = tok.codePointAt(ci); ci += Character.charCount(c); c }
        else PadChar.toInt
      h += (cp % 256) * pow
      pow *= Base
      i += 1
    }
    h
  }

  def compute(text: String, bits: Int): Long = {
    val votes = new Array[Int](bits)
    // split on single spaces, dropping empty tokens (parity with
    // string_split(content, ' ') ... WHERE tok <> '' in the oracle)
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        if (i > start) {
          val h = tokenHash(text.substring(start, i))
          var b = 0
          while (b < bits) {
            if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** One-pass 5-gram shingle keys over a string: each shingle packs its 5
  * codepoints big-endian base-256 and reduces mod P; distinct keys in
  * first-occurrence order. Value-identical to the HOF formulation
  * (transform(sequence) + ascii(substr)) and the DuckDB oracle, but O(n)
  * instead of O(n²): substr(content, i, 1) re-scans the UTF8String from the
  * start on every call, which dominated the near-dup tier's runtime.
  */
case class ShingleKeys(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_keys"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      ShingleKeys.computeUtf8(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleKeys.computeUtf8($c));
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleKeys {
  import HashConstants.P
  private val B1 = 4294967296L // 256^4
  private val B2 = 16777216L   // 256^3
  private val B3 = 65536L      // 256^2
  private val B4 = 256L

  /** Thread-local scratch (hash table + codepoint buffer): expression eval
    * is single-threaded per task, and per-row allocation of the ~8 KB table
    * made high-core-count runs GC-bound (the 4N throughput ceiling in the
    * scaling bench). */
  private final class Scratch {
    var table: Array[Long] = new Array[Long](1024)
    var cps: Array[Int] = new Array[Int](1024)
    def ensure(m: Int): Int = {
      var cap = java.lang.Integer.highestOneBit(math.max(m * 2 - 1, 8)) * 2
      if (cap > table.length) table = new Array[Long](cap)
      else cap = table.length
      java.util.Arrays.fill(table, 0, cap, -1L)
      cap
    }
    def ensureCps(n: Int): Unit =
      if (n > cps.length) cps = new Array[Int](math.max(n, cps.length * 2))
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Decode into the thread-local codepoint buffer (ASCII fast path reads
    * raw bytes; non-ASCII falls back to String decoding). Returns the
    * buffer and the codepoint count — valid until the next call on this
    * thread. */
  def codepoints(s: UTF8String): (Array[Int], Int) = {
    val nb = s.numBytes()
    val sc = scratch.get()
    sc.ensureCps(nb)
    val cps = sc.cps
    var n = 0
    var ascii = true
    var i = 0
    while (ascii && i < nb) {
      val b = s.getByte(i)
      if (b >= 0) { cps(n) = b; n += 1; i += 1 } else ascii = false
    }
    if (!ascii) {
      // non-ASCII fallback: decode codepoints via String (rare path)
      val str = s.toString
      n = 0
      var j = 0
      while (j < str.length) {
        val cp = str.codePointAt(j)
        sc.ensureCps(n + 1)
        sc.cps(n) = cp; n += 1
        j += Character.charCount(cp)
      }
    }
    (sc.cps, n)
  }

  def computeUtf8(s: UTF8String): Array[Long] = {
    val (cps, n) = codepoints(s)
    fromCodepoints(cps, n, scratch.get())
  }

  /** String-based entry (tests / reference formulation). */
  def compute(s: String): Array[Long] = {
    val sc = scratch.get()
    val cpsArr = s.codePoints().toArray
    sc.ensureCps(cpsArr.length)
    System.arraycopy(cpsArr, 0, sc.cps, 0, cpsArr.length)
    fromCodepoints(sc.cps, cpsArr.length, sc)
  }

  private def fromCodepoints(cps: Array[Int], n: Int, sc: Scratch): Array[Long] = {
    if (n < 5) return Array.emptyLongArray
    val m = n - 4
    val cap = sc.ensure(m)
    val table = sc.table
    val out = new Array[Long](m)
    var count = 0
    var i = 0
    while (i < m) {
      val x = HashConstants.modP(cps(i) * B1 + cps(i + 1) * B2 + cps(i + 2) * B3 +
        cps(i + 3) * B4 + cps(i + 4))
      var idx = (x ^ (x >>> 16)).toInt & (cap - 1)
      var found = false
      while (!found && table(idx) != -1L) {
        if (table(idx) == x) found = true
        else idx = (idx + 1) & (cap - 1)
      }
      if (!found) {
        table(idx) = x
        out(count) = x // first-occurrence order preserved
        count += 1
      }
      i += 1
    }
    if (count == m) out else java.util.Arrays.copyOf(out, count)
  }
}

/** Random-hyperplane LSH signatures over a quantized embedding vector:
  * returns array<long> of `tables` sign-bit signatures (`bits` bits each).
  * Hyperplane components are pseudo-random integers in [-1000, 1000] derived
  * from a multiplicative hash of (table, bit, dim) — deterministic across
  * engines and partitionings. Computed map-side in one pass (a custom
  * codegen'd expression; an expression-tree formulation would be
  * tables × bits × dim Catalyst nodes). */
case class LshSignatures(child: Expression, tables: Int, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_signatures"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(LshSignatures.compute(
      input.asInstanceOf[ArrayData].toLongArray(), tables, bits))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.LshSignatures.compute($c.toLongArray(), $tables, $bits));
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshSignatures {
  /** Hyperplane component for (table, bit, dim index): int in [-1000, 1000]. */
  def planeComponent(table: Int, bit: Int, d: Int, dim: Int, bits: Int): Long = {
    val off = (table.toLong * bits + bit) * dim + d + 1
    (off * 2654435761L) % 2001L - 1000L
  }

  def compute(qv: Array[Long], tables: Int, bits: Int): Array[Long] = {
    val dim = qv.length
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var h = 0
      while (h < bits) {
        var dot = 0L
        var d = 0
        while (d < dim) {
          dot += qv(d) * planeComponent(t, h, d, dim, bits)
          d += 1
        }
        if (dot >= 0) sig |= (1L << h)
        h += 1
      }
      out(t) = sig
      t += 1
    }
    out
  }
}

/** Fused shingle+MinHash: the 128-perm signature computed directly from the
  * content string in one pass — no shingle array, no dedup (min over a
  * multiset equals min over its set), no intermediate allocation beyond the
  * signature itself. Value-identical to
  * MinHashSignature(ShingleKeys(content)) — asserted by NearDupSpec — and
  * ~3× less garbage per row, which is what the 4N-core scaling run is
  * bounded by. */
case class MinHashContent(child: Expression, numPerms: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_content"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      MinHashContent.compute(input.asInstanceOf[UTF8String], numPerms))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.MinHashContent.compute($c, $numPerms));
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashContent {
  import HashConstants.P

  def compute(s: UTF8String, numPerms: Int): Array[Long] = {
    val cpsHolder = ShingleKeys.codepoints(s)
    val cps = cpsHolder._1
    val n = cpsHolder._2
    val (a, b) = MinHashSignature.coefficients(numPerms)
    val sig = Array.fill(numPerms)(P)
    if (n < 5) return sig
    var i = 0
    val m = n - 4
    while (i < m) {
      val x = HashConstants.modP(cps(i) * 4294967296L + cps(i + 1) * 16777216L +
        cps(i + 2) * 65536L + cps(i + 3) * 256L + cps(i + 4))
      var j = 0
      while (j < numPerms) {
        val h = HashConstants.modP(a(j) * x + b(j))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }
}

/** Byte sketch of a MinHash signature: the low byte of each of the
  * numPerms signature values, packed 8-per-long — 128 perms become 16
  * longs (136 B), 8× less data than the signature and 18× less than the
  * shingle array. Jaccard is then estimated by [[SketchAgree]] (count of
  * agreeing bytes) BEFORE any wide payload is shuffled to a candidate
  * pair: byte collisions only inflate the estimate (~1/256), so a
  * recall-safe cutoff keeps every true pair while discarding the bulk of
  * hamming-collision false candidates map-side. */
case class SketchBytes(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sketch_bytes"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      SketchBytes.compute(input.asInstanceOf[ArrayData].toLongArray()))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.SketchBytes.compute($c.toLongArray()));
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchBytes {
  def compute(sig: Array[Long]): Array[Long] = {
    require(sig.length % 8 == 0, s"signature length ${sig.length} not a multiple of 8")
    val out = new Array[Long](sig.length / 8)
    var i = 0
    while (i < sig.length) {
      out(i >> 3) |= (sig(i) & 0xffL) << ((i & 7) << 3)
      i += 1
    }
    out
  }
}

/** Count of agreeing bytes between two byte sketches (the MinHash match
  * estimate × numPerms, up to byte collisions). Tight XOR loop, no
  * allocation. */
case class SketchAgree(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sketch_agree"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SketchAgree.compute(
      l.asInstanceOf[ArrayData].toLongArray(),
      r.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.SketchAgree.compute($l.toLongArray(), $r.toLongArray());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SketchAgree {
  def compute(a: Array[Long], b: Array[Long]): Int = {
    val n = math.min(a.length, b.length)
    var agree = 0
    var i = 0
    while (i < n) {
      val x = a(i) ^ b(i)
      var k = 0
      while (k < 8) {
        if (((x >>> (k << 3)) & 0xffL) == 0L) agree += 1
        k += 1
      }
      i += 1
    }
    agree
  }
}

/** |A ∩ B| for two ASCENDING, DISTINCT array<long> — the exact-Jaccard
  * numerator of near-dup verification. One merge pass reading both arrays
  * in place through `ArrayData.getLong`: no copy, no allocation. The
  * built-in `size(array_intersect(a, b))` builds an OpenHashSet over one
  * side and allocates a result array for every pair. Inputs that are not
  * ascending and distinct give an undefined count; callers sort once per
  * file ([[graft.near.NearDup.candidateShingles]]), not once per pair. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SortedIntersectSize.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.SortedIntersectSize.compute($l, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }
}

/** Exact integer dot product of two long arrays — one tight loop instead of
  * zip_with + aggregate (which allocates an intermediate array and evaluates
  * two lambdas per element; at 10^7 candidate pairs × 64 dims that is the
  * dominant cost of the embedding-similarity tier). */
case class DotProductL(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_product_l"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    DotProductL.compute(
      l.asInstanceOf[ArrayData].toLongArray(),
      r.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.DotProductL.compute($l.toLongArray(), $r.toLongArray());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductL {
  def compute(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
}

/** Column-side constructors. Registered through the session FunctionRegistry
  * so `expr("...")` and SQL can reach them too. */
object NearDupFunctions {
  import org.apache.spark.sql.graftshim.ExprShim

  def minhashSignature(shingles: Column, numPerms: Int): Column =
    ExprShim.column(MinHashSignature(ExprShim.expression(shingles), numPerms))

  def minhashContent(content: Column, numPerms: Int): Column =
    ExprShim.column(MinHashContent(ExprShim.expression(content), numPerms))

  def simhash(content: Column, bits: Int): Column =
    ExprShim.column(SimHash(ExprShim.expression(content), bits))

  def lshSignatures(quantized: Column, tables: Int, bits: Int): Column =
    ExprShim.column(LshSignatures(ExprShim.expression(quantized), tables, bits))

  def shingleKeys(content: Column): Column =
    ExprShim.column(ShingleKeys(ExprShim.expression(content)))

  def sketchBytes(sig: Column): Column =
    ExprShim.column(SketchBytes(ExprShim.expression(sig)))

  def sketchAgree(a: Column, b: Column): Column =
    ExprShim.column(SketchAgree(ExprShim.expression(a), ExprShim.expression(b)))

  def sortedIntersectSize(a: Column, b: Column): Column =
    ExprShim.column(SortedIntersectSize(ExprShim.expression(a), ExprShim.expression(b)))

  def dotProductL(a: Column, b: Column): Column =
    ExprShim.column(DotProductL(ExprShim.expression(a), ExprShim.expression(b)))
}
