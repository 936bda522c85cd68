package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{HashConstants, MinHashContent, ShingleKeys, SketchAgree, SketchBytes}
import graft.near.NearConfig

/** The near tier's 2-bit sketch prefilter: [[SketchBytes]] + [[SketchAgree]]
  * count exactly the signature values whose low 2 bits agree, and the
  * cutoff [[NearConfig.bitSketchMin]] keeps every pair whose exact 5-gram
  * Jaccard reaches the threshold (seeded scalacheck, like SkewSpec). */
class SketchSpec extends AnyFunSuite {

  private val cfg = NearConfig()

  private def check(prop: Prop, seed: Long): Check.Result = {
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(100)
      .withInitialSeed(seed).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= 100)
    res
  }

  test("bitSketchMin is 5σ below the 2-bit agreement mean at the threshold") {
    // p = 0.7 + 0.3 / 4 = 0.775: 128 · 0.775 − 5 · √(128 · 0.775 · 0.225) = 75.58
    assert(cfg.bitSketchMin == 75)
    // the oracle's byte cutoff keeps its meaning
    assert(cfg.sketchMin == 63)
  }

  test("property: SketchAgree over SketchBytes counts equal 2-bit fields") {
    val value = Gen.oneOf(Gen.choose(0L, HashConstants.P - 1), Gen.oneOf(0L, 3L, HashConstants.P))
    val draw = for {
      n <- Gen.frequency(4 -> Gen.const(128), 1 -> Gen.oneOf(32, 64, 256))
      a <- Gen.listOfN(n, value)
      keep <- Gen.choose(0, 12)
      // b keeps a's value, keeps only its low 2 bits, or takes a fresh one;
      // `keep` moves the agreement over its whole range from case to case
      b <- Gen.sequence[List[Long], Long](a.map(x => Gen.frequency(
        keep -> Gen.const(x), 1 -> value.map(v => (v & ~3L) | (x & 3L)), (13 - keep) -> value)))
    } yield (a.toArray, b.toArray)
    var agreeSeen = Set.empty[Int]
    val prop = Prop.forAll(draw) { case (a, b) =>
      val naive = a.indices.count(i => (a(i) & 3) == (b(i) & 3))
      val got = SketchAgree.compute(SketchBytes.compute(a), SketchBytes.compute(b))
      agreeSeen += naive * 4 / a.length
      Prop(got == naive) :| s"n=${a.length}: kernel $got, naive $naive"
    }
    check(prop, 29L)
    // agreement spread over its range, not only near-equal signatures
    assert(agreeSeen.size >= 3, agreeSeen.toString)
  }

  test("property: the 2-bit prefilter keeps every edit-family pair at Jaccard >= 0.7") {
    val vocab = (0 until 400).map(i => s"w${i * 7919 % 10007}x${"abcdefg".take(1 + i % 7)}")
    def edit(tokens: Vector[String]): Gen[Vector[String]] = for {
      at <- Gen.choose(0, tokens.size - 1)
      word <- Gen.oneOf(vocab)
      kind <- Gen.choose(0, 2)
    } yield kind match {
      case 0 => tokens.updated(at, word)
      case 1 => tokens.patch(at, Seq(word), 0)
      case _ => tokens.patch(at, Nil, 1)
    }
    def edits(tokens: Vector[String], n: Int): Gen[Vector[String]] =
      if (n == 0) Gen.const(tokens) else edit(tokens).flatMap(edits(_, n - 1))
    val family: Gen[Seq[String]] = for {
      len <- Gen.choose(40, 120)
      base <- Gen.listOfN(len, Gen.oneOf(vocab)).map(_.toVector)
      copies <- Gen.choose(2, 5)
      members <- Gen.listOfN(copies, Gen.choose(0, 14).flatMap(edits(base, _)))
    } yield (base +: members).map(_.mkString(" "))

    def shingles(text: String): Set[Long] =
      ShingleKeys.computeUtf8(UTF8String.fromString(text)).toSet
    var qualifying = 0
    var nearThreshold = 0
    var minAgree = Int.MaxValue
    val prop = Prop.forAll(family) { texts =>
      val sh = texts.map(shingles)
      val sk = texts.map(t =>
        SketchBytes.compute(MinHashContent.compute(UTF8String.fromString(t), cfg.numPerms)))
      val missed = Seq.newBuilder[String]
      for (i <- texts.indices; j <- texts.indices if i < j) {
        val jac = (sh(i) intersect sh(j)).size.toDouble / (sh(i) union sh(j)).size
        if (jac >= cfg.jaccardThreshold) {
          val agree = SketchAgree.compute(sk(i), sk(j))
          qualifying += 1
          if (jac < 0.8) nearThreshold += 1
          minAgree = math.min(minAgree, agree)
          if (agree < cfg.bitSketchMin) missed += f"jaccard $jac%.3f agree $agree"
        }
      }
      val m = missed.result()
      Prop(m.isEmpty) :| m.mkString("; ")
    }
    check(prop, 43L)
    info(s"$qualifying pairs at Jaccard >= 0.7 ($nearThreshold below 0.8), " +
      s"lowest agreement $minAgree of ${cfg.numPerms} (cutoff ${cfg.bitSketchMin})")
    // the generator reaches the threshold region, so the property has teeth
    assert(qualifying >= 200 && nearThreshold >= 20, s"$qualifying / $nearThreshold")
  }
}
