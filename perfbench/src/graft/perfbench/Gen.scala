package graft.perfbench

import java.util.SplittableRandom

/** One row of the generated `documents.parquet` (the schema graft's
  * `Tables.corpusOf` reads). */
final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                     n_chars: Long)

/** Size knobs of one workload's input. Every count is in documents; the
  * corpus graft scans holds ~1.79 files per document (`Tables.corpusOf`
  * adds mirror, mirror2, fork and foil variants). */
final case class Shape(
    baseDocs: Int,
    minChars: Int,
    maxChars: Int,
    /** planted exact sets with Zipf-distributed copy counts */
    exactSets: Int,
    /** copies in the one huge exact set */
    giantSet: Int,
    /** same-size, same-64-char-prefix foils of existing docs */
    foils: Int,
    /** near families of 2..5 members at ~3% token edits */
    coldFamilies: Int,
    /** members of the one-token-edit family whose band and chunk buckets
      * straddle `NearConfig.hotBucket` (0 = none) */
    hotFamily: Int,
    /** length of the one-token-per-step edit chain (0 = none) */
    chain: Int,
    /** docs appended, all in one `size % 8` checkpoint bucket, for the resume */
    driftDocs: Int,
    /** `file --db --id` probes per pass: two of every three hit a dup set */
    lookups: Int,
    /** (doc, fork variant) pairs sampled into the recall check */
    forkPairs: Int,
    /** the workload's op is `clusters`; otherwise `scan`, lookups, `report` */
    clusters: Boolean,
    /** leading passes that only warm the JIT and are left out of the medians */
    warmupPasses: Int)

object Shape {
  val byWorkload: Map[String, Shape] = Map(
    "exact-db" -> Shape(baseDocs = 6000, minChars = 300, maxChars = 700,
      exactSets = 300, giantSet = 1000, foils = 400, coldFamilies = 20,
      hotFamily = 0, chain = 0, driftDocs = 100, lookups = 5, forkPairs = 200,
      clusters = false, warmupPasses = 1),
    "near-skew" -> Shape(baseDocs = 3000, minChars = 400, maxChars = 900,
      exactSets = 20, giantSet = 0, foils = 50, coldFamilies = 80,
      hotFamily = 400, chain = 40, driftDocs = 40, lookups = 5, forkPairs = 100,
      clusters = true, warmupPasses = 0))
}

/** What the generator planted, for the output checks. */
final case class Planted(
    docs: Vector[Doc],
    /** appended docs; every one has `n_chars % 8 == driftBucket` */
    drift: Vector[Doc],
    driftBucket: Int,
    /** near-dup (a, b) doc-id pairs the recall check scores */
    nearPairs: Vector[(Long, Long)],
    familySizes: Vector[Int],
    /** corpus file ids probed by `file --db --id` */
    lookupIds: Vector[Long])

/** Seeded input generator: the same (seed, shape) always yields the same
  * documents. Text is drawn from a 20k-token vocabulary with Zipf token
  * frequencies, so SimHash and MinHash see natural-language-like skew. The
  * vocabulary is the same for every seed: it sets how strongly SimHash
  * chunks concentrate (the stop-word buckets), which must not change
  * between seeds. */
final class Gen(seed: Long, shape: Shape) {
  private val rng = new SplittableRandom(seed)
  private val langs = Vector("en", "es", "zh", "de", "fr", "ja")

  private val vocab: Array[String] = {
    val vrng = new SplittableRandom(20000L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 20000) {
      val len = 2 + vrng.nextInt(9)
      seen += (0 until len).map(_ => ('a' + vrng.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(vocab.length)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private def token(): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }
  private def tokens(chars: Int): Vector[String] = {
    val b = Vector.newBuilder[String]
    var n = 0
    while (n <= chars) { val t = token(); b += t; n += t.length + 1 }
    b.result()
  }
  /** Random text of exactly `chars` characters. */
  private def text(chars: Int): String = tokens(chars).mkString(" ").take(chars)
  private def length(): Int =
    shape.minChars + rng.nextInt(shape.maxChars - shape.minChars + 1)
  /** Replace a `frac` share of tokens (at least one) with random tokens. */
  private def edit(ts: Vector[String], frac: Double): Vector[String] = {
    val n = math.max(1, math.round(ts.length * frac).toInt)
    (0 until n).foldLeft(ts)((acc, _) => acc.updated(rng.nextInt(acc.length), token()))
  }

  private val docs = Vector.newBuilder[Doc]
  private var nextId = 0L
  private def add(t: String): Long = {
    val id = nextId
    nextId += 1
    docs += Doc(id, t, langs(rng.nextInt(langs.length)), s"src${rng.nextInt(20)}",
      t.length.toLong)
    id
  }

  def generate(): Planted = {
    val base = Vector.fill(shape.baseDocs)(text(length())).map(t => (add(t), t))
    def pick() = base(rng.nextInt(base.length))

    // exact sets with Zipf copy counts; the lookups probe these and uniques
    val setMembers = (1 to shape.exactSets).flatMap { k =>
      val (id, t) = pick()
      val copies = 1 + math.max(1, (40.0 / math.pow(k, 1.1)).toInt)
      id +: (1 to copies).map(_ => add(t))
    }
    val giant = if (shape.giantSet > 0) {
      val (id, t) = pick()
      (1 to shape.giantSet).foreach(_ => add(t))
      Set(id)
    } else Set.empty[Long]
    (1 to shape.foils).foreach { _ =>
      val (_, t) = pick()
      val keep = math.min(t.length - 1, 64 + rng.nextInt(16))
      add((t.take(keep) + text(t.length)).take(t.length))
    }

    // near families; member 0 is the template, the recall check scores
    // (template, member) pairs and consecutive chain steps
    val familySizes = Vector.newBuilder[Int]
    val nearPairs = Vector.newBuilder[(Long, Long)]
    def family(template: Vector[String], n: Int, frac: Double): Unit = {
      val t0 = add(template.mkString(" "))
      (1 until n).foreach(_ => nearPairs += (t0 -> add(edit(template, frac).mkString(" "))))
      familySizes += n
    }
    (1 to shape.coldFamilies).foreach(_ =>
      family(tokens(length()), 2 + rng.nextInt(4), 0.03))
    // short texts keep the family's quadratic verification affordable
    if (shape.hotFamily > 0) family(tokens(200), shape.hotFamily, 0.0)
    if (shape.chain > 0) {
      var cur = tokens(length())
      var prev = add(cur.mkString(" "))
      (1 until shape.chain).foreach { _ =>
        cur = edit(cur, 0.0)
        val id = add(cur.mkString(" "))
        nearPairs += (prev -> id)
        prev = id
      }
      familySizes += shape.chain
    }
    // (doc, fork) pairs: the corpus's own near-dups (fork = doc minus its
    // last 8 chars, file id doc_id + 3M)
    val forkable = base.map(_._1).filter(_ % 5 == 0)
    (1 to math.min(shape.forkPairs, forkable.length)).foreach(_ => {
      val id = forkable(rng.nextInt(forkable.length))
      nearPairs += (id -> (id + 3000000L))
    })

    val before = docs.result()
    // drift: appended docs whose n_chars all share one residue mod 8, so
    // exactly one size bucket of an 8-bucket checkpoint changes (every
    // corpus variant keeps size mod 8)
    val bucket = 1 + rng.nextInt(7)
    val sameBucket = before.filter(d => d.n_chars % 8 == bucket && d.n_chars >= 16)
    (1 to shape.driftDocs).foreach { i =>
      val t =
        if (i % 2 == 0 && sameBucket.nonEmpty) sameBucket(rng.nextInt(sameBucket.length)).text
        else {
          val l = length()
          text(math.max(16, l - l % 8 + bucket))
        }
      add(t)
    }
    val drift = docs.result().drop(before.length)
    require(drift.forall(_.n_chars % 8 == bucket), "drift docs must share one size bucket")
    require(nextId < 1000000L, "doc_id must stay below the corpus variant offsets")

    val dupIds = setMembers.toVector
    // ids divisible by 3 have a mirror copy, so they are never unique
    val taken = setMembers.toSet ++ giant
    val uniqueIds = base.map(_._1).filter(id => id % 3 != 0 && !taken(id))
    val lookupIds = (0 until shape.lookups).map { i =>
      val pool = if (i % 3 == 2) uniqueIds else dupIds
      val id = pool(rng.nextInt(pool.length))
      // some dup probes go through the mirror variant's file id
      if (i % 3 == 1 && id % 3 == 0) id + 1000000L else id
    }.toVector
    Planted(before, drift, bucket, nearPairs.result(), familySizes.result(), lookupIds)
  }
}
