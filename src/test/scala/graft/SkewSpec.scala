package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import graft.near.{NearConfig, NearDup}
import graft.skew.Salting

/** North-rule skew handling: a planted near-identical boilerplate family
  * (hundreds of members sharing LSH band buckets) must neither stall the
  * pipeline nor silently truncate results (capped buckets are dropped with
  * a log line). The in-bucket pair kernel must return exactly the pairs a
  * naive capped bucket self-join followed by the same filters returns. */
class SkewSpec extends SparkSpec {

  private val family = 300
  private lazy val skewed = Tables.skewCorpus(spark, sf, family).cache()

  private def pairSet(cfg: NearConfig): Set[(Long, Long)] =
    NearDup.lshPairs(skewed, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The `graft_skew_dropped_*` rows observed while `body` runs. */
  private def skewObservations(body: => Unit): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_skew_dropped_")) seen.add(row) }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.TestBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[org.apache.spark.sql.Row]).toSeq
  }

  test("bucket cap drops hot buckets deterministically (and logs)") {
    val uncapped = pairSet(NearConfig(maxBucket = 0, hotBucket = 8))
    var capped = Set.empty[(Long, Long)]
    val obs = skewObservations { capped = pairSet(NearConfig(maxBucket = 64, hotBucket = 8)) }
    // the family really is skewed: its members flood shared buckets
    val familyPairs = uncapped.count { case (a, b) => a >= 5000000L && b >= 5000000L }
    assert(familyPairs > family, s"fixture not skewed enough: $familyPairs")
    assert(capped.subsetOf(uncapped))
    assert(capped.size < uncapped.size, "cap=64 must bite on the skew fixture")
    // the observation behind the log line: n_dropped, largest, cap (perfbench's
    // trace reads the first two), kept buckets over hotBucket, largest kept
    assert(obs.size == 1 && obs.head.length == 5, obs.toString)
    val row = obs.head
    assert(row.getLong(0) > 0 && row.getLong(1) > 64 && row.getLong(2) == 64, row.toString)
    assert(row.getLong(3) > 0 && row.getLong(4) > 8 && row.getLong(4) <= 64, row.toString)
  }

  test("cap + salting leave the non-skewed corpus untouched") {
    // default config cap (4096) never triggers at fixture scale: pairs on the
    // plain corpus equal the fully-uncapped run with no hot-bucket report
    val corpus = Tables.corpus(spark, sf)
    val withDefaults = NearDup.lshPairs(corpus, NearConfig()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = NearDup.lshPairs(corpus, NearConfig(maxBucket = 0, hotBucket = 0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withDefaults == plain)
  }

  test("near-dup recall holds on the skewed corpus (family members cluster)") {
    val verified = NearDup.verifiedPairs(skewed, NearConfig(hotBucket = 16)).cache()
    // family members are mutual near-dups (shared prefix >> distinct suffix);
    // with the default cap they must be found in volume
    val fam = verified.filter(col("a") >= 5000000L && col("b") >= 5000000L).count()
    assert(fam > family, s"family near-dup pairs not recalled: $fam")
    // and the pre-existing base↔fork near-dups are still found
    val baseFork = verified.filter(col("b") >= 3000000L && col("b") < 4000000L).count()
    assert(baseFork > 0)
  }

  test("property: bucketPairs equals a naive capped self-join with the same filters") {
    import spark.implicits._
    val bands = 4 // bidx >= bands: a SimHash chunk bucket (Hamming bound)
    val hotBucket = 512
    // one bucket: its key, then each member's (id, simhash, sketch) drawn
    // from a few values each, so the filters both pass and fail
    val member: Gen[(Long, Long, Seq[Long])] = for {
      id <- Gen.choose(-3L, 2000L)
      sim <- Gen.oneOf(0L, 0xffL, 0x0f0fL)
      flip <- Gen.choose(0, 6)
      sk <- Gen.listOfN(2, Gen.oneOf(0L, 0xffL, 0xff00ffL, 0x0102030405060708L))
    } yield (id, sim ^ ((1L << flip) - 1), sk)
    def bucket(maxBucket: Int): Gen[(Int, Long, Seq[(Long, Long, Seq[Long])])] = for {
      n <- Gen.frequency(3 -> Gen.oneOf(1, 2, 3), 3 -> Gen.choose(4, 12),
        1 -> Gen.oneOf(hotBucket - 1, hotBucket, hotBucket + 1),
        1 -> (if (maxBucket > 0) Gen.oneOf(maxBucket, maxBucket + 1) else Gen.const(hotBucket + 2)))
      bidx <- Gen.choose(0, bands + 1)
      key <- Gen.choose(0L, 3L)
      ms <- Gen.listOfN(n, member)
    } yield (bidx, key, ms)
    val draw = for {
      maxBucket <- Gen.oneOf(-1, 0, 3, 8, hotBucket + 7)
      hamming <- Gen.choose(0, 4)
      sketchMin <- Gen.oneOf(None, Some(50), Some(58))
      nb <- Gen.choose(1, 4)
      buckets <- Gen.listOfN(nb, bucket(maxBucket))
    } yield (maxBucket, hamming, sketchMin, buckets)

    /** Equal 2-bit fields of two sketches, field by field (32 per long). */
    def agree(x: Seq[Long], y: Seq[Long]): Int = x.zip(y).map { case (p, q) =>
      (0 until 32).count(k => ((p >>> (2 * k)) & 3) == ((q >>> (2 * k)) & 3)) }.sum
    var sketchOutcomes = Set.empty[Boolean]

    /** The reference: every row pair of each bucket (a self-join on the
      * key), a < b, no bucket over the cap, then the filters written out
      * one by one. */
    def naive(maxBucket: Int, hamming: Int, sketchMin: Option[Int],
              rows: Seq[(Int, Long, Long, Long, Seq[Long])]): Seq[(Long, Long)] =
      rows.groupBy(r => (r._1, r._2)).values.toSeq
        .filter(b => maxBucket <= 0 || b.size <= maxBucket)
        .flatMap(b => for (x <- b; y <- b if x._3 < y._3) yield (x, y))
        .filter { case (x, y) => x._1 < bands || java.lang.Long.bitCount(x._4 ^ y._4) <= hamming }
        .filter { case (x, y) => sketchMin.forall { m =>
          val pass = agree(x._5, y._5) >= m
          sketchOutcomes += pass
          pass } }
        .map { case (x, y) => (x._3, y._3) }.sorted

    var sizes = Set.empty[String]
    val prop = Prop.forAll(draw) { case (maxBucket, hamming, sketchMin, buckets) =>
      // a bucket drawn twice under one key is one bucket
      val rows = buckets.flatMap { case (bidx, key, ms) =>
        ms.map { case (id, sim, sk) => (bidx, key, id, sim, sk) } }
      rows.groupBy(r => (r._1, r._2)).values.foreach { b =>
        val n = b.size
        sizes += (if (maxBucket > 0 && n > maxBucket) "over cap" else if (n <= 2) s"$n"
          else if (n < hotBucket) "cold" else if (n == hotBucket) "hot="
          else if (maxBucket <= 0) "hot, no cap" else "hot <= cap")
      }
      val df = rows.toDF("bidx", "key", "file_id", "simhash", "sk")
      val got = Salting.bucketPairs(df, Seq("bidx", "key"), "file_id", maxBucket, hotBucket,
          hamming = Some("simhash" -> when(col("bidx") >= bands, hamming).otherwise(-1)),
          sketch = sketchMin.map("sk" -> _))
        .as[(Long, Long)].collect().toSeq.sorted
      val want = naive(maxBucket, hamming, sketchMin, rows)
      Prop(got == want) :| s"cap $maxBucket hamming $hamming sketch $sketchMin: " +
        s"${got.size} kernel pairs, ${want.size} naive"
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(100)
      .withInitialSeed(11L).withWorkers(1), prop)
    info(s"${res.succeeded} cases; bucket sizes seen: ${sizes.toSeq.sorted.mkString(", ")}")
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= 100)
    assert(Seq("1", "2", "cold", "hot=", "hot, no cap", "hot <= cap", "over cap")
      .forall(sizes.contains), sizes.toString)
    // the sketch cutoffs both keep and reject pairs of 64-field sketches
    assert(sketchOutcomes == Set(true, false), sketchOutcomes.toString)
  }
}
