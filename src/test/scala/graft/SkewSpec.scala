package graft

import org.apache.spark.sql.functions._
import graft.near.{NearConfig, NearDup}
import graft.skew.Salting

/** North-rule skew handling: a planted near-identical boilerplate family
  * (hundreds of members sharing LSH band buckets) must neither stall the
  * pipeline (salted two-phase pair join) nor silently truncate results
  * (capped buckets are dropped with a log line). Salting is a plan-level
  * rewrite: pair sets must be IDENTICAL to the plain bucket self-join. */
class SkewSpec extends SparkSpec {

  private val family = 300
  private lazy val skewed = Tables.skewCorpus(spark, sf, family).cache()

  private def pairSet(cfg: NearConfig): Set[(Long, Long)] =
    NearDup.lshPairs(skewed, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("salted pair generation equals the plain join (uncapped)") {
    val plain  = pairSet(NearConfig(maxBucket = 0, hotBucket = 0))
    val salted = pairSet(NearConfig(maxBucket = 0, hotBucket = 4, salts = 4))
    assert(salted == plain)
    // the family really is skewed: its members flood shared buckets
    val familyPairs = plain.count { case (a, b) => a >= 5000000L && b >= 5000000L }
    assert(familyPairs > family, s"fixture not skewed enough: $familyPairs")
  }

  test("bucket cap drops hot buckets deterministically (and logs)") {
    val uncapped = pairSet(NearConfig(maxBucket = 0, hotBucket = 16, salts = 4))
    val capped   = pairSet(NearConfig(maxBucket = 64, hotBucket = 16, salts = 4))
    assert(capped.subsetOf(uncapped))
    assert(capped.size < uncapped.size, "cap=64 must bite on the skew fixture")
  }

  test("cap + salting leave the non-skewed corpus untouched") {
    // default config cap (4096) never triggers at fixture scale: pairs on the
    // plain corpus equal the fully-uncapped, unsalted run
    val corpus = Tables.corpus(spark, sf)
    val withDefaults = NearDup.lshPairs(corpus, NearConfig()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = NearDup.lshPairs(corpus, NearConfig(maxBucket = 0, hotBucket = 0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withDefaults == plain)
  }

  test("near-dup recall holds on the skewed corpus (family members cluster)") {
    val verified = NearDup.verifiedPairs(skewed,
      NearConfig(hotBucket = 16, salts = 4)).cache()
    // family members are mutual near-dups (shared prefix >> distinct suffix);
    // with the default cap they must be found in volume
    val fam = verified.filter(col("a") >= 5000000L && col("b") >= 5000000L).count()
    assert(fam > family, s"family near-dup pairs not recalled: $fam")
    // and the pre-existing base↔fork near-dups are still found
    val baseFork = verified.filter(col("b") >= 3000000L && col("b") < 4000000L).count()
    assert(baseFork > 0)
  }

  test("Salting.bucketPairs carries payload columns from both sides") {
    import spark.implicits._
    val df = Seq((1L, "k", 10L), (2L, "k", 20L), (3L, "k", 30L), (4L, "x", 40L))
      .toDF("file_id", "key", "payload")
    val pairs = graft.util.PersistScope.using(s =>
      Salting.bucketPairs(df, Seq("key"), "file_id", Seq("payload"),
        maxBucket = 0, hotThreshold = 1, salts = 2, scope = s)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
    assert(pairs == Set((1L, 2L, 10L, 20L), (1L, 3L, 10L, 30L), (2L, 3L, 20L, 30L)))
  }
}
