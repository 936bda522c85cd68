package graft

import org.apache.spark.sql.functions._
import graft.near.{NearConfig, NearDup}
import graft.functions.{MinHashSignature, SimHash}

/** North-rule acceptance: dup-pair recall ≥ 0.99 at the reference config
  * (5-gram shingles, MinHash-128, LSH b=16 r=8, SimHash, Jaccard verify).
  * Ground truth = brute-force all-pairs shingle Jaccard over representatives
  * (no reliance on the planting plan — coincidental near-dups count too). */
class NearDupSpec extends SparkSpec {
  private val cfg = NearConfig()
  private lazy val corpus = Tables.corpus(spark, sf).cache()
  private lazy val found = NearDup.verifiedPairs(corpus, cfg)
    .select("a", "b").as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    .collect().toSet

  private lazy val truth: Set[(Long, Long)] = {
    val sh = NearDup.signatures(corpus, cfg).select("file_id", "shingles")
    val l = sh.select(col("file_id").as("a"), col("shingles").as("sh_a"))
    val r = sh.select(col("file_id").as("b"), col("shingles").as("sh_b"))
    l.crossJoin(r).filter(col("a") < col("b"))
      .withColumn("ni", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("j", col("ni").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("ni")).cast("double"))
      .filter(col("j") >= 0.75) // margin above the 0.7 pipeline threshold
      .select("a", "b").collect().map(row => (row.getLong(0), row.getLong(1))).toSet
  }

  test("planted near-dups exist (forks produce true pairs)") {
    assert(truth.nonEmpty, "test corpus must contain true near-dup pairs")
  }

  test("dup-pair recall >= 0.99 vs brute-force ground truth") {
    val hit = truth.count(found.contains)
    val recall = hit.toDouble / truth.size
    assert(recall >= 0.99, s"recall=$recall (${hit}/${truth.size})")
  }

  test("precision: every reported pair verifies at jaccard >= threshold") {
    val bad = NearDup.verifiedPairs(corpus, cfg)
      .filter(col("jaccard") < cfg.jaccardThreshold).count()
    assert(bad == 0)
  }

  test("fork rows cluster with their base through allFileClusters") {
    val clusters = NearDup.allFileClusters(corpus, cfg)
    val forkC = clusters.filter(col("file_id") >= 3000000 && col("file_id") < 4000000)
      .withColumn("base_id", col("file_id") - 3000000)
      .select("base_id", "cluster_id")
    val baseC = clusters.filter(col("file_id") < 1000000)
      .select(col("file_id").as("base_id"), col("cluster_id").as("base_cluster"))
    val joined = forkC.join(baseC, "base_id")
    val together = joined.filter(col("cluster_id") === col("base_cluster")).count()
    val total = joined.count()
    assert(total > 0 && together.toDouble / total >= 0.99,
      s"$together/$total forks share their base's cluster")
  }

  test("exact-dup members inherit their representative's cluster") {
    val clusters = NearDup.allFileClusters(corpus, cfg)
    val mirror = clusters.filter(col("file_id").between(1000000, 1999999))
      .withColumn("base_id", col("file_id") - 1000000).select("base_id", "cluster_id")
    val base = clusters.filter(col("file_id") < 1000000)
      .select(col("file_id").as("base_id"), col("cluster_id").as("bc"))
    assert(mirror.join(base, "base_id").filter(col("cluster_id") =!= col("bc")).count() == 0)
  }

  test("sorted-merge verify equals the array_intersect reference form") {
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    def hasArrayIntersect(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[ArrayIntersect])))
    val scope = new graft.util.PersistScope
    try {
      val reps = scope.persist(NearDup.representatives(corpus, cfg))
      val sigs = scope.persist(NearDup.signalFrame(reps, cfg))
      val plausible = scope.persist(NearDup.allCandidates(sigs, cfg, scope).distinct())
      val cand = scope.persist(NearDup.candidateShingles(reps, plausible, cfg))
      val verified = NearDup.verifyCandidates(plausible, cand, cfg)
      // reference: first-occurrence-order shingles, hash-set intersection
      val sh = reps.select(col("file_id"), NearDup.shingleKeys("content").as("shingles"))
      // the merge kernel's input contract: candidate arrays are ascending,
      // though first-occurrence order is not (the fixture's forks edit
      // prefixes and suffixes, so an unsorted merge can still count right)
      def unsorted(df: org.apache.spark.sql.DataFrame): Long =
        df.filter(col("shingles") =!= sort_array(col("shingles"))).count()
      assert(unsorted(cand) == 0)
      assert(unsorted(sh.join(cand.select("file_id"), "file_id")) > 0)
      val reference = plausible
        .join(sh.select(col("file_id").as("a"), col("shingles").as("sh_a")), Seq("a"))
        .join(sh.select(col("file_id").as("b"), col("shingles").as("sh_b")), Seq("b"))
        .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("jaccard", col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast("double"))
        .filter(col("jaccard") >= cfg.jaccardThreshold)
        .select("a", "b", "jaccard")
      assert(verified.count() > 0)
      assert(verified.exceptAll(reference).count() == 0)
      assert(reference.exceptAll(verified).count() == 0)
      assert(hasArrayIntersect(reference))
      assert(!hasArrayIntersect(verified), verified.queryExecution.optimizedPlan.toString)
    } finally scope.release()
  }

  test("fused MinHashContent equals MinHashSignature(ShingleKeys(content))") {
    val reps = NearDup.representatives(corpus, cfg)
    val composed = NearDup.signaturesOf(reps, cfg).select("file_id", "sig")
    val fused = NearDup.signalFrame(reps, cfg).select("file_id", "sig")
      .withColumnRenamed("sig", "sig2")
    val diff = composed.join(fused, "file_id")
      .filter(col("sig") =!= col("sig2")).count()
    assert(diff == 0)
    assert(composed.count() == fused.count())
  }

  test("bands prunes the signal pass to the fused MinHash alone") {
    import graft.functions.{MinHashContent, SketchBytes}
    val reps = NearDup.representatives(corpus, cfg)
    val fused = NearDup.bandsOf(reps
      .filter(length(col("content")) >= cfg.shingleK)
      .select(col("file_id"),
        graft.functions.NearDupFunctions.minhashContent(col("content"), cfg.numPerms).as("sig")),
      cfg)
    val plan = NearDup.bands(corpus, cfg).queryExecution.optimizedPlan
    assert(plan.canonicalized == fused.queryExecution.optimizedPlan.canonicalized,
      s"bands:\n$plan\nfused form:\n${fused.queryExecution.optimizedPlan}")
    def has(p: Any => Boolean) = plan.exists(_.expressions.exists(_.exists(p)))
    assert(has(_.isInstanceOf[MinHashContent]))
    assert(!has(_.isInstanceOf[SimHash]) && !has(_.isInstanceOf[SketchBytes]), plan.toString)
  }

  test("minhash signature estimates jaccard (identical arrays -> identical sigs)") {
    val xs = Array(5L, 99L, 12345L, 999999999L)
    val s1 = MinHashSignature.compute(xs, cfg.numPerms)
    val s2 = MinHashSignature.compute(xs.clone(), cfg.numPerms)
    assert(s1.sameElements(s2))
    // disjoint sets should almost never collide on all perms
    val s3 = MinHashSignature.compute(Array(1L, 2L, 3L), cfg.numPerms)
    assert(!s1.sameElements(s3))
  }

  test("simhash: similar token sets -> small hamming distance") {
    val a = SimHash.compute("the quick brown fox jumps over the lazy dog", 60)
    val b = SimHash.compute("the quick brown fox jumps over the lazy cat", 60)
    val c = SimHash.compute("completely different words entirely unrelated text", 60)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, b) < ham(a, c))
  }
}
