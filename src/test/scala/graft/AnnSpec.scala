package graft

import org.apache.spark.sql.functions._
import graft.sim.Ann

class AnnSpec extends SparkSpec {
  private lazy val emb = Tables.embeddings(spark, sf).cache()

  /** Exact all-pairs cosine baseline: the recall yardstick for
    * `Ann.cosineDupPairs` (bounded inputs only, never the scale path). */
  private def cosineDupPairsExact(embeddings: org.apache.spark.sql.DataFrame,
                                  threshold: Double) = {
    val v = Ann.quantized(embeddings)
    val l = v.select(col("vec_id").as("a"), col("qv").as("va"), col("nv").as("na"))
    val r = v.select(col("vec_id").as("b"), col("qv").as("vb"), col("nv").as("nb"))
    l.join(r, col("a") < col("b"))
      .withColumn("cos", Ann.cosR6(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }
  private lazy val brute = Ann.bruteForceTopK(emb, 0L until 10L, 5).cache()

  /** Top-k probe against the STORED layout: score queries against the K
    * stored centroids, resolve the nProbe list ids (a tiny driver-side
    * collect — nQueries × nProbe longs, the literals partition pruning
    * needs), then search exactly within only those lists. Returns the same
    * relation shape as [[Ann.ivfTopK]] and — by construction, same centroid
    * rule — the same rows; a reference reader of the layout
    * [[Ann.writeIvfIndex]] stores. */
  private def ivfProbeStored(dir: String, queryIds: Seq[Long], k: Int,
                             nProbe: Int = 3): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val cent = spark.read.parquet(s"$dir/centroids")
    // validate the stored layout before trusting it: a dir written under a
    // different centroid rule or nLists must FAIL, not return different
    // neighbors. Older dirs without meta are rejected too (re-write them).
    val meta = try spark.read.parquet(s"$dir/meta").collect()
      catch { case _: Exception => Array.empty[org.apache.spark.sql.Row] }
    require(meta.nonEmpty, s"$dir has no IVF layout metadata — " +
      "re-run writeIvfIndex (refusing to probe an unversioned layout)")
    val (ver, nLists) = (meta(0).getAs[String]("layout_version"),
      meta(0).getAs[Int]("n_lists"))
    require(ver == Ann.IvfLayoutVersion,
      s"$dir layout version '$ver' != expected '${Ann.IvfLayoutVersion}'")
    val nCent = cent.count()
    require(nCent == nLists,
      s"$dir stores $nCent centroids but meta says nLists=$nLists")
    val q = spark.read.parquet(s"$dir/lists")
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("nv").as("na"))
    val probeRows = Ann.topBy(q.crossJoin(broadcast(cent))
        .withColumn("ccos", Ann.cosR6(col("qa"), col("cv"), col("na"), col("cn"))),
        "query_id", "ccos", "cid", nProbe)
      .select(col("query_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val probePairs = probeRows.toSeq.toDF("query_id", "cid")
    val cands = Ann.ivfLists(spark, dir, probeRows.map(_._2).distinct.toSeq)
      .join(broadcast(probePairs), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qv").as("qb"), col("nv").as("nb"))
    Ann.topK(cands.join(q, Seq("query_id"))
      .withColumn("cos", Ann.cosR6(col("qa"), col("qb"), col("na"), col("nb"))), k)
  }

  test("brute-force top-k: 5 ranked neighbors per query, cos non-increasing") {
    val rows = brute.collect()
    assert(rows.length == 50)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).sameElements(1L to 5L))
      val coss = sorted.map(_.getDouble(3))
      assert(coss.zip(coss.tail).forall { case (x, y) => x >= y })
    }
  }

  test("self-cosine of a quantized vector is 1") {
    val one = emb.select(Ann.cosineQ(
      Ann.quantize(col("embedding")), Ann.quantize(col("embedding"))).as("c"))
      .agg(min("c"), max("c")).head()
    assert(math.abs(one.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(one.getDouble(1) - 1.0) < 1e-12)
  }

  test("LSH top-k ranks correctly within its candidate set and reports recall") {
    val lsh = Ann.lshTopK(emb, 0L until 10L, 5)
    val lshPairs = lsh.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brutePairs = brute.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brutePairs.count(lshPairs.contains).toDouble / brutePairs.size
    info(f"LSH recall@5 vs brute force: $recall%.3f (tables=16, bits=6)")
    // structural checks: ranks are 1..k' and cos matches the exact cosine
    val bad = lsh.filter(col("rank") < 1 || col("rank") > 5).count()
    assert(bad == 0)
    assert(recall > 0.15, s"pathologically low recall $recall")
  }

  test("IVF top-k ranks correctly within probed lists and reports recall") {
    val ivf = Ann.ivfTopK(emb, 0L until 10L, 5)
    val ivfPairs = ivf.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brutePairs = brute.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brutePairs.count(ivfPairs.contains).toDouble / brutePairs.size
    info(f"IVF recall@5 vs brute force: $recall%.3f (K=16 fixed hash-ranked lists, nProbe=3)")
    assert(ivf.filter(col("rank") < 1 || col("rank") > 5).count() == 0)
    assert(recall > 0.15, s"pathologically low recall $recall")
  }

  test("cosine dup pairs: a<b, above threshold, and LSH blocking recall vs exact") {
    val pairs = Ann.cosineDupPairs(emb, 0.40).cache()
    assert(pairs.filter(col("a") >= col("b")).count() == 0)
    assert(pairs.filter(col("cos") < 0.40).count() == 0)
    assert(pairs.count() > 0, "threshold must be non-vacuous on the fixture")
    // blocked results are a subset of the exact all-pairs baseline with
    // usable recall (every blocked pair is exact-verified, so precision = 1)
    val exact = cosineDupPairsExact(emb, 0.40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = pairs.select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(exact))
    val recall = blocked.size.toDouble / exact.size
    info(f"LSH-blocked cosine dedup recall vs exact: $recall%.3f (tables=16, bits=4)")
    assert(recall > 0.5, s"pathologically low recall $recall")
  }

  test("bitsFor scales bucket width logarithmically with corpus size") {
    assert(Ann.bitsFor(500) == 4)              // fixture scale: floor stays 4
    assert(Ann.bitsFor(512L * 1024) == 10)     // 2^19 / 512 = 2^10
    assert(Ann.bitsFor(1L << 40) == 31)        // 100 TB-ish row counts
    // expected bucket population n / 2^bits stays within ~2x of target
    for (n <- Seq(10000L, 1000000L, 100000000L)) {
      val pop = n.toDouble / (1L << Ann.bitsFor(n))
      assert(pop <= 1024 && pop >= 256, s"n=$n pop=$pop")
    }
  }

  test("k-means training: deterministic, partitioning-invariant, and moves the seeds") {
    val c1 = Ann.kmeansCentroids(emb, 16, 2)
      .selectExpr("cid", "cv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(c1.size == 16 && c1.keySet == (0L until 16L).toSet)
    assert(c1.values.forall(_.nonEmpty))
    // bit-identical under a different partitioning (integer arithmetic +
    // one correctly-rounded double division per dim — no float-sum order)
    val c2 = Ann.kmeansCentroids(emb.repartition(7), 16, 2)
      .selectExpr("cid", "cv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(c1 == c2)
    // Lloyd updates genuinely move centroids off the raw seed vectors
    val seeds = Ann.kmeansCentroids(emb, 16, 0)
      .selectExpr("cid", "cv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(c1 != seeds, "training did not change any centroid")
    // trained IVF still ranks correctly and reports recall
    val ivf = Ann.ivfTopK(emb, 0L until 10L, 5, lloydIters = 2)
    val ivfPairs = ivf.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brutePairs = brute.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brutePairs.count(ivfPairs.contains).toDouble / brutePairs.size
    info(f"IVF recall@5 with 2 Lloyd iterations: $recall%.3f (vs seed-sample IVF above)")
    assert(ivf.filter(col("rank") < 1 || col("rank") > 5).count() == 0)
  }

  test("IVF layout: stored probe reads only the probed lists (partition pruning)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Ann.writeIvfIndex(emb, dir, nLists = 16)
    val listDirs = new java.io.File(s"$dir/lists").listFiles()
      .count(_.getName.startsWith("cid="))
    assert(listDirs >= 8, s"expected most of 16 lists populated, got $listDirs")
    // the pruned scan: count parquet files the plan actually reads
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: FileSourceScanExec => Seq(s)
        case o => o.children.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
    }
    val allFiles = scannedFiles(spark.read.parquet(s"$dir/lists"))
    // probe any 2 real list ids (cid = the seed vector's vec_id, not 0..15)
    val cids = spark.read.parquet(s"$dir/centroids").select("cid")
      .collect().map(_.getLong(0)).sorted.take(2).toSeq
    val pruned = Ann.ivfLists(spark, dir, cids)
    val prunedFiles = scannedFiles(pruned)
    info(s"IVF layout: full scan reads $allFiles files, 2-list probe reads $prunedFiles")
    assert(prunedFiles < allFiles,
      s"partition pruning did not reduce the read: $prunedFiles vs $allFiles")
    assert(prunedFiles <= allFiles * 3 / listDirs,
      s"probe reads more than ~2/$listDirs of the files: $prunedFiles vs $allFiles")
    // and the stored-layout probe returns exactly what the in-memory IVF
    // query returns (same centroid rule, same candidates, same ranks)
    val stored = ivfProbeStored(dir, 0L until 10L, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = Ann.ivfTopK(emb, 0L until 10L, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stored == direct)
  }

  test("planted hot embedding bucket: hot threshold changes no pair, cap drops it") {
    // 200 copies of vector 0 under fresh ids: identical vectors share EVERY
    // (table, signature) bucket — the embedding analogue of the text tier's
    // boilerplate family (SkewSpec). Hot buckets pair in place; the cap
    // drops them.
    val cols = Seq("vec_id", "embedding", "label").map(col)
    val planted = emb.filter(col("vec_id") === 0)
      .crossJoin(spark.range(200).toDF("i"))
      .select((col("i") + 9000000L).as("vec_id") +: cols.tail: _*)
    val skewed = emb.select(cols: _*).unionAll(planted).cache()
    def pairs(maxBucket: Int, hot: Int): Set[(Long, Long)] =
      Ann.cosineDupPairs(skewed, 0.40, maxBucket = maxBucket, hotBucket = hot)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(0, 0)
    // the family floods its buckets: its C(200,2)-ish pair set is present
    assert(plain.count { case (a, b) => a >= 9000000L && b >= 9000000L } > 19000)
    // hotBucket only sets the skew report's threshold
    assert(pairs(0, 8) == plain)
    // a biting cap drops the hot buckets (deterministically, both engines)
    val capped = pairs(64, 8)
    assert(capped.subsetOf(plain))
    assert(capped.size < plain.size, "cap=64 must bite on the planted family")
    skewed.unpersist()
  }
}
