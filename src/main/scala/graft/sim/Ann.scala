package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.PersistScope

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>) — the similarity-search tier of the training-data
  * pipeline. Two paths:
  *
  *   - brute-force cosine top-k: the exactness baseline. Quadratic in the
  *     pair space, so callers bound one side (a query set); at cluster scale
  *     the query side is broadcast and the corpus side streams — one scan,
  *     no shuffle of the corpus.
  *   - random-hyperplane LSH (multi-table): corpus is bucketed by L
  *     sign-bit signatures computed map-side; candidates come from bucket
  *     equi-joins — the 100 TB path (scan + bounded bucket joins).
  *
  * Embeddings are quantized to integers (floor(x*1000)) before any dot
  * product so every similarity is exact integer arithmetic + one sqrt —
  * bit-identical across engines and partitionings (no float-sum order
  * sensitivity), and ~4× less data moved when signatures shuffle.
  */
object Ann {

  /** Quantize float32 embedding to bigint milli-units (exact both engines). */
  def quantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * 1000).cast("long"))

  /** Exact integer dot product of two quantized vectors (codegen'd single
    * loop; the zip_with+aggregate built-in form allocates per row and was
    * the bench's dominant cost on 10^7-pair workloads). */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.NearDupFunctions.dotProductL(a, b)

  /** Cosine over quantized vectors: dot / sqrt(na*nb) — one sqrt, one
    * divide; all inputs exact integers. */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      sqrt((dotQ(a, a) * dotQ(b, b)).cast("double"))

  /** [[cosineQ]] from precomputed squared norms, floored to 6 decimals —
    * the similarity every ranking and threshold below compares. */
  private[graft] def cosR6(a: Column, b: Column, na: Column, nb: Column): Column =
    graft.text.TextAnalysis.r6(dotQ(a, b).cast("double") / sqrt((na * nb).cast("double")))

  /** The quantize+norm pass: (vec_id, qv = quantized vector, nv = its
    * squared norm). */
  private[graft] def quantized(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nv", dotQ(col("qv"), col("qv")))

  /** The fixed-K hash-rank sample of a [[quantized]] frame, in rank order:
    * (vec_id mod P)·2654435761 mod P stays < 2^63, exact in both engines;
    * the pick is a distributed top-K (TakeOrdered), never a full sort. */
  private def hashRankSeeds(v: DataFrame, k: Int): DataFrame =
    v.withColumn("__hk", (col("vec_id") % lit(2147483647L)) * lit(2654435761L) % lit(2147483647L))
      .orderBy(col("__hk"), col("vec_id")).limit(k)

  /** Every (vector, centroid) cosine `ccos`, scored map-side against the
    * BROADCAST K-row centroid set (cid, cv, cn). */
  private def centroidScores(v: DataFrame, cent: DataFrame): DataFrame =
    v.crossJoin(broadcast(cent))
      .withColumn("ccos", cosR6(col("qv"), col("cv"), col("nv"), col("cn")))

  /** Each vector's argmax-cosine centroid, ties toward the lower cid;
    * max_by over a struct key is partial-agg friendly (no N×K window). */
  private def nearestCentroid(scored: DataFrame): DataFrame =
    scored.groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))

  /** Each `key`'s `n` best-scoring rows by `score` desc, ties toward the
    * lower `tie`, ranked 1..n in `rank`. */
  private[graft] def topBy(df: DataFrame, key: String, score: String, tie: String,
                           n: Int): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(key).orderBy(col(score).desc, col(tie))).cast("long"))
      .filter(col("rank") <= n)

  /** The k nearest neighbors per query from (query_id, neighbor_id, cos). */
  private[graft] def topK(scored: DataFrame, k: Int): DataFrame =
    topBy(scored, "query_id", "cos", "neighbor_id", k)
      .select("query_id", "rank", "neighbor_id", "cos")

  /** (vec_id, qv, t, sig): one row per vector and LSH table `t`, with
    * `sig` the vector's random-hyperplane bucket in that table. */
  private def lshBuckets(v: DataFrame, tables: Int, bits: Int): DataFrame =
    v.select(col("vec_id"), col("qv"),
        posexplode(graft.functions.NearDupFunctions.lshSignatures(col("qv"), tables, bits)))
      .select(col("vec_id"), col("qv"), col("pos").as("t"), col("col").as("sig"))

  /** Brute-force cosine top-k: for each query vector (vec_id ∈ queryIds),
    * the k nearest others by cosine (ties → lower neighbor id). */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    // per-vector norms are computed once per side, not once per pair
    val q = quantized(embeddings.filter(col("vec_id").isin(queryIds: _*)))
      .select(col("vec_id").as("query_id"), col("qv"), col("nv").as("nq"))
    val c = quantized(embeddings)
      .select(col("vec_id").as("neighbor_id"), col("qv").as("nv"), col("nv").as("nn"))
    topK(broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosR6(col("qv"), col("nv"), col("nq"), col("nn"))), k)
  }

  /** LSH-bucketed ANN: candidates share at least one table's bucket with the
    * query; exact cosine + top-k within candidates. The scale path — the
    * candidate join is L equi-joins on (table, signature); signatures are a
    * single map-side codegen'd expression (no per-plane column explosion). */
  def lshTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
              tables: Int = 16, bits: Int = 6): DataFrame = {
    val buckets = lshBuckets(
      embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv")), tables, bits)
    val q = buckets.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("qv").as("qvq"),
        col("t"), col("sig"))
    val cands = broadcast(q)
      .join(buckets.withColumnRenamed("vec_id", "neighbor_id"), Seq("t", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qvq", "neighbor_id", "qv").distinct()
    topK(cands.withColumn("cos", cosR6(col("qvq"), col("qv"),
      dotQ(col("qvq"), col("qvq")), dotQ(col("qv"), col("qv")))), k)
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path: every
    * vector is assigned to its nearest of K centroid lists (argmax cosine,
    * computed map-side against the BROADCAST centroid set — K ≪ N); a query
    * probes its `nProbe` nearest lists and searches exactly within them.
    * At cluster scale the corpus table is clustered by `cid`, so a probe
    * reads nProbe/K of the data — the IVF layout.
    *
    * Centroid "training" is a deterministic hash-rank sample of FIXED size
    * `nLists` — K is a config constant chosen independently of the corpus
    * (256–4096 on a real cluster), so assignment is O(N·K) work against a
    * bounded broadcast at any scale. (An earlier every-Nth-vector scheme
    * made K grow with N — O(N²/step) assignment and an unbounded broadcast,
    * a 100 TB scale-killer.) The hash rank (vec_id·2654435761 mod P) is a
    * stand-in for k-means‖ that both engines reproduce exactly; the pick is
    * a distributed top-K (TakeOrdered over ids only), never a full sort.
    *
    * Assignment aggregates with max_by over a struct key (partial-agg
    * friendly — no N×K window shuffle); ordering ties break toward the
    * lower centroid id in both engines. */
  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
              nLists: Int = 16, nProbe: Int = 3,
              lloydIters: Int = 0): DataFrame =
    PersistScope.scoped { scope =>
      val v = scope.persist(quantized(embeddings))
      // centroids: the deterministic fixed-K hash-rank sample, or the
      // Lloyd-trained refinement of it when lloydIters > 0
      val cent =
        if (lloydIters > 0)
          kmeansFrom(v, nLists, lloydIters, scope)
            .withColumn("cn", dotQ(col("cv"), col("cv")))
        else hashRankSeeds(v, nLists)
          .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nv").as("cn"))
      val scored = centroidScores(v, cent)
      val probes = topBy(scored.filter(col("vec_id").isin(queryIds: _*)),
          "vec_id", "ccos", "cid", nProbe)
        .select(col("vec_id").as("query_id"), col("cid"))
      val cands = broadcast(probes)
        .join(nearestCentroid(scored).withColumnRenamed("vec_id", "neighbor_id"), Seq("cid"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id").distinct()
      topK(cands
        .join(v.select(col("vec_id").as("query_id"), col("qv").as("qa"), col("nv").as("na")),
          Seq("query_id"))
        .join(v.select(col("vec_id").as("neighbor_id"), col("qv").as("qb"), col("nv").as("nb")),
          Seq("neighbor_id"))
        .withColumn("cos", cosR6(col("qa"), col("qb"), col("na"), col("nb"))), k)
    }

  /** Deterministic k-means (Lloyd) centroid training over quantized
    * embeddings — genuine IVF "training", not a sampling stub, and exact
    * enough for the hash gate: seeds are the fixed-K hash-rank sample
    * (cid = 0..k-1 in seed-rank order), each iteration assigns every vector
    * to its argmax-cosine centroid (map-side against the BROADCAST K-row
    * set) and recomputes per-dimension floor-means. All arithmetic is
    * integers plus one IEEE-correctly-rounded double division per
    * dimension, so centroids are bit-identical across engines and
    * partitionings — the DuckDB oracle replays both iterations in SQL
    * (q_kmeans).
    *
    * Scale shape per iteration: one O(N·K) map-side scoring pass (no
    * shuffle of vectors beyond the partial aggregation), one (cid, dim)
    * aggregation — K·dim rows after map-side combine. Empty clusters keep
    * their previous centroid. Output: (cid, cv array<long>). */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 16, iters: Int = 2): DataFrame =
    PersistScope.scoped(scope => kmeansFrom(scope.persist(quantized(embeddings)), k, iters, scope))

  /** Lloyd training from a prepared [[quantized]] frame (caller persists
    * it) — shared with [[ivfTopK]] so the quantize+norm pass over the
    * corpus is never duplicated. Each iteration's K-row centroid frame
    * materializes through `scope`. */
  private def kmeansFrom(v: DataFrame, k: Int, iters: Int, scope: PersistScope): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // seed: fixed-K hash-rank sample. TakeOrdered returns the K rows in
    // rank order, so cid is a row's index in the collected list; a
    // row_number window over them would have no partition key
    val seeds = hashRankSeeds(v, k).select(col("qv").as("cv"))
    val seedRows = seeds.collect().zipWithIndex.map { case (r, i) => Row(i.toLong, r.get(0)) }
    var cent = v.sparkSession.createDataFrame(
      java.util.Arrays.asList(seedRows: _*),
      StructType(StructField("cid", LongType, nullable = false) +: seeds.schema.fields))
    for (_ <- 1 to iters) {
      val asg = nearestCentroid(
        centroidScores(v, cent.withColumn("cn", dotQ(col("cv"), col("cv")))))
      val sums = asg.join(v.select("vec_id", "qv"), Seq("vec_id"))
        .select(col("cid"), posexplode(col("qv")))
        .groupBy("cid", "pos").agg(sum("col").as("s"), count(lit(1)).as("n"))
      val updated = sums
        .withColumn("cval", floor(col("s").cast("double") / col("n")).cast("long"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cval))), x -> x.cval)")
          .as("cv"))
      // the new centroid plan references the old one ~3x (assignment,
      // carryover anti-join, its key projection): materialize the K-row
      // frame per iteration or the plan grows ~3^iters
      cent = scope.persist(updated.unionByName(
        cent.join(updated.select("cid"), Seq("cid"), "left_anti")))
    }
    cent
  }

  /** Materialize the IVF layout: every vector assigned to its coarse list
    * (same fixed-K hash-rank centroids as [[ivfTopK]]) and stored as
    * parquet PARTITIONED BY cid — the sandbox stand-in for an Iceberg table
    * clustered by list id — with the K centroid rows alongside. This is the
    * scaladoc claim of [[ivfTopK]] made physical: once the corpus is laid
    * out by cid, a probe's `cid IN (...)` predicate partition-prunes the
    * scan to nProbe of the K lists — the inverted-file read, verified by
    * AnnSpec on the scan's numFiles metric. */
  def writeIvfIndex(embeddings: DataFrame, dir: String, nLists: Int = 16): Unit =
    PersistScope.using { scope =>
      val v = scope.persist(quantized(embeddings))
      val cent = hashRankSeeds(v, nLists)
        .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nv").as("cn"))
      v.join(nearestCentroid(centroidScores(v, cent)), Seq("vec_id"))
        .write.partitionBy("cid").mode("overwrite").parquet(s"$dir/lists")
      cent.write.mode("overwrite").parquet(s"$dir/centroids")
      // layout metadata: probes validate against this instead of silently
      // returning different neighbors when the stored dir was written with
      // a different nLists or centroid rule
      val spark = embeddings.sparkSession
      import spark.implicits._
      Seq((IvfLayoutVersion, nLists))
        .toDF("layout_version", "n_lists")
        .write.mode("overwrite").parquet(s"$dir/meta")
    }

  /** Version tag of the IVF layout contract: centroid rule (fixed-K
    * hash-rank sample), list partitioning, column names. Bump on any change
    * so stale stored layouts are rejected rather than silently probed. */
  val IvfLayoutVersion = "ivf:v1:hashrank"

  /** The pruned inverted-list scan: a LITERAL cid predicate over the
    * partitioned layout, so the file source prunes non-probed lists before
    * reading a byte. */
  def ivfLists(spark: org.apache.spark.sql.SparkSession, dir: String,
               cids: Seq[Long]): DataFrame =
    spark.read.parquet(s"$dir/lists").filter(col("cid").isin(cids: _*))

  /** L2 norm (quantized, exact) per vector. */
  def norms(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("qv", quantize(col("embedding")))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        graft.text.TextAnalysis.r6(sqrt(dotQ(col("qv"), col("qv")).cast("double"))).as("norm_q"))

  /** Bucket width that keeps expected hyperplane-bucket population near
    * `targetBucket` as the corpus grows: bits ≈ log2(n / target). The
    * embedding tier's blocking discipline matches the text tier's — at 100×
    * the data, pass `bits = bitsFor(n)` so buckets stay bounded instead of
    * each holding n/2^bits members.
    *
    * Pick `targetBucket` by access pattern: top-k PROBING reads a bucket
    * linearly, so ~512 is fine (the default); the DEDUP pair join is
    * QUADRATIC per bucket — target ~32-64 there (candidate volume ≈
    * tables × n × target/2, so a 512-wide bucket costs 8-16× the pair work
    * of a 64-wide one for the same recall at high thresholds: near-identical
    * vectors agree on almost every hyperplane, so finer buckets barely cost
    * recall). */
  def bitsFor(n: Long, targetBucket: Int = 512): Int =
    math.max(4, 63 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, n / math.max(1, targetBucket))))

  /** Embedding-cosine near-dup pairs, LSH-blocked: candidates are pairs
    * sharing at least one random-hyperplane bucket (equi-join on
    * (table, signature) — never an all-pairs product); exact quantized
    * cosine ≥ threshold verifies within candidates. This IS the operator's
    * semantics (blocked, like the text tier's MinHash-LSH): the bucket join
    * is the 100 TB path, and the oracle reproduces the identical blocking.
    *
    * Candidates come from the in-bucket pair kernel
    * ([[graft.skew.Salting.bucketPairs]]), with the text tier's cap: buckets
    * over `maxBucket` are dropped with a log line (a bucket holding a large
    * corpus fraction is all-pairs-shaped work with no discriminative
    * signal); kept buckets over `hotBucket` are counted in the same line
    * and pair in place like every other bucket.
    *
    * Recall rises with `tables` and falls with `bits`; at scale pass
    * `bits = bitsFor(n)` so bucket population stays bounded (16×4 ⇒ 0.82
    * recall at cos 0.40 on the 500-vector fixture, measured vs the
    * all-pairs baseline in AnnSpec). */
  def cosineDupPairs(embeddings: DataFrame, threshold: Double,
                     tables: Int = 16, bits: Int = 4,
                     maxBucket: Int = 4096, hotBucket: Int = 512): DataFrame =
    PersistScope.scoped { scope =>
      val v = scope.persist(quantized(embeddings))
      val cands = graft.skew.Salting.bucketPairs(lshBuckets(v, tables, bits),
        Seq("t", "sig"), "vec_id", maxBucket, hotBucket).distinct()
      // vectors fetched per candidate (a tiny subset at scale), norms reused
      cands
        .join(v.select(col("vec_id").as("a"), col("qv").as("va"), col("nv").as("na")), Seq("a"))
        .join(v.select(col("vec_id").as("b"), col("qv").as("vb"), col("nv").as("nb")), Seq("b"))
        .withColumn("cos", cosR6(col("va"), col("vb"), col("na"), col("nb")))
        .filter(col("cos") >= threshold)
        .select("a", "b", "cos")
    }
}
