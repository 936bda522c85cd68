package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.PersistScope

/** Connected components of the verified-pair graph — the clustering step
  * of the near-dup tier (north_rule; no GraphX/RDD per input_hint): every
  * vertex is labelled with the MINIMUM id reachable from it. The edge count
  * read picks one of two paths (no setting does):
  *
  *   - up to [[LocalEdges]] edges (32 MB as two long arrays), union-find on
  *     the driver, joined back to the vertices through a broadcast local
  *     relation. A multi-round partitioned join is the wrong plan for an
  *     edge set of a few MB: ~20 jobs and a shuffle per round;
  *   - above it, where the driver must not hold the graph, [[starRounds]]
  *     (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *     SoCC'14), logarithmic rounds of distributed joins.
  */
object ConnectedComponents {

  /** Result of a CC run: `converged = false` means the labels are possibly
    * PARTIAL (maxIter exhausted, or a 2^-64 signature collision ended the
    * loop early) — callers must check it before trusting cluster_id.
    * `forest` is the frame `labels` reads: the final round's checkpointed
    * edge set (free it once `labels` has materialized), or, when the driver
    * found the components, a local relation that holds no blocks. */
  final case class CcResult(labels: DataFrame, rounds: Int, converged: Boolean,
                            forest: DataFrame)

  /** @param vertices one column `file_id`
    * @param edges    two columns `a`, `b` (undirected, any orientation)
    * @param scope    takes over the frame the returned labels read
    * @param allowPartial accept possibly-partial labels on non-convergence
    *                 instead of throwing — opt-in only: a silent partial
    *                 result poisons every downstream cluster expansion
    * @return (file_id, cluster_id) — cluster_id = min file_id reachable
    * @throws IllegalStateException when the rounds cap was exhausted and
    *                 `allowPartial` is false
    */
  def run(vertices: DataFrame, edges: DataFrame, scope: PersistScope,
          maxIter: Int = 50, allowPartial: Boolean = false): DataFrame = {
    val r = runWithStats(vertices, edges, maxIter)
    scope.track(r.forest)
    if (!r.converged && !allowPartial)
      throw new IllegalStateException(
        s"connected components not converged after $maxIter rounds — " +
          "labels would be partial (raise maxIter, or pass allowPartial=true)")
    r.labels
  }

  /** Edge count up to which the driver finds the components. */
  private[graft] val LocalEdges: Int = 1 << 21

  /** [[run]], also returning the star-round count (0 when the driver found
    * the components) and the convergence flag. Reads at most
    * `LocalEdges + 1` edges — a cheap job over the caller's checkpointed
    * edge leaf — and picks the path from what it read. */
  def runWithStats(vertices: DataFrame, edges: DataFrame,
                   maxIter: Int = 50): CcResult = {
    val read = edges.select(col("a"), col("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .limit(LocalEdges + 1).collect()
    if (read.length > LocalEdges) starRounds(vertices, edges, maxIter)
    else localFinish(vertices, read.map(_.getLong(0)), read.map(_.getLong(1)))
  }

  /** Union-find over the sorted distinct ids, the smaller index as root, so
    * every root is its component's minimum id; repeated, reversed and
    * self-loop edges need no canonicalizing. The forest maps each non-root
    * id to its root. */
  private def localFinish(vertices: DataFrame, a: Array[Long], b: Array[Long]): CcResult = {
    val ids = a ++ b
    java.util.Arrays.sort(ids)
    var n = 0
    for (v <- ids) if (n == 0 || ids(n - 1) != v) { ids(n) = v; n += 1 }
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def root(v: Long): Int = find(java.util.Arrays.binarySearch(ids, 0, n, v))
    for (i <- a.indices) {
      val (x, y) = (root(a(i)), root(b(i)))
      if (x != y) parent(math.max(x, y)) = math.min(x, y)
    }
    val spark = vertices.sparkSession
    import spark.implicits._
    val forest = (0 until n).map(i => (ids(i), ids(find(i)))).filter(p => p._1 != p._2)
      .toDF("file_id", "__c")
    val labels = vertices.join(broadcast(forest), Seq("file_id"), "left")
      .select(col("file_id"), coalesce(col("__c"), col("file_id")).as("cluster_id"))
    CcResult(labels, 0, converged = true, forest)
  }

  /** The path above [[LocalEdges]]: alternating large-star (every node
    * connects its larger neighbors to the minimum of its closed
    * neighborhood — long paths halve) and small-star (every node connects
    * its smaller neighbors and itself to that minimum — stars flatten)
    * rounds, converging in O(log² n) rounds to a forest of stars centered
    * at each component's minimum id — the 600-node chain in 11 rounds,
    * where hash-min label propagation needs 599 (ConnectedComponentsSpec).
    * Convergence is the canonical edge set's (count, xor-of-hash) signature
    * repeating; a per-round `localCheckpoint` truncates the lineage. */
  private[graft] def starRounds(vertices: DataFrame, edges: DataFrame,
                                maxIter: Int = 50): CcResult = {
    import org.apache.spark.sql.expressions.Window
    val spark = vertices.sparkSession

    // Each round supersedes the previous round's checkpointed edge set; free
    // the old blocks as soon as the new checkpoint has materialized (eager)
    // or every O(E) iteration frame stays resident for the session — at
    // ~10 rounds that is 10x the edge set squeezing execution memory
    // (round-5 session-aging regression), and an OOM at the 100 TB target.
    // The FINAL frame stays live: the returned labels plan reads it, and
    // CcResult.forest hands it to the caller.
    var retired: DataFrame = null

    // edge-set signature: (count, xor of per-edge hashes) — set equality up
    // to a 2^-64 collision. The count doubles as the sizing input below, so
    // no separate count() job runs.
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    /** LAZY local checkpoint whose materializing action IS the signature
      * aggregate: one Spark execution per round instead of two (the eager
      * checkpoint ran a count-style job, then sig ran a second full
      * analysis+job — at ~10 rounds that doubled the loop's driver-side
      * cost, which the round-6 job accounting showed dominating the
      * clusters wall). The previous round's blocks are freed only AFTER
      * the new frame has materialized — a lazy checkpoint still reads its
      * parent when it first computes. */
    def ckSig(df: DataFrame): (DataFrame, (Long, Long)) = {
      val out = df.localCheckpoint(false)
      val s = sig(out)
      if (retired ne null) graft.util.Blocks.free(retired)
      retired = out
      (out, s)
    }

    // canonical undirected edges: hi > lo, self-loops dropped, deduped
    var (e, prev) = ckSig(edges
      .select(greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct())

    // size the iteration shuffles to the data: at a few thousand edges,
    // 32-way exchanges are pure scheduler overhead; at billions, the
    // caller's default parallelism is right. ~1M edges per partition.
    val nParts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism,
      (prev._1 / 1000000L).toInt + 1))
    if (nParts < spark.sparkContext.defaultParallelism)
      e = ckSig(e.repartition(nParts))._1 // sig unchanged: same edge set

    /** One large-star + small-star round, fused to THREE exchanges (the
      * groupBy-min + join-back formulation paid seven): each star's
      * neighborhood minimum is a window aggregate over its grouping key —
      * one shuffle instead of an aggregate shuffle plus a join shuffle —
      * and only the final output is deduplicated (a round-local dedup of
      * the large-star output is redundant: small-star's window min is
      * duplicate-insensitive, and the terminal distinct already dedups).
      *
      * large-star: for each node u (over symmetrized edges), connect every
      * neighbor v > u to m(u) = min(Γ(u) ∪ {u}) — output stays canonical
      * (v > u ≥ m) and is exactly one row per input edge (of a canonical
      * edge's two orientations, only u < v survives the filter), so
      * skipping its dedup never inflates the round's row count.
      *
      * small-star: for each node hi (canonical edges point down, so Γ(hi)
      * is its smaller neighbors), connect them AND hi itself to
      * m = min(Γ(hi)): each row emits (lo → m) and (hi → m) via one
      * explode; rows where lo = m collapse to a self-loop and are dropped
      * by the hi ≠ lo filter — identical to the reference formulation's
      * `lo =!= m` guard + unioned (hi, m) projection. */
    def round(in: DataFrame): DataFrame = {
      val sym = in.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(in.select(col("lo").as("u"), col("hi").as("v")))
      val ls = sym
        .withColumn("m", least(min(col("v")).over(Window.partitionBy("u")), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
      ls
        .withColumn("m", min(col("lo")).over(Window.partitionBy("hi")))
        .select(explode(array(
          struct(col("lo").as("hi"), col("m").as("lo")),
          struct(col("hi"), col("m").as("lo")))).as("e"))
        .select(col("e.hi").as("hi"), col("e.lo").as("lo"))
        .filter(col("hi") =!= col("lo"))
        // the repartition IS the dedup exchange: hashpartitioning(hi, lo)
        // satisfies the distinct aggregate's distribution, so no second
        // exchange is planned, and the checkpointed round output lands in
        // nParts right-sized blocks
        .repartition(nParts, col("hi"), col("lo"))
        .distinct()
    }

    var iter = 0
    var converged = prev._1 == 0L
    while (!converged && iter < maxIter) {
      val (e2, s) = ckSig(round(e))
      e = e2
      converged = s == prev
      prev = s
      iter += 1
    }
    if (!converged)
      System.err.println(s"[graft.cc] NOT converged after $maxIter rounds " +
        "— labels may be partial (raise maxIter); run() without " +
        "allowPartial throws on this")

    // converged state is a forest of stars (hi -> component min): every
    // non-min vertex appears exactly once as hi. The min-aggregate is a
    // no-op then, but guarantees ONE label per vertex even on maxIter
    // exhaustion or a (2^-64) signature collision — a fan-out here would
    // silently duplicate rows in every downstream cluster expansion.
    val labels = vertices
      .join(e.select(col("hi").as("file_id"), col("lo"))
          .groupBy("file_id").agg(min(col("lo")).as("__c")),
        Seq("file_id"), "left")
      .select(col("file_id"),
        coalesce(col("__c"), col("file_id")).as("cluster_id"))
    CcResult(labels, iter, converged, e)
  }
}
