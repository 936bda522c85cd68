package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.PersistScope

/** Connected components over DataFrame joins by the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14) — the clustering step of the near-dup
  * tier (north_rule; no GraphX/RDD per input_hint).
  *
  * Each operation rewrites the edge set with two shuffles (a per-node min
  * aggregation + an equi-join back):
  *
  *   - large-star: every node connects its strictly-larger neighbors to the
  *     minimum of its closed neighborhood — long paths halve;
  *   - small-star: every node connects its smaller-or-equal neighbors (and
  *     itself) to that minimum — local stars flatten.
  *
  * The alternation converges in O(log² n) rounds to a forest of stars, each
  * centered at its component's MINIMUM node id — so cluster_id = min
  * reachable id, identical to label propagation's fixpoint. Unlike the
  * hash-min label propagation this replaced (O(component diameter) rounds —
  * a planted 600-node chain needs 600 rounds, and a round cap silently
  * returns wrong labels), star rounds are logarithmic in the worst case:
  * the 600-chain converges in 11 rounds (ConnectedComponentsSpec).
  *
  * Convergence is detected on the canonical edge set's (count, xor-of-hash)
  * signature — one tiny aggregate over the just-checkpointed frame, no
  * recomputation. `localCheckpoint` truncates plan lineage each round;
  * without it the iterated join tree grows exponentially and Catalyst
  * analysis dominates.
  */
object ConnectedComponents {

  /** Result of a CC run: `converged = false` means the labels are possibly
    * PARTIAL (maxIter exhausted, or a 2^-64 signature collision ended the
    * loop early) — callers must check it before trusting cluster_id.
    * `forest` is the final round's checkpointed edge frame, which `labels`
    * reads: free it once `labels` has materialized. */
  final case class CcResult(labels: DataFrame, rounds: Int, converged: Boolean,
                            forest: DataFrame)

  /** @param vertices one column `file_id`
    * @param edges    two columns `a`, `b` (undirected, any orientation)
    * @param scope    takes over the final round's edge frame, which the
    *                 returned labels read
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

  /** [[run]], also returning the (large-star, small-star) round count and
    * the convergence flag — the adversarial-fixture spec asserts the
    * logarithmic round count; library callers go through [[run]], which
    * refuses non-converged labels unless explicitly allowed. */
  def runWithStats(vertices: DataFrame, edges: DataFrame,
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
