package graft.near

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.cluster.ConnectedComponents
import graft.exact.{DedupConfig, ExactDedup}
import graft.functions.NearDupFunctions
import graft.skew.Salting
import graft.util.{Blocks, PersistScope}

/** Near-dup tier configuration — the north_rule config: 5-gram shingles,
  * 128-perm MinHash, LSH b=16 bands × r=8 rows, SimHash (60 effective bits,
  * 4 × 15-bit Hamming chunks, distance ≤ 3), Jaccard verification ≥ 0.7.
  */
final case class NearConfig(
    shingleK: Int = 5,
    numPerms: Int = 128,
    bands: Int = 16,
    rowsPerBand: Int = 8,
    simBits: Int = 60,
    simChunks: Int = 4,
    hammingMax: Int = 3,
    jaccardThreshold: Double = 0.7,
    /** Band/chunk buckets larger than this are dropped — LOGGED, never
      * silent (0 = unlimited). A bucket holding a large corpus fraction
      * (boilerplate family, corpus-wide-constant SimHash chunk — the sf0.1
      * data really has one with 75% of all reps) is an LSH stop-word: its
      * pair set is quadratic and carries no discriminative signal. ON by
      * default per the north rule; members keep recall through their other
      * bands/chunks. */
    maxBucket: Int = 4096,
    /** The skew report's threshold: kept buckets above this size are
      * counted, with the largest kept bucket, in the `[graft.skew]` line and
      * its observation ([[graft.skew.Salting]]). It routes nothing: every
      * kept bucket runs the same in-place pair kernel (0 = no report). */
    hotBucket: Int = 512) {
  require(bands * rowsPerBand == numPerms, "bands × rowsPerBand must equal numPerms")
  require(simChunks * (simBits / simChunks) == simBits)
  require(numPerms % 32 == 0, "2-bit sketch packs 32 signature values per long")

  /** The frozen oracle's byte-sketch cutoff (`OracleNear` compares the low
    * BYTE of each signature value): a pair at exactly `jaccardThreshold`
    * has byte agreement ~ Binomial(numPerms, j); cutting 5σ below the mean
    * keeps true pairs with probability 1 - ~3e-7 (byte collisions only ADD
    * agreement). At j=0.7, p=128: 89.6 - 5·5.2 → 63. The engine prefilters
    * with the 2-bit sketch and [[bitSketchMin]] instead. */
  def sketchMin: Int = cutoff(jaccardThreshold)

  /** Recall-safe cutoff of the engine's 2-bit sketch prefilter
    * ([[graft.functions.SketchBytes]]): two different MinHash values agree
    * in their low 2 bits with probability ~1/4, so a pair at exactly
    * `jaccardThreshold` agrees in ~ Binomial(numPerms, j + (1 − j)/4)
    * fields; the cutoff is 5σ below that mean. At j=0.7, p=128:
    * 99.2 - 5·4.7 → 75. */
  def bitSketchMin: Int = {
    val j = jaccardThreshold
    cutoff(j + (1 - j) / 4)
  }

  /** 5σ below the mean of Binomial(numPerms, p), floored at 0. */
  private def cutoff(p: Double): Int =
    math.max(0, (numPerms * p - 5 * math.sqrt(numPerms * p * (1 - p))).floor.toInt)
}

/** The mandated near-duplicate tier (BASELINE.json north_rule): shingling →
  * MinHash-LSH + SimHash candidate generation → Jaccard/LCS verification.
  * No reference analogue (dupd is exact-only); SURVEY.md §2.4/§2.10 maps the
  * design: all similarity joins are equi-joins after key expansion.
  *
  * Scale shape: signatures are computed per-row map-side (one custom
  * codegen'd expression, no shuffle); only (file_id, band keys) — ~16 short
  * rows per file — enter the LSH shuffle. Candidate pairs are verified with
  * bounded per-row work (shingle sets of the two members), never by
  * all-pairs comparison.
  */
object NearDup {

  /** 5-gram shingle keys as a distinct array<long> per row: each shingle
    * packs its 5 codepoints big-endian (base 256) and reduces mod P —
    * value-identical to the oracle's SQL formula. A one-pass codegen'd
    * expression ([[graft.functions.ShingleKeys]]); the equivalent built-in
    * HOF form (array_distinct(transform(sequence(...), ascii(substr(...)))))
    * is O(n²) per row because substr re-scans the string per position. */
  def shingleKeys(content: String, k: Int = 5): Column = {
    require(k == 5, "shingle packing is specialized to k=5")
    NearDupFunctions.shingleKeys(col(content))
  }

  /** Near-dup input: one representative per exact-duplicate set (the exact
    * tier already resolved identical content — re-shingling every member of
    * a million-copy vendored file would be pure waste at scale), restricted
    * to rows long enough to shingle.
    *
    * Staged like the exact cascade (size prune before any content touch,
    * /root/reference/src/sizetree.c:173-190): a row whose size is UNIQUE in
    * the scan cannot have an exact duplicate, so it is its own
    * representative with no content hash computed — only rows in multi-
    * member size buckets get sha256'd. At corpus scale the unique-size
    * fraction is hashed-for-free; only (size, hash, file_id) is shuffled to
    * pick representatives, content stays put until the rep join. */
  def representatives(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    repSelection(shingleable(files, cfg), identity)._3

  /** The scannable rows long enough to shingle. */
  private[graft] def shingleable(files: DataFrame, cfg: NearConfig): DataFrame =
    ExactDedup.scanFilter(files, DedupConfig()).filter(col("size") >= cfg.shingleK)

  /** Rep selection, written once for [[representatives]] and the member
    * expansion of [[allFileClusters]]. Returns the (file_id, size, hash)
    * frame, each (size, hash) group's `rep_id` = min(file_id), and the
    * representative rows of `scanned`; the first and last pass through
    * `hold`, so member expansion can materialize them.
    *
    * Conditional hash, NOT row routing: `ExactDedup.sizeGuardedHash` guards
    * sha256 behind `when(n >= 2)`, with the empty string as the unique-size
    * sentinel group key (one row per unique size, so (size, '') is its own
    * group). Both join right sides are aggregates, so they broadcast; an
    * earlier semi/anti/union routing formulation inherited the anti-join's
    * full-scan size estimate, turned the rep semi-join into a
    * content-bearing sort-merge shuffle, and regressed every reps consumer
    * 3-15× (bench A/B, round 4). */
  private def repSelection(scanned: DataFrame, hold: DataFrame => DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val narrow = hold(ExactDedup.sizeGuardedHash(scanned, "hash", sha2(col("content"), 256))
      .select("file_id", "size", "hash"))
    val repOf = narrow.groupBy("size", "hash").agg(min("file_id").as("rep_id"))
    // INNER join, not left-semi: rep ids are unique (each row belongs to
    // exactly one (size, hash) group, so the per-group min ids are
    // distinct) and contribute no columns, making inner ≡ semi — but
    // Catalyst pushes a LEFT-SEMI through the corpus Union
    // (PushdownLeftSemiAntiJoin), duplicating the whole rep-id build (two
    // more corpus unions + the conditional sha256 + both aggregates) into
    // EVERY union branch: 11 corpus instances / 55 scans in the plan, and
    // a measured 4x on q_reps that every reps consumer inherited. Inner
    // joins are not distributed over unions; this plan builds rep ids once.
    (narrow, repOf,
      hold(scanned.join(repOf.select(col("rep_id").as("file_id")), Seq("file_id"))))
  }

  /** Representatives with their shingle key arrays, computed map-side (the
    * MinHash signature comes from the fused [[signalFrame]]). */
  def signatures(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    signaturesOf(representatives(files, cfg), cfg)

  def signaturesOf(reps: DataFrame, cfg: NearConfig): DataFrame =
    reps
      .withColumn("shingles", shingleKeys("content", cfg.shingleK))
      .filter(size(col("shingles")) > 0)

  /** LSH banding: signature → (band_idx, band_key) rows; band_key is the
    * comma-joined r signature values (collision-free, no overflow games).
    * Built on the one signal pass, [[signalFrame]], whose MinHash is fused
    * straight from content (value-identical to the shingle-array
    * formulation, NearDupSpec): column pruning drops its SimHash and
    * sketch, so the optimized plan computes only the MinHash. Band
    * consumers never need the shingle arrays, so materializing them per row
    * was pure allocation (q_skew_pairs pays this on a 1000-member planted
    * family). signatures() remains the shingle-bearing entry (q_shingle_count). */
  def bands(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    bandsOf(signalFrame(representatives(files, cfg), cfg), cfg)

  /** Banding from a precomputed signatures frame (lets composite pipelines
    * persist `signatures` once instead of re-deriving it per stage). */
  def bandsOf(sigs: DataFrame, cfg: NearConfig): DataFrame = {
    val r = cfg.rowsPerBand
    sigs
      .select(col("file_id"), posexplode(expr(
        s"""transform(sequence(0, ${cfg.bands - 1}), b ->
           |  array_join(transform(slice(sig, b * $r + 1, $r),
           |             v -> cast(v as string)), ','))""".stripMargin)))
      .select(col("file_id"), col("pos").cast("long").as("band_idx"), col("col").as("band_key"))
  }

  /** LSH candidate pairs: every member pair (a < b) of each
    * (band_idx, band_key) bucket, from the in-bucket pair kernel
    * ([[graft.skew.Salting.bucketPairs]]), deduped across bands.
    * `maxBucket` caps pathological buckets. Standalone entry: materializes
    * its result eagerly. */
  def lshPairs(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    PersistScope.scoped(_ =>
      Salting.bucketPairs(bands(files, cfg), Seq("band_idx", "band_key"),
        "file_id", cfg.maxBucket, cfg.hotBucket).distinct())

  /** SimHash per representative (custom codegen'd expression, map-side). */
  def simhashes(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    representatives(files, cfg).select(col("file_id"),
      NearDupFunctions.simhash(col("content"), cfg.simBits).as("simhash"))

  /** SimHash candidate pairs by the pigeonhole trick: split the hash into
    * `simChunks` chunks; Hamming distance ≤ hammingMax (< simChunks) implies
    * at least one chunk matches exactly. Each (chunk_idx, chunk) bucket runs
    * the in-bucket pair kernel with the exact Hamming filter, so only
    * Hamming-close pairs leave the bucket; deduped across chunks. */
  def simhashPairs(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    PersistScope.scoped { _ =>
      val w = cfg.simBits / cfg.simChunks
      val chunked = simhashes(files, cfg)
        .select(col("file_id"), col("simhash"), posexplode(expr(s"transform(sequence(0, " +
          s"${cfg.simChunks - 1}), c -> shiftright(simhash, c * $w) & ${(1L << w) - 1})")))
        .select(col("file_id"), col("simhash"), col("pos").as("chunk_idx"), col("col").as("chunk"))
      Salting.bucketPairs(chunked, Seq("chunk_idx", "chunk"), "file_id",
        cfg.maxBucket, cfg.hotBucket, hamming = Some("simhash" -> lit(cfg.hammingMax)))
        .distinct()
    }

  /** Candidate union (LSH ∪ SimHash) with exact shingle-Jaccard verification.
    * Verification is two bounded-size equi-joins (shingle arrays of each
    * member), never an all-pairs pass. Output: (a, b, jaccard).
    *
    * The reps/signatures frames are materialized for the duration of the
    * query: they feed four consumers (bands, SimHash, and both sides of the
    * shingle join) and Catalyst does not share non-exchange subplans across
    * joins — without them the corpus is re-scanned and re-shingled 4×. */
  def verifiedPairs(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    PersistScope.scoped(s =>
      verifiedPairsOf(s.persist(representatives(files, cfg)), cfg, s))

  /** ONE content pass computing every per-row signal the candidate tier
    * needs — MinHash signature, SimHash, 32 B 2-bit sketch (+ size for the
    * checkpoint metrics). THE wall-clock-dominant map pass at corpus scale,
    * which is why it is also the near tier's checkpoint unit
    * ([[graft.state.Checkpoints.checkpointedNearSignatures]]). */
  def signalFrame(reps: DataFrame, cfg: NearConfig): DataFrame =
    reps.filter(length(col("content")) >= cfg.shingleK)
      .select(col("file_id"), col("size"),
        NearDupFunctions.minhashContent(col("content"), cfg.numPerms).as("sig"),
        NearDupFunctions.simhash(col("content"), cfg.simBits).as("simhash"))
      .withColumn("sk", NearDupFunctions.sketchBytes(col("sig")))

  /** Verified pairs from a precomputed (and caller-materialized) reps
    * frame — lets composite queries (clusters, allFileClusters) share one
    * reps scan instead of re-deriving the whole upstream per stage.
    * Intermediates materialize through `scope`; the composite entry
    * releases them after its result is checkpointed. */
  def verifiedPairsOf(reps: DataFrame, cfg: NearConfig, scope: PersistScope): DataFrame =
    verifiedPairsFromSigs(scope.persist(signalFrame(reps, cfg)), reps, cfg, scope)

  /** Stage 1 — LSH band + SimHash pigeonhole candidates from ONE pass of
    * the in-bucket pair kernel ([[graft.skew.Salting.bucketPairs]]). Both
    * recall nets are "equi-join within buckets"; each file contributes one
    * row per band (bidx 0..bands-1) and per SimHash chunk
    * (bidx bands..bands+simChunks-1), so the bucket keys are disjoint by
    * construction and one grouping yields the union of the two nets' pair
    * multisets. A bucket row is (file_id, sk, simhash, bidx, k): a band's
    * key `k` is `xxhash64` of its `rowsPerBand` signature values, a chunk's
    * is the chunk value. A band-key collision can only merge buckets, so it
    * adds candidates and never drops one; the filters below and the exact
    * verify judge them. Per-net filters stay pair-local inside the kernel:
    * chunk buckets take the exact Hamming bound, band buckets skip it, and
    * both take the 2-bit sketch prefilter (cutoff ≥5σ recall-safe,
    * [[NearConfig.bitSketchMin]]). The raw pairs never become rows
    * (realistic boilerplate at sf0.1: 555k raw candidates → ~2.3k
    * plausible). The plan is one exchange for the bucket rows and the
    * caller's pair `distinct`; `scope` is unused, as nothing in it is
    * materialized. */
  private[graft] def allCandidates(sigs: DataFrame, cfg: NearConfig,
                                   scope: PersistScope): DataFrame = {
    val (r, w) = (cfg.rowsPerBand, cfg.simBits / cfg.simChunks)
    val keys = s"concat(transform(sequence(0, ${cfg.bands - 1}), " +
      s"b -> xxhash64(slice(sig, b * $r + 1, $r))), " +
      s"transform(sequence(0, ${cfg.simChunks - 1}), " +
      s"c -> shiftright(simhash, c * $w) & ${(1L << w) - 1}))"
    val rows = sigs
      .select(col("file_id"), col("sk"), col("simhash"), posexplode(expr(keys)))
      .select(col("file_id"), col("sk"), col("simhash"), col("pos").as("bidx"), col("col").as("k"))
    Salting.bucketPairs(rows, Seq("bidx", "k"), "file_id", cfg.maxBucket, cfg.hotBucket,
      hamming = Some("simhash" -> when(col("bidx") >= cfg.bands, cfg.hammingMax).otherwise(-1)),
      sketch = Some("sk" -> cfg.bitSketchMin))
  }

  /** Stage 2a — shingle arrays for members of plausible pairs ONLY (a tiny
    * subset at scale; semi-join first, never a full content re-read).
    * Output `shingles` is ASCENDING and distinct (sorted once per candidate
    * file, a primitive sort), the layout [[verifyCandidates]] requires;
    * [[shingleKeys]] itself keeps first-occurrence order. */
  private[graft] def candidateShingles(reps: DataFrame, plausible: DataFrame,
                                       cfg: NearConfig): DataFrame = {
    // no .distinct() on the id set: LEFT-SEMI join semantics dedup the
    // build side for free, so the exchange+aggregate the distinct planned
    // was pure overhead (reps is a materialized leaf here, so the semi is
    // not pushed through any Union)
    val candIds = plausible.select(col("a").as("file_id"))
      .union(plausible.select(col("b").as("file_id")))
    reps.join(candIds, Seq("file_id"), "left_semi")
      .select(col("file_id"), sort_array(shingleKeys("content", cfg.shingleK)).as("shingles"))
  }

  /** Stage 2b — exact shingle-Jaccard verification of plausible pairs.
    * `sh.shingles` must be ASCENDING and distinct, as [[candidateShingles]]
    * emits them: the intersection is one merge pass per pair
    * ([[graft.functions.SortedIntersectSize]]), and unsorted arrays give
    * wrong counts, not an error. */
  private[graft] def verifyCandidates(plausible: DataFrame, sh: DataFrame,
                                      cfg: NearConfig): DataFrame =
    plausible
      .join(sh.select(col("file_id").as("a"), col("shingles").as("sh_a")), Seq("a"))
      .join(sh.select(col("file_id").as("b"), col("shingles").as("sh_b")), Seq("b"))
      .withColumn("n_inter",
        NearDupFunctions.sortedIntersectSize(col("sh_a"), col("sh_b")).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= cfg.jaccardThreshold)
      .select("a", "b", "jaccard")

  /** Stage 1+2 from a precomputed (possibly checkpoint-restored) signal
    * frame; `reps` supplies content only for the plausible candidates'
    * exact verification (semi-joined — never a full re-read). Composed
    * entirely from the staged helpers above. */
  def verifiedPairsFromSigs(sigs: DataFrame, reps: DataFrame, cfg: NearConfig,
                            scope: PersistScope): DataFrame = {
    val plausible = scope.persist(allCandidates(sigs, cfg, scope).distinct())
    val sh = scope.persist(candidateShingles(reps, plausible, cfg))
    verifyCandidates(plausible, sh, cfg)
  }

  /** Near-dup clusters over representatives: connected components of the
    * verified-pair graph; singleton reps cluster with themselves. Output:
    * (file_id, cluster_id). */
  def clusters(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    PersistScope.scoped(s =>
      clustersOf(s.persist(representatives(files, cfg)), cfg, s))

  /** Clusters from a precomputed (caller-persisted) reps frame: reps feed
    * both the vertex set and the whole pair pipeline — one scan, not two.
    * The pair pipeline runs under its own scope, so only the edge set — the
    * tier's smallest relation — stays resident through the CC loop; its
    * blocks are freed once CC has canonicalized it. CC's final star forest,
    * which the returned labels read, is handed to `scope`. */
  def clustersOf(reps: DataFrame, cfg: NearConfig, scope: PersistScope): DataFrame = {
    val edges = PersistScope.scoped(s =>
      verifiedPairsOf(reps, cfg, s).select("a", "b"))
    val labels = ConnectedComponents.run(reps.select("file_id"), edges, scope)
    Blocks.free(edges)
    labels
  }

  /** Expand rep-level clusters back to every file: exact-dup members inherit
    * their representative's near-dup cluster. Output (file_id, cluster_id)
    * for every scannable file. The whole query derives from ONE persisted
    * narrow scan — reps, the pair pipeline, and the member-expansion join
    * all share it (a second cascade re-run doubled this query's cost). */
  def allFileClusters(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    PersistScope.scoped { s =>
      // the scan's only consumers (narrow, reps) materialize eagerly, so
      // its blocks are freed as soon as both exist
      val (narrow, repOf, reps) = PersistScope.using(scan =>
        repSelection(scan.persist(shingleable(files, cfg)), s.persist))
      val repClusters = clustersOf(reps, cfg, s)
        .select(col("file_id").as("rep_id"), col("cluster_id"))
      narrow.join(repOf, Seq("size", "hash"))
        .join(repClusters, Seq("rep_id"))
        .select("file_id", "cluster_id")
    }
}
