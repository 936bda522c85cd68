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
    /** Buckets above this (but under the cap) generate pairs through the
      * salted two-phase join ([[graft.skew.Salting]]) so one hot bucket's
      * quadratic work spreads across `salts` tasks. */
    hotBucket: Int = 512,
    salts: Int = 16) {
  require(bands * rowsPerBand == numPerms, "bands × rowsPerBand must equal numPerms")
  require(simChunks * (simBits / simChunks) == simBits)
  require(numPerms % 8 == 0, "byte sketch packs 8 signature bytes per long")

  /** Recall-safe byte-sketch cutoff for candidate prefiltering: a pair at
    * exactly `jaccardThreshold` has agree ~ Binomial(numPerms, j); cutting
    * 5σ below the mean keeps true pairs with probability 1 - ~3e-7 (byte
    * collisions only ADD agreement). At j=0.7, p=128: 89.6 - 5·5.2 → 63. */
  def sketchMin: Int = {
    val j = jaccardThreshold
    math.max(0, (numPerms * j - 5 * math.sqrt(numPerms * j * (1 - j))).floor.toInt)
  }
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

  /** Representatives with shingles + MinHash signature, computed map-side. */
  def signatures(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    signaturesOf(representatives(files, cfg), cfg)

  def signaturesOf(reps: DataFrame, cfg: NearConfig): DataFrame =
    reps
      .withColumn("shingles", shingleKeys("content", cfg.shingleK))
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", NearDupFunctions.minhashSignature(col("shingles"), cfg.numPerms))

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
    * persist `signatures` once instead of re-deriving it per stage).
    * `carryCols` rides extra per-file columns into every band row (the
    * fused verification path carries the 136 B byte sketch this way). */
  def bandsOf(sigs: DataFrame, cfg: NearConfig,
              carryCols: Seq[String] = Nil): DataFrame = {
    val r = cfg.rowsPerBand
    sigs
      .select(col("file_id") +: carryCols.map(col) :+
        posexplode(expr(
          s"""transform(sequence(0, ${cfg.bands - 1}), b ->
             |  array_join(transform(slice(sig, b * $r + 1, $r),
             |             v -> cast(v as string)), ','))""".stripMargin)): _*)
      .select(col("file_id") +: carryCols.map(col) :+
        col("pos").cast("long").as("band_idx") :+
        col("col").as("band_key"): _*)
  }

  /** LSH candidate pairs: equi-join within (band_idx, band_key) buckets,
    * a < b, deduped across bands. `maxBucket` caps pathological buckets.
    * Standalone entry: materializes eagerly, then releases its intermediates. */
  def lshPairs(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    PersistScope.scoped { s =>
      // persist: the bands frame feeds three consumers (bucket-size agg and
      // both sides of the self-join) — without it the whole upstream
      // (reps → signatures) re-executes per consumer
      Salting.bucketPairs(s.persist(bands(files, cfg)), Seq("band_idx", "band_key"),
        "file_id", Nil, cfg.maxBucket, cfg.hotBucket, cfg.salts, s)
        .distinct()
    }

  /** SimHash per representative (custom codegen'd expression, map-side). */
  def simhashes(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    representatives(files, cfg).select(col("file_id"),
      NearDupFunctions.simhash(col("content"), cfg.simBits).as("simhash"))

  /** The pigeonhole split of a frame's `simhash` column: one row per chunk,
    * `pos` = chunk index, `col` = that chunk's `simBits / simChunks` bits. */
  private def simhashChunks(cfg: NearConfig): Column = {
    val w = cfg.simBits / cfg.simChunks
    val mask = (1L << w) - 1
    posexplode(expr(
      s"transform(sequence(0, ${cfg.simChunks - 1}), c -> shiftright(simhash, c * $w) & $mask)"))
  }

  /** SimHash candidate pairs by the pigeonhole trick: split the hash into
    * `simChunks` chunks; Hamming distance ≤ hammingMax (< simChunks) implies
    * at least one chunk matches exactly → equi-join per chunk, then the
    * exact Hamming filter. */
  def simhashPairs(files: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    PersistScope.scoped { s =>
      val chunked = s.persist(simhashes(files, cfg)
        .select(col("file_id"), col("simhash"), simhashChunks(cfg))
        .select(col("file_id"), col("simhash"), col("pos").as("chunk_idx"), col("col").as("chunk")))
      // Hamming filter BEFORE the dedup: it is row-local and deterministic on
      // the (simhash_a, simhash_b) payload riding each pair, so filter-then-
      // distinct is result-identical to distinct-then-filter — and it cuts
      // the distinct's shuffle input from every chunk-collision pair (~10×
      // the survivors on the sf0.1 corpus) to the Hamming-close set.
      Salting.bucketPairs(chunked, Seq("chunk_idx", "chunk"), "file_id",
        Seq("simhash"), cfg.maxBucket, cfg.hotBucket, cfg.salts, s)
        .filter(expr(s"bit_count(simhash_a ^ simhash_b) <= ${cfg.hammingMax}"))
        .select("a", "b")
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
    * needs — MinHash signature, SimHash, 136 B byte sketch (+ size for the
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

  /** Stage 1 — LSH band + SimHash pigeonhole candidates from ONE fused
    * bucket join. Both recall nets are "equi-join within buckets"; their
    * bucket keys are disjoint by construction (band rows use idx 0..bands-1,
    * chunk rows bands..bands+simChunks-1), so unioning the bucket rows and
    * running a single [[graft.skew.Salting.bucketPairs]] yields exactly the
    * union of the two joins' pair multisets — at HALF the join machinery
    * (one bucket-size aggregate, one cold join, one salted hot join instead
    * of two of each; the round-6 per-stage isolation bench attributed the
    * candidate tier's cost to exactly this fixed machinery, not the pair
    * volume). Per-net verification stays pair-local via the carried `knd`
    * payload: chunk-bucket pairs take the exact Hamming filter, band-bucket
    * pairs skip it; the byte-sketch prefilter applies to both — all
    * evaluated inside the join projection (realistic boilerplate at sf0.1:
    * 555k raw candidates → ~2.3k plausible, never materialized). */
  private[graft] def allCandidates(sigs: DataFrame, cfg: NearConfig,
                                   scope: PersistScope): DataFrame = {
    val bandRows = bandsOf(sigs, cfg, carryCols = Seq("sk", "simhash"))
      .select(col("file_id"), col("band_idx").as("bidx"),
        col("band_key").as("bkey"), col("sk"), col("simhash"),
        lit(0).as("knd"))
    val chunkRows = sigs
      .select(col("file_id"), col("simhash"), col("sk"), simhashChunks(cfg))
      .select(col("file_id"), (col("pos").cast("long") + cfg.bands).as("bidx"),
        col("col").cast("string").as("bkey"), col("sk"), col("simhash"),
        lit(1).as("knd"))
    Salting.bucketPairs(
      scope.persist(bandRows.unionAll(chunkRows)),
      Seq("bidx", "bkey"), "file_id", Seq("sk", "simhash", "knd"),
      cfg.maxBucket, cfg.hotBucket, cfg.salts, scope)
      .filter(col("knd_a") === 0 ||
        expr(s"bit_count(simhash_a ^ simhash_b) <= ${cfg.hammingMax}"))
      // the byte-sketch prefilter is pair-deterministic, so filtering before
      // the union-distinct is result-identical to filtering after; cutoff
      // ≥5σ recall-safe (NearConfig.sketchMin)
      .filter(NearDupFunctions.sketchAgree(col("sk_a"), col("sk_b")) >= cfg.sketchMin)
      .select("a", "b")
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
