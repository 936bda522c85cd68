package graft.exact

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.util.PersistScope

/** Configuration of the exact-dedup cascade, mirroring the reference's knobs:
  *   - `minSize`   — minimum content size scanned; default 1 so empty files
  *                   are ignored (/root/reference/src/main.c:66,350-351,
  *                   docs/design.md:68-76)
  *   - `prefixLen` — first-K-chars partial-hash budget, the analogue of
  *                   `--firstblocksize × --firstblocks` = 512 KiB
  *                   (/root/reference/src/main.c:67-68,408-412); sized for
  *                   document-scale content here, configurable for file-scale
  *   - `includeHidden` — the `--hidden` flag (/root/reference/src/scan.c:246-249)
  *   - `hashAlg` — digest selection, the reference's `--hash`
  *     (/root/reference/src/options.conf:90, src/main.c:357-370; digest
  *     widths src/hash.c:258-278): "sha256" (default invariant per
  *     input_hint), "md5", "sha1", "sha512", or "xxh64" (Spark's xxhash64 —
  *     NOT byte-compatible with the reference's seed-1 xxHash, same role)
  *   - `repos` — scan roots: the reference's multiple `--path` roots
  *     (/root/reference/src/scan.c:440-452, max 10) and the one-file-system
  *     filter F5 (/root/reference/src/scan.c:327-333: never cross a device
  *     boundary); in the table model a repo IS the device/root, so
  *     restricting the scan to named repos is both operators. Empty = all.
  */
final case class DedupConfig(
    minSize: Long = 1L,
    prefixLen: Int = 64,
    includeHidden: Boolean = false,
    hashAlg: String = "sha256",
    repos: Seq[String] = Nil)

/** dupd's exact-duplicate detection as a staged, Spark-native cascade.
  *
  * The reference is a 3-stage cascaded group-by with early pruning — group by
  * an ever-more-expensive key, drop singleton groups at each stage
  * (SURVEY.md §2.3; size tree /root/reference/src/sizetree.c:163-208, round-1
  * partial hash /root/reference/src/hashers.c:181-257, full hash + publish
  * /root/reference/src/hashlist.c:342-427). Here each stage is a hash
  * aggregate on a cheap key followed by a semi-join of the survivors:
  *
  *   stage 1  groupBy(size)          — touches ONLY the size column (Parquet
  *            column pruning: unique-size files never have content read, the
  *            exact analogue of "files of unique size are never opened")
  *   stage 2  groupBy(size, prefix_hash) on stage-1 survivors
  *   stage 3  groupBy(size, full_hash) → duplicate sets (count ≥ 2)
  *
  * Scale design (100 TB / 10^12 rows):
  *   - `content` is NEVER shuffled: hashes are computed map-side and only
  *     (size, hash, identity) columns cross stage boundaries.
  *   - stage results are (key, count) aggregates — orders of magnitude
  *     smaller than the input — joined back broadcast-when-small (AQE decides;
  *     partial/map-side aggregation bounds the shuffle to distinct keys).
  *   - the flat per-member output (`duplicates`) avoids collect_list hot keys
  *     for million-member vendored-file sets; the set-level view
  *     (`duplicateSets`) is derived from it for report-scale data.
  *
  * Query entry points come in two kinds. Those taking `files` read a live
  * scan themselves: `uniques`, `dups`, `fileStatusesAll`, `fileLookup`,
  * `fileStatuses`. Those taking a flat duplicates relation `dups` read it
  * as given — a stored scan db, a checkpointed scan, or [[duplicates]]:
  * `dupsIn`, `lsIn`, `withExcludeStatus`, `fileStatusesIn`, `refresh`. Both
  * kinds share one `--exclude-path` rule (`withLiveCounts`,
  * `hasLivePartner`) and one `file` status rule (`memberStatus`), written
  * once: `fileStatuses` applies it over a join, `fileStatusesIn` over a
  * local relation.
  * The listings have one live form, [[fileStatusesAll]] (one window pass),
  * and one stored form, [[lsIn]]; the CLI's `ls`/`uniques`/`dups` filter
  * one of them on its status. `duplicates` and `hashedSurvivors` own the
  * narrow relation in their own [[PersistScope]].
  */
object ExactDedup {

  /** F1 — hidden-file filter: any path segment starting with '.'
    * (/root/reference/src/scan.c:246-249, docs/design.md:53-64). */
  def notHidden(path: Column): Column =
    !(path.startsWith(".") || path.contains("/."))

  /** F1 + F2 + F5/S1-roots applied up front; Catalyst pushes all three into
    * the scan (repo is the partition column at Iceberg scale — the isin
    * prunes partitions, the exact analogue of never crossing st_dev). */
  def scanFilter(files: DataFrame, cfg: DedupConfig): DataFrame = {
    val f0 = if (cfg.repos.isEmpty) files
             else files.filter(col("repo").isin(cfg.repos: _*))
    val f = f0.filter(col("size") >= cfg.minSize)
    if (cfg.includeHidden) f else f.filter(notHidden(col("path")))
  }

  /** Groups of `df` on `keys` with ≥ 2 rows, their row count as `n` — the
    * prune every cascade stage (and `refresh`) applies to its own key. */
  private def multiGroups(df: DataFrame, n: String, keys: String*): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(n)).filter(col(n) >= 2)

  /** Stage 1 (A1/A2): sizes with ≥ 2 candidates. Aggregates on the size
    * column alone — at 10^12 rows this is a long-only shuffle of distinct
    * sizes (~10^6), and files of unique size never get content read. */
  def candidateSizes(files: DataFrame, cfg: DedupConfig): DataFrame =
    multiGroups(scanFilter(files, cfg), "n_files", "size")

  /** Stage-1 survivors: joined against the (small) candidate-size set.
    * INNER, not left-semi: the size set is an aggregate (unique on size)
    * contributing no columns, so inner ≡ semi — and Catalyst pushes a
    * left-semi through the corpus Union (PushdownLeftSemiAntiJoin),
    * duplicating the aggregate's build into every union branch (the same
    * 5x plan blowup representatives had, NearDup.scala:97-112). */
  def sizeSurvivors(files: DataFrame, cfg: DedupConfig): DataFrame =
    scanFilter(files, cfg)
      .join(candidateSizes(files, cfg).select("size"), Seq("size"))

  /** C1–C4: digest of a content column under the configured algorithm. */
  def digest(c: Column, cfg: DedupConfig): Column = cfg.hashAlg match {
    case "sha256" => sha2(c, 256)
    case "sha512" => sha2(c, 512)
    case "md5"    => md5(c)
    case "sha1"   => sha1(c)
    case "xxh64"  => xxhash64(c).cast("string")
    case other    => throw new IllegalArgumentException(s"unknown hashAlg $other")
  }

  private def prefixHash(cfg: DedupConfig): Column =
    digest(substring(col("content"), 1, cfg.prefixLen), cfg)

  /** The narrow fact relation: ONE content pass over stage-1 survivors
    * computing both hashes, content projected away immediately —
    * (file_id, repo, path, commit, size, prefix_hash, hash) is ~0.1% of the
    * input width, so materializing it is cheap even at 10^12 rows (dupd's
    * hash cache db plays this role, /root/reference/src/dbops.c:84-96).
    *
    * A lazy projection, owned by the entry that consumes it. The cascade's
    * stages each aggregate over and join back to it, so [[survivors]]
    * persists it as a leaf of its caller's [[PersistScope]] (without one,
    * Catalyst copies the upstream subtree per consumer: 45 parquet scans in
    * one plan). [[partialHashGroups]] reads it once and needs no leaf. */
  def hashedNarrow(files: DataFrame, cfg: DedupConfig): DataFrame =
    sizeSurvivors(files, cfg)
      .select(col("file_id"), col("repo"), col("path"), col("commit"),
        col("size"), prefixHash(cfg).as("prefix_hash"),
        digest(col("content"), cfg).as("hash"))

  /** Stage 2 (A3): (size, partial-hash) groups with ≥ 2 members among
    * stage-1 survivors — the first-K-bytes prune. */
  def partialHashGroups(files: DataFrame, cfg: DedupConfig): DataFrame =
    prefixGroups(hashedNarrow(files, cfg))

  private def prefixGroups(narrow: DataFrame): DataFrame =
    multiGroups(narrow, "n_files", "size", "prefix_hash")

  /** Stage 2 survivors over the narrow relation persisted in `scope`; the
    * caller materializes the result before releasing `scope`. */
  private def survivors(files: DataFrame, cfg: DedupConfig, scope: PersistScope): DataFrame = {
    val narrow = scope.persist(hashedNarrow(files, cfg))
    narrow.join(prefixGroups(narrow).select("size", "prefix_hash"),
      Seq("size", "prefix_hash"), "left_semi")
  }

  /** Stage 2 survivors — (identity, size, hashes); content never enters a
    * shuffle anywhere in the cascade. */
  def hashedSurvivors(files: DataFrame, cfg: DedupConfig): DataFrame =
    PersistScope.scoped(survivors(files, cfg, _))

  /** The flat duplicates layout that [[setMembers]] writes and a stored db
    * holds; a stored db read with it runs no schema-inference job. */
  val DuplicatesSchema: StructType = StructType.fromDDL("file_id BIGINT, repo STRING, " +
    "path STRING, commit STRING, size BIGINT, hash STRING, set_size BIGINT")

  /** The rows of `df` in a (size, hash) set of ≥ 2, joined back with the
    * set's `set_size`, in the flat duplicates layout. */
  private def setMembers(df: DataFrame): DataFrame =
    df.join(multiGroups(df, "set_size", "size", "hash"), Seq("size", "hash"))
      .select(DuplicatesSchema.fieldNames.map(col).toSeq: _*)

  /** Stage 3 (A4/A5): confirmed duplicates, one row per member — columns
    * (file_id, repo, path, commit, size, hash, set_size). The flat form is
    * the scale path (no giant arrays on hot hashes). The entries below
    * build on this checkpoint leaf, so freeing their result frees it. */
  def duplicates(files: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    PersistScope.scoped(s => setMembers(survivors(files, cfg, s)))

  /** A5 set-level publication — one row per duplicate set with sorted member
    * ids (the relational form of the reference's `\x1C`-joined `paths` TEXT,
    * /root/reference/src/dbops.c:420-452). */
  def duplicateSets(files: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    duplicates(files, cfg)
      .groupBy("size", "hash")
      .agg(
        count(lit(1)).cast("long").as("set_size"),
        array_join(transform(array_sort(collect_list(col("file_id"))),
          _.cast("string")), ",").as("members"))
      .withColumnRenamed("size", "each_size")

  /** A8/O1 — the `dupd report` projection: total duplicated bytes per set,
    * ascending (worst offenders last, /root/reference/src/report.c:288-386). */
  def report(files: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    duplicateSets(files, cfg)
      .select(col("hash"), col("each_size"), col("set_size"),
        (col("each_size") * col("set_size")).as("total"), col("members"))
      .orderBy(col("total"), col("hash"))

  /** §2.7 set operations — `uniques`: files NOT in any duplicate set
    * (/root/reference/src/report.c:485-542): the UNIQUE rows of
    * [[fileStatusesAll]]. Columns: (file_id, repo, path, size). */
  def uniques(files: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    fileStatusesAll(files, cfg).filter(col("status") === "UNIQUE")
      .select("file_id", "repo", "path", "size")

  /** `dups`: files that ARE members of a duplicate set; the live form of
    * [[dupsIn]]. */
  def dups(files: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    dupsIn(duplicates(files, cfg), None)

  /** F6 — `--exclude-path`: a member is excluded when its repo/path falls
    * under the prefix (/root/reference/src/report.c:248-251, options.conf:5);
    * no prefix excludes nothing. */
  private def excluded(excludePrefix: Option[String]): Column =
    excludePrefix.fold(lit(false))(concat(col("repo"), lit("/"), col("path")).startsWith(_))

  /** `df` with each row's `excluded` flag and its (size, hash) group's
    * non-excluded row count `live_set_size` (0 when none). A window count
    * reads `df` once; an aggregate joined back reads it twice, and column
    * pruning keeps the two reads from sharing their exchanges (on sf0.001
    * the CLI `uniques --exclude-path` ran 25 jobs that way, 14 so). */
  private def withLiveCounts(df: DataFrame, excludePrefix: Option[String]): DataFrame =
    df.withColumn("excluded", excluded(excludePrefix))
      .withColumn("live_set_size", count(when(!col("excluded"), 1)).over(
        Window.partitionBy("size", "hash")))

  /** The partner rule over [[withLiveCounts]] that the reference's
    * listings apply under `--exclude-path`: a row is a duplicate while ≥ 1
    * non-excluded row other than itself shares its (size, hash). A file whose
    * only partners are excluded reads UNIQUE; the listed file itself is NOT
    * exempted by being under the prefix (/root/reference/src/report.c:
    * 243-251,413-452 — excluded partners do not count toward verified_dups). */
  private def hasLivePartner: Column =
    col("live_set_size") - when(col("excluded"), 0L).otherwise(1L) >= 1

  /** F6 status view: members under the prefix are marked `xxx` and never
    * counted as duplicates; sets whose non-excluded membership drops below 2
    * lose DUP status entirely. Input: the flat duplicates relation; output
    * adds (status, live_set_size) where status ∈ {DUP, xxx, UNIQUE} —
    * UNIQUE = survivor of a set the exclusion broke. */
  def withExcludeStatus(duplicates: DataFrame, excludePrefix: String): DataFrame =
    withLiveCounts(duplicates, Some(excludePrefix))
      .withColumn("status",
        when(col("excluded"), "xxx")
          .when(col("live_set_size") >= 2, "DUP")
          .otherwise("UNIQUE"))
      .select("file_id", "repo", "path", "size", "hash", "status", "live_set_size")

  /** `dups` listing over a flat duplicates relation (live or stored): the
    * members with a live partner ([[hasLivePartner]]); with no prefix this
    * is every member. Columns: (file_id, repo, path, size, hash, set_size). */
  def dupsIn(dups: DataFrame, excludePrefix: Option[String]): DataFrame =
    excludePrefix.fold(dups)(p => withLiveCounts(dups, Some(p)).filter(hasLivePartner))
      .select("file_id", "repo", "path", "size", "hash", "set_size")

  /** `ls` listing: every `scanned` file (see [[scanFilter]]) with its
    * DUPLICATE/UNIQUE status against a flat duplicates relation (stored or
    * checkpointed), classified as [[dupsIn]]. Columns: (file_id, repo, path,
    * size, status). LEFT OUTER + null test, not `left_anti`/`left_semi`
    * (row-identical, member ids being unique): Catalyst pushes those through
    * the corpus Union (PushdownLeftSemiAntiJoin), one probe join per branch
    * (59 executions for `uniques` in round-6 job accounting); a left-outer
    * join probes once. */
  def lsIn(scanned: DataFrame, dups: DataFrame,
           excludePrefix: Option[String]): DataFrame =
    scanned.join(dupsIn(dups, excludePrefix).select(col("file_id"), lit(true).as("__dup")),
      Seq("file_id"), "left")
      .withColumn("status", when(col("__dup").isNull, "UNIQUE").otherwise("DUPLICATE"))
      .select("file_id", "repo", "path", "size", "status")

  /** J1/J2 — `dupd file <path>` lookup with re-verification semantics:
    * claimed members are re-evaluated against the CURRENT snapshot (content
    * re-hashed now, not trusted from scan time) —
    * /root/reference/src/report.c:402-460. Output: the set members of the
    * probed file with status DUP for verified-identical members.
    *
    * Probe-pushdown plan (dupd's `file` is an index lookup against the
    * stored scan, /root/reference/src/dbops.c:508-642 — NOT a rescan): the
    * probe's (size, hash) is resolved first (two scalar jobs), then only
    * same-size rows are hashed — `size = <k>` is a partition-prunable
    * predicate at Iceberg scale, so the full cascade never runs. */
  def fileLookup(files: DataFrame, probeFileId: Long,
                 cfg: DedupConfig = DedupConfig()): DataFrame =
    probeSetMembers(scanFilter(files, cfg), probeFileId, cfg)
      .select(col("file_id"), col("repo"), col("path"),
        when(col("file_id") === probeFileId, "SELF").otherwise("DUP").as("status"))

  /** Members of the probe's duplicate set evaluated via probe pushdown as
    * ONE plan: the probe's (size, digest, path) is a 1-row broadcast built
    * from the `file_id = <k>` index lookup — no driver collect round-trip
    * (the former two scalar jobs cost a full probe-resolution scan per
    * query) — and only same-size rows are hashed; empty when the probe is
    * unique (set size < 2) or absent. `content` is projected away before
    * the window shuffle: only the dup-set members' identity columns cross
    * the Exchange. Columns: (file_id, repo, path, size, hash,
    * __probe_path). */
  private def probeSetMembers(scanned: DataFrame, probeFileId: Long,
                              cfg: DedupConfig): DataFrame = {
    val probe = scanned.filter(col("file_id") === probeFileId)
      .select(col("size"), digest(col("content"), cfg).as("__probe_hash"),
        col("path").as("__probe_path"))
    scanned.join(broadcast(probe), Seq("size"))
      .withColumn("hash", digest(col("content"), cfg))
      .filter(col("hash") === col("__probe_hash"))
      .select(col("file_id"), col("repo"), col("path"), col("size"),
        col("hash"), col("__probe_path"))
      // dup-set semantics: a singleton set is not a duplicate set
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("size", "hash")))
      .filter(col("__n") >= 2).drop("__n")
  }

  /** Conditional-hash staging, shared by [[fileStatusesAll]],
    * [[hardlinkUnique]] and `NearDup`'s rep selection: a size-count
    * broadcast guards `hash` behind `when(n >= 2)` and writes it as `name`,
    * with '' as the unique-size sentinel — a unique-size file gets its key
    * without its content ever being read, and (size, '') is a singleton
    * group (one row per unique size). At corpus scale this skips the content
    * pass for the unique-size fraction, exactly like the cascade's stage 1
    * ("files of unique size are never opened"). */
  private[graft] def sizeGuardedHash(scanned: DataFrame, name: String,
                                     hash: Column): DataFrame =
    scanned.join(scanned.groupBy("size").agg(count(lit(1)).as("__n")), Seq("size"))
      .withColumn(name, when(col("__n") >= 2, hash).otherwise(lit("")))

  /** `ls` — every scanned file with its DUPLICATE/UNIQUE status: the
    * reference's operation_ls sets BOTH print_uniques and print_duplicates
    * (/root/reference/src/report.c:485-542 — every file listed). Classified
    * in one window pass over the conditional hash, without the cascade, by
    * the same partner rule as [[dupsIn]] (a unique-size file's (size, '')
    * group is a singleton, so it has no partner). Columns: (file_id, repo,
    * path, size, status). */
  def fileStatusesAll(files: DataFrame, cfg: DedupConfig = DedupConfig(),
                      excludePrefix: Option[String] = None): DataFrame =
    withLiveCounts(sizeGuardedHash(scanFilter(files, cfg), "hash",
      digest(col("content"), cfg)), excludePrefix)
      .withColumn("status", when(hasLivePartner, "DUPLICATE").otherwise("UNIQUE"))
      .select("file_id", "repo", "path", "size", "status")

  /** J2 verbose — `dupd file -v` member statuses evaluated against the
    * CURRENT snapshot (/root/reference/src/report.c:218-281): DUP = member
    * still present and byte-identical now; `HL` = verified member sharing
    * the probe's link identity — st_ino == path_inode in the reference
    * (/root/reference/src/report.c:260-264, tests/test.44-48), same `path`
    * in the table model (identity = (path, content), as [[hardlinkUnique]]);
    * `---` = gone from the snapshot; `xxx` = under the exclude prefix. The
    * probed file's row is SELF. Over a member row with its stored `hash`,
    * its digest now `now_hash` (null when gone) and `__probe_path`. */
  private def memberStatus(probeFileId: Long, excludePrefix: Option[String]): Column =
    when(col("file_id") === probeFileId, "SELF")
      .when(excluded(excludePrefix), "xxx")
      .when(col("now_hash").isNull, "---")
      .when(col("now_hash") === col("hash") &&
        col("path") === col("__probe_path"), "HL")
      .when(col("now_hash") === col("hash"), "DUP")
      .otherwise("---")

  /** [[memberStatus]] of the probe's set in a live scan, as one plan:
    * members found by probe pushdown ([[probeSetMembers]]); only they are
    * re-hashed from the snapshot (join first). */
  def fileStatuses(scanned: DataFrame, snapshot: DataFrame, probeFileId: Long,
                   excludePrefix: Option[String] = None,
                   cfg: DedupConfig = DedupConfig()): DataFrame = {
    val members = probeSetMembers(scanFilter(scanned, cfg), probeFileId, cfg)
    val current = snapshot
      .join(members.select("file_id"), Seq("file_id")) // inner ≡ semi: member ids unique
      .select(col("file_id"), digest(col("content"), cfg).as("now_hash"))
    members.join(current, Seq("file_id"), "left")
      .select(col("file_id"), col("repo"), col("path"),
        memberStatus(probeFileId, excludePrefix).as("status"))
  }

  /** [[memberStatus]] of the probe's set in a STORED duplicates relation
    * (scan db or checkpointed scan), looked up as dupd's `file` reads one
    * set row (dupd src/dbops.c:420-452,508-642): three filtered
    * reads, each collected — the probe's (size, hash, path), its set's
    * members (`size = s AND hash = h`), and only those members re-hashed
    * from the snapshot read on `size = s` (partition-prunable at Iceberg
    * scale) and their ids. The status projection over the set's local
    * relation runs no job. Columns: (file_id, repo, path, status). */
  def fileStatusesIn(dups: DataFrame, snapshot: DataFrame, probeFileId: Long,
                     excludePrefix: Option[String] = None,
                     cfg: DedupConfig = DedupConfig()): DataFrame = {
    val spark = dups.sparkSession
    import spark.implicits._
    val rows = dups.filter(col("file_id") === probeFileId).select("size", "hash", "path")
      .as[(Long, String, String)].collect().toSeq.take(1).flatMap { case (size, hash, probePath) =>
        val members = dups.filter(col("size") === size && col("hash") === hash)
          .select("file_id", "repo", "path").as[(Long, String, String)].collect().toSeq
        val now = snapshot.filter(col("size") === size && col("file_id").isin(members.map(_._1): _*))
          .select(col("file_id"), digest(col("content"), cfg)).as[(Long, String)].collect()
          .groupMap(_._1)(_._2)
        members.flatMap { case (id, repo, path) => // left join: null when gone
          now.getOrElse(id, Array[String](null)).toSeq.map((id, repo, path, hash, _, probePath))
        }
      }
    rows.toDF("file_id", "repo", "path", "hash", "now_hash", "__probe_path")
      .select(col("file_id"), col("repo"), col("path"),
        memberStatus(probeFileId, excludePrefix).as("status"))
  }

  /** S8 — rm-shell projection: keep the first (lowest-id) member of each
    * set, list the rest for removal (/root/reference/src/report.c:549-600). */
  def rmsh(files: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame = {
    val d = duplicates(files, cfg)
    val keep = d.groupBy("size", "hash").agg(min("file_id").as("keep_id"))
    d.join(keep, Seq("size", "hash"))
      .filter(col("file_id") =!= col("keep_id"))
      .select(col("keep_id"), col("file_id").as("remove_id"), col("repo"), col("path"))
  }

  /** A6 — the reference's direct two-file block compare
    * (/root/reference/src/filecompare.c:44-111): equality on the content
    * column, one row (a, b, equal). */
  def compareTwo(files: DataFrame, a: Long, b: Long): DataFrame = {
    val fa = files.filter(col("file_id") === a).select(col("content").as("ca"))
    val fb = files.filter(col("file_id") === b).select(col("content").as("cb"))
    fa.crossJoin(fb)
      .select(lit(a).as("a"), lit(b).as("b"), (col("ca") === col("cb")).as("equal"))
  }

  /** §2.9 `refresh` — incremental batch re-check: drop set members no longer
    * in the current snapshot, keep only sets with ≥ 2 survivors
    * (/root/reference/src/refresh.c:37-143). `snapshot` is the current file
    * table (possibly with rows deleted since the scan). */
  def refresh(scanned: DataFrame, snapshot: DataFrame): DataFrame =
    setMembers(scanned.drop("set_size").join( // inner ≡ semi: right side is distinct
      snapshot.select("file_id").distinct(), Seq("file_id")))

  /** `validate` analogue — every member of every emitted set must be
    * byte-identical (/root/reference/tests/validate.pl:29-53): returns sets
    * whose members' contents diverge; empty result == valid.
    *
    * The divergence check counts distinct values of a SECOND, independent
    * map-side digest (sha512 when the primary is any other algorithm) —
    * detecting primary-digest collisions without raw content ever entering
    * a shuffle (a million-member vendored set would otherwise move its full
    * bytes through the countDistinct Exchange at the 100 TB target). The
    * digest is projected at the scan, so only (file_id, 128-char digest)
    * crosses the join/agg boundaries; a simultaneous collision in BOTH
    * digests is the residual false-negative, cryptographically negligible. */
  def validate(files: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame = {
    val secondAlg = if (cfg.hashAlg == "sha512") "sha256" else "sha512"
    val digested = files.select(col("file_id"),
      digest(col("content"), cfg.copy(hashAlg = secondAlg)).as("__d2"))
    duplicates(files, cfg)
      .select("file_id", "size", "hash")
      .join(digested, Seq("file_id"))
      .groupBy("size", "hash")
      .agg(countDistinct(col("__d2")).as("n_distinct_contents"))
      .filter(col("n_distinct_contents") > 1)
  }

  /** F8/J3 — the `--hardlink-is-unique` policy: rows sharing an identity
    * (same logical file reachable via several links) collapse to one physical
    * instance before dedup (/root/reference/src/readlist.c:269-297). In the
    * table model identity = (path, content-hash); keep the lowest file_id.
    * A unique-size row cannot share content with any other row, so it is
    * its own identity with no content read: the '' sentinel plus `size` in
    * the identity key keeps two unique-size rows at one path distinct, and
    * in multi-member size buckets same content implies same size, so
    * (path, size, hash) ≡ the (path, hash) identity. */
  def hardlinkUnique(files: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    sizeGuardedHash(scanFilter(files, cfg), "h", sha2(col("content"), 256))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("path"), col("size"), col("h"))
          .orderBy(col("file_id"))))
      .filter(col("rn") === 1)
      .select("file_id", "repo", "path", "size")

  /** A9/S9 — scan counters as a metrics row (the reference's ~60 counters,
    * /root/reference/src/stats.h:33-125, reduced to the semantic ones); the
    * live form of [[statsIn]]. */
  def stats(files: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    statsIn(scanFilter(files, cfg), duplicates(files, cfg))

  /** The [[stats]] counters of `scanned` and its flat duplicates relation
    * `d`, as ONE aggregate over both (a cross join of two aggregates ran 6
    * jobs on sf0.001, this 4); `countDistinct` skips the scanned rows'
    * null hash. */
  def statsIn(scanned: DataFrame, d: DataFrame): DataFrame = {
    val dup = col("__dup")
    scanned.select(col("size"), lit(null).cast("string").as("hash"), lit(false).as("__dup"))
      .unionByName(d.select(col("size"), col("hash"), lit(true).as("__dup")))
      .agg(
        count(when(!dup, 1)).as("files_scanned"),
        sum(when(!dup, col("size"))).as("bytes_scanned"),
        count(when(dup, 1)).as("dup_files"),
        countDistinct(col("hash"), col("size")).as("dup_sets"),
        sum(when(dup, col("size"))).as("dup_bytes"))
  }
}
