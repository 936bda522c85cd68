package graft.state

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.PersistScope

/** Per-partition checkpointing + lineage + metrics — the Spark-native role
  * of dupd's SQLite state/cache db (north_rule: "resumable from checkpoint
  * with per-partition lineage + metrics"; reference analogue: the hash-cache
  * short-circuit A7, /root/reference/src/sizelist.c:695-750, and the cache
  * db schema /root/reference/src/dbops.c:84-96).
  *
  * The checkpoint unit is a SIZE-HASH BUCKET (`size % nBuckets`): every
  * dedup grouping key starts with `size`, so buckets are independent units —
  * a bucket's duplicate sets never reference rows outside it. A killed run
  * resumes by skipping buckets whose manifest row exists (the `_metrics`
  * table is both the lineage record and the completion marker). At cluster
  * scale the bucket maps to an Iceberg partition and the manifest to a
  * metadata table; here both are parquet directories.
  *
  * A stored bucket is reused ONLY if its recorded lineage — every config
  * field AND a fingerprint of the bucket's input slice — matches the current
  * run. This mirrors dupd's cache invalidation on size/ctime drift
  * (/root/reference/src/dbops.c:167-205,736-744, cache_db_scrub_entry): a
  * resume against changed input recomputes exactly the buckets whose slice
  * changed. The fingerprint hashes (file_id, size, commit) — `commit` plays
  * ctime's role in the immutable-table model (content changes arrive as new
  * commits); it is a narrow column pass, never a content read.
  */
object Checkpoints {

  /** The classes [[codeVersion]] hashes: the facades AND the expression
    * classes that actually compute stage output bytes — both the case class
    * (its `nullSafeEval`/`doGenCode`) and its companion (the `compute` the
    * eval path calls). A semantic change to e.g. MinHashSignature leaves the
    * NearDupFunctions facade bytecode unchanged, so hashing facades alone
    * would serve stale checkpointed buckets. `LshSignatures` and
    * `DotProductL` are deliberately absent: they feed only [[graft.sim.Ann]],
    * and no [[runStage]] caller (`exact`, `nearsig`, `nearpairs`) runs Ann,
    * so they produce no checkpointed bytes. */
  private[graft] val codeVersionClasses: Seq[String] =
    Seq("graft.exact.ExactDedup$", "graft.near.NearDup$", "graft.near.NearConfig",
      "graft.functions.NearDupFunctions$", "graft.functions.HashConstants$",
      "graft.skew.Salting$", "graft.state.Checkpoints$") ++
      Seq("MinHashSignature", "MinHashContent", "ShingleKeys", "SimHash",
        "SketchBytes", "SketchAgree", "SortedIntersectSize")
        .flatMap(c => Seq(s"graft.functions.$c", s"graft.functions.$c$$"))

  /** Code-version signal folded into every stage lineage: a digest of the
    * BYTECODE of the classes that produce checkpointed bytes. Without it a
    * pipeline code change would be invisible to the lineage and a resume
    * would serve the OLD implementation's stored output (the correctness
    * gate would then validate stale results and the bench would measure a
    * parquet read instead of the pipeline). Hashing the compiled .class
    * resources means any rebuild that changes these classes invalidates
    * stored buckets automatically; an unchanged rebuild reuses them. */
  private[state] lazy val codeVersion: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    codeVersionClasses.foreach { n =>
      val in = getClass.getResourceAsStream("/" + n.replace('.', '/') + ".class")
      // a silently-skipped missing resource (e.g. after a rename) would
      // quietly weaken the guard — fail loudly instead
      if (in == null) throw new IllegalStateException(
        s"codeVersion: class resource for $n not found — " +
          "update the hashed-class list in Checkpoints.codeVersion")
      try {
        val buf = new Array[Byte](8192)
        var r = in.read(buf)
        while (r > 0) { md.update(buf, 0, r); r = in.read(buf) }
      } finally in.close()
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** One manifest/metrics row per completed (stage, bucket). */
  final case class StageMetric(
      stage: String, bucket: Int, rows: Long, bytes: Long,
      wall_ms: Long, lineage: String, finished_at: Long)

  private def metricsPath(root: String) = s"$root/_metrics"

  def readMetrics(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    // existence pre-check: a cold root is the NORMAL first-run case, and
    // letting the analyzer throw-and-catch logs a full FileNotFoundException
    // stack to stderr (alarming noise in gate logs); the catch stays as the
    // race/corruption backstop
    val p = new org.apache.hadoop.fs.Path(metricsPath(root))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty[StageMetric].toDF()
    else try spark.read.parquet(metricsPath(root))
    catch { case _: Exception =>
      Seq.empty[StageMetric].toDF()
    }
  }

  /** Buckets whose LATEST manifest row (manifest rows are append-only; the
    * newest row describes what is actually on disk) matches
    * `lineageOf(bucket)` — any older row is history of data since
    * overwritten, so matching against it would serve wrong cached results
    * (e.g. scan sha256 → scan md5 → scan sha256 again must recompute, not
    * reuse the md5 bytes under the first run's still-present sha row).
    *
    * finished_at has millisecond resolution, so two runs CAN tie: a bucket
    * is valid only if ALL rows sharing the max finished_at carry the
    * matching lineage — an ambiguous tie (stale + current lineage at the
    * same timestamp) recomputes rather than trusting either row's bytes. */
  def validBuckets(spark: SparkSession, root: String, stage: String,
                   nBuckets: Int, lineageOf: Int => String): Set[Int] = {
    import org.apache.spark.sql.expressions.Window
    val latest = readMetrics(spark, root)
      .filter(col("stage") === stage)
      .withColumn("__mx", max(col("finished_at")).over(Window.partitionBy("bucket")))
      .filter(col("finished_at") === col("__mx"))
      .groupBy("bucket").agg(collect_set(col("lineage")).as("lineages"))
      .collect().map(r => (r.getInt(0), r.getSeq[String](1))).toMap
    (0 until nBuckets)
      .filter(b => latest.get(b).exists(ls =>
        ls.length == 1 && ls.head == lineageOf(b)))
      .toSet
  }

  /** Drop a stage's stored buckets + manifest rows (the reference's
    * `cache --delete`, /root/reference/src/cache.c:33-55). Rewrites the
    * metrics table without the stage's rows. */
  def deleteStage(spark: SparkSession, root: String, stage: String): Unit = {
    val remaining = readMetrics(spark, root).filter(col("stage") =!= stage)
    val rows = remaining.collect()
    deleteDir(new java.io.File(s"$root/$stage"))
    deleteDir(new java.io.File(metricsPath(root)))
    if (rows.nonEmpty) {
      import spark.implicits._
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq), remaining.schema)
        .write.mode(SaveMode.Overwrite).parquet(metricsPath(root))
    }
  }

  private def deleteDir(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteDir)
    f.delete(): Unit
  }

  /** Run `compute(bucket, scope)` for every bucket lacking a lineage-valid
    * manifest row, persisting each bucket's output and a manifest row;
    * returns the stage's full output (all buckets, computed now or reused).
    * `scope` owns the bucket's own intermediates and is released once the
    * bucket is written. `lineageOf` ties a bucket's output to its input +
    * config — any drift in either recomputes that bucket. */
  def runStage(spark: SparkSession, root: String, stage: String,
               nBuckets: Int, lineageOf: Int => String,
               onlyBuckets: Option[Set[Int]] = None)
              (compute: (Int, PersistScope) => DataFrame): DataFrame = {
    import spark.implicits._
    val valid = validBuckets(spark, root, stage, nBuckets, lineageOf)
    val todo = (0 until nBuckets)
      .filter(b => !valid.contains(b))
      .filter(b => onlyBuckets.forall(_.contains(b)))
    // a partial resume (onlyBuckets) that excludes stale/invalid buckets
    // yields an INCOMPLETE relation — say so instead of silently omitting
    val omittedStale = (0 until nBuckets)
      .filter(b => !valid.contains(b) && onlyBuckets.exists(!_.contains(b)))
    if (omittedStale.nonEmpty)
      System.err.println(s"[graft.ckpt] stage $stage: partial resume omits " +
        s"stale bucket(s) ${omittedStale.mkString(",")} — output is incomplete " +
        "until they are recomputed")
    todo.foreach { b =>
      val t0 = System.nanoTime()
      PersistScope.using(s =>
        compute(b, s).write.mode(SaveMode.Overwrite).parquet(s"$root/$stage/bucket=$b"))
      val written = spark.read.parquet(s"$root/$stage/bucket=$b")
      // bytes metric = sum(size) when the stage output carries one (file
      // relations do; pair relations have no byte dimension — record 0)
      val bytesCol =
        if (written.columns.contains("size")) coalesce(sum(col("size")), lit(0L))
        else lit(0L)
      val (rows, bytes) = written
        .agg(count(lit(1)), bytesCol)
        .as[(Long, Long)].head()
      val wallMs = (System.nanoTime() - t0) / 1000000
      Seq(StageMetric(stage, b, rows, bytes, wallMs, lineageOf(b),
        System.currentTimeMillis())).toDF()
        .write.mode(SaveMode.Append).parquet(metricsPath(root))
    }
    val available = validBuckets(spark, root, stage, nBuckets, lineageOf)
      .union(todo.toSet)
    val paths = available.toSeq.sorted.map(b => s"$root/$stage/bucket=$b")
    if (paths.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(paths: _*)
  }

  /** Bucket predicate: all grouping keys downstream contain `size`, so the
    * bucket is self-contained (and partition-prunable at Iceberg scale). */
  private def bucketOf(n: Int): Column = pmod(col("size"), lit(n))

  /** Fingerprints of EVERY bucket's input slice in ONE narrow pass (no
    * content): row count + an order-independent XOR of per-row hashes over
    * the identity/version columns (XOR never overflows under ANSI
    * arithmetic; rows are identity-unique so pair-cancellation needs a hash
    * collision). Drift in membership, size, or commit of any row in a
    * bucket changes that bucket's fingerprint. Buckets with no rows get the
    * empty fingerprint. */
  def inputFingerprints(files: DataFrame, nBuckets: Int): Map[Int, String] =
    inputFingerprintsBy(files, nBuckets, bucketOf(nBuckets))

  /** [[inputFingerprints]] under an arbitrary bucketing expression (the
    * near tier buckets by file_id, not size). */
  def inputFingerprintsBy(files: DataFrame, nBuckets: Int,
                          bucket: Column): Map[Int, String] = {
    val rows = files
      .groupBy(bucket.cast("int").as("__b"))
      .agg(
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("file_id"), col("size"), col("commit"))),
          lit(0L)).as("x"))
      .collect()
      .map(r => r.getInt(0) -> s"n=${r.getLong(1)}:x=${r.getLong(2)}").toMap
    (0 until nBuckets).map(b => b -> rows.getOrElse(b, "n=0:x=0")).toMap
  }

  /** Checkpointed exact-dedup scan: duplicates per size-hash bucket.
    * Resumable mid-run; identical final result to the direct pipeline. */
  def checkpointedDuplicates(spark: SparkSession, files: DataFrame,
                             root: String, nBuckets: Int,
                             cfg: graft.exact.DedupConfig = graft.exact.DedupConfig(),
                             onlyBuckets: Option[Set[Int]] = None): DataFrame = {
    // every DedupConfig field participates: a resume under a different
    // config must never mix with stored buckets
    val cfgLineage = s"exact:v1:code=$codeVersion:minSize=${cfg.minSize}:prefixLen=${cfg.prefixLen}:" +
      s"hidden=${cfg.includeHidden}:alg=${cfg.hashAlg}:nBuckets=$nBuckets"
    // all fingerprints from one narrow aggregate pass; at cluster scale
    // this is one pass over Iceberg manifests, not data
    val fps: Map[Int, String] = inputFingerprints(files, nBuckets)
    runStage(spark, root, "exact", nBuckets,
      b => s"$cfgLineage:fp(${fps(b)})", onlyBuckets) { (b, s) =>
      s.track(graft.exact.ExactDedup.duplicates(
        files.filter(bucketOf(nBuckets) === b), cfg))
    }
  }

  /** Checkpointed near-dup SIGNAL stage: the per-row (sig, simhash, sketch)
    * computation — the wall-clock-dominant map pass of the near tier at
    * corpus scale — resumable per file_id-hash bucket. Unlike the exact
    * tier, the near tier's PAIR stages cross bucket boundaries (LSH buckets
    * ignore size/id), so the pair joins always run live — but they run from
    * the stored signals, never re-reading content except for the plausible
    * candidates' exact verification. Lineage = every NearConfig field that
    * shapes a signal + the bucket's input fingerprint (membership/size/
    * commit drift recomputes exactly the drifted buckets). */
  def checkpointedNearSignatures(spark: SparkSession, files: DataFrame,
                                 root: String, nBuckets: Int,
                                 cfg: graft.near.NearConfig = graft.near.NearConfig(),
                                 onlyBuckets: Option[Set[Int]] = None): DataFrame = {
    val cfgLineage = s"nearsig:v1:code=$codeVersion:k=${cfg.shingleK}:perms=${cfg.numPerms}:" +
      s"simBits=${cfg.simBits}:nBuckets=$nBuckets"
    PersistScope.using { scope =>
      val reps = scope.persist(graft.near.NearDup.representatives(files, cfg))
      val fps = inputFingerprintsBy(reps, nBuckets, pmod(col("file_id"), lit(nBuckets)))
      runStage(spark, root, "nearsig", nBuckets,
        b => s"$cfgLineage:fp(${fps(b)})", onlyBuckets) { (b, _) =>
        graft.near.NearDup.signalFrame(
          reps.filter(pmod(col("file_id"), lit(nBuckets)) === b), cfg)
      }
    }
  }

  /** Checkpointed near-dup VERIFIED PAIRS: the tier's full candidate +
    * verification output stored as one resumable stage. Unlike the signal
    * stage, the pair relation crosses every bucket boundary (LSH buckets
    * ignore file ids), so its checkpoint unit is the WHOLE input — one
    * bucket guarded by the full NearConfig + whole-input fingerprint. A
    * rerun over unchanged input+config READS the stored relation instead of
    * recomputing the pipeline (the dupd scan/query split applied to the
    * near tier: downstream consumers like LCS verification are query ops
    * over the stored scan, /root/reference/docs/design.md:9-28); any drift
    * in membership/size/commit or any config field recomputes. */
  def checkpointedVerifiedPairs(spark: SparkSession, files: DataFrame,
                                root: String,
                                cfg: graft.near.NearConfig = graft.near.NearConfig()): DataFrame = {
    // case-class toString carries every NearConfig field — any knob that
    // shapes candidates or verification participates in the lineage
    val cfgLineage = s"nearpairs:v1:code=$codeVersion:$cfg"
    val fps = inputFingerprintsBy(files, 1, lit(0))
    runStage(spark, root, "nearpairs", 1, b => s"$cfgLineage:fp(${fps(b)})") { (_, s) =>
      s.track(graft.near.NearDup.verifiedPairs(files, cfg))
    }
  }
}
