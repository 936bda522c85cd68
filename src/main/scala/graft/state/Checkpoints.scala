package graft.state

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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
  * A computed bucket costs its own write plus one appended manifest row:
  * its `rows`/`bytes` are observed on that write (nothing is read back),
  * and a stage reads the manifest once and its buckets once, each with its
  * known schema (no inference job). The manifest keeps its name and
  * format, parquet at `$root/_metrics`, because the benchmark's traced
  * pass reads it.
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
    * eval path calls). A semantic change to e.g. MinHashContent leaves the
    * NearDupFunctions facade bytecode unchanged, so hashing facades alone
    * would serve stale checkpointed buckets. `SketchAgree` is an object
    * only (the [[graft.functions.BucketPairs]] kernel calls its `compute`).
    * `LshSignatures` and `DotProductL` are deliberately absent: they feed
    * only [[graft.sim.Ann]], and no [[runStage]] caller (`exact`,
    * `nearsig`, `nearpairs`) runs Ann, so they produce no checkpointed
    * bytes. */
  private[graft] val codeVersionClasses: Seq[String] =
    Seq("graft.exact.ExactDedup$", "graft.near.NearDup$", "graft.near.NearConfig",
      "graft.functions.NearDupFunctions$", "graft.functions.HashConstants$",
      "graft.functions.SketchAgree$", "graft.skew.Salting$", "graft.state.Checkpoints$") ++
      Seq("MinHashContent", "ShingleKeys", "SimHash", "SketchBytes",
        "SortedIntersectSize", "BucketPairs")
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

  /** The manifest, read with [[StageMetric]]'s schema (no inference job)
    * from its part files, listed on the driver. Spark ignores a
    * `_`-prefixed last path component, so reading the directory logs "All
    * paths were ignored"; a glob logs a stack trace from the streaming-sink
    * metadata probe. */
  def readMetrics(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    // existence pre-check: a cold root is the NORMAL first-run case, and
    // letting the analyzer throw-and-catch logs a full FileNotFoundException
    // stack to stderr (alarming noise in gate logs); the catch stays as the
    // race/corruption backstop
    val p = new org.apache.hadoop.fs.Path(metricsPath(root))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val empty = Seq.empty[StageMetric].toDF()
    if (!fs.exists(p)) empty
    else try {
      val parts = fs.listStatus(p).toSeq.map(_.getPath.toString).filter(_.endsWith(".parquet"))
      if (parts.isEmpty) empty
      else spark.read.schema(Encoders.product[StageMetric].schema).parquet(parts: _*)
    } catch { case _: Exception => empty }
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
    * same timestamp) recomputes rather than trusting either row's bytes.
    * The stage has one row per bucket run, so the rule runs on the driver. */
  def validBuckets(spark: SparkSession, root: String, stage: String,
                   nBuckets: Int, lineageOf: Int => String): Set[Int] = {
    val latest = readMetrics(spark, root).filter(col("stage") === stage)
      .select("bucket", "lineage", "finished_at").collect()
      .groupBy(_.getInt(0)).map { case (b, rs) =>
        val at = rs.map(_.getLong(2)).max
        b -> rs.filter(_.getLong(2) == at).map(_.getString(1)).distinct.toSeq
      }
    (0 until nBuckets).filter(b => latest.get(b).contains(Seq(lineageOf(b)))).toSet
  }

  /** Drop a stage's stored buckets + manifest rows (the reference's
    * `cache --delete`, /root/reference/src/cache.c:33-55). Rewrites the
    * metrics table without the stage's rows. */
  def deleteStage(spark: SparkSession, root: String, stage: String): Unit = {
    import spark.implicits._
    val rows = readMetrics(spark, root).filter(col("stage") =!= stage)
      .as[StageMetric].collect().toSeq
    deleteDir(new java.io.File(s"$root/$stage"))
    deleteDir(new java.io.File(metricsPath(root)))
    if (rows.nonEmpty) rows.toDF().write.mode(SaveMode.Overwrite).parquet(metricsPath(root))
  }

  private def deleteDir(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteDir)
    f.delete(): Unit
  }

  /** Run `compute(bucket, scope)` for every bucket lacking a lineage-valid
    * manifest row, writing each bucket's output once and appending its
    * manifest row; returns the stage's full output (all buckets, computed
    * now or reused), read with `schema` — the stage's output schema — so
    * no inference job runs; with no bucket, an empty frame of `schema`.
    * `compute` returns the bucket's plan; `scope` owns the leaves under it
    * and is released once the bucket is written. `lineageOf` ties a
    * bucket's output to its input + config — any drift in either
    * recomputes that bucket. */
  def runStage(spark: SparkSession, root: String, stage: String,
               nBuckets: Int, lineageOf: Int => String, schema: StructType,
               onlyBuckets: Option[Set[Int]] = None)
              (compute: (Int, PersistScope) => DataFrame): DataFrame = {
    import spark.implicits._
    val valid = validBuckets(spark, root, stage, nBuckets, lineageOf)
    // a partial resume (onlyBuckets) that excludes stale/invalid buckets
    // yields an INCOMPLETE relation — say so instead of silently omitting
    val (todo, omittedStale) = (0 until nBuckets).filterNot(valid)
      .partition(b => onlyBuckets.forall(_.contains(b)))
    if (omittedStale.nonEmpty)
      System.err.println(s"[graft.ckpt] stage $stage: partial resume omits " +
        s"stale bucket(s) ${omittedStale.mkString(",")} — output is incomplete " +
        "until they are recomputed")
    todo.foreach { b =>
      val t0 = System.nanoTime()
      val written = Observation()
      PersistScope.using { s =>
        val out = compute(b, s)
        // bytes metric = sum(size) when the stage output carries one (file
        // relations do; pair relations have no byte dimension — record 0)
        val bytes = if (out.columns.contains("size")) coalesce(sum(col("size")), lit(0L))
                    else lit(0L)
        out.observe(written, count(lit(1)).as("rows"), bytes.as("bytes"))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/$stage/bucket=$b")
      }
      val m = written.get
      Seq(StageMetric(stage, b, m("rows").asInstanceOf[Long], m("bytes").asInstanceOf[Long],
        (System.nanoTime() - t0) / 1000000, lineageOf(b), System.currentTimeMillis())).toDF()
        .write.mode(SaveMode.Append).parquet(metricsPath(root))
    }
    val paths = (valid ++ todo).toSeq.sorted.map(b => s"$root/$stage/bucket=$b")
    if (paths.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  /** Bucket predicate: all grouping keys downstream contain `size`, so the
    * bucket is self-contained (and partition-prunable at Iceberg scale). */
  private def bucketOf(n: Int): Column = pmod(col("size"), lit(n))

  /** Fingerprints of EVERY bucket's input slice in ONE narrow pass (no
    * content), with `bucket` as the bucketing expression (the exact tier
    * buckets by size, the near tier by file_id): row count + an
    * order-independent XOR of per-row hashes over the identity/version
    * columns (XOR never overflows under ANSI arithmetic; rows are
    * identity-unique so pair-cancellation needs a hash collision). Drift in
    * membership, size, or commit of any row in a bucket changes that
    * bucket's fingerprint. Buckets with no rows get the empty fingerprint. */
  def inputFingerprints(files: DataFrame, nBuckets: Int, bucket: Column): Map[Int, String] = {
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
    val fps: Map[Int, String] = inputFingerprints(files, nBuckets, bucketOf(nBuckets))
    runStage(spark, root, "exact", nBuckets, b => s"$cfgLineage:fp(${fps(b)})",
      graft.exact.ExactDedup.DuplicatesSchema, onlyBuckets) { (b, s) =>
      graft.exact.ExactDedup.duplicatesIn(files.filter(bucketOf(nBuckets) === b), cfg, s)
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
      val idBucket = pmod(col("file_id"), lit(nBuckets))
      val fps = inputFingerprints(reps, nBuckets, idBucket)
      runStage(spark, root, "nearsig", nBuckets, b => s"$cfgLineage:fp(${fps(b)})",
        graft.near.NearDup.signalFrame(reps, cfg).schema, onlyBuckets) { (b, _) =>
        graft.near.NearDup.signalFrame(reps.filter(idBucket === b), cfg)
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
    val fps = inputFingerprints(files, 1, lit(0))
    runStage(spark, root, "nearpairs", 1, b => s"$cfgLineage:fp(${fps(b)})",
      StructType.fromDDL("a BIGINT, b BIGINT, jaccard DOUBLE")) { (_, s) =>
      graft.near.NearDup.verifiedPairsOf(s.persist(graft.near.NearDup.representatives(files, cfg)),
        cfg, s)
    }
  }
}
