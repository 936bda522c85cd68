package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.exact.{DedupConfig, ExactDedup}
import graft.state.Checkpoints

/** North-rule resumability: kill/skip partitions, re-run, identical final
  * clusters; lineage + per-stage row/byte metrics persisted. */
class CheckpointSpec extends SparkSpec {
  private val cfg = DedupConfig()
  private lazy val corpus = Tables.corpus(spark, sf).cache()

  private def freshRoot(): String =
    Files.createTempDirectory("graft_ckpt").toString

  test("lineage guard hashes every expression case class and its companion") {
    // nullSafeEval/doGenCode live on the case class, compute on the
    // companion: both produce checkpointed bytes, so both must be hashed;
    // SketchAgree is an object whose compute the BucketPairs kernel calls
    val exprs = Seq("MinHashContent", "ShingleKeys",
      "SimHash", "SketchBytes", "SortedIntersectSize", "BucketPairs")
    val expected = exprs.flatMap(c =>
      Seq(s"graft.functions.$c", s"graft.functions.$c" + "$")) :+ "graft.functions.SketchAgree$"
    val missing = expected.filterNot(Checkpoints.codeVersionClasses.contains)
    assert(missing.isEmpty, s"codeVersion does not hash: ${missing.mkString(", ")}")
    Checkpoints.codeVersionClasses.foreach { n =>
      assert(getClass.getResource("/" + n.replace('.', '/') + ".class") != null,
        s"$n has no class resource")
    }
  }

  test("checkpointed scan equals the direct pipeline") {
    val root = freshRoot()
    val ck = Checkpoints.checkpointedDuplicates(spark, corpus, root, nBuckets = 4, cfg)
    val direct = ExactDedup.duplicates(corpus, cfg)
    assert(ck.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(ck).count() == 0)
  }

  test("interrupted run resumes: only missing buckets are recomputed") {
    val root = freshRoot()
    // simulate a kill after 2 of 4 buckets
    Checkpoints.checkpointedDuplicates(spark, corpus, root, 4, cfg,
      onlyBuckets = Some(Set(0, 1)))
    val m1 = Checkpoints.readMetrics(spark, root).collect()
    assert(m1.length == 2)
    // resume: full run completes the remaining buckets without redoing 0/1
    val resumed = Checkpoints.checkpointedDuplicates(spark, corpus, root, 4, cfg)
    val m2 = Checkpoints.readMetrics(spark, root)
    assert(m2.count() == 4)
    // buckets 0/1 keep their original finish timestamps (not recomputed)
    val firstTs = m1.map(r => r.getInt(r.fieldIndex("bucket")) ->
      r.getLong(r.fieldIndex("finished_at"))).toMap
    val afterTs = m2.collect().map(r => r.getInt(r.fieldIndex("bucket")) ->
      r.getLong(r.fieldIndex("finished_at"))).toMap
    assert(firstTs.forall { case (b, ts) => afterTs(b) == ts })
    val direct = ExactDedup.duplicates(corpus, cfg)
    assert(resumed.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(resumed).count() == 0)
  }

  test("config drift invalidates stored buckets (no silent mixing)") {
    val root = freshRoot()
    Checkpoints.checkpointedDuplicates(spark, corpus, root, 2, cfg)
    // re-run with a different digest algorithm: lineage differs, so the
    // stored buckets are stale — result must equal a direct md5 pipeline
    val md5cfg = cfg.copy(hashAlg = "md5")
    val ck = Checkpoints.checkpointedDuplicates(spark, corpus, root, 2, md5cfg)
    val direct = ExactDedup.duplicates(corpus, md5cfg)
    assert(ck.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(ck).count() == 0)
  }

  test("input drift invalidates stale buckets: mutate input, re-run, recomputed") {
    val root = freshRoot()
    Checkpoints.checkpointedDuplicates(spark, corpus, root, 2, cfg)
    val tsBefore = Checkpoints.readMetrics(spark, root).collect()
      .map(r => r.getInt(r.fieldIndex("bucket")) ->
        r.getLong(r.fieldIndex("finished_at"))).toMap
    // drift: the mirror repo vanishes — every bucket whose slice contained
    // mirror rows has a changed fingerprint and must recompute
    val mutated = corpus.filter(col("repo") =!= "mirror")
    val ck = Checkpoints.checkpointedDuplicates(spark, mutated, root, 2, cfg)
    val direct = ExactDedup.duplicates(mutated, cfg)
    assert(ck.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(ck).count() == 0)
    // at least one bucket recomputed (manifest gained newer rows)
    val after = Checkpoints.readMetrics(spark, root).collect()
    assert(after.exists(r => r.getLong(r.fieldIndex("finished_at")) >
      tsBefore(r.getInt(r.fieldIndex("bucket")))))
  }

  test("config REVERT does not resurrect stale buckets (latest manifest row wins)") {
    val root = freshRoot()
    // sha256 → md5 → sha256: the third run must NOT reuse the md5 bytes on
    // disk just because the first run's sha row still sits in the manifest
    Checkpoints.checkpointedDuplicates(spark, corpus, root, 2, cfg)
    Checkpoints.checkpointedDuplicates(spark, corpus, root, 2, cfg.copy(hashAlg = "md5"))
    val again = Checkpoints.checkpointedDuplicates(spark, corpus, root, 2, cfg)
    val direct = ExactDedup.duplicates(corpus, cfg)
    assert(again.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(again).count() == 0)
  }

  test("finished_at tie with conflicting lineages recomputes (no arbitrary winner)") {
    import graft.state.Checkpoints.StageMetric
    import spark.implicits._
    val root = freshRoot()
    // two runs land manifest rows for bucket 0 in the SAME millisecond with
    // different lineages — neither may be trusted
    Seq(
      StageMetric("exact", 0, 1L, 10L, 1L, "lineage-A", 1000L),
      StageMetric("exact", 0, 1L, 10L, 1L, "lineage-B", 1000L),
      StageMetric("exact", 1, 1L, 10L, 1L, "lineage-A", 1000L))
      .toDF().write.mode("append").parquet(s"$root/_metrics")
    val valid = Checkpoints.validBuckets(spark, root, "exact", 2, _ => "lineage-A")
    assert(valid == Set(1), s"ambiguous tie must invalidate bucket 0: $valid")
    // an unambiguous tie (same lineage twice) stays valid
    val root2 = freshRoot()
    Seq(
      StageMetric("exact", 0, 1L, 10L, 1L, "lineage-A", 1000L),
      StageMetric("exact", 0, 1L, 10L, 1L, "lineage-A", 1000L))
      .toDF().write.mode("append").parquet(s"$root2/_metrics")
    assert(Checkpoints.validBuckets(spark, root2, "exact", 1, _ => "lineage-A") == Set(0))
  }

  test("near-tier signal checkpointing resumes and reproduces direct pairs") {
    import graft.near.{NearConfig, NearDup}
    import graft.util.PersistScope
    val root = freshRoot()
    val ncfg = NearConfig()
    // interrupted signal run: 2 of 4 buckets land
    graft.state.Checkpoints.checkpointedNearSignatures(spark, corpus, root, 4,
      ncfg, onlyBuckets = Some(Set(0, 1)))
    val partial = graft.state.Checkpoints.readMetrics(spark, root)
      .filter(col("stage") === "nearsig")
    assert(partial.count() == 2)
    // resume completes the rest; pairs from the stored signals equal the
    // direct pipeline exactly
    val sigs = graft.state.Checkpoints.checkpointedNearSignatures(
      spark, corpus, root, 4, ncfg)
    val viaCkpt = PersistScope.scoped { s =>
      NearDup.verifiedPairsFromSigs(s.persist(sigs),
        s.persist(NearDup.representatives(corpus, ncfg)), ncfg, s)
    }
    val direct = NearDup.verifiedPairs(corpus, ncfg)
    assert(viaCkpt.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(viaCkpt).count() == 0)
    // signal-shaping config drift (numPerms) invalidates the stored buckets
    val drifted = graft.state.Checkpoints.checkpointedNearSignatures(
      spark, corpus, root, 4, ncfg.copy(numPerms = 64, bands = 8))
    assert(drifted.selectExpr("size(sig)").head().getInt(0) == 64)
  }

  test("near signal buckets keep negative file ids (non-negative modulus)") {
    import graft.near.{NearConfig, NearDup}
    import graft.util.PersistScope
    val ncfg = NearConfig()
    // three distinct base files renumbered to -12, -7 and 3: with a plain
    // `%`, -7 lands in bucket -3, which the 4-bucket stage never computes
    val files = corpus.filter(col("file_id").isin(0L, 1L, 2L))
      .withColumn("file_id", when(col("file_id") === 0L, -12L)
        .when(col("file_id") === 1L, -7L).otherwise(3L))
    val direct = PersistScope.using { s =>
      NearDup.signalFrame(s.persist(NearDup.representatives(files, ncfg)), ncfg)
        .select("file_id").collect().map(_.getLong(0)).toSet
    }
    assert(direct == Set(-12L, -7L, 3L))
    val ids = Checkpoints.checkpointedNearSignatures(spark, files, freshRoot(), 4, ncfg)
      .select("file_id").collect().map(_.getLong(0)).toSet
    assert(ids == direct)
  }

  test("checkpointed verified pairs: computed once, read thereafter, drift recomputes") {
    import graft.near.{NearConfig, NearDup}
    val root = freshRoot()
    val ncfg = NearConfig()
    val first = Checkpoints.checkpointedVerifiedPairs(spark, corpus, root, ncfg)
    val direct = NearDup.verifiedPairs(corpus, ncfg)
    assert(first.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(first).count() == 0)
    val ts1 = Checkpoints.readMetrics(spark, root)
      .filter(col("stage") === "nearpairs")
      .agg(max("finished_at")).head().getLong(0)
    // unchanged input + config: the second call READS the stored relation
    // (no new manifest row — nothing recomputed)
    val again = Checkpoints.checkpointedVerifiedPairs(spark, corpus, root, ncfg)
    assert(again.exceptAll(direct).count() == 0)
    val m2 = Checkpoints.readMetrics(spark, root)
      .filter(col("stage") === "nearpairs").collect()
    assert(m2.length == 1 && m2.head.getLong(m2.head.fieldIndex("finished_at")) == ts1)
    // config drift (verification threshold) recomputes under the new lineage
    val strict = ncfg.copy(jaccardThreshold = 0.9)
    val drifted = Checkpoints.checkpointedVerifiedPairs(spark, corpus, root, strict)
    val directStrict = NearDup.verifiedPairs(corpus, strict)
    assert(drifted.exceptAll(directStrict).count() == 0)
    assert(directStrict.exceptAll(drifted).count() == 0)
    // input drift (a repo vanishes) recomputes too
    val mutated = corpus.filter(col("repo") =!= "fork")
    val afterDrift = Checkpoints.checkpointedVerifiedPairs(spark, mutated, root, ncfg)
    val directMut = NearDup.verifiedPairs(mutated, ncfg)
    assert(afterDrift.exceptAll(directMut).count() == 0)
    assert(directMut.exceptAll(afterDrift).count() == 0)
  }

  test("metrics carry stage lineage and per-bucket rows/bytes") {
    val root = freshRoot()
    Checkpoints.checkpointedDuplicates(spark, corpus, root, 2, cfg)
    val m = Checkpoints.readMetrics(spark, root)
    assert(m.filter(col("lineage").contains("exact:v1")).count() == 2)
    val totalRows = m.agg(sum("rows")).head().getLong(0)
    assert(totalRows == ExactDedup.duplicates(corpus, cfg).count())
    assert(m.filter(col("wall_ms") < 0).count() == 0)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.TestBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  test("a checkpointed bucket costs its write and one manifest row: job bounds") {
    // a computed bucket runs its cascade's jobs, the observed write and the
    // manifest append; nothing is read back, and the manifest and the
    // stage's buckets are each read once, with their known schema (38 / 3 /
    // 12 jobs here)
    val root = freshRoot()
    corpus.count()
    def scan(files: org.apache.spark.sql.DataFrame) = jobsOf {
      Checkpoints.checkpointedDuplicates(spark, files, root, 4, cfg)
    }
    def manifestRows() = Checkpoints.readMetrics(spark, root).count()
    val cold = scan(corpus)
    val warm = scan(corpus)
    // drift in one bucket: one file of bucket 0 vanishes
    val gone = corpus.filter(pmod(col("size"), lit(4)) === 0)
      .select(min("file_id")).head().getLong(0)
    val before = manifestRows()
    val resume = scan(corpus.filter(col("file_id") =!= gone))
    assert(manifestRows() - before == 1, "the drift must recompute exactly one bucket")
    info(s"jobs cold=$cold warm=$warm resume=$resume")
    assert(cold <= 41 && warm <= 3 && resume <= 13,
      s"jobs cold=$cold warm=$warm resume=$resume")
  }

  test("a stage with no bucket to read is an empty frame of its schema") {
    // a partial run that selects no bucket on a cold root reads nothing
    val none = Checkpoints.checkpointedDuplicates(spark, corpus, freshRoot(), 4, cfg,
      onlyBuckets = Some(Set.empty))
    assert(none.schema.fieldNames.toSeq == ExactDedup.DuplicatesSchema.fieldNames.toSeq)
    assert(none.count() == 0)
  }

  test("cold root reads as empty metrics (no analyzer error path)") {
    val root = freshRoot() // exists but has no _metrics child
    assert(Checkpoints.readMetrics(spark, root).count() == 0)
    assert(Checkpoints.readMetrics(spark, s"$root/never_created").count() == 0)
  }
}
