package graft.perfbench

import java.io.{File, OutputStream, PrintStream}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.cli.Main
import graft.cluster.ConnectedComponents
import graft.exact.{DedupConfig, ExactDedup}
import graft.near.{NearConfig, NearDup}
import graft.query.Report
import graft.state.{Checkpoints, DbMeta}
import graft.util.{Blocks, PersistScope}

/** Stdout sink for one op: counts lines and digests every byte. */
final class DigestSink extends OutputStream {
  private val md = MessageDigest.getInstance("SHA-256")
  var lines = 0L
  override def write(b: Int): Unit = { md.update(b.toByte); if (b == '\n') lines += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    md.update(b, off, len)
    var i = off
    while (i < off + len) { if (b(i) == '\n') lines += 1; i += 1 }
  }
  def hex: String = PerfBench.hex(md.digest())
}

/** Walls and outputs of one pass over the workload's user-facing ops. */
final case class Pass(walls: Map[String, Double], lookupMs: Vector[Double],
                      lookupLines: Vector[Long], reportLines: Long,
                      digests: Map[String, String], shuffleBytes: Long,
                      opsRun: Int, opsFailed: Int) {
  def wall: Double = walls.values.sum + lookupMs.sum / 1000
}

/** The graft benchmark's measuring program: `PerfBench --workload W --seed N
  * --seconds S --trace 0|1 --work DIR --records DIR --build ID`. It generates
  * its input from the seed, times graft's CLI ops (`graft.cli.Main.runOp`)
  * or, with `--trace 1`, each layer's functions under spans, checks every
  * output against naive references, and writes one JSON result to
  * `<work>/result.json`. Logs, output digests and traces go to `<records>`.
  */
object PerfBench {
  val Buckets = 8
  val SetupReps = 3
  /** LSH misses a pair at Jaccard 0.7 with probability ~0.2 and at 0.8 with
    * ~0.03; a recall under this means the near tier lost real pairs. */
  val MinRecall = 0.9
  val cfg: DedupConfig = DedupConfig()
  val ncfg: NearConfig = NearConfig()

  def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString
  def sha(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  private val jvmStart = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - jvmStart) / 1e9}%6.1f] $msg")

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  /** A workload's generated input: base documents, and base + drift. */
  final case class Inputs(base: String, drift: String, out: File, shape: Shape,
                          planted: Planted) {
    /** Planted near pairs (corpus file ids) whose naive Jaccard is >= 0.7. */
    lazy val scoredPairs: Vector[(Long, Long)] = {
      val text = planted.docs.map(d => d.doc_id -> d.text).toMap
      def fileText(id: Long): String =
        if (id >= 3000000L) { val t = text(id - 3000000L); t.take(t.length - 8) } else text(id)
      planted.nearPairs.filter { case (a, b) => jaccard(fileText(a), fileText(b)) >= 0.7 }
    }
  }

  private val docSchema = MessageTypeParser.parseMessageType(
    """message documents { required int64 doc_id; required binary text (UTF8);
      |required binary lang (UTF8); required binary source (UTF8);
      |required int64 n_chars; }""".stripMargin)

  /** Writes `dir/documents.parquet` as four part files, without Spark, so
    * input generation stays out of the sessions the benchmark times. */
  def writeDocs(docs: Seq[Doc], dir: File): String = {
    val conf = new Configuration()
    val groups = new SimpleGroupFactory(docSchema)
    val parts = 4
    (0 until parts).foreach { i =>
      val path = new Path(new File(dir, f"documents.parquet/part-$i%05d.parquet").getPath)
      val w = ExampleParquetWriter.builder(path).withType(docSchema).withConf(conf).build()
      try docs.slice(i * docs.length / parts, (i + 1) * docs.length / parts).foreach { d =>
        w.write(groups.newGroup().append("doc_id", d.doc_id).append("text", d.text)
          .append("lang", d.lang).append("source", d.source).append("n_chars", d.n_chars))
      } finally w.close()
    }
    dir.getPath
  }

  /** Run one CLI op with its stdout captured by a digesting sink. */
  def runOp(spark: SparkSession, args: String*): (Int, DigestSink, Double) = {
    val sink = new DigestSink
    val ps = new PrintStream(sink, false, "UTF-8")
    val t0 = System.nanoTime()
    val rc =
      try Console.withOut(ps)(Main.runOp(spark, args.head, Main.parseOpts(args.toArray)))
      catch { case e: Throwable => log(s"op ${args.mkString(" ")} threw $e"); -1 }
    val wall = (System.nanoTime() - t0) / 1e9
    ps.flush()
    if (rc != 0) log(s"op ${args.mkString(" ")} exited $rc")
    log(f"op ${args.head} $wall%.3f s")
    // each CLI op is a fresh process for a user: nothing cached carries over
    Blocks.sweep(spark)
    (rc, sink, wall)
  }

  /** Order-independent digest of (file_id, value) rows. */
  def frameDigest(df: DataFrame): String =
    sha(df.collect().map(r => s"${r.get(0)}:${r.get(1)}").sorted.mkString("\n"))
  def dbDigest(spark: SparkSession, db: String): String =
    frameDigest(spark.read.parquet(s"$db/duplicates").select("file_id", "hash"))
  def clusterDigest(spark: SparkSession, dir: String): String =
    frameDigest(spark.read.parquet(dir).select("file_id", "cluster_id"))

  /** One pass over the workload's user-facing ops: `scan`, `file --db --id`
    * probes, `report --db` and `scan` again on exact-db; `clusters` on
    * near-skew. */
  def pass(spark: SparkSession, in: Inputs, trace: Trace): Pass = {
    val db = new File(in.out, "db").getPath
    val cl = new File(in.out, "cl").getPath
    rm(new File(db)); rm(new File(cl))
    val shuffle0 = trace.shuffleBytes()
    var failed = 0
    def op(args: String*): (DigestSink, Double) = {
      val (rc, sink, wall) = runOp(spark, args: _*)
      if (rc != 0) failed += 1
      (sink, wall)
    }
    val p = if (in.shape.clusters) {
      val wall = op("clusters", "--data", in.base, "--out", cl)._2
      Pass(Map("clusters" -> wall), Vector.empty, Vector.empty, 0L,
        Map("clusters" -> clusterDigest(spark, cl)), 0L, 1, 0)
    } else {
      val scan = op("scan", "--data", in.base, "--out", db)._2
      val lookups = in.planted.lookupIds.map(id =>
        op("file", "--data", in.base, "--db", db, "--id", id.toString))
      val (report, reportWall) = op("report", "--data", in.base, "--db", db)
      // a second scan, so that files_per_s is a median of two
      val scan2 = op("scan", "--data", in.base, "--out", db)._2
      Pass(Map("scan" -> scan, "report" -> reportWall, "scan2" -> scan2), lookups.map(_._2 * 1000),
        lookups.map(_._1.lines), report.lines,
        Map("scan" -> dbDigest(spark, db), "lookup" -> sha(lookups.map(_._1.hex).mkString(",")),
          "report" -> report.hex), 0L, 3 + lookups.length, 0)
    }
    p.copy(shuffleBytes = trace.shuffleBytes() - shuffle0, opsFailed = failed)
  }

  // ---------------------------------------------------------------- checks

  /** Output checks; each failed check counts as one failed op. */
  final class Checks {
    var attempted = 0
    var failed = 0
    def expect(what: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) { failed += 1; log(s"CHECK FAILED: $what") }
    }
  }

  /** Naive exact-dup reference: one groupBy over sha2(content). */
  def naiveDups(spark: SparkSession, data: String): DataFrame = {
    val c = Tables.corpus(spark, data).filter(col("size") >= 1)
      .select(col("file_id"), sha2(col("content"), 256).as("hash"))
    val sets = c.groupBy("hash").agg(count(lit(1)).as("n")).filter(col("n") >= 2)
    c.join(sets, Seq("hash")).select("file_id", "hash", "n")
  }

  /** The text report rendered independently from the stored db's rows. */
  def expectedReport(spark: SparkSession, db: String): (Long, String) = {
    val rows = spark.read.parquet(s"$db/duplicates")
      .select("repo", "path", "size", "hash").collect()
      .map(r => (r.getString(0) + "/" + r.getString(1), r.getLong(2), r.getString(3)))
    val n = rows.groupBy(r => (r._2, r._3)).view.mapValues(_.length.toLong).toMap
    val sorted = rows.map { case (pth, size, h) => (size * n((size, h)), h, pth, size) }
      .sortBy(r => (r._1, r._2, r._3))
    val out = new StringBuilder
    var lines = 0L
    var prev: (Long, String) = null
    var total = 0L
    sorted.foreach { case (tot, h, pth, size) =>
      if (prev != ((tot, h))) {
        out ++= s"$tot total bytes used by duplicates of size $size:\n"
        lines += 1
        total += tot
        prev = (tot, h)
      }
      out ++= s"  $pth\n"
      lines += 1
    }
    val kib = total / 1024.0
    out ++= f"Total used: $total bytes ($kib%.2f KiB, ${kib / 1024}%.2f MiB, ${kib / 1048576}%.2f GiB)" + "\n"
    (lines + 1, sha(out.toString))
  }

  /** 5-gram shingle Jaccard on raw characters, independent of graft's
    * hashed shingles. */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String) = (0 to s.length - 5).map(i => s.substring(i, i + 5)).toSet
    val x = sh(a)
    val y = sh(b)
    val inter = x.count(y)
    inter.toDouble / (x.size + y.size - inter)
  }

  /** `scan`, lookup and report outputs against naive references. */
  def checkExact(spark: SparkSession, in: Inputs, p: Pass, naive: DataFrame, c: Checks): Unit = {
    c.expect("scan dup sets == naive groupBy(sha2)",
      p.digests("scan") == frameDigest(naive.select("file_id", "hash")))
    val ids = in.planted.lookupIds
    val setSize = naive.filter(col("file_id").isin(ids: _*))
      .select("file_id", "n").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.zip(p.lookupLines).foreach { case (id, lines) =>
      c.expect(s"file --id $id lists its ${setSize.getOrElse(id, 0L)} set members (saw $lines)",
        lines == setSize.getOrElse(id, 0L))
    }
    val (repLines, repDigest) = expectedReport(spark, new File(in.out, "db").getPath)
    c.expect(s"report has $repLines lines (saw ${p.reportLines})", p.reportLines == repLines)
    c.expect("report digest matches the stored db", p.digests("report") == repDigest)
  }

  /** Cluster labels: one per shingleable file, shared by exact dups; returns
    * the recall over planted near pairs that the naive Jaccard confirms. */
  def checkClusters(spark: SparkSession, in: Inputs, dir: String, naive: DataFrame,
                    c: Checks): Double = {
    val shingleable = Tables.corpus(spark, in.base).filter(col("size") >= ncfg.shingleK).count()
    val cl = spark.read.parquet(dir)
    val clStats = cl.agg(count(lit(1)), countDistinct(col("file_id"))).head()
    c.expect(s"clusters label each of $shingleable files once",
      clStats.getLong(0) == shingleable && clStats.getLong(1) == shingleable)
    val split = naive.join(cl, Seq("file_id")).groupBy("hash")
      .agg(countDistinct(col("cluster_id")).as("k")).filter(col("k") > 1).count()
    c.expect(s"exact dups share one cluster ($split sets split)", split == 0)
    val scored = in.scoredPairs
    val need = scored.flatMap { case (a, b) => Seq(a, b) }.distinct
    val label = cl.filter(col("file_id").isin(need: _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hit = scored.count { case (a, b) => label.get(a).exists(label.get(b).contains) }
    val recall = hit.toDouble / scored.length
    c.expect(f"near-pair recall $recall%.3f over ${scored.length} pairs >= $MinRecall",
      recall >= MinRecall)
    recall
  }

  def inputStats(spark: SparkSession, in: Inputs, naive: DataFrame): Map[String, Any] = {
    val corpus = Tables.corpus(spark, in.base)
    val files = corpus.count()
    val sizeCollide = corpus.groupBy("size").count().filter(col("count") >= 2)
      .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
    Map[String, Any](
      "files" -> files,
      "bytes" -> corpus.agg(sum("size")).head().getLong(0),
      "size_collision_share" -> sizeCollide.toDouble / files,
      "dup_share" -> naive.count().toDouble / files,
      "family_sizes" -> in.planted.familySizes.groupBy(identity).view.mapValues(_.size)
        .toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }.mkString(","),
      "scored_near_pairs" -> in.scoredPairs.length,
      "drift_bucket" -> in.planted.driftBucket)
  }

  // ---------------------------------------------------------------- traced pass

  val ExactSpans = Seq("exact.sizes", "exact.hash", "exact.sets", "state.db_write",
    "query.lookup", "query.report")
  val NearSpans = Seq("near.reps", "near.signals", "near.candidates", "near.cand_shingles",
    "near.verify", "cluster.cc", "near.expand", "state.labels_write")
  val StateSpans = Seq("state.ckpt_scan", "state.resume")
  val Counters = Seq("exact.size_survivor_frac", "exact.prefix_survivor_frac",
    "near.plausible_pairs", "near.verify_yield", "skew.dropped_buckets",
    "skew.largest_bucket", "cluster.rounds", "cluster.largest_component",
    "state.buckets_recomputed", "query.jobs_per_lookup", "near.pair_recall", "skew.hot_buckets")

  /** Every layer called directly under a span: the scan, lookups and report,
    * the clusters pipeline, then the checkpointed scan and its resume after
    * drift. Returns the counters and the digests of the scan and clusters
    * outputs. */
  def tracedPass(spark: SparkSession, in: Inputs, t: Trace, c: Checks,
                 naive: DataFrame): (mutable.Map[String, Double], Map[String, String]) = {
    val o = new File(in.out, "traced")
    rm(o)
    def p(n: String) = new File(o, n).getPath
    val counters = mutable.LinkedHashMap.empty[String, Double]
    val corpus = Tables.corpus(spark, in.base)
    val scanned = ExactDedup.scanFilter(corpus, cfg).count()

    t.span("trace.exact", "") {
      val sizeSurv = t.span("exact.sizes", "trace.exact") {
        ExactDedup.candidateSizes(corpus, cfg).collect()
        ExactDedup.sizeSurvivors(corpus, cfg).count()
      }
      val prefixSurv = t.span("exact.hash", "trace.exact") {
        ExactDedup.hashedNarrow(corpus, cfg).count()
        ExactDedup.hashedSurvivors(corpus, cfg).count()
      }
      val dups = t.span("exact.sets", "trace.exact") {
        ExactDedup.duplicates(corpus, cfg).localCheckpoint(true)
      }
      t.span("state.db_write", "trace.exact") {
        dups.write.mode("overwrite").parquet(p("db/duplicates"))
        DbMeta.write(spark, p("db"), cfg)
      }
      Blocks.free(dups)
      Blocks.sweep(spark)
      counters("exact.size_survivor_frac") = sizeSurv.toDouble / scanned
      counters("exact.prefix_survivor_frac") = prefixSurv.toDouble / math.max(1L, sizeSurv)
      t.span("query.lookup", "trace.exact") {
        in.planted.lookupIds.foreach { id =>
          DbMeta.check(spark, p("db"))
          ExactDedup.fileStatusesIn(spark.read.parquet(p("db/duplicates")), corpus, id,
            None, DbMeta.read(spark, p("db")).fold(cfg)(m => cfg.copy(hashAlg = m.alg)))
            .orderBy("file_id").collect()
        }
      }
      t.span("query.report", "trace.exact") {
        DbMeta.check(spark, p("db"))
        Report.text(Report.reportRows(spark.read.parquet(p("db/duplicates")))).foreach(_ => ())
      }
      Blocks.sweep(spark)
    }

    t.span("trace.near", "") {
      val outer = new PersistScope
      val inner = new PersistScope
      val reps = t.span("near.reps", "trace.near") {
        val r = outer.persist(NearDup.representatives(corpus, ncfg)); r.count(); r
      }
      val sigs = t.span("near.signals", "trace.near") {
        val s = inner.persist(NearDup.signalFrame(reps, ncfg)); s.count(); s
      }
      val (plausible, nPlausible) = t.span("near.candidates", "trace.near") {
        val pl = inner.persist(NearDup.allCandidates(sigs, ncfg, inner).distinct())
        (pl, pl.count())
      }
      val sh = t.span("near.cand_shingles", "trace.near") {
        val s = inner.persist(NearDup.candidateShingles(reps, plausible, ncfg)); s.count(); s
      }
      val (edges, nVerified) = t.span("near.verify", "trace.near") {
        val e = NearDup.verifyCandidates(plausible, sh, ncfg).select("a", "b").localCheckpoint(true)
        (e, e.count())
      }
      inner.release()
      counters("near.plausible_pairs") = nPlausible.toDouble
      counters("near.verify_yield") = nVerified.toDouble / math.max(1L, nPlausible)
      val (labels, rounds) = t.span("cluster.cc", "trace.near") {
        val r = ConnectedComponents.runWithStats(reps.select("file_id"), edges)
        (r.labels.localCheckpoint(true), r.rounds)
      }
      Blocks.free(edges)
      counters("cluster.rounds") = rounds.toDouble
      // every file inherits the cluster of its exact set's representative,
      // the member expansion `clusters` performs
      val all = t.span("near.expand", "trace.near") {
        val files = ExactDedup.scanFilter(corpus, cfg).filter(col("size") >= ncfg.shingleK)
        val sizeN = files.groupBy("size").agg(count(lit(1)).as("__n"))
        val narrow = files.join(sizeN, Seq("size")).select(col("file_id"), col("size"),
          when(col("__n") >= 2, sha2(col("content"), 256)).otherwise(lit("")).as("hash"))
        val repOf = narrow.groupBy("size", "hash").agg(min("file_id").as("rep_id"))
        narrow.join(repOf, Seq("size", "hash"))
          .join(labels.select(col("file_id").as("rep_id"), col("cluster_id")), Seq("rep_id"))
          .select("file_id", "cluster_id").localCheckpoint(true)
      }
      t.span("state.labels_write", "trace.near") {
        all.write.mode("overwrite").parquet(p("cl"))
      }
      outer.release()
      Blocks.free(labels)
      Blocks.free(all)
    }
    Blocks.sweep(spark)

    // band and chunk bucket sizes, keyed as the fused candidate join keys them
    val sigs = NearDup.signalFrame(NearDup.representatives(corpus, ncfg), ncfg)
    val w = ncfg.simBits / ncfg.simChunks
    val buckets = NearDup.bandsOf(sigs, ncfg).select(col("band_idx").as("k"), col("band_key").as("v"))
      .unionAll(sigs.select(posexplode(expr(s"transform(sequence(0, ${ncfg.simChunks - 1}), " +
        s"c -> shiftright(simhash, c * $w) & ${(1L << w) - 1})")))
        .select((col("pos") + ncfg.bands).cast("long").as("k"), col("col").cast("string").as("v")))
      .groupBy("k", "v").count()
      .agg(max("count"), sum(when(col("count") > ncfg.hotBucket && col("count") <= ncfg.maxBucket, 1)
        .otherwise(0))).head()
    counters("near.largest_bucket") = buckets.getLong(0).toDouble
    counters("skew.hot_buckets") = buckets.getLong(1).toDouble
    Blocks.sweep(spark)

    // the checkpointed scan and its resume: one bucket of eight drifted
    t.span("trace.state", "") {
      t.span("state.ckpt_scan", "trace.state") {
        Checkpoints.checkpointedDuplicates(spark, corpus, p("ck"), Buckets, cfg)
          .write.mode("overwrite").parquet(p("ckdb/duplicates"))
      }
      Blocks.sweep(spark)
      val manifest = new File(o, "ck/_metrics").getPath
      def rows() = spark.read.parquet(manifest).filter(col("stage") === "exact").count()
      val before = rows()
      t.span("state.resume", "trace.state") {
        Checkpoints.checkpointedDuplicates(spark, Tables.corpus(spark, in.drift), p("ck"),
          Buckets, cfg).write.mode("overwrite").parquet(p("rsdb/duplicates"))
      }
      counters("state.buckets_recomputed") = (rows() - before).toDouble
      Blocks.sweep(spark)
    }

    counters("cluster.largest_component") = spark.read.parquet(p("cl"))
      .groupBy("cluster_id").count().agg(max("count")).head().getLong(0).toDouble
    val (dropped, largest) = t.skew()
    counters("skew.dropped_buckets") = dropped.toDouble
    counters("skew.largest_bucket") = largest.toDouble
    counters("query.jobs_per_lookup") =
      t.stats(t.spans.find(_.name == "query.lookup").get).jobs.toDouble / in.planted.lookupIds.length

    // every traced output against the naive references
    val naiveDigest = frameDigest(naive.select("file_id", "hash"))
    c.expect("traced scan == naive groupBy(sha2)", dbDigest(spark, p("db")) == naiveDigest)
    c.expect("checkpointed scan == naive groupBy(sha2)", dbDigest(spark, p("ckdb")) == naiveDigest)
    c.expect("resumed scan == naive groupBy(sha2) of the drifted input",
      dbDigest(spark, p("rsdb")) == frameDigest(naiveDups(spark, in.drift).select("file_id", "hash")))
    c.expect(s"resume recomputed exactly 1 bucket (saw ${counters("state.buckets_recomputed")})",
      counters("state.buckets_recomputed") == 1.0)
    counters("near.pair_recall") = checkClusters(spark, in, p("cl"), naive, c)
    (counters, Map("scan" -> dbDigest(spark, p("db")), "clusters" -> clusterDigest(spark, p("cl"))))
  }

  // ---------------------------------------------------------------- main

  def jsonValue(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => jsonValue(k.toString) + ":" + jsonValue(x) }.mkString("{", ",", "}")
    case other => jsonValue(other.toString)
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val records = new File(opts("records")).getAbsoluteFile
    val shape = Shape.byWorkload(workload)
    work.mkdirs(); records.mkdirs()

    // input generation, excluded from the set-up time
    val g0 = System.nanoTime()
    val planted = new Gen(seed, shape).generate()
    val data = new File(work, "data")
    val in = Inputs(writeDocs(planted.docs, new File(data, "base")),
      if (traced) writeDocs(planted.docs ++ planted.drift, new File(data, "drift")) else "",
      new File(work, "out"), shape, planted)
    log(f"generated ${planted.docs.length} docs in ${(System.nanoTime() - g0) / 1e9}%.1f s")

    // set-up: a new session that reads the input once; timed several times,
    // the last session stays for the measurement
    var spark: SparkSession = null
    val setups = (1 to (if (traced) 1 else SetupReps)).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(work)
      Tables.corpus(spark, in.base).count()
      (System.nanoTime() - t0) / 1e9
    }
    log(s"setups: ${setups.map(s => f"$s%.2f").mkString(" ")}")

    val trace = new Trace(spark, s"$workload-$seed-${System.currentTimeMillis()}")
    val c = new Checks
    // naive exact-dup reference and input statistics, built after the
    // untraced passes so that they do not warm the JIT for them
    lazy val naive = naiveDups(spark, in.base).cache()
    lazy val stats0 = inputStats(spark, in, naive)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val (digests, stats) = if (!traced) {
      // the warm-up passes, then passes until --seconds have gone by
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      do {
        passes += pass(spark, in, trace)
        log(f"pass ${passes.length}: ${passes.last.walls.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")} " +
          f"lookup_p50=${median(passes.last.lookupMs)}%.0fms")
      } while (passes.length <= shape.warmupPasses || System.nanoTime() < deadline)
      val measured = passes.drop(shape.warmupPasses)
      log("checking")
      if (shape.clusters) checkClusters(spark, in, new File(in.out, "cl").getPath, naive, c)
      else checkExact(spark, in, passes.head, naive, c)
      passes.tail.foreach(x => c.expect("outputs identical across passes", x.digests == passes.head.digests))
      val files = stats0("files").asInstanceOf[Long].toDouble
      val headline = if (shape.clusters) Seq("clusters") else Seq("scan", "scan2")
      metrics("setup_s") = (median(setups), "s")
      metrics("files_per_s") = (files / median(measured.flatMap(p => headline.map(p.walls)).toSeq), "files/s")
      metrics("pass_s") = (median(measured.map(_.wall).toSeq), "s")
      metrics("shuffle_write_mb") = (median(measured.map(_.shuffleBytes / 1e6).toSeq), "MB")
      (passes.head.digests, stats0)
    } else {
      val t0 = System.nanoTime()
      val (counters, digests) = tracedPass(spark, in, trace, c, naive)
      log(f"traced pass ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val stats = stats0 + ("largest_bucket" -> counters("near.largest_bucket").toLong)
      val byName = trace.spans.map(s => s.name -> s).toMap
      val table = new StringBuilder(f"%n${"span"}%-20s ${"wall_s"}%8s ${"cpu_s"}%8s " +
        f"${"driver_s"}%8s ${"jobs"}%5s ${"shufMB"}%8s ${"spillMB"}%8s ${"skew"}%6s%n")
      (ExactSpans ++ NearSpans ++ StateSpans).foreach { n =>
        val st = trace.stats(byName(n))
        metrics(s"$n.wall_s") = (st.wallS, "s")
        metrics(s"$n.exec_cpu_s") = (st.execCpuS, "s")
        metrics(s"$n.driver_s") = (st.driverS, "s")
        metrics(s"$n.jobs") = (st.jobs.toDouble, "count")
        metrics(s"$n.shuffle_write_mb") = (st.shuffleWriteMb, "MB")
        metrics(s"$n.spill_mb") = (st.spillMb, "MB")
        metrics(s"$n.task_skew") = (st.taskSkew, "ratio")
        table ++= f"$n%-20s ${st.wallS}%8.3f ${st.execCpuS}%8.3f ${st.driverS}%8.3f ${st.jobs}%5d " +
          f"${st.shuffleWriteMb}%8.2f ${st.spillMb}%8.2f ${st.taskSkew}%6.2f%n"
      }
      Counters.foreach { k =>
        metrics(k) = (counters(k), if (k.endsWith("frac") || k.endsWith("yield") || k.endsWith("recall")) "ratio" else "count")
        table ++= f"$k%-30s ${counters(k)}%.4f%n"
      }
      // the traced wall of the spans that redo the workload's ops; minus an
      // untraced run's pass_s it is the tracing overhead end to end
      metrics("trace.ops_wall_s") = (byName(if (shape.clusters) "trace.near" else "trace.exact").wallS, "s")
      metrics("trace.overhead_s") = (trace.overheadS, "s")
      metrics("trace.near_span_coverage") =
        (NearSpans.map(byName(_).wallS).sum / byName("trace.near").wallS, "ratio")
      metrics("run.peak_rss_mb") = (peakRssMb(), "MB")
      table ++= f"ops traced ${metrics("trace.ops_wall_s")._1}%.2f s, listener ${trace.overheadS}%.3f s, " +
        f"near span coverage ${metrics("trace.near_span_coverage")._1}%.3f%n"
      System.err.print(table)
      // spans and counters as JSONL, written once the run has ended
      val w = new java.io.FileWriter(new File(records, s"trace-$workload-seed$seed.jsonl"))
      try {
        trace.spans.foreach(s => w.write(jsonValue(mutable.LinkedHashMap("span" -> s.name,
          "parent" -> s.parent, "run_id" -> s.runId, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "wall_s" -> s.wallS)) + "\n"))
        metrics.foreach { case (k, (v, u)) =>
          w.write(jsonValue(mutable.LinkedHashMap("run_id" -> trace.runId, "metric" -> k,
            "value" -> v, "unit" -> u)) + "\n")
        }
      } finally w.close()
      (digests, stats)
    }
    naive.unpersist()

    // the same seed must give the same outputs in every run of this build
    val digestFile = new File(records, s"$workload-seed$seed-trace${opts("trace")}-${opts("build")}.digest")
    val digestLine = digests.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
    if (digestFile.exists()) {
      val src = scala.io.Source.fromFile(digestFile)
      val prev = try src.mkString.trim finally src.close()
      c.expect("outputs identical to an earlier run with this seed", prev == digestLine)
    } else {
      val w = new java.io.FileWriter(digestFile)
      try w.write(digestLine + "\n") finally w.close()
    }
    trace.close()
    log("input " + jsonValue(stats))
    spark.stop()
    log("stopped")

    val attempted = passes.map(_.opsRun).sum + c.attempted
    val failed = passes.map(_.opsFailed).sum + c.failed
    val result = mutable.LinkedHashMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })
    val w = new java.io.FileWriter(new File(work, "result.json"))
    try w.write(jsonValue(result) + "\n") finally w.close()
    sys.exit(if (failed == 0) 0 else 1)
  }
}
