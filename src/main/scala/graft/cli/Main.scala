package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.exact.{DedupConfig, ExactDedup}
import graft.near.{NearConfig, NearDup}
import graft.query.Report
import graft.state.DbMeta
import graft.util.Blocks

/** spark-submit entry mirroring the reference CLI's operations
  * (/root/reference/src/options.conf, src/main.c:558-583):
  *
  *   graft.cli.Main <op> --data <sfDir> [flags]
  *
  *   scan      write the duplicates db to --out (parquet + meta), like
  *             `dupd scan` (the scan's output is a database, not a report —
  *             /root/reference/docs/design.md:9-28)
  *   report    text/csv/json report (--format, --cut, --minsize)
  *   uniques | dups | ls    file classification listings; `ls` lists EVERY
  *             file with its status (/root/reference/src/report.c:485-542).
  *             All three honor --cut (printed paths) and --exclude-path
  *             (partners under the prefix do not count as duplicates —
  *             report.c:243-251,413-452, options.conf:40-59)
  *   file      one file's dup set (--id N or --path repo/relpath, like
  *             `dupd file PATH`), re-verified vs the current data
  *   cmp-two   direct compare of two files (--id-a/--id-b or
  *             --path-a/--path-b; reference `scan --cmp-two`,
  *             options.conf:22, src/filecompare.c:44-111)
  *   refresh   drop vanished members (--drop-repo simulates deletions)
  *   validate  exit 1 if any set's members diverge (src/report.c:607-679)
  *   rmsh      rm-shell script on stdout (--link / --hardlink replace each
  *             removed file with a sym/hard link to the kept member)
  *   near      near-dup verified pairs to --out
  *   clusters  near-dup clusters to --out
  *   hash      per-row sha256 of one file (--id N or --path repo/relpath,
  *             the reference's `dupd hash FILE`, options.conf:61-62,
  *             src/hash.c:683-727); with --db, read-through from the stored
  *             scan
  *   cache     ls | delete on a --checkpoint root (src/cache.c:33-55)
  *
  * Flags: --minsize N (F2/F7), --cut PREFIX (C8), --format text|csv|json,
  * --hidden (F1), --hardlink-is-unique (F8 — link-identity rows collapse to
  * one physical instance before dedup), --exclude-path PREFIX (F6),
  * --out DIR, --db DIR (query a stored scan instead of rescanning — the
  * dupd scan/query split), --checkpoint DIR --buckets N (resumable scan),
  * --stats-file F (S9 append sink).
  */
object Main {

  /** One-token boolean flags vs two-token valued flags: consume accordingly
    * (sliding(2,2) misaligned everything after a bare --hidden). */
  def parseOpts(args: Array[String]): Map[String, String] = {
    val booleanFlags = Set("hidden", "link", "hardlink", "hardlink-is-unique")
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 1
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val k = a.drop(2)
        if (booleanFlags(k)) { m(k) = "true"; i += 1 }
        else if (i + 1 < args.length) { m(k) = args(i + 1); i += 2 }
        else i += 1 // trailing valued flag with no value: ignore
      } else i += 1
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val op = args.headOption.getOrElse("help")
    val opts = parseOpts(args)
    val spark = graft.util.Sessions.create(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), s"graft-$op")
    val exitCode = runOp(spark, op, opts)
    spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }

  /** The op dispatch, session-neutral (testable without owning the session:
    * CliSpec drives every op through here with captured stdout). */
  def runOp(spark: SparkSession, op: String, opts: Map[String, String]): Int = {
    val dataDir = opts.getOrElse("data", "/root/testdata/sf0.001")
    val cfg = DedupConfig(
      minSize = opts.get("minsize").map(_.toLong).getOrElse(1L),
      includeHidden = opts.contains("hidden"),
      hashAlg = opts.getOrElse("alg", "sha256"),
      // --repos a,b = multiple --path roots + one-file-system (F5/S1)
      repos = opts.get("repos").map(_.split(",").toSeq).getOrElse(Nil))
    val cutP = opts.get("cut")
    val exclP = opts.get("exclude-path")
    def rawCorpus = Tables.corpus(spark, dataDir)
    // --hardlink-is-unique (HLUQ, /root/reference/src/options.conf:8,
    // readlist.c:269-297): rows sharing a link identity collapse to one
    // physical instance BEFORE any dedup stage sees them
    def corpus: DataFrame =
      if (opts.contains("hardlink-is-unique"))
        rawCorpus.join( // inner ≡ semi: one row per surviving file id
          ExactDedup.hardlinkUnique(rawCorpus, cfg).select("file_id"),
          Seq("file_id"))
      else rawCorpus

    /** The stored db's meta (`--db`), read once per op: the open-time
      * checks (dupd src/dbops.c:244-293) and [[qcfg]] use it. */
    lazy val dbMeta: Option[DbMeta.Meta] = opts.get("db").flatMap { dir =>
      val m = DbMeta.read(spark, dir)
      DbMeta.warnings(dir, m).foreach(w => System.err.println(s"[graft] WARNING: $w"))
      m
    }

    /** Effective config for query ops: when reading a stored db, fields the
      * user did NOT explicitly set ADOPT the db's recorded scan config (so
      * `hash --db <md5 db>` answers with the db's own algorithm instead of
      * silently recomputing sha256 and reporting every member as diverged);
      * explicitly conflicting flags warn — stored results always reflect
      * the scan-time config (dupd's open_database strictness,
      * /root/reference/src/dbops.c:244-293). */
    lazy val qcfg: DedupConfig = dbMeta.map { m =>
      val conflicts = Seq(
        (opts.contains("alg") && m.alg != cfg.hashAlg) ->
          s"db scanned with --alg ${m.alg}, requested ${cfg.hashAlg}",
        (opts.contains("minsize") && m.minsize != cfg.minSize) ->
          s"db scanned with --minsize ${m.minsize}, requested ${cfg.minSize}",
        (opts.contains("hidden") && !m.hidden) ->
          s"db scanned with hidden=false, requested true")
      conflicts.collect { case (true, msg) => msg }.foreach(msg =>
        System.err.println(s"[graft] WARNING: $msg — stored results " +
          "reflect the scan-time config; re-run scan to change it"))
      cfg.copy(
        hashAlg = if (opts.contains("alg")) cfg.hashAlg else m.alg,
        minSize = if (opts.contains("minsize")) cfg.minSize else m.minsize,
        includeHidden = if (opts.contains("hidden")) cfg.includeHidden
                        else m.hidden)
    }.getOrElse(cfg)

    /** The frame over a live duplicates leaf this op built, freed at its end. */
    var owned: Option[DataFrame] = None

    /** duplicates relation, built once per op: stored (--db, opened after
      * its checks), checkpointed (--checkpoint), or computed from the data. */
    lazy val dupsDf: DataFrame = opts.get("db") match {
      case Some(dir) =>
        dbMeta
        spark.read.schema(ExactDedup.DuplicatesSchema).parquet(s"$dir/duplicates")
      case None => opts.get("checkpoint") match {
        case Some(root) => graft.state.Checkpoints.checkpointedDuplicates(
          spark, corpus, root, opts.getOrElse("buckets", "8").toInt, cfg)
        case None => owned = Some(ExactDedup.duplicates(corpus, cfg)); owned.get
      }
    }
    def reportRows(minTotal: Long = 0L) =
      Report.reportRows(dupsDf, cutP, minTotal)

    /** --cut applied to a rendered repo/path column (the reference cuts
      * EVERY printed path, /root/reference/src/report.c:77-101). */
    def cutPath = Report.cut(concat(col("repo"), lit("/"), col("path")), cutP)

    /** Resolve --path repo/relative/path to a file_id (the reference's
      * user-facing identity, /root/reference/src/report.c:467-483). */
    def idByPath(rp: String): Option[Long] = {
      val (r, p) = rp.span(_ != '/')
      corpus.filter(col("repo") === r && col("path") === p.stripPrefix("/"))
        .select("file_id").limit(1)
        .collect().headOption.map(_.getLong(0))
    }

    /** --id N, or --path repo/relpath (suffix '' = the flag pair used by
      * cmp-two: --id-a/--path-a). Returns None + stderr note if unresolved. */
    def resolveId(suffix: String): Option[Long] =
      opts.get(s"path$suffix") match {
        case Some(rp) =>
          val id = idByPath(rp)
          if (id.isEmpty) System.err.println(s"no file at path $rp")
          id
        case None =>
          val id = opts.get(s"id$suffix").map(_.toLong)
          // file/hash with NEITHER flag: usage error to stderr (mirrors the
          // cmp-two branch; the -a/-b suffixes print their own message)
          if (id.isEmpty && suffix.isEmpty)
            System.err.println(s"$op needs --id N or --path repo/relpath")
          id
      }

    /** Stream a listing to stdout without collecting it on the driver
      * (dupd streams per file; a .collect() at 10^12 rows is a driver OOM). */
    def stream(df: DataFrame)(render: org.apache.spark.sql.Row => String): Unit =
      df.toLocalIterator().forEachRemaining(r => println(render(r)))

    try op match {
      case "scan" =>
        val out = opts.getOrElse("out", "/tmp/graft_db")
        val d = dupsDf
        d.write.mode("overwrite").parquet(s"$out/duplicates")
        DbMeta.write(spark, out, cfg)
        // S9 — append counters to --stats-file (src/stats.c:183-201)
        opts.get("stats-file").foreach { f =>
          val s = ExactDedup.statsIn(ExactDedup.scanFilter(corpus, cfg), d).head()
          val line = s.schema.fieldNames.zipWithIndex
            .map { case (n, i) => s""""$n":${s.get(i)}""" }
            .mkString("{", ",", s""","dbtime":${System.currentTimeMillis()}}""")
          val fw = new java.io.FileWriter(f, true)
          try fw.write(line + "\n") finally fw.close()
        }
        println(s"scan db written to $out"); 0
      case "report" =>
        val s = reportRows(opts.get("minsize").map(_.toLong).getOrElse(0L))
        opts.getOrElse("format", "text") match {
          case "csv" => Report.csv(s).foreach(println)
          case "json" => Report.json(s).foreach(println)
          case _ => Report.text(s).foreach(println)
        }
        0
      case "uniques" | "dups" | "ls" =>
        // every file's status: one window pass over a live scan, or the scan
        // against the stored / checkpointed duplicates relation. `ls` lists
        // EVERY file (reference prints both kinds, src/report.c:485-542),
        // uniques/dups one status; --exclude-path demotes files whose
        // partners all fall under the prefix; --cut applies to printed paths
        val statuses =
          if (opts.contains("db") || opts.contains("checkpoint"))
            ExactDedup.lsIn(ExactDedup.scanFilter(corpus, qcfg), dupsDf, exclP)
          else ExactDedup.fileStatusesAll(corpus, cfg, exclP)
        val rows = if (op == "ls") statuses
          else statuses.filter(col("status") === (if (op == "uniques") "UNIQUE" else "DUPLICATE"))
        stream(rows.select(col("file_id"), cutPath.as("p"), col("status"))
          .orderBy("file_id"))(r => f"${r.getString(2)}%9s: ${r.get(1)}"); 0
      case "file" =>
        resolveId("") match {
          case None => 1
          case Some(id) =>
            val res = opts.get("db") match {
              // stored-scan lookup, re-verified against the CURRENT data (J2)
              case Some(_) => ExactDedup.fileStatusesIn(dupsDf, corpus, id,
                exclP, qcfg)
              // live: the same collected reads over the scan itself
              case None => ExactDedup.fileStatusesCollected(corpus, corpus, id,
                exclP, cfg)
            }
            // a set is small: print it collected, ordered on the driver
            res.withColumn("p", cutPath).collect().sortBy(_.getLong(0))
              .foreach(r => println(f"${r.getString(3)}%8s: ${r.get(4)}"))
            0
        }
      case "cmp-two" =>
        // reference `scan --cmp-two` (options.conf:22): direct block compare
        // of exactly two files, bypassing the cascade (filecompare.c:44-111)
        (resolveId("-a"), resolveId("-b")) match {
          case (Some(a), Some(b)) =>
            val rows = ExactDedup.compareTwo(corpus, a, b).collect()
            rows.headOption match {
              case Some(r) if r.getBoolean(2) =>
                println(s"files $a and $b are identical"); 0
              case Some(_) =>
                println(s"files $a and $b differ"); 1
              case None =>
                System.err.println(s"file $a or $b not found"); 1
            }
          case _ =>
            System.err.println(
              "cmp-two needs --id-a/--path-a and --id-b/--path-b"); 2
        }
      case "refresh" =>
        val snapshot = opts.get("drop-repo")
          .fold(corpus)(rm => corpus.filter(col("repo") =!= rm))
        val refreshed = ExactDedup.refresh(dupsDf, snapshot)
        val out = opts.getOrElse("out", "/tmp/graft_duplicates_refreshed")
        refreshed.write.mode("overwrite").parquet(out)
        println(s"refreshed duplicates written to $out"); 0
      case "validate" =>
        owned = Some(ExactDedup.validate(corpus, cfg))
        val bad = owned.get.count()
        println(if (bad == 0) "validate: OK" else s"validate: $bad sets diverged")
        if (bad == 0) 0 else 1
      case "rmsh" =>
        // --link / --hardlink: recreate each removed path as a symlink /
        // hardlink to the kept member (options.conf:69-70, tests/test.26-28)
        val mode =
          if (opts.contains("hardlink")) Report.RmshLink.Hard
          else if (opts.contains("link")) Report.RmshLink.Soft
          else Report.RmshLink.NoLink
        Report.rmShell(reportRows(), mode).foreach(println); 0
      case "near" =>
        val out = opts.getOrElse("out", "/tmp/graft_neardup_pairs")
        // --checkpoint: the signal stage (the dominant per-row pass) is
        // per-bucket resumable; pair joins run live from stored signals
        val pairs = opts.get("checkpoint") match {
          case Some(root) =>
            val ncfg = NearConfig()
            val sigs = graft.state.Checkpoints.checkpointedNearSignatures(
              spark, corpus, root, opts.getOrElse("buckets", "8").toInt, ncfg)
            graft.util.PersistScope.scoped { s =>
              NearDup.verifiedPairsFromSigs(s.persist(sigs),
                s.persist(NearDup.representatives(corpus, ncfg)), ncfg, s)
            }
          case None => NearDup.verifiedPairs(corpus, NearConfig())
        }
        pairs.write.mode("overwrite").parquet(out)
        println(s"near-dup pairs written to $out"); 0
      case "clusters" =>
        val out = opts.getOrElse("out", "/tmp/graft_clusters")
        NearDup.allFileClusters(corpus, NearConfig()).write.mode("overwrite").parquet(out)
        println(s"clusters written to $out"); 0
      case "hash" =>
        // --id N or --path repo/relpath (reference `dupd hash FILE`,
        // options.conf:61-62, src/hash.c:683-727)
        resolveId("") match {
          case None => 1
          case Some(id) =>
            // force qcfg now: its explicit-conflict warning must print even
            // on the cache-hit path below (the stored digest IS the db's alg)
            val hcfg = qcfg
            // read-through: a stored scan already has this file's digest
            // (the reference reads the hash cache first)
            val cached = if (!opts.contains("db")) Nil
              else dupsDf.filter(col("file_id") === id).select("hash").limit(1).collect().toSeq
            val h = cached.headOption.map(_.getString(0)).orElse {
              corpus.filter(col("file_id") === id)
                .select(ExactDedup.digest(col("content"), hcfg))
                .collect().headOption.map(_.getString(0))
            }
            h match {
              case Some(v) => println(v); 0
              case None => System.err.println(s"no file with id $id"); 1
            }
        }
      case "cache" =>
        // dupd `cache --ls / --delete` (/root/reference/src/cache.c:33-55)
        val root = opts.getOrElse("checkpoint", "/tmp/graft_ckpt")
        opts.getOrElse("action", "ls") match {
          case "delete" =>
            val stage = opts.getOrElse("stage", "exact")
            graft.state.Checkpoints.deleteStage(spark, root, stage)
            println(s"deleted stage $stage under $root"); 0
          case _ =>
            val m = graft.state.Checkpoints.readMetrics(spark, root)
              .orderBy("stage", "bucket")
            stream(m)(r => s"${r.getAs[String]("stage")} bucket=${r.getAs[Int]("bucket")} " +
              s"rows=${r.getAs[Long]("rows")} bytes=${r.getAs[Long]("bytes")} " +
              s"wall_ms=${r.getAs[Long]("wall_ms")} lineage=${r.getAs[String]("lineage")}")
            0
        }
      case _ =>
        println("usage: graft.cli.Main <scan|report|uniques|dups|ls|file|" +
          "cmp-two|refresh|validate|rmsh|near|clusters|hash|cache> " +
          "--data DIR [flags]"); 2
    } finally owned.foreach(Blocks.free(_))
  }
}
