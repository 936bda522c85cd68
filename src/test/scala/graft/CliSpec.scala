package graft

import graft.cli.Main

/** End-to-end CLI drives through [[Main.runOp]] (session-neutral dispatch)
  * with captured stdout — the Spark analogue of the reference's shell test
  * matrix (tests/test.08-17 exclude/cut listing variants, tests/test.26-28
  * rmsh): `--cut`/`--exclude-path` on uniques/dups/ls, `hash --path`,
  * `cmp-two`, and the report/rmsh renderers driven from the flat relation. */
class CliSpec extends SparkSpec {

  private def run(args: String*): (Int, Seq[String]) = {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.runOp(spark, args.head, Main.parseOpts(args.toArray))
    }
    (code, out.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty))
  }

  private val data = Seq("--data", sf)

  test("uniques/dups respect --exclude-path: excluded partners do not count") {
    // doc 3 (÷3, not ÷9): its only partner is mirror/doc_3.txt — excluding
    // mirror/ must demote base doc_3 to UNIQUE (reference report.c:243-251)
    val (c0, dups0) = run(Seq("dups") ++ data: _*)
    assert(c0 == 0 && dups0.exists(_.endsWith(" src3/doc_3.txt")))
    val (c1, dups1) = run(Seq("dups", "--exclude-path", "mirror/") ++ data: _*)
    assert(c1 == 0)
    assert(!dups1.exists(_.contains("src3/doc_3.txt")))
    // doc 9 (÷9): partners in mirror AND mirror2 — excluding mirror/ leaves
    // the mirror2 partner, so base doc_9 stays DUPLICATE...
    assert(dups1.exists(_.endsWith(" src9/doc_9.txt")))
    // ...and the EXCLUDED mirror file itself still lists as DUPLICATE (its
    // non-excluded partners count; the file is not exempted by the prefix)
    assert(dups1.exists(_.endsWith(" mirror/doc_9.txt")))
    // uniques is the complement: gains doc_3, never doc_9
    val (c2, uniq1) = run(Seq("uniques", "--exclude-path", "mirror/") ++ data: _*)
    assert(c2 == 0)
    assert(uniq1.exists(_.endsWith(" src3/doc_3.txt")))
    assert(!uniq1.exists(_.contains("src9/doc_9.txt")))
  }

  test("ls respects --exclude-path and --cut") {
    val (c, ls) = run(Seq("ls", "--exclude-path", "mirror/",
      "--cut", "src3/") ++ data: _*)
    assert(c == 0)
    val byPath = ls.map { l =>
      val Array(st, p) = l.split(": ", 2); (p, st.trim)
    }.toMap
    // cut strips the src3/ prefix from printed paths
    assert(byPath.contains("doc_3.txt") && !byPath.contains("src3/doc_3.txt"))
    assert(byPath("doc_3.txt") == "UNIQUE")          // partner excluded
    assert(byPath("src9/doc_9.txt") == "DUPLICATE")  // mirror2 partner remains
    assert(byPath("mirror2/doc_9.txt") == "DUPLICATE")
  }

  test("uniques/dups/ls --db print the live lines, with and without --exclude-path") {
    val db = java.nio.file.Files.createTempDirectory("graft_cli_db").toString
    assert(run(Seq("scan", "--out", db) ++ data: _*)._1 == 0)
    for (op <- Seq("uniques", "dups", "ls"); excl <- Seq(Nil, Seq("--exclude-path", "mirror/"))) {
      val (cl, live) = run(Seq(op) ++ excl ++ data: _*)
      val (cs, stored) = run(Seq(op, "--db", db) ++ excl ++ data: _*)
      assert(cl == 0 && cs == 0 && live.nonEmpty)
      assert(stored == live, s"$op ${excl.mkString(" ")}: --db listing differs from live")
    }
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.TestBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get()
  }

  test("CLI uniques runs about as many jobs as the library uniques") {
    // every live listing (ls, uniques, dups; with or without
    // --exclude-path) is ExactDedup.fileStatusesAll filtered on its status,
    // as the library uniques is: one size-guarded window pass. A listing
    // over the cascade costs 10-18 jobs here
    import graft.exact.{DedupConfig, ExactDedup}
    spark.catalog.clearCache()
    val lib = jobsOf(ExactDedup.fileStatusesAll(Tables.corpus(spark, sf), DedupConfig())
      .orderBy("file_id").toLocalIterator().forEachRemaining(_ => ()))
    for (op <- Seq("ls", "uniques", "dups"); excl <- Seq(Nil, Seq("--exclude-path", "mirror/"))) {
      spark.catalog.clearCache()
      val cli = jobsOf(assert(run(Seq(op) ++ excl ++ data: _*)._1 == 0))
      val what = (op +: excl).mkString(" ")
      info(s"$what: CLI $cli jobs, library fileStatusesAll $lib jobs")
      assert(cli <= lib + 2, s"CLI $what ran $cli jobs, library fileStatusesAll $lib")
    }
  }

  test("live scan/report/rmsh/validate free the duplicates leaf they build") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_leak").toString
    for (args <- Seq(Seq("scan", "--out", tmp), Seq("report"), Seq("rmsh"), Seq("validate"))) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(run(args ++ data: _*)._1 == 0)
      val held = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
      assert(held.isEmpty, s"${args.head} left ${held.size} persisted RDD(s)")
    }
  }

  /** A scan db of the fixture, and the fixture's first unique file id. */
  private lazy val scanDb: String = {
    val db = java.nio.file.Files.createTempDirectory("graft_cli_scan").toString
    assert(run(Seq("scan", "--out", db) ++ data: _*)._1 == 0)
    db
  }
  private lazy val uniqueId: Long =
    graft.exact.ExactDedup.uniques(Tables.corpus(spark, sf))
      .orderBy("file_id").select("file_id").head().getLong(0)

  test("stored file lookups and report run a bounded number of jobs") {
    // file --db is an index lookup: the documents schema, the probe row,
    // the probe's set, the set's members re-hashed; report --db adds no
    // meta or schema job to its window, sort and stream
    for ((what, args, bound) <- Seq(
        ("file --db --id 0", Seq("file", "--db", scanDb, "--id", "0"), 4),
        (s"file --db --id $uniqueId", Seq("file", "--db", scanDb, "--id", uniqueId.toString), 2),
        ("report --db", Seq("report", "--db", scanDb), 4))) {
      graft.util.Blocks.sweep(spark)
      val n = jobsOf(assert(run(args ++ data: _*)._1 == 0))
      info(s"$what: $n jobs")
      assert(n <= bound, s"$what ran $n jobs, bound $bound")
    }
  }

  test("file --db --id prints the live lookup's lines") {
    for (id <- Seq(0L, 1000000L, uniqueId, -42L);
         flags <- Seq(Nil, Seq("--exclude-path", "mirror/"), Seq("--cut", "src3/"))) {
      val args = Seq("file", "--id", id.toString) ++ flags ++ data
      val (cl, live) = run(args: _*)
      val (cs, stored) = run(args ++ Seq("--db", scanDb): _*)
      val what = (Seq("file --id", id) ++ flags).mkString(" ")
      assert(cl == 0 && cs == 0, what)
      assert(stored == live, s"$what: --db printed $stored, live $live")
      assert(live.nonEmpty == (id == 0L || id == 1000000L), what)
    }
  }

  test("scan --stats-file appends the stats of the relation it wrote") {
    // the counters come from the scan's own duplicates relation; a second
    // cascade would cost >= 9 more jobs
    import graft.exact.{DedupConfig, ExactDedup}
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_stats")
    val db = tmp.resolve("db").toString
    val statsFile = tmp.resolve("stats.jsonl").toString
    spark.catalog.clearCache()
    val plain = jobsOf(assert(run(Seq("scan", "--out", db) ++ data: _*)._1 == 0))
    spark.catalog.clearCache()
    val withStats = jobsOf(assert(run(Seq("scan", "--out", db,
      "--stats-file", statsFile) ++ data: _*)._1 == 0))
    info(s"scan: $plain jobs, scan --stats-file: $withStats jobs")
    assert(withStats <= plain + 4, s"scan --stats-file ran $withStats jobs, scan $plain")
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(statsFile))
    assert(lines.size == 1)
    val fields = lines.get(0).stripPrefix("{").stripSuffix("}").split(",").map { kv =>
      val Array(k, v) = kv.split(":", 2); k.stripPrefix("\"").stripSuffix("\"") -> v
    }.toMap
    val expect = ExactDedup.stats(Tables.corpus(spark, sf), DedupConfig()).head()
    assert(fields - "dbtime" ==
      expect.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> String.valueOf(expect.get(i)) }.toMap)
    assert(fields.contains("dbtime"))
  }

  test("hash --path equals hash --id, and matches sha256 of the content") {
    val (ci, byId) = run(Seq("hash", "--id", "0") ++ data: _*)
    val (cp, byPath) = run(Seq("hash", "--path", "src0/doc_0.txt") ++ data: _*)
    assert(ci == 0 && cp == 0 && byId == byPath)
    val content = Tables.corpus(spark, sf)
      .filter(org.apache.spark.sql.functions.col("file_id") === 0L)
      .select("content").head().getString(0)
    val expect = java.security.MessageDigest.getInstance("SHA-256")
      .digest(content.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byId.head == expect)
    // missing path: exit 1
    assert(run(Seq("hash", "--path", "src0/nope.txt") ++ data: _*)._1 == 1)
  }

  test("cmp-two: identical exits 0, different exits 1, paths resolve") {
    // doc 0 (÷3) is mirrored verbatim as file_id 1000000
    val (cEq, outEq) = run(Seq("cmp-two", "--id-a", "0",
      "--id-b", "1000000") ++ data: _*)
    assert(cEq == 0 && outEq.exists(_.contains("identical")))
    val (cNe, outNe) = run(Seq("cmp-two", "--path-a", "src0/doc_0.txt",
      "--path-b", "src1/doc_1.txt") ++ data: _*)
    assert(cNe == 1 && outNe.exists(_.contains("differ")))
    assert(run(Seq("cmp-two", "--id-a", "0") ++ data: _*)._1 == 2)
  }

  test("report text/csv and rmsh render from the flat relation") {
    val (cT, text) = run(Seq("report") ++ data: _*)
    assert(cT == 0 && text.last.startsWith("Total used: "))
    val (cC, csv) = run(Seq("report", "--format", "csv") ++ data: _*)
    assert(cC == 0 && csv.forall(_.matches("\\d+,\\d+,.*")))
    val (cR, rmsh) = run(Seq("rmsh", "--link", "--cut", "src") ++ data: _*)
    assert(cR == 0 && rmsh.head == "#!/bin/sh")
    assert(rmsh.count(_.startsWith("rm '")) ==
      rmsh.count(_.startsWith("ln -s '")))
  }
}
