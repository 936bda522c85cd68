package graft

import org.apache.spark.sql.functions._
import graft.exact.{DedupConfig, ExactDedup}

/** The dupd query surface against live data AND against a stored scan db
  * (the scan/query split, /root/reference/docs/design.md:9-28): `ls` lists
  * every file with a status (mirrors tests/test.12-17 output shape), `file`
  * re-verifies against the current snapshot, stored-db lookups match the
  * live pipeline. */
class QuerySurfaceSpec extends SparkSpec {
  private val cfg = DedupConfig()
  private lazy val corpus = SparkSpec.corpus
  private lazy val dups = ExactDedup.duplicates(corpus, cfg).cache()

  test("ls lists EVERY scanned file, statuses partition into dups + uniques") {
    val ls = ExactDedup.fileStatusesAll(corpus, cfg).cache()
    val scanned = ExactDedup.scanFilter(corpus, cfg).count()
    assert(ls.count() == scanned)
    val dupCount = ls.filter(col("status") === "DUPLICATE").count()
    val uniqCount = ls.filter(col("status") === "UNIQUE").count()
    assert(dupCount == dups.count())
    assert(dupCount + uniqCount == scanned)
    assert(ls.select("status").distinct().count() == 2)
  }

  test("probe-pushdown fileLookup equals the cascade-derived set") {
    val viaCascade = dups
      .join(dups.filter(col("file_id") === 0L).select("size", "hash"),
        Seq("size", "hash"))
      .select("file_id").collect().map(_.getLong(0)).toSet
    val viaProbe = ExactDedup.fileLookup(corpus, 0L, cfg)
      .select("file_id").collect().map(_.getLong(0)).toSet
    assert(viaProbe == viaCascade)
    // a unique file yields an empty set (dupd prints UNIQUE, no members)
    val uniqueId = ExactDedup.uniques(corpus, cfg)
      .orderBy("file_id").select("file_id").head().getLong(0)
    assert(ExactDedup.fileLookup(corpus, uniqueId, cfg).count() == 0)
    // an absent id too
    assert(ExactDedup.fileLookup(corpus, -42L, cfg).count() == 0)
  }

  test("db meta: version + dbtime round-trip, staleness warns, mismatch errors") {
    import graft.state.DbMeta
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_db").toString
    DbMeta.write(spark, dir, cfg)
    val m = DbMeta.read(spark, dir).get
    assert(m.version == DbMeta.Version && m.alg == "sha256" && m.minsize == 1L)
    // fresh db: no warnings
    assert(DbMeta.check(spark, dir).isEmpty)
    // 4-day-old db: staleness warning (db_warn_age_seconds analogue)
    val old = DbMeta.check(spark, dir,
      now = m.dbtime + 4L * 24 * 3600 * 1000)
    assert(old.exists(_.contains("days old")))
    // unknown version: hard error, like dupd's open_database. The meta file
    // is rewritten through the same file system API, checksum included
    val p = new Path(dir, "meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(text.contains(s"version=${DbMeta.Version}\n"))
    val out = fs.create(p, true)
    try out.write(text.replace(s"version=${DbMeta.Version}", "version=graft-99").getBytes("UTF-8"))
    finally out.close()
    assert(DbMeta.read(spark, dir).get.version == "graft-99")
    val e = intercept[RuntimeException] { DbMeta.check(spark, dir) }
    assert(e.getMessage.contains("re-run scan"))
  }

  test("db meta: a db with only the old _meta directory fails to open") {
    import graft.state.DbMeta
    // the graft-1 layout: a one-row parquet directory, no meta file
    val dir = java.nio.file.Files.createTempDirectory("graft_db_v1").toString
    spark.range(1).selectExpr("'graft-1' AS version", "id AS dbtime", "1L AS minsize",
      "false AS hidden", "'sha256' AS alg").write.parquet(s"$dir/_meta")
    val e = intercept[RuntimeException] { DbMeta.check(spark, dir) }
    assert(e.getMessage.contains("re-run scan"))
    intercept[RuntimeException] { DbMeta.read(spark, dir) }
    // a db with no meta at all opens with a warning
    val bare = java.nio.file.Files.createTempDirectory("graft_db_bare").toString
    assert(DbMeta.check(spark, bare).exists(_.contains("no meta")))
  }

  test("the stored duplicates schema is the schema duplicates writes") {
    def fields(t: org.apache.spark.sql.types.StructType) = t.fields.map(f => f.name -> f.dataType).toSeq
    assert(fields(dups.schema) == fields(ExactDedup.DuplicatesSchema))
    val dir = java.nio.file.Files.createTempDirectory("graft_dups").toString
    dups.write.mode("overwrite").parquet(dir)
    assert(fields(spark.read.parquet(dir).schema) == fields(ExactDedup.DuplicatesSchema))
  }

  test("stored-db verbose statuses re-verify against the CURRENT snapshot") {
    // snapshot lost the mirror2 repo: members from it must read '---'
    val snapshot = corpus.filter(col("repo") =!= "mirror2")
    val st = ExactDedup.fileStatusesIn(dups, snapshot, 0L, Some("mirror/"), cfg)
      .collect().map(r => (r.getString(1), r.getString(3))).toMap
    assert(st("src0") == "SELF" || st.values.exists(_ == "SELF"))
    assert(st.get("mirror2").forall(_ == "---"))
    assert(st.get("mirror").forall(_ == "xxx"))
    // and it matches the recompute-from-scan path
    val live = ExactDedup.fileStatuses(corpus, snapshot, 0L, Some("mirror/"), cfg)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    val stored = ExactDedup.fileStatusesIn(dups, snapshot, 0L, Some("mirror/"), cfg)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(stored == live)
  }
}
