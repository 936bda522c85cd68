package graft

import org.apache.spark.sql.functions._
import graft.exact.{DedupConfig, ExactDedup}

/** Mirrors the reference's golden scenarios (/root/reference/tests/output.NN,
  * FIXTURES.md) on the planted corpus: known dup sets found, same-size foils
  * split, validate invariant (members byte-equal), uniques/dups partition. */
class ExactDedupSpec extends SparkSpec {
  private val cfg = DedupConfig()
  private lazy val corpus = SparkSpec.corpus
  private lazy val dups = ExactDedup.duplicates(corpus, cfg).cache()

  test("every mirrored doc lands in a duplicate set with its base") {
    val pairs = dups.select("file_id", "hash")
    val base = pairs.filter(col("file_id") < 1000000)
      .withColumnRenamed("file_id", "base_id")
    val mirrored = pairs.filter(col("file_id").between(1000000, 1999999))
      .withColumn("base_id", col("file_id") - 1000000)
    val joined = mirrored.join(base, Seq("base_id", "hash")).count()
    val nMirror = corpus.filter(col("repo") === "mirror").count()
    assert(nMirror > 0 && joined == nMirror,
      s"expected all $nMirror mirror copies matched, got $joined")
  }

  test("mirror2 docs form sets of exactly 3") {
    val tripleIds = corpus.filter(col("repo") === "mirror2")
      .select((col("file_id") - 2000000).as("base_id"))
    val setSizes = dups.filter(col("file_id") < 1000000)
      .join(tripleIds, dups("file_id") === tripleIds("base_id"))
      .select("set_size").distinct().collect().map(_.getLong(0))
    assert(setSizes.sameElements(Array(3L)), s"got ${setSizes.toList}")
  }

  test("foil rows (same size + same 64-char prefix) are never duplicates") {
    assert(dups.filter(col("repo") === "foil").count() == 0)
  }

  test("foil rows DO survive the partial-hash stage (split only by full hash)") {
    val survivors = ExactDedup.hashedSurvivors(corpus, cfg)
    assert(survivors.filter(col("repo") === "foil").count() > 0)
  }

  test("fork rows (near-dups) never exact-duplicate their own base") {
    // (a truncated fork CAN coincidentally equal some other doc's full text —
    // that's a genuine duplicate; only the fork↔base pair must split)
    val forkBase = dups.filter(col("repo") === "fork")
      .select((col("file_id") - 3000000).as("base_id"), col("hash"))
    val base = dups.filter(col("file_id") < 1000000)
      .select(col("file_id").as("base_id"), col("hash"))
    assert(forkBase.join(base, Seq("base_id", "hash")).count() == 0)
  }

  test("unique-size files are pruned at stage 1 (never hashed)") {
    val total = ExactDedup.scanFilter(corpus, cfg).count()
    val surviving = ExactDedup.sizeSurvivors(corpus, cfg).count()
    assert(surviving < total, "size prune removed nothing")
  }

  test("validate: all members of every emitted set are byte-identical") {
    assert(ExactDedup.validate(corpus, cfg).count() == 0)
  }

  test("uniques and dups partition the scanned snapshot") {
    val u = ExactDedup.uniques(corpus, cfg).select("file_id")
    val d = ExactDedup.dups(corpus, cfg).select("file_id")
    assert(u.intersect(d).count() == 0)
    assert(u.count() + d.count() == ExactDedup.scanFilter(corpus, cfg).count())
  }

  test("report is ordered ascending by total duplicated bytes") {
    val totals = ExactDedup.report(corpus, cfg)
      .select("total").collect().map(_.getLong(0))
    assert(totals.sameElements(totals.sorted))
  }

  test("refresh drops sets that lose members below 2 survivors") {
    val snapshot = corpus.filter(col("repo") =!= "mirror")
    val refreshed = ExactDedup.refresh(dups, snapshot)
    // mirror-pair sets (base + mirror only) must vanish; triples shrink to 2
    assert(refreshed.filter(col("repo") === "mirror").count() == 0)
    assert(refreshed.groupBy("size", "hash").count()
      .filter(col("count") < 2).count() == 0)
  }

  test("rmsh keeps exactly one member per set") {
    val r = ExactDedup.rmsh(corpus, cfg)
    val sets = dups.select("size", "hash").distinct().count()
    assert(r.count() == dups.count() - sets)
  }

  test("driver contract: entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("per-row invariant: sha2(content,256) stable under re-evaluation") {
    val h1 = corpus.select(col("file_id"), sha2(col("content"), 256).as("h"))
    val h2 = corpus.select(col("file_id"), sha2(col("content"), 256).as("h2"))
    assert(h1.join(h2, "file_id").filter(col("h") =!= col("h2")).count() == 0)
  }
}
