package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.near.{NearConfig, NearDup}
import graft.model.Fixtures

/** FIXTURES.md near-dup mutation plan: expected pair set computed
  * analytically from the mutation types → recall ≥ 0.99; threshold-crossing
  * truncations must NOT pair; vendored exact copies collapse pre-tier. */
class NearDupMutationSpec extends SparkSpec {
  private val cfg = NearConfig()

  /** Near-dup mutation fixture (FIXTURES.md "Near-dup fixtures"): seeded
    * mutations of base docs with an analytically-known expected pair set.
    *   - ws_N    (id+10000): doubled whitespace — high Jaccard, MUST pair
    *   - ren_N   (id+20000): one identifier renamed — moderate Jaccard,
    *               MUST pair (SimHash/LCS recall net)
    *   - trunc_N (id+30000): 50% prefix truncation — Jaccard ≈ 0.33,
    *               must NOT pair with its base
    *   - vend_N  (id+40000): exact vendored copy — collapses to the base's
    *               representative before the near tier
    */
  private def nearDupCorpus(nBase: Int = 60): DataFrame = {
    val rows = Seq.newBuilder[Fixtures.FileRow]
    (0 until nBase).foreach { i =>
      val id = i.toLong
      // word-shaped content with a repeated identifier token
      val words = (0 until 40).map(w => Fixtures.content(s"w$i-$w", 6).trim)
      val ident = s"ident${i}xx"
      val base = (words.take(10) :+ ident) ++ (words.slice(10, 25) :+ ident) ++
        words.drop(25)
      val baseText = base.mkString(" ")
      rows += Fixtures.FileRow(id, "base", s"src_$i.txt", "c0", "scala", baseText)
      if (i % 3 == 0) // light edit: one doubled separator (~10 shingles move)
        rows += Fixtures.FileRow(id + 10000, "ws", s"src_$i.txt", "c0", "scala",
          baseText.replaceFirst(" ", "  "))
      if (i % 3 == 1)
        rows += Fixtures.FileRow(id + 20000, "ren", s"src_$i.txt", "c0", "scala",
          baseText.replace(ident, s"renam${i}yy"))
      if (i % 3 == 2)
        rows += Fixtures.FileRow(id + 30000, "trunc", s"src_$i.txt", "c0", "scala",
          baseText.substring(0, baseText.length / 2))
      if (i % 5 == 0)
        rows += Fixtures.FileRow(id + 40000, "vend", s"src_$i.txt", "c0", "scala",
          baseText)
    }
    Fixtures.df(spark, rows.result())
  }

  private lazy val corpus = nearDupCorpus().cache()
  private lazy val found = NearDup.verifiedPairs(corpus, cfg)
    .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("whitespace edits and identifier renames pair with their base (recall)") {
    val expected = corpus.filter(col("file_id") >= 10000 && col("file_id") < 30000)
      .select("file_id").collect()
      .map(_.getLong(0)).map(m => (m % 10000, m)).toSet
    val hit = expected.count(found.contains)
    val recall = hit.toDouble / expected.size
    assert(expected.nonEmpty && recall >= 0.99,
      s"recall=$recall ($hit/${expected.size}); missing=${expected.filterNot(found.contains).take(3)}")
  }

  test("50% truncations never pair with their base (precision)") {
    val badPairs = corpus.filter(col("file_id") >= 30000 && col("file_id") < 40000)
      .select("file_id").collect()
      .map(_.getLong(0)).map(m => (m % 10000, m)).toSet
    assert(badPairs.nonEmpty)
    assert(badPairs.count(found.contains) == 0)
  }

  test("vendored exact copies collapse to the base representative pre-tier") {
    val reps = NearDup.representatives(corpus, cfg)
      .select("file_id").collect().map(_.getLong(0)).toSet
    // every vend_N (id+40000) must NOT be a representative (its base is)
    assert(!reps.exists(id => id >= 40000 && id < 50000))
  }

  test("clusters put base+ws+ren+vendored together, truncations apart") {
    val clusters = NearDup.allFileClusters(corpus, cfg)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusters.keys.filter(id => id >= 10000 && id < 30000).foreach { m =>
      assert(clusters(m) == clusters(m % 10000), s"mutant $m split from base")
    }
    clusters.keys.filter(id => id >= 40000).foreach { m =>
      assert(clusters(m) == clusters(m % 10000), s"vendored $m split from base")
    }
    clusters.keys.filter(id => id >= 30000 && id < 40000).foreach { m =>
      assert(clusters(m) != clusters(m % 10000), s"truncation $m merged with base")
    }
  }
}
