package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import graft.exact.{DedupConfig, ExactDedup}

/** The stored `file` lookup (`fileStatusesIn`: three filtered reads and a
  * local relation) equals the live one (`fileStatuses`: probe pushdown and
  * a join) on every drawn probe, exclude prefix and snapshot — the one
  * status rule applied in both forms. */
class StoredLookupSpec extends SparkSpec {
  private val cfg = DedupConfig()
  private lazy val corpus = SparkSpec.corpus

  /** The scan db's relation, written and read back as `--db` reads it. */
  private lazy val stored: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stored_lookup").toString
    val d = ExactDedup.duplicates(corpus, cfg)
    d.write.mode("overwrite").parquet(dir)
    graft.util.Blocks.free(d)
    spark.read.schema(ExactDedup.DuplicatesSchema).parquet(dir)
  }

  private def ids(df: DataFrame, n: Int): Seq[Long] =
    df.select("file_id").orderBy("file_id").limit(n).collect().map(_.getLong(0)).toSeq

  /** `content` of file `id` replaced: same size (the first char swapped),
    * or one char longer with its size. */
  private def changed(id: Long, sameSize: Boolean): DataFrame = {
    val hit = col("file_id") === id
    val swapped = concat(when(col("content").startsWith("#"), lit("%")).otherwise(lit("#")),
      substring(col("content"), 2, Int.MaxValue))
    if (sameSize) corpus.withColumn("content", when(hit, swapped).otherwise(col("content")))
    else corpus.withColumn("content", when(hit, concat(col("content"), lit("!")))
        .otherwise(col("content")))
      .withColumn("size", when(hit, col("size") + 1).otherwise(col("size")))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("property: the stored lookup returns the live lookup's rows") {
    val members = (Seq(0L, 3L, 9L) ++ ids(stored, 6)).distinct
    val uniques = ids(ExactDedup.uniques(corpus, cfg), 3)
    val mirrored = ids(corpus.filter(col("repo") === "mirror"), 4)
    val probe = Gen.oneOf(Gen.oneOf(members), Gen.oneOf(uniques),
      Gen.oneOf(-42L, 99999999L), Gen.oneOf(mirrored))
    val excl = Gen.oneOf(None, Some("mirror/"))
    val snapshot: Gen[(String, () => DataFrame)] = Gen.oneOf(
      Gen.const("corpus" -> (() => corpus)),
      Gen.const("no mirror2" -> (() => corpus.filter(col("repo") =!= "mirror2"))),
      for (id <- Gen.oneOf(members.head, mirrored.head); same <- Gen.oneOf(true, false))
        yield s"changed $id same size $same" -> (() => changed(id, same)))
    // the live side is the reference; a repeated draw reuses its rows
    val live = scala.collection.mutable.Map.empty[(Long, Option[String], String), Seq[Seq[Any]]]
    val kinds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAll(probe, excl, snapshot) { case (id, ex, (name, snap)) =>
      val s = snap()
      val want = live.getOrElseUpdate((id, ex, name),
        rows(ExactDedup.fileStatuses(corpus, s, id, ex, cfg)))
      val got = rows(ExactDedup.fileStatusesIn(stored, s, id, ex, cfg))
      kinds(if (want.isEmpty) "empty" else if (want.exists(_(3) == "---")) "gone" else "set") += 1
      Prop(got == want) :| s"probe $id exclude $ex snapshot $name: stored $got, live $want"
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(100)
      .withInitialSeed(7L).withWorkers(1), prop)
    info(s"${res.succeeded} cases, ${live.size} live lookups; outcomes $kinds")
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= 100)
    assert(Seq("empty", "gone", "set").forall(kinds(_) > 0), kinds.toString)
  }
}
