package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row model + deterministic scenario fixtures mirroring the reference's
  * test trees (FIXTURES.md; /root/reference/tests/files*). Contents are
  * synthesized here (never copied) but reproduce the SHAPES each golden
  * exercises: dup sets of 2–4, same-size/different-content foils, hidden
  * files, unique sizes, hardlink identities, unreadable (null-content)
  * members, refresh deletions.
  */
object Fixtures {

  final case class FileRow(file_id: Long, repo: String, path: String,
                           commit: String, lang: String, content: String)

  private[graft] def df(spark: SparkSession, rows: Seq[FileRow]): DataFrame = {
    import spark.implicits._
    rows.toDF().withColumn("size", length(col("content")).cast("long"))
  }

  /** Deterministic content of a given length, seeded by a tag — stable
    * across runs, partitionings, and parallelism levels. */
  def content(tag: String, len: Int): String = {
    val sb = new StringBuilder(len)
    var h = tag.hashCode.toLong & 0x7fffffffL
    while (sb.length < len) {
      h = (h * 6364136223846793005L + 1442695040888963407L) & 0x7fffffffffffffL
      sb.append(('a' + (h % 26)).toChar)
      if (sb.length % 8 == 0 && sb.length < len) sb.append(' ')
    }
    sb.toString
  }

  /** tests/files analogue: fileN + copies (sets of 2–4), `file3not*`
    * same-size-different-content, small dups, a large same-content family. */
  def files(spark: SparkSession): DataFrame = {
    val rows = Seq.newBuilder[FileRow]
    var id = 0L
    def add(repo: String, path: String, c: String): Unit = {
      rows += FileRow(id, repo, path, "c0", "txt", c); id += 1
    }
    // dup sets of 2..4
    (1 to 6).foreach { n =>
      val c = content(s"file$n", 40 + 7 * n)
      add("t", s"file$n", c)
      (1 to (n % 3) + 1).foreach(m => add("t", s"file${n}copy$m", c))
    }
    // same size, different content (file3not1/file3not2)
    val c3 = content("file3", 40 + 21)
    add("t", "file3not1", c3.dropRight(1) + "Q")
    add("t", "file3not2", c3.dropRight(1) + "Z")
    // small dups
    val small = content("small", 6)
    add("t", "small1", small); add("t", "small2", small)
    // large same-content family (many/ma.1..ma.8)
    val big = content("many", 5000)
    (1 to 8).foreach(i => add("t", s"many/ma.$i", big))
    // unique sizes (never hashed)
    add("t", "lonely1", content("lonely1", 977))
    add("t", "lonely2", content("lonely2", 983))
    df(spark, rows.result())
  }

  /** tests/files2 analogue: cross-dir dups, hidden dir + hidden file,
    * unique-size singleton. */
  def files2(spark: SparkSession): DataFrame = {
    val hello = content("hello1", 32)
    val hidden = content("hidden", 32) // same size as hello -> same bucket
    df(spark, Seq(
      FileRow(0, "t", "path1/hello1", "c0", "txt", hello),
      FileRow(1, "t", "path2/hello1", "c0", "txt", hello),
      FileRow(2, "t", ".path3/hello1", "c0", "txt", hello),   // under hidden dir
      FileRow(3, "t", ".hiddenhello", "c0", "txt", hidden),   // hidden file
      FileRow(4, "t", "lonely/unique_size", "c0", "txt", content("u", 55))))
  }

  /** tests/files4 analogue: same-size classes where the partial hash keeps
    * the group together and only the full hash splits it. */
  def files4(spark: SparkSession): DataFrame = {
    val base = content("f4", 35153)
    df(spark, Seq(
      FileRow(0, "t", "1", "c0", "txt", base),
      FileRow(1, "t", "3", "c0", "txt", base),                       // dup of 1
      FileRow(2, "t", "2", "c0", "txt", base.dropRight(1) + "X"),    // same size+prefix, differs
      FileRow(3, "t", "z1", "c0", "txt", content("z", 254)),
      FileRow(4, "t", "z2", "c0", "txt", content("z", 254)),         // dup of z1
      FileRow(5, "t", "z", "c0", "txt", content("zq", 254)),         // same size, differs
      FileRow(6, "t", "F1", "c0", "txt", content("F1", 254)),
      FileRow(7, "t", "F2", "c0", "txt", content("F2", 254)),
      FileRow(8, "t", "F3", "c0", "txt", content("F3", 254)),
      FileRow(9, "t", "F4", "c0", "txt", content("F4", 254))))       // all unique
  }

  /** tests/files7 analogue: hardlink identities (same path+content under a
    * dedupIdentity) vs a content-equal independent file. */
  def files7(spark: SparkSession): DataFrame = {
    val c1 = content("hl1", 64)
    val c2 = content("hl2", 64)
    df(spark, Seq(
      FileRow(0, "a", "link1", "c0", "txt", c1),
      FileRow(1, "b", "link1", "c0", "txt", c1), // hardlink of 0 (same path+hash)
      FileRow(2, "a", "link2", "c0", "txt", c2),
      FileRow(3, "b", "link2", "c0", "txt", c2), // hardlink of 2
      FileRow(4, "c", "link2", "c0", "txt", c2), // hardlink of 2
      FileRow(5, "a", "indep", "c0", "txt", c2)))// content-equal, different path
  }

  /** tests/files8 analogue: dup candidates with unreadable members (null
    * content) — the remaining single member must degrade to UNIQUE. */
  def files8(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val c = content("f8", 128)
    Seq(
      (0L, "t", "r1", "c0", "txt", c),
      (1L, "t", "r2", "c0", "txt", null.asInstanceOf[String]), // unreadable
      (2L, "t", "s1", "c0", "txt", content("f8b", 128)),
      (3L, "t", "s2", "c0", "txt", content("f8b", 128)))
      .toDF("file_id", "repo", "path", "commit", "lang", "content")
      .withColumn("size", length(col("content")).cast("long"))
  }
}
