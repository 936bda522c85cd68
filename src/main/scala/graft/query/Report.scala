package graft.query

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The reference's report sinks (S7/S8, /root/reference/src/report.c):
  * text / CSV / JSON renderings of the duplicates relation, with the
  * `--cut` prefix strip, report-side min-size filter (F7), ascending
  * total order (O1) and the `Total used:` footer
  * (/root/reference/src/report.c:288-386), plus the rm-shell script sink
  * with optional symlink/hardlink replacement
  * (/root/reference/src/report.c:549-600, options.conf:69-70).
  *
  * Renderers take the FLAT member relation ([[reportRows]]: one narrow row
  * per set member, globally sorted by (total, hash, path)) and group sets
  * on the fly inside an `Iterator[String]` built on `toLocalIterator` — the
  * exact shape dupd streams (/root/reference/src/report.c:332-369). No
  * per-set array ever materializes: a million-member vendored-file set is a
  * million narrow rows, never one multi-GB collect_list row on a single
  * task (and never a multi-GB driver Row). The text and rm-shell renderers
  * are O(1) driver state per row; CSV/JSON build one output LINE per set
  * because the formats themselves are one-line-per-set. Order is the
  * relation's own orderBy (global sort = range partitioning, so
  * partition-ordered iteration is globally ordered); footers accumulate
  * during iteration and are appended lazily.
  */
object Report {

  /** dupd's `--cut` prefix strip (/root/reference/src/report.c:77-86). */
  def cut(path: org.apache.spark.sql.Column, prefix: Option[String]) =
    prefix.fold(path)(p => regexp_replace(path, "^" + java.util.regex.Pattern.quote(p), ""))

  /** Flat report rows from the flat duplicates relation (file_id, repo,
    * path, size, hash, ...): one row per member with its set's (set_size,
    * total), filtered by F7 and globally sorted by (O1 total, hash, path) so
    * consecutive rows of a set are adjacent. set_size is recomputed here
    * (one aggregate over the narrow relation) rather than trusted from any
    * stored column — the input may be a filtered/refreshed subset. */
  def reportRows(duplicates: DataFrame, cutPrefix: Option[String] = None,
                 minTotal: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    duplicates
      .withColumn("p", cut(concat(col("repo"), lit("/"), col("path")), cutPrefix))
      .withColumn("set_size",
        count(lit(1)).over(Window.partitionBy(col("size"), col("hash"))))
      .withColumn("total", col("size") * col("set_size"))
      .filter(col("total") >= minTotal)            // F7
      .select(col("total"), col("size").as("each_size"), col("hash"), col("p"))
      .orderBy(col("total"), col("hash"), col("p")) // O1
  }

  /** Human footer numbers (text report, src/report.c:371-378). */
  def footer(total: Long): String = {
    val kib = total / 1024.0
    val mib = kib / 1024.0
    val gib = mib / 1024.0
    f"Total used: $total bytes ($kib%.2f KiB, $mib%.2f MiB, $gib%.2f GiB)"
  }

  /** Driver-streamed member rows: (total, each_size, hash, p). */
  private def memberRows(rows: DataFrame): Iterator[Row] =
    rows.select("total", "each_size", "hash", "p").toLocalIterator().asScala

  /** Is `r` the first member of a new set relative to (prevTotal, prevHash)?
    * (total, hash) identifies a set within the sorted stream: equal hash
    * with different size would need a digest collision. */
  private def newSet(r: Row, prevTotal: Long, prevHash: String): Boolean =
    r.getLong(0) != prevTotal || r.getString(2) != prevHash

  /** Group the sorted flat stream into one (total, each_size, paths) tuple
    * per set — used only by the one-line-per-set formats (CSV/JSON), where
    * the output line is inherently O(set_size) anyway. */
  private def groupedSets(rows: DataFrame): Iterator[(Long, Long, Seq[String])] =
    new Iterator[(Long, Long, Seq[String])] {
      private val it = memberRows(rows)
      private var pending: Row = if (it.hasNext) it.next() else null
      def hasNext: Boolean = pending != null
      def next(): (Long, Long, Seq[String]) = {
        val total = pending.getLong(0)
        val eachSize = pending.getLong(1)
        val hash = pending.getString(2)
        val buf = scala.collection.mutable.ArrayBuffer(pending.getString(3))
        pending = null
        while (pending == null && it.hasNext) {
          val r = it.next()
          if (!newSet(r, total, hash)) buf += r.getString(3)
          else pending = r
        }
        (total, eachSize, buf.toSeq)
      }
    }

  /** Text format: header per set + two-space-indented members
    * (src/report.c:332-369), streamed with O(1) driver state per row; the
    * Total footer accumulates during iteration (the `++` operand is by-name,
    * so it is rendered only after the body is exhausted). */
  def text(rows: DataFrame): Iterator[String] = {
    var total = 0L
    var curTotal = -1L
    var curHash: String = null
    val body = memberRows(rows).flatMap { r =>
      val header =
        if (newSet(r, curTotal, curHash)) {
          curTotal = r.getLong(0); curHash = r.getString(2)
          total += curTotal
          Iterator(s"$curTotal total bytes used by duplicates of size ${r.getLong(1)}:")
        } else Iterator.empty
      header ++ Iterator.single("  " + r.getString(3))
    }
    body ++ Iterator.single(footer(total))
  }

  /** CSV format: total,each_size,"p1","p2",... with `""` escaping
    * (src/report.c:55-64,304-306), one line per set. */
  def csv(rows: DataFrame): Iterator[String] =
    groupedSets(rows).map { case (total, eachSize, paths) =>
      val quoted = paths.map(p => "\"" + p.replace("\"", "\"\"") + "\"")
      (Seq(total.toString, eachSize.toString) ++ quoted).mkString(",")
    }

  /** JSON format: [ total, each_size, "p1", ... ] per set in one top-level
    * array (src/report.c:88-100,340-343), streamed line by line (trailing
    * commas need one row of lookahead, not the whole result). */
  def json(rows: DataFrame): Iterator[String] = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sets = groupedSets(rows).map { case (total, eachSize, paths) =>
      (Seq(total.toString, eachSize.toString) ++ paths.map(q))
        .mkString("[ ", ", ", " ]")
    }
    val withCommas: Iterator[String] = new Iterator[String] {
      def hasNext: Boolean = sets.hasNext
      def next(): String = {
        val r = sets.next()
        if (sets.hasNext) r + "," else r
      }
    }
    Iterator.single("[") ++ withCommas ++ Iterator.single("]")
  }

  /** rm-shell replacement modes (dupd `rmsh --link` / `--hardlink`,
    * /root/reference/src/report.c:580-594, options.conf:69-70): after each
    * `rm`, re-create the removed path as a symlink / hardlink to the kept
    * member. */
  sealed trait RmshLink
  object RmshLink {
    case object NoLink extends RmshLink
    case object Soft extends RmshLink
    case object Hard extends RmshLink
  }

  /** rm-shell sink (S8): warning header, then per set a KEEPING banner and
    * one `rm` (plus optional `ln`) line per removed member — the reference's
    * script shape (/root/reference/src/report.c:563-594, tests/test.26-28).
    * Streamed with O(1) driver state: the kept path is the set's first
    * (sorted) member, remembered while its set's rows flow past.
    *
    * Paths are single-quoted with the `'\''` idiom: inside POSIX single
    * quotes EVERY character is literal (newlines and control characters
    * included), so a hostile path can never split or extend an rm/ln line —
    * double-quoting would have to blacklist ", \, $, ` AND all control
    * chars to match that guarantee. */
  def rmShell(rows: DataFrame, link: RmshLink = RmshLink.NoLink): Iterator[String] = {
    def sq(s: String) = "'" + s.replace("'", "'\\''") + "'"
    val header = Iterator(
      "#!/bin/sh",
      "#",
      "# WARNING: Auto-generated to blindly delete duplicates.",
      "# Only one file in each duplicate set is kept and it might not",
      "# be the one you wanted! Review carefully before running this!",
      "#",
      "")
    var curTotal = -1L
    var curHash: String = null
    var kept: String = null
    header ++ memberRows(rows).flatMap { r =>
      if (newSet(r, curTotal, curHash)) {
        curTotal = r.getLong(0); curHash = r.getString(2)
        kept = r.getString(3)
        Iterator("", "#", s"# KEEPING: $kept", "#")
      } else {
        val p = r.getString(3)
        Iterator(s"rm ${sq(p)}") ++ (link match {
          case RmshLink.Soft => Iterator.single(s"ln -s ${sq(kept)} ${sq(p)}")
          case RmshLink.Hard => Iterator.single(s"ln ${sq(kept)} ${sq(p)}")
          case RmshLink.NoLink => Iterator.empty
        })
      }
    }
  }
}
