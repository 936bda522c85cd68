package graft

import graft.exact.{DedupConfig, ExactDedup}
import graft.query.Report
import graft.query.Report.RmshLink

/** Report-sink formats per the reference goldens (FIXTURES.md "Report
  * goldens"; /root/reference/src/report.c:288-386,549-600, link modes
  * mirroring tests/test.26-28). Renderers stream from the FLAT sorted
  * member relation (Iterator[String], one set grouped on the fly — no
  * per-set arrays anywhere); specs materialize with .toSeq. */
class ReportSpec extends SparkSpec {
  private lazy val rows =
    Report.reportRows(ExactDedup.duplicates(Tables.corpus(spark, sf),
      DedupConfig())).cache()
  private def nSets = rows.select("each_size", "hash").distinct().count()
  private def nMembers = rows.count()

  /** The footer's total, aggregated over the relation. */
  private def totalUsed(rows: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions._
    rows.select("total", "hash").distinct()
      .agg(coalesce(sum("total"), lit(0L))).head().getLong(0)
  }

  test("text: header lines + indented members + Total used footer") {
    val lines = Report.text(rows).toSeq
    assert(lines.last.startsWith("Total used: "))
    assert(lines.last.matches(
      raw"Total used: \d+ bytes \(\d+\.\d\d KiB, \d+\.\d\d MiB, \d+\.\d\d GiB\)"))
    // the streamed footer must equal the relation-side aggregate
    assert(lines.last == Report.footer(totalUsed(rows)))
    val headers = lines.filter(_.matches(raw"\d+ total bytes used by duplicates of size \d+:"))
    assert(headers.nonEmpty && headers.size.toLong == nSets)
    assert(lines.count(_.startsWith("  ")).toLong == nMembers)
  }

  test("text: ascending by total (worst offenders last)") {
    val totals = Report.text(rows).toSeq
      .filter(_.contains(" total bytes used by "))
      .map(_.split(" ")(0).toLong)
    assert(totals == totals.sorted)
  }

  test("csv: one line per set, quotes escaped") {
    val lines = Report.csv(rows).toSeq
    assert(lines.size.toLong == nSets)
    val csvRe = "\\d+,\\d+,(\"[^\"]*\",?)+"
    assert(lines.forall(_.matches(csvRe)))
    // every member path appears on exactly one line; line count of quoted
    // fields sums to the member count
    assert(lines.map(_.count(_ == ',') - 1).sum.toLong == nMembers)
  }

  test("json: streams as a top-level array of arrays") {
    val lines = Report.json(rows).toSeq
    assert(lines.head == "[" && lines.last == "]")
    val setLines = lines.filter(_.startsWith("[ "))
    assert(setLines.length.toLong == nSets)
    // every row but the last is comma-terminated; the last is not
    assert(setLines.init.forall(_.endsWith("],")) && setLines.last.endsWith("]"))
  }

  test("rmsh: warning header + keeps exactly one member per set") {
    val script = Report.rmShell(rows).toSeq
    assert(script.head == "#!/bin/sh")
    // the reference's auto-generated warning banner (report.c:563-567)
    assert(script(1) == "#" &&
      script(2).startsWith("# WARNING: Auto-generated") &&
      script(5) == "#")
    val keeps = script.count(_.startsWith("# KEEPING: "))
    val rms = script.count(_.startsWith("rm '"))
    assert(keeps.toLong == nSets)
    assert(rms.toLong == nMembers - keeps)
    assert(!script.exists(_.startsWith("ln ")))
  }

  test("rmsh --link / --hardlink: one ln per rm, pointing at the kept member") {
    for ((mode, lnPrefix) <- Seq(RmshLink.Soft -> "ln -s '",
                                 RmshLink.Hard -> "ln '")) {
      val script = Report.rmShell(rows, mode).toSeq
      val rms = script.count(_.startsWith("rm '"))
      val lns = script.filter(_.startsWith(lnPrefix))
      assert(lns.size == rms, s"mode $mode: ${lns.size} ln vs $rms rm")
      // each ln immediately follows its rm and links kept -> removed path
      script.sliding(2).foreach {
        case Seq(rm, ln) if rm.startsWith("rm '") =>
          assert(ln.startsWith(lnPrefix))
          assert(ln.endsWith(rm.drop(3)), s"ln target != removed path: $ln / $rm")
        case _ => ()
      }
      // every kept banner path appears as the ln source
      val keeps = script.filter(_.startsWith("# KEEPING: ")).map(_.drop(11))
      assert(keeps.forall(k =>
        script.exists(_.startsWith(lnPrefix.dropRight(1) + "'" + k))))
    }
  }

  test("rmsh: hostile paths (quotes, $, backticks, newline) stay one literal arg") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val hostile = Seq(
      (1L, "r", "a'quote; rm -rf /", "c0", "x" * 10, 10L),
      (2L, "r", "a'quote; rm -rf /2", "c0", "x" * 10, 10L),
      (3L, "r", "b`whoami`$(date)\nrm -rf /", "c0", "y" * 10, 10L),
      (4L, "r", "b`whoami`$(date)\nrm -rf /take2", "c0", "y" * 10, 10L))
      .toDF("file_id", "repo", "path", "commit", "content", "size")
    val script = Report.rmShell(Report.reportRows(
      ExactDedup.duplicates(hostile, DedupConfig()))).toSeq
    val rmLines = script.filter(_.startsWith("rm '"))
    assert(rmLines.size == 2)
    // the kept member is the first sorted path of each set, so the removed
    // paths are exactly these two -- including the one embedding a newline,
    // which must stay INSIDE its single iterator element (one rm per path;
    // a split line is a second shell statement the user never reviewed)
    val removed = Set("r/a'quote; rm -rf /2", "r/b`whoami`$(date)\nrm -rf /take2")
    rmLines.foreach { l =>
      assert(l.endsWith("'"))
      // stripping the quote-escape idiom recovers the original path verbatim
      val inner = l.drop(4).dropRight(1).replace("'\\''", "'")
      assert(removed.contains(inner), s"unexpected rm target: $inner")
    }
  }

  test("cut strips the configured prefix") {
    val cutRows = Report.reportRows(
      ExactDedup.duplicates(Tables.corpus(spark, sf), DedupConfig()),
      cutPrefix = Some("src"))
    val anyPath = cutRows.select("p").collect().map(_.getString(0))
    assert(anyPath.forall(!_.startsWith("src")))
  }

  test("minTotal filters small sets (F7)") {
    val filtered = Report.reportRows(
      ExactDedup.duplicates(Tables.corpus(spark, sf), DedupConfig()),
      minTotal = 600L)
    assert(filtered.filter(org.apache.spark.sql.functions.col("total") < 600).count() == 0)
  }
}
