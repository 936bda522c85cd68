package graft.state

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The scan db's run metadata — the analogue of dupd's `meta` table
  * (version/dbtime/hidden, dupd src/dbops.c:110-116) with the read-back
  * checks of open_database (dupd src/dbops.c:244-293): hard error on
  * version mismatch, staleness warning past 3 days (db_warn_age_seconds,
  * dupd src/main.c:88).
  *
  * Format `graft-2`: one small text file `$db/meta` with a `key=value` line
  * per [[Meta]] field, written and read on the driver through the Hadoop FS
  * API, so opening a db starts no Spark job. A `graft-1` db kept its meta in
  * a parquet directory `$db/_meta`; it fails with "re-run scan", as any
  * version mismatch does. A db with no meta at all opens with a warning. */
object DbMeta {

  val Version = "graft-2"
  val StaleAfterMs: Long = 3L * 24 * 3600 * 1000

  final case class Meta(version: String, dbtime: Long, minsize: Long,
                        hidden: Boolean, alg: String)

  private def metaFile(spark: SparkSession, dir: String) = {
    val p = new Path(dir, "meta")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def write(spark: SparkSession, dir: String, cfg: graft.exact.DedupConfig,
            dbtime: Long = System.currentTimeMillis()): Unit = {
    val (fs, p) = metaFile(spark, dir)
    val out = fs.create(p, true)
    try out.write((s"version=$Version\ndbtime=$dbtime\nminsize=${cfg.minSize}\n" +
      s"hidden=${cfg.includeHidden}\nalg=${cfg.hashAlg}\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The db's meta, None when it has none; throws on a `graft-1` db. */
  def read(spark: SparkSession, dir: String): Option[Meta] = {
    val (fs, p) = metaFile(spark, dir)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val kv = try new String(in.readAllBytes(), "UTF-8").linesIterator
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      finally in.close()
      Some(Meta(kv("version"), kv("dbtime").toLong, kv("minsize").toLong,
        kv("hidden").toBoolean, kv("alg")))
    } else if (fs.exists(new Path(dir, "_meta")))
      sys.error(s"db at $dir has version graft-1, expected $Version — re-run scan")
    else None
  }

  /** Open-time checks of a db's meta; returns warnings (staleness / missing
    * meta), throws on a version the reader does not understand. */
  def warnings(dir: String, meta: Option[Meta],
               now: Long = System.currentTimeMillis()): Seq[String] = meta match {
    case None => Seq(s"no meta at $dir — db written by an old scan?")
    case Some(m) =>
      if (m.version != Version)
        sys.error(s"db at $dir has version ${m.version}, expected $Version — re-run scan")
      val age = now - m.dbtime
      if (age > StaleAfterMs)
        Seq(s"db is ${age / 86400000L} days old; results may not reflect " +
          "the current data (re-run scan)")
      else Nil
  }

  def check(spark: SparkSession, dir: String,
            now: Long = System.currentTimeMillis()): Seq[String] =
    warnings(dir, read(spark, dir), now)
}
