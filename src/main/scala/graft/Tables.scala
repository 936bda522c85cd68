package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated parquet tables plus the deterministic
  * source-file corpus every dedup stage operates on.
  *
  * The corpus mirrors the reference's input shape (an Iceberg-like table
  * `files(repo, path, commit, lang, content)` — see SURVEY.md §1.2 and the
  * reference's scan tuple at /root/reference/src/scan.c:202-378) and plants
  * the duplicate structure the reference's test fixtures exercise
  * (/root/reference/tests/files*, FIXTURES.md):
  *
  *   - base      : one row per document (unique content)
  *   - mirror    : every 3rd doc copied verbatim  -> exact-dup pairs
  *   - mirror2   : every 9th doc copied again     -> exact-dup triples
  *   - fork      : every 5th doc with an 8-char suffix truncation
  *                 -> near-duplicate (high shingle Jaccard, NOT exact)
  *   - foil      : every 7th doc, same length and same first-64-char prefix
  *                 but last char flipped -> survives the size bucket AND the
  *                 partial-hash stage, split only by the full hash (the
  *                 reference's `file3not*` / files4 scenario,
  *                 /root/reference/tests/files4)
  *
  * The construction is pure column arithmetic on `documents`, so the DuckDB
  * oracle rebuilds the identical corpus from the same parquet (see
  * [[Oracle.corpusSql]]) — every stage of the pipeline is hash-checkable.
  */
object Tables {

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  def events(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The files corpus: (file_id, repo, path, commit, lang, content, size).
    * `size` plays the role of `st_size` and is derived from the table's
    * n_chars METADATA column, never from the content bytes
    * (/root/reference/src/sizetree.c:347-392 stats st_size without opening
    * the file) — so Catalyst can COLUMN-PRUNE content away from any query
    * that only touches sizes: stage 1 of the exact cascade reads zero
    * content bytes, the literal Spark analogue of "files of unique size
    * are never opened" (enforced by PlanShapeSpec). Values are identical to
    * length(content) — the fixture contract n_chars = length(text) that the
    * oracle's own fork/foil constructions already rely on
    * ([[Oracle.corpus0Body]] uses substr(text, 1, n_chars - k)).
    * Deterministic per input row — stable across partitionings and
    * parallelism levels.
    */
  def corpus(spark: SparkSession, sfDir: String): DataFrame =
    corpusOf(documents(spark, sfDir))

  /** Corpus construction from an already-loaded documents frame — every
    * transformation is stateless (filter/select/union/length), so this works
    * identically on a STREAMING documents source (the incremental-dedup
    * tier streams the same corpus the batch path scans). */
  def corpusOf(d: DataFrame): DataFrame = {

    def variant(filterMod: Int, idOffset: Long, repo: String,
                content: org.apache.spark.sql.Column,
                size: org.apache.spark.sql.Column): DataFrame =
      d.filter(col("doc_id") % filterMod === 0)
        .select(
          (col("doc_id") + idOffset).as("file_id"),
          lit(repo).as("repo"),
          concat(lit("doc_"), col("doc_id"), lit(".txt")).as("path"),
          lit("c0").as("commit"),
          col("lang"),
          content.as("content"),
          size.cast("long").as("size"))

    val base = d.select(
      col("doc_id").as("file_id"),
      col("source").as("repo"),
      concat(lit("doc_"), col("doc_id"), lit(".txt")).as("path"),
      lit("c0").as("commit"),
      col("lang"),
      col("text").as("content"),
      col("n_chars").cast("long").as("size"))

    val mirror  = variant(3, 1000000L, "mirror", col("text"), col("n_chars"))
    val mirror2 = variant(9, 2000000L, "mirror2", col("text"), col("n_chars"))
    // fork truncates 8 chars; foil rewrites the last char (min size 1: an
    // empty text still gains the 'X') — sizes mirror the content exprs
    val fork    = variant(5, 3000000L, "fork",
      expr("substr(text, 1, cast(n_chars - 8 as int))"),
      greatest(col("n_chars") - 8, lit(0)))
    val foil    = variant(7, 4000000L, "foil",
      expr("substr(text, 1, cast(n_chars - 1 as int)) || 'X'"),
      greatest(col("n_chars"), lit(1)))

    base.unionAll(mirror).unionAll(mirror2).unionAll(fork).unionAll(foil)
  }

  /** Corpus + a planted near-identical boilerplate family: `family` rows
    * sharing doc 0's text with a distinct short suffix each — near-dups
    * (high shingle Jaccard) that are NOT exact dups, so the exact-rep
    * collapse cannot absorb them and they flood shared LSH band buckets.
    * The deterministic skew fixture for the north rule's capped in-bucket
    * pair-generation path; the DuckDB oracle rebuilds it identically
    * ([[OracleNear]] q_skew_pairs). */
  def skewCorpus(spark: SparkSession, sfDir: String, family: Int = 1000): DataFrame = {
    val d = documents(spark, sfDir)
    val boiler = d.filter(col("doc_id") === 0)
      .select(col("lang"), col("text"))
      .crossJoin(spark.range(family).toDF("i"))
      .select(
        (col("i") + 5000000L).as("file_id"),
        lit("boiler").as("repo"),
        concat(lit("gen_"), col("i"), lit(".txt")).as("path"),
        lit("c0").as("commit"),
        col("lang"),
        concat(col("text"), lit(" boilerplate variant "), col("i")).as("content"))
      .withColumn("size", length(col("content")).cast("long"))
    corpus(spark, sfDir).unionAll(boiler)
  }
}
