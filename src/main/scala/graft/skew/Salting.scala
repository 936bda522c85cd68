package graft.skew

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.util.PersistScope

/** Skew handling for bucketed self-join pair generation — the north_rule
  * mandate ("repo-level skew via salted repartitioning of hot size/hash
  * buckets"; the reference's analogous intent is the 5-phase size-class IO
  * scheduling of /root/reference/src/readlist.c:336-439, which bounds the
  * memory/work of pathologically large groups).
  *
  * Near-identical boilerplate families put thousands of members into ONE
  * (band, key) LSH bucket or ONE SimHash chunk bucket; a plain self-join
  * then generates the whole n² pair set inside a single shuffle partition —
  * one straggler task at best, an executor OOM at worst. Two-phase plan:
  *
  *   1. aggregate bucket sizes (tiny: one row per bucket);
  *   2. buckets larger than `maxBucket` are DROPPED — and logged, never
  *      silent. A bucket holding a large fraction of the corpus carries no
  *      discriminative signal (the "stop-shingle" of LSH literature): at
  *      10^12 rows its pair set is quadratically explosive, and its members
  *      keep their recall through the other bands/chunks.
  *   3. buckets above `hotThreshold` (but under the cap) generate pairs via
  *      SALTED join: the left side gets salt = hash(id) % salts, the right
  *      side is replicated to all salts, the join key grows by the salt —
  *      each (a, b) pair is produced exactly once, but the bucket's
  *      quadratic work is spread across `salts` tasks/partitions.
  *   4. cold buckets take the plain equi-join.
  *
  * Dropped-bucket logging rides the bucket-size aggregate itself via
  * `observe` + a QueryExecutionListener: the log line appears when the
  * aggregate executes — once, as `scope` materializes it.
  */
object Salting {

  private val obsId = new AtomicLong()
  // weak keys: a stopped session must not stay pinned by this registry
  // (its listener dies with the session's own listener bus)
  private val listenerSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** One listener per session relays `graft_skew_dropped_*` observations to
    * stderr (count of capped buckets, largest population, the cap). */
  private def ensureListener(spark: SparkSession): Unit =
    if (listenerSessions.put(spark, java.lang.Boolean.TRUE) == null) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_skew_dropped_") && row.getLong(0) > 0L)
              System.err.println(
                s"[graft.skew] dropped ${row.getLong(0)} bucket(s) over " +
                  s"cap=${row.getLong(2)} (${name.substring(name.indexOf('_', 19) + 1)}); " +
                  s"largest had ${row.getLong(1)} members")
          }
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      })
    }

  /** Pairs (a, b) with a < b within each bucket defined by `keyCols`,
    * carrying each `payloadCols` column from both sides as `<p>_a` / `<p>_b`.
    * Output may contain the same pair via several buckets — callers dedup
    * (`.distinct()`), exactly as with a plain bucket self-join.
    *
    * `maxBucket <= 0` disables the cap; `hotThreshold <= 0` salts nothing.
    * The bucket-size aggregate is one narrow shuffle over (keys, count) —
    * negligible next to the pair join it protects; it materializes through
    * `scope` (the composite operator releases it after materializing).
    */
  def bucketPairs(buckets: DataFrame, keyCols: Seq[String], idCol: String,
                  payloadCols: Seq[String], maxBucket: Int,
                  hotThreshold: Int, salts: Int,
                  scope: PersistScope): DataFrame = {
    val keys = keyCols.map(col)
    val sizesRaw = buckets.groupBy(keys: _*).agg(count(lit(1)).as("__n"))

    val kept =
      if (maxBucket > 0) {
        // logged, not silent: the observation is collected when the
        // aggregate executes
        ensureListener(buckets.sparkSession)
        val observed = sizesRaw.observe(
          s"graft_skew_dropped_${obsId.incrementAndGet()}_${keyCols.mkString(",")}",
          coalesce(sum(when(col("__n") > maxBucket, 1L).otherwise(0L)), lit(0L))
            .as("n_dropped"),
          coalesce(max(when(col("__n") > maxBucket, col("__n"))), lit(0L))
            .as("largest"),
          max(lit(maxBucket.toLong)).as("cap"))
        scope.persist(observed.filter(col("__n") <= maxBucket))
      } else scope.persist(sizesRaw)

    // attach bucket size so hot/cold routing is a row-local predicate
    val withN = buckets.join(kept, keyCols)

    def side(df: DataFrame, suffix: String) =
      df.select(keyCols.map(col) ++
        ((idCol, if (suffix == "_a") "a" else "b") +: payloadCols.map(p => (p, s"$p$suffix")))
          .map { case (c, as) => col(c).as(as) }: _*)

    val outCols = ("a" +: "b" +: payloadCols.flatMap(p => Seq(s"${p}_a", s"${p}_b")))
      .map(col)

    val hotCut = if (hotThreshold > 0 && salts > 1) hotThreshold.toLong else Long.MaxValue
    val cold = withN.filter(col("__n") <= hotCut)
    val coldPairs = side(cold, "_a")
      .join(side(cold, "_b"), keyCols)
      .filter(col("a") < col("b"))
      .select(outCols: _*)

    if (hotCut == Long.MaxValue) return coldPairs

    val hot = withN.filter(col("__n") > hotCut)
    val l = side(hot, "_a")
      .withColumn("__salt", pmod(xxhash64(col("a")), lit(salts.toLong)))
    val r = side(hot, "_b")
      .withColumn("__salt", explode(sequence(lit(0L), lit(salts.toLong - 1))))
    val hotPairs = l.join(r, keyCols :+ "__salt")
      .filter(col("a") < col("b"))
      .select(outCols: _*)

    coldPairs.unionAll(hotPairs)
  }
}
