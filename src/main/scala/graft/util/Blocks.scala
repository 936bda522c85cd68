package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.CheckpointShim

/** Block-lifecycle hygiene for eager localCheckpoints.
  *
  * `Dataset.localCheckpoint(eager = true)` stores every partition in the
  * block manager (MEMORY_AND_DISK) and nothing ever frees them: the SQL
  * cache manager does not track checkpoint RDDs, so `catalog.clearCache()`
  * is blind to them and the blocks survive until the driver happens to GC
  * the RDD reference. In a long session that composes many operators (the
  * bench/verify harnesses run 57 queries x several reps in ONE session, and
  * connected components checkpoints EVERY iteration) the storage pool fills
  * with dead blocks; the unified memory manager cannot evict storage below
  * `spark.memory.storageFraction`, so execution memory shrinks and formerly
  * 20 s stages erratically take 100+ s (round-5 probe: clusters 39.8 s
  * fresh -> 107.3 s later in the same session, all of it in re-verified
  * edges). At the 100 TB target the same leak is an OOM, not a slowdown.
  */
object Blocks {

  /** Free the blocks behind an eagerly checkpointed frame. After this the
    * frame is UNUSABLE (lineage is truncated and the blocks are gone) —
    * call only once every consumer of `df` has materialized. No-op for
    * plans that contain no checkpoint RDD. */
  def free(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        CheckpointShim.unpersist(lr.rdd, blocking)
      case _ => ()
    }

  /** Session-wide sweep: drop the SQL cache AND every persisted RDD —
    * including checkpoint blocks no DataFrame tracks. For harness use
    * between independent reps/queries (each rep rebuilds its plans from
    * scratch, so nothing live can reference the swept blocks). Blocking,
    * so the next timed rep starts against an actually-empty store.
    *
    * Also drives ContextCleaner: broadcast pieces and shuffle files are
    * freed only after the driver GCs their handles (Spark's own lever for
    * this, spark.cleaner.periodicGC.interval, defaults to 30 MIN), and a
    * large heap may never organically full-GC inside a bench run — so
    * hundreds of queries accumulate dead broadcast blocks and driver-side
    * cleanup backlog, a per-stage tax that inflated late-session queries
    * (0.1 s queries measured 1.1 s at position ~40 of the round-5 run).
    * Throttled to once a minute so a rep loop doesn't GC-storm. */
  private val lastGc = new java.util.concurrent.atomic.AtomicLong(0L)

  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(CheckpointShim.unpersist(_, blocking = true))
    val now = System.nanoTime()
    val prev = lastGc.get()
    if (now - prev > 60L * 1000 * 1000 * 1000 && lastGc.compareAndSet(prev, now))
      System.gc()
  }
}
