package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CheckpointShim
import org.apache.spark.storage.StorageLevel

/** The one way to materialize an intermediate while composing a query:
  * `persist` runs an EAGER localCheckpoint and returns its result — a
  * `LogicalRDD` leaf with the lineage cut, whose size statistic is capped
  * at the measured size of its stored blocks (so broadcast planning is not
  * misled by a join's inflated estimate). A leaf is computed exactly once
  * however many branches consume it, and no materialized frame nests
  * another: the plan text AQE re-renders on every stage update stays
  * proportional to the live query, not to every intermediate below it.
  * `release` frees the tracked blocks once the composite's result is
  * materialized.
  */
class PersistScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  protected def track(df: DataFrame): Unit = frames.synchronized { frames += df }

  def persist(df: DataFrame): DataFrame =
    if (PersistScope.isLazy) df.persist(StorageLevel.MEMORY_AND_DISK)
    else {
      val out = CheckpointShim.checkpoint(df)
      track(out)
      out
    }

  /** Free every tracked frame's blocks (non-blocking). Call only after the
    * composite's result is materialized (checkpointed / written). */
  def release(): Unit = frames.synchronized {
    frames.foreach(Blocks.free(_))
    frames.clear()
  }
}

object PersistScope {
  /** Materialize without tracking — for direct stage-level calls where the
    * caller owns the blocks' lifetime (`Blocks.free` / `Blocks.sweep`). */
  val unmanaged: PersistScope = new PersistScope {
    override protected def track(df: DataFrame): Unit = ()
    override def release(): Unit = ()
  }

  /** Set (e.g. by graft.Explain) to keep composite operators LAZY so their
    * full Catalyst plan stays inspectable — the default eager checkpoints
    * replace it with Scan ExistingRDD leaves. Lazy mode persists instead of
    * checkpointing and skips the release (the un-materialized plan still
    * references the caches). */
  val LazyProp = "graft.scope.lazy"

  private def isLazy: Boolean = java.lang.Boolean.getBoolean(LazyProp)

  /** Run `body` with a fresh scope; materialize its result with an EAGER
    * localCheckpoint, then release every intermediate. The returned leaf no
    * longer references the released blocks. */
  def scoped(body: PersistScope => DataFrame): DataFrame =
    if (isLazy) body(unmanaged)
    else {
      val scope = new PersistScope
      try unmanaged.persist(body(scope))
      finally scope.release()
    }
}
