package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CheckpointShim

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
  *
  * One materialization deliberately stays outside any scope: the
  * per-round `localCheckpoint(false)` of ConnectedComponents' star rounds,
  * the path for edge sets too large to finish on the driver. The round's
  * signature aggregate is the action that materializes it, and an eager
  * round would double the Spark executions per round. Each round frees its
  * predecessor; the final round's frame is handed to the caller's scope
  * through [[track]].
  */
class PersistScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Hand an already-materialized frame's blocks to this scope: they are
    * freed with the scope's own at [[release]]. */
  def track(df: DataFrame): DataFrame = frames.synchronized { frames += df; df }

  def persist(df: DataFrame): DataFrame = track(CheckpointShim.checkpoint(df))

  /** Free every tracked frame's blocks (non-blocking). Call only after the
    * composite's result is materialized (checkpointed / written). */
  def release(): Unit = frames.synchronized {
    frames.foreach(Blocks.free(_))
    frames.clear()
  }
}

object PersistScope {

  /** Run `body` with a fresh scope and release it afterwards, whether
    * `body` returns or throws. `body`'s result must not read the scope's
    * frames once it returns. */
  def using[A](body: PersistScope => A): A = {
    val scope = new PersistScope
    try body(scope)
    finally scope.release()
  }

  /** Run `body` with a fresh scope; materialize its result with an EAGER
    * localCheckpoint, then release every intermediate. The returned leaf no
    * longer references the released blocks. */
  def scoped(body: PersistScope => DataFrame): DataFrame =
    using(s => CheckpointShim.checkpoint(body(s)))
}
