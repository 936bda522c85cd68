package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint-leaf plumbing that needs Spark's private[spark] surface. */
object CheckpointShim {

  /** Eager local checkpoint whose `LogicalRDD` leaf reports at most the
    * measured size of its stored blocks. The leaf Spark builds carries the
    * source plan's size ESTIMATE, which after a few joins is GiBs (or
    * 1e40 B) for a relation of a few hundred rows, so every join against
    * it plans as a shuffle join. The estimate is kept where it is already
    * smaller: no join the plain checkpoint would broadcast turns into a
    * shuffle join. */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    out.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val stored = lr.rdd.sparkContext.getRDDStorageInfo(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize).sum
        val measured = BigInt(math.max(1L, stored))
        if (measured >= lr.stats.sizeInBytes) out
        else {
          val session = out.sparkSession.asInstanceOf[SparkSession]
          Dataset.ofRows(session, lr.copy()(session,
            Some(lr.stats.copy(sizeInBytes = measured)), Some(lr.constraints)))
        }
      case _ => out
    }
  }

  /** `RDD.unpersist` minus the WARN it logs for every locally checkpointed
    * RDD ("its lineage has been truncated") — noise when freeing checkpoint
    * blocks is the point. Same call underneath: `SparkContext.unpersistRDD`. */
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
