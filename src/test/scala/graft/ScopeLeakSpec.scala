package graft

import org.apache.spark.sql.DataFrame
import graft.near.NearDup
import graft.sim.Ann
import graft.util.Blocks

/** Every composite entry materializes its intermediates through a
  * `PersistScope` and frees them before returning: once the caller frees
  * the result itself, no block the call created may stay held. A leaked
  * block lives until a session-wide `Blocks.sweep`, squeezing execution
  * memory for every later query in the session. */
class ScopeLeakSpec extends SparkSpec {
  private def corpus = Tables.corpus(spark, sf)
  private def emb = Tables.embeddings(spark, sf)

  private val entries: Seq[(String, () => DataFrame)] = Seq(
    "NearDup.lshPairs" -> (() => NearDup.lshPairs(corpus)),
    "NearDup.simhashPairs" -> (() => NearDup.simhashPairs(corpus)),
    "NearDup.verifiedPairs" -> (() => NearDup.verifiedPairs(corpus)),
    "NearDup.clusters" -> (() => NearDup.clusters(corpus)),
    "NearDup.allFileClusters" -> (() => NearDup.allFileClusters(corpus)),
    "Ann.kmeansCentroids" -> (() => Ann.kmeansCentroids(emb, 16, 2)),
    "Ann.ivfTopK" -> (() => Ann.ivfTopK(emb, 0L until 10L, 5, lloydIters = 1)),
    "Ann.cosineDupPairs" -> (() => Ann.cosineDupPairs(emb, 0.40)))

  entries.foreach { case (name, entry) =>
    test(s"$name holds no block once its result is freed") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val result = entry()
      assert(result.count() > 0)
      Blocks.free(result, blocking = true)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name left ${leaked.size} persisted RDD(s): " +
        leaked.toSeq.sorted.map(id => spark.sparkContext.getPersistentRDDs(id).toDebugString)
          .mkString("\n"))
    }
  }
}
