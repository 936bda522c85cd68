package graft

import org.apache.spark.sql.DataFrame
import graft.exact.{DedupConfig, ExactDedup}
import graft.near.NearDup
import graft.sim.Ann
import graft.state.Checkpoints
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
    "Ann.cosineDupPairs" -> (() => Ann.cosineDupPairs(emb, 0.40)),
    "ExactDedup.duplicates" -> (() => ExactDedup.duplicates(corpus)),
    "ExactDedup.hashedSurvivors" -> (() => ExactDedup.hashedSurvivors(corpus, DedupConfig())),
    "ExactDedup.duplicateSets" -> (() => ExactDedup.duplicateSets(corpus)),
    "ExactDedup.report" -> (() => ExactDedup.report(corpus)),
    "ExactDedup.uniques" -> (() => ExactDedup.uniques(corpus)),
    "ExactDedup.dups" -> (() => ExactDedup.dups(corpus)),
    "ExactDedup.rmsh" -> (() => ExactDedup.rmsh(corpus)),
    "ExactDedup.validate" -> (() => ExactDedup.validate(corpus)),
    "ExactDedup.stats" -> (() => ExactDedup.stats(corpus)),
    "Checkpoints.checkpointedDuplicates" -> (() => Checkpoints.checkpointedDuplicates(spark,
      corpus, java.nio.file.Files.createTempDirectory("graft_leak_ckpt").toString, 8)))

  /** Entries whose correct result on the fixture is empty (every emitted
    * set's members are byte-identical). */
  private val emptyOnFixture = Set("ExactDedup.validate")

  entries.foreach { case (name, entry) =>
    test(s"$name holds no block once its result is freed") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val result = entry()
      assert((result.count() == 0) == emptyOnFixture(name))
      Blocks.free(result, blocking = true)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name left ${leaked.size} persisted RDD(s): " +
        leaked.toSeq.sorted.map(id => spark.sparkContext.getPersistentRDDs(id).toDebugString)
          .mkString("\n"))
    }
  }
}
