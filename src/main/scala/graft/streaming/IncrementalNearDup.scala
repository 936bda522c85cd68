package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.near.{NearConfig, NearDup}

/** Incremental (streaming) near-duplicate CANDIDATE generation: as document
  * rows land, MinHash signatures and LSH band keys are computed map-side
  * (the same codegen'd expressions as the batch tier — stateless, so they
  * run unchanged on a stream), and each (band_idx, band_key) bucket holds
  * its member ids as keyed state: every arriving member emits a candidate
  * pair against each member already in its bucket. The streaming face of
  * the north rule's LSH tier — candidate discovery with latency of one
  * micro-batch instead of a batch rescan.
  *
  * Bucket state is CAPPED like the batch tier's bucket cap, with the one
  * semantic divergence streaming forces: the batch cap drops an over-cap
  * bucket RETROACTIVELY (no pairs at all), while a stream cannot retract
  * pairs it already emitted — so an over-cap bucket stops emitting (and
  * stops growing state) at the cap. On data where no bucket exceeds the
  * cap the two are identical: PipelineSpec asserts stream ≡ batch lshPairs
  * exactly on the corpus fixture (whose default-cap buckets all fit).
  *
  * Pairs may surface via several bands, exactly like the batch bucket
  * join — consumers dedup (`.dropDuplicates`/`distinct`), same contract.
  * Downstream verification (2-bit sketch prefilter + exact Jaccard) is the
  * batch path over the candidate stream's sink.
  */
object IncrementalNearDup {

  case class BucketState(ids: Array[Long], capped: Boolean)
  case class CandPair(a: Long, b: Long)

  /** Streaming LSH candidate pairs over the corpus-as-a-stream (same
    * construction as the batch corpus; no exact-dup rep collapse — a second
    * stateful operator — so the batch twin is the band join over ALL
    * scanned rows). Memory sink; callers processAllAvailable() then read
    * `queryName` (and dedup across bands). */
  def streamLshPairs(spark: SparkSession, sfDir: String, queryName: String,
                     cfg: NearConfig = NearConfig()): StreamingQuery = {
    import spark.implicits._
    val docs = spark.readStream
      .schema(IncrementalDedup.documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val bands = bandRows(graft.Tables.corpusOf(docs), cfg)

    val out = bands.as[(Long, Long, String)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[BucketState]) =>
          // fold in file_id order: intra-batch arrival is deterministic
          val sorted = rows.map(_._1).toArray
          java.util.Arrays.sort(sorted)
          var st = state.getOption.getOrElse(BucketState(Array.emptyLongArray, capped = false))
          val emitted = scala.collection.mutable.ArrayBuffer.empty[CandPair]
          sorted.foreach { id =>
            if (!st.capped) {
              st.ids.foreach { other =>
                emitted += (if (other < id) CandPair(other, id) else CandPair(id, other))
              }
              val grown = st.ids :+ id
              st =
                if (grown.length >= cfg.maxBucket && cfg.maxBucket > 0)
                  BucketState(Array.emptyLongArray, capped = true)
                else BucketState(grown, capped = false)
            }
          }
          state.update(st)
          emitted.iterator
      }
    out.toDF().writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** (file_id, band_idx, band_key) rows for every scannable document —
    * shared by the stream above and its batch twin below (identical
    * expressions guarantee identical bucket keys). */
  private def bandRows(corpus: DataFrame, cfg: NearConfig): DataFrame =
    NearDup.bandsOf(NearDup.signalFrame(NearDup.shingleable(corpus, cfg), cfg), cfg)

  /** Batch twin: every member pair of each band bucket over the same band
    * rows, from the in-bucket pair kernel (PipelineSpec asserts the stream
    * equals this exactly when no bucket exceeds the cap). */
  def batchLshPairs(corpus: DataFrame, cfg: NearConfig = NearConfig()): DataFrame =
    graft.util.PersistScope.scoped(_ =>
      graft.skew.Salting.bucketPairs(bandRows(corpus, cfg), Seq("band_idx", "band_key"),
        "file_id", cfg.maxBucket, cfg.hotBucket).distinct())
}
