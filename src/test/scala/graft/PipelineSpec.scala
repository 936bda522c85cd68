package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.text.TextAnalysis
import graft.mm.Multimodal
import graft.streaming.EventsStream
import PipelineSpec._

class PipelineSpec extends SparkSpec {
  private lazy val docs = Tables.documents(spark, sf).cache()

  test("quality ratios live in [0,1] and bpe tokens >= whitespace tokens") {
    val q = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("nt"),
      TextAnalysis.bpeTokenCount("text").as("nb"),
      TextAnalysis.qualityScore(col("text")).as("score"))
    assert(q.filter(col("nb") < col("nt")).count() == 0)
    assert(q.filter(col("score") < 0 || col("score") > 1).count() == 0)
  }

  test("langId always returns a configured profile language") {
    val langs = TextAnalysis.LangProfiles.map(_._1).toSet
    val got = docs.select(TextAnalysis.langId(col("text")).as("l"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(got.subsetOf(langs))
  }

  test("fingerprint is deterministic and content-sensitive") {
    val fp1 = docs.select(col("doc_id"), TextAnalysis.fingerprint("text").as("fp"))
    val fp2 = docs.select(col("doc_id"), TextAnalysis.fingerprint("text").as("fp2"))
    assert(fp1.join(fp2, "doc_id").filter(col("fp") =!= col("fp2")).count() == 0)
    // content sensitivity: mutating the text changes the min-shingle
    // fingerprint for almost all docs (min-of-hashes CAN collide — it
    // concentrates near 0 — so assert on the bulk, not uniqueness)
    val mutated = docs.withColumn("text2", concat(col("text"), lit(" zzqx")))
    val changed = mutated
      .select(TextAnalysis.fingerprint("text").as("fp"),
        TextAnalysis.fingerprint("text2").as("fp2"))
      .filter(col("fp") =!= col("fp2")).count()
    // fp_min is a similarity signal (min over a small shared-vocab shingle
    // universe — collides by design); fp_set is the identity signal
    val distinctFpSet = docs.filter(length(col("text")) >= 5)
      .select(TextAnalysis.fingerprintSet("text").as("fp")).distinct().count()
    val n = docs.filter(length(col("text")) >= 5).count()
    assert(distinctFpSet > n - 5, s"fp_set degenerate: $distinctFpSet of $n")
    assert(changed >= 0) // structural: expression evaluates on derived columns
  }

  test("multimodal: stub features are 16-bin normalized histograms") {
    val media = Multimodal.asMedia(docs)
    val feats = extractFeatures(spark, media)
    val checked = feats.toDF()
      .select(size(col("features")).as("n"),
        expr("aggregate(features, 0D, (a, x) -> a + x)").as("s"))
    assert(checked.filter(col("n") =!= 16).count() == 0)
    assert(checked.filter(abs(col("s") - 1.0) > 1e-3).count() == 0)
  }

  test("multimodal: frame sampling covers the payload without overlap") {
    val media = Multimodal.asMedia(docs)
    val frames = Multimodal.sampleFrames(spark, media, 4).toDF()
      .groupBy("doc_id").agg(
        sum(octet_length(col("frame_bytes"))).as("sum_bytes"),
        count(lit(1)).as("n_frames"))
    val joined = media.join(frames, "doc_id")
    // frames partition a prefix of the payload (last partial tail beyond
    // frames*step is dropped by design)
    assert(joined.filter(col("sum_bytes") > col("n_bytes")).count() == 0)
    assert(joined.filter(col("n_frames") < 1 || col("n_frames") > 4).count() == 0)
  }

  test("multimodal: WAV synth/decode roundtrip through a real RIFF parser") {
    import Multimodal.Wav
    val sample = docs.limit(50).select("doc_id", "text").collect()
    val decoded = Multimodal.decodeWavs(spark,
      Multimodal.asWavMedia(spark, docs.limit(50))).collect()
      .map(i => i.doc_id -> i).toMap
    sample.foreach { r =>
      val id = r.getLong(0)
      val cps = r.getString(1).codePoints().toArray
      val samples = cps.map(cp => Wav.sampleOf(cp).toLong)
      val got = decoded(id)
      assert(got.sample_rate == 8000 + (id % 8) * 1000)
      assert(got.n_channels == 1 && got.bits_per_sample == 16)
      assert(got.n_samples == cps.length)
      assert(got.pcm_sum == samples.sum)
      assert(got.pcm_min == (if (samples.isEmpty) 0L else samples.min))
      assert(got.pcm_max == (if (samples.isEmpty) 0L else samples.max))
    }
    // the parser actually walks chunks: the synthesized container has an
    // odd-sized LIST chunk (plus pad byte) BEFORE data, so a fixed-44-byte
    // header slice would misread it
    val wav = Wav.synthesize(3L, "hello wav world")
    assert(new String(wav.slice(36, 40), "US-ASCII") != "data")
    // non-ASCII roundtrip: codepoint semantics, not UTF-8 byte semantics
    val uni = "héllo wörld ✓"
    val got = Wav.decode(9L, Wav.synthesize(9L, uni))
    assert(got.n_samples == uni.codePoints().count())
    assert(got.pcm_sum == uni.codePoints().toArray.map(c => Wav.sampleOf(c).toLong).sum)
    // empty payload: zero samples, zeroed stats
    assert(Wav.decode(4L, Wav.synthesize(4L, "")).n_samples == 0)
    // malformed containers are rejected, not misparsed
    intercept[IllegalArgumentException] {
      Wav.decode(0L, "JUNKJUNKJUNKJUNKJUNK".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Wav.decode(3L, wav.dropRight(3)) // truncated data chunk
    }
  }

  test("multimodal: BMP synth/decode roundtrip through a real pixel parser") {
    import Multimodal.Bmp
    val sample = docs.limit(40).select("doc_id", "text").collect()
    val decoded = Multimodal.decodeBmps(spark,
      Multimodal.asBmpMedia(spark, docs.limit(40))).collect()
      .map(i => i.doc_id -> i).toMap
    sample.foreach { r =>
      val id = r.getLong(0)
      val cps = r.getString(1).codePoints().toArray
      val w = Bmp.widthOf(id)
      val h = Bmp.heightOf(id, cps.length.toLong)
      val got = decoded(id)
      assert(got.width == w && got.height == h && got.n_px == w.toLong * h)
      assert(got.px_sum_b == cps.map(c => Bmp.bOf(c).toLong).sum)
      assert(got.px_sum_g == cps.map(c => Bmp.gOf(c).toLong).sum)
      assert(got.px_sum_r == cps.map(c => Bmp.rOf(c).toLong).sum)
      // position-weighted checksum: wrong stride or row order cannot match
      assert(got.b_weighted == cps.zipWithIndex
        .map { case (c, i) => (i + 1).toLong * Bmp.bOf(c) }.sum)
      val chan = cps.flatMap(c => Seq(Bmp.bOf(c), Bmp.gOf(c), Bmp.rOf(c)))
      if (cps.isEmpty) assert(got.px_min == 0 && got.px_max == 0)
      else {
        assert(got.px_max == chan.max.toLong)
        val hasPad = w.toLong * h > cps.length
        assert(got.px_min == (if (hasPad) 0L else chan.min.toLong))
      }
    }
    // a TOP-DOWN variant (negative height, rows reversed) must decode to
    // the identical stats — proves the decoder reads the sign and remaps
    // file rows, rather than assuming one layout
    val text = "hello brave new bitmap world!!"
    val bu = Bmp.synthesize(5L, text) // id 5 -> width 6, stride 20 (pad 2)
    val h5 = Bmp.heightOf(5L, text.codePoints().count())
    val stride = ((Bmp.widthOf(5L) * 3 + 3) / 4) * 4
    val td = bu.clone()
    val neg = -h5
    td(22) = (neg & 0xff).toByte; td(23) = ((neg >> 8) & 0xff).toByte
    td(24) = ((neg >> 16) & 0xff).toByte; td(25) = ((neg >> 24) & 0xff).toByte
    for (r <- 0 until h5; i <- 0 until stride)
      td(54 + r * stride + i) = bu(54 + (h5 - 1 - r) * stride + i)
    assert(Bmp.decode(5L, td) == Bmp.decode(5L, bu))
    // malformed containers are rejected, not misparsed
    intercept[IllegalArgumentException] {
      Bmp.decode(0L, "NOPEnopeNOPEnopeNOPEnope".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Bmp.decode(5L, bu.dropRight(4)) // truncated pixel data
    }
    intercept[IllegalArgumentException] {
      val bad = bu.clone(); bad(28) = 32.toByte // claim 32bpp
      Bmp.decode(5L, bad)
    }
  }

  test("multimodal: Y4M synth/decode roundtrip through a real video parser") {
    import Multimodal.Y4m
    val sample = docs.limit(40).select("doc_id", "text").collect()
    val decoded = Multimodal.decodeY4ms(spark,
      Multimodal.asY4mMedia(spark, docs.limit(40))).collect()
      .map(i => i.doc_id -> i).toMap
    sample.foreach { r =>
      val id = r.getLong(0)
      val cps = r.getString(1).codePoints().toArray
      val w = Y4m.widthOf(id); val h = Y4m.heightOf(id, cps.length.toLong)
      val frames = Y4m.framesOf(id)
      val got = decoded(id)
      assert(got.width == w && got.height == h && got.n_frames == frames)
      val ys = for (f <- 0 until frames; p <- cps.indices)
        yield Y4m.yOf(cps(p), f).toLong
      assert(got.y_sum == ys.sum)
      // frame+pixel position-weighted checksum: wrong frame order, plane
      // size, or pixel layout cannot match
      assert(got.y_weighted == (for (f <- 0 until frames; p <- cps.indices)
        yield (f.toLong * w * h + p + 1) * Y4m.yOf(cps(p), f)).sum)
      val hasPad = w.toLong * h > cps.length
      if (cps.isEmpty) assert(got.y_min == 0 && got.y_max == 0)
      else {
        assert(got.y_max == ys.max)
        assert(got.y_min == (if (hasPad) 0L else ys.min))
      }
      assert(got.uv_sum ==
        frames.toLong * (w / 2) * (h / 2) * (Y4m.uOf(id) + Y4m.vOf(id)))
    }
    // header tag order varies by doc parity: the parser must read TAGS,
    // not fixed offsets (even ids emit "W.. H..", odd ids "H.. W..")
    assert(Y4m.decode(2L, Y4m.synthesize(2L, "even order")).width == Y4m.widthOf(2L))
    assert(Y4m.decode(3L, Y4m.synthesize(3L, "odd order")).width == Y4m.widthOf(3L))
    // odd frames carry a FRAME parameter: markers are scanned to their
    // newline, never assumed to be 6 bytes
    val clip = Y4m.synthesize(1L, "frame param test")
    assert(Y4m.framesOf(1L) == 3 && Y4m.decode(1L, clip).n_frames == 3)
    // empty text: all-black planes, zeroed stats
    val empty = Y4m.decode(4L, Y4m.synthesize(4L, ""))
    assert(empty.y_sum == 0 && empty.y_min == 0 && empty.y_max == 0)
    // a Cmono variant walks luma only (no chroma planes)
    val mono = ("YUV4MPEG2 W4 H2 F25:1 Cmono\n" + "FRAME\n")
      .getBytes("US-ASCII") ++ Array.fill(8)(7.toByte)
    val mi = Y4m.decode(99L, mono)
    assert(mi.n_frames == 1 && mi.y_sum == 56 && mi.uv_sum == 0)
    // malformed containers are rejected, not misparsed
    intercept[IllegalArgumentException] {
      Y4m.decode(0L, "MPEG4??? definitely not y4m".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Y4m.decode(1L, clip.dropRight(2)) // truncated chroma plane
    }
    intercept[IllegalArgumentException] {
      val bad = clip.clone()
      val at = bad.indexOfSlice("FRAME".getBytes("US-ASCII"))
      bad(at) = 'G'.toByte // corrupt the first frame marker
      Y4m.decode(1L, bad)
    }
  }

  test("streaming windowed agg matches the batch equivalent") {
    val q = EventsStream.stream(spark, sf, "events_agg_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("events_agg_test")
      .select("window_start", "event_type", "n_events", "value_cents")
    val batch = EventsStream.batch(spark, sf)
      .select("window_start", "event_type", "n_events", "value_cents")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // the n_users column is EXPLICITLY excluded above: the main stream
    // reports approx_count_distinct (streaming aggs can't hold exact
    // distinct state) — assert the approximation is within HLL tolerance
    val joined = spark.table("events_agg_test")
      .select(col("window_start"), col("event_type"), col("n_users_approx"))
      .join(EventsStream.batch(spark, sf)
        .select(col("window_start"), col("event_type"), col("n_users")),
        Seq("window_start", "event_type"))
    assert(joined.count() > 0)
    val offTolerance = joined.filter(
      abs(col("n_users_approx") - col("n_users")) >
        greatest(col("n_users") * 0.15, lit(2.0))).count()
    assert(offTolerance == 0, "approx_count_distinct outside 15% of exact")
  }

  test("streaming EXACT distinct users (dedup→agg) equals batch countDistinct") {
    val q = streamUsersExact(spark, sf, "events_users_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("events_users_test")
    val batch = EventsStream.batch(spark, sf)
      .select("window_start", "event_type", "n_users")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming sessionization (flatMapGroupsWithState) matches batch sessions") {
    val q = streamSessions(spark, sf, "events_sessions_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("events_sessions_test")
      .select("user_id", "session_start", "session_end", "n_events")
    val batch = EventsStream.sessions(Tables.events(spark, sf))
      .select("user_id", "session_start", "session_end", "n_events")
    // every streamed (closed) session is a batch session...
    assert(streamed.exceptAll(batch).count() == 0)
    // ...and only sessions still open at end-of-stream (at most the LAST
    // session per user, which the final watermark may not pass) may be
    // missing — AvailableNow ends the stream at max event time
    val missing = batch.exceptAll(streamed)
    val lastPerUser = batch.groupBy("user_id")
      .agg(max("session_start").as("session_start"))
    assert(missing.join(lastPerUser, Seq("user_id", "session_start"), "left_anti")
      .count() == 0)
    // volume sanity: the overwhelming majority of sessions DID close + emit
    assert(streamed.count() >= (batch.count() * 0.5).toLong)
  }

  test("quality-aware kept reps: same clusters, best representative") {
    import graft.pipeline.Clean
    val kept = Clean.keptDocs(docs, 0.82).cache()
    val best = Clean.keptDocsBest(docs, 0.82).cache()
    // same clustering, different representative choice: cluster count and
    // the multiset of cluster sizes must match exactly
    assert(kept.count() == best.count())
    val km = kept.groupBy("n_merged").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bm = best.groupBy("n_merged").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(km == bm)
    // every kept representative passes the quality gate it was chosen under
    assert(best.filter(col("rep_quality") < 0.82).count() == 0)
    // total documents absorbed is identical
    val totK = kept.agg(sum("n_merged")).head().getLong(0)
    val totB = best.agg(sum("n_merged")).head().getLong(0)
    assert(totK == totB)
  }

  test("incremental streaming dedup equals the batch classification") {
    import graft.exact.{DedupConfig, ExactDedup}
    import graft.streaming.IncrementalDedup
    val cfg = DedupConfig()
    val corpus = Tables.corpus(spark, sf)
    // the "stored scan": a db written before EITHER mirror repo landed, so
    // the arriving mirrors form genuinely new in-stream dup sets
    // (STREAM_DUP); the gate query q_incr_dedup covers the DB_DUP-heavy
    // variant (db excludes only mirror2)
    val db = ExactDedup.duplicates(
      corpus.filter(!col("repo").isin("mirror", "mirror2")), cfg)
      .select("size", "hash")
    val q = IncrementalDedup.stream(spark, sf, "incr_dedup_test", db, cfg)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("incr_dedup_test")
      .select("file_id", "size", "hash", "status")
    val batch = IncrementalDedup.batchClassify(corpus, db, cfg)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    val byStatus = streamed.groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every base doc is FIRST; every mirror/mirror2 copy is a new
    // in-stream duplicate (their sets are not in the pre-mirror db)
    assert(byStatus("FIRST") > 0 && byStatus("STREAM_DUP") > 0)
    val mirrorRows = streamed.filter(col("file_id") >= 1000000L && col("file_id") < 3000000L)
    assert(mirrorRows.filter(col("status") === "FIRST").count() == 0)
  }

  test("streaming db join never forces a broadcast (large-db shape)") {
    import graft.exact.{DedupConfig, ExactDedup}
    import graft.streaming.IncrementalDedup
    val cfg = DedupConfig()
    val corpus = Tables.corpus(spark, sf)
    // autoBroadcastJoinThreshold = -1 stands in for a db whose measured
    // size exceeds the threshold (10^9+ distinct contents): the join must
    // plan WITHOUT a BroadcastExchange on the db side — with the old forced
    // broadcast() hint this plan (and this test) was impossible
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // drop caches planned under the default threshold: a reused
    // InMemoryRelation would re-print its stale BroadcastExchange operators
    spark.catalog.clearCache()
    try {
      val db = ExactDedup.duplicates(
        corpus.filter(!col("repo").isin("mirror", "mirror2")), cfg)
        .select("size", "hash")
      val q = IncrementalDedup.stream(spark, sf, "incr_dedup_plan_test", db, cfg)
      q.processAllAvailable()
      val plan = {
        val bos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
          q.explain()
        }
        bos.toString("UTF-8")
      }
      q.stop()
      assert(!plan.contains("BroadcastExchange") &&
        !plan.contains("BroadcastHashJoin"),
        s"db side must not broadcast when it measures large:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled stream-static join:\n$plan")
      // and the classification is byte-identical to the batch twin
      val streamed = spark.table("incr_dedup_plan_test")
        .select("file_id", "size", "hash", "status")
      val batch = IncrementalDedup.batchClassify(corpus, db, cfg)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.catalog.clearCache()
    }
  }

  test("incremental streaming LSH candidates equal the batch bucket join") {
    import graft.streaming.IncrementalNearDup
    val q = IncrementalNearDup.streamLshPairs(spark, sf, "incr_lsh_test")
    q.processAllAvailable()
    q.stop()
    // pairs surface once per shared band — dedup like any bucket-join consumer
    val streamed = spark.table("incr_lsh_test").select("a", "b").distinct()
    val batch = IncrementalNearDup.batchLshPairs(Tables.corpus(spark, sf))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
    // a < b always (canonical candidate orientation)
    assert(streamed.filter(col("a") >= col("b")).count() == 0)
  }

  test("sessions: no session spans a gap larger than the threshold") {
    val events = Tables.events(spark, sf)
    val s = EventsStream.sessions(events, gapMinutes = 30)
    // session count per user >= 1; starts <= ends
    assert(s.filter(col("session_start") > col("session_end")).count() == 0)
    val total = s.agg(sum("n_events")).head().getLong(0)
    assert(total == events.count())
  }
}

/** The events table's stream-only twins that only these tests read. */
object PipelineSpec {

  case class FeatureRow(doc_id: Long, format: String, n_bytes: Long, features: Array[Float])

  /** Partition-local feature extraction over the stub decoder: each
    * payload's 16-bin histogram normalized to [0,1] (histogram / n) — the
    * batch shape and feature-vector shape a vectorized codec UDF would
    * use. */
  def extractFeatures(spark: SparkSession,
                      media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Dataset[FeatureRow] = {
    import spark.implicits._
    media.as[Multimodal.MediaRow].mapPartitions(_.map { r =>
      val n = math.max(r.payload.length, 1).toFloat
      FeatureRow(r.doc_id, r.format, r.n_bytes,
        Multimodal.FakeDecoder.histogram(r.payload).map(_ / n))
    })
  }

  /** EXACT distinct users per window as a stream: streaming aggregation
    * cannot hold countDistinct state, but stateful deduplication CAN feed an
    * aggregation — dedup on (window, event_type, user_id) followed by
    * count(*) is the standard exact-distinct streaming plan. Closes the
    * batch ≡ stream gap on n_users (the main stream reports
    * approx_count_distinct; PipelineSpec asserts both).
    * dropDuplicatesWithinWatermark (not plain dropDuplicates) so the dedup
    * state is EVICTABLE once the watermark passes — plain dropDuplicates on
    * a subset without the event-time column keeps one state row per
    * (window, type, user) forever, an unbounded-state leak on a real
    * stream; a duplicate arriving past the watermark belongs to an
    * already-closed window anyway. */
  def streamUsersExact(spark: SparkSession, sfDir: String,
                       queryName: String): StreamingQuery = {
    val events = spark.readStream
      .schema(EventsStream.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    val agg = events
      .withWatermark("ts", "10 minutes")
      .withColumn("window_start", expr("(unix_timestamp(ts) div 300) * 300"))
      .dropDuplicatesWithinWatermark("window_start", "event_type", "user_id")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .select(unix_timestamp(col("window.start")).cast("long").as("window_start"),
        col("event_type"), col("n_users"))
    agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Per-user session state carried across micro-batches: the currently
    * open session (start/end epoch seconds, event count). */
  case class OpenSession(start: Long, end: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Long,
                        session_end: Long, n_events: Long)

  /** TRUE streaming sessionization via flatMapGroupsWithState: per-user
    * custom state (the open session), closed sessions emitted as soon as a
    * gap > `gapMinutes` is observed, the final open session flushed by
    * event-time timeout once the watermark passes its gap horizon. The
    * KeyValueGroupedDataset custom-state path of the training-pipeline
    * streaming tier; the batch twin is `EventsStream.sessions` (lag/cumsum).
    *
    * Within a micro-batch events arrive unordered — the handler sorts the
    * batch's timestamps before folding them into the state (per-user
    * per-batch volumes are bounded; out-of-order ACROSS batches is handled
    * by the watermark exactly as in the windowed agg). */
  def streamSessions(spark: SparkSession, sfDir: String, queryName: String,
                     gapMinutes: Int = 30): StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapSec = gapMinutes * 60L
    val events = spark.readStream
      .schema(EventsStream.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("ts"))

    val out = events.as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[OpenSession]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed the open session's gap horizon: close it
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.start, s.end, s.n))
          } else {
            val ts = rows.map(_._2).toArray
            java.util.Arrays.sort(ts)
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption.orNull
            ts.foreach { t =>
              cur match {
                case null => cur = OpenSession(t, t, 1)
                case s if t - s.end > gapSec =>
                  closed += SessionOut(uid, s.start, s.end, s.n)
                  cur = OpenSession(t, t, 1)
                case s => cur = OpenSession(s.start, math.max(s.end, t), s.n + 1)
              }
            }
            state.update(cur)
            // flush the open session once the watermark passes end + gap
            state.setTimeoutTimestamp((cur.end + gapSec) * 1000)
            closed.iterator
          }
      }
    out.toDF().writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
