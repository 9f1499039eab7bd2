package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Derived
import graft.streaming.Streams
import graft.streaming.Streams.{Event, SessionAgg}

/** Streaming surface in batch mode: the transforms are identical for
  * batch and streaming frames, so batch assertions pin the semantics. */
class StreamsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
  private def tsAt(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00")

  /** Write `df` as the i-th single-file micro-batch under `dir`.
    * Mtimes are pinned a minute apart: FileStreamSource orders files by
    * modification time, and two files copied within one millisecond
    * would tie and leave batch order to the filesystem listing — the
    * cross-batch tests here depend on processing order. */
  private def writeSourceBatch(
      dir: String, df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-batch-w").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = java.nio.file.Paths.get(dir, f"b$i%02d.parquet")
    java.nio.file.Files.copy(part.toPath, dst)
    dst.toFile.setLastModified(1700000000000L + i * 60000L)
  }

  test("sessionize splits on the inactivity gap and closes trailing sessions") {
    val events = Seq(
      Event(1L, ts(0), "a"), Event(1L, ts(10), "b"),   // session 1: 2 events
      Event(1L, tsAt(11, 0), "c"),                     // gap 50min → session 2
      Event(2L, ts(5), "a")).toDS()                    // user 2: 1 session
    val out = Streams.sessionize(events, gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.start.getTime))
    assert(out.toSeq == Seq(
      SessionAgg(1L, 2, ts(0), ts(10)),
      SessionAgg(1L, 1, tsAt(11, 0), tsAt(11, 0)),
      SessionAgg(2L, 1, ts(5), ts(5))))
  }

  test("sessionize: events exactly at the gap boundary stay in one session") {
    val events = Seq(
      Event(1L, ts(0), "a"), Event(1L, ts(30), "b")).toDS() // exactly 30min
    val out = Streams.sessionize(events, gapMinutes = 30).collect()
    assert(out.toSeq == Seq(SessionAgg(1L, 2, ts(0), ts(30))))
  }

  test("hourlyTypeCounts buckets by tumbling hour and type") {
    val events = Seq(
      (tsAt(10, 5), "click", 1.0),
      (tsAt(10, 55), "click", 2.0),
      (tsAt(11, 5), "click", 4.0),
      (tsAt(10, 30), "view", 8.0))
      .toDF("ts", "event_type", "value")
    val out = Streams.hourlyTypeCounts(events)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1.getTime, t._2))
    assert(out.toSeq == Seq(
      (tsAt(10, 0), "click", 2L, 3.0),
      (tsAt(10, 0), "view", 1L, 8.0),
      (tsAt(11, 0), "click", 1L, 4.0)))
  }

  test("windowedHeavyHitters: capacity-bounded MG summary per window, " +
    "batch and streaming twins agree where the sketch is exact") {
    // window 10:00 holds 6 tokens over 3 distinct; capacity 8 >= distinct
    // means NO trim ever fires, so the summary is the exact count map
    // under ANY merge order — a deterministic assertion, not a band
    val rows = Seq(
      (tsAt(10, 1), "a"), (tsAt(10, 2), "a"), (tsAt(10, 3), "a"),
      (tsAt(10, 10), "b"), (tsAt(10, 11), "b"), (tsAt(10, 12), "c"),
      (tsAt(14, 0), "z")) // late-window event: closes 10:00 on the stream
    val expected10 = Map("a" -> 3L, "b" -> 2L, "c" -> 1L)
    // batch twin: watermark is a no-op, both windows emit
    val batch = Streams.windowedHeavyHitters(
      rows.toDF("ts", "tok"), "tok", capacity = 8)
    val bOut = batch.as[(java.sql.Timestamp, Map[String, Long])]
      .collect().sortBy(_._1.getTime)
    assert(bOut.toSeq == Seq(tsAt(10, 0) -> expected10, tsAt(14, 0) -> Map("z" -> 1L)))
    // streaming: two micro-batches; the 14:00 arrival pushes the
    // watermark to 12:00 > 11:00, so ONLY the closed 10:00 window emits
    val dir = java.nio.file.Files.createTempDirectory("graft-hh-stream").toString
    writeSourceBatch(dir, rows.take(6).toDF("ts", "tok"), 0)
    writeSourceBatch(dir, rows.drop(6).toDF("ts", "tok"), 1)
    val stream = spark.readStream.schema("ts TIMESTAMP, tok STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.windowedHeavyHitters(stream, "tok", capacity = 8)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("hh_stream")
        .as[(java.sql.Timestamp, Map[String, Long])].collect().toSeq
      assert(out == Seq(tsAt(10, 0) -> expected10))
    } finally q.stop()
  }

  test("windowedHistogram: per-window bin rows match the batch sketch " +
    "bin-for-bin; only closed windows emit on the stream") {
    val rows = Seq(
      (tsAt(10, 1), 5.0), (tsAt(10, 2), 15.0), (tsAt(10, 3), 15.0),
      (tsAt(10, 10), 95.0), (tsAt(10, 11), 150.0), // overflow bin 10
      (tsAt(14, 0), 42.0)) // closes 10:00 on the stream
    val expected10 = Seq((0, 1L), (1, 2L), (9, 1L), (10, 1L))
    val batch = Streams.windowedHistogram(
      rows.toDF("ts", "v"), "v", lo = 0.0, hi = 100.0, nbins = 10)
    val bOut = batch.as[(java.sql.Timestamp, Int, Long)].collect()
      .filter(_._1 == tsAt(10, 0)).map(r => (r._2, r._3)).sortBy(_._1)
    assert(bOut.toSeq == expected10)
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-stream").toString
    writeSourceBatch(dir, rows.take(5).toDF("ts", "v"), 0)
    writeSourceBatch(dir, rows.drop(5).toDF("ts", "v"), 1)
    val stream = spark.readStream.schema("ts TIMESTAMP, v DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.windowedHistogram(stream, "v", 0.0, 100.0, 10)
      .writeStream.format("memory").queryName("wh_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("wh_stream")
        .as[(java.sql.Timestamp, Int, Long)].collect().toSeq
      assert(out.map(_._1).distinct == Seq(tsAt(10, 0)),
        "only the watermark-closed window may emit")
      assert(out.map(r => (r._2, r._3)).sortBy(_._1) == expected10,
        "stream profile must equal the batch sketch bin-for-bin")
    } finally q.stop()
  }

  test("windowedDriftAlert: only drifted windows emit; psi is bitwise " +
    "the batch histPsi kernel; state is bin-bounded by construction") {
    import scala.collection.immutable.ListMap
    // reference profile: the steady distribution (bins 0,1,2 evenly)
    val reference = ListMap(0 -> 2L, 1 -> 2L, 2 -> 2L)
    val steady = Seq((tsAt(10, 1), 5.0), (tsAt(10, 2), 15.0),
      (tsAt(10, 3), 25.0), (tsAt(10, 10), 7.0), (tsAt(10, 11), 17.0),
      (tsAt(10, 12), 27.0))
    val drifted = Seq((tsAt(11, 1), 500.0), (tsAt(11, 2), 500.0),
      (tsAt(11, 3), 5.0))
    val late = Seq((tsAt(14, 0), 15.0)) // closes both windows
    val dir = java.nio.file.Files.createTempDirectory("graft-da-stream").toString
    writeSourceBatch(dir, (steady ++ drifted).toDF("ts", "v"), 0)
    writeSourceBatch(dir, late.toDF("ts", "v"), 1)
    val stream = spark.readStream.schema("ts TIMESTAMP, v DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.windowedDriftAlert(
      stream, "v", 0.0, 100.0, 10, reference, threshold = 0.25)
      .writeStream.format("memory").queryName("da_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("da_stream")
        .as[(java.sql.Timestamp, Long, Map[Int, Long], Double)].collect()
      assert(out.map(_._1).toSeq == Seq(tsAt(11, 0)),
        s"only the drifted window may alert: ${out.toSeq}")
      val (_, n, hist, psi) = out.head
      assert(n == 3L && hist == Map(0 -> 1L, 10 -> 2L),
        s"window profile: $n / $hist")
      // bitwise parity with the batch kernel on the same two maps
      val batchPsi = spark.range(1)
        .select(graft.ops.Profiling.histPsi(
          org.apache.spark.sql.functions.typedLit(ListMap(0 -> 1L, 10 -> 2L)),
          org.apache.spark.sql.functions.typedLit(reference)))
        .head().getDouble(0)
      assert(psi == batchPsi && psi > 0.25,
        s"stream psi must be the batch kernel bitwise: $psi vs $batchPsi")
    } finally q.stop()
    // batch mode: same expression, both windows score, steady ~0 drift
    val batch = Streams.windowedDriftAlert(
      (steady ++ drifted).toDF("ts", "v"), "v", 0.0, 100.0, 10,
      reference, threshold = -1.0) // emit everything
      .as[(java.sql.Timestamp, Long, Map[Int, Long], Double)]
      .collect().sortBy(_._1.getTime)
    assert(batch.length == 2 && math.abs(batch.head._4) < 1e-9,
      s"steady window drifts ~0: ${batch.toSeq}")
    intercept[IllegalArgumentException](Streams.windowedDriftAlert(
      steady.toDF("ts", "v"), "v", 0, 100, 10, Map.empty, 0.25))
  }

  test("windowedQuantiles: exact-regime reads are order statistics per " +
    "window, stored window sketches roll up with exact n, and only " +
    "closed windows emit on the stream") {
    import graft.functions.KllSketch
    // window 10:00 holds 1..5, window 11:00 holds 10..11 — far below
    // KLL's compaction capacity, so quantile reads are EXACT order
    // statistics (deterministic despite the randomized compactor)
    val rows = Seq(
      (tsAt(10, 1), 1.0), (tsAt(10, 2), 2.0), (tsAt(10, 3), 3.0),
      (tsAt(10, 10), 4.0), (tsAt(10, 11), 5.0),
      (tsAt(11, 1), 10.0), (tsAt(11, 2), 11.0),
      (tsAt(14, 0), 42.0)) // late event: closes 10:00 and 11:00 on the stream
    // batch twin: watermark is a no-op, all three windows emit
    val batch = Streams.windowedQuantiles(
      rows.toDF("ts", "v"), "v", probes = Seq(0.0, 0.5, 1.0))
    val bOut = batch.select("window_start", "n", "quantiles")
      .as[(java.sql.Timestamp, Long, Map[Double, Double])]
      .collect().sortBy(_._1.getTime)
    assert(bOut.toSeq == Seq(
      (tsAt(10, 0), 5L, Map(0.0 -> 1.0, 0.5 -> 3.0, 1.0 -> 5.0)),
      (tsAt(11, 0), 2L, Map(0.0 -> 10.0, 0.5 -> 10.0, 1.0 -> 11.0)),
      (tsAt(14, 0), 1L, Map(0.0 -> 42.0, 0.5 -> 42.0, 1.0 -> 42.0))),
      s"batch windows: ${bOut.toSeq}")
    // stored window sketches roll up: merge-read n is EXACT and the
    // merged median is the corpus order statistic (still exact regime)
    import org.apache.spark.sql.functions.{col, lit}
    val rollup = batch.agg(KllSketch.kllMerge(col("sk")).as("sk"))
      .select(KllSketch.kllN(col("sk")),
        KllSketch.kllQuantile(col("sk"), lit(0.5)))
      .head()
    assert(rollup.getLong(0) == 8L && rollup.getDouble(1) == 4.0,
      s"rollup of stored window sketches: $rollup")
    // streaming: the 14:00 arrival pushes the watermark past 10:00 and
    // 11:00, so exactly those two windows emit — through the state store
    val dir = java.nio.file.Files.createTempDirectory("graft-wq-stream").toString
    writeSourceBatch(dir, rows.take(7).toDF("ts", "v"), 0)
    writeSourceBatch(dir, rows.drop(7).toDF("ts", "v"), 1)
    val stream = spark.readStream.schema("ts TIMESTAMP, v DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.windowedQuantiles(stream, "v", probes = Seq(0.5))
      .writeStream.format("memory").queryName("wq_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("wq_stream")
        .select("window_start", "n", "quantiles")
        .as[(java.sql.Timestamp, Long, Map[Double, Double])]
        .collect().sortBy(_._1.getTime)
      assert(out.toSeq == Seq(
        (tsAt(10, 0), 5L, Map(0.5 -> 3.0)),
        (tsAt(11, 0), 2L, Map(0.5 -> 10.0))),
        s"only the closed windows emit, with exact reads: ${out.toSeq}")
    } finally q.stop()
    intercept[IllegalArgumentException](Streams.windowedQuantiles(
      rows.toDF("ts", "v"), "v", probes = Seq.empty))
    intercept[IllegalArgumentException](Streams.windowedQuantiles(
      rows.toDF("ts", "v"), "v", probes = Seq(1.5)))
  }

  test("windowedExemplars: per-window samples equal the deterministic " +
    "bottom-k, state survives the store, and only closed windows emit " +
    "on the stream") {
    import org.apache.spark.sql.functions.{col, size}
    // window 10:00 holds keys 1..5, window 11:00 keys 10..11; k=3 —
    // each window's sample is the 3 smallest md5 hexes of its key set,
    // a pure function we can recompute with plain columns
    val rows = Seq(
      (tsAt(10, 1), 1L), (tsAt(10, 2), 2L), (tsAt(10, 3), 3L),
      (tsAt(10, 10), 4L), (tsAt(10, 11), 5L),
      (tsAt(11, 1), 10L), (tsAt(11, 2), 11L),
      (tsAt(14, 0), 42L)) // late event: closes 10:00 and 11:00
    def expect(keys: Seq[Long], k: Int): Seq[String] =
      keys.map(i => java.security.MessageDigest.getInstance("MD5")
          .digest(i.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
        .sorted.take(k)
    // batch twin: all three windows emit
    val batch = Streams.windowedExemplars(
      rows.toDF("ts", "id"), "id", k = 3, payloadCols = Seq("id"))
    val bOut = batch
      .select(col("window_start"), col("n"), col("exemplars.h").as("hs"))
      .as[(java.sql.Timestamp, Long, Seq[String])]
      .collect().sortBy(_._1.getTime).toSeq
    assert(bOut == Seq(
      (tsAt(10, 0), 5L, expect(Seq(1L, 2L, 3L, 4L, 5L), 3)),
      (tsAt(11, 0), 2L, expect(Seq(10L, 11L), 3)),
      (tsAt(14, 0), 1L, expect(Seq(42L), 3))),
      s"batch windows: $bOut")
    // streaming: the 14:00 arrival closes 10:00 and 11:00 — the bounded
    // TreeMap buffer round-trips the state store across micro-batches
    val dir = java.nio.file.Files.createTempDirectory("graft-we-stream").toString
    writeSourceBatch(dir, rows.take(4).toDF("ts", "id"), 0)
    writeSourceBatch(dir, rows.slice(4, 7).toDF("ts", "id"), 1)
    writeSourceBatch(dir, rows.drop(7).toDF("ts", "id"), 2)
    val stream = spark.readStream.schema("ts TIMESTAMP, id LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.windowedExemplars(stream, "id", k = 3,
        payloadCols = Seq("id"))
      .writeStream.format("memory").queryName("we_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("we_stream")
        .select(col("window_start"), col("n"), col("exemplars.h").as("hs"))
        .as[(java.sql.Timestamp, Long, Seq[String])]
        .collect().sortBy(_._1.getTime).toSeq
      assert(out == Seq(
        (tsAt(10, 0), 5L, expect(Seq(1L, 2L, 3L, 4L, 5L), 3)),
        (tsAt(11, 0), 2L, expect(Seq(10L, 11L), 3))),
        s"closed windows, identical samples through the state store: $out")
    } finally q.stop()
    intercept[IllegalArgumentException](Streams.windowedExemplars(
      rows.toDF("ts", "id"), "id", k = 0))
    // null keys count toward the window's exact n but never enter the
    // sample (a null-key pre-filter would undercount n and hide an
    // all-null-key window from monitoring entirely)
    val withNull = Seq((tsAt(10, 1), Some(1L)), (tsAt(10, 2), None))
      .toDF("ts", "id")
    val nn = Streams.windowedExemplars(withNull, "id", k = 3,
        payloadCols = Seq("id"))
      .select(col("n"), size(col("exemplars"))).head()
    assert(nn.getLong(0) == 2L && nn.getInt(1) == 1,
      s"null-key rows: n counts them, the sample skips them: $nn")
  }

  test("windowedKsAlert: only windows drifted past the gate emit; the " +
    "significance mode adapts to window size; refusals are loud") {
    import graft.functions.KllSketch
    import org.apache.spark.sql.functions.{col, lit}
    // reference = 1..60 (exact mode, deterministic bytes semantics)
    val reference = (1 to 60).map(_.toDouble).toDF("v")
      .agg(KllSketch.kllSketch(col("v")).as("sk"))
      .head().getAs[Array[Byte]](0)
    // window 10:00 repeats the reference values (KS = 0); window 11:00
    // lives 1000 away (CDFs disjoint, KS = (n-1)/n ≈ 0.98); the late
    // 14:00 event closes both on the stream
    val steady = (0 until 60).map(i => (tsAt(10, i), (i + 1).toDouble))
    val drifted = (0 until 60).map(i => (tsAt(11, i), (i + 1001).toDouble))
    val late = Seq((tsAt(14, 0), 42.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-ka-stream").toString
    writeSourceBatch(dir, (steady ++ drifted).toDF("ts", "v"), 0)
    writeSourceBatch(dir, late.toDF("ts", "v"), 1)
    val stream = spark.readStream.schema("ts TIMESTAMP, v DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.windowedKsAlert(stream, "v", reference, threshold = 0.5)
      .writeStream.format("memory").queryName("ka_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("ka_stream")
        .select("window_start", "n", "ks")
        .as[(java.sql.Timestamp, Long, Double)].collect()
      assert(out.map(_._1).toSeq == Seq(tsAt(11, 0)),
        s"only the drifted window may alert: ${out.toSeq}")
      assert(out.head._2 == 60L && out.head._3 > 0.9,
        s"drifted window profile: ${out.head}")
    } finally q.stop()
    // batch mode, significance gate (threshold = 0): the 60-value
    // drifted window clears its adaptive threshold, the steady window
    // scores 0, and the single-value 14:00 window — despite a raw KS
    // of ~0.68 — does NOT alert because one sample is no evidence
    val batch = Streams.windowedKsAlert(
      (steady ++ drifted ++ late).toDF("ts", "v"), "v", reference,
      threshold = 0.0, sig = 0.01)
      .select("window_start").as[java.sql.Timestamp].collect()
    assert(batch.toSeq == Seq(tsAt(11, 0)),
      s"significance mode must alert on the drifted window alone: " +
        s"${batch.toSeq}")
    // the emitted sketch bytes are the drill-down: a quantile read off
    // the alert row lands inside the drifted window's value range
    val med = Streams.windowedKsAlert(
      drifted.toDF("ts", "v"), "v", reference, threshold = 0.5)
      .select(KllSketch.kllQuantile(col("sk"), lit(0.5)))
      .head().getDouble(0)
    assert(med >= 1001.0 && med <= 1060.0, s"alert-row median: $med")
    intercept[IllegalArgumentException](Streams.windowedKsAlert(
      steady.toDF("ts", "v"), "v", Array.empty[Byte], 0.5))
    intercept[IllegalArgumentException](Streams.windowedKsAlert(
      steady.toDF("ts", "v"), "v", reference, 1.5))
  }

  test("readEventStream produces a streaming frame with the fixed schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val sdf = Streams.readEventStream(spark, dir)
    assert(sdf.isStreaming)
    assert(sdf.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  test("sessionizeStreaming: one session survives micro-batch boundaries and " +
    "closes only by event-time timeout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-stream").toString
    // four single-file micro-batches (maxFilesPerTrigger=1):
    //   b1: user 7 @10:00,@10:05   b2: user 7 @10:10 (same session)
    //   b3: user 8 @14:00 (advances max event time)
    //   b4: user 8 @14:05 (batch runs with watermark 13:50 > 10:40 →
    //       user 7's open session times out and emits ONCE, n=3)
    val batches = Seq(
      Seq((7L, tsAt(10, 0), "a"), (7L, tsAt(10, 5), "b")),
      Seq((7L, tsAt(10, 10), "c")),
      Seq((8L, tsAt(14, 0), "x")),
      Seq((8L, tsAt(14, 5), "y")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("user_id", "ts", "event_type"), i)
    }
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, event_type STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .as[Event]
    val q = Streams.sessionizeStreaming(stream, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("sess_stream").as[SessionAgg].collect().toSeq
      // user 7's events spanned batches 1-2 but emit as ONE session;
      // user 8's session is still open (watermark hasn't passed it)
      assert(out == Seq(SessionAgg(7L, 3, tsAt(10, 0), tsAt(10, 10))))
    } finally q.stop()
  }

  test("multimodal featurize composes with Structured Streaming: real PNG " +
    "encode+decode per micro-batch, stateless append") {
    // the production shape for image ingest: stream of ids/paths →
    // asset rows → executor-side decode → stats sink. Both mapPartitions
    // stages are stateless, so they must run unchanged on a streaming
    // frame — pinned here end to end with the same analytic expectations
    // as the batch spec (decode correctness is NOT re-derived, just the
    // streaming composition)
    val dir = java.nio.file.Files.createTempDirectory("graft-mm-stream").toString
    writeSourceBatch(dir, Seq(1L, 2L).toDF("doc_id"), 0)
    writeSourceBatch(dir, Seq(3L).toDF("doc_id"), 1)
    val stream = spark.readStream
      .schema("doc_id LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = graft.ops.Multimodal.featurize(
      graft.ops.Multimodal.imageAssets(stream, "doc_id"))
      .writeStream.format("memory").queryName("mm_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("mm_stream").orderBy("asset_id").collect()
      assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      out.foreach { r =>
        val id = r.getLong(0)
        assert(r.getInt(1) == 2 + id % 7 && r.getInt(2) == 2 + id % 5)
        assert(r.getDouble(3) == id % 199 + (r.getInt(1) - 1) / 2.0)
      }
    } finally q.stop()
  }

  test("dedupStream: duplicates across micro-batches emit once, state is watermark-bounded") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toString
    // five single-file micro-batches: event 100 appears in b0 AND b1
    // (cross-batch duplicate — the case per-batch dedup cannot catch).
    // The watermark moves at batch END and expired state is evicted at
    // batch COMMIT, so 101's forgetting needs two batches of daylight:
    // b2 advances the watermark past 101's expiry, b3's commit evicts
    // it, and the recurrence in b4 meets forgotten state and re-emits.
    val batches = Seq(
      Seq((100L, tsAt(10, 0), "a"), (101L, tsAt(10, 1), "b")),
      Seq((100L, tsAt(10, 0), "a"), (102L, tsAt(10, 2), "c")),
      Seq((103L, tsAt(20, 0), "d")),
      Seq((104L, tsAt(20, 2), "e")),
      Seq((101L, tsAt(20, 3), "b")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("event_id", "ts", "event_type"), i)
    }
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, event_type STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.dedupStream(stream, Seq("event_id"), watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("dedup_stream")
        .select("event_id").as[Long].collect().sorted.toSeq
      // 100 deduped across b0/b1; 101 re-emits in b4 (state expired —
      // the bounded-state contract, not a bug)
      assert(out == Seq(100L, 101L, 101L, 102L, 103L, 104L))
    } finally q.stop()
  }

  test("sessionWindowCounts: engine-merged sessions; exact-gap events merge " +
    "(touching windows coalesce — same inclusive boundary as sessionize)") {
    val events = Seq(
      (1L, ts(0)), (1L, ts(10)),  // one session, end = 10:10 + 30min
      (1L, tsAt(11, 0)),          // 50min gap → new session
      (2L, ts(0)), (2L, ts(30)))  // EXACTLY 30min apart → windows touch → merge
      .toDF("user_id", "ts")
    val out = Streams.sessionWindowCounts(events, gapMinutes = 30)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2.getTime))
    assert(out.toSeq == Seq(
      (1L, ts(0), tsAt(10, 40), 2L),
      (1L, tsAt(11, 0), tsAt(11, 30), 1L),
      (2L, ts(0), tsAt(11, 0), 2L)))
  }

  test("sessionWindowCounts on a stream: session spans micro-batches, emits " +
    "once when the watermark closes it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sw-stream").toString
    val batches = Seq(
      Seq((7L, tsAt(10, 0)), (7L, tsAt(10, 5))),
      Seq((7L, tsAt(10, 10))),
      Seq((8L, tsAt(14, 0))), // advances watermark to 12:00 past 10:40
      Seq((8L, tsAt(14, 5)))) // batch runs with the advanced watermark
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("user_id", "ts"), i)
    }
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.sessionWindowCounts(stream, gapMinutes = 30)
      .writeStream.format("memory").queryName("sw_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("sw_stream")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSeq
      // user 7's three events span two micro-batches but emit as ONE
      // merged window; user 8's window is still open (watermark behind)
      assert(out == Seq((7L, tsAt(10, 0), tsAt(10, 40), 3L)))
    } finally q.stop()
  }

  test("intervalJoinStreams: cross-micro-batch matches within the lag bound; " +
    "stale rows beyond it never join") {
    val ldir = java.nio.file.Files.createTempDirectory("graft-ij-l").toString
    val rdir = java.nio.file.Files.createTempDirectory("graft-ij-r").toString
    def writeBatches(dir: String,
        batches: Seq[Seq[(Long, Timestamp, String)]], cols: Seq[String]): Unit =
      batches.zipWithIndex.foreach { case (rows, i) =>
        writeSourceBatch(dir, rows.toDF(cols: _*), i)
      }
    // left clicks; right orders arrive in a LATER micro-batch (the
    // buffered-state case a per-batch join cannot express)
    writeBatches(ldir, Seq(
      Seq((7L, tsAt(10, 0), "click")),
      Seq((8L, tsAt(10, 30), "click"))), Seq("user_id", "ts", "event_type"))
    writeBatches(rdir, Seq(
      Seq((7L, tsAt(9, 30), "o1")),   // within 1h before 10:00 → joins
      Seq((7L, tsAt(8, 30), "o2")),   // >1h before → never joins
      Seq((8L, tsAt(10, 15), "o3"))), // within 1h before 10:30 → joins
      Seq("o_user", "o_ts", "o_id"))
    val left = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, event_type STRING")
      .option("maxFilesPerTrigger", 1).parquet(ldir)
    val right = spark.readStream
      .schema("o_user LONG, o_ts TIMESTAMP, o_id STRING")
      .option("maxFilesPerTrigger", 1).parquet(rdir)
    val q = Streams.intervalJoinStreams(left, right,
      leftKey = "user_id", rightKey = "o_user",
      leftTime = "ts", rightTime = "o_ts", maxLag = "1 hour")
      .select("user_id", "event_type", "o_id")
      .writeStream.format("memory").queryName("ij_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("ij_stream")
        .as[(Long, String, String)].collect().sortBy(t => (t._1, t._3)).toSeq
      assert(out == Seq((7L, "click", "o1"), (8L, "click", "o3")))
    } finally q.stop()
  }

  test("streamingMerge: micro-batches upsert into a parquet target with the " +
    "batch pipeline's merge semantics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sm-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-sm-tgt").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sm-ck").toString
    // b0 inserts keys 1,2; b1 updates key 2 and inserts key 3
    val batches = Seq(
      Seq((1L, "a", 10L), (2L, "b", 20L)),
      Seq((2L, "B", 25L), (3L, "c", 30L)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("id", "name", "v"), i)
    }
    val stream = spark.readStream
      .schema("id LONG, name STRING, v LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMerge(stream, target, Seq("id"))
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(target)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "a", 10L), (2L, "B", 25L), (3L, "c", 30L)))
  }

  // the six per-artifact tests below keep the names of the stream
  // functions one `streamingMerge(derived = …)` replaced; each runs its
  // artifact alone
  test("streamingMergeWithIndex: the near-dup postings index tracks the " +
    "target across micro-batches (insert, text update, delete)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-smi-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-smi-tgt").toString + "/t"
    val idx = java.nio.file.Files.createTempDirectory("graft-smi-idx").toString + "/i"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-smi-ck").toString
    // b0 inserts docs 1-3; b1 rewrites doc 1's text and inserts doc 4
    val batches = Seq(
      Seq((1L, "alpha beta gamma delta"), (2L, "eps zeta eta theta"),
        (3L, "alpha beta gamma delta eps")),
      Seq((1L, "completely different words now"), (4L, "alpha beta gamma")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("doc_id", "text"), i)
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMerge(stream, target, Seq("doc_id"),
      derived = Seq(Derived.MinhashIndex(idx)), numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val stored = graft.sink.BucketedMergeSink.readPostings(spark, idx)
      .select("id", "band", "bucket")
      .as[(Long, Int, Long)].collect().toSet
    val expected = graft.ops.Dedup.minhashBandIndex(
      graft.sink.BucketedMergeSink.read(spark, target), idCol = "doc_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(stored == expected,
      "after the stream drains, the index must equal a fresh signing of the target")
    assert(stored.exists(_._1 == 4L))
    // self-heal at the minimum retention: simulate a trigger that
    // crashed between its merge and its sync — the target gains a
    // version the index never applied. The NEXT trigger must catch that
    // version up BEFORE its own merge: merging first would slide the
    // 2-version window past it and hard-refuse ("Rebuild the index").
    graft.sink.BucketedMergeSink.merge(spark,
      Seq((5L, "pending crash words here")).toDF("doc_id", "text"),
      target, "upsert", Seq("doc_id"))
    writeSourceBatch(dir,
      Seq((6L, "post crash batch words")).toDF("doc_id", "text"), 2)
    val q2 = Streams.streamingMerge(stream, target, Seq("doc_id"),
      derived = Seq(Derived.MinhashIndex(idx)), numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", ckpt)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val healed = graft.sink.BucketedMergeSink.readPostings(spark, idx)
      .select("id", "band", "bucket")
      .as[(Long, Int, Long)].collect().toSet
    val expected2 = graft.ops.Dedup.minhashBandIndex(
      graft.sink.BucketedMergeSink.read(spark, target), idCol = "doc_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(healed == expected2,
      "the healed index must equal a fresh signing of the target")
    assert(healed.exists(_._1 == 5L) && healed.exists(_._1 == 6L),
      "both the crashed version's doc and the healing trigger's doc are indexed")
  }

  test("streamingMergeWithProfile: per-version corpus profiles track the " +
    "target across micro-batches; a crashed trigger's version heals") {
    val dir = java.nio.file.Files.createTempDirectory("graft-smp-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-smp-tgt").toString + "/t"
    val prof = java.nio.file.Files.createTempDirectory("graft-smp-pr").toString + "/p"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-smp-ck").toString
    val batches = Seq(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      Seq((1L, 500.0), (4L, 40.0))) // b1 drags doc 1 into the overflow bin
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("id", "v"), i)
    }
    val stream = spark.readStream
      .schema("id LONG, v DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMerge(stream, target, Seq("id"),
      derived = Seq(Derived.Profile(prof, "v", 0, 100, 10)),
      numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    // one profile row per retained version, equal to a fresh histSketch
    // of that snapshot, with drift strictly positive after the overflow
    val versions = graft.sink.BucketedMergeSink
      .manifestVersions(spark, target).sorted
    val rows = spark.read.parquet(prof)
      .select($"version".cast("long"), $"n", $"hist",
        $"psi_prev")
      .orderBy("version")
      .as[(Long, Long, Map[Int, Long], Option[Double])].collect()
    assert(rows.map(_._1).toSeq == versions,
      s"every retained version profiled: ${rows.toSeq} vs $versions")
    rows.foreach { case (v, n, hist, _) =>
      val fresh = graft.ops.Profiling.histSketch(
        graft.sink.BucketedMergeSink.readVersion(spark, target, v),
        "v", 0, 100, 10, Seq.empty)
        .select($"hist").as[Map[Int, Long]].head()
      assert(hist == fresh && n == fresh.values.sum,
        s"stored profile of v$v must equal a fresh sketch of the snapshot")
    }
    assert(rows.last._4.exists(_ > 0.0),
      s"overflow mass must show as PSI drift: ${rows.last._4}")
    // crash between a trigger's merge and its profile: the target gains
    // a version with no profile row; the next trigger heals it BEFORE
    // its own merge can slide the retention window past it
    graft.sink.BucketedMergeSink.merge(spark,
      Seq((5L, 50.0)).toDF("id", "v"), target, "upsert", Seq("id"))
    writeSourceBatch(dir, Seq((6L, 60.0)).toDF("id", "v"), 2)
    val q2 = Streams.streamingMerge(stream, target, Seq("id"),
      derived = Seq(Derived.Profile(prof, "v", 0, 100, 10)),
      numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", ckpt)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val healed = spark.read.parquet(prof)
      .select($"version".cast("long")).as[Long].collect().toSet
    val retained = graft.sink.BucketedMergeSink
      .manifestVersions(spark, target).toSet
    assert(retained.subsetOf(healed),
      s"crashed version's profile healed: $healed vs retained $retained")
  }

  test("streamingMergeWithKllProfile: per-version quantile profiles " +
    "track the target across micro-batches; a crashed trigger's " +
    "version heals") {
    import graft.functions.KllSketch
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft-smk-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-smk-tgt").toString + "/t"
    val prof = java.nio.file.Files.createTempDirectory("graft-smk-pr").toString + "/p"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-smk-ck").toString
    val batches = Seq(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      Seq((1L, 500.0), (4L, 40.0))) // b1 drags doc 1 far out of band
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("id", "v"), i)
    }
    val stream = spark.readStream
      .schema("id LONG, v DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMerge(stream, target, Seq("id"),
      derived = Seq(Derived.KllProfile(prof, "v")),
      numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    // one profile row per retained version; n exact, and the sketch
    // bytes replay the snapshot's order statistics (exact regime)
    val versions = graft.sink.BucketedMergeSink
      .manifestVersions(spark, target).sorted
    val rows = spark.read.parquet(prof)
      .select($"version".cast("long"), $"n", $"sk", $"ks_prev")
      .orderBy("version")
      .as[(Long, Long, Array[Byte], Option[Double])].collect()
    assert(rows.map(_._1).toSeq == versions,
      s"every retained version profiled: ${rows.map(_._1).toSeq} vs $versions")
    rows.foreach { case (v, n, sk, _) =>
      val snap = graft.sink.BucketedMergeSink.readVersion(spark, target, v)
      assert(n == snap.count(), s"v$v: n must be the snapshot's exact count")
      val (med, freshMed) = (
        spark.range(1).select(KllSketch.kllQuantile(lit(sk), lit(0.5)))
          .head().getDouble(0),
        snap.agg(KllSketch.kllQuantile(
          KllSketch.kllSketch(col("v")), lit(0.5))).head().getDouble(0))
      assert(med == freshMed,
        s"v$v: stored bytes must replay the snapshot's median (exact " +
          s"regime): $med vs $freshMed")
    }
    assert(rows.head._4.isEmpty, "first profiled version has no baseline")
    assert(rows.last._4.exists(ks => ks > 0.0 && ks <= 1.0),
      s"the out-of-band update must show as KS drift: ${rows.last._4}")
    // crash between a trigger's merge and its profile: the target gains
    // a version with no profile row; the next trigger heals it BEFORE
    // its own merge can slide the retention window past it
    graft.sink.BucketedMergeSink.merge(spark,
      Seq((5L, 50.0)).toDF("id", "v"), target, "upsert", Seq("id"))
    writeSourceBatch(dir, Seq((6L, 60.0)).toDF("id", "v"), 2)
    val q2 = Streams.streamingMerge(stream, target, Seq("id"),
      derived = Seq(Derived.KllProfile(prof, "v")),
      numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", ckpt)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val healed = spark.read.parquet(prof)
      .select($"version".cast("long")).as[Long].collect().toSet
    val retained = graft.sink.BucketedMergeSink
      .manifestVersions(spark, target).toSet
    assert(retained.subsetOf(healed),
      s"crashed version's profile healed: $healed vs retained $retained")
  }

  test("streamingMergeWithExemplarProfile: per-version drill-down " +
    "samples track the target across micro-batches; a crashed " +
    "trigger's version heals") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-sme-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-sme-tgt").toString + "/t"
    val prof = java.nio.file.Files.createTempDirectory("graft-sme-pr").toString + "/p"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sme-ck").toString
    val batches = Seq(
      Seq((1L, "a"), (2L, "b"), (3L, "c")),
      Seq((1L, "a2"), (4L, "d"))) // b1 updates doc 1 and grows the set
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("id", "text"), i)
    }
    val stream = spark.readStream
      .schema("id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMerge(stream, target, Seq("id"),
      derived = Seq(Derived.ExemplarProfile(prof, "id", k = 2)),
      numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    // every retained version sampled; each version's stored rows equal
    // the deterministic sample of its snapshot (pure function of the
    // key set — doc 1's UPDATED payload must appear in v2's sample if
    // its hash makes the cut)
    val versions = graft.sink.BucketedMergeSink
      .manifestVersions(spark, target).sorted
    versions.foreach { v =>
      val stored = spark.read.parquet(s"$prof/version=$v")
        .select("h", "payload", "n").orderBy("h")
        .as[(String, String, Long)].collect().toSeq
      val snap = graft.sink.BucketedMergeSink.readVersion(spark, target, v)
      val direct = graft.ops.Profiling.exemplarSample(snap, "id", 2)
        .as[(String, String)].collect().toSeq
      assert(stored.map(r => (r._1, r._2)) == direct,
        s"v$v stored sample != direct sample: $stored vs $direct")
      assert(stored.forall(_._3 == snap.count()),
        s"v$v: n must be the snapshot's exact count")
    }
    // crash between a trigger's merge and its sample sync: the next
    // trigger heals BEFORE its own merge slides retention past it
    graft.sink.BucketedMergeSink.merge(spark,
      Seq((5L, "e")).toDF("id", "text"), target, "upsert", Seq("id"))
    writeSourceBatch(dir, Seq((6L, "f")).toDF("id", "text"), 2)
    val q2 = Streams.streamingMerge(stream, target, Seq("id"),
      derived = Seq(Derived.ExemplarProfile(prof, "id", k = 2)),
      numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", ckpt)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val healed = spark.read.parquet(prof)
      .select(col("version").cast("long")).as[Long].collect().toSet
    val retained = graft.sink.BucketedMergeSink
      .manifestVersions(spark, target).toSet
    assert(retained.subsetOf(healed),
      s"crashed version's sample healed: $healed vs retained $retained")
  }

  test("subscribeFeedStream: an AvailableNow trigger catches the replica " +
    "up to the outbox; the next one converges after more publishes") {
    import org.apache.spark.sql.streaming.Trigger
    val target = java.nio.file.Files.createTempDirectory("graft-sfs-tgt").toString + "/t"
    val feed = java.nio.file.Files.createTempDirectory("graft-sfs-feed").toString + "/f"
    val replica = java.nio.file.Files.createTempDirectory("graft-sfs-rep").toString + "/r"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sfs-ck").toString
    def rows(p: String) = graft.sink.BucketedMergeSink.read(spark, p)
      .as[(Long, String)].collect().toSet
    graft.sink.BucketedMergeSink.merge(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      target, "upsert", Seq("id"), numBuckets = 4, retainVersions = 4)
    graft.sink.BucketedMergeSink.merge(spark,
      Seq((3L, "c")).toDF("id", "name"), target, "upsert", Seq("id"))
    graft.sink.BucketedMergeSink.publishChangeFeed(spark, target, feed)
    def catchUp(ck: String): Unit = {
      val q = Streams.subscribeFeedStream(spark, feed, replica, numBuckets = 4)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination()
    }
    catchUp(ckpt)
    assert(rows(replica) == rows(target), "first daemon pass = full catch-up")
    // more target history, another publish, another daemon pass
    graft.sink.BucketedMergeSink.merge(spark, Seq(2L).toDF("id"), target,
      "delete", identifier = "id")
    graft.sink.BucketedMergeSink.publishChangeFeed(spark, target, feed)
    catchUp(java.nio.file.Files.createTempDirectory("graft-sfs-ck2").toString)
    assert(rows(replica) == rows(target),
      "the next pass applies only the new batch (delete included)")
    assert(!rows(replica).exists(_._1 == 2L))
  }

  test("streamingMergeWithLshIndex: the cosine-LSH bucket index tracks " +
    "the target across micro-batches (insert, vector update)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sml-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-sml-tgt").toString + "/t"
    val idx = java.nio.file.Files.createTempDirectory("graft-sml-idx").toString + "/i"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sml-ck").toString
    // b0 inserts vecs 1-3 (bootstrap signs them); b1 rotates vec 1's
    // embedding (its old postings must be replaced) and inserts vec 4
    val batches = Seq(
      Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)),
        (3L, Seq(0.9, 0.1, 0.0, 0.0))),
      Seq((1L, Seq(-1.0, 0.0, 0.5, 0.0)), (4L, Seq(0.0, 0.0, 1.0, 0.0))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("vec_id", "embedding"), i)
    }
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMerge(stream, target, Seq("vec_id"),
      derived = Seq(Derived.LshIndex(idx, tables = 4, bits = 6, dim = 4)),
      numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val stored = graft.sink.BucketedMergeSink.readPostings(spark, idx)
      .select("id", "band", "bucket")
      .as[(Long, Int, Long)].collect().toSet
    val expected = graft.ops.Similarity.lshBucketIndex(
      graft.sink.BucketedMergeSink.read(spark, target),
      tables = 4, bits = 6, dim = 4, idCol = "vec_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(stored == expected,
      "after the stream drains, the index must equal a fresh signing of the target")
    assert(stored.exists(_._1 == 4L))
    assert(stored.count(_._1 == 1L) == 4,
      "the updated vector carries exactly `tables` postings — its " +
        "pre-rotation signature was replaced, not shadowed")
  }

  test("streamingMergeWithSemanticIndex: cell postings track the target " +
    "under centroids frozen at the first trigger's bootstrap") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sms-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-sms-tgt").toString + "/t"
    val idx = java.nio.file.Files.createTempDirectory("graft-sms-idx").toString + "/i"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sms-ck").toString
    // b0: two clean clusters — the bootstrap trains nlist=2 centroids on
    // it and freezes them; b1: vec 2 MOVES to the other cluster (its
    // posting must change cells under the frozen model) plus an insert
    val batches = Seq(
      Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
        (3L, Seq(0.0, 1.0)), (4L, Seq(0.1, 0.9))),
      Seq((2L, Seq(0.0, 1.0)), (5L, Seq(0.95, 0.05))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("vec_id", "embedding"), i)
    }
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMerge(stream, target, Seq("vec_id"),
      derived = Seq(Derived.SemanticIndex(idx, nlist = 2, probeCells = 1)),
      numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val cents = spark.read.parquet(idx + ".centroids")
    assert(cents.count() == 2, "nlist=2 model persisted at the sibling")
    val stored = graft.sink.BucketedMergeSink.readPostings(spark, idx)
      .select("id", "pcell")
      .as[(Long, Int)].collect().toSet
    val expected = graft.ops.Similarity.assignBatchCells(
      graft.sink.BucketedMergeSink.read(spark, target), cents, probeCells = 1)
      .as[(Long, Int)].collect().toSet
    assert(stored == expected,
      "after the stream drains, postings must equal the frozen-model " +
        "assignment of the target's current state")
    assert(stored.count(_._1 == 2L) == 1,
      "the moved vector's stale posting was deleted, not shadowed")
    assert(stored.exists(_._1 == 5L))
  }

  // titled by the entry point's former name, `streamingStage`, so the
  // test keeps its id
  test("streamingStage: one stream keeps a change feed, a MinHash index " +
    "and a KLL profile in lockstep with the target across micro-batches") {
    import graft.functions.KllSketch
    import graft.sink.BucketedMergeSink
    import org.apache.spark.sql.functions.{col, lit}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val dir = tmp("graft-ss-src")
    val target = tmp("graft-ss-tgt") + "/t"
    val feed = tmp("graft-ss-feed") + "/f"
    val idx = tmp("graft-ss-idx") + "/i"
    val prof = tmp("graft-ss-pr") + "/p"
    // b0 inserts docs 1-3; b1 rewrites doc 1 (text and value) and
    // inserts doc 4
    val batches = Seq(
      Seq((1L, "alpha beta gamma delta", 10.0), (2L, "eps zeta eta theta", 20.0),
        (3L, "alpha beta gamma delta eps", 30.0)),
      Seq((1L, "completely different words now", 500.0),
        (4L, "alpha beta gamma", 40.0)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("doc_id", "text", "v"), i)
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, v DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMerge(stream, target, Seq("doc_id"),
      derived = Seq(Derived.ChangeFeed(feed), Derived.MinhashIndex(idx),
        Derived.KllProfile(prof, "v")),
      numBuckets = 4, retainVersions = 2)
      .option("checkpointLocation", tmp("graft-ss-ck"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val versions = BucketedMergeSink.manifestVersions(spark, target).sorted
    assert(versions == Seq(1L, 2L), s"one version per micro-batch: $versions")
    // the outbox replays to the target
    val replica = tmp("graft-ss-rep") + "/r"
    BucketedMergeSink.subscribeFeed(spark, feed, replica, Seq("doc_id"),
      numBuckets = 4): Unit
    def rows(p: String) = BucketedMergeSink.read(spark, p)
      .as[(Long, String, Double)].collect().toSet
    assert(rows(replica) == rows(target), "outbox replay must equal the target")
    // the postings equal a fresh signing of the target
    val stored = BucketedMergeSink.readPostings(spark, idx)
      .select("id", "band", "bucket").as[(Long, Int, Long)].collect().toSet
    val fresh = graft.ops.Dedup.minhashBandIndex(
      BucketedMergeSink.read(spark, target), idCol = "doc_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(stored == fresh, "the index must equal a fresh signing of the target")
    // one KLL row per retained version, each equal to a fresh sketch of
    // that version (exact regime: same n, KS distance 0)
    val kll = spark.read.parquet(prof)
      .select(col("version").cast("long"), col("n"), col("sk"))
      .orderBy("version").as[(Long, Long, Array[Byte])].collect().toSeq
    assert(kll.map(_._1) == versions, s"one KLL row per version: ${kll.map(_._1)}")
    kll.foreach { case (v, n, sk) =>
      val (freshN, ks) = BucketedMergeSink.readVersion(spark, target, v)
        .agg(KllSketch.kllSketch(col("v")).as("f"))
        .select(KllSketch.kllN(col("f")), KllSketch.kllKs(col("f"), lit(sk)))
        .as[(Long, Double)].head()
      assert(n == freshN && ks == 0.0,
        s"v$v: stored sketch must equal a fresh sketch (n $n vs $freshN, KS $ks)")
    }
  }

  test("streamingMergeWithFeed: each micro-batch materializes its CDC " +
    "delta under batch_id=<epoch+2> behind a marked base at batch_id=1, " +
    "and the target matches the plain merge") {
    val dir = java.nio.file.Files.createTempDirectory("graft-smf-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-smf-tgt").toString + "/t"
    val feed = java.nio.file.Files.createTempDirectory("graft-smf-feed").toString + "/f"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-smf-ck").toString
    val batches = Seq(
      Seq((1L, "a", 10L), (2L, "b", 20L)),          // bootstrap: all inserts
      Seq((2L, "B", 25L), (3L, "c", 30L)),          // update 2, insert 3
      Seq((1L, "a", 10L)))                          // identical: no-op feed
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("id", "name", "v"), i)
    }
    val stream = spark.readStream
      .schema("id LONG, name STRING, v LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMergeWithFeed(stream, target, feed, Seq("id"))
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(target)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", 10L), (2L, "B", 25L), (3L, "c", 30L)))
    val f = spark.read.parquet(feed)
    assert(f.columns.contains("batch_id"), "feed reads as partitioned parquet")
    val got = f.select("batch_id", "_op", "id", "name", "v")
      .as[(Int, String, Long, String, Long)].collect().sortBy(r => (r._1, r._3, r._2))
    assert(got.toSeq == Seq(
      (2, "insert", 1L, "a", 10L),
      (2, "insert", 2L, "b", 20L),
      (3, "update_pre", 2L, "b", 20L),
      (3, "update_post", 2L, "B", 25L),
      (3, "insert", 3L, "c", 30L)).sortBy(r => (r._1, r._3, r._2)),
      s"unexpected feed: ${got.toSeq}")
    // the stream created the target, so the bootstrap base at batch_id=1
    // is an EMPTY marked partition (publishChangeFeed-layout contract)
    assert(f.filter($"batch_id" === 1).isEmpty)
    assert(new java.io.File(new java.io.File(feed, "batch_id=1"), "_base").exists(),
      "the bootstrap partition carries the base marker")
    // epoch 2 was a pure no-op: its feed partition exists but is empty
    assert(f.filter($"batch_id" === 4).isEmpty)
  }

  test("streamingMergeWithFeed: a COMMITTED feed partition (has _SUCCESS) " +
    "is skipped under replay; a torn one (no _SUCCESS) is rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("graft-smf2-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-smf2-tgt").toString + "/t"
    val feed = java.nio.file.Files.createTempDirectory("graft-smf2-feed").toString + "/f"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-smf2-ck").toString
    // plant a committed marker feed for epoch 0 (dir batch_id=2) — the
    // operator must leave it alone (exactly-once replay contract)
    Seq(("marker", 0L, "x", 0L)).toDF("_op", "id", "name", "v")
      .write.parquet(s"$feed/batch_id=2")
    writeSourceBatch(dir, Seq((1L, "a", 10L)).toDF("id", "name", "v"), 0)
    val stream = spark.readStream
      .schema("id LONG, name STRING, v LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMergeWithFeed(stream, target, feed, Seq("id"))
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    // merge still applied; planted feed untouched
    assert(spark.read.parquet(target).count() == 1)
    assert(spark.read.parquet(feed).select("_op")
      .as[String].collect().toSeq == Seq("marker"))

    // torn variant: same plant but with _SUCCESS removed — a crash
    // mid-feed-write left a half partition; the replayed batch must
    // REWRITE it (the old dir-exists skip marked it published forever)
    val target2 = java.nio.file.Files.createTempDirectory("graft-smf3-tgt").toString + "/t"
    val feed2 = java.nio.file.Files.createTempDirectory("graft-smf3-feed").toString + "/f"
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-smf3-ck").toString
    Seq(("marker", 0L, "x", 0L)).toDF("_op", "id", "name", "v")
      .write.parquet(s"$feed2/batch_id=2")
    assert(new java.io.File(s"$feed2/batch_id=2/_SUCCESS").delete())
    val q2 = Streams.streamingMergeWithFeed(stream, target2, feed2, Seq("id"))
      .option("checkpointLocation", ckpt2)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$feed2/batch_id=2").select("_op", "id")
      .as[(String, Long)].collect().toSeq == Seq(("insert", 1L)),
      "the torn partition must be replaced by the real epoch-0 delta")
  }

  test("streamingMerge scd2: micro-batches version the target; the batch-id " +
    "timestamp mapping keeps replays history-stable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scd-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-scd-tgt").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scd-ck").toString
    // b0 bootstraps keys 1,2; b1 changes key 2 and inserts key 3
    val batches = Seq(
      Seq((1L, "a"), (2L, "b")),
      Seq((2L, "B"), (3L, "c")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("id", "name"), i)
    }
    val stream = spark.readStream
      .schema("id LONG, name STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val tsOf = (b: Long) => f"2024-0${b + 1}%d-01 00:00:00" // deterministic per batch
    val q = Streams.streamingMerge(stream, target, Seq("id"),
        loadType = "scd2", scd2TsOf = tsOf)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    import org.apache.spark.sql.functions.{col, date_format}
    val out = spark.read.parquet(target)
      .select(col("id"), col("name"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("f"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("t"),
        col("is_current"))
      .as[(Long, String, String, String, Boolean)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    assert(out == Seq(
      (1L, "a", "2024-01-01", null, true),           // untouched by b1
      (2L, "b", "2024-01-01", "2024-02-01", false),  // closed by b1
      (2L, "B", "2024-02-01", null, true),           // reopened
      (3L, "c", "2024-02-01", null, true)))          // inserted by b1
    // unknown mapping refuses at construction, not inside a micro-batch
    intercept[IllegalArgumentException] {
      Streams.streamingMerge(stream, target, Seq("id"), loadType = "scd2")
    }
  }

  test("dedupCorpusStream: first-seen doc survives per distinct text across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dc-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-dc-tgt").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dc-ck").toString
    // doc 3 (b1) duplicates doc 1's text (b0) modulo whitespace/case —
    // far beyond any watermark bound; first writer must win
    val batches = Seq(
      Seq((1L, "Hello  World"), (2L, "unique one")),
      Seq((3L, "hello world"), (4L, "unique two")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("doc_id", "text"), i)
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.dedupCorpusStream(stream, target)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    // the default target layout is bucketed (BucketedMergeSink), so the
    // readback goes through its reader
    val out = graft.sink.BucketedMergeSink.read(spark, target)
      .select("doc_id", "norm_text").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    // doc 3 never lands: its normalized text matched doc 1's and every
    // payload column is excluded from update
    assert(out == Seq(
      (1L, "hello world"), (2L, "unique one"), (4L, "unique two")))
    assert(graft.sink.BucketedMergeSink.isBucketed(spark, target),
      "dedupCorpusStream should default to the bucketed layout")
  }

  test("streamingMerge: a bucketed target self-compacts every compactEvery batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-smc-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-smc-tgt").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-smc-ck").toString
    val batches = Seq(
      Seq.tabulate(60)(i => (i.toLong, s"n$i", i.toLong)),
      Seq((100L, "x", 1L)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("id", "name", "v"), i)
    }
    val stream = spark.readStream
      .schema("id LONG, name STRING, v LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val sp = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // AQE off + several shuffle partitions: batch 0's create-write
      // fragments every bucket; batch 1 (batchId 1, compactEvery 2)
      // merges and then compacts the whole target
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      val q = Streams.streamingMerge(stream, target, Seq("id"),
          numBuckets = 4, compactEvery = 2)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", sp)
    }
    val man = graft.sink.BucketedMergeSink.manifest(spark, target)
    assert(man.nonEmpty)
    man.keys.foreach { b =>
      val Seq(d) = graft.sink.BucketedMergeSink.bucketDataDirs(spark, target, b)
      val n = new java.io.File(d).listFiles()
        .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      assert(n == 1, s"bucket $b should be compacted to one data file, has $n")
    }
    assert(graft.sink.BucketedMergeSink.read(spark, target).count() == 61)
  }

  // the data files of each dir of each bucket of a bucketed target
  private def filesPerDir(target: String): Seq[Int] =
    graft.sink.BucketedMergeSink.manifest(spark, target).keys.toSeq.flatMap { b =>
      graft.sink.BucketedMergeSink.bucketDataDirs(spark, target, b).map { d =>
        new java.io.File(d).listFiles().count(f => f.isFile &&
          !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      }
    }

  test("streamingMerge: compactEvery compacts an existing bucketed layout " +
    "streamed with numBuckets = 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft-smx-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-smx-tgt").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-smx-ck").toString
    writeSourceBatch(dir, Seq((100L, "x", 1L)).toDF("id", "name", "v"), 0)
    val stream = spark.readStream
      .schema("id LONG, name STRING, v LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val sp = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // AQE off + several shuffle partitions: the create-write fragments
      // the layout's buckets
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      graft.sink.BucketedMergeSink.merge(spark,
        Seq.tabulate(60)(i => (i.toLong, s"n$i", i.toLong)).toDF("id", "name", "v"),
        target, "upsert", Seq("id"), numBuckets = 4)
      assert(filesPerDir(target).exists(_ > 1), "the layout starts fragmented")
      // no numBuckets: the stream loads the layout that is there, and
      // compacts it on its first (batchId 0) micro-batch
      val q = Streams.streamingMerge(stream, target, Seq("id"), compactEvery = 1)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", sp)
    }
    assert(filesPerDir(target).forall(_ == 1),
      s"every dir compacted to one data file: ${filesPerDir(target)}")
    assert(graft.sink.BucketedMergeSink.read(spark, target).count() == 61)
  }

  test("streamingMerge: compactEvery on a flat target refuses before any write") {
    val target = java.nio.file.Files.createTempDirectory("graft-smy-tgt").toString + "/t"
    Seq((1L, "a", 10L)).toDF("id", "name", "v").write.parquet(target)
    def listing = java.nio.file.Files.walk(java.nio.file.Paths.get(target))
      .toArray.map(_.toString).sorted.toSeq
    val before = listing
    val stream = spark.readStream
      .schema("id LONG, name STRING, v LONG")
      .parquet(java.nio.file.Files.createTempDirectory("graft-smy-src").toString)
    val e = intercept[IllegalArgumentException](
      Streams.streamingMerge(stream, target, Seq("id"), compactEvery = 2))
    assert(e.getMessage.contains("compact: true needs a bucketed target"),
      e.getMessage)
    assert(listing == before, "the refusal must land before any write")
  }

  test("dedupCorpusStream: numBuckets = 0 falls back to a flat target") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dcf-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-dcf-tgt").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dcf-ck").toString
    writeSourceBatch(dir,
      Seq((1L, "Hello  World"), (2L, "hello world")).toDF("doc_id", "text"), 0)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.dedupCorpusStream(stream, target, numBuckets = 0)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    assert(!graft.sink.BucketedMergeSink.isBucketed(spark, target))
    assert(spark.read.parquet(target).select("doc_id", "norm_text")
      .as[(Long, String)].collect().toSeq == Seq((1L, "hello world")))
  }

  test("streamingMerge scd2 with a change feed: one target version per " +
    "micro-batch, and the outbox replays the history on (id, valid_from)") {
    import graft.sink.BucketedMergeSink
    import org.apache.spark.sql.functions.{col, date_format}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val dir = tmp("graft-scf-src")
    val target = tmp("graft-scf-tgt") + "/t"
    val feed = tmp("graft-scf-feed") + "/f"
    // b0 bootstraps keys 1,2; b1 changes key 2 and inserts key 3
    Seq(Seq((1L, "a"), (2L, "b")), Seq((2L, "B"), (3L, "c")))
      .zipWithIndex.foreach { case (rows, i) =>
        writeSourceBatch(dir, rows.toDF("id", "name"), i)
      }
    val stream = spark.readStream
      .schema("id LONG, name STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = Streams.streamingMerge(stream, target, Seq("id"),
        loadType = "scd2", numBuckets = 4, retainVersions = 2,
        derived = Seq(Derived.ChangeFeed(feed)),
        scd2TsOf = b => f"2024-0${b + 1}%d-01 00:00:00")
      .option("checkpointLocation", tmp("graft-scf-ck"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val versions = BucketedMergeSink.manifestVersions(spark, target).sorted
    assert(versions == Seq(1L, 2L), s"one version per micro-batch: $versions")
    val replica = tmp("graft-scf-rep") + "/r"
    BucketedMergeSink.subscribeFeed(spark, feed, replica,
      key = Seq("id", "valid_from"), numBuckets = 4): Unit
    def hist(p: String) = BucketedMergeSink.read(spark, p)
      .select(col("id"), col("name"),
        date_format(col("valid_from"), "yyyy-MM").as("vf"),
        col("valid_to").isNull.as("open"))
      .as[(Long, String, String, Boolean)].collect().toSet
    assert(hist(target) == Set((1L, "a", "2024-01", true),
      (2L, "b", "2024-01", false), (2L, "B", "2024-02", true),
      (3L, "c", "2024-02", true)))
    assert(hist(replica) == hist(target),
      "the outbox replays the target's full history, closed rows too")
  }

  test("streamingMerge: update and delete load types keep batch semantics") {
    // key column "k", NOT "id": mergeIntoParquet's identifier used to
    // default to the literal name "id", so this pins that streamingMerge
    // actually wires the key through for the delete leg
    def run(loadType: String, batches: Seq[Seq[(Long, String, Long)]],
        seed: Seq[(Long, String, Long)]): Seq[(Long, String, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-smu-src").toString
      val target = java.nio.file.Files.createTempDirectory("graft-smu-tgt").toString + "/t"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-smu-ck").toString
      seed.toDF("k", "name", "v").write.parquet(target)
      batches.zipWithIndex.foreach { case (rows, i) =>
        writeSourceBatch(dir, rows.toDF("k", "name", "v"), i)
      }
      val stream = spark.readStream
        .schema("k LONG, name STRING, v LONG")
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = Streams.streamingMerge(stream, target, Seq("k"), loadType,
          excluded = Nil)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(target).as[(Long, String, Long)].collect()
        .sortBy(_._1).toSeq
    }
    val seed = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
    // update-only: unmatched key 9 is dropped, matched key 2 updates
    assert(run("update",
      Seq(Seq((2L, "B", 25L)), Seq((9L, "x", 99L))), seed) ==
      Seq((1L, "a", 10L), (2L, "B", 25L), (3L, "c", 30L)))
    // delete: ids arriving over two micro-batches both removed
    assert(run("delete",
      Seq(Seq((1L, "", 0L)), Seq((3L, "", 0L))), seed) ==
      Seq((2L, "b", 20L)))
    // guard rails: empty key and composite delete keys fail at
    // construction, not inside the first micro-batch
    val s = spark.readStream.schema("k LONG").parquet(
      java.nio.file.Files.createTempDirectory("graft-smu-g").toString)
    intercept[IllegalArgumentException] {
      Streams.streamingMerge(s, "/tmp/never", Nil)
    }
    intercept[IllegalArgumentException] {
      Streams.streamingMerge(s, "/tmp/never", Seq("a", "b"), "delete")
    }
  }

  test("CDC chain e2e: streamingMergeWithFeed producer → subscribeFeedStream " +
    "consumer; a replayed micro-batch changes nothing on either side") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft-chain-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-chain-tgt").toString + "/t"
    val feed = java.nio.file.Files.createTempDirectory("graft-chain-feed").toString + "/f"
    val replica = java.nio.file.Files.createTempDirectory("graft-chain-rep").toString + "/r"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chain-ck").toString
    val batches = Seq(
      Seq((1L, "a", 10L), (2L, "b", 20L)),  // epoch 0: inserts
      Seq((2L, "B", 25L), (3L, "c", 30L)))  // epoch 1: update 2, insert 3
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeSourceBatch(dir, rows.toDF("id", "name", "v"), i)
    }
    def produce(): Unit = {
      val stream = spark.readStream
        .schema("id LONG, name STRING, v LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = Streams.streamingMergeWithFeed(
        stream, target, feed, Seq("id"), numBuckets = 4)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def consume(): Unit = {
      val q = Streams.subscribeFeedStream(spark, feed, replica, numBuckets = 4)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-chain-cck").toString)
        .start()
      q.awaitTermination()
    }
    def rows(p: String) = graft.sink.BucketedMergeSink.read(spark, p)
      .as[(Long, String, Long)].collect().toSet
    produce()
    consume()
    assert(rows(replica) == rows(target) && rows(replica).size == 3,
      "the table-level daemon consumes the streaming outbox directly")
    // REPLAY epoch 1: drop its commit from the producer's checkpoint —
    // on restart, foreachBatch re-runs batch 1 (at-least-once). The
    // committed feed partition is skipped, the merge re-applies
    // idempotently, and the consumer finds nothing new.
    val feedFiles = new java.io.File(feed, "batch_id=3")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(new java.io.File(s"$ckpt/commits/1").delete(),
      "set up: the replay needs commit 1 gone")
    new java.io.File(s"$ckpt/commits/.1.crc").delete(): Unit // local-fs checksum twin
    produce()
    assert(new java.io.File(feed, "batch_id=3")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap == feedFiles,
      "the replayed epoch must not rewrite its committed feed partition")
    consume()
    assert(rows(replica) == rows(target) && rows(replica).size == 3)
  }

  test("CDC chain e2e: a delete stream attached to an EXISTING target " +
    "bases the feed on the pre-attach state, so a fresh replica converges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chaind-src").toString
    val target = java.nio.file.Files.createTempDirectory("graft-chaind-tgt").toString + "/t"
    val feed = java.nio.file.Files.createTempDirectory("graft-chaind-feed").toString + "/f"
    val replica = java.nio.file.Files.createTempDirectory("graft-chaind-rep").toString + "/r"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chaind-ck").toString
    // the target pre-exists the stream: 4 rows from a batch load
    graft.sink.BucketedMergeSink.merge(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "name"),
      target, "upsert", Seq("id"), numBuckets = 4)
    writeSourceBatch(dir, Seq(2L, 4L).toDF("id"), 0)
    val stream = spark.readStream.schema("id LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.streamingMergeWithFeed(
      stream, target, feed, Seq("id"), loadType = "delete", numBuckets = 4)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    // base at 1 = the 4 pre-attach rows, marked; epoch-0 delta at 2
    assert(new java.io.File(new java.io.File(feed, "batch_id=1"), "_base").exists())
    assert(spark.read.parquet(feed).filter($"batch_id" === 1).count() == 4)
    assert(spark.read.parquet(feed).filter($"batch_id" === 2 && $"_op" === "delete")
      .count() == 2)
    graft.sink.BucketedMergeSink.subscribeFeed(
      spark, feed, replica, numBuckets = 4): Unit
    def rows(p: String) = graft.sink.BucketedMergeSink.read(spark, p)
      .as[(Long, String)].collect().toSet
    assert(rows(replica) == rows(target) && rows(replica) ==
      Set((1L, "a"), (3L, "c")),
      "without the base, a fresh replica would silently miss rows 1 and 3")
  }

  test("end-to-end streaming run: file source → windowed agg → memory sink " +
    "matches the batch result") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-e2e").toString
    val batch = Seq(
      (1L, tsAt(10, 5), 7L, "click", 1.5, "{}"),
      (2L, tsAt(10, 45), 7L, "click", 2.5, "{}"),
      (3L, tsAt(11, 10), 8L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    batch.write.mode("overwrite").parquet(dir)
    val q = Streams.hourlyTypeCounts(Streams.readEventStream(spark, dir))
      .writeStream
      .format("memory")
      .queryName("hourly_e2e")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_e2e")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1.getTime, t._2))
      val expected = Streams.hourlyTypeCounts(batch)
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1.getTime, t._2))
      assert(streamed.toSeq == expected.toSeq && streamed.nonEmpty)
    } finally q.stop()
  }
}
