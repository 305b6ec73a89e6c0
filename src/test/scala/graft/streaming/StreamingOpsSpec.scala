package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.core.Tables
import graft.ops.SessionOps

/** Streaming-vs-batch equivalence: the SAME transform definitions run
  * over a file stream must reproduce the batch results that the DuckDB
  * oracle already pins (Q12/Q19).
  */
class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("tumbling window: streaming (complete mode) == batch on the same files") {
    val batch = StreamingOps.tumblingCounts(Tables.events(spark, sfDir))
      .as[(String, String, Long, Double)].collect().toSet

    // stream the single parquet file through the same transform
    val streamDir = Files.createTempDirectory("events-stream").toFile
    val src = new java.io.File(s"$sfDir/events.parquet")
    org.apache.hadoop.fs.FileUtil.copy(
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(src.getAbsolutePath),
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(streamDir.getAbsolutePath, "part-0.parquet"),
      false, spark.sparkContext.hadoopConfiguration)

    val streaming = StreamingHarness.runToMemory(
      StreamingOps.tumblingCounts(
        StreamingOps.eventsStream(spark, streamDir.getAbsolutePath)),
      "tumbling_test", "complete")
      .as[(String, String, Long, Double)].collect().toSet

    assert(streaming == batch)
  }

  test("sliding window: streaming (complete mode) == batch on the same files") {
    import graft.ops.SessionOps
    val batch = SessionOps.slidingCounts(Tables.events(spark, sfDir),
        "ts", "event_type", "value", windowSeconds = 3600L, slideSeconds = 1800L)
      .as[(String, String, Long, Double)].collect().toSet

    val streamDir = Files.createTempDirectory("events-stream-sliding").toFile
    val src = new java.io.File(s"$sfDir/events.parquet")
    org.apache.hadoop.fs.FileUtil.copy(
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(src.getAbsolutePath),
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(streamDir.getAbsolutePath, "part-0.parquet"),
      false, spark.sparkContext.hadoopConfiguration)

    // the IDENTICAL batch transform runs as a streaming query — the
    // q74-pinned hop semantics carry over unchanged
    val streaming = StreamingHarness.runToMemory(
      SessionOps.slidingCounts(
        StreamingOps.eventsStream(spark, streamDir.getAbsolutePath),
        "ts", "event_type", "value", windowSeconds = 3600L, slideSeconds = 1800L),
      "sliding_test", "complete")
      .as[(String, String, Long, Double)].collect().toSet

    assert(streaming == batch)
  }

  test("session_window (batch mode) agrees with the lag+cumsum sessionization on session counts") {
    val events = Tables.events(spark, sfDir)
    val viaWindow = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count()
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .as[(Long, Long)].collect().toMap
    val viaLag = SessionOps.sessionize(events, "user_id", "ts", 1800L)
      .groupBy("user_id").agg(max("session_id").as("n_sessions"))
      .as[(Long, Long)].collect().toMap
    assert(viaWindow == viaLag,
      "session_window and the oracle-checked lag+cumsum definition must agree")
  }

  test("streaming session_window with watermark emits closed sessions") {
    import java.sql.Timestamp
    val streamDir = Files.createTempDirectory("sess-stream").toFile.getAbsolutePath
    def micros(min: Long): Long = min * 60L * 1000000L * 1000L // nanos-as-long input

    // file 1: user 1 has two sessions (gap 45min > 30min)
    Seq(
      (1L, micros(0), 1L, "view", 1.0, "{}"),
      (2L, micros(10), 1L, "view", 1.0, "{}"),
      (3L, micros(55), 1L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(streamDir)
    // file 2: much later event advances the watermark past file-1 sessions
    Seq((9L, micros(10000), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(streamDir)

    val got = StreamingHarness.runToMemory(
      StreamingOps.sessionCounts(
        StreamingOps.eventsStream(spark, streamDir), "30 minutes", "1 hour"),
      "session_test", "append")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSet

    // user 1's two sessions are closed by the watermark; user 2's session
    // is still open (no later data), so exactly these rows are emitted:
    assert(got == Set((1L, 2L), (1L, 1L)))
  }

  test("watermarked tumbling agg: closed windows match batch; state bounded by open windows") {
    // one event every 10min over 600min, 4 time-ordered files: 10+
    // hourly windows in total, but with a 1h watermark only the windows
    // inside the (file span + watermark) horizon are live at any batch
    // end — (160+60)/60 + 2 = 5 — while complete mode would hold all.
    val streamDir = Files.createTempDirectory("tumb-wm-stream").toFile.getAbsolutePath
    def nanos(min: Long): Long = min * 60L * 1000000L * 1000L
    for ((lo, i) <- (0L until 600L by 160L).zipWithIndex) {
      val rows = for (m <- 0L until 600L by 10L if m >= lo && m < lo + 160)
        yield (m, nanos(m), 1L, "view", 1.0, "{}")
      val tmp = Files.createTempDirectory("tumb-wm-batch").toFile.getAbsolutePath
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }

    val (got, maxState) = StreamingHarness.runToMemoryMaxState(
      StreamingOps.tumblingCountsAppend(
        StreamingOps.eventsStream(spark, streamDir), "1 hour"),
      "tumbling_wm_test", "append")

    val horizonBound = (160 + 60) / 60 + 2 // = 5
    assert(maxState >= 1 && maxState <= horizonBound,
      s"tumbling state $maxState outside (0, $horizonBound]: eviction regressed")
    // every emitted (closed) window must carry exactly the batch value
    val batch = StreamingOps.tumblingCounts(
      Tables.normalizeTs(spark.read.parquet(streamDir)))
      .as[(String, String, Long, Double)].collect().toMap2
    val emitted = got.as[(String, String, Long, Double)].collect()
    assert(emitted.nonEmpty && emitted.length < 11,
      s"expected a proper closed subset of the ~10 windows, got ${emitted.length}")
    emitted.foreach { case (bucket, et, n, sv) =>
      assert(batch((bucket, et)) == ((n, sv)), s"window $bucket drifted from batch")
    }
  }

  private implicit class MapOps(rows: Array[(String, String, Long, Double)]) {
    def toMap2: Map[(String, String), (Long, Double)] =
      rows.map { case (b, e, n, s) => (b, e) -> ((n, s)) }.toMap
  }

  test("session-window state is bounded by the watermark horizon, not input size") {
    // 2 users × 15 single-event sessions (events 40min apart > 30min
    // gap) over 600 minutes, in 4 time-ordered micro-batch files of
    // 160min span each. With watermark eviction working, live state at
    // any batch end holds only sessions inside the (file span +
    // watermark + gap) horizon: ≤ (160+60+30)/40 + 2 = 8 per user = 16
    // rows — strictly less than the 30 total sessions. A watermark
    // regression (state never evicted) would hold all 30 and fail this
    // bound; state scaling with EVENTS would fail it even harder.
    val streamDir = Files.createTempDirectory("sess-bound-stream").toFile.getAbsolutePath
    def nanos(min: Long): Long = min * 60L * 1000000L * 1000L

    def writeBatch(rows: Seq[(Long, Long, Long, String, Double, String)],
        name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("sess-bound-batch").toFile.getAbsolutePath
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }

    val allMinutes = (0L until 600L by 40L).toSeq // 15 events per user
    for ((lo, i) <- (0L until 600L by 160L).zipWithIndex) {
      val rows = for {
        m <- allMinutes if m >= lo && m < lo + 160
        u <- Seq(1L, 2L)
      } yield (u * 1000 + m, nanos(m), u, "view", 1.0, "{}")
      writeBatch(rows, s"b$i.parquet", 1000000L * (i + 1))
    }

    val (got, maxState) = StreamingHarness.runToMemoryMaxState(
      StreamingOps.sessionCounts(
        StreamingOps.eventsStream(spark, streamDir), "30 minutes", "1 hour"),
      "session_bound_test", "append")

    val users = 2
    val horizonBound = users * ((160 + 60 + 30) / 40 + 2) // = 16
    assert(maxState >= users, s"state sweep vacuous: maxState=$maxState")
    assert(maxState <= horizonBound,
      s"session state $maxState exceeds watermark-horizon bound $horizonBound " +
        "(eviction regressed: state is tracking input, not open windows)")
    // total sessions (what broken eviction would retain) is well above
    // the bound, so the assertion genuinely discriminates
    assert(users * allMinutes.size == 30 && horizonBound < 30)
    // emitted rows are closed single-event sessions; most sessions are
    // past the final watermark and must have been emitted
    val emitted = got.select("n_events").as[Long].collect()
    assert(emitted.forall(_ == 1L))
    assert(emitted.length >= 20, s"only ${emitted.length} sessions emitted")
  }

  test("late data, tumbling: within-watermark rows fold into their window; " +
      "beyond-watermark rows drop; emissions == batch twin minus the drops") {
    // Out-of-order replay (VERDICT r7 #4 / SURVEY §2.7): the in-order
    // tests above never exercise the watermark's two contracts —
    // (a) a late row whose window is still live must be COUNTED,
    // (b) a late row whose window was already closed must be DROPPED,
    // and both must be visible in the emissions and the progress
    // metrics, not inferred.
    val streamDir = Files.createTempDirectory("tumb-late-stream").toFile.getAbsolutePath
    def nanos(min: Long): Long = min * 60L * 1000000L * 1000L
    def writeBatch(rows: Seq[(Long, Long, Long, String, Double, String)],
        name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("tumb-late-batch").toFile.getAbsolutePath
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }
    def ev(min: Long): (Long, Long, Long, String, Double, String) =
      (min, nanos(min), 1L, "view", 1.0, "{}")

    // Spark keeps TWO watermarks per stateful op (SPARK-24634): batch
    // N filters late rows with the PREVIOUS batch's eviction watermark
    // and evicts with the current one — so a row is only discarded
    // once the watermark that passed its window end is one batch old.
    // The replay below is staged around that (verified against a
    // progress-log trace: wm_evict per batch = 0, 40, 70, 190).
    // b0: minutes 0..100 in order -> eviction wm after b0's data = 40
    writeBatch((0L to 100L by 10L).map(ev), "b0.parquet", 1000000L)
    // b1: minute 130 -> eviction wm 70: [0,60) closes at b2's end
    writeBatch(Seq(ev(130L)), "b1.parquet", 2000000L)
    // b2: minute 80 is LATE (out of order) but its window [60,120) is
    // live and the late-filter wm is still 40 -> COUNTED; minute 250
    // advances the eviction wm to 190
    writeBatch(Seq(ev(80L), ev(250L)), "b2.parquet", 3000000L)
    // b3: minute 30 arrives after [0,60) was emitted+evicted and the
    // late-filter wm (b2's eviction wm = 70) passed its window end ->
    // DROPPED, visible in numRowsDroppedByWatermark
    writeBatch(Seq(ev(30L)), "b3.parquet", 4000000L)

    val (got, _, dropped) = StreamingOps.runToMemoryStats(
      StreamingOps.tumblingCountsAppend(
        StreamingOps.eventsStream(spark, streamDir), "1 hour"),
      "tumbling_late_test", "append")
    val emitted = got.as[(String, String, Long, Double)].collect().toMap2

    assert(dropped == 1L, s"exactly the minute-30 row drops, got $dropped")
    // hardcoded expectations: [0,60) = 6 rows from b0 only (the late
    // minute-30 row arrived after close); [60,120) = 5 from b0 + the
    // ACCEPTED late minute-80 row; [120,180) = minute 130 alone;
    // [240,300) is still open -> not emitted
    assert(emitted == Map(
      ("1970-01-01 00:00:00", "view") -> ((6L, 6.0)),
      ("1970-01-01 01:00:00", "view") -> ((6L, 6.0)),
      ("1970-01-01 02:00:00", "view") -> ((1L, 1.0))), s"got $emitted")
    // and the same thing as the documented contract: emissions equal
    // the BATCH twin over (all rows minus the dropped row), restricted
    // to the closed windows
    val kept = ((0L to 100L by 10L) ++ Seq(130L, 80L, 250L)).map(ev)
    val batch = StreamingOps.tumblingCounts(
        Tables.normalizeTs(kept.toDF(
          "event_id", "ts", "user_id", "event_type", "value", "props")))
      .as[(String, String, Long, Double)].collect().toMap2
    emitted.foreach { case (k, v) =>
      assert(batch(k) == v, s"closed window $k drifted from the batch twin")
    }
  }

  test("late data, session windows: beyond-watermark row neither revives nor " +
      "re-emits its closed session; drop is counted") {
    val streamDir = Files.createTempDirectory("sess-late-stream").toFile.getAbsolutePath
    def nanos(min: Long): Long = min * 60L * 1000000L * 1000L
    def writeBatch(rows: Seq[(Long, Long, Long, String, Double, String)],
        name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("sess-late-batch").toFile.getAbsolutePath
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }

    // b0: user 1 -> session A (minutes 0,10), session B (minute 120)
    writeBatch(Seq(
      (1L, nanos(0), 1L, "view", 1.0, "{}"),
      (2L, nanos(10), 1L, "view", 1.0, "{}"),
      (3L, nanos(120), 1L, "view", 1.0, "{}")), "b0.parquet", 1000000L)
    // b1: user 2 at minute 400 -> wm = 340, both of user 1's sessions close
    writeBatch(Seq(
      (4L, nanos(400), 2L, "view", 1.0, "{}")), "b1.parquet", 2000000L)
    // b2: user 1 minute 5 — inside already-emitted session A, far below
    // the watermark -> MUST be dropped (a revival would double-emit A);
    // user 2 minute 410 extends the still-open user-2 session
    writeBatch(Seq(
      (5L, nanos(5), 1L, "view", 1.0, "{}"),
      (6L, nanos(410), 2L, "view", 1.0, "{}")), "b2.parquet", 3000000L)

    val (got, _, dropped) = StreamingOps.runToMemoryStats(
      StreamingOps.sessionCounts(
        StreamingOps.eventsStream(spark, streamDir), "30 minutes", "1 hour"),
      "session_late_test", "append")
    val emitted = got.select("user_id", "n_events").as[(Long, Long)].collect().toSeq

    assert(dropped == 1L, s"exactly the minute-5 row drops, got $dropped")
    // sessions A (2 events) and B (1 event) emitted exactly once each,
    // with the pre-drop counts; user 2's session is still open
    assert(emitted.sorted == Seq((1L, 1L), (1L, 2L)),
      s"closed sessions must be emitted once with batch-twin counts, got $emitted")
  }

  test("streaming exact dedup: first arrival wins, same keys as batch dropDuplicates") {
    import java.sql.Timestamp
    import org.apache.spark.sql.types._
    val streamDir = Files.createTempDirectory("dedup-stream").toFile.getAbsolutePath
    def ts(min: Long) = new Timestamp(min * 60L * 1000L)

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))

    // the file source orders same-mtime files arbitrarily, so write each
    // micro-batch file with an explicit name and strictly increasing
    // mtime to pin batch order
    def writeBatch(df: org.apache.spark.sql.DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("dedup-batch").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }

    // file 1 (first micro-batch): two distinct keys
    writeBatch(Seq(
      (1L, "hello world", ts(0)),
      (3L, "something unique", ts(10))
    ).toDF("doc_id", "text", "ts"), "batch-1.parquet", 1000000L)
    // file 2 (second micro-batch): a normalized duplicate of doc 1 —
    // dropped against the first batch's state (watermark has not passed
    // it) — plus a genuinely new doc.
    writeBatch(Seq(
      (2L, "HELLO WORLD  ", ts(20)),
      (4L, "brand new material", ts(25))
    ).toDF("doc_id", "text", "ts"), "batch-2.parquet", 2000000L)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val got = StreamingHarness.runToMemory(
      StreamingOps.streamingExactDedup(stream, "text", "ts", "1 hour"),
      "dedup_test", "append")
      .select(col("doc_id"), lower(trim(col("text"))).as("k"))
      .as[(Long, String)].collect()
    // exactly one emitted doc per normalized key, across micro-batches
    // (WHICH row of a dup pair survives is the engine's arbitrary pick —
    // only the one-per-key contract is pinned)
    assert(got.length == 3, s"expected 3 keepers, got ${got.mkString(",")}")
    assert(got.map(_._2).toSet ==
      Set("hello world", "something unique", "brand new material"))
    assert(got.exists(r => r._1 == 1L || r._1 == 2L))

    // batch path: same normalized-key semantics via dropDuplicates
    val batch = spark.read.schema(schema).parquet(streamDir)
    val batchKeys = StreamingOps.streamingExactDedup(batch, "text", "ts", "1 hour")
      .select(lower(trim(col("text")))).as[String].collect().toSet
    assert(batchKeys == Set("hello world", "something unique", "brand new material"))
  }

  test("streaming curation gate: stream output == batch output, PII scrubbed") {
    import org.apache.spark.sql.types._
    val streamDir = Files.createTempDirectory("gate-stream").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // realistic mix: normal docs, a repetition-bomb (top-bigram ~1.0),
    // a PII carrier; split over two files to cross micro-batches
    Seq((1L, "the quick brown fox jumps over the lazy dog today fine"),
        (2L, "spam spam spam spam spam spam spam spam spam spam"),
        (3L, "write to jane.doe@example.com for a copy of the data"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(streamDir)
    Seq((4L, "pack my box with five dozen liquor jugs and more words here"),
        (5L, "sphinx of black quartz judge my vow said the old judge"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(streamDir)

    def gate(df: org.apache.spark.sql.DataFrame) =
      StreamingOps.streamingCurationGate(df, "text", "doc_id",
        minQuality = 0.1, maxTopBigram = 0.9, sampleProb = 0.9, seed = 3L)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val got = StreamingHarness.runToMemory(gate(stream), "gate_test", "append")
      .as[(Long, String)].collect().toMap
    val want = gate(spark.read.schema(schema).parquet(streamDir))
      .as[(Long, String)].collect().toMap
    assert(got == want, "stream and batch gates must agree row-for-row")
    // the repetition bomb is gone; the PII carrier (if sampled in) is scrubbed
    assert(!got.contains(2L))
    got.get(3L).foreach(t => assert(t.contains("<EMAIL>") && !t.contains("@")))
    assert(got.nonEmpty)
  }

  test("streaming simhash dedup: one doc per signature, stream == batch keys") {
    import java.sql.Timestamp
    import org.apache.spark.sql.types._
    val streamDir = Files.createTempDirectory("simdedup-stream").toFile.getAbsolutePath
    def ts(min: Long) = new Timestamp(min * 60L * 1000L)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    // token-identical docs share the signature (whitespace variations
    // collapse under tokenization); distinct-vocab docs do not
    Seq(
      (1L, "alpha beta gamma delta", ts(0)),
      (2L, "alpha  beta gamma   delta", ts(5)),
      (3L, "totally different words here", ts(10))
    ).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("overwrite").parquet(streamDir)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val got = StreamingHarness.runToMemory(
      StreamingOps.streamingSimHashDedup(stream, "text", "ts", "1 hour"),
      "simdedup_test", "append")
      .select("doc_id").as[Long].collect().toSet
    assert(got.size == 2, s"one keeper per signature, got $got")
    assert(got.contains(3L))
    assert(got.contains(1L) || got.contains(2L))

    // batch path: same signature-key semantics
    val batch = spark.read.schema(schema).parquet(streamDir)
    val batchIds = StreamingOps.streamingSimHashDedup(batch, "text", "ts", "1 hour")
      .select("doc_id").as[Long].collect().toSet
    assert(batchIds.size == 2 && batchIds.contains(3L))
  }

  test("streamingTwap carries state across micro-batches; final row matches batch twap") {
    import org.apache.spark.sql.types._
    import graft.ops.TrendOps
    val streamDir = Files.createTempDirectory("twap-stream").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))

    def writeBatch(df: org.apache.spark.sql.DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("twap-batch").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }

    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // clean quarter values so double and decimal folds agree exactly
    def rows(lo: Long): Seq[(String, Long, java.sql.Timestamp, Double)] =
      for (k <- Seq("a", "b"); m <- lo until (lo + 4))
        yield (k, m, ts(m * 3), (m % 7) * 0.25 + (if (k == "a") 1.0 else 2.0))
    writeBatch(rows(0).toDF("key", "event_id", "ts", "value"), "b1.parquet", 1000000L)
    writeBatch(rows(4).toDF("key", "event_id", "ts", "value"), "b2.parquet", 2000000L)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val got = StreamingHarness.runToMemory(
      StreamingOps.streamingTwap(stream, "key", "ts", "value"),
      "twap_test", "append")
      .as[(String, Long, Double, Long)].collect()
    // 8 events per key -> 7 closed intervals each
    assert(got.count(_._1 == "a") == 7 && got.count(_._1 == "b") == 7)
    // running n_obs crossed the file boundary (state carried)
    assert(got.filter(_._1 == "a").map(_._4).sorted.toSeq == (1L to 7L))

    val batch = TrendOps.twap(
      spark.read.schema(schema).parquet(streamDir), "key", "ts", "value")
      .as[(String, Double, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    for (k <- Seq("a", "b")) {
      val last = got.filter(_._1 == k).maxBy(_._2)
      assert(last._4 == batch(k)._2, s"$k: n_obs drifted from batch")
      assert(math.abs(last._3 - batch(k)._1) < 1e-12,
        s"$k: streaming twap ${last._3} != batch ${batch(k)._1}")
    }
  }

  test("streamingFunnel: per-level users match batch funnelCounts; state crosses batches") {
    import org.apache.spark.sql.types._
    import graft.ops.FunnelOps
    val streamDir = Files.createTempDirectory("funnel-stream").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType)))

    def writeBatch(df: org.apache.spark.sql.DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("funnel-batch").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)

    // file 1: u1 view+click; u2 click only (can't start); u3 view
    writeBatch(Seq(
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(5), "click"),
      (2L, 3L, ts(1), "click"), (3L, 4L, ts(2), "view")
    ).toDF("user_id", "event_id", "ts", "event_type"), "b1.parquet", 1000000L)
    // file 2: u1 buys (chain crossed the batch boundary); u2 views
    // then clicks same-instant (>= tie rule); u3 stalls
    writeBatch(Seq(
      (1L, 5L, ts(10), "buy"),
      (2L, 6L, ts(20), "view"), (2L, 7L, ts(20), "click")
    ).toDF("user_id", "event_id", "ts", "event_type"), "b2.parquet", 2000000L)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val hits = StreamingHarness.runToMemory(
      StreamingOps.streamingFunnel(stream, "user_id", "ts", "event_type",
        Seq("view", "click", "buy")),
      "funnel_stream_test", "append")
      .select(col("user_id").cast("long"), col("step_idx"))
      .as[(Long, Int)].collect().toSet
    assert(hits == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (2L, 2), (3L, 1)))

    // per-level distinct-user counts equal the batch operator on the
    // same files
    val batchEvents = spark.read.schema(schema).parquet(streamDir)
    val batchCounts = FunnelOps.funnelCounts(batchEvents, "user_id", "ts",
        "event_type", Seq("view", "click", "buy"))
      .select("step_idx", "n_users").as[(Int, Long)].collect().toMap
    val streamCounts = hits.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(streamCounts == batchCounts)
  }

  test("streamingEma in batch mode reproduces emaByKey bit-for-bit") {
    import graft.ops.VectorOps
    val events = Tables.events(spark, sfDir).select("event_type", "event_id", "value")
    val viaState = StreamingOps.streamingEma(events, "event_type", "event_id", "value", 0.9)
      .as[(String, Long, Double)].collect()
      .map { case (k, o, e) => (k, o) -> e }.toMap
    val viaBatch = VectorOps.emaByKey(events, "event_type", "event_id", "value", 0.9)
      .select(col("event_type"), col("event_id"), col("ema"))
      .as[(String, Long, Double)].collect()
      .map { case (k, o, e) => (k, o) -> e }.toMap
    assert(viaState.size == viaBatch.size && viaState.size > 0)
    // exact double equality: both fold left-to-right with the same
    // `prev * decay + x * (1 - decay)` arithmetic
    assert(viaState == viaBatch)
  }

  test("streamingEma carries state across micro-batches (== batch emaByKey when files arrive in order)") {
    import org.apache.spark.sql.types._
    import graft.ops.VectorOps
    val streamDir = Files.createTempDirectory("ema-stream").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("ord", LongType),
      StructField("value", DoubleType)))

    def writeBatch(df: org.apache.spark.sql.DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("ema-batch").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }

    // three micro-batches, ords strictly increasing across files (the
    // ingest norm the scaladoc contract names); deterministic values
    def batchRows(lo: Long): Seq[(String, Long, Double)] =
      for (k <- Seq("a", "b"); o <- lo until (lo + 5))
        yield (k, o, (o * 7 % 13) + (if (k == "a") 0.25 else 0.75))
    writeBatch(batchRows(0).toDF("key", "ord", "value"), "b1.parquet", 1000000L)
    writeBatch(batchRows(5).toDF("key", "ord", "value"), "b2.parquet", 2000000L)
    writeBatch(batchRows(10).toDF("key", "ord", "value"), "b3.parquet", 3000000L)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val got = StreamingHarness.runToMemory(
      StreamingOps.streamingEma(stream, "key", "ord", "value", 0.9),
      "ema_test", "append")
      .as[(String, Long, Double)].collect()
      .map { case (k, o, e) => (k, o) -> e }.toMap

    val expected = VectorOps.emaByKey(
      spark.read.schema(schema).parquet(streamDir), "key", "ord", "value", 0.9)
      .select(col("key"), col("ord"), col("ema"))
      .as[(String, Long, Double)].collect()
      .map { case (k, o, e) => (k, o) -> e }.toMap

    assert(got.size == 30, s"expected 30 rows, got ${got.size}")
    // the running value must have crossed micro-batch boundaries: row
    // ord=5 of each key depends on state from file b1
    assert(got == expected)
  }

  test("streamingBootstrapGauge: state is O(B) per group across batches; " +
      "final gauge matches the batch bootstrap") {
    import org.apache.spark.sql.types._
    import graft.ops.StatsOps
    val streamDir = Files.createTempDirectory("boot-stream").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))

    def writeBatch(df: org.apache.spark.sql.DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("boot-batch").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    def rows(lo: Long): Seq[(String, Long, java.sql.Timestamp, Double)] =
      for (k <- Seq("a", "b"); i <- lo until (lo + 30))
        yield (k, i, ts(i), math.sin(i.toDouble) * 4.0 +
          (if (k == "a") 10.0 else 20.0))
    writeBatch(rows(0).toDF("key", "event_id", "ts", "value"), "b1.parquet", 1000000L)
    writeBatch(rows(30).toDF("key", "event_id", "ts", "value"), "b2.parquet", 2000000L)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val reps = 16
    val (out, maxState) = StreamingHarness.runToMemoryMaxState(
      StreamingOps.streamingBootstrapGauge(stream, "key", "ts", "value",
        "event_id", reps = reps, seed = "sg", alpha = 0.1),
      "boot_gauge_test", "append")
    val got = out.as[(String, Long, Double, Double, Double, Double)].collect()
    // one gauge per group per micro-batch; running n crossed the file
    // boundary (state carried)
    assert(got.count(_._1 == "a") == 2 && got.count(_._1 == "b") == 2)
    assert(got.filter(_._1 == "a").map(_._2).sorted.toSeq == Seq(30L, 60L))
    // state rows == |groups|, not input size (each holds the 2B+2 sums)
    assert(maxState == 2L, s"state must be one row per group, got $maxState")

    // final emitted gauge per group == batch production bootstrap
    // (same draws by construction; double-fold order tolerance only)
    val batch = StatsOps.poissonBootstrapCIByGroup(
        spark.read.schema(schema).parquet(streamDir), "key", "value",
        "event_id", reps = reps, seed = "sg", alpha = 0.1, exact = false)
      .as[(String, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    for (k <- Seq("a", "b")) {
      val last = got.filter(_._1 == k).maxBy(_._2)
      val b = batch(k)
      assert(last._2 == b._2, s"$k n")
      Seq((last._3, b._3, "mean"), (last._4, b._4, "boot_lo"),
        (last._5, b._5, "boot_hi"), (last._6, b._6, "boot_se")).foreach {
        case (s, e, what) =>
          assert(math.abs(s - e) < 1e-9, s"$k $what: $s vs $e")
      }
    }
  }

  test("streamingHeavyHitters: k-bounded state across micro-batches; " +
      "batch-qualifying values present within the MG error band") {
    import org.apache.spark.sql.types._
    import graft.ops.SketchOps
    val streamDir = Files.createTempDirectory("hh-stream").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("event_id", LongType),
      StructField("value", StringType)))
    def writeBatch(df: org.apache.spark.sql.DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("hh-batch").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }
    // per file: 30 "hot" + 4 distractor values x 5 each; two groups
    def rows(lo: Long): Seq[(String, Long, String)] =
      (for (g <- Seq("a", "b"); i <- 0 until 50) yield {
        val v = if (i < 30) "hot" else s"d${(i - 30) / 5}"
        (g, lo + i, v)
      })
    writeBatch(rows(0).toDF("key", "event_id", "value"), "b1.parquet", 1000000L)
    writeBatch(rows(100).toDF("key", "event_id", "value"), "b2.parquet", 2000000L)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val k = 4
    val (out, maxState) = StreamingHarness.runToMemoryMaxState(
      StreamingOps.streamingHeavyHitters(stream, "key", "value", k),
      "hh_gauge_test", "append")
    val got = out.as[(String, String, Long, Long)].collect()
    // state rows = |groups| (each holds the k-bounded buffer struct)
    assert(maxState == 2L, s"state must be one row per group, got $maxState")
    // final emission per group = rows at the max n_seen
    for (g <- Seq("a", "b")) {
      val fin = got.filter(r => r._1 == g && r._4 == 100L)
      assert(fin.nonEmpty && fin.length <= k,
        s"$g: buffer must stay k-bounded, got ${fin.length}")
      // every batch-qualifying value (true freq > n/(k+1) = 20) is
      // present with its count inside [true - n/(k+1), true]
      val hot = fin.find(_._2 == "hot")
      assert(hot.isDefined, s"$g: the 60-count value must survive: $fin")
      assert(hot.get._3 >= 40L && hot.get._3 <= 60L,
        s"$g: mg_count ${hot.get._3} outside the MG band [40, 60]")
    }
    // exact-path agreement: the batch two-pass heavy hitters on the
    // same rows qualifies exactly {hot}, which the gauge surfaced
    val batchHH = SketchOps.heavyHitters(
        spark.read.schema(schema).parquet(streamDir)
          .filter(col("key") === "a"),
        "value", k = k, minFrac = 0.25)
      .as[(String, Long)].collect().toMap
    assert(batchHH.keySet == Set("hot") && batchHH("hot") == 60L)
  }

  test("streamingBootstrapGauge idle-group TTL bounds state") {
    import org.apache.spark.sql.types._
    val streamDir = Files.createTempDirectory("boot-ttl").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def writeBatch(df: org.apache.spark.sql.DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("boot-ttl-b").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }
    // offset from 100 min: the initial watermark is 0 and the late
    // filter drops rows AT or below it (the streamingEma TTL note)
    def ts(min: Long) = new java.sql.Timestamp((100 + min) * 60000L)
    // group "old" appears only in file 1; the watermark from file 2's
    // much-later events pushes past old's TTL and evicts it
    writeBatch(Seq(("old", 1L, ts(0), 1.0), ("live", 2L, ts(1), 2.0))
      .toDF("key", "event_id", "ts", "value"), "b1.parquet", 1000000L)
    writeBatch((3L to 6L).map(i => ("live", i, ts(10000 + i), 2.0 + i))
      .toDF("key", "event_id", "ts", "value"), "b2.parquet", 2000000L)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val (out, maxState) = StreamingHarness.runToMemoryMaxState(
      StreamingOps.streamingBootstrapGauge(stream, "key", "ts", "value",
        "event_id", reps = 8, seed = "sg", alpha = 0.1,
        watermarkDelay = "1 minute", idleTtlMs = 60L * 60L * 1000L),
      "boot_ttl_test", "append")
    val got = out.as[(String, Long, Double, Double, Double, Double)].collect()
    assert(got.exists(_._1 == "old") && got.exists(_._1 == "live"))
    assert(maxState <= 2L, s"TTL must keep state at live groups, got $maxState")
  }

  test("streamingEma idle-key TTL: expired keys leave the state store") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.Trigger
    val streamDir = Files.createTempDirectory("ema-ttl-stream").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("ord", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))

    def writeBatch(df: org.apache.spark.sql.DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("ema-ttl-batch").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    }

    // minutes offset from 100: the initial watermark is 0, and the
    // watermark late-filter drops rows AT or below it — an epoch-origin
    // event would vanish before the fold (the scaladoc's boundary note)
    def ts(min: Long) = new java.sql.Timestamp((100 + min) * 60000L)
    // key "a" lives only in file 1; "b" keeps arriving as event time
    // advances far past a's idle TTL (1 hour, watermark delay 10 min)
    writeBatch(Seq(("a", 0L, ts(0), 1.0), ("a", 1L, ts(1), 2.0),
        ("b", 0L, ts(0), 1.0), ("b", 1L, ts(1), 2.0))
      .toDF("key", "ord", "ts", "value"), "b1.parquet", 1000000L)
    writeBatch(Seq(("b", 2L, ts(500), 3.0), ("b", 3L, ts(501), 4.0))
      .toDF("key", "ord", "ts", "value"), "b2.parquet", 2000000L)
    writeBatch(Seq(("b", 4L, ts(600), 5.0), ("b", 5L, ts(601), 6.0))
      .toDF("key", "ord", "ts", "value"), "b3.parquet", 3000000L)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val q = StreamingOps.streamingEma(stream, "key", "ord", "value", 0.9,
        tsCol = "ts", watermarkDelay = "10 minutes", idleTtlMs = 60L * 60 * 1000)
      .writeStream.format("memory").queryName("ema_ttl_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val states = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
    assert(states.max == 2L, s"both keys must be live at some point: $states")
    // "a" is evicted the batch after the watermark (file-2 event time)
    // passes its 1h TTL; "b" goes in the trailing timeout-only batch
    // AvailableNow runs once the watermark reaches file 3's horizon —
    // state ends BELOW keys-ever-seen, the run-forever guarantee
    assert(states.contains(1L) && states.last == 0L,
      s"idle keys must be EVICTED as the watermark passes their TTL: $states")
    // rows emitted before eviction are intact; eviction emits nothing
    val rows = spark.table("ema_ttl_test")
      .as[(String, Long, Double)].collect()
    assert(rows.count(_._1 == "a") == 2 && rows.count(_._1 == "b") == 6)
  }

  test("streamingTwap: zero-duration prefix emits no NaN; same-instant events use the event_id tiebreak") {
    import graft.ops.TrendOps
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // two same-instant events (descending values — a (ts, value) sort
    // would reorder them), then one a minute later
    val df = Seq(
      ("k", 1L, ts(0), 20.0),
      ("k", 2L, ts(0), 10.0),
      ("k", 3L, ts(1), 30.0)).toDF("key", "event_id", "ts", "value")
    val got = StreamingOps.streamingTwap(df, "key", "ts", "value")
      .as[(String, Long, Double, Long)].collect()
    // the same-instant prefix closes two intervals (n_obs 2) but only
    // the first positive-duration point emits — and it weights the
    // event_id-ORDER last value (10.0), matching the batch tiebreak
    assert(got.length == 1, s"expected one emitted point, got ${got.toSeq}")
    assert(!got.head._3.isNaN && got.head._3 == 10.0 && got.head._4 == 2L)
    val batch = TrendOps.twap(df, "key", "ts", "value")
      .as[(String, Double, Long)].head()
    assert(batch._2 == 10.0 && batch._3 == 2L)
  }

  test("streaming drift gate: per-window PSI == batch categoricalDrift; chained aggs bounded") {
    import graft.ops.DriftOps
    val events = Tables.events(spark, sfDir)
    val reference = events.groupBy(col("event_type").as("cat"))
      .agg(count(lit(1)).as("n"))
    // batch-mode run of the SAME code (chained window aggs work in
    // batch too) vs per-window categoricalDrift
    val got = StreamingOps.streamingDrift(events, "event_type", reference)
      .as[(String, Int, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.nonEmpty)
    val windows = events
      .select(date_format(window(col("ts"), "1 hour").getField("start"),
        "yyyy-MM-dd HH:mm:ss").as("bucket"), col("event_type"))
    // spot-check ONE window end-to-end against the batch operator: the
    // reference frame re-exploded to raw rows so categoricalDrift's
    // count() reproduces the same (cat, n_old) dim
    val someBucket = got.keys.min
    val winDf = windows.filter(col("bucket") === someBucket)
      .select(col("event_type").as("cat"))
    val refRows = reference.as[(String, Long)].collect()
      .flatMap { case (c, n) => Seq.fill(n.toInt)(c) }.toSeq
      .toDF("cat")
    val exp = DriftOps.categoricalDrift(refRows, winDf, "cat")
      .select("psi_total").as[Double].head()
    val (_, _, gotPsi) = got(someBucket)
    assert(math.abs(gotPsi - exp) < 1e-9,
      s"window $someBucket PSI: got $gotPsi expected $exp")

    // streaming run: two chained event-time aggs, append mode, state
    // bounded by open windows x categories
    val streamDir = Files.createTempDirectory("events-stream-drift").toFile
    val src = new java.io.File(s"$sfDir/events.parquet")
    org.apache.hadoop.fs.FileUtil.copy(
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(src.getAbsolutePath),
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(streamDir.getAbsolutePath, "part-0.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    val (out, maxState) = StreamingHarness.runToMemoryMaxState(
      StreamingOps.streamingDrift(
        StreamingOps.eventsStream(spark, streamDir.getAbsolutePath),
        "event_type", reference),
      "drift_gate_test", "append")
    val emitted = out.as[(String, Int, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    // closed windows match the batch run exactly (same code path)
    emitted.foreach { case (bucket, psi) =>
      assert(math.abs(psi - got(bucket)._3) < 1e-9, s"window $bucket")
    }
    assert(maxState > 0 && maxState < 10000,
      s"state must stay bounded by windows x categories, got $maxState")
  }

  test("stream-stream attribution join: streaming == batch; state evicted") {
    // 3 users, a touch every 20min, conversions offset so each has
    // exactly the touches inside the 30min horizon behind it; 4
    // time-ordered files force cross-micro-batch matches
    val streamDir = Files.createTempDirectory("attr-stream").toFile.getAbsolutePath
    // base offset keeps event times off epoch zero: a ts equal to the
    // initial watermark value (0) is dropped as late by the join
    def nanos(min: Long): Long = (86400L + min * 60L) * 1000000L * 1000L
    val all = (for (u <- 1L to 3L; m <- 0L until 480L by 20L) yield {
      val isConv = (m / 20L + u) % 4 == 0
      (u * 10000 + m, nanos(m), u,
        if (isConv) "purchase" else "view", m.toDouble, "{}")
    }).sortBy(_._2)
    for ((grp, i) <- all.grouped(25).zipWithIndex) {
      val tmp = Files.createTempDirectory("attr-batch").toFile.getAbsolutePath
      grp.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    def attr(df: org.apache.spark.sql.DataFrame) =
      StreamingOps.streamingAttribution(
        df, "view", "purchase", horizonSec = 1800L, watermark = "1 hour")
    val (got, maxState) = StreamingHarness.runToMemoryMaxState(
      attr(StreamingOps.eventsStream(spark, streamDir)),
      "attr_join_test", "append")
    val batch = attr(Tables.normalizeTs(spark.read.parquet(streamDir)))
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] = df
      .select("user_id", "touch_id", "conv_id", "conv_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    val (g, b) = (key(got), key(batch))
    assert(b.nonEmpty, "fixture must produce conversions with prior touches")
    assert(g == b, s"stream emitted ${g.size} pairs, batch ${b.size}")
    // watermark+horizon retention: state never holds the whole stream
    assert(maxState > 0 && maxState < all.length * 2L,
      s"join state $maxState not bounded")
  }

  test("left-outer stream-stream join emits watermark-proven unmatched touches") {
    val streamDir = Files.createTempDirectory("attr-lo").toFile.getAbsolutePath
    def nanos(min: Long): Long = (86400L + min * 60L) * 1000000L * 1000L
    // user 1: touch at 0 converts at 10; touch at 100 never converts.
    // The far-future tick advances the watermark so the unmatched
    // touch's no-match proof completes; outer-join nulls emit in the
    // FOLLOWING trigger (watermark applies one batch late), hence the
    // second tick file.
    val batches = Seq(
      Seq((1L, nanos(0), 1L, "view", 0.0, "{}"),
        (2L, nanos(10), 1L, "purchase", 5.0, "{}"),
        (3L, nanos(100), 1L, "view", 0.0, "{}")),
      // ticks carry BOTH types: the global watermark is the MIN over
      // the two sides' watermarks, so each side needs late events
      Seq((9L, nanos(10000), 2L, "view", 0.0, "{}"),
        (8L, nanos(10000), 2L, "purchase", 1.0, "{}")),
      Seq((10L, nanos(10001), 2L, "view", 0.0, "{}"),
        (11L, nanos(10001), 2L, "purchase", 1.0, "{}")))
    for ((grp, i) <- batches.zipWithIndex) {
      val tmp = Files.createTempDirectory("attr-lob").toFile.getAbsolutePath
      grp.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    val got = StreamingHarness.runToMemory(
      StreamingOps.streamingAttribution(
        StreamingOps.eventsStream(spark, streamDir),
        "view", "purchase", horizonSec = 1800L, watermark = "30 minutes",
        joinType = "left_outer"),
      "attr_lo_test", "append")
      .select("touch_id", "conv_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(got(1L).contains(2L), "matched touch carries its conversion")
    assert(got.get(3L).exists(_.isEmpty),
      s"unmatched touch must be emitted with null conversion, got $got")
  }

  test("streamingExactDedupOptOut (batch differential): winner removal frees " +
      "the content, non-winner/absent removal is a no-op, freed content " +
      "re-admits — the removedBucketReps semantics on the dedup state") {
    val docs = Seq(
      (1L, "alpha beta", 1L), (2L, "alpha beta", 2L),  // 1 wins, 2 drops
      (3L, "gamma delta", 3L),
      (5L, "alpha beta", 6L),                           // after 1's removal: kept
      (6L, "gamma delta", 7L)                           // 3 still live: dropped
    ).toDF("doc_id", "text", "ord")
    val removals = Seq(
      (1L, "alpha beta", 4L),    // winner: frees the slot
      (99L, "gamma delta", 5L),  // non-winner id: no-op
      (42L, "never seen", 8L)    // absent content: no-op
    ).toDF("doc_id", "text", "ord")
    val kept = StreamingOps.streamingExactDedupOptOut(
      docs, removals, "text", "doc_id", "ord")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("streamingExactDedupOptOut (streaming): state SHRINKS on winner " +
      "removal and the freed content is re-admitted in a later micro-batch") {
    val dir = Files.createTempDirectory("dedup-optout").toFile
    val docsDir = new java.io.File(dir, "docs"); docsDir.mkdirs()
    val remDir = new java.io.File(dir, "rem"); remDir.mkdirs()
    val schema = Seq((0L, "x", 0L)).toDF("doc_id", "text", "ord").schema
    def write(target: java.io.File, name: String, mtime: Long,
        rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("optout-b").toString
      rows.toDF("doc_id", "text", "ord").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && f.length > 0).get
      val dst = new java.io.File(target, name)
      Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime); ()
    }
    // trigger 1: ingest A(1) A(2) B(3); trigger 2: removals only
    // (winner A=1 freed; id 99 against B's content: no-op);
    // trigger 3: A re-admitted, B still suppressed, C fresh
    write(docsDir, "d1.parquet", 1000000L,
      Seq((1L, "alpha beta", 1L), (2L, "alpha beta", 2L), (3L, "gamma delta", 3L)))
    write(docsDir, "d2.parquet", 2000000L, Seq.empty)
    write(docsDir, "d3.parquet", 3000000L,
      Seq((5L, "alpha beta", 10L), (6L, "gamma delta", 11L), (4L, "fresh stuff", 12L)))
    write(remDir, "r1.parquet", 1000000L, Seq.empty)
    write(remDir, "r2.parquet", 2000000L,
      Seq((1L, "alpha beta", 5L), (99L, "gamma delta", 6L)))
    write(remDir, "r3.parquet", 3000000L, Seq.empty)
    def src(d: java.io.File) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(d.getAbsolutePath)
    val q = StreamingOps.streamingExactDedupOptOut(
        src(docsDir), src(remDir), "text", "doc_id", "ord")
      .writeStream.format("memory").queryName("dedup_optout_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.table("dedup_optout_test")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L, 4L),
      s"kept must be first-winners + the re-admitted freed content: $kept")
    val states = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
      .filter(_ >= 0)
    // per-trigger live contents: {A,B} -> removal shrinks to {B} ->
    // {A,B,C}; the middle point is the removal verb ACTING on state
    assert(states.containsSlice(Seq(2L, 1L, 3L)),
      s"state must track live contents exactly, shrinking on removal: $states")
    spark.catalog.dropTempView("dedup_optout_test")
  }

  test("streamingExactDedupOptOut TTL: idle content is watermark-evicted " +
      "and a post-eviction dup is re-admitted (the bounded-state horizon " +
      "trade, streamingExactDedup's contract on the custom-state path)") {
    val dir = Files.createTempDirectory("dedup-optout-ttl").toFile
    val docsDir = new java.io.File(dir, "docs"); docsDir.mkdirs()
    val remDir = new java.io.File(dir, "rem"); remDir.mkdirs()
    def ts(min: Long) = new java.sql.Timestamp((100 + min) * 60000L)
    val schema = Seq((0L, "x", 0L, ts(0))).toDF("doc_id", "text", "ord", "ts").schema
    def write(target: java.io.File, name: String, mtime: Long,
        rows: Seq[(Long, String, Long, java.sql.Timestamp)]): Unit = {
      val tmp = Files.createTempDirectory("optout-ttl-b").toString
      rows.toDF("doc_id", "text", "ord", "ts").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && f.length > 0).get
      val dst = new java.io.File(target, name)
      Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime); ()
    }
    // content A arrives once; B keeps arriving, advancing the watermark
    // far past A's 1h idle TTL; then A arrives again with CURRENT event
    // time — state was evicted, so it is re-admitted
    write(docsDir, "d1.parquet", 1000000L,
      Seq((1L, "alpha beta", 1L, ts(0)), (2L, "gamma delta", 2L, ts(1))))
    write(docsDir, "d2.parquet", 2000000L,
      Seq((3L, "gamma delta", 3L, ts(500))))
    write(docsDir, "d3.parquet", 3000000L,
      Seq((4L, "alpha beta", 4L, ts(600))))
    for ((n, m) <- Seq(("r1", 1000000L), ("r2", 2000000L), ("r3", 3000000L)))
      write(remDir, s"$n.parquet", m, Seq.empty)
    def src(d: java.io.File) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(d.getAbsolutePath)
    val q = StreamingOps.streamingExactDedupOptOut(
        src(docsDir), src(remDir), "text", "doc_id", "ord",
        tsCol = "ts", watermarkDelay = "10 minutes", idleTtlMs = 60L * 60 * 1000)
      .writeStream.format("memory").queryName("dedup_optout_ttl_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.table("dedup_optout_ttl_test")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L),
      s"idle-evicted content must be re-admitted on return: $kept")
    spark.catalog.dropTempView("dedup_optout_ttl_test")
  }

  test("streamingExactDedupOptOut property: 20 seeded-random interleavings " +
      "match a sequential reference fold (arbitrary orderings, not just " +
      "the q255 phase structure)") {
    val texts = Vector("alpha beta", "gamma delta", "epsilon zeta",
      "eta theta", "iota kappa")
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(30)
      val ords = rnd.shuffle((1L to n.toLong).toVector)
      var nextId = 1L
      val ingested = scala.collection.mutable.Map.empty[String, Vector[Long]]
        .withDefaultValue(Vector.empty)
      // (isRemoval, id, text, ord)
      val events = (0 until n).map { i =>
        val t = texts(rnd.nextInt(texts.size))
        val remove = rnd.nextDouble() < 0.35 && ingested(t).nonEmpty
        if (remove) {
          // mix of real prior ids (winner or dropped) and absent ids
          val id = if (rnd.nextBoolean()) ingested(t)(rnd.nextInt(ingested(t).size))
                   else 9000L + i
          (true, id, t, ords(i))
        } else {
          val id = nextId; nextId += 1
          ingested(t) = ingested(t) :+ id
          (false, id, t, ords(i))
        }
      }
      // sequential reference: (ord, kind)-sorted fold per content
      val winner = scala.collection.mutable.Map.empty[String, Long]
      val expect = scala.collection.mutable.Set.empty[(Long, Long)]
      events.sortBy(e => (e._4, if (e._1) 1 else 0)).foreach {
        case (false, id, t, ord) =>
          if (!winner.contains(t)) { winner(t) = id; expect += ((id, ord)) }
        case (true, id, t, _) =>
          if (winner.get(t).contains(id)) winner.remove(t)
      }
      val docs = events.filter(!_._1).map(e => (e._2, e._3, e._4))
        .toDF("doc_id", "text", "ord")
      val removals = events.filter(_._1).map(e => (e._2, e._3, e._4))
        .toDF("doc_id", "text", "ord")
      val got = StreamingOps.streamingExactDedupOptOut(
        docs, removals, "text", "doc_id", "ord")
        .as[(Long, Long)].collect().toSet
      assert(got == expect.toSet,
        s"seed $seed: fold mismatch\n got: ${got.toSeq.sorted}\n want: ${expect.toSeq.sorted}")
    }
  }

  test("sizeStatePartitions: ceil(rowsPerTrigger / target), min 1, grows with throughput") {
    import StreamingOps.sizeStatePartitions
    assert(sizeStatePartitions(0L) == 1)
    assert(sizeStatePartitions(1L) == 1)
    assert(sizeStatePartitions(4096L) == 1)
    assert(sizeStatePartitions(4097L) == 2)
    assert(sizeStatePartitions(14000L) == 4) // the r14 probe's fixture scale
    assert(sizeStatePartitions(10000000L) == 2442) // production throughput
    assert(sizeStatePartitions(100L, targetRowsPerPartition = 10L) == 10)
  }

  test("state partitions come from the conf at query start (the sizing lever) " +
      "and do not change emitted values") {
    val streamDir = Files.createTempDirectory("sp-stream").toFile.getAbsolutePath
    val rows = (0 until 200).map(i => (s"k${i % 7}", i.toLong, (i % 13).toDouble))
    rows.toDF("key", "ord", "value").coalesce(1)
      .write.mode("overwrite").parquet(streamDir)
    val schema = spark.read.parquet(streamDir).schema

    def drain(parts: Int, sink: String): (Map[(String, Long), Double], Long) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
      val ema = StreamingOps.streamingEma(stream, "key", "ord", "value", 0.9)
      val q = graft.core.PlanOps.withShufflePartitions(spark, parts) {
        val q0 = ema.writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q0.awaitTermination()
        q0
      }
      val captured = q.recentProgress.iterator
        .flatMap(p => Option(p.stateOperators).iterator.flatten)
        .map(_.numShufflePartitions).foldLeft(0L)(math.max)
      val out = spark.table(sink).as[(String, Long, Double)].collect()
        .map { case (k, o, e) => (k, o) -> e }.toMap
      spark.catalog.dropTempView(sink)
      (out, captured)
    }

    val (atTwo, capTwo) = drain(2, "sp_two")
    val (atDefault, capDefault) = drain(
      spark.sessionState.conf.numShufflePartitions, "sp_def")
    assert(capTwo == 2L,
      s"query must capture the scoped conf as its state layout, got $capTwo")
    assert(capDefault == spark.sessionState.conf.numShufflePartitions.toLong)
    assert(atTwo.size == 200 && atTwo == atDefault,
      "state-partition count must not change emitted values")
  }
}
