package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.core.PlanOps
import graft.streaming.StreamingOps

/** Open-loop event ingest: a generator moves pre-written event files
  * into the watched directory on a fixed schedule, below saturation,
  * while `StreamingOps.eventsStream` feeds the watermarked tumbling
  * counts and session counts on a processing-time trigger. Lag is
  * measured from each file's scheduled write time, so a stall also
  * charges the files queued behind it.
  */
final class EventsStream(seconds: Double) extends Workload {
  import EventsStream._

  /** File 0, the ramp, and the files of a `seconds`-long schedule. */
  private val filesGenerated = 1 + RampFiles + measuredFiles(seconds)

  def generate(dir: File, seed: Long): Unit = {
    val rng = new SplittableRandom(seed * 1000003L + 53L)
    var eventId = 0L
    for (f <- 0 until filesGenerated) {
      val fileStart = T0Micros + f * FileSpanMicros
      val rows = Array.fill(EventsPerFile) {
        eventId += 1
        (eventId, fileStart + (rng.nextDouble() * FileSpanMicros).toLong,
          rng.nextInt(Users).toLong, EventTypes(rng.nextInt(EventTypes.size)),
          rng.nextInt(100000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
      }
      Files.writeParquet(new File(dir, fileName(f)), EventSchema, rows.iterator) {
        case (g, (id, ts, user, tpe, value, props)) =>
          g.append("event_id", id).append("ts", ts).append("user_id", user)
            .append("event_type", tpe).append("value", value).append("props", props)
      }
    }
  }

  /** The live stream: started by `warmup`, measured by `measure`. */
  private var live: Live = _

  private final class Live(ctx: Ctx, dir: File) {
    val base = new File(ctx.runDir, "stream")
    val in = new File(base, "in")
    in.mkdirs()
    val progress = mutable.ArrayBuffer[Progress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def dur(k: String): Double = if (d.containsKey(k)) d.get(k).doubleValue else 0.0
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        progress.synchronized {
          progress += Progress(p.name, p.batchId, startMs, startMs + dur("triggerExecution"),
            p.numInputRows, dur("triggerExecution"), dur("addBatch"),
            dur("commitOffsets") + dur("walCommit"), dur("queryPlanning"),
            d.asScala.collect { case (k, v) if k != "triggerExecution" => v.doubleValue }.sum,
            p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum,
            ctx.tracer.keyedSpan(s"${p.id}/${p.batchId}"))
        }
      }
    }
    ctx.spark.streams.addListener(listener)

    /** Scheduled write time of each file moved so far (file 0: start). */
    val scheduled = mutable.ArrayBuffer[Long]()

    def move(f: Int, scheduledMs: Long): Unit = {
      val staged = new File(base, fileName(f))
      java.nio.file.Files.copy(new File(dir, fileName(f)).toPath, staged.toPath)
      // mtime = scheduled time: the file source orders new files by it
      staged.setLastModified(scheduledMs)
      require(staged.renameTo(new File(in, fileName(f))), s"move ${staged.getName}")
      scheduled += scheduledMs
    }

    // file 0 is in place before the queries start: the source reads its
    // schema from the directory
    move(0, System.currentTimeMillis())
    private val events = StreamingOps.eventsStream(ctx.spark, in.getPath)
    private def start(df: DataFrame, name: String): StreamingQuery =
      df.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", new File(base, s"ckpt-$name").getPath)
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .start()
    // state partitions sized to the per-trigger rows, as the engine
    // recommends; the count is fixed at first start
    val queries = PlanOps.withShufflePartitions(ctx.spark,
        StreamingOps.sizeStatePartitions(EventsPerFile)) {
      Seq(start(StreamingOps.tumblingCountsAppend(events, Watermark), "tumbling"),
        start(StreamingOps.sessionCounts(events, SessionGap, Watermark), "sessions"))
    }
    awaitBatches(progress, 1)

    /** Move the next files, up to `until` (exclusive), each once both
      * queries have committed the one before it.
      */
    def ramp(until: Int): Unit =
      for (f <- scheduled.size until until) {
        move(f, System.currentTimeMillis())
        awaitBatches(progress, f + 1)
      }

    /** Move the next files, up to `until` (exclusive), on a fixed
      * schedule that starts one file interval from now, once the no-data
      * batch that follows the last data batch has run; `before(f)` runs
      * as file f falls due, `after(f, due)` once it is in.
      */
    def feed(until: Int)(before: Int => Unit)(after: (Int, Long) => Unit): Unit = {
      val first = scheduled.size
      // due times sit halfway between trigger ticks (the trigger fires on
      // multiples of its interval since the epoch), so the wait for the
      // next tick is the same in every run
      val t0 = ((System.currentTimeMillis() + FileIntervalMs) / TriggerMs) * TriggerMs + TriggerMs / 2
      for (f <- first until until) {
        val due = t0 + (f - first) * FileIntervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        before(f)
        move(f, due)
        after(f, due)
      }
    }
  }

  /** Starts both queries and feeds them the first `RampFiles` files back
    * to back: the timed phase then meets warm, steady queries.
    */
  def warmup(ctx: Ctx, dir: File): Unit = {
    live = new Live(ctx, dir)
    live.ramp(1 + RampFiles)
  }

  def measure(ctx: Ctx, dir: File): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    val tr = ctx.tracer
    val s = live
    import s.{base, in, progress, queries, scheduled}
    val first = scheduled.size
    s.feed(first + measuredFiles(ctx.seconds)) { f =>
      tr.recording = tr.enabled && f % 2 == 1
    } { (_, due) =>
      o.add("gen_late_ms", (System.currentTimeMillis() - due).toDouble)
    }
    val lastReal = scheduled.size - 1
    awaitBatches(progress, lastReal + 1)
    // a far-future event moves the watermark past every real window
    writeFlush(new File(base, "flush.parquet"), lastReal)
    new File(base, "flush.parquet").renameTo(new File(in, "z-flush.parquet"))
    awaitBatches(progress, lastReal + 2)
    Thread.sleep(4 * TriggerMs) // the no-data batch that emits the closed windows
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
    spark.streams.removeListener(s.listener)
    tr.recording = tr.enabled

    // the source takes one file per trigger, oldest mtime first, so a
    // query's n-th data batch holds file n
    val data = progress.filter(_.rows > 0).sortBy(p => (p.query, p.batchId))
    for ((_, batches) <- data.groupBy(_.query); (p, n) <- batches.zipWithIndex
         if n >= first && n <= lastReal) {
      o.latencyMs += p.endMs - scheduled(n)
      o.traced += (tr.enabled && n % 2 == 1)
      o.check("one_file_per_batch", p.rows == EventsPerFile, s"batch ${p.batchId}: ${p.rows} rows")
      o.add("trigger_ms", p.triggerMs); o.add("add_batch_ms", p.addBatchMs)
      o.add("commit_ms", p.commitMs); o.add("planning_ms", p.planningMs)
      o.add("trigger_coverage", if (p.triggerMs > 0) p.partsMs / p.triggerMs else 0.0)
      o.add("state_rows", p.stateRows.toDouble); o.add("state_bytes", p.stateBytes.toDouble)
      o.add("rows_per_trigger", p.rows.toDouble)
      // files written but not yet committed when this trigger began, the
      // one it reads included: 1 while the stream keeps up
      o.add("backlog_files", (scheduled.count(_ <= p.startMs) -
        batches.count(_.endMs <= p.startMs)).toDouble)
      p.span.foreach(id => tr.addSpan(Span(id, 0L, s"trig-${p.query}-${p.batchId}",
        "streaming.trigger", ctx.nanoAt(p.startMs.toDouble), ctx.nanoAt(p.endMs))))
    }
    o.attempted = 2L * (lastReal - first + 1)
    o.failed = math.max(0L, o.attempted - o.latencyMs.size)
    o.check("every_file_committed", o.failed == 0L,
      s"${o.latencyMs.size} of ${o.attempted} file commits seen")

    // the streamed results against a batch recomputation over the same files
    val batch = spark.read.parquet((0 to lastReal).map(n => new File(in, fileName(n)).getPath): _*)
    val batchEvents = graft.core.Tables.normalizeTs(batch)
    def same(streamed: DataFrame, expected: DataFrame): Boolean =
      streamed.exceptAll(expected).isEmpty && expected.exceptAll(streamed).isEmpty
    o.check("tumbling_counts_match_batch", same(spark.table("tumbling"),
      StreamingOps.tumblingCounts(batchEvents)))
    o.check("session_counts_match_batch", same(spark.table("sessions"),
      StreamingOps.sessionCounts(batchEvents, SessionGap, Watermark)))
    o
  }

  /** Wait until each query committed `n` data batches, or time out. */
  private def awaitBatches(progress: mutable.ArrayBuffer[Progress], n: Int): Unit = {
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    def done = progress.synchronized {
      Seq("tumbling", "sessions").forall(q => progress.count(p => p.query == q && p.rows > 0) >= n)
    }
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  private def writeFlush(f: File, lastReal: Int): Unit =
    Files.writeParquet(f, EventSchema, Iterator.single(0)) { (g, _) =>
      g.append("event_id", 0L).append("ts", T0Micros + (lastReal + 100L) * FileSpanMicros * 20)
        .append("user_id", -1L).append("event_type", "flush").append("value", 0.0).append("props", "{}")
    }
}

object EventsStream {
  val RampFiles = 5
  val EventsPerFile = 5000
  val Users = 2000
  val FileIntervalMs = 2000L
  val TriggerMs = 100L
  val DrainTimeoutMs = 30000L
  val Watermark = "10 minutes"
  val SessionGap = "2 minutes"
  /** 2024-01-01T00:00:00Z; each file holds five minutes of event time. */
  val T0Micros = 1704067200000000L
  val FileSpanMicros = 5L * 60 * 1000000
  val EventTypes = IndexedSeq("view", "click", "purchase", "signup", "error", "share")

  def measuredFiles(seconds: Double): Int = math.max(1, (seconds * 1e3 / FileIntervalMs).toInt)

  def fileName(f: Int): String = f"events-$f%05d.parquet"

  final case class Progress(query: String, batchId: Long, startMs: Long, endMs: Double,
      rows: Long, triggerMs: Double, addBatchMs: Double, commitMs: Double,
      planningMs: Double, partsMs: Double, stateRows: Long, stateBytes: Long, span: Option[Long])

  val EventSchema: String =
    """message events {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |}""".stripMargin
}
