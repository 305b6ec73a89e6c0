package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One timed interval recorded at a layer boundary. `trace` groups the
  * spans of one unit of work (a job iteration, a request, a trigger).
  */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    startNs: Long, endNs: Long)

/** Per-job record from the listener, keyed to the span that submitted
  * the job through the `perfbench.span` local property.
  */
final class JobRec(val jobId: Int, val span: Long, val startMs: Long) {
  var endMs: Long = -1L
  var outputBytes = 0L
}

/** Task-level counters summed per span. */
final class Counters {
  var tasks = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  /** stage id → task durations, for the max ÷ median skew. */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

/** Span recorder plus a SparkListener that attributes jobs, stages and
  * task metrics to the span active on the submitting thread. Spans are
  * kept in memory and written out once the run ends. A disabled tracer
  * records nothing and registers no listener; `unit` then only times
  * the body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private var nextId = 1L
  private val stack = mutable.Stack[Long]()
  private var traceId = ""
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.Map[Int, JobRec]()
  val counters = mutable.Map[Long, Counters]()
  private val stageSpan = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  /** Units of work of a traced run alternate between traced and plain,
    * so the run itself yields the tracing overhead.
    */
  @volatile var recording: Boolean = enabled
  private val held = mutable.ArrayBuffer[DataFrame]()
  private val keyed = mutable.Map[String, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // micro-batch jobs run on the query's own thread: key them by
      // (query, batch) instead of by a span the driver thread opened
      val s = prop(Prop).map(_.toLong).orElse(
        if (!recording) None
        else for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
          yield keyedSpanId(s"$q/$b")).getOrElse(0L)
      if (s != 0L) Tracer.this.synchronized {
        jobs(e.jobId) = new JobRec(e.jobId, s, e.time)
        e.stageIds.foreach { st => stageSpan(st) = s; stageJob(st) = e.jobId }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val c = counters.getOrElseUpdate(s, new Counters)
        c.tasks += 1
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
          e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          c.executorCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.outputBytes += m.outputMetrics.bytesWritten
          stageJob.get(e.stageId).flatMap(jobs.get)
            .foreach(_.outputBytes += m.outputMetrics.bytesWritten)
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as the root span of one unit of work named `name`;
    * returns the body's value and the unit's wall time in ns.
    */
  def unit[T](trace: String, name: String)(body: => T): (T, Long) = {
    traceId = trace
    val t0 = System.nanoTime()
    val v =
      try span(name)(body)
      finally { held.foreach(_.unpersist(blocking = true)); held.clear() }
    (v, System.nanoTime() - t0)
  }

  /** Record `body` as a span, child of the innermost open span. Jobs the
    * body submits from this thread are attributed to it.
    */
  def span[T](name: String)(body: => T): T = {
    if (!recording) return body
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.headOption.getOrElse(0L)
    stack.push(id)
    sc.setLocalProperty(Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
      synchronized { spans += Span(id, parent, traceId, name, t0, t1) }
    }
  }

  /** Force `df` at a step boundary when recording, so the step's span
    * holds its own work; a plain unit keeps the lazy pipeline.
    */
  def boundary(df: DataFrame): DataFrame =
    if (!recording) df
    else { val p = df.persist(); p.count(); held += p; p }

  /** Span id for a unit the program opens on its own threads (a
    * micro-batch), allocated when its first job starts.
    */
  def keyedSpanId(key: String): Long = synchronized {
    keyed.getOrElseUpdate(key, { val i = nextId; nextId += 1; i })
  }

  def keyedSpan(key: String): Option[Long] = synchronized(keyed.get(key))

  def addSpan(s: Span): Unit = synchronized { spans += s }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Spans, jobs and counters for the run record. Times are ms
    * since the run's origin: spans on the `System.nanoTime` clock
    * (`originNs`), jobs on the wall clock (`epochAtOriginMs`).
    */
  def toJson(originNs: Long, epochAtOriginMs: Long): Map[String, Any] = synchronized {
    ListMap(
      "spans" -> spans.toSeq.map { s =>
        ListMap("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
          "start_ms" -> (s.startNs - originNs) / 1e6,
          "end_ms" -> (s.endNs - originNs) / 1e6)
      },
      "jobs" -> jobs.values.toSeq.sortBy(_.jobId).map { j =>
        ListMap("span" -> j.span, "output_bytes" -> j.outputBytes,
          "start_ms" -> (j.startMs - epochAtOriginMs).toDouble,
          "end_ms" -> (if (j.endMs < 0) -1.0 else (j.endMs - epochAtOriginMs).toDouble))
      },
      "counters" -> ListMap(counters.toSeq.sortBy(_._1).map { case (s, c) =>
        s.toString -> ListMap(
          "tasks" -> c.tasks, "executor_cpu_s" -> c.executorCpuNs / 1e9,
          "gc_s" -> c.gcMs / 1e3, "fetch_wait_s" -> c.fetchWaitMs / 1e3,
          "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "output_bytes" -> c.outputBytes,
          "stage_task_ms" -> c.stageTaskMs.toSeq.sortBy(_._1).map(_._2.toSeq))
      }: _*))
  }
}
