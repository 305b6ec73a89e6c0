package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload needs from the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, runDir: File,
    seconds: Double, originNs: Long, epochAtOriginMs: Long) {
  /** An epoch-ms instant on the `System.nanoTime` scale spans use. */
  def nanoAt(epochMs: Double): Long = originNs + ((epochMs - epochAtOriginMs) * 1e6).toLong
}

/** What a workload's timed phase produced. `latencyMs` holds the
  * primary operation's samples (a job iteration, or an event file's
  * commit lag per query); `traced` marks which units recorded spans.
  */
final class Outcome {
  val latencyMs = mutable.ArrayBuffer[Double]()
  val traced = mutable.ArrayBuffer[Boolean]()
  val series = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val checks = mutable.LinkedHashMap[String, Boolean]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def add(series: String, v: Double): Unit =
    this.series.getOrElseUpdate(series, mutable.ArrayBuffer[Double]()) += v

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) errors += s"check $name failed${if (detail.isEmpty) "" else ": " + detail}"
  }

  /** Run one operation; a throw counts as a failed op and is recorded. */
  def attempt[T](what: String)(op: => T): Option[T] = {
    attempted += 1
    try Some(op)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }
}

trait Workload {
  /** Write this workload's inputs under `dir`; the same seed writes the
    * same bytes. Keeps what the checks need to know about them.
    */
  def generate(dir: File, seed: Long): Unit

  /** Warm-up operations on the inputs the timed phase will use. */
  def warmup(ctx: Ctx, dir: File): Unit

  /** The timed phase: run for `ctx.seconds`, then check the outputs. */
  def measure(ctx: Ctx, dir: File): Outcome
}

object Workload {
  /** Run `iter` back to back for about `seconds`: the next iteration
    * starts only if the last one's duration still fits, and at least
    * `minIters` run.
    */
  def loop(seconds: Double, minIters: Int)(iter: Int => Double): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    while (i < minIters || (System.nanoTime() - t0) / 1e6 + last <= seconds * 1e3) {
      last = iter(i)
      i += 1
    }
  }

  def byName(name: String, seconds: Double): Workload = name match {
    case "ref_etl" => new RefEtl
    case "events_stream" => new EventsStream(seconds)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
