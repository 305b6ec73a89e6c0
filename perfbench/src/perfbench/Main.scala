package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import graft.core.GraftSession

/** One workload run in its own JVM:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  * perfbench.Main --workload W --seed N --seconds S --generate DIR
  * }}}
  *
  * The first form builds the session, generates the inputs `Reps` times
  * (set-up time takes the median), warms the workload up once, runs the
  * timed phase and writes the raw record (samples, checks, spans, task
  * counters, stamps) to `DIR/record.json`; `run.py` turns it into
  * metrics. The second form only writes the workload's inputs.
  */
object Main {
  val Reps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = args("seconds").toDouble
    val workload = Workload.byName(args("workload"), seconds)
    val seed = args("seed").toLong
    args.get("generate") match {
      case Some(dir) => workload.generate(new File(dir), seed)
      case None => run(args("workload"), workload, seed, seconds,
        args("trace") == "1", new File(args("out")))
    }
  }

  private def run(name: String, workload: Workload, seed: Long, seconds: Double,
      trace: Boolean, runDir: File): Unit = {
    val originNs = System.nanoTime()
    val epochAtOriginMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val heap = new HeapAfterGc
    val t0 = System.nanoTime()
    val spark = GraftSession.build(master = s"local[$cpus]", appName = s"perfbench-$name",
      shufflePartitions = cpus)
    val sessionBuildS = (System.nanoTime() - t0) / 1e9
    val jvmToSessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = Ctx(spark, tracer, runDir, seconds, originNs, epochAtOriginMs)

    val repsS = (0 until Reps).map { r =>
      val dir = new File(runDir, s"inputs/rep$r")
      if (r > 0) Files.deleteTree(new File(runDir, s"inputs/rep${r - 1}"))
      tracer.unit(s"setup-$r", "bench.setup") {
        tracer.span("bench.generate")(workload.generate(dir, seed))
      }._2 / 1e9
    }
    val inputs = new File(runDir, s"inputs/rep${Reps - 1}")
    val tw = System.nanoTime()
    tracer.recording = false
    workload.warmup(ctx, inputs)
    val warmupS = (System.nanoTime() - tw) / 1e9

    val o = workload.measure(ctx, inputs)
    tracer.close()

    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
    val record = ListMap(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "stamps" -> ListMap(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_graft_cpus" -> sys.env.get("SPARK_GRAFT_CPUS"),
        "local_threads" -> cpus,
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024.0 * 1024),
        "jdk" -> System.getProperty("java.runtime.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString),
      "setup" -> ListMap(
        "jvm_to_session_s" -> jvmToSessionS, "session_build_s" -> sessionBuildS,
        "reps_s" -> repsS, "warmup_s" -> warmupS),
      "latency_ms" -> o.latencyMs.toSeq,
      "traced" -> o.traced.toSeq,
      "series" -> ListMap(o.series.toSeq.map { case (k, v) => k -> v.toSeq }: _*),
      "checks" -> ListMap(o.checks.toSeq: _*),
      "errors" -> o.errors.toSeq,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "peak_rss_mb" -> peakRssMb,
      "peak_heap_after_gc_mb" -> heap.peakMb,
      "trace_data" -> (if (trace) Some(tracer.toJson(originNs, epochAtOriginMs)) else None))
    Files.writeText(new File(runDir, "record.json"), Files.json(record))
    spark.stop()
  }
}

/** The largest heap still in use right after a garbage collection, over
  * the JVM's life: the live data, where resident memory also counts the
  * garbage the collector has not yet reclaimed.
  */
final class HeapAfterGc extends NotificationListener {
  private val peak = new java.util.concurrent.atomic.AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max(_, _))
    }

  def peakMb: Double = peak.get / (1024.0 * 1024)
}
