package graft.tools

import graft.SparkEntry

/** Bimodality prober (round-11 finding: b_pipeline_etl_full /
  * b_semdedup read ~3 s in one JVM and 16–87 s in another at the 100×
  * fixture under a QUIET canary): runs one query N times in ONE JVM
  * and prints, per attempt, the wall seconds and the POST-EXECUTION
  * adaptive plan's join/exchange/sort skeleton (expression ids
  * normalized). If the skeleton differs across attempts or JVMs, the
  * variance is PLAN selection (an AQE decision flipping on runtime
  * stats); if the skeleton is constant while wall varies, the variance
  * is runtime (GC ramp, spill, page cache) and the plan is innocent.
  *
  * Usage: runMain graft.tools.PlanProbe <queryOrBenchName> [attempts=4]
  * with SPARK_GRAFT_SF_DIR pointing at the fixture to probe.
  */
object PlanProbe {
  /** Per-attempt task-metric totals: where the wall went (CPU vs GC vs
    * spill vs scheduling), accumulated by a listener across the
    * attempt's stages.
    */
  private class MetricSink extends org.apache.spark.scheduler.SparkListener {
    @volatile var runMs = 0L
    @volatile var cpuMs = 0L
    @volatile var gcMs = 0L
    @volatile var spillBytes = 0L
    @volatile var tasks = 0L
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) synchronized {
        runMs += m.executorRunTime
        cpuMs += m.executorCpuTime / 1000000L
        gcMs += m.jvmGCTime
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        tasks += 1
      }
    }
    def reset(): Unit = synchronized {
      runMs = 0; cpuMs = 0; gcMs = 0; spillBytes = 0; tasks = 0
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanProbe <name> [attempts]")
    val name = args(0)
    val attempts = if (args.length > 1) args(1).toInt else 4
    val spark = graft.core.GraftSession.build(appName = "graft-plan-probe")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sink = new MetricSink
    spark.sparkContext.addSparkListener(sink)
    val all = SparkEntry.queries ++ graft.Bench.scaleBenches
    val fn = all.getOrElse(name, sys.error(s"unknown query: $name"))
    for (i <- 1 to attempts) {
      sink.reset()
      // the same evaluation-forcing frame Bench times, so the probe
      // reproduces the bench row
      val probe = graft.Bench.forcing(fn(spark, dir))
      val t0 = System.nanoTime()
      probe.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val skeleton = probe.queryExecution.executedPlan.toString.linesIterator
        .map(_.replaceAll("#\\d+L?", "#").replaceAll("\\[plan_id=\\d+\\]", ""))
        .filter(l => l.contains("Join") || l.contains("Exchange") ||
          l.contains("Sort") || l.contains("Scan parquet") ||
          l.contains("AdaptiveSparkPlan") || l.contains("Aggregate"))
        .map(_.take(110))
        .mkString("\n")
      // listener events drain asynchronously; settle before reading
      // (listenerBus.waitUntilEmpty is private[spark]; a beat suffices
      // for a diagnostic tool)
      Thread.sleep(500)
      // JIT witness (round-12: modes BOUNCE between attempts under the
      // sized code cache, so distinguish "cache full" from
      // "recompilation churn"): per-attempt code-heap occupancy and the
      // JIT's own accumulated compile-time delta. A slow attempt with a
      // big compile delta is re-JITing evicted/fresh classes; a slow
      // attempt with NO compile activity is running interpreted.
      import scala.jdk.CollectionConverters._
      val codeMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(_.getName.startsWith("CodeHeap"))
        .map(p => p.getUsage.getUsed).sum / 1048576
      val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      val compMs = jit.getTotalCompilationTime
      // machine canary: a fixed pure-CPU workload (32 threads x a tight
      // arithmetic loop, compiled once at probe start) — if ITS rate
      // varies with the slow attempts, the variance is the BOX (cpu
      // frequency / hypervisor steal / SMT contention), not the JVM or
      // the engine; if it stays flat while attempts swing, the JVM is
      // the suspect.
      val spinSecs = {
        val t = System.nanoTime()
        val threads = (0 until 32).map { s =>
          new Thread(() => {
            var x = s.toLong; var i = 0L
            while (i < 200000000L) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
            if (x == 42L) println("") // keep the loop alive
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        (System.nanoTime() - t) / 1e9
      }
      println(f"%n== attempt $i%d: $sec%.2f s | tasks ${sink.tasks}%d " +
        f"run ${sink.runMs / 1000.0}%.1f s cpu ${sink.cpuMs / 1000.0}%.1f s " +
        f"gc ${sink.gcMs / 1000.0}%.1f s spill ${sink.spillBytes / 1048576}%d MB " +
        f"| codeheap ${codeMb}%d MB jitTotal ${compMs / 1000.0}%.1f s " +
        f"spin32 ${spinSecs}%.2f s")
      println(skeleton)
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
