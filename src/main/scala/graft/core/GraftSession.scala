package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.TempDirBridge
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Session factory for the graft engine.
  *
  * Defaults are chosen for oracle-parity and local-mode determinism
  * (UTC, AQE on, shuffle partitions sized to cores, not 200) while the
  * same settings scale to a real cluster: AQE re-plans skew/coalesce at
  * runtime, and `shufflePartitions` is the only local-mode override.
  *
  * `file:` paths go through [[graft.io.NoForkLocalFileSystem]]
  * (FileSystem API) and [[graft.io.NoForkLocalFs]] (FileContext API).
  * Without libhadoop, stock Hadoop starts a `chmod` process for every
  * local file create and mkdir and a `readlink` process for every
  * FileContext rename, about 5 ms each. A 16 s `events_stream` run (the
  * checkpoint offset/commit logs and the state-store deltas) started
  * about 3,900 of them, 33 per micro-batch; a `ref_etl` iteration's
  * shard and CSV sinks started 34 (4-vCPU VM, JFR `jdk.ProcessStart`).
  * The bindings make the same changes through `java.nio`, and keep the
  * rename rule of Hive's `ProxyLocalFileSystem`, which `file:` resolved
  * to before. Hadoop caches a `FileSystem` per scheme and user, not per
  * conf, so a `file:` FileSystem created before the first session in a
  * JVM stays stock.
  *
  * Local masters get a Tungsten page sized to the task, not to the
  * core count ([[localPageSize]]). Every sort, window buffer, shuffle
  * sorter and hash-aggregate map takes one whole page on its first
  * insert, even for a few KB of rows, and Spark's default page is
  * `nextPow2(execution pool / cores / 16)`: 8 MB at `-Xmx2g` with
  * `local[4]`, 64 MB at 8 g. The serial collector sizes the heap from
  * live data, so those mostly empty pages set the peak heap and the
  * RSS. With 1 MB pages instead of 8 MB, the 16 s `ref_etl` benchmark
  * (`local[4]`, `-Xmx2g`, serial GC, 10 alternating pairs, 4-vCPU VM)
  * went from a median `peak_rss_mb` of 967 to 757 MB and a peak heap
  * after GC of 311 to 179 MB; NMT at exit showed the committed Java heap
  * 503 → 353 MB, the other categories within timing noise.
  * `events_stream` went 750 → 715 MB (6 pairs). Cluster masters keep
  * Spark's formula: their executors are other JVMs and size their own
  * pages.
  *
  * Managed tables (`saveAsTable`) live in a warehouse directory of the
  * JVM's own, deleted at exit like every [[Scratch]] artifact: the
  * catalog is in-memory, so a table under the default
  * `<cwd>/spark-warehouse` outlived its catalog entry.
  */
object GraftSession {

  /** Local core count for every entry point: `SPARK_GRAFT_CPUS`, or
    * the machine's processor count when unset.
    */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Entries in `TaskMemoryManager`'s page table: one task holds at
    * most this many pages at once.
    */
  private val PageTableSize = 8192L
  /** Spark's default `spark.memory.fraction` and the heap it reserves
    * outside the unified region.
    */
  private val MemoryFraction = 0.6
  private val ReservedBytes = 300L << 20
  private val MinPage = 1L << 20
  private val MaxPage = 64L << 20

  private lazy val warehouseDir: String =
    new java.io.File(TempDirBridge.createTempDir(), "spark-warehouse").getAbsolutePath

  /** `spark.buffer.pageSize` for a master whose driver JVM is also the
    * executor (`local`, `local[N]`, `local[*]`, `local[N,F]`), else
    * None. The page is the smallest power of two with which one task
    * can still reach the whole unified memory region through the page
    * table, clamped to Spark's own 1 MB–64 MB range: 1 MB at 2 g and
    * 8 g heaps, 8 MB at 100 g.
    */
  def localPageSize(master: String, maxHeap: Long): Option[Long] =
    if (!master.matches("""local(\[.*\])?""")) None
    else {
      val unified = ((maxHeap - ReservedBytes) * MemoryFraction).toLong
      val perEntry = (unified + PageTableSize - 1) / PageTableSize
      Some(math.min(MaxPage, math.max(MinPage, ByteArrayMethods.nextPowerOf2(perEntry))))
    }

  /** Build (or fetch) the engine session.
    *
    * @param master            Spark master; `local[cpus]` by default.
    * @param shufflePartitions number of shuffle partitions. On a real
    *                          cluster leave larger (AQE coalesces); in
    *                          local[N] match N so a 60k-row test run
    *                          doesn't schedule 200 empty tasks. The
    *                          default matches the default master.
    */
  def build(
      master: String = s"local[$cpus]",
      appName: String = "graft",
      shufflePartitions: Int = cpus
  ): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NoForkLocalFs].getName)
      // events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
      // nanosecond timestamp type — see Tables.events for the decode.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // generated-class cache sized to the engine's plan count (default
      // 100 entries): a many-plan single JVM (bench sweep, long verify
      // run) otherwise evicts and re-Janinos whole plan families, and
      // every re-load restarts JIT tiering from zero — measured at the
      // 100x fixture (round 12, BASELINE.md): with the default cache 4 of
      // 8 identical-plan attempts ran 3-20x task-CPU in tier-down
      // windows; at 2000 entries 1 of 8. Classes are small; the cache
      // is bounded by plan count, not data. 2000 → 4000 (r14): the
      // 362-row r13 sweep crossed the 2000-entry line and evictions
      // landed on the last-run phase (2-9x streaming inflation, see
      // Bench/BASELINE).
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.warehouse.dir", warehouseDir)
    localPageSize(master, Runtime.getRuntime.maxMemory)
      .foreach(bytes => builder.config("spark.buffer.pageSize", s"${bytes}b"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
