package graft.core

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The session's Tungsten page: sized so one task can still address the
  * whole unified region through the 8,192-entry page table, and no
  * larger, on local masters only.
  */
class GraftSessionSpec extends AnyFunSuite {
  private val MB = 1L << 20
  private val GB = 1L << 30

  /** Spark's unified region (execution + storage) for a heap. */
  private def unified(maxHeap: Long): Long = ((maxHeap - 300 * MB) * 0.6).toLong

  test("page rule: 1 MB at 2 g and 8 g, 8 MB at 100 g, capped at 64 MB") {
    val page = (heap: Long) => GraftSession.localPageSize("local[4]", heap)
    assert(page(2 * GB).contains(MB))
    assert(page(1979 * MB).contains(MB), "-Xmx2g under the serial collector")
    assert(page(8 * GB).contains(MB))
    assert(page(100 * GB).contains(8 * MB))
    assert(page(2048 * GB).contains(64 * MB))
    assert(page(512 * MB).contains(MB), "floor of Spark's own range")
  }

  test("page rule: 8,192 pages reach the whole unified region below the cap") {
    for (heap <- Iterator.iterate(512 * MB)(h => h + h / 3).takeWhile(_ < 800 * GB)) {
      val page = GraftSession.localPageSize("local[*]", heap).get
      assert(8192L * page >= unified(heap), s"heap $heap: page $page")
      assert(page == MB || 8192L * (page / 2) < unified(heap), s"heap $heap: page $page not minimal")
      assert(java.lang.Long.bitCount(page) == 1)
    }
  }

  test("page rule applies to local masters only; cluster masters leave the conf unset") {
    for (m <- Seq("local", "local[1]", "local[*]", "local[4,2]"))
      assert(GraftSession.localPageSize(m, 8 * GB).contains(MB), m)
    for (m <- Seq("yarn", "spark://host:7077", "k8s://https://host:443", "local-cluster[2,1,1024]"))
      assert(GraftSession.localPageSize(m, 8 * GB).isEmpty, m)
  }

  test("a 10-row sort on the shared session peaks at one 1 MB page plus its pointer array") {
    val spark = SharedSpark.spark
    val df = spark.range(0, 10, 1, 1).select((col("id") * 7 % 10).as("k")).sortWithinPartitions("k")
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 10L))
    val sorts = df.queryExecution.executedPlan.collect { case s: SortExec => s }
    assert(sorts.size == 1)
    // UnsafeInMemorySorter holds 2 longs per initial-buffer slot
    val initialBuffer = spark.conf.get("spark.shuffle.sort.initialBufferSize", "4096").toLong
    val pointerArray = 2 * initialBuffer * 8
    val peak = sorts.head.metrics("peakMemory").value
    assert(peak > 0 && peak <= MB + pointerArray, s"peak execution memory $peak bytes")
  }

  test("managed tables land in the JVM's own warehouse, none under <cwd>/spark-warehouse") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val table = s"graft_warehouse_probe_${System.nanoTime}"
    val cwdWarehouse = new java.io.File(System.getProperty("user.dir"), "spark-warehouse")
    val warehouse = new java.io.File(
      new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    try {
      graft.io.Sources.writeBucketed(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table, 2, Seq("k"))
      assert(new java.io.File(warehouse, table).isDirectory, s"no $table under $warehouse")
      assert(!new java.io.File(cwdWarehouse, table).exists, s"$table written under $cwdWarehouse")
      assert(warehouse.getCanonicalPath != cwdWarehouse.getCanonicalPath)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
