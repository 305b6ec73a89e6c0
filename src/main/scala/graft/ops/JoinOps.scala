package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Join helpers beyond plain equi-joins.
  *
  * The reference attaches features to annotations BY ARRAY POSITION
  * (OP-22, `src/data_helper.py:29-30`) — a single-node artifact. The
  * engine rule is to join on id (OP-23); `positionalJoin` exists for
  * ingest-time compatibility with index-aligned inputs and is
  * implemented with `RDD.zipWithIndex` (one pass to count partition
  * sizes, no shuffle beyond the final equi-join).
  */
object JoinOps {

  /** Stable 0-based row index in the DataFrame's current order.
    * Unlike `monotonically_increasing_id`, indices are dense and
    * positional. Triggers one extra job (partition-size count).
    *
    * Runs on INTERNAL rows (r15): the former `df.rdd` path
    * deserialized every row to an external `Row`, appended the index
    * by boxing the whole row into a `Seq`, and re-encoded it through
    * `createDataFrame` — three per-row conversions that dominated the
    * rank machinery's cost at high core counts. `zipWithIndex` over
    * `queryExecution.toRdd` keeps rows in Tungsten format end to end
    * (one `UnsafeProjection` appends the index column); indices,
    * order, and values are identical — same RDD, same partition walk.
    */
  def withRowIndex(df: DataFrame, indexCol: String = "row_index"): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(indexCol, LongType, nullable = false))
    val rdd = df.queryExecution.toRdd.zipWithIndex().mapPartitions { it =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(schema)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val idxRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      it.map { case (row, i) =>
        idxRow.update(0, i)
        // the projection's output buffer is reused per partition — the
        // standard operator contract (buffering consumers copy)
        proj(joined(row, idxRow))
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.graftbridge.DatasetBridge
      .internalCreateDataFrame(df.sparkSession, rdd, schema)
  }

  /** OP-22 positional zip join: pair the i-th row of `left` with the
    * i-th row of `right` (current orders). Prefer key joins; this is
    * for index-aligned ingest only.
    */
  def positionalJoin(left: DataFrame, right: DataFrame): DataFrame =
    withRowIndex(left, "__zip_idx").join(
      withRowIndex(right, "__zip_idx"), "__zip_idx").drop("__zip_idx")

  /** Range (interval) join — the second operator Spark lacks natively
    * (SURVEY §2.3 tier (a) composition): pair every `points` row with
    * every `intervals` row of the same `key` whose HALF-OPEN interval
    * `[startCol, endCol)` contains the point. Spark plans the naive
    * `p.pt >= i.start AND p.pt < i.end` formulation as a per-key
    * cross product (BroadcastNestedLoop / sort-merge with a residual
    * range filter over all per-key pairs) — quadratic in the key's row
    * count, a scale killer when one user has millions of events.
    *
    * Scale path (grid bucketing, the Flink/interval-join shape): carve
    * the number line into `cellWidth`-sized cells; a point lands in
    * exactly ONE cell, an interval is exploded to the ~len/cellWidth
    * cells it overlaps, and the range predicate is evaluated only
    * inside the (key, cell) equi-join. Each qualifying pair is emitted
    * exactly once (the point's single cell), so no post-dedup shuffle.
    * Work is O(points + intervals × cellsPerInterval + matches); pick
    * `cellWidth` on the order of the typical interval length to keep
    * the explode factor ~2.
    *
    * `ptCol`/`startCol`/`endCol` are LongType (e.g. `unix_micros`);
    * empty/inverted intervals (end <= start) match nothing and are
    * dropped before the explode. Column names of the two sides must be
    * disjoint apart from `key`.
    */
  def rangeJoinBucketed(
      points: DataFrame, intervals: DataFrame, key: String,
      ptCol: String, startCol: String, endCol: String,
      cellWidth: Long): DataFrame = {
    require(cellWidth > 0, s"cellWidth must be positive, got $cellWidth")
    // Floor-division that is correct for negative values too: pmod
    // yields the non-negative remainder, so the numerator is an exact
    // multiple of cellWidth and the double division is exact whenever
    // |value| < 2^53 (any epoch-micros timestamp qualifies).
    def cellOf(c: Column): Column =
      ((c - pmod(c, lit(cellWidth))) / cellWidth).cast("long")
    val pts = points.withColumn("__cell", cellOf(col(ptCol)))
    val ivs = intervals
      .filter(col(endCol) > col(startCol))
      .withColumn("__cell",
        explode(sequence(cellOf(col(startCol)), cellOf(col(endCol) - 1))))
    pts.join(ivs, Seq(key, "__cell"))
      .filter(col(ptCol) >= col(startCol) && col(ptCol) < col(endCol))
      .drop("__cell")
  }

  /** As-of join — an operator Spark lacks natively, composed from
    * built-ins (preference tier (a), SURVEY §2.3): for every `left` row,
    * attach the most recent `right` row with the same `key` and
    * `right.ts <= left.ts` (DuckDB/kdb ASOF semantics; right rows at the
    * exact same timestamp DO match).
    *
    * Plan shape: union the two sides tagged, ONE window over
    * (key, ts-order) carrying the last-seen right payload forward, then
    * keep the left rows — a single shuffle on `key` regardless of side
    * sizes, no range cross-product. At 100 TB this beats the
    * non-equi-join formulation (which degenerates to a per-key
    * cross product) by construction.
    *
    * @param valueCols right-side columns to attach (prefixed `asof_`).
    *        Must all be of ORDERABLE types (atomics, arrays, structs —
    *        not maps): the payload struct participates in the window
    *        sort to break ties among equal-timestamp right rows
    *        deterministically. To attach an unorderable column, carry an
    *        orderable right-side surrogate (e.g. a row id) through the
    *        as-of and join the unorderable column back on it.
    */
  def asOfJoin(
      left: DataFrame, right: DataFrame,
      key: String, ts: String, valueCols: Seq[String]): DataFrame = {
    // ONE struct payload carried by a single last(ignoreNulls): all
    // attached columns come from the SAME right row (whole-row ASOF
    // semantics — per-column carries could mix fields across right rows
    // when a value column is null on the most recent row).
    val rTagged = right.select(col(key), col(ts), lit(0).as("__side"),
      struct(valueCols.map(col): _*).as("__payload"))
    val lTagged = left.withColumn("__side", lit(1))
    // right rows sort BEFORE left rows at equal ts (side 0 < 1) so
    // same-timestamp right rows are visible to the left row (<= rule);
    // ties among equal-ts right rows break deterministically on the
    // payload struct (ascending ⇒ the max payload wins via last()).
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col(ts), col("__side"), col("__payload"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attached = unioned
      .withColumn("__asof", last(col("__payload"), ignoreNulls = true).over(w))
    valueCols.foldLeft(attached) { (df, c) =>
      df.withColumn(s"asof_$c", col("__asof").getField(c))
    }.filter(col("__side") === 1)
      .drop("__side", "__payload", "__asof")
  }

  /** Forward as-of join: for every `left` row, attach the EARLIEST
    * `right` row with the same `key` and `right.ts >= left.ts` — the
    * time-to-next-event attribution twin of [[asOfJoin]] (e.g.
    * purchase → next error, signup → first activity). Identical plan
    * shape: one union, one key-partitioned window (here scanning
    * FORWARD via `first(ignoreNulls)` over [current, unbounded
    * following]), one shuffle, no range cross-product. Same orderable
    * `valueCols` contract; attached columns are prefixed `next_`.
    */
  def asOfJoinForward(
      left: DataFrame, right: DataFrame,
      key: String, ts: String, valueCols: Seq[String]): DataFrame = {
    val rTagged = right.select(col(key), col(ts), lit(1).as("__side"),
      struct(valueCols.map(col): _*).as("__payload"))
    val lTagged = left.withColumn("__side", lit(0))
    // left rows sort BEFORE right rows at equal ts (side 0 < 1) so a
    // same-timestamp right row is inside the left row's forward frame
    // (>= rule); ties among equal-ts right rows break deterministically
    // on the payload struct (ascending ⇒ first() takes the min payload).
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col(ts), col("__side"), col("__payload"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val attached = unioned
      .withColumn("__asof", first(col("__payload"), ignoreNulls = true).over(w))
    valueCols.foldLeft(attached) { (df, c) =>
      df.withColumn(s"next_$c", col("__asof").getField(c))
    }.filter(col("__side") === 0)
      .drop("__side", "__payload", "__asof")
  }
}
