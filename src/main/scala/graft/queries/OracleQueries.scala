package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}

import graft.core.Tables
import graft.ops._

/** The declared oracle query surface (SURVEY §2.10, Q1–Q20).
  *
  * Every query has (a) a Spark implementation built from the engine's
  * operator library and (b) equivalent ANSI SQL run by the DuckDB oracle
  * on the same parquet tables. Cross-engine float parity strategy:
  *
  *  - Money/quantity SUMs accumulate in DECIMAL(38,6) (exact, order-
  *    independent) and cast to double at the end; both engines do the
  *    same cast of the same per-row doubles, so results are bit-equal
  *    regardless of aggregation order (SURVEY §7.4.4).
  *  - AVGs are computed as decimal-sum / count, never native avg().
  *  - Array folds accumulate left-to-right in double on both sides.
  *  - Timestamps are emitted as formatted strings; grouping nulls
  *    (rollup) are coalesced to a sentinel — so no engine-specific
  *    null/tz ordering can affect the driver's canonical hash.
  */
object OracleQueries {

  private val Dec = DecimalType(38, 6)

  /** Exact decimal accumulation, surfaced as double. */
  private def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  // ---------------------------------------------------------------- Q1
  /** Pricing summary: filter + hash aggregate on lineitem. */
  def q01(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
      | CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- Q2
  /** Orders ⋈ customer equi-join + aggregate per market segment. */
  def q02(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        dsum(col("o_totalprice")).as("sum_total"),
        count(lit(1)).as("n_orders"))
  }

  val q02Sql: String =
    """SELECT c_mktsegment,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total,
      | COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- Q3
  /** Five-way join with broadcast dims; revenue per nation in EUROPE. */
  def q03(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .groupBy("n_name")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q03Sql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      | JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |GROUP BY n_name""".stripMargin

  // ---------------------------------------------------------------- Q4
  /** Semi/anti join: per nation, customers with and without orders. */
  def q04(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("with_orders"))
    val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("without_orders"))
    withO.join(withoutO, Seq("c_nationkey"), "full_outer")
      .select(
        col("c_nationkey"),
        coalesce(col("with_orders"), lit(0L)).as("with_orders"),
        coalesce(col("without_orders"), lit(0L)).as("without_orders"))
  }

  val q04Sql: String =
    """WITH w AS (
      |  SELECT c_nationkey, COUNT(*) AS with_orders FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY c_nationkey),
      |wo AS (
      |  SELECT c_nationkey, COUNT(*) AS without_orders FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY c_nationkey)
      |SELECT COALESCE(w.c_nationkey, wo.c_nationkey) AS c_nationkey,
      |  COALESCE(with_orders, 0) AS with_orders,
      |  COALESCE(without_orders, 0) AS without_orders
      |FROM w FULL OUTER JOIN wo ON w.c_nationkey = wo.c_nationkey""".stripMargin

  // ---------------------------------------------------------------- Q5
  /** Theta join: equi on partkey plus non-equi l_quantity < p_size. */
  def q05(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val li = Tables.lineitem(spark, dir)
    p.join(li, col("p_partkey") === col("l_partkey") && col("l_quantity") < col("p_size"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
  }

  val q05Sql: String =
    """SELECT p_brand, COUNT(*) AS n,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      |FROM part JOIN lineitem
      | ON p_partkey = l_partkey AND l_quantity < p_size
      |GROUP BY p_brand""".stripMargin

  // ---------------------------------------------------------------- Q6
  /** Window ranking + running sum; top-3 orders per customer. */
  def q06(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        sum(col("o_totalprice").cast(Dec))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running"))
      .filter(col("rn") <= 3)
  }

  val q06Sql: String =
    """SELECT * FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn,
      |  CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running
      | FROM orders)
      |WHERE rn <= 3""".stripMargin

  // ---------------------------------------------------------------- Q7
  /** Global top-k: total order with deterministic tie-break. */
  def q07(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val q07Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- Q8
  /** Set ops: BUILDING-segment custkeys vs custkeys with orders > p75. */
  def q08(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val building = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey")).distinct()
    val thr = o.agg(expr("percentile(o_totalprice, 0.75)").as("q"))
    val big = o.join(broadcast(thr)).filter(col("o_totalprice") > col("q"))
      .select(col("o_custkey").as("c_custkey")).distinct()
    building.union(big).distinct().select(lit("union").as("op"), col("c_custkey"))
      .unionByName(building.intersect(big).select(lit("intersect").as("op"), col("c_custkey")))
      .unionByName(building.except(big).select(lit("except").as("op"), col("c_custkey")))
  }

  val q08Sql: String =
    """WITH building AS (
      |  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |thr AS (SELECT quantile_cont(o_totalprice, 0.75) AS q FROM orders),
      |big AS (
      |  SELECT DISTINCT o_custkey AS c_custkey FROM orders, thr WHERE o_totalprice > q)
      |SELECT 'union' AS op, c_custkey FROM (SELECT c_custkey FROM building UNION SELECT c_custkey FROM big)
      |UNION ALL
      |SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM big)
      |UNION ALL
      |SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM big)""".stripMargin

  // ---------------------------------------------------------------- Q9
  /** Rollup over returnflag × linestatus; grouping nulls coalesced. */
  def q09(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("n"))

  val q09Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      | COALESCE(l_linestatus, 'ALL') AS l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      | COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  // --------------------------------------------------------------- Q10
  /** Exact distinct count per group. */
  def q10(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"), count(lit(1)).as("n_rows"))

  val q10Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- Q11
  /** Category hierarchy semantics (OP-14) on fixtures: lv1 code from a
    * substring, lv2 id as a dense-rank dictionary over distinct p_type,
    * and the bidirectional re-join returning the original.
    */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    // Dictionary ids come from sorted zipWithIndex over the distinct
    // domain (range-partitioned sort, parallel) — value-identical to
    // `DENSE_RANK() OVER (ORDER BY p_type) - 1` on distinct values but
    // WITHOUT the unpartitioned WindowExec that coalesces to a single
    // task and warns.
    val distinctTypes = p.select("p_type").distinct().orderBy("p_type")
    val dimSchema = StructType(distinctTypes.schema.fields :+
      StructField("lv2id", IntegerType, nullable = false))
    val dim = spark.createDataFrame(
      distinctTypes.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toInt) },
      dimSchema)
    val back = dim.select(col("lv2id").as("lv2id_b"), col("p_type").as("p_type_rt"))
    p.join(broadcast(dim), Seq("p_type"))
      .join(broadcast(back), col("lv2id") === col("lv2id_b"))
      .select(
        col("p_partkey"),
        substring(col("p_brand"), 7, 2).as("lv1_code"),
        col("lv2id"), col("p_type_rt"))
  }

  val q11Sql: String =
    """WITH dim AS (
      |  SELECT p_type, CAST(DENSE_RANK() OVER (ORDER BY p_type) - 1 AS INT) AS lv2id
      |  FROM (SELECT DISTINCT p_type FROM part))
      |SELECT p.p_partkey, substring(p.p_brand, 7, 2) AS lv1_code,
      |  d.lv2id AS lv2id, d2.p_type AS p_type_rt
      |FROM part p
      | JOIN dim d ON p.p_type = d.p_type
      | JOIN dim d2 ON d.lv2id = d2.lv2id""".stripMargin

  // --------------------------------------------------------------- Q12
  /** Tumbling 1-hour buckets (batch equivalent of a streaming window). */
  def q12(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        col("event_type"),
        SessionOps.timeBucket(col("ts"), "hour").as("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))

  val q12Sql: String =
    """SELECT event_type,
      | strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type, bucket""".stripMargin

  // --------------------------------------------------------------- Q13
  /** JSON scalar extraction + modular grouping. */
  def q13(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select((get_json_object(col("props"), "$.k").cast("int") % 10).as("kmod"))
      .groupBy("kmod")
      .agg(count(lit(1)).as("n"))

  val q13Sql: String =
    """SELECT CAST(props->>'$.k' AS INT) % 10 AS kmod, COUNT(*) AS n
      |FROM events GROUP BY kmod""".stripMargin

  // --------------------------------------------------------------- Q14
  /** Vector math per row: L2 norm, first-max argmax, mean of first 8. */
  def q14(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        VectorOps.l2Norm(col("embedding")).as("l2_norm"),
        VectorOps.argmaxFirst(col("embedding")).as("argmax_idx"),
        VectorOps.meanFirstK(col("embedding"), 8).as("mean_first8"))

  val q14Sql: String =
    """SELECT vec_id,
      | sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm,
      | list_position(embedding, list_max(embedding)) - 1 AS argmax_idx,
      | list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))) / 8 AS mean_first8
      |FROM embeddings""".stripMargin

  // --------------------------------------------------------------- Q15
  /** Deterministic fold assignment + per-fold per-label counts. */
  def q15(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select((col("vec_id") % 10).as("fold"), col("label"))
      .groupBy("fold", "label")
      .agg(count(lit(1)).as("n"))

  val q15Sql: String =
    """SELECT vec_id % 10 AS fold, label, COUNT(*) AS n
      |FROM embeddings GROUP BY fold, label""".stripMargin

  // --------------------------------------------------------------- Q16
  /** Budgeted head+tail truncation (`combine_text`/`cut_min` algebra,
    * reference `src/data_helper.py:41-86`) over thirds of the token
    * array: budget 16, floors (4, 5, 5) on (first, middle, last), middle
    * cut first, then last, then first.
    */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = split(col("text"), " ")
    val n = size(toks)
    val a = floor(n / 3.0).cast("int")
    val s1 = slice(toks, lit(1), a)
    val s2 = slice(toks, a + 1, a)
    val s3 = slice(toks, a * 2 + 1, n - a * 2)
    d.select(
      col("doc_id"),
      array_join(
        TextOps.budgetedAssembleFused(s1, s2, s3, budget = 16,
          minFirst = 4, minSecond = 5, minThird = 5),
        " ").as("out_text"))
  }

  val q16Sql: String =
    """WITH base AS (
      | SELECT doc_id, string_split(text, ' ') AS toks,
      |        len(string_split(text, ' ')) AS n,
      |        len(string_split(text, ' ')) // 3 AS a
      | FROM documents),
      |parts AS (
      | SELECT doc_id, n, a,
      |   toks[1:a] AS s1, toks[a+1:2*a] AS s2, toks[2*a+1:n] AS s3,
      |   a AS l1, a AS l2, n - 2*a AS l3,
      |   n - 16 AS need0
      | FROM base),
      |step2 AS (
      | SELECT *,
      |  CASE WHEN need0 > 0 AND l2 > 5 THEN
      |    CASE WHEN need0 < l2 - 5
      |      THEN s2[1:(l2-need0)//2] || s2[l2-(l2-need0)//2+1:l2]
      |      ELSE s2[1:2] || s2[l2-1:l2] END
      |  ELSE s2 END AS s2c,
      |  CASE WHEN need0 > 0 AND l2 > 5 THEN
      |    CASE WHEN need0 < l2 - 5 THEN -1 ELSE need0 - (l2 - 5) END
      |  ELSE need0 END AS need1
      | FROM parts),
      |step3 AS (
      | SELECT *,
      |  CASE WHEN need1 > 0 AND l3 > 5 THEN
      |    CASE WHEN need1 < l3 - 5
      |      THEN s3[1:(l3-need1)//2] || s3[l3-(l3-need1)//2+1:l3]
      |      ELSE s3[1:2] || s3[l3-1:l3] END
      |  ELSE s3 END AS s3c,
      |  CASE WHEN need1 > 0 AND l3 > 5 THEN
      |    CASE WHEN need1 < l3 - 5 THEN -1 ELSE need1 - (l3 - 5) END
      |  ELSE need1 END AS need2
      | FROM step2),
      |step1 AS (
      | SELECT *,
      |  CASE WHEN need2 > 0 AND l1 > 4 THEN
      |    CASE WHEN need2 < l1 - 4
      |      THEN s1[1:(l1-need2)//2] || s1[l1-(l1-need2)//2+1:l1]
      |      ELSE s1[1:2] || s1[l1-1:l1] END
      |  ELSE s1 END AS s1c
      | FROM step3)
      |SELECT doc_id, array_to_string(s1c || s2c || s3c, ' ') AS out_text
      |FROM step1""".stripMargin

  // --------------------------------------------------------------- Q17
  /** Metric block (reference `src/util.py:136-156` semantics) over a
    * deterministic prediction rule: pred(v) = label of v+1, else v-1.
    */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "label")
    val nxt = e.select((col("vec_id") - 1).as("vec_id"), col("label").as("label_next"))
    val prv = e.select((col("vec_id") + 1).as("vec_id"), col("label").as("label_prev"))
    val pairs = e.join(nxt, Seq("vec_id"), "left").join(prv, Seq("vec_id"), "left")
      .select(col("label"), coalesce(col("label_next"), col("label_prev")).as("pred"))
    EvalMetrics.f1Block(pairs, "pred", "label")
  }

  val q17Sql: String =
    """WITH pairs AS (
      | SELECT a.label AS label, COALESCE(b.label, c.label) AS pred
      | FROM embeddings a
      |  LEFT JOIN embeddings b ON b.vec_id = a.vec_id + 1
      |  LEFT JOIN embeddings c ON c.vec_id = a.vec_id - 1),
      |cls AS (SELECT label AS cls FROM pairs UNION SELECT pred FROM pairs),
      |pc AS (
      | SELECT cls,
      |  SUM(CASE WHEN p.pred = cls AND p.label = cls THEN 1 ELSE 0 END) AS tp,
      |  SUM(CASE WHEN p.pred = cls AND p.label <> cls THEN 1 ELSE 0 END) AS fp,
      |  SUM(CASE WHEN p.label = cls AND p.pred <> cls THEN 1 ELSE 0 END) AS fn
      | FROM cls CROSS JOIN pairs p GROUP BY cls)
      |SELECT
      | (SELECT CASE WHEN 2.0*SUM(tp) + SUM(fp) + SUM(fn) = 0 THEN 0.0
      |    ELSE 2.0*SUM(tp) / (2.0*SUM(tp) + SUM(fp) + SUM(fn)) END FROM pc) AS micro_f1,
      | (SELECT AVG(CASE WHEN 2.0*tp + fp + fn = 0 THEN 0.0
      |    ELSE 2.0*tp / (2.0*tp + fp + fn) END) FROM pc) AS macro_f1,
      | (SELECT AVG(CASE WHEN pred = label THEN 1.0 ELSE 0.0 END) FROM pairs) AS accuracy""".stripMargin

  // --------------------------------------------------------------- Q18
  /** Dedup: exact dup count on normalized text + near-dup pair count by
    * token-set Jaccard >= 0.6 (pairwise oracle form; LSH is the scale
    * path, bench-only).
    */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val exact = d.agg(
      (count(lit(1)) - countDistinct(DedupOps.normText(col("text")))).as("exact_dups"))
    val near = DedupOps.jaccardPairs(d, "text", "doc_id", 0.6)
      .agg(count(lit(1)).as("near_dup_pairs"))
    exact.crossJoin(near)
  }

  val q18Sql: String =
    """WITH t AS (
      | SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks,
      |        len(list_distinct(string_split(text, ' '))) AS n
      | FROM documents),
      |p AS (
      | SELECT COUNT(*) AS c FROM t a JOIN t b
      |  ON a.doc_id < b.doc_id
      |  AND CAST(least(a.n, b.n) AS DOUBLE) >= greatest(a.n, b.n) * 0.6
      |  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |      / (a.n + b.n - len(list_intersect(a.toks, b.toks))) >= 0.6)
      |SELECT
      | (SELECT COUNT(*) - COUNT(DISTINCT lower(trim(text))) FROM documents) AS exact_dups,
      | (SELECT c FROM p) AS near_dup_pairs""".stripMargin

  // --------------------------------------------------------------- Q19
  /** Gap sessionization (30 min) + per-user session stats. */
  def q19(spark: SparkSession, dir: String): DataFrame =
    SessionOps.sessionize(Tables.events(spark, dir), "user_id", "ts", 1800L)
      .groupBy("user_id")
      .agg(
        max(col("session_id")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        (count(lit(1)).cast("double") / max(col("session_id"))).as("avg_events"))

  val q19Sql: String =
    """WITH g AS (
      | SELECT user_id, ts, event_id,
      |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      | FROM events),
      |b AS (
      | SELECT user_id, ts, event_id,
      |  CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
      |       THEN 1 ELSE 0 END AS boundary
      | FROM g),
      |s AS (
      | SELECT user_id,
      |  SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS session_id
      | FROM b)
      |SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events,
      | CAST(COUNT(*) AS DOUBLE) / MAX(session_id) AS avg_events
      |FROM s GROUP BY user_id""".stripMargin

  // --------------------------------------------------------------- Q20
  /** Ensemble logit-sum + first-max argmax (OP-27 exactly): the two
    * halves of each embedding act as two models' logits.
    */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val summed = VectorOps.vecAdd(
      slice(col("embedding"), 1, 32), slice(col("embedding"), 33, 32))
    e.select(col("label"), VectorOps.argmaxFirst(summed).as("argmax_idx"))
      .groupBy("label", "argmax_idx")
      .agg(count(lit(1)).as("n"))
  }

  val q20Sql: String =
    """WITH s AS (
      | SELECT label,
      |  list_position(
      |    list_transform(generate_series(1, 32), i -> embedding[i] + embedding[i + 32]),
      |    list_max(list_transform(generate_series(1, 32), i -> embedding[i] + embedding[i + 32]))
      |  ) - 1 AS argmax_idx
      | FROM embeddings)
      |SELECT label, argmax_idx, COUNT(*) AS n FROM s GROUP BY label, argmax_idx""".stripMargin

  /** name → (spark impl, oracle sql). */
  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q01_pricing_summary" -> ((q01 _, q01Sql)),
    "q02_order_customer_join" -> ((q02 _, q02Sql)),
    "q03_five_way_join" -> ((q03 _, q03Sql)),
    "q04_semi_anti" -> ((q04 _, q04Sql)),
    "q05_theta_join" -> ((q05 _, q05Sql)),
    "q06_window_rank" -> ((q06 _, q06Sql)),
    "q07_global_topk" -> ((q07 _, q07Sql)),
    "q08_set_ops" -> ((q08 _, q08Sql)),
    "q09_rollup" -> ((q09 _, q09Sql)),
    "q10_distinct" -> ((q10 _, q10Sql)),
    "q11_category_hierarchy" -> ((q11 _, q11Sql)),
    "q12_time_bucket" -> ((q12 _, q12Sql)),
    "q13_json_extract" -> ((q13 _, q13Sql)),
    "q14_vector_math" -> ((q14 _, q14Sql)),
    "q15_fold_assign" -> ((q15 _, q15Sql)),
    "q16_headtail_truncate" -> ((q16 _, q16Sql)),
    "q17_eval_f1" -> ((q17 _, q17Sql)),
    "q18_dedup" -> ((q18 _, q18Sql)),
    "q19_sessionize" -> ((q19 _, q19Sql)),
    "q20_ensemble_argmax" -> ((q20 _, q20Sql)))
}
