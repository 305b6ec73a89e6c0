package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Market-basket analysis (association rules): pair support /
  * confidence / lift over (basket, item) observations — the classic
  * co-occurrence miner (Agrawal & Srikant 1994's A-priori restricted
  * to pair rules, which is the overwhelmingly common production case).
  *
  * Scale shape: baskets collapse to DISTINCT (basket, item) pairs
  * first (one keyed shuffle with map-side distinct), then pairs form
  * by a self-equi-join ON THE BASKET KEY — output is bounded by
  * sum_b |items_b|² which the caller controls via the item vocabulary
  * (pair mining presumes a bounded catalog per basket, not free
  * text). Item supports are a |vocabulary|-row dim that broadcasts
  * back onto the pair frame; every metric is an exact integer count
  * ratio evaluated in one double division, so it replays anywhere.
  */
object BasketOps {

  /** Pair association rules A → B (directed, A ≠ B):
    * `support = n(A,B) / n_baskets`, `confidence = n(A,B) / n(A)`,
    * `lift = confidence / (n(B) / n_baskets)`. Baskets are the
    * distinct combinations of `basketCols`; multiple occurrences of
    * an item in one basket count once.
    */
  def associationRules(
      df: DataFrame, basketCols: Seq[String], itemCol: String): DataFrame = {
    require(basketCols.nonEmpty, "need at least one basket column")
    val basket = struct(basketCols.map(col): _*).as("__basket")
    val obs = df.select(basket, col(itemCol).as("__item")).distinct()

    // basket total as a 1-row broadcast (the perplexity `v` contract) —
    // no driver action, the scalar rides the plan
    val nBaskets = obs.select("__basket").distinct()
      .agg(count(lit(1)).as("__nb"))
    val itemCounts = obs.groupBy("__item")
      .agg(count(lit(1)).as("__n_item"))

    val a = obs.select(col("__basket"), col("__item").as("item_a"))
    val b = obs.select(col("__basket"), col("__item").as("item_b"))
    val pairs = a.join(b, Seq("__basket"))
      .filter(col("item_a") =!= col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_ab"))

    val d = (c: Column) => c.cast("double")
    pairs
      .join(broadcast(itemCounts.withColumnRenamed("__item", "item_a")
        .withColumnRenamed("__n_item", "n_a")), Seq("item_a"))
      .join(broadcast(itemCounts.withColumnRenamed("__item", "item_b")
        .withColumnRenamed("__n_item", "n_b")), Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        (d(col("n_ab")) / d(col("__nb"))).as("support"),
        (d(col("n_ab")) / d(col("n_a"))).as("confidence"),
        (d(col("n_ab")) * d(col("__nb")) / (d(col("n_a")) * d(col("n_b"))))
          .as("lift"))
  }

  /** ITEM-TO-ITEM NEIGHBORS ("people who did A also did B") — the
    * co-occurrence recommender table: for each item, the top `k`
    * other items by COSINE score `n(A,B) / √(n(A)·n(B))` (the
    * basket-set cosine — lift's scale-free sibling, standard for
    * item-item collaborative filtering). Ties break on the neighbor
    * id, so the cut is deterministic.
    *
    * Scale shape: rides [[associationRules]]'s pair machinery
    * (distinct obs → basket-keyed self-join → pair counts, item dims
    * on broadcasts); the top-k cut is ONE item-keyed rank window over
    * the pair frame — already far smaller than the obs it came from.
    */
  def itemNeighbors(
      df: DataFrame, basketCols: Seq[String], itemCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rules = associationRules(df, basketCols, itemCol)
    val score = col("n_ab").cast("double") /
      sqrt(col("n_a").cast("double") * col("n_b").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item_a"))
      .orderBy(col("score").desc, col("item_b"))
    rules.withColumn("score", score)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("item_a").as("item"), col("item_b").as("neighbor"),
        col("n_ab"), col("score"), col("__rk").as("rank"))
  }

  /** USER-LEVEL RECOMMENDATIONS from the item-item neighbor table —
    * the serving step of item-based collaborative filtering: each
    * user's distinct item profile pulls in its items' top-`kNeighbors`
    * neighbors ([[itemNeighbors]]), candidate scores sum the neighbor
    * cosines over the user's items (round-then-DECIMAL — exact,
    * order-free), items the user already has leave via an anti-join,
    * and the top `topN` per user cut on the EXACT decimal score with
    * an item-id tiebreak.
    *
    * Scale shape: the neighbor table is a ≤ |items|·k row dim riding
    * a broadcast into the profile join — the user-item frame shuffles
    * once for the (user, candidate) aggregation and once for the
    * per-user rank window; item payloads never fan out.
    */
  def recommendItems(
      df: DataFrame, userCol: String, basketCols: Seq[String],
      itemCol: String, kNeighbors: Int, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val nb = itemNeighbors(df, basketCols, itemCol, kNeighbors)
      .select(col("item").as("__item"), col("neighbor").as("__cand"),
        col("score"))
    val profile = df.select(col(userCol).as("__user"),
      col(itemCol).as("__item")).distinct()
    val cand = profile.join(broadcast(nb), Seq("__item"))
      .groupBy("__user", "__cand")
      .agg(count(lit(1)).as("n_sources"),
        sum(round(col("score"), 9).cast("decimal(38,9)")).as("__s"))
      .join(profile.select(col("__user"), col("__item").as("__cand")),
        Seq("__user", "__cand"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__user"))
      .orderBy(col("__s").desc, col("__cand"))
    cand.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topN)
      .select(col("__user").as(userCol), col("__cand").as("item"),
        col("n_sources"), col("__s").cast("double").as("score"),
        col("__rk").as("rank"))
  }
}
