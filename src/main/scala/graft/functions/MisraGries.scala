package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded MISRA–GRIES frequent-items buffer (Misra & Gries 1982;
  * mergeable-summaries form of Agarwal et al. PODS 2012): at most `k`
  * (item, count) pairs per buffer. Reduce: increment a present item,
  * insert while room, else decrement ALL counters (dropping zeros) —
  * the classic trade that buys the deterministic guarantee
  * `true − N/(k+1) ≤ count ≤ true` for every surviving item, so any
  * item with frequency > N/(k+1) is GUARANTEED to survive. Merge:
  * add counts, then subtract the (k+1)-th largest count from all and
  * drop non-positives — the error budgets ADD, preserving the bound
  * across partitions.
  *
  * The surviving counts themselves depend on arrival/merge order
  * (like any MG summary), so the production surface is the TWO-PASS
  * [[graft.ops.SketchOps.heavyHitters]]: MG candidates (this
  * aggregator, one scan, k-bounded exchange) + an exact count of the
  * ≤ k candidates — whose output IS deterministic.
  */
object MisraGries {

  type IC = (String, Long)

  def mg(k: Int): Aggregator[String, List[IC], Seq[IC]] = {
    require(k >= 1, "misraGries: k must be >= 1")
    new Aggregator[String, List[IC], Seq[IC]] {
      // plans print the aggregator by its toString: name k there
      override def toString: String = s"MisraGries(k=$k)"
      override def zero: List[IC] = Nil
      override def reduce(b: List[IC], x: String): List[IC] =
        if (b.exists(_._1 == x))
          b.map { case (i, c) => if (i == x) (i, c + 1L) else (i, c) }
        else if (b.length < k) (x, 1L) :: b
        else b.map { case (i, c) => (i, c - 1L) }.filter(_._2 > 0L)
      override def merge(x: List[IC], y: List[IC]): List[IC] = {
        val m = (x ++ y).groupBy(_._1)
          .map { case (i, cs) => (i, cs.map(_._2).sum) }.toList
        if (m.length <= k) m
        else {
          val cut = m.map(_._2).sorted(Ordering[Long].reverse)(k)
          m.map { case (i, c) => (i, c - cut) }.filter(_._2 > 0L)
        }
      }
      override def finish(r: List[IC]): Seq[IC] = r
      override def bufferEncoder: Encoder[List[IC]] =
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[List[(String, Long)]]()
      override def outputEncoder: Encoder[Seq[IC]] =
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Seq[(String, Long)]]()
    }
  }

  def mgUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(mg(k), Encoders.STRING)
}
