package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded TOP-K aggregation buffer — the scale replacement for the
  * `row_number().over(Window.partitionBy(g).orderBy(...)) <= k` idiom
  * when groups are huge: the window SHUFFLES AND SORTS every row of
  * every group; this `Aggregator` keeps at most `k` (value, id) pairs
  * per partial buffer, so the exchange carries ≤ k rows per group PER
  * MAP TASK and the merge is a k-bounded list merge — at 100 TB the
  * difference between shuffling the corpus and shuffling `k × tasks`
  * rows per group.
  *
  * Ordering contract: value DESC, id ASC tiebreak — deterministic
  * under any partitioning (the window twin's exact rule, differential
  * spec + q136 oracle). Buffers stay sorted (insertion into a ≤ k
  * vector), so reduce is O(k) per row worst case and merge O(k).
  */
object TopKAggregator {

  type VI = (Double, Long)

  private def insert(buf: List[VI], v: VI, k: Int): List[VI] = {
    // descending value, ascending id
    val (before, after) = buf.span(b =>
      b._1 > v._1 || (b._1 == v._1 && b._2 < v._2))
    val merged = before ::: (v :: after)
    if (merged.length > k) merged.take(k) else merged
  }

  def topK(k: Int): Aggregator[VI, List[VI], Seq[VI]] = {
    require(k >= 1, "topK: k must be >= 1")
    new Aggregator[VI, List[VI], Seq[VI]] {
      // plans print the aggregator by its toString: name k there
      override def toString: String = s"TopKAggregator(k=$k)"
      override def zero: List[VI] = Nil
      override def reduce(b: List[VI], a: VI): List[VI] = insert(b, a, k)
      override def merge(x: List[VI], y: List[VI]): List[VI] =
        y.foldLeft(x)((acc, v) => insert(acc, v, k))
      override def finish(r: List[VI]): Seq[VI] = r
      override def bufferEncoder: Encoder[List[VI]] =
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[List[(Double, Long)]]()
      override def outputEncoder: Encoder[Seq[VI]] =
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Seq[(Double, Long)]]()
    }
  }

  /** Untyped-DataFrame surface: `topKUdaf(k)(valueCol, idCol)` returns
    * the per-group array<struct<_1: value, _2: id>> ranked
    * (value desc, id asc).
    */
  def topKUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(topK(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
}
