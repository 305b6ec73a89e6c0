package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded K-MINIMUM-VALUES buffer — the distinct-cardinality sketch
  * primitive (Bar-Yossef et al. 2002; Beyer et al. 2007 "On synopses
  * for distinct-value estimation under multiset operations"): keep the
  * `k` SMALLEST DISTINCT hash values seen. The k-th smallest of a
  * uniform hash stream pins the distinct count at `(k-1)/h_k` (hash
  * normalized to [0,1)), and — unlike HLL registers — the retained
  * values themselves support SET ALGEBRA: the k-min of a union is the
  * k-min of the combined buffers, so union/intersection/Jaccard
  * estimates fall out of buffer membership alone.
  *
  * Scale shape: this is an `Aggregator`, so each map task carries ONE
  * ≤ k-long sorted buffer and the exchange moves `k × tasks` longs —
  * never the (possibly billions-deep) distinct key stream that a
  * `distinct().orderBy().limit(k)` plan would shuffle. Reduce is a
  * binary search + bounded insert (duplicates are free: set
  * semantics); merge is an O(k) sorted-list merge.
  */
object KMinDistinct {

  /** Buffer is kept DESCENDING (head = current k-th smallest = the
    * rejection threshold) so a saturated buffer rejects the common
    * case — a hash above the threshold — in O(1) at the head instead
    * of walking all k entries; only genuinely small hashes pay the
    * O(k) ordered insert. `finish` flips to ascending.
    */
  private def insert(buf: List[Long], h: Long, k: Int): List[Long] = {
    if (buf.nonEmpty && h >= buf.head) {
      // at/above the max: drop instantly when full, else dedupe-insert
      if (buf.length >= k) buf
      else if (h == buf.head) buf
      else h :: buf
    } else {
      // h < max (or empty buffer): ordered insert, descending
      val (before, after) = buf.span(_ > h)
      if (after.headOption.contains(h)) buf
      else {
        val merged = before ::: (h :: after)
        if (merged.length > k) merged.tail else merged
      }
    }
  }

  def kMin(k: Int): Aggregator[Long, List[Long], Seq[Long]] = {
    require(k >= 2, "kMin: k must be >= 2")
    new Aggregator[Long, List[Long], Seq[Long]] {
      // plans print the aggregator by its toString: name k there
      override def toString: String = s"KMinDistinct(k=$k)"
      override def zero: List[Long] = Nil
      override def reduce(b: List[Long], a: Long): List[Long] =
        insert(b, a, k)
      override def merge(x: List[Long], y: List[Long]): List[Long] =
        y.foldLeft(x)((acc, h) => insert(acc, h, k))
      override def finish(r: List[Long]): Seq[Long] = r.reverse
      override def bufferEncoder: Encoder[List[Long]] =
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[List[Long]]()
      override def outputEncoder: Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Seq[Long]]()
    }
  }

  /** Untyped surface: `kMinUdaf(k)(hashCol)` → the per-group ascending
    * array of the k smallest distinct hash values.
    */
  def kMinUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(kMin(k), Encoders.scalaLong)
}
