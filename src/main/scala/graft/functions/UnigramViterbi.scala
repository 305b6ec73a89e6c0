package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi (max-log-prob) segmentation of one word under a unigram
  * piece model (Kudo 2018, SentencePiece) — the per-word inner loop of
  * [[graft.ops.UnigramLmOps]]. DP over end positions, candidates the
  * ≤ `maxPieceLen` suffix pieces present in the model:
  * `best(e) = max_l best(e−l) + logp(w[e−l..e])`.
  *
  * Deterministic tie rule: equal scores prefer the LONGER piece ending
  * at `e` (the greedy-longest convention, pinned in the spec's
  * independent model). A character absent from the model segments as
  * its own single-char piece at `unkLogProb` — with
  * [[graft.ops.UnigramLmOps]]'s seed guarantee (all corpus chars are
  * pieces) this only fires for chars never seen in training.
  *
  * CodegenFallback: irregular DP loop (the [[WordPieceTokenize]]
  * precedent); the model map ships once per task via the expression.
  */
case class UnigramViterbi(
    child: Expression,
    pieces: Seq[(String, Double)],
    maxPieceLen: Int,
    unkLogProb: Double)
    extends UnaryExpression with CodegenFallback {
  require(maxPieceLen >= 1, "maxPieceLen must be >= 1")

  @transient private lazy val logp: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.size * 2)
    pieces.foreach { case (p, lp) => m.put(p, lp) }
    m
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val w = input.asInstanceOf[UTF8String].toString
    val n = w.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1) // chosen piece length ending here
    best(0) = 0.0
    var e = 1
    while (e <= n) {
      var l = 1
      val lMax = math.min(maxPieceLen, e)
      while (l <= lMax) {
        if (best(e - l) != Double.NegativeInfinity) {
          val piece = w.substring(e - l, e)
          val lp = logp.get(piece)
          val score =
            if (lp != null) best(e - l) + lp.doubleValue()
            else if (l == 1) best(e - 1) + unkLogProb
            else Double.NegativeInfinity
          // strict >= with ascending l = longest piece wins ties
          if (score != Double.NegativeInfinity && score >= best(e)) {
            best(e) = score; back(e) = l
          }
        }
        l += 1
      }
      e += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var pos = n
    while (pos > 0) {
      val l = back(pos)
      out += UTF8String.fromString(w.substring(pos - l, pos))
      pos -= l
    }
    new GenericArrayData(out.reverse.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "unigram_viterbi"
}

object UnigramViterbi {
  /** An unknown single character scores -25.0. */
  def unigramViterbi(word: Column, pieces: Seq[(String, Double)], maxPieceLen: Int): Column =
    ColumnBridge.column(UnigramViterbi(
      ColumnBridge.expression(word), pieces, maxPieceLen, -25.0))
}
