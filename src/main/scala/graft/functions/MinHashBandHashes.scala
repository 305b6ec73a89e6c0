package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** LSH band hashes of a MinHash signature, fused into ONE pass over the
  * token-hash array.
  *
  * Input: the doc's token set as 64-bit hashes (`DedupOps.hashedTokenSet`
  * — one xxhash64 per token, computed once). The `bands × rowsPerBand`
  * signature slots use multiply-add permutations of that base hash
  * (`h_i = A_i·h + B_i` over Z/2^64, `A_i` odd so the map is a bijection;
  * constants from SplitMix64 — the standard practical MinHash family,
  * e.g. Broder's universal-hash formulation). Each band's hash folds its
  * `rowsPerBand` minima through a SplitMix64 avalanche with the band
  * index as seed.
  *
  * Why fused: the composable form — `numHashes ×
  * array_min(transform(toks, xxhash64(t, i)))` then `bands ×
  * xxhash64(slice(sig, …))` — re-hashes every token's STRING bytes once
  * per signature slot (64× for the default 16×4 banding) across 64
  * non-codegen HOF traversals, then copies 16 slices. Here each token
  * costs 64 multiply-adds in a tight generated loop and the signature
  * never materializes. Same banding semantics: equal token sets agree on
  * every band; sets with Jaccard J agree on a given band w.p. ~J^rows.
  *
  * Empty arrays are well-defined (all slots Long.MaxValue): every empty
  * doc lands in the same buckets, so exact-empty duplicates still meet in
  * the verify stage. Null elements are skipped. NOT portable across
  * engines by design — the oracle-checked portable construction
  * ([[graft.core.PortableHash]] md5 family) is DedupOps' private
  * `Portable` hash family behind the `*Portable` twins.
  */
case class MinHashBandHashes(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bands > 0 && rowsPerBand > 0 && bands * rowsPerBand <= 4096,
    s"need 0 < bands*rowsPerBand <= 4096, got $bands x $rowsPerBand")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    MinHashBandHashes.bandHashes(a.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashBandHashes.bandHashes($c, $bands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "min_hash_band_hashes"
}

object MinHashBandHashes {

  /** SplitMix64 finalizer — the avalanche used for both the permutation
    * constants and the band folds.
    */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Per-signature-size permutation constants, cached (A odd). */
  private val constCache = new ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def consts(n: Int): (Array[Long], Array[Long]) =
    constCache.computeIfAbsent(n, { k =>
      val as = new Array[Long](k); val bs = new Array[Long](k)
      var i = 0
      while (i < k) { as(i) = mix(2L * i) | 1L; bs(i) = mix(2L * i + 1); i += 1 }
      (as, bs)
    })

  /** One pass: all `bands*rowsPerBand` minima, folded into `bands` band
    * hashes. Deterministic pure function of the element multiset.
    */
  def bandHashes(arr: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = bands * rowsPerBand
    val (as, bs) = consts(n)
    val mins = new Array[Long](n)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val len = arr.numElements()
    var j = 0
    while (j < len) {
      if (!arr.isNullAt(j)) {
        val h = arr.getLong(j)
        var i = 0
        while (i < n) {
          val v = as(i) * h + bs(i)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = mix(b.toLong)
      var r = 0
      while (r < rowsPerBand) { acc = mix(acc ^ mins(b * rowsPerBand + r)); r += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  def minHashBandHashes(tokenHashes: Column, bands: Int, rowsPerBand: Int): Column =
    ColumnBridge.column(
      MinHashBandHashes(ColumnBridge.expression(tokenHashes), bands, rowsPerBand))
}
