package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Vector math over `array<float>` / `array<double>` columns.
  *
  * Reproduces the reference's tensor semantics as Spark column
  * expressions (all codegen-friendly higher-order functions, no UDFs):
  *   - argmax with the *first-max* tie rule of `torch.argmax`
  *     (reference `src/inference.py:45`, `src/inference_kfold.py:90`);
  *   - masked mean-pooling `(sum(x*mask)/sum(mask))`
  *     (reference `src/model.py:48-49`);
  *   - ensemble logit-sum (reference `src/inference_kfold.py:80-89`);
  *   - norms / dot / cosine for the embeddings extension surface.
  *
  * All folds accumulate left-to-right in DOUBLE regardless of element
  * type, so results are bit-stable and match any engine that folds the
  * same direction (the DuckDB oracle does).
  */
object VectorOps {

  /** Left fold sum of elements as double. */
  def arraySumD(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double"))

  /** L2 norm: sqrt(sum(x_i^2)), accumulated in double. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Dot product of two equal-length vectors, accumulated in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** 0-based index of the first maximum element — `torch.argmax` tie
    * rule (first occurrence). `array_position` returns the first match,
    * which pins exactly that rule.
    */
  def argmaxFirst(a: Column): Column =
    (array_position(a, array_max(a)) - 1).cast("int")

  /** Mean of the first `k` elements (the reference's masked mean-pool
    * with mask = first-k; `src/model.py:48-49`).
    */
  def meanFirstK(a: Column, k: Int): Column =
    arraySumD(slice(a, 1, k)) / k

  /** Masked mean-pool with an explicit 0/1 mask column (OP-29,
    * reference `src/model.py:48-49`): `sum(x*mask)/sum(mask)`, both
    * folded left-to-right in double. An all-zero mask pools nothing and
    * gives NULL (DuckDB's `x/0`), never an ANSI DIVIDE_BY_ZERO failure.
    */
  def maskedMean(a: Column, mask: Column): Column =
    aggregate(zip_with(a, mask, (x, m) => x.cast("double") * m.cast("double")),
      lit(0.0), (acc, x) => acc + x) / nullif(arraySumD(mask), lit(0.0))

  /** Elementwise sum of two logit vectors (ensemble fan-in,
    * reference `src/inference_kfold.py:86-89`). Element type preserved.
    */
  def vecAdd(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x + y)

  /** Element-wise mean of the LAST `k` vectors in an array-of-vectors
    * column — OP-30, the reference's last-4-encoder-layer pooling
    * (`src/model.py` mean of the final hidden states) as pure column
    * algebra: slice the tail, fold one running sum vector, scale by
    * 1/k. Fewer than `k` layers → null (a model emitting too few layers
    * is a caller error, not a silent partial pool).
    */
  def lastKLayerPool(layers: Column, k: Int): Column = {
    val tail = slice(layers, size(layers) - (k - 1), lit(k))
    val summed = aggregate(tail,
      transform(element_at(tail, 1), _ => lit(0.0)),
      (acc, v) => zip_with(acc, v, (x, y) => x + y.cast("double")))
    when(size(layers) < k, lit(null))
      .otherwise(transform(summed, x => x / k))
  }

  /** Pad a frame matrix (array<array<float>>) to `maxFrames` rows with
    * zero-vectors of `dim`, and emit the 0/1 mask — reference
    * `src/data_helper.py:155-164`.
    */
  def padFrames(frames: Column, maxFrames: Int, dim: Int): Column = {
    val zeroVec = array_repeat(lit(0.0f), dim)
    val padCount = (lit(maxFrames) - least(size(frames), lit(maxFrames))).cast("int")
    slice(concat(frames, array_repeat(zeroVec, padCount)), 1, maxFrames)
  }

  /** 0/1 frame mask: 1 for real frames (capped at maxFrames), 0 for pad. */
  def frameMask(frames: Column, maxFrames: Int): Column = {
    val real = least(size(frames), lit(maxFrames))
    concat(
      array_repeat(lit(1), real),
      array_repeat(lit(0), (lit(maxFrames) - real).cast("int")))
  }

  /** Deterministic stride subsample (test path, reference
    * `src/data_helper.py:168-172`): indices `range(0, n, n/maxFrames)`,
    * first `maxFrames` kept, order preserved.
    */
  def strideSample(frames: Column, maxFrames: Int): Column = {
    val n = size(frames)
    val stride = (n / maxFrames).cast("int")
    // indices from transform's (element, index) lambda — empty-safe,
    // unlike sequence(0, n-1) which yields [0, -1] for n = 0
    val idx = slice(
      filter(transform(frames, (_, i) => i), i => i % stride === 0), 1, maxFrames)
    // short arrays are the identity (reference only calls this with
    // n > maxFrames, but `i % 0` is null and would silently empty the
    // result for a library caller)
    when(n <= maxFrames, frames)
      .otherwise(transform(idx, i => element_at(frames, i + 1)))
  }

  /** Exponential moving average over an ordered window (the data-
    * semantics analog of the reference's parameter EMA, OP-33,
    * `src/main.py:81-106`): e_t = d·e_{t-1} + (1-d)·x_t.
    *
    * O(n²) PER WINDOW PARTITION — row t folds a t-element collect_list
    * prefix, so total work is quadratic in the partition length. This
    * closed-column form exists for SHORT windows and oracle parity
    * only; for long sequences use [[emaByKey]], the linear scale path.
    * (The d^(-i)-scaled two-window-sum closed form would be O(n) but
    * overflows double for long windows; the sequential recurrence is
    * the honest formulation.)
    */
  def ema(x: Column, decay: Double, w: WindowSpec): Column = {
    // e_t = d^t * x_0 + (1-d) * Σ_{i=1..t} d^(t-i) x_i
    //     = d^t * [ x_0 + (1-d) * Σ_{i=1..t} d^(-i) x_i ]
    // the d^(-i) scaling overflows for long windows; keep the direct
    // O(n) recursive form via aggregate over collected prefix instead.
    // collect_list drops nulls, so the prefix fold already skips null
    // values (state carries across them); the when() pins the null ROW
    // itself to emit null — same contract as [[emaByKey]]: null values
    // emit null and leave the running state unchanged.
    val prefix = collect_list(x).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val fold = aggregate(prefix, lit(Double.NaN),
      (acc, v) => when(isnan(acc), v.cast("double"))
        .otherwise(acc * decay + v.cast("double") * (1 - decay)))
    when(x.isNull, lit(null).cast("double")).otherwise(fold)
  }

  /** Linear-time EMA per key — the OP-33 scale path. Repartitions on
    * `keyCol`, sorts within partitions by (key, order), and carries ONE
    * running state through a single sequential pass: one shuffle,
    * O(n log n) total, O(1) state — vs [[ema]]'s O(n²) prefix folds.
    * Exits whole-stage codegen at the RDD boundary (the same trade
    * SplitOps.chunkBy makes: a sequential recurrence is not parallel
    * column algebra), which is the right trade for long sequences.
    *
    * Semantics match [[ema]] exactly: e_0 = x_0,
    * e_t = decay·e_{t-1} + (1−decay)·x_t per key in `orderCol` order.
    * Null values emit null and leave the running state unchanged.
    */
  def emaByKey(df: DataFrame, keyCol: String, orderCol: String,
      valueCol: String, decay: Double, outCol: String = "ema"): DataFrame = {
    val spark = df.sparkSession
    val keyIdx = df.columns.indexOf(keyCol)
    val valIdx = df.columns.indexOf(valueCol)
    require(keyIdx >= 0, s"emaByKey: no column '$keyCol'")
    require(valIdx >= 0, s"emaByKey: no column '$valueCol'")
    val sorted = df.repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(orderCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, DoubleType, nullable = true))
    val rdd = sorted.rdd.mapPartitions { rows =>
      var curKey: Any = null
      var first = true      // no key seen yet in this partition
      var state = 0.0
      var hasState = false  // no non-null value seen for curKey yet
      rows.map { r =>
        val k = r.get(keyIdx)
        if (first || k != curKey) { curKey = k; first = false; hasState = false }
        val out: Any =
          if (r.isNullAt(valIdx)) null
          else {
            val x = r.get(valIdx).asInstanceOf[Number].doubleValue()
            state = if (hasState) state * decay + x * (1 - decay) else x
            hasState = true
            state
          }
        Row.fromSeq(r.toSeq :+ out)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Seeded pseudo-random subsample (train path, reference
    * `src/data_helper.py:173-178`): take `maxFrames` indices keyed by a
    * deterministic per-(key, index) draw, re-sorted ascending to keep
    * temporal order. Row-key-seeded so results survive repartitioning
    * (SURVEY §7.4.2: key-derived randomness only). The draw is the md5
    * family DuckDB replays (`md5Long("key#i#seed")`), so the draw
    * itself, not just the plan, gets a row-level cross-engine oracle
    * (q108).
    */
  def seededSamplePortable(
      frames: Column, key: Column, maxFrames: Int, seed: Long): Column = {
    val scored = transform(frames,
      (_, i) => struct(
        graft.core.PortableHash.md5Long(
          concat_ws("#", key.cast("string"), i.cast("string"),
            lit(seed.toString))).as("h"),
        i.as("i")))
    val chosen = slice(array_sort(scored), 1, maxFrames)
    val idx = array_sort(transform(chosen, s => s.getField("i")))
    transform(idx, i => element_at(frames, i + 1))
  }

  /** The ±1 Johnson–Lindenstrauss sign matrix behind [[randomProject]]
    * as (outDim × inDim) rows: entry (j, i) is +1 when the top-60-bit
    * md5 of `"i#j#seed"` is even — the [[graft.core.PortableHash]]
    * md5Long convention computed driver-side (a few thousand constant
    * cells), so a SQL oracle re-derives every sign independently from
    * the same literal strings.
    */
  def jlSignMatrix(inDim: Int, outDim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(outDim, inDim) { (j, i) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i#$j#$seed".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.take(15), 16) % 2 == 0) 1.0 else -1.0
    }

  /** Random projection (Johnson–Lindenstrauss; Achlioptas 2003's
    * database-friendly ±1 form): `proj_j = (Σ_i v_i · s_ij) / √outDim`
    * with `s_ij ∈ {±1}` key-derived from md5 — embedding
    * dimensionality reduction ahead of the ANN / k-means / SemDeDup
    * family (pairwise distances preserved within `ε` for
    * `outDim = O(ln n / ε²)`, and E‖proj‖² = ‖v‖²). Output is an
    * `outCol` double array; cast to float for the vector-column
    * storage shape.
    *
    * Plan shape at 100 TB: the sign matrix is a CONSTANT folded into
    * the generated code (outDim unrolled multiply-add chains over the
    * input array, left-to-right — a pinned, replayable fold order);
    * pure per-row column algebra, zero shuffles, runs inside the
    * scan's whole-stage span. Rows whose vector is null are dropped.
    */
  def randomProject(
      df: DataFrame, vecCol: String, inDim: Int, outDim: Int,
      seed: Long = 42L, outCol: String = "proj"): DataFrame = {
    require(inDim > 0 && outDim > 0, "randomProject: dims must be positive")
    val s = jlSignMatrix(inDim, outDim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    // one generated matrix-product pass ([[graft.functions.MatVec]]);
    // the scale applies AFTER each row sum (exactly the unrolled-chain
    // and oracle arithmetic — bit-identical, differential-spec'd)
    df.filter(col(vecCol).isNotNull)
      .withColumn(outCol, transform(
        graft.functions.MatVec.matVec(col(vecCol), s),
        e => e * lit(scale)))
  }

  /** Population covariance matrix of a fixed-`dim` vector column as
    * `(i, j, cov)` rows for the UPPER TRIANGLE `i ≤ j` —
    * `cov_ij = Σ(x_i·x_j)/n − (Σx_i/n)·(Σx_j/n)`. All sums are
    * round(·, 9)-then-DECIMAL (exact, order-free — the PSI/chi²
    * parity pattern) and the final combination is three double
    * divisions + one multiply + one subtract, so the matrix replays
    * bit-level cross-engine. Rows failing the fixed-dim/null contract
    * are excluded.
    *
    * Scale shape (100 TB): the pair stream is dim²/2 products PER ROW
    * produced by a double posexplode — column values, never payloads —
    * feeding ONE map-side-combined (i, j)-keyed aggregate whose
    * output is the constant dim²/2-row matrix; per-dim sums are a
    * dim-row frame and n a 1-row broadcast (broadcast-dim contract).
    */
  def covarianceMatrix(
      df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0, "covarianceMatrix: dim must be positive")
    val v = df.select(col(vecCol).as("v"))
      .filter(col("v").isNotNull && size(col("v")) === dim)
    val nRow = broadcast(v.agg(count(lit(1)).as("n")))
    val ei = v.select(col("v"), posexplode(col("v")))
      .select(col("v"), col("pos").as("i"), col("col").cast("double").as("xi"))
    val sums = ei.groupBy("i")
      .agg(sum(round(col("xi"), 9).cast("decimal(38,9)")).as("sx"))
    val pairSums = ei.select(col("i"), col("xi"), posexplode(col("v")))
      .filter(col("pos") >= col("i"))
      .select(col("i"), col("pos").as("j"),
        (col("xi") * col("col").cast("double")).as("p"))
      .groupBy("i", "j")
      .agg(sum(round(col("p"), 9).cast("decimal(38,9)")).as("sxy"))
    pairSums
      .join(broadcast(sums.select(col("i"), col("sx").as("sx_i"))), Seq("i"))
      .join(broadcast(sums.select(col("i").as("j"), col("sx").as("sx_j"))), Seq("j"))
      .crossJoin(nRow)
      .select(col("i"), col("j"),
        (col("sxy").cast("double") / col("n").cast("double") -
          (col("sx_i").cast("double") / col("n").cast("double")) *
            (col("sx_j").cast("double") / col("n").cast("double"))).as("cov"))
  }

  /** PRODUCTION covariance accumulation — the 100 TB path: ONE pass
    * with `treeAggregate`, each task folding its rows into a local
    * (dim² upper-triangle products, dim sums, count) buffer — NO row
    * amplification (the [[covarianceMatrix]] pair stream explodes
    * dim²/2 rows per vector, the right shape for the exact DECIMAL
    * oracle twin but 2,080× the data at scale; here only
    * partition-count × dim² doubles ever move). Double accumulation
    * folds in partition order — deterministic to ~1e-15 relative, the
    * differential spec pins it against the exact form. Returns the
    * full symmetric matrix.
    */
  def covarianceMatrixFast(
      df: DataFrame, vecCol: String, dim: Int): Array[Array[Double]] = {
    require(dim > 0, "covarianceMatrixFast: dim must be positive")
    val tri = dim * (dim + 1) / 2
    val zero = (new Array[Double](tri), new Array[Double](dim), 0L)
    val (sxy, sx, n) = df
      .select(col(vecCol).as("v"))
      .filter(col("v").isNotNull && size(col("v")) === dim)
      .rdd.treeAggregate(zero)(
        seqOp = { case ((pp, ss, c), row) =>
          val v = row.getSeq[Float](0)
          var k = 0
          var i = 0
          while (i < dim) {
            val xi = v(i).toDouble
            ss(i) += xi
            var j = i
            while (j < dim) { pp(k) += xi * v(j).toDouble; k += 1; j += 1 }
            i += 1
          }
          (pp, ss, c + 1)
        },
        combOp = { case ((p1, s1, c1), (p2, s2, c2)) =>
          var k = 0
          while (k < tri) { p1(k) += p2(k); k += 1 }
          var i = 0
          while (i < dim) { s1(i) += s2(i); i += 1 }
          (p1, s1, c1 + c2)
        })
    require(n > 0, "covarianceMatrixFast: no valid vectors")
    val cov = Array.ofDim[Double](dim, dim)
    var k = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = sxy(k) / n - (sx(i) / n) * (sx(j) / n)
        cov(i)(j) = c; cov(j)(i) = c
        k += 1; j += 1
      }
      i += 1
    }
    cov
  }

  /** PCA model: per-dimension eigenvalues (variance explained,
    * descending) and the matching unit eigenvectors (rows). */
  final case class PcaModel(
      eigenvalues: Array[Double], components: Array[Array[Double]])

  /** Cyclic JACOBI eigendecomposition (at most 32 sweeps) of the symmetric matrix `a`
    * (driver-side, dim×dim — the broadcast-dim contract: the matrix
    * is CONSTANT-size however large the corpus). Returns
    * (eigenvalues, eigenvectors as rows) sorted by eigenvalue
    * descending, vectors' first nonzero component made positive for a
    * deterministic sign.
    */
  private[ops] def jacobiEigen(
      a: Array[Array[Double]]): PcaModel = {
    val n = a.length
    val m = Array.tabulate(n, n)((i, j) => a(i)(j))
    val vec = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 32 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = m(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (m(q)(q) - m(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val mkp = m(k)(p); val mkq = m(k)(q)
              m(k)(p) = c * mkp - s * mkq
              m(k)(q) = s * mkp + c * mkq
              k += 1
            }
            k = 0
            while (k < n) {
              val mpk = m(p)(k); val mqk = m(q)(k)
              m(p)(k) = c * mpk - s * mqk
              m(q)(k) = s * mpk + c * mqk
              val vkp = vec(k)(p); val vkq = vec(k)(q)
              vec(k)(p) = c * vkp - s * vkq
              vec(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { off += m(i)(j) * m(i)(j); j += 1 }
        i += 1
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => -m(i)(i))
    val evs = order.map(i => m(i)(i)).toArray
    val comps = order.map { i =>
      val v = Array.tabulate(n)(k => vec(k)(i))
      val lead = v.find(x => math.abs(x) > 1e-12).getOrElse(1.0)
      if (lead < 0) v.map(-_) else v
    }.toArray
    PcaModel(evs, comps)
  }

  /** PCA over a fixed-`dim` vector column: covariance via
    * [[covarianceMatrixFast]] (one treeAggregate pass, no row
    * amplification), eigendecomposition via [[jacobiEigen]] on the
    * dim×dim matrix (constant driver work — mirroring the k-means
    * recenter / HLL register folds). Top-`k` components by explained
    * variance.
    */
  def pcaTrain(df: DataFrame, vecCol: String, dim: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= dim, s"pcaTrain: need 1 <= k <= dim, got $k")
    val full = jacobiEigen(covarianceMatrixFast(df, vecCol, dim))
    PcaModel(full.eigenvalues.take(k), full.components.take(k))
  }

  /** Project vectors onto PCA components (no mean-centering of the
    * output — scores are `c·x`, matching the covariance-based train):
    * one [[graft.functions.MatVec]] generated pass, zero shuffles.
    */
  def pcaProject(
      df: DataFrame, vecCol: String, model: PcaModel,
      outCol: String = "pca"): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .withColumn(outCol,
        graft.functions.MatVec.matVec(col(vecCol), model.components))

  /** PER-DIMENSION EMBEDDING STATS + outlier census — the
    * feature-quality screen run before standardizing/whitening an
    * embedding corpus: per dimension the population mean and std
    * (round-then-DECIMAL sufficient sums — exact, order-free) and how
    * many cells sit beyond `outlierZ` standard deviations (a dimension
    * with a heavy outlier tail or near-zero variance is a broken
    * feature — dead ReLU, saturated logit — and poisons cosine
    * geometry downstream). Zero-variance dimensions emit NULL
    * `n_outliers` (the z-score is undefined there).
    *
    * Scale shape: one posexplode pass to (dim, cell) rows, one
    * dim-keyed aggregation (map-side combined, ≤ dim rows out), and
    * the ≤ dim-row stats dim broadcast back over a second cell pass
    * for the census — the corpus shuffles only (dim, partial-sum)
    * rows, never vectors.
    */
  def dimStats(
      df: DataFrame, vecCol: String, outlierZ: Double = 4.0): DataFrame = {
    require(outlierZ > 0, s"outlierZ must be positive, got $outlierZ")
    def d9(c: Column) = sum(round(c, 9).cast("decimal(38,9)")).cast("double")
    val cells = df.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col("dim"), col("__x").cast("double").as("__x"))
    val st = cells.groupBy("dim")
      .agg(count(lit(1)).as("n"), d9(col("__x")).as("__sx"),
        d9(col("__x") * col("__x")).as("__sxx"))
    val nD = col("n").cast("double")
    val m = st.select(col("dim"), col("n"),
      (col("__sx") / nD).as("mean"),
      sqrt((col("__sxx") - col("__sx") * col("__sx") / nD) / nD).as("std"))
    val o = cells.join(broadcast(m), Seq("dim"))
      .groupBy("dim")
      .agg(sum(when(col("std") > 0 &&
        abs((col("__x") - col("mean")) / col("std")) > outlierZ, 1L)
        .otherwise(0L)).as("__no"))
    m.join(o, Seq("dim"))
      .select(col("dim"), col("n"), col("mean"), col("std"),
        when(col("std") > 0, col("__no")).as("n_outliers"))
  }

  /** PER-DIMENSION STANDARDIZATION (z-scoring) of an embedding
    * corpus — the prep step before distance work when dimensions
    * carry wildly different scales (mixed-feature vectors, un-normed
    * model outputs): `z_j = (x_j − μ_j)/σ_j` with the population
    * μ/σ from [[dimStats]]'s exact round-then-DECIMAL sufficient
    * sums. Zero-variance dimensions standardize to NULL (the
    * [[dimStats]] undefined-z convention) so a dead feature is
    * VISIBLE downstream rather than silently zeroed.
    *
    * Scale shape: one posexplode pass to per-dim sufficient sums
    * (map-side combined, ≤ dim rows), the ≤ dim-row stats frame
    * broadcast back over a second cell pass, and one id-keyed
    * regroup to rebuild the vector — the corpus shuffles (id, dim,
    * z) cells once; no driver collect at any size. Returns
    * `(idCol, zvec array<double>)` with elements in dimension order.
    */
  def standardizeVectors(
      df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    def d9(c: Column) = sum(round(c, 9).cast("decimal(38,9)")).cast("double")
    val cells = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col("__id"), col("dim"), col("__x").cast("double").as("__x"))
    val nD = col("n").cast("double")
    val m = cells.groupBy("dim")
      .agg(count(lit(1)).as("n"), d9(col("__x")).as("__sx"),
        d9(col("__x") * col("__x")).as("__sxx"))
      .select(col("dim"), (col("__sx") / nD).as("mean"),
        sqrt((col("__sxx") - col("__sx") * col("__sx") / nD) / nD).as("std"))
    cells.join(broadcast(m), Seq("dim"))
      .select(col("__id"), col("dim"),
        when(col("std") > 0, (col("__x") - col("mean")) / col("std"))
          .as("__z"))
      .groupBy(col("__id"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim").as("d"), col("__z").as("z")))),
        s => s.getField("z")).as("zvec"))
      .select(col("__id").as(idCol), col("zvec"))
  }

  /** TOP PRINCIPAL COMPONENT by distributed POWER ITERATION — the
    * MATRIX-FREE PCA path: never materializes the dim² covariance
    * ([[pcaTrain]]'s route), so it survives dims where dim² is no
    * longer a constant (wide embeddings, token-level features). Each
    * iteration is one corpus pass: project every centered row onto
    * the current direction (`t = (x−μ)·w`, a generated left-to-right
    * chain), then re-accumulate the direction as per-dimension
    * round-then-DECIMAL(38,9) exact sums of `(x_j−μ_j)·t` — the
    * [[covarianceMatrix]] parity discipline, so both engines see
    * bit-identical sufficient statistics and the whole iteration
    * replays in SQL. The per-pass driver collect is ONE row of `dim`
    * decimals (bounded by contract, like the k-means recenter).
    *
    * Determinism pins: init `w₀ = 1/√dim` uniform; after each
    * normalize, `w` is rounded HALF_UP to 6 decimals (the k-means
    * centroid-resync convention) so the next pass's literals agree
    * across engines; `λ` is the pre-rounding ‖u‖₂ of the final pass.
    * A zero `λ` (rank-0 input) stops early and keeps the current
    * direction. Returns one row per dimension:
    * `(i, loading, eigenvalue, var_share)` with `var_share = λ /
    * Σ_j Var(x_j)` (total variance from the same exact sums).
    */
  def powerComponent(
      df: DataFrame, vecCol: String, dim: Int, iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (Seq((w, lam)), tv) = powerIterate(df, vecCol, dim, iters, k = 1)
    (0 until dim).map(j => (j, w(j), lam, lam / tv))
      .toDF("i", "loading", "eigenvalue", "var_share")
  }

  /** FIRST k = 2 PRINCIPAL COMPONENTS by power iteration with HOTELLING
    * DEFLATION — the two-component extension of [[powerComponent]] (same
    * matrix-free scale shape: never materializes dim², one corpus
    * pass per iteration, a dim-decimal driver collect per pass).
    * Component c power-iterates against the deflated operator
    * `C' = C − Σ_{p<c} λ_p·w_p·w_pᵀ`: the corpus pass still
    * re-accumulates `u = C·w` exactly as [[powerComponent]] does, and
    * the deflation `u −= (λ_p·(w_p·w))·w_p` is pure driver arithmetic
    * over the ≤k prior (dim-vector, λ) pairs — no extra corpus work,
    * so k components cost exactly k× the single-component passes.
    *
    * Determinism pins are [[powerComponent]]'s, applied per
    * component: uniform `w₀ = round6(1/√dim)` restart, round-6 HALF_UP
    * direction resync after every normalize, λ = pre-rounding ‖u‖₂ of
    * the final pass. Deflation arithmetic is pinned left-to-right:
    * `dot = Σ_j w_p,j·w_j` (ascending j) and the subtraction
    * `u_j − (λ_p·dot)·w_p,j` — so the whole k·iters chain replays in
    * SQL (q240 unrolls it stage-for-stage with MATERIALIZED direction
    * CTEs). Because directions are re-normalized from round-6
    * literals, deflation is approximate to ~1e-6 per prior component
    * — the documented price of cross-engine replay, immaterial for
    * the drift/visualization uses this feeds. Returns k·dim rows:
    * `(component ∈ 1..k, i, loading, eigenvalue, var_share)`.
    */
  def powerComponents(
      df: DataFrame, vecCol: String, dim: Int,
      iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (comps, tv) = powerIterate(df, vecCol, dim, iters, k = 2)
    comps.zipWithIndex.flatMap { case ((wc, lam), ci) =>
      (0 until dim).map(j => (ci + 1, j, wc(j), lam, lam / tv))
    }.toDF("component", "i", "loading", "eigenvalue", "var_share")
  }

  /** The power-iteration loop of [[powerComponent]] (k = 1) and
    * [[powerComponents]]: per component a uniform restart, `iters`
    * deflated [[powerPass]]es with a round-6 resync after each
    * normalize. Returns each component's (direction, λ) and the total
    * variance.
    */
  private def powerIterate(
      df: DataFrame, vecCol: String, dim: Int, iters: Int,
      k: Int): (Seq[(Array[Double], Double)], Double) = {
    require(dim >= k, s"power iteration: need dim >= $k, got $dim")
    require(iters >= 1, s"power iteration: need iters >= 1, got $iters")
    // fanOutSmall + stageNarrow (r15): the cleaned vector frame feeds
    // EVERY eager pass of the iteration — the base-stats count +
    // collect and k·iters [[powerPass]] collects. Probe (sf0.1):
    // unfanned, each pass's n·dim cell aggregation ran on the source's
    // ONE scan split (single task of ~128k exact DECIMAL adds,
    // ~1.2 s/pass warm); fanned to session parallelism it reads
    // 0.7–0.9 s/pass. The checkpoint then feeds all passes from memory
    // instead of re-running scan + size/null filter per pass. Values
    // unchanged (order-free decimal sums, lineage only); both levers
    // are structural no-ops at scale.
    val v = graft.core.PlanOps.stageNarrow(
      graft.core.PlanOps.fanOutSmall(
        df.select(col(vecCol).as("v"))
          .filter(col("v").isNotNull && size(col("v")) === dim &&
            !exists(col("v"), _.isNull))))
    val (n, mu, totVar) = powerBaseStats(v, dim)
    def round6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val comps = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Double)]
    while (comps.size < k) {
      var w = Array.fill(dim)(round6(1.0 / math.sqrt(dim.toDouble)))
      var lambda = 0.0
      var r = 0
      while (r < iters && (r == 0 || lambda > 0)) {
        val cw = powerPass(v, dim, mu, w, n)
        val wNow = w
        val u = comps.foldLeft(cw) { case (acc, (wp, lp)) =>
          val dot = (0 until dim).map(j => wp(j) * wNow(j)).reduceLeft(_ + _)
          Array.tabulate(dim)(j => acc(j) - (lp * dot) * wp(j))
        }
        lambda = math.sqrt(u.map(e => e * e).reduceLeft(_ + _))
        if (lambda > 0) w = u.map(e => round6(e / lambda))
        r += 1
      }
      comps += ((w, lambda))
    }
    (comps.toSeq, totVar)
  }

  /** (n, μ, totVar) for the power-iteration family via ONE NARROW
    * posexplode pass: per-dim exact round-then-DECIMAL sums grouped by
    * dimension index — value-identical to the former 2·dim-wide
    * single-row aggregate (decimal sums are exact and order-free, and
    * the oracle already replays this exact unnest + GROUP BY i shape),
    * but the generated class is a 2-aggregate plan instead of a
    * 129-aggregate one whose codegen source GENERATION alone cost more
    * than the data pass at fixture scale (measured: 3.9 s cold /
    * 1.5 s warm for 2,000 rows; narrow form ~0.2 s).
    */
  private def powerBaseStats(
      v: DataFrame, dim: Int): (Double, Array[Double], Double) = {
    def d9(c: Column) = sum(round(c, 9).cast("decimal(38,9)"))
    val n = v.count().toDouble
    require(n > 0, "powerComponent: no valid vectors")
    val rows = v.select(posexplode(col("v")).as(Seq("__i", "__xe")))
      .select(col("__i"), col("__xe").cast("double").as("__x"))
      .groupBy("__i")
      .agg(d9(col("__x")).as("s"), d9(col("__x") * col("__x")).as("q"))
      .collect()
    val s = new Array[java.math.BigDecimal](dim)
    val q = new Array[java.math.BigDecimal](dim)
    rows.foreach { r =>
      s(r.getInt(0)) = r.getDecimal(1); q(r.getInt(0)) = r.getDecimal(2)
    }
    val mu = Array.tabulate(dim)(j => s(j).doubleValue() / n)
    val totVar = (0 until dim)
      .map(j => q(j).doubleValue() / n - mu(j) * mu(j))
      .reduceLeft(_ + _)
    (n, mu, totVar)
  }

  /** One power pass `u = C·w/n` as a narrow cell plan: the per-row
    * projection `t = Σ_j (x_j − μ_j)·w_j` keeps its left-to-right fold
    * (μ/w ride a 1-row broadcast dim, so element_at is not
    * constant-folded and the generated class is STABLE across passes —
    * one Janino compile for all of q223's and q240's k·iters passes
    * combined), then per-dim exact sums of `round((x_j − μ_j)·t, 9)`
    * grouped by dimension index — value-identical to the former
    * dim-wide aggregate for the same order-free-decimal reason as
    * [[powerBaseStats]].
    */
  private def powerPass(v: DataFrame, dim: Int, mu: Array[Double],
      w: Array[Double], n: Double): Array[Double] = {
    val spark = v.sparkSession
    import spark.implicits._
    def d9(c: Column) = sum(round(c, 9).cast("decimal(38,9)"))
    def x(j: Int) = col("v").getItem(j).cast("double")
    val dims = Seq((mu.toSeq, w.toSeq)).toDF("__mu", "__w")
    val t = (0 until dim)
      .map(j => (x(j) - element_at(col("__mu"), j + 1)) *
        element_at(col("__w"), j + 1))
      .reduceLeft(_ + _)
    val rows = v.crossJoin(broadcast(dims))
      .withColumn("__t", t)
      .select(col("__t"), col("__mu"),
        posexplode(col("v")).as(Seq("__i", "__xe")))
      .groupBy("__i")
      .agg(d9((col("__xe").cast("double") -
        element_at(col("__mu"), col("__i") + 1)) * col("__t")).as("u"))
      .collect()
    val u = new Array[Double](dim)
    rows.foreach(r => u(r.getInt(0)) = r.getDecimal(1).doubleValue() / n)
    u
  }
}
