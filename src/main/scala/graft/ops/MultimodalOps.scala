package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; decode / feature-extract /
  * frame-sample run per-partition so a real codec would amortize its
  * setup cost across a batch of rows (the Spark-idiomatic equivalent of
  * batched pandas-UDF processing).
  *
  * The decode step itself is a STUB — media codecs are not available in
  * this environment — but it is a *deterministic* stub (bytes → fake
  * frame matrix), so the surrounding plumbing (schema, partitioning,
  * batch iteration, downstream vector ops) is real and testable, and
  * swapping in a true decoder changes one function.
  *
  * Scale notes: payloads never shuffle unless a stage needs them —
  * keep metadata and features in separate columns so column pruning
  * drops the bytes for metadata-only queries; repartition by id range
  * before decode so each task holds a bounded byte volume.
  */
object MultimodalOps {

  /** Canonical multimodal bundle schema. */
  val bundleSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("dim", IntegerType))))))

  /** A decoded row: id + frame matrix. */
  final case class DecodedFrames(id: Long, frames: Array[Array[Float]])

  /** Wrap a (id, payload-bytes) DataFrame into the bundle shape,
    * deriving metadata columns WITHOUT decoding (pure column exprs, so
    * metadata-only queries prune the payload entirely).
    */
  def bundle(df: DataFrame, idCol: String, payloadCol: String,
      mime: String, frameBytes: Int, dim: Int): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      lit(mime).as("mime"),
      col(payloadCol).cast("binary").as("payload"),
      struct(
        length(col(payloadCol).cast("binary")).cast("int").as("n_bytes"),
        ceil(length(col(payloadCol).cast("binary")) / frameBytes.toDouble)
          .cast("int").as("n_frames"),
        lit(dim).cast("int").as("dim")).as("meta"))

  /** STUB decoder: deterministic fake frames from payload bytes.
    * frame[f][d] = (byte[(f*dim+d) mod len] signed) / 128. A real
    * implementation replaces only this function (e.g. JPEG → RGB
    * planes); the signature and batch shape are the contract.
    */
  private[ops] def decodeBytes(payload: Array[Byte], nFrames: Int, dim: Int): Array[Array[Float]] =
    if (payload == null || payload.isEmpty) Array.empty
    else Array.tabulate(nFrames) { f =>
      Array.tabulate(dim) { d =>
        payload((f * dim + d) % payload.length).toFloat / 128.0f
      }
    }

  /** Decode a bundle to (id, frames) — runs per-partition so codec
    * setup happens once per task, not per row (the mapInPandas-shaped
    * boundary).
    */
  def decodeFrames(bundles: DataFrame): Dataset[DecodedFrames] = {
    val spark = bundles.sparkSession
    import spark.implicits._
    bundles
      .select(col("id"), col("payload"),
        col("meta.n_frames").as("n_frames"), col("meta.dim").as("dim"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        // per-task decoder init would go here (one codec per partition)
        rows.map { case (id, payload, nFrames, dim) =>
          DecodedFrames(id, decodeBytes(payload, nFrames, dim))
        }
      }
  }

  /** Per-frame mean feature over decoded frames — a representative
    * downstream vector op proving the decoded shape composes with
    * [[VectorOps]] (pad, mask, sample, pool).
    */
  def frameMeans(decoded: Dataset[DecodedFrames]): DataFrame = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.map { d =>
      val means = d.frames.map(f => if (f.isEmpty) 0.0 else f.map(_.toDouble).sum / f.length)
      (d.id, means)
    }.toDF("id", "frame_means")
  }

  /** Reshape a flat embedding into `nFrames` consecutive frame vectors
    * of `dim` each (row-major) — the interop shim between a pooled
    * per-item embedding column and the frame-sequence operators below.
    */
  def reshapeFrames(vec: Column, nFrames: Int, dim: Int): Column =
    transform(sequence(lit(0), lit(nFrames - 1)),
      f => slice(vec, f * dim + 1, lit(dim)))

  /** Cosine similarity between each consecutive frame pair:
    * `array<array<float>>` → `array<double>` of length nFrames-1.
    * Pure column algebra (exact left-to-right double folds, oracle-
    * replayable); an all-zero frame yields cosine 0 (guarded
    * denominator), matching the convention in
    * [[graft.functions.CosineSimilarity]].
    */
  def consecutiveFrameCosines(frames: Column): Column = {
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) =>
        x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    def nrm(a: Column): Column = sqrt(dot(a, a))
    transform(
      when(size(frames) >= 2, sequence(lit(1), size(frames) - 1))
        .otherwise(array().cast("array<int>")),
      i => {
        val a = element_at(frames, i)
        val b = element_at(frames, i + 1)
        val d = nrm(a) * nrm(b)
        when(d === 0.0, 0.0).otherwise(dot(a, b) / d)
      })
  }

  /** Shot boundaries from a consecutive-cosine column
    * ([[consecutiveFrameCosines]]): structs (i, c) at the 1-based
    * positions where the cosine drops below `tau` (boundary at i means
    * frames i and i+1 belong to different shots). `zip_with` traverses
    * the cosine array once per reference — pass an already-projected
    * cosines column, not the frame expression, so the O(F·dim) cosine
    * work is not re-evaluated inside the scan (HOFs get no
    * common-subexpression elimination).
    */
  def shotBoundaries(cosines: Column, tau: Double): Column =
    when(size(cosines) === 0,
        array().cast("array<struct<i:int,c:double>>"))
      .otherwise(filter(
        zip_with(cosines, sequence(lit(1), size(cosines)),
          (c, i) => struct(i.as("i"), c.as("c"))),
        s => s.getField("c") < tau))

  /** Per-frame AUDIO-style features over a flat signal viewed as
    * `nFrames` frames of `frameLen` samples: short-time ENERGY
    * (`Σ x²`, the exact left-to-right double fold — replayable as an
    * unrolled chain, q139) and ZERO-CROSSING RATE (count of adjacent
    * sign flips, `x_i·x_{i+1} < 0` — exact integer) — the classic VAD
    * / speech-music front-end statistics, as pure column algebra with
    * no audio libraries (the decode stage stays the documented stub
    * boundary; these run on ANY decoded float signal). Output
    * `array<struct<energy double, zcr int>>`, one element per frame.
    */
  def frameFeatures(vec: Column, nFrames: Int, frameLen: Int): Column =
    transform(reshapeFrames(vec, nFrames, frameLen), f => struct(
      aggregate(f, lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double")).as("energy"),
      size(filter(
        zip_with(slice(f, 1, frameLen - 1), slice(f, 2, frameLen - 1),
          (a, b) => a.cast("double") * b.cast("double") < 0),
        b => b)).as("zcr")))

  /** AVERAGE HASH (aHash) of a decoded grayscale cell grid — the
    * classic perceptual image fingerprint: each of the `cells` pixels
    * contributes one bit, set when the pixel sits above the image
    * MEAN. Returned as a `struct(hi, lo)` of two `cells/2`-bit
    * positive longs (two halves keep every value inside signed-64 /
    * DuckDB-replayable range). The mean is the left-to-right double
    * fold (`list_sum` parity); the bit packs are integer folds —
    * value-exact in any engine. Rows whose grid is not exactly
    * `cells` long — or containing a NULL cell — hash to NULL
    * (malformed decode — surface, don't guess; without the null-cell
    * guard a NULL mean would silently zero every bit and two
    * corrupted grids would match as Hamming-0 near-dups). Same NULL
    * contract as the fused [[graft.functions.AverageHashHalves]]. Downstream of the [[decodeFrames]]/
    * [[graft.functions.ResizeBilinear]] pipeline: decode → resize to
    * the 8×8 thumb → `averageHash` → [[imageNearDups]].
    */
  def averageHash(vec: Column, cells: Int = 64): Column = {
    // <= 64 keeps each 32-bit half strictly inside signed-64 range in
    // every engine (DuckDB hard-errors on BIGINT overflow)
    require(cells >= 2 && cells % 2 == 0 && cells <= 64,
      s"cells must be even, 2..64, got $cells")
    val d = transform(vec, x => x.cast("double"))
    val mean = aggregate(d, lit(0.0), (a, x) => a + x) /
      lit(cells.toDouble)
    val half = cells / 2
    def pack(from: Int): Column =
      aggregate(sequence(lit(from), lit(from + half - 1)), lit(0L),
        (acc, i) => acc * 2 +
          when(element_at(d, i + 1) > mean, 1L).otherwise(0L))
    when(size(vec) === cells && !exists(vec, x => x.isNull),
      struct(pack(0).as("hi"), pack(half).as("lo")))
  }

  /** Image NEAR-DUP pairs by aHash Hamming distance: hash every row
    * ([[averageHash]]), generate candidates by 4-band LSH over the
    * hash bits (16-bit band values join on equality — by pigeonhole
    * the candidate set is EXACT for `maxHamming < 4`: at most 3
    * flipped bits cannot touch all four bands), verify with
    * `popcount(xor)` at the join, emit `(id_a, id_b, hamming)` with
    * `id_a < id_b`.
    *
    * Scale shape: only (id, hi, lo, band, value) longs shuffle — the
    * pixel grids never leave the hash stage; per-band buckets are the
    * SimHash-dedup join geometry (cap/salt the same way if a
    * degenerate corpus floods one bucket).
    */
  def imageNearDups(
      df: DataFrame, idCol: String, vecCol: String, maxHamming: Int): DataFrame =
    nearDupsFromHashes(df
      // fused one-pass expression; the composable [[averageHash]] is
      // its bit-identical differential twin (the HOF form re-evaluates
      // the mean fold inside every pack step — O(cells²)/row)
      .withColumn("__h", graft.functions.AverageHashHalves
        .averageHashHalves(col(vecCol))),
      idCol, maxHamming)

  /** [[imageNearDups]] with the DCT perceptual hash
    * ([[graft.functions.DctHashHalves]], 8×8 grids only) instead of
    * aHash: frequency-structure bits survive the global brightness /
    * contrast shifts that flip every mean-threshold bit at once, at
    * the price of the 2×(8-term fold)/cell DCT in the hash pass. Same
    * banding, verify, and scale shape — only (id, hi, lo, band, value)
    * longs ever shuffle.
    */
  def imageNearDupsDct(
      df: DataFrame, idCol: String, vecCol: String, maxHamming: Int): DataFrame =
    nearDupsFromHashes(df
      .withColumn("__h", graft.functions.DctHashHalves.dctHashHalves(col(vecCol))),
      idCol, maxHamming)

  /** Shared candidate+verify stage over a `__h struct(hi, lo)` hash
    * column: 4-band 16-bit LSH (pigeonhole-exact for Hamming < 4),
    * `popcount(xor)` verify at the join, `(id_a, id_b, hamming)` out.
    */
  private def nearDupsFromHashes(
      withHash: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"banded candidates are exact only for maxHamming < 4, got $maxHamming")
    val hashed = withHash
      .filter(col("__h").isNotNull)
      .select(col(idCol).as("__id"), col("__h.hi").as("__hi"),
        col("__h.lo").as("__lo"))
    val m16 = lit(65535L)
    val bands = hashed.select(col("__id"), col("__hi"), col("__lo"),
      explode(array(
        struct(lit(0).as("band"),
          shiftrightunsigned(col("__hi"), 16).bitwiseAND(m16).as("bv")),
        struct(lit(1).as("band"), col("__hi").bitwiseAND(m16).as("bv")),
        struct(lit(2).as("band"),
          shiftrightunsigned(col("__lo"), 16).bitwiseAND(m16).as("bv")),
        struct(lit(3).as("band"), col("__lo").bitwiseAND(m16).as("bv"))))
        .as("__b"))
      .select(col("__id"), col("__hi"), col("__lo"),
        col("__b.band").as("__band"), col("__b.bv").as("__bv"))
    val a = bands.select(col("__band"), col("__bv"),
      col("__id").as("id_a"), col("__hi").as("__ha"), col("__lo").as("__la"))
    val b = bands.select(col("__band"), col("__bv"),
      col("__id").as("id_b"), col("__hi").as("__hb"), col("__lo").as("__lb"))
    val ham = bit_count(col("__ha").bitwiseXOR(col("__hb"))) +
      bit_count(col("__la").bitwiseXOR(col("__lb")))
    a.join(b, Seq("__band", "__bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__ha"), col("__la"),
        col("__hb"), col("__lb"))
      .distinct()
      .withColumn("hamming", ham)
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
