package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.PortableHash

/** Approximate frequency / cardinality sketches (SURVEY §2 extension:
  * the streaming-friendly summaries a 100 TB curation pipeline keeps
  * instead of exact tables when the exact answer would itself be
  * TB-sized).
  *
  * Both sketches here are expressed as PLAIN AGGREGATIONS over
  * key-derived hashes, which makes them
  *  - distributed-native: the map-side partial aggregate IS the
  *    per-partition sketch and the shuffle merge IS the sketch merge
  *    (CMS cells add; HLL registers max) — at most `depth*width` /
  *    `2^b` rows cross the exchange per partition, regardless of
  *    corpus size;
  *  - engine-portable: the md5-family [[graft.core.PortableHash]]
  *    hashes replay bit-identically in the DuckDB oracle (q84/q85),
  *    unlike a binary sketch blob, which could only be rows-checked.
  *
  * Production twins with xxhash64 in place of md5 are a one-line salt
  * swap (the [[graft.ops.DedupOps]] convention).
  */
object SketchOps {

  private def tokens(textCol: String): Column =
    filter(split(col(textCol), " "), t => t =!= "")

  /** Count-Min Sketch (Cormode & Muthukrishnan 2005) over the
    * whitespace tokens of `textCol`: a `depth × width` grid of
    * counters, cell `(r, h_r(x) mod width)` incremented for every
    * occurrence of token `x`. Emitted as a (r, bucket, cnt) frame of
    * at most `depth*width` rows — broadcastable state, built in ONE
    * corpus pass with map-side combine (each partition contributes
    * its own partial sketch; the shuffle adds cells).
    *
    * Collisions only ever ADD counts, so estimates are upper bounds:
    * `exact <= est <= exact + eps*N` w.p. `1 - delta` at
    * `width = ceil(e/eps)`, `depth = ceil(ln(1/delta))`.
    */
  def cmsSketch(
      df: DataFrame, textCol: String,
      depth: Int, width: Int, seed: Long): DataFrame = {
    require(depth > 0 && width > 0, s"depth/width must be positive")
    // fanOutSmall: depth portable-md5 draws per token are the heavy
    // stage; single-split scans otherwise run them on one task (no-op
    // at scale — guide §2.2)
    graft.core.PlanOps.fanOutSmall(df.select(col(textCol)))
      .select(explode(tokens(textCol)).as("tok"))
      .select(col("tok"), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r"),
        pmod(PortableHash.md5Long(col("tok"),
          concat_ws("#", lit(seed), col("r"))), lit(width)).as("bucket"))
      .groupBy("r", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query estimates for `keys` (a one-column frame of probe
    * strings) against a built sketch: `min` over the `depth` cells the
    * key hashes to. The sketch is at most `depth*width` rows, so the
    * join is a broadcast — probes never shuffle.
    */
  def cmsEstimate(
      sketch: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int, width: Int, seed: Long): DataFrame = {
    val probes = keys
      .select(col(keyCol), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col(keyCol), col("r"),
        pmod(PortableHash.md5Long(col(keyCol),
          concat_ws("#", lit(seed), col("r"))), lit(width)).as("bucket"))
    probes.join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(keyCol)
      // an unseen (r, bucket) cell is an implicit zero counter
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** HyperLogLog registers (Flajolet et al. 2007) over the whitespace
    * tokens of `textCol`: the 48-bit portable hash splits into a
    * `b`-bit bucket (top bits) and a `48-b`-bit suffix whose
    * leading-zero run length (+1) is the register value; registers
    * take the MAX per bucket. Output is the ≤ `2^b`-row register
    * frame — the sketch itself, exactly mergeable by register-wise
    * max, and the oracle-checkable part of HLL (the estimate is a
    * constant-size scalar postprocess, [[hllEstimate]]).
    *
    * `length(bin(low))` is the bit-length of the suffix — identical
    * semantics in Spark and DuckDB — so `rho = lowWidth -
    * bitlen(low) + 1`, with the all-zero suffix pinned to
    * `lowWidth + 1`.
    */
  def hllRegisters(
      df: DataFrame, textCol: String, b: Int, seed: Long): DataFrame =
    hllRegistersBy(df, Seq.empty, textCol, b, seed)

  /** Per-group HLL registers: one register frame per `groupCols`
    * combination — ≤ `2^b` rows per group, the constant-state
    * approximate-distinct-per-group that replaces an exact
    * `countDistinct` whose per-group key sets would be data-sized.
    * The single shuffle is on (group, bucket) with map-side max.
    */
  def hllRegistersBy(
      df: DataFrame, groupCols: Seq[String], textCol: String,
      b: Int, seed: Long): DataFrame = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    val lowWidth = 48 - b
    val h = PortableHash.md5Long48(concat_ws("#", col("tok"), lit(seed)))
    val low = h.bitwiseAND(lit((1L << lowWidth) - 1))
    // fanOutSmall: the portable-md5 per token is the heavy stage
    graft.core.PlanOps.fanOutSmall(
        df.select((groupCols :+ textCol).distinct.map(col): _*))
      .select(groupCols.map(col) :+ explode(tokens(textCol)).as("tok"): _*)
      .select(groupCols.map(col) ++ Seq(
        shiftright(h, lowWidth).as("bucket"),
        when(low === 0, lit(lowWidth + 1))
          .otherwise(lit(lowWidth + 1) - length(bin(low))).as("rho")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("rho_max"))
  }

  /** Per-group HLL estimates as a DataFrame — the distributed form of
    * [[hllEstimate]] (no driver collect): harmonic mean + bias
    * constant + small-range linear counting, all as column algebra
    * over the per-group register aggregate. Engine-portable: the
    * `2^-rho` terms are exact powers of two whose per-group sum spans
    * < 53 mantissa bits, so even the double accumulation is exact and
    * order-free; the final expression replays bit-level (log is the
    * one correctly-rounded-in-practice transcendental, the q64
    * precedent).
    */
  def hllEstimateBy(
      registers: DataFrame, groupCols: Seq[String], b: Int): DataFrame = {
    val m = 1 << b
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val agg = registers.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__np"),
        sum(pow(lit(2.0), -col("rho_max"))).as("__sp"))
    val zeros = lit(m) - col("__np")
    // absent buckets contribute 2^0 = 1 each to the harmonic sum
    val raw = lit(alpha * m * m) / (col("__sp") + zeros.cast("double"))
    agg.select(groupCols.map(col) :+
      when(raw <= lit(2.5 * m) && zeros > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
        .otherwise(raw).as("est_distinct"): _*)
  }

  /** Bloom filter bit set over the whitespace tokens of `textCol`:
    * each token sets `k` bits (`h_j(x) mod m`); emitted as the
    * distinct set-bit frame (≤ `m` rows of one long). Mergeable by
    * plain union+distinct, built in one corpus pass with map-side
    * distinct — the constant-size membership summary that replaces a
    * corpus-sized join when only "definitely absent / maybe present"
    * is needed (e.g. the decontamination pre-filter: probe benchmark
    * grams against the corpus bloom, full-join only the maybes).
    */
  def bloomBits(
      df: DataFrame, textCol: String, m: Int, k: Int, seed: Long): DataFrame = {
    require(m > 0 && k > 0, "m/k must be positive")
    df.select(explode(tokens(textCol)).as("tok"))
      .select(col("tok"), explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(pmod(PortableHash.md5Long(col("tok"),
        concat_ws("#", lit(seed), col("j"))), lit(m)).as("bit"))
      .distinct()
  }

  /** Membership probes against a built bit set: a key is
    * `maybe_present` iff ALL `k` of its bits are set (no false
    * negatives; false positives at the standard `(1-e^{-kn/m})^k`
    * rate). The bit frame is ≤ `m` rows, so the probe join is a
    * broadcast — probes never shuffle.
    */
  def bloomProbe(
      bits: DataFrame, keys: DataFrame, keyCol: String,
      m: Int, k: Int, seed: Long): DataFrame = {
    val probes = keys
      .select(col(keyCol), explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(col(keyCol), pmod(PortableHash.md5Long(col(keyCol),
        concat_ws("#", lit(seed), col("j"))), lit(m)).as("bit"))
    probes.join(broadcast(bits.withColumn("__set", lit(1))), Seq("bit"), "left")
      .groupBy(keyCol)
      .agg((count(col("__set")) === lit(k.toLong)).as("maybe_present"))
  }

  /** The HLL cardinality estimate from a register frame: harmonic mean
    * with the standard bias constant and the small-range
    * linear-counting correction. The register frame is ≤ `2^b` rows —
    * constant-size state — so the driver-side fold here is the
    * broadcast-dim contract, fine at any corpus scale.
    */
  def hllEstimate(registers: DataFrame, b: Int): Double = {
    val m = 1 << b
    val regs = registers.select("bucket", "rho_max").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val zeros = m - regs.size
    val sum = (0 until m).map(j => math.pow(2.0, -regs.getOrElse(j.toLong, 0).toDouble)).sum
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val e = alpha * m * m / sum
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }

  /** Log-binned bucket id of a positive value (HDR-histogram shape):
    * scale to integer micros, exponent = floor(log2) via the EXACT
    * `length(bin(x)) - 1` trick (both engines' `bin()` emits the
    * minimal binary string — no libm log whose last ulp could flip a
    * floor at power-of-2 boundaries), plus `subBins` linear sub-bins
    * within each octave. Relative bucket width is 1/subBins.
    */
  def hdrBucket(value: Column, subBins: Int): Column = {
    val x = round(value.cast("double") * 1e6).cast("long")
    val e = (length(bin(x)) - 1).cast("long")
    val p = pow(lit(2.0), e).cast("long") // exact for e <= 52
    val sub = floor((x - p).cast("double") * subBins / p).cast("long")
    e * subBins + sub
  }

  /** Mergeable per-group quantile sketch: log-binned counts (≤ 64 ×
    * 16 buckets per group — constant state like CMS/HLL: the
    * map-side partial aggregate IS the per-partition sketch and the
    * shuffle merge IS the sketch merge, counts adding), then each
    * requested probability resolves to the first bucket whose
    * cumulative count reaches ceil(p·N), reported as the bucket's
    * lower edge — an underestimate by at most one bucket, i.e.
    * relative error ≤ 1/16 (+ the 1e-6 micros quantization).
    * NULL and non-positive values are excluded by contract (log
    * binning needs a positive domain; shift or split by sign
    * upstream). All binning and target arithmetic is exact integer
    * math, so the whole sketch replays row-level in DuckDB (q124).
    */
  def hdrQuantiles(
      df: DataFrame, valueCol: String, groupCol: String,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1))
    val subBins = 16
    val b = df
      .filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(col(groupCol).as("g"),
        hdrBucket(col(valueCol), subBins).as("bucket"))
      .groupBy("g", "bucket").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("bucket")
    val cum = b.withColumn("cum", sum(col("n")).over(w))
    val targets = b.groupBy("g").agg(sum(col("n")).as("n_total"))
      .select(col("g"), col("n_total"), explode(typedlit(probs)).as("p"))
      .withColumn("target", ceil(col("p") * col("n_total")).cast("long"))
    val est = {
      val e = (col("bucket") / subBins).cast("long")
      val sub = col("bucket") % subBins
      val pe = pow(lit(2.0), e)
      (pe * (lit(subBins.toDouble) + sub) / subBins) / 1e6
    }
    targets.join(cum, Seq("g"))
      .filter(col("cum") >= col("target"))
      .groupBy("g", "p", "n_total").agg(min(col("bucket")).as("bucket"))
      .select(col("g"), col("p"), est.as("estimate"), col("n_total"))
  }

  /** [[cmsSketch]] over a KEY COLUMN (any type, hashed via its string
    * form) instead of whitespace tokens — the frequency-vector sketch
    * of a join key's value distribution, the input to
    * [[joinSizeEstimate]]. Same contract: ≤ depth×width rows, one
    * corpus pass, map-side partial sketches merged by the shuffle add.
    */
  def cmsKeySketch(
      df: DataFrame, keyCol: String,
      depth: Int, width: Int, seed: Long): DataFrame = {
    require(depth > 0 && width > 0, s"depth/width must be positive")
    // fanOutSmall: depth portable-md5 draws per key (see cmsSketch)
    graft.core.PlanOps.fanOutSmall(df.select(col(keyCol).as("k")))
      .select(col("k"), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r"),
        pmod(PortableHash.md5Long(col("k"),
          concat_ws("#", lit(seed), col("r"))), lit(width)).as("bucket"))
      .groupBy("r", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** JOIN-SIZE ESTIMATION from two [[cmsKeySketch]] frames built with
    * the same (depth, width, seed): the inner-product estimator of
    * Cormode & Muthukrishnan 2005 §4.2 — `|A ⋈ B| = Σ_v fA(v)·fB(v)`
    * is estimated per sketch row as `Σ_b A[r,b]·B[r,b]` and folded
    * with MIN over the depth rows (bucket collisions only ever ADD
    * cross terms, so every row individually over-estimates:
    * `exact ≤ est ≤ exact + eps·‖fA‖₁·‖fB‖₁` w.p. 1-δ at
    * width = e/eps). This is the shuffle-planning primitive: decide
    * salting / broadcast / AQE hints for a join WITHOUT running it —
    * both sketches are ≤ depth×width rows, so the estimate costs two
    * linear scans and constant-size math at any corpus scale.
    *
    * Products accumulate in DECIMAL(38,0): two petabyte-scale
    * frequency vectors can put `Σ cnt_a·cnt_b` past 2^63.
    */
  def joinSizeEstimate(sketchA: DataFrame, sketchB: DataFrame): DataFrame = {
    val a = sketchA.select(col("r"), col("bucket"), col("cnt").as("cnt_a"))
    val b = sketchB.select(col("r"), col("bucket"), col("cnt").as("cnt_b"))
    a.join(b, Seq("r", "bucket"))
      .groupBy("r")
      .agg(sum(col("cnt_a").cast("decimal(38,0)") * col("cnt_b"))
        .as("row_est"))
      .agg(min(col("row_est")).cast("long").as("est_join_rows"))
  }

  /** TWO-PASS HEAVY HITTERS: every value of `valueCol` with frequency
    * ≥ `minFrac` of the rows, with its EXACT count — at any corpus
    * size. Pass 1 is a [[graft.functions.MisraGries]] global
    * aggregation (k-bounded buffers, `k × tasks` rows cross the
    * exchange — never a value-keyed shuffle of the full column);
    * pass 2 exactly counts only the ≤ k surviving candidates behind a
    * broadcast semi-join and applies the threshold.
    *
    * Correctness contract: requires `minFrac > 1/(k+1)` — the MG
    * guarantee then ensures every qualifying value SURVIVES pass 1
    * (no false negatives), and exact pass-2 counts remove the false
    * positives, so the output is DETERMINISTIC (the order-dependent
    * MG counts never reach it). Output: `(value, cnt)`,
    * `cnt ≥ ceil(minFrac · N)`.
    */
  def heavyHitters(
      df: DataFrame, valueCol: String, k: Int,
      minFrac: Double): DataFrame = {
    require(minFrac > 1.0 / (k + 1),
      s"minFrac=$minFrac must exceed 1/(k+1)=${1.0 / (k + 1)} for the " +
        "no-false-negative guarantee")
    val vals = df.select(col(valueCol).cast("string").as("value"))
    val cand = vals
      .agg(graft.functions.MisraGries.mgUdaf(k)(col("value")).as("cs"))
      .select(explode(col("cs")).as("c"))
      .select(col("c._1").as("value"))
    val tot = vals.agg(count(lit(1)).as("__n"))
    vals.join(broadcast(cand), Seq("value"), "left_semi")
      .groupBy("value").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") >= ceil(col("__n") * minFrac))
      .select(col("value"), col("cnt"))
  }

  /** 2^60 as a double — the normalizer for [[graft.core.PortableHash]]
    * 60-bit hashes (exact in IEEE-754: a power of two).
    */
  private val Hash60Range: Double = 1152921504606846976.0

  /** K-Minimum-Values distinct sketch (Bar-Yossef et al. 2002; Beyer
    * et al. 2007) of `valueCol`: the `k` smallest DISTINCT portable
    * hashes of the column's values, as a ≤ k-row ascending `(h)`
    * frame. Unlike HLL this sketch supports SET ALGEBRA downstream
    * ([[kmvOverlap]]): union/intersection/Jaccard estimates between
    * two sources come from buffer membership, which HLL registers
    * cannot answer (register max loses the identities).
    *
    * Scale shape: the [[graft.functions.KMinDistinct]] `Aggregator`
    * keeps one ≤ k-long sorted buffer per map task, so the exchange
    * carries `k × tasks` longs — NOT the distinct key stream a
    * `distinct().orderBy().limit(k)` plan would shuffle. Output is
    * ≤ k rows: driver-safe, parquet-persistable, mergeable (union two
    * sketch frames and re-take the k smallest).
    */
  def kmvSketch(
      df: DataFrame, valueCol: String, k: Int, seed: Long): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val agg = graft.functions.KMinDistinct.kMinUdaf(k)
    // fanOutSmall: one portable-md5 per value, k-min is order-free
    graft.core.PlanOps.fanOutSmall(df.select(col(valueCol)))
      .select(PortableHash.md5Long(col(valueCol), lit(seed)).as("h"))
      .agg(agg(col("h")).as("ks"))
      .select(explode(col("ks")).as("h"))
  }

  /** Set-overlap estimates between two [[kmvSketch]] frames built with
    * the SAME `k` and seed (Beyer et al. 2007 §4): the k smallest of
    * the combined buffers form K(A∪B) (the k-min of a union is the
    * k-min of the per-side k-mins), membership of those k values in
    * both sides estimates Jaccard `ρ = m/k`, and
    * `intersection ≈ ρ × |A∪B|`. One row:
    * `(k_used, jaccard_est, union_est, intersect_est)` — `k_used < k`
    * means the union was small enough to be EXACT. Both inputs are
    * ≤ k rows, so every join here is a broadcast and the whole
    * estimate is constant work regardless of source size.
    */
  def kmvOverlap(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val u = a.select("h").unionByName(b.select("h")).distinct()
      .orderBy("h").limit(k)
    val flagged = u
      .join(broadcast(a.select(col("h"), lit(1L).as("in_a"))), Seq("h"), "left")
      .join(broadcast(b.select(col("h"), lit(1L).as("in_b"))), Seq("h"), "left")
    val agg = flagged.agg(
      count(lit(1)).as("k_used"), max(col("h")).as("hk"),
      sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
        .otherwise(0L)).as("m_both"))
    val unionEst = when(col("k_used") < k, col("k_used").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(Hash60Range) /
        col("hk").cast("double"))
    val jacc = col("m_both").cast("double") / col("k_used").cast("double")
    agg.select(col("k_used"), jacc.as("jaccard_est"),
        unionEst.as("union_est"))
      .select(col("k_used"), col("jaccard_est"), col("union_est"),
        (col("jaccard_est") * col("union_est")).as("intersect_est"))
  }
}
