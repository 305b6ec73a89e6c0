package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources and sinks for the reference's data formats (SURVEY §2.1),
  * with the engine rule that every scan declares an EXPLICIT schema —
  * `inferSchema` is never used in the engine proper (schema drift is an
  * error, not a guess; SURVEY §1.3).
  */
object Sources {

  /** Annotation-table schema (reference annotation JSON files;
    * fields per `src/data_helper.py:31-57`, `src/inference.py:51`).
    * `category_id` is nullable — null on unlabeled/test rows, subsuming
    * the reference's `test` flag (`src/data_helper.py:36-38`).
    */
  val annotationSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("title", StringType),
    StructField("asr", StringType),
    StructField("ocr", ArrayType(StructType(Seq(
      StructField("time", DoubleType),
      StructField("text", StringType))))),
    StructField("category_id", StringType, nullable = true)))

  /** Ground-truth / result CSV schema (reference `src/evaluate.py:7-10`,
    * `src/inference.py:49-53`): `vid,category_id`, no header.
    */
  val resultCsvSchema: StructType = StructType(Seq(
    StructField("vid", StringType, nullable = false),
    StructField("category_id", StringType, nullable = false)))

  /** OP-01: JSON annotation scan — whole-array JSON files need
    * multiLine; schema is mandatory.
    */
  def readAnnotations(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(annotationSchema).option("multiLine", "true").json(path)

  /** OP-08: CSV ground-truth/result scan (no header). */
  def readResultCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(resultCsvSchema).option("header", "false").csv(path)

  /** JSONL scan with CORRUPT-RECORD QUARANTINE — the ingest-hygiene
    * contract for crawled line-JSON at scale: a malformed line must
    * neither kill the job (FAILFAST) nor silently become an all-null
    * row (plain PERMISSIVE). PERMISSIVE mode routes each bad line's
    * raw text into `_corrupt_record`; the return splits on it —
    * `(good rows, quarantine rows (raw line))` — so the pipeline
    * processes the good frame and persists the quarantine for triage
    * (count it, alert on rate, replay after a parser fix). Spark
    * requires the corrupt-record column referenced alone to be
    * materialized from a cache or raw plan — handled here, not by
    * every caller.
    */
  def readJsonlWithQuarantine(
      spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(
      schema.fields :+ StructField("_corrupt_record", StringType, nullable = true))
    // PERMISSIVE + a raw-text pushdown barrier: Spark refuses queries
    // that filter/select ONLY the corrupt column over a direct JSON
    // scan (the internal-column pushdown restriction), so split from a
    // parsed frame of the raw lines instead of the file scan.
    val raw = spark.read.text(path)
    val parsed = raw.select(
      from_json(col("value"), withCorrupt,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("j"),
      col("value"))
    val good = parsed
      .filter(col("j._corrupt_record").isNull && col("j").isNotNull)
      .select(schema.fieldNames.map(f => col(s"j.$f")): _*)
    val quarantine = parsed
      .filter(col("j._corrupt_record").isNotNull || col("j").isNull)
      .select(col("value").as("raw"))
    (good, quarantine)
  }

  /** OP-07: CSV result sink — `(vid, category_id)`, no header, one part
    * per task (coalesce for a single file only at driver-output sizes).
    */
  def writeResultCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = df.select(col("vid").cast("string"), col("category_id").cast("string"))
    (if (singleFile) out.coalesce(1) else out)
      .write.mode(SaveMode.Overwrite).option("header", "false").csv(path)
  }

  /** OP-02/03 analog: binary-file scan keyed by filename-derived id —
    * the ingest path for per-id feature files (`{id}.npy`-style). The
    * payload stays opaque (see MultimodalOps for decode).
    */
  def readBinaryById(spark: SparkSession, dir: String, extension: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", s"*.$extension")
      .load(dir)
      .select(
        regexp_extract(col("path"), s"([^/]+)\\.$extension$$", 1).as("id"),
        col("content").as("payload"),
        col("length").as("n_bytes"))

  /** OP-02/03: per-id `.npy` feature scan — the binary scan composed
    * with the real NPY decode ([[graft.functions.NpyDecode]] over
    * [[Npy]], fp16→fp32), yielding
    * `(id string, frames array<array<float>>)`. This is the engine's
    * end-to-end path for the reference's `{id}.npy` feature files.
    */
  def readNpyById(spark: SparkSession, dir: String): DataFrame =
    readBinaryById(spark, dir, "npy")
      .select(col("id"), graft.functions.NpyDecode.frames(col("payload")).as("frames"))

  /** OP-15 support: load a WordPiece vocabulary file — one token per
    * line, line number = token id (the BERT `vocab.txt` layout; the
    * reference pins vocab_size 21128, `src/albef.py:27`). The vocab is
    * a DRIVER-side artifact: it ships inside the serialized
    * [[graft.functions.WordPieceTokenize]] expression like a broadcast
    * dim, so this is a small driver read, not a DataFrame scan — but it
    * goes through the Hadoop FS API so HDFS/S3A/file paths all work on
    * a cluster. Order is preserved (ids are positional); `readLine`
    * strips any of \n, \r\n, \r, so a trailing newline never yields a
    * phantom entry; interior blank lines are kept as entries (their id
    * must not shift later tokens).
    */
  def readVocab(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(reader.readLine()).takeWhile(_ != null).toVector
    finally reader.close()
  }

  /** OP-05: sharded parquet sink — fixed-size shards as a partitioned
    * dataset (`write.partitionBy`), replacing the reference's manual
    * 50k-row `.npy` shard loop (`src/split_pretrain_data.py:28-35`).
    */
  def writeSharded(df: DataFrame, idCol: String, chunkSize: Int, path: String): Unit =
    graft.ops.SplitOps.chunkBy(df, idCol, chunkSize)
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(path)

  /** Bucketed parquet table sink — the co-located-join layout for keys
    * that are joined REPEATEDLY at scale (fact-to-fact joins too big to
    * broadcast). Both sides written with the same `buckets` count on the
    * join key hash-place matching keys in matching files, so the join
    * plans with NO Exchange on either side (the spec asserts this on
    * the physical plan): at 100 TB that deletes the dominant shuffle of
    * every downstream join/aggregation on that key, at the cost of one
    * up-front bucketed write. Bucketed tables require the catalog
    * (`saveAsTable`) — plain `parquet(path)` has nowhere to record the
    * bucket spec.
    */
  def writeBucketed(
      df: DataFrame, table: String, buckets: Int, keyCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit =
    writeBucketedMode(df, table, buckets, keyCols, sortCols, SaveMode.Overwrite)

  /** Append a batch to an existing bucketed table (bucket spec must
    * match the original write — Spark enforces it). The incremental
    * path of the standing-deployment contract: each append adds files
    * per bucket, and every downstream bucket-keyed join/scan keeps its
    * zero-exchange property because the table's distribution is
    * unchanged.
    */
  def appendBucketed(
      df: DataFrame, table: String, buckets: Int, keyCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit =
    writeBucketedMode(df, table, buckets, keyCols, sortCols, SaveMode.Append)

  private def writeBucketedMode(
      df: DataFrame, table: String, buckets: Int, keyCols: Seq[String],
      sortCols: Seq[String], mode: SaveMode): Unit = {
    val w = df.write.mode(mode)
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Hive-partitioned parquet sink — the partition-PRUNING layout for
    * columns that are FILTERED repeatedly at scale (lang, source,
    * date). Each distinct partition-column combination becomes its own
    * directory (`lang=en/...`), so a filtered read never opens the
    * other directories at all: at 100 TB a `lang = 'en'` scan touches
    * 1/|langs| of the files, enforced by the planner's
    * PartitionFilters (spec-asserted on the physical plan), not by
    * row-level filtering. Choose LOW-cardinality columns — one
    * directory (and ≥ 1 file) per combination; high-cardinality keys
    * belong in [[writeBucketed]] instead.
    */
  def writeHivePartitioned(
      df: DataFrame, path: String, partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "need at least one partition column")
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*)
      .parquet(path)
  }

  /** SMALL-FILE COMPACTION — the table-maintenance pass every
    * long-running ingest needs: streaming/incremental appends leave
    * thousands of KB-sized files whose per-file open/footer/task cost
    * eventually dominates scans (the classic small-file problem). Reads
    * the directory, sizes the REWRITE from the measured on-disk bytes
    * (`targetBytes` per output file, ≥ 1 file), writes to `tmpPath`,
    * verifies the rewrite carries the exact same rows via the
    * order-free [[contentManifest]] hash, and only then swaps it into
    * place — a failed verify leaves the original untouched (compaction
    * must never be able to lose data). Returns (filesBefore,
    * filesAfter).
    *
    * Scale shape: one read + one `repartition(n)` round-robin shuffle
    * of the data (unavoidable — coalesce would skip the shuffle but
    * chains the small files' partitioning into every later scan and
    * cannot split an unlucky large partition); the manifest check is
    * one aggregate per side. Partition-column layouts should compact
    * per partition directory (compose with
    * [[writeHivePartitioned]]'s directory structure).
    */
  def compactParquet(
      spark: SparkSession, path: String, tmpPath: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, "compactParquet: targetBytes must be positive")
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(hadoopPath)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val before = contentManifest(df)
    df.repartition(nOut).write.mode(SaveMode.Overwrite).parquet(tmpPath)
    val after = contentManifest(spark.read.parquet(tmpPath))
    require(after == before,
      s"compaction manifest mismatch (rows/hash/schema): $before vs $after — " +
        "original left untouched")
    fs.delete(hadoopPath, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmpPath), hadoopPath),
      s"rename $tmpPath -> $path failed")
    val outFiles = fs.listStatus(hadoopPath)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (parts.length, outFiles)
  }

  /** Morton (Z-order) key over `zCols`, appended as `outCol` — the
    * multi-column DATA-SKIPPING layout key: each column is
    * quantile-binned to `bits` bits (approx-percentile cutoffs on a
    * 1-row broadcast — the [[graft.ops.CurationOps.quantileBuckets]]
    * scalar contract, skew-proof where equal-width bins are not) and
    * the bin bits INTERLEAVE, so rows close in z are close in EVERY
    * clustered dimension at once. Binning is a generated
    * balanced-comparison tree (depth = `bits`, no interpreted HOF
    * scan); the interleave is pure shift/or arithmetic. NULLs bin to
    * 0.
    */
  def zOrderKey(
      df: DataFrame, zCols: Seq[String], bits: Int = 8,
      outCol: String = "__z"): DataFrame = {
    require(zCols.nonEmpty, "zOrderKey: need at least one column")
    require(bits >= 1 && bits * zCols.size <= 62,
      s"bits * cols must fit a long, got $bits x ${zCols.size}")
    val nbins = 1 << bits
    val probs = (1 until nbins).map(_.toDouble / nbins)
    val cuts: Map[String, Array[Double]] = {
      val aggs = zCols.map(c =>
        approx_percentile(col(c).cast("double"),
          array(probs.map(lit): _*), lit(10000)).as(s"__cuts_$c"))
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      zCols.zipWithIndex.map { case (c, i) =>
        c -> (if (row.isNullAt(i)) Array.empty[Double]
              else row.getSeq[Double](i).toArray)
      }.toMap
    }
    def bin(v: org.apache.spark.sql.Column, cs: Array[Double],
        lo: Int, hi: Int): org.apache.spark.sql.Column =
      if (lo == hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(v <= lit(cs(mid)), bin(v, cs, lo, mid))
          .otherwise(bin(v, cs, mid + 1, hi))
      }
    val ncols = zCols.size
    val z = zCols.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, ci)) =>
      val cs = cuts(c)
      val b =
        if (cs.isEmpty) lit(0L)
        else when(col(c).isNull, lit(0L))
          .otherwise(bin(col(c).cast("double"), cs, 0, cs.length))
      (0 until bits).foldLeft(acc)((a, k) =>
        a.bitwiseOR(shiftleft(
          shiftright(b, k).bitwiseAND(lit(1L)), k * ncols + ci)))
    }
    df.withColumn(outCol, z)
  }

  /** Z-ORDER CLUSTERED parquet sink: range-partition on the Morton
    * key of `zCols` into `numFiles` files, sorted within each — so
    * every file covers a small hyper-rectangle of the clustered
    * columns and its parquet min/max footer stats are NARROW in every
    * one of them. A reader filtering on ANY clustered column then
    * skips most files/row-groups on stats alone (the lakehouse
    * OPTIMIZE ZORDER contract; a lexicographic sort gives this for
    * the leading column only — spec-measured). At 100 TB this is the
    * difference between a needle query reading one file and reading
    * the corpus.
    */
  def writeZOrdered(
      df: DataFrame, zCols: Seq[String], path: String,
      numFiles: Int, bits: Int = 8): Unit = {
    require(numFiles >= 1, "writeZOrdered: numFiles must be positive")
    zOrderKey(df, zCols, bits)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Content manifest of a DataFrame: row count + an ORDER-FREE
    * content hash (the exact DECIMAL sum of per-row `xxhash64` over
    * all columns — addition commutes, so any partitioning/ordering of
    * the same rows yields the same hash) + the schema DDL. The
    * integrity contract for pipeline outputs: recompute on read and
    * compare.
    */
  def contentManifest(df: DataFrame): (Long, String, String) = {
    val row = df.agg(
      count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")).as("h"))
      .collect()(0)
    val n = row.getLong(0)
    val h = if (row.isNullAt(1)) "0" else row.getDecimal(1).toBigInteger.toString
    (n, h, df.schema.toDDL)
  }

  /** Parquet sink with a `_graft_manifest.json` integrity sidecar
    * (count, order-free content hash, schema) written through the
    * Hadoop FS API — the verifiable-output contract: a reader calls
    * [[verifyManifest]] before trusting the dataset (partial writes,
    * manual edits, and schema drift all surface as a mismatch).
    * The manifest pass is one extra aggregation over the frame —
    * at 100 TB, run it on the same pass's cached input or accept the
    * second scan as the price of end-to-end verifiability.
    */
  def writeWithManifest(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    val spark = df.sparkSession
    val (n, h, ddl) = contentManifest(spark.read.parquet(path))
    val p = new org.apache.hadoop.fs.Path(path, "_graft_manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifest = mapper.createObjectNode()
      .put("rows", n).put("content_hash", h).put("schema", ddl)
    val out = fs.create(p, true)
    try out.write(mapper.writeValueAsBytes(manifest))
    finally out.close()
  }

  /** Recompute a dataset's manifest and diff it against the sidecar.
    * Returns None when everything matches, or a human-readable
    * mismatch description (missing sidecar, row-count drift, content
    * drift, schema drift).
    */
  def verifyManifest(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Some(s"no _graft_manifest.json under $path")
    val raw = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    // a REAL JSON parse (Jackson ships with Spark): a malformed or
    // truncated sidecar is a hard verification failure, never a silent
    // regex miss (ADVICE r6 — the ad-hoc field regex mis-parsed under
    // reordering/whitespace and could match inside the schema DDL)
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw)
      catch {
        case e: java.io.IOException =>
          return Some(s"manifest is not valid JSON: ${e.getMessage}")
      }
    def textField(k: String): Option[String] =
      Option(node.get(k)).filter(_.isTextual).map(_.asText)
    val rowsField = Option(node.get("rows")).filter(_.canConvertToLong).map(_.asLong)
    val (n, h, ddl) = contentManifest(spark.read.parquet(path))
    (rowsField, textField("content_hash"), textField("schema")) match {
      case (None, _, _) | (_, None, _) | (_, _, None) =>
        Some("manifest missing/mistyped rows, content_hash, or schema")
      case (Some(rows), _, _) if rows != n =>
        Some(s"row count drifted: manifest $rows, actual $n")
      case (_, Some(hash), _) if hash != h =>
        Some(s"content hash drifted: manifest $hash, actual $h")
      case (_, _, Some(schema)) if schema != ddl =>
        Some(s"schema drifted: manifest '$schema', actual '$ddl'")
      case _ => None
    }
  }
}
