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
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }
}
