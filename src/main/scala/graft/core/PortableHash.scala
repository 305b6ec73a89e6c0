package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic hashing.
  *
  * The engine's production randomness/hashing is xxhash64 (fast, seeded,
  * partition-independent). For oracle-checked queries we additionally
  * need a hash BOTH Spark and DuckDB can compute bit-identically: md5 of
  * the UTF-8 string, with a prefix of the hex digest parsed as an
  * integer. 15 hex chars = 60 bits < 2^63, so the BIGINT parse is exact
  * in both engines (`conv(...,16,10)` here, `CAST('0x'||... AS BIGINT)`
  * there).
  *
  * Engine rule (SURVEY §7.4.2): all randomness is key-derived — derived
  * from row keys + an explicit seed — never partition-dependent
  * `rand()`, so results survive repartitioning at any scale.
  */
object PortableHash {

  /** 60-bit integer from the md5 of a string column. Computed by the
    * codegen [[graft.functions.Md5Long]] expression — value-identical to
    * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")` (the hex-
    * string composition the DuckDB oracle replays) but digest→long
    * directly, no hex/conv/parse allocations on the hot path.
    */
  def md5Long(c: Column): Column =
    graft.functions.Md5Long.md5Long60(c.cast("string"))

  /** 48-bit variant (for bitwise ops needing headroom). */
  def md5Long48(c: Column): Column =
    graft.functions.Md5Long.md5Long48(c.cast("string"))

  /** Salted variant: hash of `value#salt`. */
  def md5Long(c: Column, salt: Column): Column =
    md5Long(concat_ws("#", c.cast("string"), salt.cast("string")))

  /** Deterministic uniform in [0, 1): md5Long / 2^60. Key-derived, so
    * identical across engines and partitionings.
    */
  def uniform01(key: Column, salt: Column): Column =
    md5Long(key, salt).cast("double") / lit(1152921504606846976.0) // 2^60

  /** [[md5Long]] in DuckDB SQL, for a string expression `e`. */
  def md5LongSql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** [[md5Long48]] in DuckDB SQL. */
  def md5Long48Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 12) AS BIGINT)"

  /** [[uniform01]] in DuckDB SQL, for `e` = the `key || '#' || salt`
    * string [[md5Long]]`(key, salt)` hashes.
    */
  def uniform01Sql(e: String): String =
    s"${md5LongSql(e)} / 1152921504606846976.0"
}
