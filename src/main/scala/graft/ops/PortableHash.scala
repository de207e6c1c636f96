package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A 60-bit hash computable bit-identically in Spark, DuckDB (or any ANSI
  * SQL engine with `md5`), and plain JVM code: the first 15 hex digits of
  * the MD5 of the UTF-8 bytes, read as a non-negative BIGINT in [0, 2^60).
  *
  * Why: the dedup / similarity / fingerprint operator family's entire
  * value is the correctness of computed signatures, so every one of them is
  * gated against a DuckDB oracle — that requires a hash both engines can
  * evaluate identically. xxhash64 is ~5-10× cheaper per call and is the
  * right choice for a production run that doesn't need cross-engine
  * verification, but hashing is nowhere the bottleneck in any of these
  * operators (joins and aggregation dominate), so the verifiable hash is
  * the default.
  *
  *  - Spark:  `conv(substring(md5(c), 1, 15), 16, 10)::long`  (codegen'd)
  *  - DuckDB: `CAST('0x' || substr(md5(c), 1, 15) AS BIGINT)`
  *  - JVM:    MessageDigest mirror for driver-side constants
  */
object PortableHash {

  /** 2^31 - 1 — modulus for MinHash universe arithmetic: keeps every
    * affine-rehash product below 2^62 (no ANSI-mode long overflow).
    */
  val MersenneP = 2147483647L

  /** Spark column: 60-bit md5 prefix hash of a string column. */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL fragment computing h60 of `expr` (a VARCHAR expression). */
  def sqlH60(expr: String): String =
    s"CAST('0x' || substr(md5($expr), 1, 15) AS BIGINT)"

  /** JVM mirror — for driver-side constants (e.g. LSH hyperplane
    * components) that must match what executors compute columnar-ly.
    */
  def h60(s: String): Long = h60(s.getBytes("UTF-8"))

  def h60(bytes: Array[Byte]): Long = {
    // first 15 hex chars of the md5 = top 60 bits of the first 8 digest
    // bytes — read them numerically, no hex-string round-trip (the same
    // allocation pattern eliminated from the executor hot paths)
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4 // 64 bits read, keep the leading 60 (15 hex chars)
  }
}
