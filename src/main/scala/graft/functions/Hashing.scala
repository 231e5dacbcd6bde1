package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine-portable hashing built on md5 — the one
  * hash both Spark and DuckDB compute identically (Spark's `hash`/
  * `xxhash64` and DuckDB's `hash` are different algorithms, so every
  * sketch operator here — minhash, simhash, LSH bands — derives its
  * hash family from salted md5 instead).
  *
  * hash60: first 15 hex chars of md5 → unsigned 60-bit value in a
  * long. DuckDB equivalent:
  * `CAST('0x' || substr(md5(concat('<salt>|', x)), 1, 15) AS BIGINT)`.
  */
object Hashing {

  /** 60-bit salted hash of a string column. The hex-prefix parse is
    * the codegen'd [[HexSlice60]] (bit-identical to the former
    * `conv(substring(..., 1, 15), 16, 10).cast("long")` — HashingSpec
    * pins all forms to one value sweep); `conv` paid a radix
    * conversion through a decimal string per call on every sketch/
    * sampling hot path. */
  def hash60(c: Column, salt: Int = 0): Column =
    HexSlice60.slice(md5(concat(lit(s"$salt|"), c)), 1)

  /** SQL fragment mirroring [[hash60]] for the DuckDB oracle. */
  def hash60Sql(expr: String, salt: Int = 0): String =
    s"CAST(('0x' || substr(md5(concat('$salt|', $expr)), 1, 15)) AS BIGINT)"

  /** One MD5 instance per thread: `reduce`-path callers (the count-min
    * UDAF pays depth hashes per input token) must not allocate a fresh
    * MessageDigest per call. `digest()` leaves the instance reset, so
    * reuse is safe; thread confinement makes it race-free. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** md5 digest of `bytes` through the per-thread instance. */
  def md5Jvm(bytes: Array[Byte]): Array[Byte] = md5Local.get().digest(bytes)

  /** The unsigned 60-bit value of hex digits `from until from + 15` of
    * digest `d`: the JVM side of [[HexSlice60]] over md5 hex output. */
  def hexSlice60(d: Array[Byte], from: Int): Long = {
    var h = 0L
    var x = from
    while (x < from + 15) {
      h = (h << 4) | ((d(x >> 1) >> (if ((x & 1) == 0) 4 else 0)) & 0xfL)
      x += 1
    }
    h
  }

  /** JVM mirror of [[hash60]] for executor-side aggregator buffers
    * (e.g. the count-min UDAF, which needs `depth` hashes per input
    * value inside `reduce`). CmsAggSpec pins hash60Jvm ≡ the Column
    * form on a value sweep, so all three forms (Column, SQL, JVM) are
    * one hash family. */
  def hash60Jvm(v: String, salt: Int = 0): Long =
    hexSlice60(md5Jvm(s"$salt|$v".getBytes("UTF-8")), 0)
}
