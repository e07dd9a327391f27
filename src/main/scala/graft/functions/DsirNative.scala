package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for DSIR importance weighting (q120, and through it q125
  * and q136's selection stage).
  *
  * The Column formulation bucketed every token through md5 → hex →
  * `substring` → `conv` → `% 256` and scored each document with an
  * interpreted `aggregate(transform(array_sort(t), lr))` lambda chain whose
  * per-token `element_at` over two 256-entry literal maps is a linear key
  * scan. These kernels do one static call per row with a per-thread
  * MessageDigest, read the bucket straight off the digest bytes, and fold
  * the driver-computed log-ratio table. Output is bit-identical:
  *   - bucket = the unsigned second md5 byte of the token's UTF-8 bytes
  *     (the first four hex digits are bytes 0–1 big-endian, so their
  *     value mod 256 is byte 1);
  *   - the fold sorts tokens in `UTF8String` binary order (what
  *     `array_sort` uses under UTF8_BINARY; Java `String` order differs
  *     for supplementary-plane characters) and adds left to right from
  *     0.0, so the double sum rounds exactly as the lambda chain did.
  */
object DsirNative {

  private val md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  private def digest(b: Array[Byte]): Array[Byte] = md5.get().digest(b)

  /** `conv(substring(md5(tok), 1, 4), 16, 10) % 256` of one token. */
  private def bucket(tok: UTF8String): Int = digest(tok.getBytes)(1) & 0xff

  /** Buckets of every token, in token order. */
  def buckets(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = bucket(tokens.getUTF8String(i)); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Σ over the tokens in binary order of `lr(bucket)`, from 0.0; null
    * when a token's bucket has no entry (a NULL or missing table element),
    * as `element_at` over the count maps made it. */
  def score(tokens: ArrayData, lr: ArrayData): java.lang.Double = {
    val n = tokens.numElements()
    val sorted = new Array[UTF8String](n)
    var i = 0
    while (i < n) { sorted(i) = tokens.getUTF8String(i); i += 1 }
    java.util.Arrays.sort(sorted, (a: UTF8String, b: UTF8String) => a.binaryCompare(b))
    val nb = lr.numElements()
    var acc = 0.0
    i = 0
    while (i < n) {
      val b = bucket(sorted(i))
      if (b >= nb || lr.isNullAt(b)) return null
      acc += lr.getDouble(b)
      i += 1
    }
    acc
  }

  /** The first four md5 bytes as an unsigned big-endian int —
    * `conv(substring(md5(s), 1, 8), 16, 10)` without the hex round trip. */
  def md5U32(s: UTF8String): Long = {
    val d = digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}
