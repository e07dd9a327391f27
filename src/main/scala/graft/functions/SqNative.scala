package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native kernels for SQ8 scalar quantization (q232/q233) — the OTHER
  * FAISS-standard code layout next to PQ (IndexScalarQuantizer, QT_8bit):
  * one byte per dimension against a frozen per-dim (min, span) book, so
  * a d-dim vector stores d bytes (16× PQ's 4-byte codes, ~4× less than
  * the float rows) and serving reconstructs each dimension with two
  * integer ops instead of a codebook lookup. All arithmetic is
  * BIGINT-exact on the 2^20-quantized grid, so codes and distances are
  * bit-identical to the DuckDB oracle restatement. Packed `binary`
  * storage (not array<int>): at 10^9 vectors the codes table is the
  * serving working set, and 4-bytes-per-code boxing would quadruple it.
  * Static kernels like PqNative ([[Kernels]]); Sq8Spec pins output
  * equality against plain-Scala mirrors. */
object SqNative {

  /** codes(i) = clamp(((q(i) − mn(i)) · 255) / sc(i), 0, 255) as one
    * byte (floor division; all numerators clamped non-negative, so
    * trunc ≡ floor and the oracle's `//` matches). A zero span (a
    * constant dimension over the index) encodes as 0. */
  def sqEncode(q: ArrayData, book: ArrayData): Array[Byte] = {
    val d = q.numElements()
    val out = new Array[Byte](d)
    var i = 0
    while (i < d) {
      val row = book.getStruct(i, 2)
      val mn = row.getLong(0)
      val sc = row.getLong(1)
      val v = q.getLong(i)
      val c =
        if (sc <= 0L || v <= mn) 0L
        else math.min(255L, (v - mn) * 255L / sc)
      out(i) = c.toByte
      i += 1
    }
    out
  }

  /** Squared-L2 between a query and a RECONSTRUCTED candidate:
    * recon(i) = mn(i) + (code(i) · sc(i)) / 255 (floor; non-negative
    * numerator), summed over dims. `qt` packs the query value with the
    * book per dim — struct(qv, mn, sc), built in-row on the query side
    * once — so candidates carry ONLY their bytes across the join. */
  def sqDist(codes: Array[Byte], qt: ArrayData): Long = {
    val d = math.min(codes.length, qt.numElements())
    var sum = 0L
    var i = 0
    while (i < d) {
      val row = qt.getStruct(i, 3)
      val recon = row.getLong(1) +
        (codes(i) & 0xFF).toLong * row.getLong(2) / 255L
      val diff = row.getLong(0) - recon
      sum += diff * diff
      i += 1
    }
    sum
  }

  /** Unpack stored bytes to array<int> 0..255 — the read-back surface
    * for the q232 hash gate (the oracle restates codes as integer
    * lists; the packed binary is a layout choice the gate must see
    * through). */
  def sqBytes(codes: Array[Byte]): ArrayData = {
    val out = new Array[Any](codes.length)
    var i = 0
    while (i < codes.length) { out(i) = codes(i) & 0xFF; i += 1 }
    new GenericArrayData(out)
  }
}
