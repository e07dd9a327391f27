package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native kernels for the PQ-ANN hot path (q104) — the §2.10 promotion
  * rule applied to product quantization. The Column-HOF formulation
  * (`transform(sequence…)` + `filter` + `aggregate` folds) evaluates a
  * lambda expression tree PER ELEMENT: encoding one vector touches
  * 4 subspaces × 8 centroids × 16 dims of boxed folds, and the ADC
  * lookup scans a 32-struct array with an interpreted predicate per
  * candidate×query row. These are tight JVM loops over Tungsten
  * ArrayData, each one static call inside whole-stage codegen
  * ([[Kernels]]). VectorOpsSpec pins output equality against the
  * plain-Scala mirror.
  */
object PqNative {

  /** The PQ layout every index uses: M subspaces of SubDim dimensions. */
  val M = 4
  val SubDim = 16

  /** codes = per-subspace argmin squared-L2 of `q` against the packed
    * codebook (array of (m, cluster, cent) structs sorted by (m,
    * cluster)); ties to the lowest cluster id. */
  def pqEncode(q: ArrayData, cents: ArrayData, m: Int, subDim: Int): ArrayData = {
    val n = cents.numElements()
    val codes = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      var best = Long.MaxValue
      var bestC = -1
      var ci = 0
      while (ci < n) {
        val row = cents.getStruct(ci, 3)
        if (row.getInt(0) == mi) {
          val cent = row.getArray(2)
          var d = 0L
          var j = 0
          while (j < subDim) {
            val diff = q.getLong(mi * subDim + j) - cent.getLong(j)
            d += diff * diff
            j += 1
          }
          // strict < over the (m, cluster)-sorted array → lowest
          // cluster id wins ties (the oracle's ORDER BY dist2, cluster)
          if (d < best) { best = d; bestC = row.getInt(1) }
        }
        ci += 1
      }
      codes(mi) = bestC
      mi += 1
    }
    new GenericArrayData(codes)
  }

  /** Asymmetric-distance sum: for each subspace m, look up the query's
    * precomputed sub-distance for this candidate's code and add. */
  def adcSum(codes: ArrayData, dtable: ArrayData, m: Int): Long = {
    val n = dtable.numElements()
    var sum = 0L
    var i = 0
    while (i < n) {
      val row = dtable.getStruct(i, 3)
      val mi = row.getInt(0)
      if (mi < m && codes.getInt(mi) == row.getInt(1))
        sum += row.getLong(2)
      i += 1
    }
    sum
  }

  /** Full-dimension argmin over a (cluster, cent)-packed codebook — the
    * k-means assignment hot loop (q91/q92/q110's `nearest` fold, native).
    * Returns struct(d, c): min squared-L2 and its cluster, ties to the
    * lowest cluster id (strict < over the cluster-sorted array). */
  def nearestCent(q: ArrayData, cents: ArrayData): InternalRow = {
    val dims = q.numElements()
    val n = cents.numElements()
    var best = Long.MaxValue
    var bestC = -1
    var i = 0
    while (i < n) {
      val row = cents.getStruct(i, 2)
      val cent = row.getArray(1)
      var d = 0L
      var j = 0
      while (j < dims) {
        val diff = q.getLong(j) - cent.getLong(j)
        d += diff * diff
        j += 1
      }
      if (d < best) { best = d; bestC = row.getInt(0) }
      i += 1
    }
    InternalRow(best, bestC)
  }
}
