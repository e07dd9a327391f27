package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Native cosine similarity over `array<float>` embeddings — the hot
  * scalar of the ANN/similarity pack (SURVEY.md §2.10 promotion rule).
  *
  * vs. the Scala-UDF version: no Seq boxing, no serialization boundary,
  * one static call inside whole-stage codegen ([[Kernels]]) reading floats
  * straight out of Tungsten `ArrayData`. Accumulation is the same
  * left-to-right double fold as the `aggregate`/`zip_with` formulation and
  * the DuckDB `list_reduce` oracle — results are bit-identical.
  */
object VectorNative {
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
