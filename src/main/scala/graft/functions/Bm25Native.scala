package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Native BM25 scorer (q109's hot loop): merge the document's
  * token-sorted (token, tf) array against the query's token-sorted
  * (token, df) array in one pass and accumulate the Robertson-Walker
  * term scores IN TOKEN ORDER — the same matched-terms-only,
  * token-ordered double fold as the DuckDB `list(ORDER BY token)` +
  * `list_reduce` oracle, with every arithmetic step parenthesized
  * identically, so scores are bit-identical. Replaces the exploded
  * (doc, token) ⋈ query-terms ⋈ df join + collect_list/sort/fold path:
  * the corpus-sized exchange disappears entirely — scoring happens at
  * the scan and only (q_id, doc_id, score) rows reach the top-k.
  * k1 = 1.2, b = 0.75 baked; nDocs/avgdl arrive as driver-computed
  * constants (the q55/q109 dimension-artifact discipline).
  */
object Bm25Native {
  /** `dtf`: the document's (token, tf) sorted by token; `terms`: the
    * query's (token, df) sorted by token; `dlTokens`: document length. */
  def score(dtf: ArrayData, terms: ArrayData, dlTokens: Int, nDocs: Double,
      avgdl: Double): Double = {
    val dl = dlTokens.toDouble
    val n = dtf.numElements()
    val m = terms.numElements()
    // the dl-dependent factor is per-document — hoist it, preserving the
    // oracle's exact expression shape
    val lenNorm = 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))
    var i = 0
    var j = 0
    var acc = 0.0
    while (i < n && j < m) {
      val dRow = dtf.getStruct(i, 2)
      val qRow = terms.getStruct(j, 2)
      val cmp = dRow.getUTF8String(0).compareTo(qRow.getUTF8String(0))
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else {
        val tf = dRow.getInt(1).toDouble
        val df = qRow.getLong(1).toDouble
        val idf = math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
        acc += idf * ((tf * 2.2) / (tf + lenNorm))
        i += 1
        j += 1
      }
    }
    acc
  }
}
