package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.{SelectionOps, TextOps}

/** Reference semantics for DSIR importance weighting: the Column
  * formulation `SelectionOps.dsirWeightsOf` ran before its bucketing and
  * scoring moved into the native kernels ([[graft.functions.Kernels.DsirBuckets]],
  * [[graft.functions.Kernels.DsirScore]]) — md5 → hex → `conv` buckets, two
  * 256-entry literal count maps, and an interpreted
  * `aggregate(transform(array_sort(t), lr))` fold. Test-only: the kernels
  * are checked against it by DsirKernelSpec. */
object DsirReference {

  /** `conv(substring(md5(tok), 1, 4), 16, 10) % 256`, a bigint. */
  def bucketCol(tok: Column): Column =
    conv(substring(md5(tok), 1, 4), 16, 10).cast("long") % SelectionOps.DsirNBuckets

  def buckets(t: Column): Column = transform(t, bucketCol(_))

  /** Per-bucket (corpus, target) token counts of a (source, t) frame. */
  def counts(docs: DataFrame): Seq[(Long, Long, Long)] =
    docs.select(col("source"), explode(col("t")).as("tok"))
      .groupBy(bucketCol(col("tok")).as("b"))
      .agg(count(lit(1)).as("cb"),
        sum(when(col("source") === SelectionOps.DsirTarget, 1L)
          .otherwise(0L)).as("tb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  /** The unrounded score of token array `t` under (bucket, cb, tb) counts
    * whose sums, plus 256, are `cTot` and `tTot`. */
  def score(t: Column, counts: Seq[(Long, Long, Long)], cTot: Long,
      tTot: Long): Column = {
    val mC = typedLit(counts.map(c => c._1 -> c._2).toMap)
    val mT = typedLit(counts.map(c => c._1 -> c._3).toMap)
    val lr = (tok: Column) => {
      val b = bucketCol(tok)
      log(((element_at(mT, b) + 1L) * cTot).cast("double") /
        ((element_at(mC, b) + 1L) * tTot).cast("double"))
    }
    aggregate(transform(array_sort(t), lr), lit(0.0), (acc, x) => acc + x)
  }

  /** The whole former `dsirWeightsOf`. */
  def weightsOf(base: DataFrame): DataFrame = {
    val docs = base
      .select(col("doc_id"), col("source"), TextOps.tokensCol.as("t"))
      .filter(size(col("t")) > 0)
    val cs = counts(docs)
    val cTot = cs.map(_._2).sum + SelectionOps.DsirNBuckets
    val tTot = cs.map(_._3).sum + SelectionOps.DsirNBuckets
    docs
      .select(col("doc_id"), col("source"), size(col("t")).as("n_tokens"),
        round(score(col("t"), cs, cTot, tTot), 6).as("dsir_lr"))
  }
}
