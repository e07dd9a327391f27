package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Streaming embedding-health monitor: the q210 drift gate running LIVE
  * inside an ingest — [[CorpusHealth]]'s move for the vector side. A new
  * encoder revision or a crawl-source change shifts the embedding
  * distribution long before anyone inspects a query; watched per
  * micro-batch, the shift surfaces while the feed is still running.
  *
  * `fit` freezes a reference model from a healthy corpus slice: the
  * integer-exact principal axis (the q205 eigensolve), the reference
  * projection range, and the 16-bin reference rates — a few hundred
  * bytes of driver state, the metrics-model class. `snapshot` then costs
  * one zero-exchange projection scan + a ≤16-key aggregate per batch and
  * reports total-variation drift against the frozen reference: TV = ½
  * Σ|p_bin − q_bin| over the reference binning (empty batch bins still
  * contribute their reference mass — the all-bins frame makes the sum
  * total, not support-only). Projection and binning are the same BIGINT
  * arithmetic as q210, so two monitors on differently-partitioned
  * replicas of one batch agree exactly.
  */
object VecHealth {

  /** Frozen reference: PCA means/loadings, the projection constant,
    * reference bin bounds, and per-bin reference rates. */
  case class Model(ms: Seq[Long], v: Seq[Long], mv: Long,
      lo: Long, hi: Long, refRates: Seq[Double])

  private def projCol(v: Seq[Long], mv: Long) =
    (aggregate(zip_with(col("q"), typedLit(v), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x) - lit(mv)).as("proj")

  private def quantQ(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      graft.operators.IvfIndex.quant(col("embedding")).as("q"))

  /** Fit the frozen reference model on a healthy corpus slice. A model
    * from zero reference vectors is meaningless — fail with a clear
    * message instead of the min/max-of-nothing NPE. */
  def fit(ref: DataFrame): Model = {
    val e = quantQ(ref)
    val (ms, v) = graft.queries.VectorOps.pcaLoadings(e)
    val mv = ms.indices.map(i => ms(i) * v(i)).sum
    val proj = e.select(projCol(v.toSeq, mv))
    val Array(b) = proj.agg(min("proj").as("lo"), max("proj").as("hi"))
      .collect()
    require(!b.isNullAt(0), "VecHealth.fit: empty reference slice")
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val counts = binCounts(proj, lo, hi)
    val tot = counts.values.sum.toDouble
    val rates = (0 until 16).map(i => counts.getOrElse(i, 0L) / tot)
    Model(ms.toSeq, v.toSeq, mv, lo, hi, rates)
  }

  /** ≤16-key bin histogram of a projection frame — clamped truncating
    * BIGINT division, the q210 binning exactly. */
  private def binCounts(proj: DataFrame, lo: Long, hi: Long)
      : Map[Int, Long] =
    proj.select(greatest(lit(0L), least(lit(15L),
        expr(s"((proj - ${lo}L) * 16) div (${hi}L - ${lo}L + 1)")))
        .as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap

  /** One health row for a (vec_id, embedding) frame against the frozen
    * model: n_vecs, tv_drift (½ Σ|batch − ref| over all 16 bins),
    * max_drift and its bin. */
  def snapshot(model: Model, vecs: DataFrame): Row = {
    val proj = quantQ(vecs).select(projCol(model.v, model.mv))
    val counts = binCounts(proj, model.lo, model.hi)
    val n = counts.values.sum
    val diffs = (0 until 16).map { i =>
      val p = if (n == 0) 0.0 else counts.getOrElse(i, 0L).toDouble / n
      math.abs(p - model.refRates(i))
    }
    val worst = diffs.indices.maxBy(diffs)
    Row(n, math.round(diffs.sum / 2 * 1e6) / 1e6,
      worst.toLong, math.round(diffs(worst) * 1e6) / 1e6)
  }

  /** Wire the monitor onto a streaming (vec_id, embedding) frame: per
    * micro-batch, `onSnapshot(batchId, row)` receives
    * (n_vecs, tv_drift, max_drift_bin, max_drift). */
  def attach(model: Model, vecs: DataFrame)(
      onSnapshot: (Long, Row) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        onSnapshot(batchId, snapshot(model, batch))
    }
}
