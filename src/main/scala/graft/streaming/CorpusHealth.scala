package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming corpus-health monitor: the q195 Zipf/Heaps diagnostics
  * (TextOps) computed per micro-batch, so a 100 TB ingest watches its own
  * vocabulary statistics drift in real time — a collapsing Zipf slope or
  * a vocab-growth stall flags boilerplate floods / generator loops while
  * the crawl is still running, not after the training set ships.
  *
  * Scale shape per snapshot (identical to q195's audited plan): token
  * instances fold in-row (the TokenTf native kernel), ONE map-side-
  * combined vocab exchange, top-256 via TakeOrdered, then 256-row
  * arithmetic. All sufficient statistics are 6-dp-rounded integer logs
  * summed as BIGINTs, so a snapshot is bit-deterministic under any
  * partitioning — two monitors on differently-partitioned replicas of
  * the same batch agree exactly.
  *
  * Unlike the gated q195 (whose corpus is never degenerate), a micro-
  * batch CAN be one document with one token: the fit denominators are
  * nullif-guarded, so `zipf_slope` is NULL below 2 vocabulary points and
  * `heaps_beta` NULL at n_total < 2 instead of an inf/NaN poisoning a
  * metrics sink.
  */
object CorpusHealth {

  /** One health row for a (doc_id, text) frame: n_docs, n_tokens,
    * vocab_size, zipf_slope, heaps_beta. Batch AND per-micro-batch
    * surface (foreachBatch hands this the batch frame). */
  def snapshot(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(explode(
        graft.functions.Kernels.TokenTf(col("text"))).as("e"))
      .select(col("e.token").as("token"), col("e.tf").cast("long").as("tf"))
      .groupBy("token").agg(sum("tf").as("freq"))
    val top = vocab.orderBy(col("freq").desc, col("token")).limit(256)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("token"))))
      .select(
        expr("cast(round(ln(cast(rank as double)) * 1000000) as bigint)")
          .as("x"),
        expr("cast(round(ln(cast(freq as double)) * 1000000) as bigint)")
          .as("y"))
    val fit = top.agg(count(lit(1)).as("k"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
    val tot = vocab.agg(count(lit(1)).as("vocab_size"),
      sum("freq").as("n_total"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    fit.crossJoin(tot).crossJoin(nd).select(
      col("n_docs"), col("vocab_size"),
      coalesce(col("n_total"), lit(0L)).as("n_tokens"),
      round((col("k").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        nullif(col("k").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"), lit(0.0)), 6)
        .as("zipf_slope"),
      round(expr("ln(cast(vocab_size as double))") /
        nullif(expr("ln(cast(coalesce(n_total, 0) as double))"), lit(0.0)), 6)
        .as("heaps_beta"))
  }

  /** Wire the monitor onto a streaming (doc_id, text) frame: per
    * micro-batch, `onSnapshot(batchId, row)` receives the 1-row health
    * summary (driver-side — a health row is 5 scalars, the metrics-sink
    * class, never corpus-sized). Start the returned writer to run it. */
  def attach(docs: DataFrame)(onSnapshot: (Long, Row) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        onSnapshot(batchId, snapshot(batch).collect()(0))
    }
}
