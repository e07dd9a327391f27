package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine metrics — parity with the reference's self-instrumentation
  * (SURVEY.md §6, src/common/metrics/Metrics.h:49-134):
  *
  *   - change-event rows/s per micro-batch   ≙ "Speed: X MB/s" per log
  *   - messages emitted per sink batch       ≙ bytes sent/confirmed
  *   - open-transaction state rows/bytes     ≙ transaction memory gauge
  *   - batch duration                        ≙ checkpoint lag
  *   - DML in/out per table                  ≙ emitDmlOps* counters
  *
  * The per-batch figures come from Structured Streaming's progress events
  * (a [[StreamingQueryListener]] — no instrumentation inside operators, so
  * the hot path stays codegen'd); the per-table counters are a side
  * aggregation over the output DataFrame.
  */
object Metrics {

  /** One micro-batch snapshot (numbers as reported by the engine). */
  case class BatchMetrics(
      batchId: Long,
      inputRows: Long,
      inputRowsPerSec: Double,
      processedRowsPerSec: Double,
      stateRows: Long,
      stateBytes: Long,
      batchDurationMs: Long) {

    /** Memory the open transactions hold: the store's reported bytes
      * while any keyed state row (an open transaction) remains, 0 once
      * none does — a store's own resident footprint (RocksDB memtables,
      * caches) is not transaction memory. */
    def openTxnBytes: Long = if (stateRows == 0L) 0L else stateBytes
  }

  /** Collects progress for queries on one SparkSession. Thread-safe;
    * `snapshots` drains in arrival order. */
  final class Collector extends StreamingQueryListener {
    private val q = new ConcurrentLinkedQueue[BatchMetrics]()

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val (srows, sbytes) =
        if (p.stateOperators == null || p.stateOperators.isEmpty) (0L, 0L)
        else (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      q.add(BatchMetrics(
        p.batchId,
        p.numInputRows,
        p.inputRowsPerSecond,
        p.processedRowsPerSecond,
        srows, sbytes,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
    }

    def snapshots: Seq[BatchMetrics] = q.iterator().asScala.toSeq
  }

  /** Register a collector on the session; caller keeps the handle. */
  def attach(spark: SparkSession): Collector = {
    val c = new Collector
    spark.streams.addListener(c)
    c
  }

  def detach(spark: SparkSession, c: Collector): Unit =
    spark.streams.removeListener(c)

  /** Logical change volume of a sink-ready (key, value) frame: the bytes
    * a consumer actually receives — the quantity the reference's Speed
    * yardstick divides by wall-clock. ONE narrow aggregation; call it
    * per micro-batch, never per row. */
  def logicalBytes(sinkFrame: DataFrame): Long = {
    val r = sinkFrame.agg(sum(
      coalesce(octet_length(col("value")), lit(0)) +
        coalesce(octet_length(col("key").cast("binary")), lit(0))).cast("long"))
      .head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The reference-parity "Speed: X MB/s" figure for one micro-batch
    * (≙ one archived log): change bytes over wall-clock, exactly the
    * TRACE::PERFORMANCE line at Parser.cpp:1600-1633. Feeds the bytes
    * into the `bytes_parsed` counter (Metrics.h:50) so a Prometheus
    * scraper derives the same rate via rate(); the reference emits Speed
    * itself ONLY as a trace log line, not a metric family, and
    * [[Prometheus]]'s family set stays exactly Metrics.h — so the
    * per-batch figure is returned (for logging / regression pinning)
    * rather than registered as a new family. */
  def speedMBs(p: graft.streaming.Prometheus, logicalBytes: Long,
      wallMs: Long): Double = {
    p.emitBytesParsed(logicalBytes)
    if (wallMs <= 0) 0.0
    else logicalBytes / 1048576.0 / (wallMs / 1000.0)
  }

  /** Per-table DML counters over materialized messages (≙ Metrics.h
    * emitDmlOpsOut per-table counters): one aggregation, usable batch-side
    * or inside foreachBatch for a streaming side-channel. */
  def dmlCounters(messages: DataFrame): DataFrame =
    messages
      .groupBy(col("owner"), col("table_name"), col("op"))
      .agg(count(lit(1)).as("n_ops"))

  /** DDL-op classification counters (≙ Metrics.h:68-73 emitDdlOpsAlter/
    * Create/Drop/Other/Purge/Truncate): the reference classifies by the
    * statement's leading keyword; `purge` is its own bucket and
    * `truncate` likewise, everything else unrecognized falls to `other`.
    * One short-key aggregation over the ddl messages. */
  def ddlCounters(messages: DataFrame): DataFrame = {
    val kw = upper(regexp_extract(trim(col("ddl_text")), "^(\\w+)", 1))
    messages
      .withColumn("ddl_kind",
        when(kw === "ALTER", "alter")
          .when(kw === "CREATE", "create")
          .when(kw === "DROP", "drop")
          .when(kw === "TRUNCATE", "truncate")
          .when(kw === "PURGE", "purge")
          .otherwise("other"))
      .groupBy("ddl_kind")
      .agg(count(lit(1)).as("n_ops"))
  }

  /** DML skip counters (≙ Metrics.h:79-86 emitDmlOps*Skip): events whose
    * obj# has no selected dictionary entry — the filter-out side of the
    * enrich join, counted per op with one aggregation over a broadcast
    * anti-join (the dictionary side is tiny, so the events never
    * reshuffle). */
  def dmlSkipCounters(events: DataFrame, dictObjs: Seq[Long]): DataFrame =
    events
      .filter(!col("obj").isin(dictObjs: _*))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n_skipped"))

  /** Bridge Spark task metrics onto the reference-named Prometheus
    * families ([[Prometheus]]): scan input bytes ≙ `bytes_read` (the
    * reference counts redo-file bytes read — here it is feed-file bytes),
    * spill-to-disk bytes ≙ `swap_operations_mb{type="write"}` (the
    * reference swaps 1 MB txn-buffer blocks under memory pressure; the
    * Spark analogue is task spill during shuffle/sort/agg — a nonzero
    * value is the same signal: the working set outgrew memory). Spark
    * does not report spill READ-back volume per task, so the `read` and
    * `discard` series stay registered-at-zero — present for scrape-shape
    * parity, honest about what the engine can observe.
    *
    * Listener callbacks are driver-side and O(1) per task — nothing on
    * the executor hot path. */
  final class TaskMetricsBridge(prom: Prometheus)
      extends org.apache.spark.scheduler.SparkListener {
    private val spillCarryBytes = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        if (m.inputMetrics != null && m.inputMetrics.bytesRead > 0)
          prom.emitBytesRead(m.inputMetrics.bytesRead)
        if (m.diskBytesSpilled > 0) {
          // the family is denominated in MB (the reference swaps whole
          // 1 MB blocks); carry the sub-MB remainder across tasks so
          // small spills are not lost to truncation
          val total = spillCarryBytes.addAndGet(m.diskBytesSpilled)
          val mb = total >> 20
          if (mb > 0 && spillCarryBytes.compareAndSet(total, total & ((1L << 20) - 1)))
            prom.emitSwapOperationsMb("write", mb)
        }
      }
    }
  }

  /** Register a task-metrics bridge feeding `prom`; caller keeps the
    * handle for removal. */
  def attachTaskMetrics(spark: SparkSession, prom: Prometheus): TaskMetricsBridge = {
    val b = new TaskMetricsBridge(prom)
    spark.sparkContext.addSparkListener(b)
    b
  }
  def detachTaskMetrics(spark: SparkSession, b: TaskMetricsBridge): Unit =
    spark.sparkContext.removeSparkListener(b)

  /** §2.9 event-time windowed throughput: tumbling-window op counts with a
    * bounded-lateness watermark. On a stream, a window emits once the
    * watermark passes its end and later-than-watermark events are DROPPED
    * (the reference has no analogue — it is strictly in-order per thread;
    * this is the Spark-native late-data contract for out-of-order feeds).
    * Works identically on a batch frame (watermark is then a no-op), which
    * is what the q49 oracle checks. */
  def windowedOpCounts(events: DataFrame, eventTime: org.apache.spark.sql.Column,
      delay: String = "10 seconds", dur: String = "10 seconds"): DataFrame =
    events.withColumn("event_time", eventTime)
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), dur), col("op"))
      .agg(count(lit(1)).as("n_ops"))
      .select(col("window.start").as("w_start"), col("op"), col("n_ops"))
}
