package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.cdc.{ChangeEvent, ChangeMessage, Envelope, Materialize, TxnAssembly}
import graft.sinks.{KafkaDirectWriter, MockKafkaBroker, Sinks}
import graft.sources.EventSource
import graft.streaming.{Pipeline, Prometheus}
import CdcFeed._

/** A feed laid out in files: each transaction's body lands in one file and
  * its end (commit or rollback) in the same or a later file. */
final case class FeedPlan(files: Array[Array[ChangeEvent]], txns: Seq[Txn],
    commitFile: Map[Long, Int], events: Long, dmlEvents: Long) {
  /** Commit scns of the transactions that must reach the broker. */
  def expected: Set[Long] =
    txns.filter(t => t.outMessages > 0).map(_.commitScn).toSet
  def messages: Long = txns.map(_.outMessages.toLong).sum
}

object FeedPlan {
  /** `newTxns(f)` transactions start in file f; `distance()` gives how many
    * files later each commits (negative = in the last file). */
  def build(pos: Positions, factory: TxnFactory, nFiles: Int,
      newTxns: Int => Int, distance: () => Int, seqBase: Long,
      tmOf: Int => Long): FeedPlan = {
    val ends = Array.fill(nFiles)(ArrayBuffer.empty[Txn])
    val commitFile = scala.collection.mutable.Map.empty[Long, Int]
    val txns = ArrayBuffer.empty[Txn]
    val e0 = pos.events
    val d0 = pos.dmlEvents
    val files = Array.tabulate(nFiles) { f =>
      val seq = seqBase + f
      val tm = tmOf(f)
      val out = ArrayBuffer.empty[ChangeEvent]
      def end(t: Txn): Unit = {
        out += pos.end(t, seq, tm)
        if (!t.rollback) commitFile(t.commitScn) = f
      }
      ends(f).foreach(end)
      (0 until newTxns(f)).foreach { _ =>
        val t = factory.next()
        txns += t
        out ++= pos.body(t, seq, tm)
        val d = distance()
        val target = if (d < 0) nFiles - 1 else math.min(f + d, nFiles - 1)
        if (target == f) end(t) else ends(target) += t
      }
      out.toArray
    }
    FeedPlan(files, txns.toSeq, commitFile.toMap, pos.events - e0,
      pos.dmlEvents - d0)
  }

  def mix(p: JsonNode): Mix = Mix(
    insFrac = p.get("ins_frac").asDouble,
    updFrac = p.get("upd_frac").asDouble,
    minOps = p.get("ops_per_txn").get(0).asInt,
    maxOps = p.get("ops_per_txn").get(1).asInt,
    supplemental = p.path("supplemental_images").asBoolean(false),
    rollbackFrac = p.path("rollback_frac").asDouble(0.0),
    partialRollbackFrac = p.path("partial_rollback_frac").asDouble(0.0))
}

/** The benchmark's Kafka sink, run inside `foreachBatch`: collect the
  * micro-batch, send it over one `KafkaDirectWriter` connection, then
  * confirm every message with the `ConfirmTracker` once the broker acks. */
final class CdcSink(writer: KafkaDirectWriter,
    val tracker: Sinks.ConfirmTracker, tracer: Tracer) {
  /** commit scn → monotonic time its batch was acked. */
  val ackNs = new ConcurrentHashMap[Long, Long]()
  /** commit scn → micro-batch that delivered it. */
  val batchOf = new ConcurrentHashMap[Long, Long]()
  @volatile var messages = 0L
  @volatile var bytes = 0L
  @volatile var errors = 0L
  @volatile var inflightMax = 0

  def deliver(df: DataFrame, batchId: Long): Unit = {
    val rows = tracer.span("sinks.collect") {
      df.select("key", "value", "c_scn", "c_idx").collect()
    }.sortBy(r => (r.getLong(2), r.getLong(3)))
    if (rows.nonEmpty) {
      val recs = rows.map(r => (
        Option(r.getString(0)).map(_.getBytes(UTF_8)).orNull,
        r.getString(1).getBytes(UTF_8))).toSeq
      rows.foreach(r => tracker.sent(r.getLong(2), r.getLong(3)))
      inflightMax = math.max(inflightMax, tracker.inflight)
      try tracer.span("sinks.KafkaDirectWriter")(writer.sendPartitioned(recs))
      catch { case e: Throwable => errors += 1; throw e }
      val ack = System.nanoTime()
      tracer.span("sinks.ConfirmTracker") {
        rows.foreach(r => tracker.confirm(r.getLong(2), r.getLong(3)))
      }
      rows.iterator.map(_.getLong(2)).foreach { s =>
        ackNs.put(s, ack)
        batchOf.put(s, batchId)
      }
      messages += rows.length
      bytes += recs.map { case (k, v) =>
        (if (k == null) 0L else k.length.toLong) + v.length }.sum
    }
  }
}

/** Session, broker and writer for one CDC run. */
final class CdcEnv(val s: Sess, val broker: MockKafkaBroker,
    val prom: Prometheus, val writer: KafkaDirectWriter) {
  def close(): Unit = { writer.close(); broker.close(); s.close() }
}

/** Outcome of one measured phase: one drain of the backlog, or one live
  * window. */
final class Phase(val plan: FeedPlan, val sink: CdcSink,
    val progress: Seq[StreamingQueryProgress], val startNs: Long,
    val doneNs: Long, val traced: Boolean, val records: Seq[(Array[Byte], Array[Byte])],
    val promBefore: Map[String, Double], val promAfter: Map[String, Double],
    val requests: Long) {
  def seconds: Double = (doneNs - startNs) / 1e9
}

object CdcBench {
  val Topic = "perfbench"

  def pipelineConfig(dir: Path, maxFiles: Int): Pipeline.Config =
    Pipeline.Config(
      source = Pipeline.SourceConfig(dir.toString, maxFilesPerTrigger = maxFiles),
      dict = CdcFeed.dictionary)

  /** Entry point A, unchanged: `Pipeline.stream` into the benchmark sink. */
  def startPipeline(spark: SparkSession, cfg: Pipeline.Config, ckpt: Path,
      sink: CdcSink): StreamingQuery =
    Pipeline.stream(spark, cfg).writeStream
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .foreachBatch((df: DataFrame, id: Long) => sink.deliver(df, id))
      .start()

  /** The traced staging of the same pipeline (the shape
    * `Pipeline.streamWithEvolution` runs): assembly is the streaming query;
    * materialize, envelope and the sink each run forced, in their own span,
    * inside `foreachBatch`. */
  def startStaged(spark: SparkSession, cfg: Pipeline.Config, ckpt: Path,
      sink: CdcSink, tracer: Tracer): StreamingQuery = {
    implicit val s: SparkSession = spark
    val events = EventSource.streamJson(spark, cfg.source.path,
      cfg.source.maxFilesPerTrigger)
    TxnAssembly.assembleStream(Pipeline.fromStart(events, cfg.source),
        cfg.assembly)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[ChangeMessage], id: Long) =>
        tracer.iteration = id
        tracer.span("streaming.batch") {
          val assembled = tracer.span("cdc.TxnAssembly") {
            val p = batch.persist(); p.count(); p
          }
          val enriched = tracer.span("cdc.Materialize") {
            val e = Materialize(assembled, cfg.dict, cfg.materialize).persist()
            e.count(); e
          }
          val out = tracer.span("cdc.Envelope") {
            val o = Envelope.forSink(Envelope.toMessages(enriched,
              cfg.envelope)).persist()
            o.count(); o
          }
          sink.deliver(out, id)
          out.unpersist(); enriched.unpersist(); assembled.unpersist()
          ()
        }
      }
      .start()
  }

  /** Prometheus series as scraped from the text exposition. */
  def scrape(prom: Prometheus): Map[String, Double] =
    prom.render().linesIterator.filterNot(_.startsWith("#")).flatMap { l =>
      val i = l.lastIndexOf(' ')
      if (i < 0) None else Some(l.substring(0, i) -> l.substring(i + 1).toDouble)
    }.toMap

  private def mkdirs(p: Path): Path = { Files.createDirectories(p); p }

  /** Setup: session, broker, writer, dictionary, and one warm-up batch
    * through the pipeline. */
  def setup(ctx: Ctx): CdcEnv = {
    val s = Sess.create(ctx)
    val broker = new MockKafkaBroker()
    val prom = new Prometheus()
    val writer = new KafkaDirectWriter("127.0.0.1", broker.port, Topic,
      prom = Some(prom))
    val dir = mkdirs(ctx.work.resolve("warm"))
    val feed = mkdirs(dir.resolve("feed"))
    val staging = mkdirs(dir.resolve("staging"))
    val p = ctx.params.get("cdc")
    val rnd = new Random(ctx.seed * 31 + 7)
    val plan = FeedPlan.build(new Positions(0L),
      new TxnFactory(rnd, FeedPlan.mix(p.get("live"))), 1,
      _ => p.get("warmup_txns").asInt, () => 0, 1L, _ => 1L)
    CdcFeed.publishAll(Seq(plan.files(0).toSeq), staging, feed, _ => "warm.json")
    val sink = new CdcSink(writer, new Sinks.ConfirmTracker, Tracer.off)
    val q = startPipeline(s.spark, pipelineConfig(feed, 1000),
      dir.resolve("ckpt"), sink)
    q.processAllAvailable()
    q.stop()
    require(sink.ackNs.keySet.asScala.toSet == plan.expected,
      "warm-up batch did not deliver every transaction")
    broker.log.clear()
    new CdcEnv(s, broker, prom, writer)
  }

  /** Run one phase: start the query, wait until every expected transaction
    * is acked (or the deadline passes), stop, and snapshot what the broker
    * and the listeners saw. `feed` runs alongside (the live generator). */
  def runPhase(env: CdcEnv, plan: FeedPlan, cfg: Pipeline.Config, ckpt: Path,
      traced: Boolean, tracer: Tracer, deadlineNs: Long,
      feed: StreamingQuery => Unit): Phase = {
    env.broker.log.clear()
    val promBefore = scrape(env.prom)
    val req0 = env.broker.produceRequests.get()
    val sink = new CdcSink(env.writer, new Sinks.ConfirmTracker, tracer)
    val t0 = System.nanoTime()
    val q =
      if (traced) startStaged(env.s.spark, cfg, ckpt, sink, tracer)
      else startPipeline(env.s.spark, cfg, ckpt, sink)
    feed(q)
    val expected = plan.expected
    var timedOut = false
    while (sink.ackNs.size < expected.size && !timedOut) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadlineNs) timedOut = true
      else Thread.sleep(2)
    }
    val done =
      if (timedOut) System.nanoTime()
      else sink.ackNs.values.asScala.max
    // let the delivering batch finish its commit, so its progress report
    // (state rows, durations) is part of the phase
    val lastBatch = if (sink.batchOf.isEmpty) -1L else sink.batchOf.values.asScala.max
    val settle = System.nanoTime() + 10000000000L
    while (q.isActive && Option(q.lastProgress).forall(_.batchId < lastBatch) &&
        System.nanoTime() < settle) Thread.sleep(2)
    q.stop()
    q.exception.foreach(e => throw e)
    env.s.drain()
    new Phase(plan, sink, env.s.stream.progress(q.id), t0, done, traced,
      env.broker.log.iterator().asScala.map(r => (r._3, r._4)).toSeq,
      promBefore, scrape(env.prom),
      (env.broker.produceRequests.get() - req0).toLong)
  }

  // ---- output checks ---------------------------------------------------

  private val IdRe = "^\\{\"c_scn\":(\\d+),\"c_idx\":(\\d+),".r.unanchored

  /** `Pipeline.batch` replay of the same feed: (c_scn, c_idx) → (key, value). */
  def replay(spark: SparkSession, dir: Path): Map[(Long, Long), (String, String)] =
    Pipeline.batch(spark, pipelineConfig(dir, 1000))
      .select("key", "value", "c_scn", "c_idx").collect()
      .map(r => (r.getLong(2), r.getLong(3)) -> (r.getString(0), r.getString(1)))
      .toMap

  /** Compare one phase's broker output with the replay. Returns the commit
    * scns of transactions that are missing, duplicated or wrong. */
  def check(ph: Phase, expected: Map[(Long, Long), (String, String)],
      res: Result, label: String, corrupt: String): Set[Long] = {
    var records = ph.records
    if (corrupt == "drop-record" && records.nonEmpty)
      records = records.patch(records.length / 2, Nil, 1)
    val got = records.map { case (k, v) =>
      val value = new String(v, UTF_8)
      val id = value match {
        case IdRe(a, b) => (a.toLong, b.toLong)
        case _ => (-1L, -1L)
      }
      id -> (Option(k).map(new String(_, UTF_8)).orNull, value)
    }
    val byId = got.groupBy(_._1)
    val dupIds = byId.filter(_._2.size > 1).keySet
    val wrong = byId.filter { case (id, vs) =>
      vs.size == 1 && !expected.get(id).contains(vs.head._2) }.keySet
    val missing = expected.keySet -- byId.keySet
    val bad = (dupIds ++ wrong ++ missing).map(_._1) ++
      ph.plan.expected.filterNot(ph.sink.ackNs.containsKey)
    res.check(s"$label.broker_equals_replay",
      bad.isEmpty && got.size == expected.size,
      s"broker=${got.size} replay=${expected.size} duplicated=${dupIds.size} " +
        s"wrong=${wrong.size} missing=${missing.size}")
    val lastSent = if (expected.isEmpty) None else Some(expected.keys.max)
    res.check(s"$label.confirm_watermark_is_last_sent",
      ph.sink.tracker.confirmed == lastSent && ph.sink.tracker.inflight == 0,
      s"watermark=${ph.sink.tracker.confirmed} last=$lastSent")
    def d(name: String) = ph.promAfter.getOrElse(name, 0.0) -
      ph.promBefore.getOrElse(name, 0.0)
    res.check(s"$label.prometheus_messages",
      d("messages_sent") == records.size && d("messages_confirmed") == records.size,
      s"messages_sent=${d("messages_sent")} broker=${records.size} " +
        s"messages_confirmed=${d("messages_confirmed")}")
    res.check(s"$label.prometheus_bytes",
      d("bytes_sent") == d("bytes_confirmed") && d("bytes_sent") > 0,
      s"bytes_sent=${d("bytes_sent")} bytes_confirmed=${d("bytes_confirmed")}")
    res.check(s"$label.produce_errors", ph.sink.errors == 0,
      s"errors=${ph.sink.errors}")
    bad
  }

  // ---- per-layer figures ---------------------------------------------------

  private def dur(p: StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum

  /** Monotonic time at which a micro-batch's trigger started. */
  def batchStartNs(p: StreamingQueryProgress): Long =
    Clock.monoOfWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)

  /** Per-micro-batch figures of the traced live window: trigger phases,
    * queueing, state commit. */
  def batchMetrics(ph: Phase, res: Result, queueWaitMs: Seq[Double],
      spark: Map[String, SparkCounters]): Unit = {
    val ps = ph.progress
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    res.metric("streaming.batches", ps.size.toDouble, "count")
    res.metric("streaming.empty_batch_frac",
      if (ps.isEmpty) 0.0 else ps.count(_.numInputRows == 0).toDouble / ps.size,
      "ratio")
    res.metric("streaming.trigger_ms", med(ps.map(dur(_, "triggerExecution"))), "ms")
    res.metric("streaming.planning_ms", med(ps.map(dur(_, "queryPlanning"))), "ms")
    res.metric("streaming.wal_ms", med(ps.map(dur(_, "walCommit", "commitOffsets"))), "ms")
    res.metric("streaming.queue_wait_ms", med(queueWaitMs), "ms")
    res.metric("streaming.jobs_per_batch",
      SparkProbe.total(spark).jobs.toDouble / math.max(1, ps.size), "count")
    res.metric("sources.offset_ms", med(ps.map(dur(_, "latestOffset", "getBatch"))), "ms")
    res.metric("sources.rows", ps.map(_.numInputRows.toDouble).sum, "count")
    val ops = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten.headOption)
    res.metric("cdc.TxnAssembly.state_commit_ms",
      med(ops.map(_.commitTimeMs.toDouble)), "ms")
    val custom = customSums(ops)
    res.metric("cdc.TxnAssembly.rocksdb_commit_ms",
      (custom.getOrElse("rocksdbCommitFlushLatency", 0L) +
        custom.getOrElse("rocksdbCommitCompactLatency", 0L) +
        custom.getOrElse("rocksdbCommitWriteBatchLatency", 0L) +
        custom.getOrElse("rocksdbCommitCheckpointLatency", 0L)).toDouble /
        math.max(1, ops.size), "ms")
  }

  private def customSums(ops: Seq[org.apache.spark.sql.streaming.StateOperatorProgress]) =
    ops.flatMap(o => o.customMetrics.asScala.toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.longValue).sum }

  /** Per-row figures of the traced backlog drains, averaged per drain:
    * span self times, keyed state, envelope and sink volumes. */
  def rowMetrics(phases: Seq[Phase], tracer: Tracer, res: Result): Unit = {
    val n = phases.size.toDouble
    val ops = phases.flatMap(_.progress)
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.headOption)
    res.metric("cdc.TxnAssembly.state_rows_peak",
      if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal.toDouble).max, "count")
    res.metric("cdc.TxnAssembly.state_update_ms",
      ops.map(o => (o.allUpdatesTimeMs + o.allRemovalsTimeMs).toDouble).sum / n, "ms")
    res.detail("state_memory_used_mb_peak",
      if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max / 1048576.0)
    res.detail("state_memory_used_mb_final",
      ops.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0))
    res.detail("state_rows_final", ops.lastOption.map(_.numRowsTotal).getOrElse(0L))
    val custom = customSums(ops)
    res.detail("state_custom_metrics_per_drain", custom.map { case (k, v) => k -> v / n })
    res.metric("cdc.TxnAssembly.rocksdb_bytes_written",
      custom.getOrElse("rocksdbTotalBytesWritten", 0L).toDouble / n, "bytes")
    val msgs = phases.map(_.sink.messages.toDouble).sum
    res.metric("cdc.TxnAssembly.useful_frac",
      msgs / phases.map(_.plan.dmlEvents.toDouble).sum, "ratio")
    val self = tracer.selfSeconds
    def s(name: String) = self.getOrElse(name, 0.0) / n
    res.metric("cdc.TxnAssembly.self_s", s("cdc.TxnAssembly"), "s")
    res.metric("cdc.Materialize.self_s", s("cdc.Materialize"), "s")
    res.metric("cdc.Envelope.self_s", s("cdc.Envelope"), "s")
    res.metric("cdc.Envelope.bytes_per_msg",
      phases.map(_.sink.bytes.toDouble).sum / math.max(msgs, 1.0), "bytes")
    res.metric("sinks.collect_s", s("sinks.collect"), "s")
    res.metric("sinks.KafkaDirectWriter.self_s", s("sinks.KafkaDirectWriter"), "s")
    res.metric("sinks.KafkaDirectWriter.requests",
      phases.map(_.requests.toDouble).sum / n, "count")
    res.metric("sinks.KafkaDirectWriter.bytes",
      phases.map(p => p.promAfter.getOrElse("bytes_sent", 0.0) -
        p.promBefore.getOrElse("bytes_sent", 0.0)).sum / n, "bytes")
    res.metric("sinks.KafkaDirectWriter.errors",
      phases.map(_.sink.errors.toDouble).sum, "count")
    res.metric("sinks.ConfirmTracker.inflight_max",
      phases.map(_.sink.inflightMax.toDouble).max, "count")
  }

  // ---- the workload ------------------------------------------------------

  private def nsToMs(xs: Iterable[Long]): Seq[Double] = xs.map(_ / 1e6).toSeq

  /** Open loop: a generator thread publishes one feed file per tick at a
    * fixed offered rate, never slowing when the pipeline does. */
  final class LiveGen(plan: FeedPlan, tickNs: Long, dir: Path,
      staging: Path) extends Thread("perfbench-live-generator") {
    setDaemon(true)
    @volatile var startNs = 0L
    @volatile var lateNsMax = 0L
    @volatile var failure: Throwable = null
    def dueNs(file: Int): Long = startNs + file * tickNs
    override def run(): Unit = try {
      plan.files.indices.foreach { f =>
        val due = dueNs(f)
        var now = System.nanoTime()
        while (now < due) {
          java.util.concurrent.locks.LockSupport.parkNanos(due - now)
          now = System.nanoTime()
        }
        // each COMMIT's tm is its creation (due) time, wall-clock nanos
        val tm = (System.currentTimeMillis() - (now - due) / 1000000L) * 1000000L
        CdcFeed.publish(plan.files(f).toSeq.map(_.copy(tm = tm)), staging,
          dir, f"redo-$f%06d.json")
        lateNsMax = math.max(lateNsMax, System.nanoTime() - due)
      }
    } catch { case t: Throwable => failure = t }
  }

  /** One live window: its phase, generator and Spark counters. */
  final class LiveRun(val ph: Phase, val gen: LiveGen, val window: FeedPlan,
      val dir: Path, val spark: Map[String, SparkCounters]) {
    /** COMMIT creation → broker ack per committed transaction of the window,
      * ms; a transaction never acked counts as infinitely late. */
    def latenciesMs: Seq[Double] =
      window.txns.filter(_.outMessages > 0).map { t =>
        val due = gen.dueNs(window.commitFile(t.commitScn))
        Option(ph.sink.ackNs.get(t.commitScn)).map(a => (a - due) / 1e6)
          .getOrElse(Double.PositiveInfinity)
      }
  }

  /** Lead-in file (one batch that brings the query up), then `ticks` tick
    * files and a final file that commits whatever is still open. */
  def livePlans(p: JsonNode, seed: Long, startScn: Long,
      ticks: Int): (FeedPlan, FeedPlan) = {
    val mix = FeedPlan.mix(p)
    val evPerTxn = 2.0 + (mix.minOps + mix.maxOps) / 2.0
    val txnsPerTick = p.get("offered_events_per_s").asDouble *
      p.get("tick_ms").asInt / 1000.0 / evPerTxn
    val sameTick = p.get("same_tick_commit_frac").asDouble
    val (lo, hi) = (p.get("later_commit_ticks").get(0).asInt,
      p.get("later_commit_ticks").get(1).asInt)
    val rnd = new Random(seed)
    val pos = new Positions(startScn)
    val factory = new TxnFactory(rnd, mix)
    val lead = FeedPlan.build(pos, factory, 1,
      _ => p.get("lead_in_txns").asInt, () => 0, 1L, _ => 1L)
    var acc = 0.0
    val window = FeedPlan.build(pos, factory, ticks + 1,
      f => if (f == ticks) 0 else {
        acc += txnsPerTick
        val n = acc.toInt; acc -= n; n
      },
      () => if (rnd.nextDouble() < sameTick) 0 else lo + rnd.nextInt(hi - lo + 1),
      2L, _ => 0L)
    (lead, window)
  }

  def runLive(env: CdcEnv, p: JsonNode, lead: FeedPlan, window: FeedPlan,
      root: Path, i: Int, traced: Boolean, tracer: Tracer,
      windowSecs: Double): LiveRun = {
    val dir = mkdirs(root.resolve(s"live-feed-$i"))
    val staging = mkdirs(root.resolve(s"live-staging-$i"))
    CdcFeed.publish(lead.files(0).toSeq, staging, dir, "redo-lead.json")
    val gen = new LiveGen(window, p.get("tick_ms").asInt * 1000000L, dir, staging)
    val both = FeedPlan(lead.files ++ window.files, lead.txns ++ window.txns,
      lead.commitFile ++ window.commitFile, lead.events + window.events,
      lead.dmlEvents + window.dmlEvents)
    val before = env.s.sparkProbe.snapshot(env.s.spark)
    val ph = runPhase(env, both,
      pipelineConfig(dir, p.get("max_files_per_trigger").asInt),
      root.resolve(s"live-ckpt-$i"), traced, tracer,
      System.nanoTime() + ((windowSecs + p.get("drain_timeout_s").asDouble) * 1e9).toLong,
      q => {
        q.processAllAvailable() // the lead-in batch brings the query up
        gen.startNs = System.nanoTime()
        gen.start()
      })
    gen.join()
    if (gen.failure != null) throw gen.failure
    new LiveRun(ph, gen, window, dir,
      SparkProbe.delta(env.s.sparkProbe.snapshot(env.s.spark), before))
  }

  /** Closed loop: drain the backlog to the broker, again and again from a
    * fresh checkpoint, until `secs` are spent (at least `minUnits`). A unit
    * is one drain, or (traced run) an untraced and a traced drain, their
    * order flipping from unit to unit, so both kinds sit at the same points
    * of the JVM's warm-up. */
  def runDrains(env: CdcEnv, p: JsonNode, plan: FeedPlan, feed: Path,
      root: Path, unit: Seq[Boolean], tracer: Tracer,
      secs: Double, minUnits: Int): Seq[(Phase, Map[String, SparkCounters])] = {
    val cfg = pipelineConfig(feed, p.get("max_files_per_trigger").asInt)
    val timeout = (p.get("drain_timeout_s").asDouble * 1e9).toLong
    val out = ArrayBuffer.empty[(Phase, Map[String, SparkCounters])]
    val t0 = System.nanoTime()
    var units = 0
    var lastNs = 0L
    // another unit only while one more (as long as the last) still fits
    while (units < minUnits || System.nanoTime() - t0 + lastNs <= secs * 1e9) {
      val u0 = System.nanoTime()
      (if (units % 2 == 0) unit else unit.reverse).foreach { traced =>
        val before = env.s.sparkProbe.snapshot(env.s.spark)
        val ph = runPhase(env, plan, cfg,
          root.resolve(s"drain-ckpt-${out.size}"), traced,
          if (traced) tracer else Tracer.off, System.nanoTime() + timeout, _ => ())
        out += ((ph, SparkProbe.delta(env.s.sparkProbe.snapshot(env.s.spark), before)))
      }
      lastNs = System.nanoTime() - u0
      units += 1
    }
    out.toSeq
  }

  /** The backlog: skewed commit distances, supplemental images, rollbacks
    * and partial rollbacks; all files written before any clock starts. */
  def backlog(ctx: Ctx, p: JsonNode, root: Path): (FeedPlan, Path) = {
    val rnd = new Random(ctx.seed)
    val dist = p.get("commit_distance")
    val (same, next, later) = (dist.get("same_file").asDouble,
      dist.get("next_file").asDouble, dist.get("four_files_later").asDouble)
    val plan = FeedPlan.build(new Positions(1L << 40),
      new TxnFactory(rnd, FeedPlan.mix(p)), p.get("files").asInt,
      _ => p.get("txns_per_file").asInt,
      () => {
        val u = rnd.nextDouble()
        if (u < same) 0 else if (u < same + next) 1
        else if (u < same + next + later) 4 else -1
      }, 1L, f => 1760000000000000000L + f * 1000000000L)
    val feed = mkdirs(root.resolve("backlog-feed"))
    val staging = mkdirs(root.resolve("backlog-staging"))
    CdcFeed.publishAll(plan.files.map(_.toSeq).toSeq, staging, feed,
      i => f"redo-$i%05d.json")
    (plan, feed)
  }

  /** The `cdc` workload: backlog drains (closed loop), then a live window
    * (open loop at the offered rate), through one session, broker and writer.
    * `latency_p50_ms` comes from the live window, `throughput_per_s` from
    * the drains. A traced run alternates untraced and traced drains, and
    * runs three live windows of a third of the length: untraced, traced,
    * untraced. */
  def run(ctx: Ctx, res: Result): Unit = {
    val cdcP = ctx.params.get("cdc")
    val lp = cdcP.get("live")
    val cp = cdcP.get("catchup")
    val liveSecs = ctx.seconds * cdcP.get("live_share").asDouble
    val drainSecs = ctx.seconds - liveSecs
    val root = mkdirs(ctx.work.resolve("cdc"))
    val windows = if (ctx.trace) Seq(false, true, false) else Seq(false)
    val windowSecs = liveSecs / windows.size
    val ticks = math.max(1, math.round(windowSecs * 1000 / lp.get("tick_ms").asInt).toInt)
    val g0 = System.nanoTime()
    val live = windows.indices.map(i =>
      livePlans(lp, ctx.seed * 1000003L + i, (i + 1L) << 32, ticks))
    val (plan, feed) = backlog(ctx, cp, root)
    val generatedS = (System.nanoTime() - g0) / 1e9
    res.detail("live_window_events", live.head._2.events)
    res.detail("live_window_txns", live.head._2.txns.size)
    res.detail("backlog_events", plan.events)
    res.detail("backlog_txns", plan.txns.size)
    res.detail("backlog_messages", plan.messages)

    val env = Setup.cold(ctx, res, generatedS)(setup(ctx))
    try {
      val liveTracer = new Tracer(true, "cdc-live")
      val drainTracer = new Tracer(true, "cdc-catchup")
      liveTracer.spark = env.s.spark
      drainTracer.spark = env.s.spark
      // drains first: they also bring the JIT to steady state before the
      // live window, whose latency would otherwise include the ramp
      val drains = runDrains(env, cp, plan, feed, root,
        if (ctx.trace) Seq(false, true) else Seq(false), drainTracer, drainSecs,
        cp.get("min_drains").asInt)
      val lives = windows.zipWithIndex.map { case (traced, i) =>
        runLive(env, lp, live(i)._1, live(i)._2, root, i, traced,
          if (traced) liveTracer else Tracer.off, windowSecs)
      }
      // output checks
      var failed = 0L
      lives.zipWithIndex.foreach { case (l, i) =>
        failed += check(l.ph, replay(env.s.spark, l.dir), res, s"live$i", ctx.corrupt).size
      }
      val expected = replay(env.s.spark, feed)
      drains.zipWithIndex.foreach { case ((ph, _), i) =>
        failed += check(ph, expected, res, s"drain$i", ctx.corrupt).size
      }
      res.attempted = (lives.map(_.ph) ++ drains.map(_._1))
        .map(_.plan.expected.size.toLong).sum
      res.failed = failed

      val plainLives = lives.filterNot(_.ph.traced)
      val lat = plainLives.flatMap(_.latenciesMs)
      val limitMs = lp.get("latency_limit_ms").asDouble
      val plain = drains.filterNot(_._1.traced)
      val eps = plain.map(d => plan.events / d._1.seconds)
      res.metric("latency_p50_ms", Stats.median(lat), "ms")
      // the JIT still ramps through the first drain: the median of three or
      // more leaves it out
      res.metric("throughput_per_s", Stats.median(eps), "1/s")
      res.detail("live_commit_ack_p99_ms", Stats.quantile(lat, 0.99))
      res.detail("live_late_frac", lat.count(_ > limitMs).toDouble / lat.size)
      res.detail("live_latency_samples", lat.size)
      res.detail("live_never_acked", lat.count(_.isInfinite))
      res.detail("live_gen_late_ms_max", plainLives.map(_.gen.lateNsMax / 1e6).max)
      res.detail("live_batches", plainLives.head.ph.progress.map(pr => Map(
        "rows" -> pr.numInputRows) ++ pr.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }))
      def coreUse(d: (Phase, Map[String, SparkCounters])) =
        SparkProbe.total(d._2).taskMs / 1e3 / (d._1.seconds * ctx.k)
      res.detail("drain_events_per_s", eps)
      res.detail("drain_batches", plain.map(_._1.progress.size))
      res.detail("drain_core_use", plain.map(coreUse))
      res.detail("drain_ack_p50_ms", plain.map(d => Stats.median(
        nsToMs(d._1.sink.ackNs.values.asScala.map(_ - d._1.startNs)))))
      if (ctx.trace) {
        val tl = lives(1)
        val tdrains = drains.filter(_._1.traced)
        val teps = tdrains.map(d => plan.events / d._1.seconds)
        res.metric("trace.throughput_overhead_frac",
          Stats.median(eps) / Stats.median(teps) - 1.0, "ratio")
        res.metric("trace.latency_overhead_frac",
          Stats.median(tl.latenciesMs) / Stats.median(lat) - 1.0, "ratio")
        // batch start − COMMIT creation, per transaction of the window
        val start = tl.ph.progress.map(pr => pr.batchId -> batchStartNs(pr)).toMap
        batchMetrics(tl.ph, res,
          tl.ph.sink.batchOf.asScala.toSeq.flatMap { case (scn, b) =>
            for (s <- start.get(b); f <- tl.window.commitFile.get(scn))
              yield (s - tl.gen.dueNs(f)) / 1e6
          }, tl.spark)
        rowMetrics(tdrains.map(_._1), drainTracer, res)
        SparkMetrics.report(res, tdrains.map(_._2), tdrains.map(_._1.seconds), ctx.k)
        res.metric("gen.late_ms_max", tl.gen.lateNsMax / 1e6, "ms")
        res.metric("e2e.commit_ack_p99_ms", Stats.quantile(lat, 0.99), "ms")
        res.metric("e2e.late_frac", lat.count(_ > limitMs).toDouble / lat.size, "ratio")
        res.metric("e2e.samples", lat.size.toDouble, "count")
        Layers.finish(ctx.workload, res, Seq(liveTracer, drainTracer))
      }
    } finally env.close()
  }
}
