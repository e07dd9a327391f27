package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.cdc._
import graft.streaming.Metrics

/** Metrics parity (SURVEY.md §6): per-batch throughput/state gauges from
  * streaming progress, per-table DML counters from the output frame. */
class MetricsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ev(scn: Long, op: String, xid: String = "1.0.1"): ChangeEvent =
    ChangeEvent(scn, xid, op)

  test("collector reports rows, state size, and batch duration per batch") {
    implicit val s: SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._
    val collector = Metrics.attach(spark)
    try {
      val input = MemoryStream[ChangeEvent]
      val query = TxnAssembly.assembleStream(input.toDS())
        .writeStream.format("memory").queryName("metrics_out")
        .outputMode("append").start()

      input.addData(ev(1, Op.Begin), ev(2, Op.Ins).copy(after = Map("k" -> "v")))
      query.processAllAvailable()
      input.addData(ev(3, Op.Commit))
      query.processAllAvailable()
      query.stop()
      // listener delivery is async relative to processAllAvailable
      var tries = 0
      while (collector.snapshots.count(_.inputRows > 0) < 2 && tries < 50) {
        Thread.sleep(100); tries += 1
      }

      val batches = collector.snapshots.filter(_.inputRows > 0)
      assert(batches.size >= 2)
      assert(batches.head.inputRows == 2L) // begin + ins
      // open transaction held as keyed state after batch 1
      assert(batches.head.stateRows == 1L)
      assert(batches.head.stateBytes > 0L)
      assert(batches.forall(_.batchDurationMs >= 0L))
      // commit batch: state released
      assert(batches.last.stateRows == 0L)
    } finally Metrics.detach(spark, collector)
  }

  test("Speed MB/s yardstick: logical bytes over wall-clock, fed into " +
      "the bytes_parsed counter (the Metrics.h rate source)") {
    import spark.implicits._
    val sink = Seq(("k1", "v" * 1048566), ("k2", "x" * 6))
      .toDF("key", "value")
    val bytes = Metrics.logicalBytes(sink)
    assert(bytes == 1048566L + 6L + 2L + 2L) // values + keys = 1 MiB
    val p = new graft.streaming.Prometheus()
    val mbs = Metrics.speedMBs(p, bytes, wallMs = 2000L)
    assert(math.abs(mbs - 0.5) < 1e-9) // exactly 1 MiB over 2 s
    assert(Metrics.speedMBs(p, bytes, wallMs = 0L) == 0.0) // no div-by-0
    // the emitted counter carries the bytes for scraper-side rate()
    val line = p.render().linesIterator
      .find(_.startsWith("bytes_parsed")).get
    assert(line.endsWith(s" ${(2 * bytes).toDouble}") ||
      line.endsWith(s" ${2 * bytes}"), line)
    // null values (e.g. a frame of tombstones) don't NPE the measure
    val withNull = Seq(("k", null: String)).toDF("key", "value")
    assert(Metrics.logicalBytes(withNull) == 1L)
  }

  test("soak-shape counters on RocksDB: state grows with open txns and drains at commit") {
    // miniature of tools.StreamSoak (whose 1M-event figures live in
    // SCALE.md §streaming-soak): cross-batch open transactions must be
    // VISIBLE in the reported state gauges — peak stateRows equals the
    // open-txn count and the final batch drains to zero. Runs on the
    // RocksDB provider, the at-scale backend the soak measures.
    implicit val s: SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val collector = Metrics.attach(spark)
    try {
      val input = MemoryStream[ChangeEvent]
      val query = TxnAssembly.assembleStream(input.toDS())
        .writeStream.format("noop").outputMode("append").start()
      val nTxn = 64
      // batch 1: all txns open (begin + ins each), none commit
      input.addData((0 until nTxn).flatMap { j =>
        val xid = s"1.0.$j"
        Seq(ev(j * 10L, Op.Begin, xid),
          ev(j * 10L + 1, Op.Ins, xid).copy(after = Map("k" -> s"v$j")))
      })
      query.processAllAvailable()
      // batch 2: every txn commits → state drains
      input.addData((0 until nTxn).map(j => ev(j * 10L + 2, Op.Commit, s"1.0.$j")))
      query.processAllAvailable()
      query.stop()
      var tries = 0
      while (collector.snapshots.count(_.inputRows > 0) < 2 && tries < 50) {
        Thread.sleep(100); tries += 1
      }
      val batches = collector.snapshots.filter(_.inputRows > 0)
      assert(batches.size >= 2)
      assert(batches.head.inputRows == 2L * nTxn)
      assert(batches.head.stateRows == nTxn.toLong) // one state row per open txn
      assert(batches.head.stateBytes > 0L)
      assert(batches.last.stateRows == 0L) // commit batch drains the store
      // the transaction-memory gauge follows: non-zero while the txns are
      // open, back to 0 after the last commit (RocksDB still reports its
      // own resident bytes then — that is not transaction memory)
      val prom = new graft.streaming.Prometheus()
      def gauge(): Double = prom.render().linesIterator
        .find(_.startsWith("memory_used_mb{type=\"transactions\"}"))
        .map(_.split(" ").last.toDouble).getOrElse(fail("gauge missing"))
      prom.observeBatch(batches.head)
      assert(gauge() > 0.0)
      prom.observeBatch(batches.last)
      assert(gauge() == 0.0)
    } finally {
      Metrics.detach(spark, collector)
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("Prometheus gauges track the soak's state curve batch by batch " +
      "(r9 verdict ask #7)") {
    // StreamSoak feeds each BatchMetrics through observeBatch; the
    // memory_used_mb{type="transactions"} gauge must FOLLOW the curve
    // (climb with the skewed stragglers, drain at the end), not just
    // hold some final value — scrape after every observation and pin
    // the gauge to that batch's stateBytes.
    val prom = new graft.streaming.Prometheus()
    val curve = Seq(10L, 200L, 900L, 1400L, 600L, 0L).map(_ * 1048576L)
    curve.zipWithIndex.foreach { case (bytes, i) =>
      prom.observeBatch(Metrics.BatchMetrics(
        batchId = i.toLong, inputRows = 1000L, inputRowsPerSec = 0.0,
        processedRowsPerSec = 0.0, stateRows = bytes / 1048576L,
        stateBytes = bytes, batchDurationMs = 50L + i))
      val line = prom.render().linesIterator
        .find(_.startsWith("memory_used_mb{type=\"transactions\"}"))
        .getOrElse(fail(s"gauge missing at batch $i"))
      val got = line.split(" ").last.toDouble
      assert(math.abs(got - bytes / 1048576.0) < 0.01,
        s"batch $i: gauge $got != ${bytes / 1048576.0}")
    }
  }

  test("dmlCounters aggregates per (owner, table, op)") {
    import spark.implicits._
    val df = Seq(
      ("U1", "T1", "c"), ("U1", "T1", "c"), ("U1", "T1", "u"),
      ("U2", "T2", "d")).toDF("owner", "table_name", "op")
    val out = Metrics.dmlCounters(df)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(out == Map(
      ("U1", "T1", "c") -> 2L, ("U1", "T1", "u") -> 1L, ("U2", "T2", "d") -> 1L))
  }

  test("ddlCounters classifies by leading keyword; unknown falls to other") {
    import spark.implicits._
    val df = Seq(
      "ALTER TABLE t ADD c INT", "  alter session set x=1",
      "CREATE INDEX i ON t(c)", "DROP TABLE t", "TRUNCATE TABLE t",
      "PURGE RECYCLEBIN", "FLASHBACK TABLE t TO BEFORE DROP", "GRANT ALL")
      .toDF("ddl_text")
    val out = Metrics.ddlCounters(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("alter" -> 2L, "create" -> 1L, "drop" -> 1L,
      "truncate" -> 1L, "purge" -> 1L, "other" -> 2L))
  }

  test("dmlSkipCounters counts unselected-obj events per op") {
    import spark.implicits._
    val df = Seq((100L, "c"), (100L, "u"), (999L, "c"), (999L, "c"),
      (998L, "d")).toDF("obj", "op")
    val out = Metrics.dmlSkipCounters(df, Seq(100L)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("c" -> 2L, "d" -> 1L))
  }
}
