package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import graft.cdc._

/** Streaming semantics: cross-batch keyed state (T1/T7) and exactly-once
  * restart (f18) through real Structured Streaming queries. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ev(scn: Long, op: String, xid: String = "1.0.1"): ChangeEvent =
    ChangeEvent(scn, xid, op)

  test("uncommitted state persists across micro-batches; commit flushes") {
    implicit val s: SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._
    val input = MemoryStream[ChangeEvent]
    val out = TxnAssembly.assembleStream(input.toDS())
    val query = out.writeStream.format("memory").queryName("txn_out")
      .outputMode("append").start()

    // batch 1: open transaction, no commit → nothing emitted
    input.addData(ev(1, Op.Begin), ev(2, Op.Ins).copy(after = Map("k" -> "a")))
    query.processAllAvailable()
    assert(spark.table("txn_out").count() == 0)

    // batch 2: commit arrives → the buffered op flushes with commit scn
    input.addData(ev(3, Op.Commit))
    query.processAllAvailable()
    val rows = spark.table("txn_out").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("cScn") == 3L)
    query.stop()
  }

  test("abandoned-transaction TTL: timed-out state drops, emits nothing") {
    implicit val s: SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._
    val input = MemoryStream[ChangeEvent]
    val out = TxnAssembly.assembleStream(input.toDS(),
      TxnAssembly.Config(stateTtlMs = 1L))
    // ProcessingTimeTimeout keeps scheduling empty sweep batches, so
    // processAllAvailable() never quiesces — use a timed trigger and poll
    // the sink instead
    val query = out.writeStream.format("memory").queryName("ttl_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(20L))
      .start()
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("ttl_out").count() < n &&
          System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(spark.table("ttl_out").count() >= n)
    }

    // open a txn that will never commit, plus a committed control txn
    input.addData(ev(1, Op.Begin, "9.9.9"),
      ev(2, Op.Ins, "9.9.9").copy(after = Map("k" -> "zombie")))
    input.addData(ev(10, Op.Begin), ev(11, Op.Ins).copy(after = Map("k" -> "b")),
      ev(12, Op.Commit))
    awaitRows(1)
    Thread.sleep(500) // ≫ TTL: sweep batches reap the abandoned txn
    // a late commit for the reaped txn finds no buffered state → emits
    // nothing; a second control txn proves the pipeline still flows
    input.addData(ev(30, Op.Commit, "9.9.9"))
    input.addData(ev(40, Op.Begin), ev(41, Op.Ins).copy(after = Map("k" -> "c")),
      ev(42, Op.Commit))
    awaitRows(2)
    val rows = spark.table("ttl_out").collect()
    assert(rows.map(_.getAs[String]("xid")).toSet == Set("1.0.1"))
    assert(!rows.exists(_.getAs[Map[String, String]]("after")
      .exists(_._2 == "zombie")))
    query.stop()
  }

  test("keyed state runs on the RocksDB store (the at-scale state backend)") {
    implicit val s: SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[ChangeEvent]
      val query = TxnAssembly.assembleStream(input.toDS())
        .writeStream.format("memory").queryName("txn_rocksdb")
        .outputMode("append").start()
      input.addData(ev(1, Op.Begin), ev(2, Op.Ins).copy(after = Map("k" -> "a")))
      query.processAllAvailable() // state (open txn) persists in RocksDB
      assert(spark.table("txn_rocksdb").count() == 0)
      input.addData(ev(3, Op.Commit))
      query.processAllAvailable()
      assert(spark.table("txn_rocksdb").collect().map(_.getAs[Long]("cScn")).toSeq == Seq(3L))
      query.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("§2.9: windowed op counts — watermark closes windows, drops late data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Long)] // (op, event-time seconds)
    val windowed = graft.streaming.Metrics.windowedOpCounts(
      input.toDS().toDF("op", "sec"),
      org.apache.spark.sql.functions.timestamp_seconds(
        org.apache.spark.sql.functions.col("sec")))
    val query = windowed.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()

    input.addData(("c", 5L), ("c", 8L), ("u", 25L))
    query.processAllAvailable() // watermark after batch: 25-10 = 15s
    input.addData(("c", 3L), ("c", 45L)) // 3s < watermark → DROPPED
    query.processAllAvailable() // [0,10) closes: emitted without the late row
    input.addData(("c", 60L))
    query.processAllAvailable() // watermark 35 → [20,30) closes too
    val rows = spark.table("win_out").collect()
      .map(r => (r.getTimestamp(0).toInstant.getEpochSecond,
        r.getString(1), r.getLong(2))).toSet
    assert(rows.contains((0L, "c", 2L))) // late 3s NOT counted
    assert(rows.contains((20L, "u", 1L)))
    query.stop()
  }

  test("Pipeline.stream: file source -> assembly -> envelope end-to-end") {
    val dir = Files.createTempDirectory("pipe_stream").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "feed_001.jsonl"))
    w.println("""{"scn":1,"xid":"1.0.1","op":"BEGIN"}""")
    w.println("""{"scn":2,"xid":"1.0.1","op":"INS","obj":100,"after":{"ID":"1","VAL":"x"}}""")
    w.println("""{"scn":3,"xid":"1.0.1","op":"COMMIT"}""")
    w.close()
    val dict = Dictionary(Seq(
      DbTable(100L, 100L, "APP", "T", Seq(DbColumn("ID", 2, numPk = 1),
        DbColumn("VAL", 1)), tagType = "pk")))
    val out = graft.streaming.Pipeline.stream(spark,
      graft.streaming.Pipeline.Config(
        graft.streaming.Pipeline.SourceConfig(dir.getAbsolutePath), dict))
    val query = out.writeStream.format("memory").queryName("pipe_stream_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val rows = spark.table("pipe_stream_out").collect()
      assert(rows.length == 1)
      val v = rows.head.getAs[String]("value")
      assert(v.contains(""""op":"c"""") && v.contains(""""table":"T""""))
      assert(rows.head.getAs[String]("key") == "1") // pk tag
      // a second file appears (log switch) → next txn flows through
      val w2 = new java.io.PrintWriter(new java.io.File(dir, "feed_002.jsonl"))
      w2.println("""{"scn":4,"xid":"2.0.1","op":"INS","obj":100,"after":{"ID":"2","VAL":"y"}}""")
      w2.println("""{"scn":5,"xid":"2.0.1","op":"COMMIT"}""")
      w2.close()
      query.processAllAvailable()
      assert(spark.table("pipe_stream_out").count() == 2)
    } finally query.stop()
  }

  test("interleaved transactions assemble independently per xid") {
    implicit val s: SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._
    val input = MemoryStream[ChangeEvent]
    val out = TxnAssembly.assembleStream(input.toDS())
    val query = out.writeStream.format("memory").queryName("txn_interleave")
      .outputMode("append").start()
    input.addData(
      ev(1, Op.Ins, "1.0.1").copy(after = Map("k" -> "t1")),
      ev(2, Op.Ins, "2.0.1").copy(after = Map("k" -> "t2")),
      ev(3, Op.Commit, "2.0.1"), // t2 commits first
      ev(4, Op.Ins, "1.0.1").copy(after = Map("k" -> "t1b")),
      ev(5, Op.Commit, "1.0.1"))
    query.processAllAvailable()
    val rows = spark.table("txn_interleave")
      .selectExpr("xid", "cScn", "after['k']").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._2)
    assert(rows.toSeq == Seq(
      ("2.0.1", 3L, "t2"), ("1.0.1", 5L, "t1"), ("1.0.1", 5L, "t1b")))
    query.stop()
  }

  test("f18: restart from checkpoint emits no duplicates") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_restart").toString
    val srcDir = s"$dir/events"
    val outDir = s"$dir/out"
    val ckpt = s"$dir/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))

    def writeBatch(n: Int, events: Seq[ChangeEvent]): Unit =
      Seq(events).toDS().flatMap(identity).coalesce(1)
        .write.json(s"$srcDir/batch$n")

    def runOnce(): Unit = {
      val events = spark.readStream.schema(ChangeEvent.schema)
        .json(s"$srcDir/*").as[ChangeEvent]
      val out = TxnAssembly.assembleStream(events)
      val q = out.selectExpr("CAST(cScn AS STRING) AS c_scn",
          "CAST(cIdx AS STRING) AS c_idx", "xid")
        .writeStream.format("json").option("path", outDir)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }

    writeBatch(1, Seq(
      ev(1, Op.Ins).copy(after = Map("k" -> "a")), ev(2, Op.Commit)))
    runOnce()
    // second run sees old + new input; only the new txn may be emitted
    writeBatch(2, Seq(
      ev(3, Op.Ins).copy(after = Map("k" -> "b")), ev(4, Op.Commit)))
    runOnce()

    val result = spark.read.json(outDir).select("c_scn", "c_idx").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(result.length == 2, s"expected 2 messages, got ${result.toSeq}")
    assert(result.distinct.length == 2)
  }

  test("f18 restart path on the RocksDB provider with state TTL") {
    // the at-scale configuration: RocksDB-backed keyed state + a TTL on
    // open transactions, surviving a checkpoint restart with no duplicate
    // emissions — the claim at TxnAssembly.scala:334 proven end-to-end
    implicit val s: SparkSession = spark
    import s.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = Files.createTempDirectory("graft_restart_rocks").toString
      val srcDir = s"$dir/events"
      val outDir = s"$dir/out"
      val ckpt = s"$dir/ckpt"
      Files.createDirectories(java.nio.file.Paths.get(srcDir))
      def writeBatch(n: Int, events: Seq[ChangeEvent]): Unit =
        Seq(events).toDS().flatMap(identity).coalesce(1)
          .write.json(s"$srcDir/batch$n")
      def countOut(): Long =
        try spark.read.schema("c_scn STRING, c_idx STRING, xid STRING")
          .json(outDir).count()
        catch { case _: Throwable => 0L }
      // ProcessingTimeTimeout keeps scheduling empty sweep batches, so
      // processAllAvailable() never quiesces — timed trigger + sink poll,
      // like the TTL test above
      def runOnce(expectRows: Long): Unit = {
        val events = spark.readStream.schema(ChangeEvent.schema)
          .json(s"$srcDir/*").as[ChangeEvent]
        // long TTL: open txns persist across the restart, not dropped
        val out = TxnAssembly.assembleStream(events,
          TxnAssembly.Config(stateTtlMs = 3600000L))
        val q = out.selectExpr("CAST(cScn AS STRING) AS c_scn",
            "CAST(cIdx AS STRING) AS c_idx", "xid")
          .writeStream.format("json").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(20L))
          .start()
        val deadline = System.currentTimeMillis + 120000
        while (countOut() < expectRows &&
            System.currentTimeMillis < deadline) Thread.sleep(100)
        q.stop()
        assert(countOut() >= expectRows)
      }
      // txn A commits in run 1; txn B stays OPEN in RocksDB state across
      // the restart and commits in run 2
      writeBatch(1, Seq(
        ev(1, Op.Ins).copy(after = Map("k" -> "a")), ev(2, Op.Commit),
        ev(3, Op.Ins).copy(xid = "9.0.2", after = Map("k" -> "b"))))
      runOnce(1)
      writeBatch(2, Seq(ev(4, Op.Commit).copy(xid = "9.0.2")))
      runOnce(2)
      val result = spark.read.json(outDir).select("c_scn", "xid").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      assert(result == Seq(("2", "1.0.1"), ("4", "9.0.2")),
        s"got $result")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("restart on a RocksDB checkpoint written by the lambda-keyed " +
      "(groupByKey(_.xid)) assembly resumes its open transactions") {
    // assembleStream groups by the xid COLUMN; checkpoints of the earlier
    // groupByKey(_.xid) shape (key schema `value: string`) must restart
    // on it with their keyed state intact — same state operator, same
    // value schema, a key schema equal up to its field name
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = Files.createTempDirectory("graft_rekey").toString
      val srcDir = s"$dir/events"
      val outDir = s"$dir/out"
      val ckpt = s"$dir/ckpt"
      Files.createDirectories(java.nio.file.Paths.get(srcDir))
      def writeBatch(n: Int, events: Seq[ChangeEvent]): Unit =
        Seq(events).toDS().flatMap(identity).coalesce(1)
          .write.json(s"$srcDir/batch$n")
      def runOnce(assemble: Dataset[ChangeEvent] => Dataset[ChangeMessage])
          : Unit = {
        val events = graft.sources.EventSource.streamJson(spark, s"$srcDir/*")
        val q = assemble(events)
          .selectExpr("CAST(cScn AS STRING) AS c_scn", "xid",
            "after['k'] AS k")
          .writeStream.format("json").option("path", outDir)
          .option("checkpointLocation", ckpt).start()
        q.processAllAvailable()
        q.stop()
      }
      val cfg = TxnAssembly.Config()
      // run 1, lambda-keyed: txn A commits, txn B stays open in state
      writeBatch(1, Seq(
        ev(1, Op.Ins).copy(after = Map("k" -> "a")), ev(2, Op.Commit),
        ev(3, Op.Ins).copy(xid = "9.0.2", after = Map("k" -> "b"))))
      runOnce(_.groupByKey(_.xid).flatMapGroupsWithState(
        OutputMode.Append, TxnAssembly.stateTimeout(cfg))(
        TxnAssembly.streamStep(cfg)))
      // run 2, column-keyed: B's buffered insert flushes at its commit
      writeBatch(2, Seq(ev(4, Op.Commit).copy(xid = "9.0.2")))
      runOnce(TxnAssembly.assembleStream(_, cfg))
      val result = spark.read.json(outDir).select("c_scn", "xid", "k")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq.sorted
      assert(result == Seq(("2", "1.0.1", "a"), ("4", "9.0.2", "b")),
        s"got $result")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming ingest dedup: canonical-text key, state bounded by watermark") {
    // The streaming face of q25/q78: documents arriving on a stream dedup
    // on the canonical-text md5 via dropDuplicatesWithinWatermark — state
    // for a key is dropped once the watermark passes it, so the dedup
    // store is bounded by the lateness budget instead of growing with the
    // corpus (the only dedup state shape that survives an unbounded
    // ingest at 100 TB).
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, String)]
    val out = input.toDS().toDF("doc_id", "ts_sec", "text")
      .withColumn("event_time", timestamp_seconds(col("ts_sec")))
      .withColumn("key",
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withWatermark("event_time", "10 seconds")
      .dropDuplicatesWithinWatermark("key")
    val q = out.writeStream.format("memory").queryName("ingest_dedup")
      .outputMode("append").start()
    try {
      input.addData((1L, 10L, "Hello  World"), (2L, 11L, "hello world"),
        (3L, 12L, "fresh doc"))
      q.processAllAvailable()
      // the duplicate arrives in a LATER batch, still inside the watermark
      input.addData((4L, 13L, "HELLO   world"), (5L, 14L, "another one"))
      q.processAllAvailable()
      val rows = spark.table("ingest_dedup")
        .select("doc_id", "key").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // exactly one survivor per canonical key, three keys total
      assert(rows.length == 3, s"got ${rows.toSeq}")
      assert(rows.map(_._2).distinct.length == 3)
      assert(rows.exists(_._1 == 3L) && rows.exists(_._1 == 5L))
      assert(rows.exists(r => r._1 == 1L || r._1 == 2L)) // one of the dups
      assert(!rows.exists(_._1 == 4L)) // cross-batch duplicate dropped
    } finally q.stop()
  }

  test("T6 streaming LOB assembly: chains park across micro-batches, " +
      "owner consumes + purges, orphaned owner resolves null") {
    implicit val s: SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._
    import LobAssembly.{LobEvent, ResolvedLob}
    def pg(lobId: String, page: Int, data: String, scn: Long) =
      LobEvent(lobId, "page", page, data, "9.0.9", scn, 0L, scn)
    def ref(lobId: String, xid: String, scn: Long) =
      LobEvent(lobId, "ref", -1, null, xid, scn, 0L, scn)
    val input = MemoryStream[LobEvent]
    val out = LobAssembly.streamResolve(input.toDS())
    val q = out.writeStream.format("memory").queryName("lob_stream")
      .outputMode("append").start()
    try {
      // batch 1: L1 gets two pages (out of order), L2's OWNER arrives
      // with no pages (orphaned-owner → null), L3 gets page 0 only
      input.addData(pg("L1", 1, "big ", 2), pg("L1", 0, "hello ", 1),
        ref("L2", "2.0.1", 5), pg("L3", 0, "part-", 6))
      q.processAllAvailable()
      // batch 2: L1's owner claims the parked chain + a same-batch page;
      // L3 gets its second page (still unclaimed)
      input.addData(pg("L1", 2, "world", 3), ref("L1", "1.0.1", 4),
        pg("L3", 1, "two", 7))
      q.processAllAvailable()
      // batch 3: L3's owner claims the cross-batch chain; a SECOND L1
      // ref finds the chain purged (consumed at materialization) → null
      input.addData(ref("L3", "3.0.1", 8), ref("L1", "4.0.1", 9))
      q.processAllAvailable()
      val rows = spark.table("lob_stream").as[ResolvedLob].collect()
        .map(r => (r.xid, r.lobId, r.lobData, r.nPages)).toSet
      assert(rows == Set(
        ("2.0.1", "L2", None, 0),
        ("1.0.1", "L1", Some("hello big world"), 3),
        ("3.0.1", "L3", Some("part-two"), 2),
        ("4.0.1", "L1", None, 0)), s"got $rows")
    } finally q.stop()
  }

  test("T6 streaming LOB: toLobEvents adapts the ChangeEvent feed " +
      "(pages + marker references)") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val feed = Seq(
      ChangeEvent(1, "9.0.9", Op.LobData).copy(
        after = Map("lobId" -> "L1", "page" -> "0", "data" -> "x")),
      ChangeEvent(2, "1.0.1", Op.Ins).copy(
        after = Map("id" -> "7", "doc" -> "lob:L1", "note" -> "plain")),
      // delete: the marker sits in the BEFORE image (batch resolve scans
      // both images; the adapter must too)
      ChangeEvent(3, "2.0.1", Op.Del).copy(
        before = Map("id" -> "8", "doc" -> "lob:L2"))).toDS()
    val evs = LobAssembly.toLobEvents(feed).collect()
    assert(evs.map(e => (e.lobId, e.kind)).toSet ==
      Set(("L1", "page"), ("L1", "ref"), ("L2", "ref")))
    assert(evs.find(e => e.kind == "ref" && e.lobId == "L1").get.xid == "1.0.1")
    assert(evs.find(e => e.kind == "ref" && e.lobId == "L2").get.xid == "2.0.1")
  }

  test("§1.2 streaming schema evolution: mid-stream dictionary DML " +
      "refreshes the broadcast dict; restart emits no stale schema") {
    val dir = Files.createTempDirectory("evo").toString
    val srcDir = s"$dir/feed"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val outRows = scala.collection.mutable.ArrayBuffer[(Long, String)]()

    def writeFeed(name: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(srcDir, name))
      lines.foreach(w.println)
      w.close()
    }
    val dictV1 = Dictionary(Seq(
      DbTable(100L, 100L, "APP", "ORDERS_V1",
        Seq(DbColumn("ID", 2, numPk = 1), DbColumn("VAL", 1)),
        tagType = "pk")))
    def runOnce(): Unit = {
      val q = graft.streaming.Pipeline.streamWithEvolution(spark,
        graft.streaming.Pipeline.Config(
          graft.streaming.Pipeline.SourceConfig(srcDir), dictV1),
        s"$dir/dict", s"$dir/ckpt") { (df, _) =>
        outRows ++= df.selectExpr("c_scn", "value").collect()
          .map(r => (r.getLong(0), r.getString(1)))
      }
      try q.processAllAvailable() finally q.stop()
    }

    // txn1 (pre-DDL, commit scn 3) → must render ORDERS_V1;
    // system txn: OBJ$ (obj 18) update renames obj#100 at scn 5;
    // txn2 (post-DDL, commit scn 8) → must render ORDERS_V2.
    writeFeed("feed_001.jsonl",
      """{"scn":1,"xid":"1.0.1","op":"BEGIN"}""",
      """{"scn":2,"xid":"1.0.1","op":"INS","obj":100,"after":{"ID":"1","VAL":"a"}}""",
      """{"scn":3,"xid":"1.0.1","op":"COMMIT"}""",
      """{"scn":4,"xid":"9.0.9","op":"BEGIN"}""",
      """{"scn":5,"xid":"9.0.9","op":"UPD","obj":18,"before":{"OBJ#":"100","NAME":"ORDERS_V1"},"after":{"OBJ#":"100","NAME":"ORDERS_V2"}}""",
      """{"scn":6,"xid":"9.0.9","op":"COMMIT"}""",
      """{"scn":7,"xid":"2.0.1","op":"BEGIN"}""",
      """{"scn":7,"xid":"2.0.1","op":"INS","obj":100,"after":{"ID":"2","VAL":"b"}}""",
      """{"scn":8,"xid":"2.0.1","op":"COMMIT"}""")
    runOnce()
    val first = outRows.toSeq
    assert(first.exists { case (scn, v) =>
      scn == 3L && v.contains(""""table":"ORDERS_V1"""") }, s"got $first")
    assert(first.exists { case (scn, v) =>
      scn == 8L && v.contains(""""table":"ORDERS_V2"""") }, s"got $first")
    assert(!first.exists { case (scn, v) =>
      scn == 8L && v.contains("ORDERS_V1") }, "post-DDL txn used stale schema")

    // RESTART with the ORIGINAL v1 config dict: the evolved name must
    // come back from the dictionary checkpoint, not from cfg.dict — a
    // post-restart transaction rendering ORDERS_V1 would be the
    // stale-schema emission this path exists to prevent.
    outRows.clear()
    writeFeed("feed_002.jsonl",
      """{"scn":10,"xid":"3.0.1","op":"BEGIN"}""",
      """{"scn":10,"xid":"3.0.1","op":"INS","obj":100,"after":{"ID":"3","VAL":"c"}}""",
      """{"scn":11,"xid":"3.0.1","op":"COMMIT"}""")
    runOnce()
    val second = outRows.toSeq
    assert(second.exists { case (scn, v) =>
      scn == 11L && v.contains(""""table":"ORDERS_V2"""") }, s"got $second")
    assert(!second.exists(_._2.contains("ORDERS_V1")),
      "restart resolved against the stale pre-DDL dictionary")
    // no duplicate re-emission of txn1/txn2 after restart
    assert(!second.exists { case (scn, _) => scn == 3L || scn == 8L },
      s"restart re-emitted committed transactions: $second")
  }

  test("§1.2 storage-catalog DDL through the stream: ALTER TABLE ADD " +
      "PARTITION mid-stream makes later partition-obj events resolve") {
    val dir = Files.createTempDirectory("evoPart").toString
    val srcDir = s"$dir/feed"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val outRows = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def writeFeed(name: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(srcDir, name))
      lines.foreach(w.println)
      w.close()
    }
    val dict0 = Dictionary(Seq(
      DbTable(100L, 100L, "APP", "ORDERS",
        Seq(DbColumn("ID", 2, numPk = 1), DbColumn("VAL", 1)),
        tagType = "pk")))
    val part = graft.cdc.SchemaEvolution.TabPartTab
    // batch 1: an event on the (not yet registered) partition obj 111
    // drops; the system txn registers 111 -> 100
    writeFeed("feed_001.jsonl",
      """{"scn":1,"xid":"1.0.1","op":"BEGIN"}""",
      """{"scn":2,"xid":"1.0.1","op":"INS","obj":111,"after":{"ID":"1","VAL":"a"}}""",
      """{"scn":3,"xid":"1.0.1","op":"COMMIT"}""",
      """{"scn":4,"xid":"9.0.9","op":"BEGIN"}""",
      s"""{"scn":5,"xid":"9.0.9","op":"INS","obj":$part,"after":{"OBJ#":"111","DATAOBJ#":"1111","BO#":"100"}}""",
      """{"scn":6,"xid":"9.0.9","op":"COMMIT"}""")
    val q = graft.streaming.Pipeline.streamWithEvolution(spark,
      graft.streaming.Pipeline.Config(
        graft.streaming.Pipeline.SourceConfig(srcDir), dict0),
      s"$dir/dict", s"$dir/ckpt") { (df, _) =>
      outRows ++= df.selectExpr("c_scn", "value").collect()
        .map(r => (r.getLong(0), r.getString(1)))
    }
    try {
      q.processAllAvailable()
      // batch 2: the SAME partition obj now resolves against ORDERS
      writeFeed("feed_002.jsonl",
        """{"scn":10,"xid":"2.0.1","op":"BEGIN"}""",
        """{"scn":11,"xid":"2.0.1","op":"INS","obj":111,"after":{"ID":"2","VAL":"b"}}""",
        """{"scn":12,"xid":"2.0.1","op":"COMMIT"}""")
      q.processAllAvailable()
    } finally q.stop()
    val got = outRows.toSeq
    assert(got.exists { case (scn, v) =>
      scn == 12L && v.contains(""""table":"ORDERS"""") },
      s"partition-obj event did not resolve after TABPART$$ DDL: $got")
    // the system txn itself never reaches the sink (F5 suppression path:
    // storage-catalog objs are filtered as system messages)
    assert(!got.exists(_._2.contains("BO#")),
      s"storage-catalog DML leaked into the output: $got")
  }

  test("§1.2 retention prune runs AFTER the sink: a catch-up batch " +
      "spanning more scns than the retention still resolves its " +
      "earliest events against the version valid at THEIR scn") {
    val dir = Files.createTempDirectory("evoWide").toString
    val srcDir = s"$dir/feed"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val outRows = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val w = new java.io.PrintWriter(new java.io.File(srcDir, "feed.jsonl"))
    // ONE micro-batch (single file) replaying a backlog: txn1 commits at
    // scn 3 under the V1 schema; a system txn renames the table at scn 5;
    // txn2 commits far later at scn 100008. With dictRetentionScns=50 the
    // low-water mark keyed to the batch's MAX commit scn (99958) is far
    // above V1's close (scn 6) — pruning before Materialize would drop
    // the version txn1 needs even though the open-txn-span contract was
    // honored. The prune must therefore run after the sink consumed the
    // batch.
    Seq(
      """{"scn":1,"xid":"1.0.1","op":"BEGIN"}""",
      """{"scn":2,"xid":"1.0.1","op":"INS","obj":100,"after":{"ID":"1","VAL":"a"}}""",
      """{"scn":3,"xid":"1.0.1","op":"COMMIT"}""",
      """{"scn":4,"xid":"9.0.9","op":"BEGIN"}""",
      """{"scn":5,"xid":"9.0.9","op":"UPD","obj":18,"before":{"OBJ#":"100","NAME":"ORDERS_V1"},"after":{"OBJ#":"100","NAME":"ORDERS_V2"}}""",
      """{"scn":6,"xid":"9.0.9","op":"COMMIT"}""",
      """{"scn":100007,"xid":"2.0.1","op":"BEGIN"}""",
      """{"scn":100007,"xid":"2.0.1","op":"INS","obj":100,"after":{"ID":"2","VAL":"b"}}""",
      """{"scn":100008,"xid":"2.0.1","op":"COMMIT"}""").foreach(w.println)
    w.close()
    val dictV1 = Dictionary(Seq(
      DbTable(100L, 100L, "APP", "ORDERS_V1",
        Seq(DbColumn("ID", 2, numPk = 1), DbColumn("VAL", 1)),
        tagType = "pk")))
    val q = graft.streaming.Pipeline.streamWithEvolution(spark,
      graft.streaming.Pipeline.Config(
        graft.streaming.Pipeline.SourceConfig(srcDir), dictV1),
      s"$dir/dict", s"$dir/ckpt", dictRetentionScns = 50L) { (df, _) =>
      outRows ++= df.selectExpr("c_scn", "value").collect()
        .map(r => (r.getLong(0), r.getString(1)))
    }
    try q.processAllAvailable() finally q.stop()
    val got = outRows.toSeq
    assert(got.exists { case (scn, v) =>
      scn == 3L && v.contains(""""table":"ORDERS_V1"""") },
      s"pre-DDL txn lost its schema version to an early prune: $got")
    assert(got.exists { case (scn, v) =>
      scn == 100008L && v.contains(""""table":"ORDERS_V2"""") }, s"got $got")
  }
}
