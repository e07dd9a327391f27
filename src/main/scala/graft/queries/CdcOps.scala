package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc._
import graft.core.{OracleCodecs, Tables}

/** CDC-core operators exercised through the REAL transaction-assembly engine
  * (graft.cdc.TxnAssembly), with the `events` table adapted into a change
  * feed: user_id ≙ XID, event_id ≙ SCN, event_type ≙ opcode. The DuckDB
  * oracles restate the same semantics relationally, so the correctness gate
  * covers the stateful path — not just DataFrame built-ins.
  */
object CdcOps {
  type Q = (SparkSession, String) => DataFrame

  /** events parquet → Dataset[ChangeEvent] under an op-mapping.
    * No repartition here: assembleBatch hash-partitions by xid itself, so
    * a second exchange would only spread the (cheap) map construction —
    * measured a wash locally, and strictly one shuffle fewer at scale. */
  private def adapt(s: SparkSession, dir: String, opExpr: String): Dataset[ChangeEvent] = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .selectExpr(
        "event_id AS scn", "0 AS subScn", "1L AS seq", "event_id AS offset",
        "1 AS thread", "CAST(user_id AS STRING) AS xid", opExpr + " AS op",
        "0L AS obj", "0L AS bdba", "0 AS slot", "'' AS fb",
        "CAST(NULL AS MAP<STRING,STRING>) AS before",
        // decimal-cast: double→string rendering is engine-portable this way
        "map('value', CAST(CAST(value AS DECIMAL(10,2)) AS STRING)) AS after",
        "CAST(NULL AS MAP<STRING,STRING>) AS suppBefore",
        "CAST(NULL AS MAP<STRING,STRING>) AS suppAfter",
        "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
        "CAST(NULL AS STRING) AS ddlText",
        "0L AS tm")
      .as[ChangeEvent]
  }

  /** q58's archived-log fixture: dump events as two scn-ordered JSONL "log
    * files" under /tmp, once per sf dir (idempotent; staging + atomic
    * rename so a crashed partial dump can't satisfy the existence check).
    * Test SCAFFOLDING, public so the Bench warmup can pre-create it — the
    * measured query is the DSv2 pushdown read, not this dump. Generation
    * runs executor-side (range-partition on scn, no driver
    * materialization), so the same dump works at any scale factor. */
  def ensureDsv2Feed(s: SparkSession, dir: String): java.io.File = {
    val feedDir = new java.io.File(
      s"/tmp/graft_cdc_feed_v1_${math.abs(dir.hashCode).toHexString}")
    if (!feedDir.exists()) {
      val stage = new java.io.File(feedDir.getPath + s".tmp${
        ProcessHandle.current().pid()}")
      Tables.load(s, dir, "events")
        .selectExpr("event_id", "user_id")
        .repartitionByRange(2, col("event_id"))
        .sortWithinPartitions("event_id")
        .selectExpr("concat('{\"scn\":', event_id, ',\"xid\":\"', user_id, " +
          "'\",\"op\":\"INS\",\"obj\":', user_id % 2, '}') AS value")
        .write.mode("overwrite").text(stage.getPath)
      val parts = stage.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
        .sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        f.renameTo(new java.io.File(stage, s"log_${9 + i}.jsonl"))
      }
      stage.listFiles() // drop _SUCCESS / .crc companions
        .filter(f => !f.getName.matches("log_\\d+\\.jsonl"))
        .foreach(_.delete())
      if (!stage.renameTo(feedDir)) { // lost the race: another run won
        stage.listFiles().foreach(_.delete()); stage.delete()
      }
    }
    feedDir
  }

  val defs: Map[String, Q] = Map(
    // T8 dump-XID diagnostic (OpenLogReplicator.cpp:1042-1049 →
    // TransactionBuffer.cpp:78): dump-listed transactions render one
    // trace line per op in the Transaction::log format (Transaction.h:
    // 84-109). The queryable dumpTrace surface is gated here; the
    // executor-log side effect of Config(dumpXids) is spec-covered.
    "q73_dump_xid" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val feed = adapt(s, dir,
        "CASE WHEN event_type = 'error' THEN 'PARTIAL_ROLLBACK' ELSE 'INS' END")
      val dumpList = (0L to 1000L).filter(_ % 9 == 0).map(_.toString).toSet
      TxnAssembly.dumpTrace(feed, dumpList)
        .select(col("scn").as("event_id"),
          col("xid").cast("long").as("user_id"), col("line"))
    }),

    // T1/T2 transaction assembly: buffer per XID in scn order, flush at
    // commit (end-of-feed in batch replay), summarize DML mix per txn.
    "q08_txn_assembly" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val feed = adapt(s, dir,
        "CASE WHEN event_type IN ('signup','purchase') THEN 'INS' " +
          "WHEN event_type IN ('click','view') THEN 'UPD' ELSE 'DEL' END")
      TxnAssembly.assembleBatch(feed, TxnAssembly.Config(commitAtEnd = true))
        .toDF()
        .groupBy(col("xid").cast("long").as("user_id"))
        .agg(
          sum(when(col("op") === "c", 1L).otherwise(0L)).as("n_ins"),
          sum(when(col("op") === "u", 1L).otherwise(0L)).as("n_upd"),
          sum(when(col("op") === "d", 1L).otherwise(0L)).as("n_del"),
          min(col("scn")).as("first_scn"),
          max(col("scn")).as("last_scn"))
    }),

    // T3 partial rollback: each 'error' cancels the most recent surviving
    // op of its transaction (stack semantics, Transaction.cpp:73-197).
    // The oracle states the equivalent parenthesis-matching condition with
    // a running balance + suffix max.
    "q10_partial_rollback" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val feed = adapt(s, dir,
        "CASE WHEN event_type = 'error' THEN 'PARTIAL_ROLLBACK' ELSE 'INS' END")
      TxnAssembly.assembleBatch(feed, TxnAssembly.Config(commitAtEnd = true))
        .toDF()
        .select(col("scn").as("event_id"),
          col("xid").cast("long").as("user_id"))
    }),

    // F2 row-level condition filter through the REAL grammar compiler
    // (Condition.parse/compile — Expression.cpp:27-287 semantics): op char
    // + session attributes, compiled to one codegen'd Catalyst predicate.
    "q04_condition_filter" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events").selectExpr(
        "event_id", "user_id",
        "CASE WHEN event_type IN ('signup','purchase') THEN 'i' " +
          "WHEN event_type IN ('click','view') THEN 'u' ELSE 'd' END AS op",
        "map('region', CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'EU' " +
          "WHEN 1 THEN 'US' ELSE 'APAC' END, " +
          "'segment', CASE WHEN user_id % 7 = 0 THEN 'bot' ELSE 'human' END" +
          ") AS attrs")
      base.filter(Condition.compile(
          "([op] == 'i' || [region] == 'EU') && !([segment] == 'bot')"))
        .select("event_id", "user_id")
    }),

    // §2.7 scalar codecs as registered functions: rowid (dataObj,dba,slot)
    // → 18-char base-64 text and xid usn.slt.sqn → hex form. The DuckDB
    // oracle re-derives both encodings arithmetically, so the gate checks
    // the codec math itself, not just plumbing.
    "q13_codecs" -> ((s, dir) => {
      val ridUdf = udf((o: Long, d: Long, sl: Int) =>
        OracleCodecs.rowIdEncode(o, d, sl))
      val xidUdf = udf((x: Long) => OracleCodecs.xidFormat(x))
      val ridObjUdf = udf((r: String) => OracleCodecs.rowIdDecode(r)._1)
      Tables.load(s, dir, "events")
        .selectExpr("event_id", "user_id",
          "(user_id % 64) * 4194304 + (event_id % 4194304) AS dba",
          "CAST(event_id % 1000 AS INT) AS slot",
          "(user_id % 100) * 281474976710656 + (event_id % 10) * 4294967296 " +
            "+ event_id AS xid")
        .select(col("event_id"),
          ridUdf(col("user_id"), col("dba"), col("slot")).as("rid"),
          xidUdf(col("xid")).as("xid_str"),
          ridObjUdf(ridUdf(col("user_id"), col("dba"), col("slot")))
            .as("rid_obj")) // decode(encode) roundtrip inside the plan
    }),

    // db-timezone knob (reference src/metadata/SerializerJson.cpp:651-659
    // → Builder.cpp:200 valuesToEpoch(..., dbTimezone)): DATE/TIMESTAMP
    // bytes carry wall-clock fields of the DB's zone; decode subtracts the
    // configured offset. Bytes encoded as a "+05:30" (and a "-08:00")
    // database would write them, decoded under the same knob, must
    // recover the UTC epoch; decoded under "+00:00" they expose the raw
    // shift. The oracle recomputes every column from integer arithmetic,
    // so the gate pins the whole encode→decode path byte-for-byte.
    "q94_db_timezone" -> ((s, dir) => {
      val enc = udf((e: Long, tz: String) => OracleCodecs.oracleDateEncode(
        e, OracleCodecs.parseTzOffset(tz).get))
      val dec = udf((b: Array[Byte], tz: String) =>
        OracleCodecs.oracleDateToEpoch(b, OracleCodecs.parseTzOffset(tz).get))
      Tables.load(s, dir, "events")
        .selectExpr("event_id", "ts div 1000000000 AS epoch_sec")
        .select(col("event_id"), col("epoch_sec"),
          dec(enc(col("epoch_sec"), lit("+05:30")), lit("+05:30"))
            .as("rt_east"),
          (dec(enc(col("epoch_sec"), lit("+05:30")), lit("+00:00")) -
            col("epoch_sec")).as("shift_east"),
          dec(enc(col("epoch_sec"), lit("-08:00")), lit("-08:00"))
            .as("rt_west"),
          (dec(enc(col("epoch_sec"), lit("-08:00")), lit("+00:00")) -
            col("epoch_sec")).as("shift_west"))
    }),

    // T6 LOB page assembly through the REAL LobAssembly module: events
    // adapted as pages (lobId = user_id, page = event_id, data =
    // event_type); chains rebuilt with one shuffle + ordered concat.
    "q35_lob_assembly" -> ((s, dir) => {
      val pages = Tables.load(s, dir, "events").selectExpr(
        "event_id AS scn", "0 AS subScn", "1L AS seq", "event_id AS offset",
        "1 AS thread", "'9.0.9' AS xid", s"'${Op.LobData}' AS op",
        "0L AS obj", "0L AS bdba", "0 AS slot", "'' AS fb",
        "CAST(NULL AS MAP<STRING,STRING>) AS before",
        "map('lobId', CAST(user_id AS STRING), " +
          "'page', CAST(event_id AS STRING), 'data', event_type) AS after",
        "CAST(NULL AS MAP<STRING,STRING>) AS suppBefore",
        "CAST(NULL AS MAP<STRING,STRING>) AS suppAfter",
        "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
        "CAST(NULL AS STRING) AS ddlText",
        "0L AS tm")
      LobAssembly.assemble(pages)
        .select(col("lob_id"), col("n_pages"),
          length(col("lob_data")).as("n_chars"),
          md5(col("lob_data")).as("content_hash"))
    }),

    // §4.4/S1 the DataSource V2 reader end-to-end: the events table is
    // dumped once as a JSONL archived-log feed (two "log files" so multi-
    // partition reading + numeric sequence order are exercised), then read
    // back through graft_cdc with an obj-equality + scn-range pushdown that
    // the reader applies on raw tokens before row materialization.
    "q58_dsv2_source" -> ((s, dir) => {
      val feedDir = ensureDsv2Feed(s, dir)
      s.read.format("graft.sources.CdcSourceV2")
        .option("path", feedDir.getAbsolutePath).load()
        .filter(col("obj") === 0L && col("scn") >= 100L)
        .select(col("scn"), col("xid"))
    }),

    // J4 session attributes through the assembler: each user's first event
    // is a SESSION_ATTR (5.19/5.20) carrying a region; the state machine
    // attaches it to every message of the transaction (OpCode0513
    // semantics — attrs live on TxnState, not per-op).
    "q57_session_attrs" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val feed = Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .selectExpr(
          "event_id AS scn", "0 AS subScn", "1L AS seq", "event_id AS offset",
          "1 AS thread", "CAST(user_id AS STRING) AS xid",
          s"CASE WHEN rn = 1 THEN '${Op.SessionAttr}' ELSE '${Op.Ins}' END AS op",
          "0L AS obj", "0L AS bdba", "0 AS slot", "'' AS fb",
          "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('value', CAST(CAST(value AS DECIMAL(10,2)) AS STRING)) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS suppBefore",
          "CAST(NULL AS MAP<STRING,STRING>) AS suppAfter",
          "CASE WHEN rn = 1 THEN map('region', " +
            "CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'EU' " +
            "WHEN 1 THEN 'US' ELSE 'APAC' END) " +
            "ELSE CAST(NULL AS MAP<STRING,STRING>) END AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "0L AS tm")
        .as[ChangeEvent]
      TxnAssembly.assembleBatch(feed, TxnAssembly.Config(commitAtEnd = true))
        .toDF()
        .groupBy(col("xid").cast("long").as("user_id"))
        .agg(count(lit(1)).as("n_msgs"),
          max(element_at(col("attrs"), "region")).as("region"))
    }),

    // SCD2 history build — the OTHER canonical CDC consumer (q56 is
    // latest-state upsert): every surviving change becomes a version row
    // [valid_from_scn, valid_to_scn), closed by the NEXT change of the
    // same key (deletes close their predecessor but emit nothing; the
    // live version carries valid_to NULL). One lead window on the key
    // exchange — no self-join, no state accumulation; version rows are
    // bounded by change volume, which a warehouse stores anyway.
    "q157_scd2_history" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val feed = adapt(s, dir,
        "CASE WHEN event_type = 'signup' THEN 'INS' " +
          "WHEN event_type = 'error' THEN 'DEL' ELSE 'UPD' END")
      val msgs = TxnAssembly
        .assembleBatch(feed, TxnAssembly.Config(commitAtEnd = true)).toDF()
        .filter(col("op").isin(MsgOp.Insert, MsgOp.Update, MsgOp.Delete))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("xid").orderBy("scn")
      msgs.withColumn("valid_to_scn", lead(col("scn"), 1).over(w))
        .filter(col("op") =!= MsgOp.Delete)
        .select(col("xid").cast("long").as("user_id"),
          element_at(col("after"), "value").as("value"),
          col("scn").as("valid_from_scn"), col("valid_to_scn"))
    }),

    // APPLY/MERGE — the canonical CDC consumer: replay the committed
    // message stream into latest-row-per-key state (upsert + delete
    // tombstones). This is what a reference user's downstream sink does
    // with the feed; per-key latest = one window, no full-table join.
    "q56_apply_changes" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val feed = adapt(s, dir,
        "CASE WHEN event_type = 'signup' THEN 'INS' " +
          "WHEN event_type = 'error' THEN 'DEL' ELSE 'UPD' END")
      val msgs = TxnAssembly
        .assembleBatch(feed, TxnAssembly.Config(commitAtEnd = true)).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("xid").orderBy(col("scn").desc)
      msgs.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1 && col("op") =!= MsgOp.Delete)
        .select(col("xid").cast("long").as("user_id"),
          element_at(col("after"), "value").as("value"))
    }),

    // Point-in-time (AS OF scn) state reconstruction — the reference's
    // flashback-style replay bound (startScn/endScn on the replay range,
    // /root/reference/src/replicator/Replicator.cpp position handling):
    // the cutoff is applied to the FEED, before transaction assembly —
    // point-in-time means changes past the position never existed, not
    // that they are filtered from assembled output (an oversized txn
    // straddling the cut must re-assemble from only its visible ops).
    // The cutoff (60% of the max scn) stands in for the user-supplied
    // AS-OF position; it reaches every row via a 1-row broadcast, never
    // a driver round-trip. Output carries each key's asof_scn so a
    // consumer can resume the delta replay from exactly there.
    "q171_asof_state" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val mx = Tables.load(s, dir, "events").agg(max("event_id").as("mx"))
      val feed = adapt(s, dir,
        "CASE WHEN event_type = 'signup' THEN 'INS' " +
          "WHEN event_type = 'error' THEN 'DEL' ELSE 'UPD' END")
        .crossJoin(broadcast(mx))
        .filter(col("scn") * 5 <= col("mx") * 3).drop("mx")
        .as[ChangeEvent](org.apache.spark.sql.Encoders.product[ChangeEvent])
      val msgs = TxnAssembly
        .assembleBatch(feed, TxnAssembly.Config(commitAtEnd = true)).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("xid").orderBy(col("scn").desc)
      msgs.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1 && col("op") =!= MsgOp.Delete)
        .select(col("xid").cast("long").as("user_id"),
          element_at(col("after"), "value").as("value"),
          col("scn").as("asof_scn"))
    }),

    // J3 LOB-reference resolution through LobAssembly.resolve: one DML per
    // user references its assembled chain via the lob:<id> marker (plus one
    // referencing a chain that never arrives → null, the orphaned-owner
    // rule). Join volume ∝ number of references, not image width.
    "q54_lob_resolve" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val pages = Tables.load(s, dir, "events").selectExpr(
        "event_id AS scn", "0 AS subScn", "1L AS seq", "event_id AS offset",
        "1 AS thread", "'9.0.9' AS xid", s"'${Op.LobData}' AS op",
        "0L AS obj", "0L AS bdba", "0 AS slot", "'' AS fb",
        "CAST(NULL AS MAP<STRING,STRING>) AS before",
        "map('lobId', CAST(user_id AS STRING), " +
          "'page', CAST(event_id AS STRING), 'data', event_type) AS after",
        "CAST(NULL AS MAP<STRING,STRING>) AS suppBefore",
        "CAST(NULL AS MAP<STRING,STRING>) AS suppAfter",
        "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
        "CAST(NULL AS STRING) AS ddlText",
        "0L AS tm")
      val owners = Tables.load(s, dir, "events")
        .select(col("user_id")).distinct()
        .selectExpr("CAST(user_id AS STRING) AS xid", "user_id AS cScn",
          "0L AS cIdx", "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('doc', concat('lob:', CAST(user_id AS STRING))) AS after")
        .unionByName(s.sql(
          """SELECT '-1' AS xid, CAST(-1 AS BIGINT) AS cScn, 0L AS cIdx,
            |  CAST(NULL AS MAP<STRING,STRING>) AS before,
            |  map('doc', 'lob:never-written') AS after""".stripMargin))
      LobAssembly.resolve(owners, LobAssembly.assemble(pages))
        .select(col("xid").cast("long").as("user_id"),
          length(element_at(col("after"), "doc")).as("n_chars"),
          md5(element_at(col("after"), "doc")).as("content_hash"))
    }),

    // §1.2 schema evolution through the REAL versioned dictionary +
    // Materialize.enrich as-of broadcast join: obj 100 changes its name at
    // scn 5000 (SystemTransaction semantics — DDL observed mid-stream);
    // each message resolves against the version valid at ITS scn.
    "q39_schema_evolution" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val v1 = DbTable(100L, 100L, "APP", "ORDERS_V1",
        Seq(DbColumn("value", 1, numPk = 1)), tagType = "pk")
      val dict = Dictionary(Seq(v1)).evolve(v1.copy(name = "ORDERS_V2"), 5000L)
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op", "100L AS obj",
          "'' AS rid", "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('value', CAST(value AS STRING)) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      Materialize.enrich(messages, dict)
        .select(col("cScn").as("event_id"), col("table_name"))
    }),

    // §1.2 streaming-evolution fold gated in batch shape: the SAME
    // SchemaEvolution.applyMessages that foreachBatch runs per micro-batch
    // (SystemTransaction.cpp:525 processUpdate semantics) folds a BOUNDED
    // system-DML stream — OBJ$ renames derived from events with
    // event_id % 97 = 0 AND event_id < 9700, ≤100 rows at ANY corpus
    // size (two-sided filter, the AnchorCap pattern; real DDL streams are
    // this sparse) — into a versioned dictionary, and every event then
    // resolves its table name as-of ITS scn through the broadcast
    // dictionary join. The oracle restates the as-of rule relationally
    // (max rename scn <= event scn), so the whole versioning chain is
    // hash-gated, not just spec-gated.
    "q172_schema_evolve_fold" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val v0 = DbTable(100L, 100L, "APP", "ORDERS_V0",
        Seq(DbColumn("value", 1)))
      val renames = Tables.load(s, dir, "events")
        .filter(col("event_id") % 97 === 0 && col("event_id") < 9700 &&
          col("event_id") > 0)
        .select(col("event_id")).distinct().collect().map(_.getLong(0))
      val sysMsgs = renames.sorted.map { rscn =>
        ChangeMessage(rscn, 0L, rscn, 1L, "9.0.9", MsgOp.Update, 18L, "",
          Map("OBJ#" -> "100", "NAME" -> "ORDERS_V0"),
          Map("OBJ#" -> "100", "NAME" -> s"T_$rscn"), null, null)
      }
      val dict = SchemaEvolution.applyMessages(Dictionary(Seq(v0)),
        sysMsgs.toSeq)
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op", "100L AS obj",
          "'' AS rid", "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('value', CAST(value AS STRING)) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      Materialize.enrich(messages, dict)
        .select(col("cScn").as("event_id"), col("table_name"))
    }),

    // §1.2 SCHEMALESS/ADAPTIVE mode through Materialize.enrich's left-outer
    // path: half the objs resolve against the dictionary, half pass through
    // with a null table name (raw COL_n-style output downstream).
    "q45_schemaless" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val dict = Dictionary(Seq(DbTable(0L, 0L, "APP", "KNOWN",
        Seq(DbColumn("value", 1)))))
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op",
          "user_id % 2 AS obj", // obj 0 known, obj 1 unknown
          "'' AS rid", "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('value', CAST(CAST(value AS DECIMAL(10,2)) AS STRING), " +
            "'etype', event_type) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      // unknown tables render raw columns as COL_0..n (Builder.cpp:96-99);
      // known rows keep dictionary names — both shapes gated via the
      // keys csv + the exact JSON rendering of the renamed image
      Materialize.applySchemalessNaming(
          Materialize.enrich(messages, dict,
            Materialize.Options(schemaless = true)))
        .select(col("cScn").as("event_id"),
          coalesce(col("table_name"), lit("?")).as("table_name"),
          concat_ws(",", map_keys(col("after"))).as("after_cols"),
          to_json(col("after")).as("after_json"))
    }),

    // §1.2 ADAPTIVE_SCHEMA refinement: the wildcard element accepts
    // unknown obj#s, each gets a SYNTHESIZED dictionary entry learned
    // from the feed (UNKNOWN.OBJ_<n>, columns = observed image keys,
    // valid from first sight — Dictionary.withAdaptive ≙
    // OpenLogReplicator.cpp:617-618 + Metadata.cpp:626), and the
    // synthesized entry then VERSIONS like a catalog-born one: obj 1 is
    // altered at scn 5000 and messages resolve as-of their scn. The
    // learning pass is a dimension-sized aggregate (distinct obj# +
    // union of keys + min scn), collected once — the same asymmetry as
    // every other dictionary build; the feed itself only ever joins the
    // broadcast dictionary.
    "q103_adaptive_schema" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val base = Dictionary(Seq(DbTable(0L, 0L, "APP", "KNOWN",
        Seq(DbColumn("value", 1), DbColumn("etype", 1)))),
        Seq(TableSelector(".*", ".*"))) // the wildcard element
      def messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op",
          "user_id % 4 AS obj", // obj 0 known; 1, 2, 3 unknown
          "'' AS rid", "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('value', CAST(CAST(value AS DECIMAL(10,2)) AS STRING), " +
            "'etype', event_type) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      val knownObjs = base.tables.map(_.obj).toSet
      val learnRows = messages.toDF()
        .filter(!col("obj").isin(knownObjs.toSeq: _*))
        .groupBy(col("obj"))
        .agg(min(col("scn")).as("first_scn"),
          array_sort(array_distinct(flatten(
            collect_list(map_keys(col("after")))))).as("cols"))
        .collect()
      val learned = learnRows.foldLeft(base) { (d, r) =>
        d.withAdaptive(r.getLong(0), r.getSeq[String](2), r.getLong(1))
      }
      // the synthesized obj 1 versions like a real table: DDL at scn 5000
      val dict = learned.lookupLatest(1L)
        .map(t => learned.evolve(t.copy(name = "OBJ_1_ALTERED"), 5000L))
        .getOrElse(learned)
      Materialize.enrich(messages, dict)
        .select(col("cScn").as("event_id"), col("owner"), col("table_name"))
    }),

    // §1.4 golden envelope JSON through the full materialize + envelope
    // path; the oracle reconstructs the exact wire bytes independently, so
    // field order, null-omission, and tag/rid formatting are all gated.
    "q40_envelope_json" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val dict = Dictionary(Seq(DbTable(100L, 100L, "APP", "EVENTS",
        Seq(DbColumn("value", 1, numPk = 1)), tagType = "pk")))
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op", "100L AS obj",
          "CAST(NULL AS STRING) AS rid",
          "CAST(NULL AS MAP<STRING,STRING>) AS before",
          // decimal cast: double→string rendering differs between engines
          // at the margins; DECIMAL(10,2)→string is stable in both
          "map('value', CAST(CAST(value AS DECIMAL(10,2)) AS STRING)) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      Envelope.forSink(Envelope.toMessages(Materialize(messages, dict)))
        .select(col("c_scn"), col("key"), col("value"))
    }),

    // §1.4 protobuf envelope through the full materialize + scratch
    // wire-format encoder (proto/OraProtoBuf.proto:82-158); the oracle
    // reconstructs the exact wire BYTES independently (varints, tags,
    // nested message lengths), so the binary format is golden-gated the
    // same way q40 gates the JSON one.
    "q48_envelope_proto" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val dict = Dictionary(Seq(DbTable(100L, 100L, "APP", "EVENTS",
        Seq(DbColumn("value", 1, numPk = 1)), tagType = "pk")))
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op", "100L AS obj",
          "CAST(NULL AS STRING) AS rid",
          "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('value', CAST(CAST(value AS DECIMAL(10,2)) AS STRING)) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      ProtoEnvelope.toMessages(Materialize(messages, dict))
        .select(col("cScn").as("c_scn"), hex(col("value_bin")).as("proto_hex"))
    }),

    // §2.9 tumbling-window throughput (batch-replay form of the streaming
    // windowed op counter — same Metrics.windowedOpCounts operator the
    // watermarked stream uses; StreamingSpec covers the late-data path).
    // Window start surfaces as epoch SECONDS (integer on both sides:
    // DuckDB epoch() returns double, so the oracle integer-divides ns).
    "q49_windowed_rate" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .selectExpr("event_type AS op", "timestamp_micros(ts DIV 1000) AS et")
      graft.streaming.Metrics.windowedOpCounts(ev, col("et"), "1 hour", "1 hour")
        .select(col("w_start").cast("long").as("w_start_s"),
          col("op"), col("n_ops"))
    }),

    // T4 row-piece merge through the REAL chain-merge code on the full
    // feed: each user's events become F/N/L piece chains of 3; the merged
    // DML keeps the first piece's scn and the union of piece columns
    // (Transaction.cpp:450-490). Leftover chains flush unterminated.
    "q50_piece_merge" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val feed = Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w) - 1)
        .selectExpr(
          "event_id AS scn", "0 AS subScn", "1L AS seq", "event_id AS offset",
          "1 AS thread", "CAST(user_id AS STRING) AS xid", "'INS' AS op",
          "0L AS obj", "0L AS bdba", "0 AS slot",
          "CASE CAST(rn % 3 AS INT) WHEN 0 THEN 'F' WHEN 1 THEN 'N' ELSE 'L' END AS fb",
          "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map(concat('c', CAST(rn % 3 AS INT)), " +
            "CAST(CAST(value AS DECIMAL(10,2)) AS STRING)) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS suppBefore",
          "CAST(NULL AS MAP<STRING,STRING>) AS suppAfter",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "0L AS tm")
        .as[ChangeEvent]
      TxnAssembly.assembleBatch(feed, TxnAssembly.Config(commitAtEnd = true))
        .toDF()
        .select(col("xid").cast("long").as("user_id"), col("scn"),
          size(col("after")).cast("long").as("n_cols"),
          element_at(col("after"), "c0").as("c0"))
    }),

    // T5 oversized-transaction drop through the assembler: group sizes grow
    // with floor(sqrt(scn)) (≈2k+1 events in group k), so the 50-op cap
    // bites mid-corpus — whole transactions above it vanish, nothing
    // partial leaks (Parser.cpp:1229-1239 drop + skip-list semantics).
    "q51_oversized_drop" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val feed = Tables.load(s, dir, "events").selectExpr(
          "event_id AS scn", "0 AS subScn", "1L AS seq", "event_id AS offset",
          "1 AS thread",
          "CAST(CAST(FLOOR(SQRT(event_id)) AS BIGINT) AS STRING) AS xid",
          "'INS' AS op", "0L AS obj", "0L AS bdba", "0 AS slot", "'' AS fb",
          "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('value', CAST(value AS STRING)) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS suppBefore",
          "CAST(NULL AS MAP<STRING,STRING>) AS suppAfter",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "0L AS tm")
        .as[ChangeEvent]
      TxnAssembly.assembleBatch(feed,
          TxnAssembly.Config(commitAtEnd = true, maxOpsPerTxn = 50))
        .toDF()
        .groupBy(col("xid").cast("long").as("grp"))
        .agg(count(lit(1)).as("n_msgs"))
    }),

    // F4 column visibility through the full pipeline: the feed carries a
    // hidden diagnostic column on every row; the dictionary's suppression
    // list drops it from the output image (Builder.cpp:102-113 semantics).
    // Guard-column bitmap resurrection (Builder.cpp:1323-1372): the table
    // carries a hidden SYS_NC...$ RAW guard column whose bitmap (hex in
    // the pre-decoded feed) marks explicitly-NULL guarded columns. Guarded
    // columns c1/c2/c3 sit at guardSeg 0/1/10; the feed cycles bitmaps
    // "03" (bits 0,1 — one byte, so seg 10 is OUT of the bitmap's bound,
    // exercising the reference's column2/8 < size check), "0304" (byte 1
    // bit 2 → seg 10 set), "00" (no bits), and no-guard. A guarded column
    // already present keeps its value; an absent one with its bit set is
    // resurrected as an explicit NULL entry; the guard column itself is
    // hidden and stripped by the visibility pass.
    "q95_guard_columns" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val dict = Dictionary(Seq(DbTable(100L, 100L, "APP", "EVENTS",
        Seq(DbColumn("value", 1, numPk = 1),
          DbColumn("c1", 1, guardSeg = 0),
          DbColumn("c2", 1, guardSeg = 1),
          DbColumn("c3", 1, guardSeg = 10),
          DbColumn("SYS_NC00005$", 23, hidden = true, guard = true)))))
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op", "100L AS obj",
          "'' AS rid", "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map_concat(" +
            "map('value', CAST(CAST(value AS DECIMAL(10,2)) AS STRING)), " +
            "CASE WHEN user_id % 3 = 0 THEN map('c1', 'A') ELSE map() END, " +
            "CASE WHEN user_id % 4 = 0 THEN map('SYS_NC00005$', '03') " +
            "     WHEN user_id % 4 = 2 THEN map('SYS_NC00005$', '0304') " +
            "     WHEN user_id % 4 = 3 THEN map('SYS_NC00005$', '00') " +
            "     ELSE map() END) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      def state(c: String) =
        when(array_contains(map_keys(col("after")), c),
          when(element_at(col("after"), c).isNull, "null")
            .otherwise("present"))
          .otherwise("absent")
      Materialize(messages, dict)
        .select(col("cScn").as("event_id"),
          size(col("after")).cast("long").as("n_cols"),
          state("c1").as("c1_state"),
          state("c2").as("c2_state"),
          state("c3").as("c3_state"))
    }),

    // Experimental XMLTYPE / JSON (type 119) handling (Builder.cpp:143-158):
    // default output drops the JSON column and hex-dumps the XMLTYPE blob;
    // under the experimental flags the JSON LOB emits as raw hex and the
    // XML decodes to text. BOTH flag settings evaluate as column
    // expressions over ONE materialization pass (Materialize.
    // experimentalImage) — no second scan, no self-join — so one gate pins
    // all four paths with a single-scan plan.
    "q96_experimental_types" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val dict = Dictionary(Seq(DbTable(100L, 100L, "APP", "EVENTS",
        Seq(DbColumn("value", 1, numPk = 1),
          DbColumn("doc", 119),
          DbColumn("xdoc", 113, xmlType = true)))))
      def messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op", "100L AS obj",
          "'' AS rid", "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('value', CAST(CAST(value AS DECIMAL(10,2)) AS STRING), " +
            "'doc', '{\"a\":' || CAST(CAST(value AS DECIMAL(10,2)) AS STRING) || '}', " +
            "'xdoc', '<a>' || event_type || '</a>') AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      // the shared pipeline up to (but not including) the experimental
      // step, then both variants as per-row map surgery on the same scan
      val pre = Materialize.withTag(Materialize.applyColumnFormat(
        Materialize.applyVisibility(Materialize.applyGuardResurrection(
          Materialize.applyConditions(
            Materialize.enrich(messages, dict), dict)))))
      val aDflt = Materialize.experimentalImage(col("after"),
        experimentalJson = false, experimentalXmlType = false)
      val aExp = Materialize.experimentalImage(col("after"),
        experimentalJson = true, experimentalXmlType = true)
      pre.select(col("cScn").as("event_id"),
        size(aDflt).cast("long").as("n_cols_default"),
        element_at(aDflt, "xdoc").as("xdoc_raw"),
        element_at(aExp, "doc").as("json_raw"),
        element_at(aExp, "xdoc").as("xml_text"))
    }),

    // §1.3 XMLTYPE decode through the XDB token dictionaries: each event
    // row becomes a binary-XML (CSX) token stream — header, namespace
    // set/add, 16- and 32-bit tag codes, an inline attribute, text chunks,
    // repeat-tag and end-tag markers — built deterministically from the
    // row's columns, then decoded back to XML text by the REAL
    // dictionary-resolved decoder (cdc/XmlDecode.scala ≙
    // Builder::parseXml, Builder.cpp:1844-2390) with the XdbXQn/XdbXNm
    // token tables as driver-side dimensions. The oracle reconstructs the
    // expected XML string straight from the source columns (the q48
    // byte-golden pattern, in reverse): any mis-decoded token breaks the
    // match. Scale shape: scan→project, the token maps ride the closure —
    // no exchange anywhere.
    "q102_xml_decode" -> ((s, dir) => {
      val ctx = XmlCtx(
        Seq(XdbTtSet("8A99F9A3C6B54F21A0E6D0112A3C0001", "01", 0L, 100L)),
        Seq(XdbXNm("10", "http://example.com/ns")),
        Seq(XdbXQn("01", "doc", "10", "0"), XdbXQn("02", "id", "00", "1"),
          XdbXQn("03", "item", "00", "0"),
          XdbXQn("010003", "deep", "00", "0")))
      val ev = Tables.load(s, dir, "events").selectExpr("event_id",
        "event_type AS et",
        "CAST(CAST(value AS DECIMAL(10,2)) AS STRING) AS vs",
        "CAST(user_id AS STRING) AS us", "CAST(event_id AS STRING) AS ids")
      def sz(c: String) = s"lpad(hex(octet_length($c) - 1), 2, '0')"
      // 9E header (decl+1.0) · B2 ns-set (prefix "ns", nmSpc 0x10, dict
      // 0x20) · C8 <doc> · DD xmlns · C0 id attr · C8 <item> text D9 ·
      // D4 repeat text D9 · C9 32-bit-code <deep> text D9 · D9 · A0
      val hexExpr = "concat('9E00000A'," +
        "'B2020000001000206E73'," +
        "'C80001','DD0020'," +
        s"'C0', ${sz("ids")}, '0002', hex(ids)," +
        s"'C80003', ${sz("et")}, hex(et), 'D9'," +
        s"'D4', ${sz("vs")}, hex(vs), 'D9'," +
        s"'C900010003', ${sz("us")}, hex(us), 'D9', 'D9', 'A0')"
      ev.withColumn("xbin", expr(s"unhex($hexExpr)"))
        .select(col("event_id"),
          XmlDecode.decodeCol(col("xbin"), ctx).as("xml_text"))
    }),

    // §2.7 charset decode (the reference's src/locales/ surface,
    // Builder.cpp:131 parseString dispatch over Locales.cpp:648-800):
    // eight tables, each declaring its txt column under a different NLS
    // charset id — ISO-8859-1, MSWIN1252, Shift_JIS, GBK, EUC-KR, Big5,
    // CESU-8 ("UTF8", where a supplementary char is a 6-byte surrogate
    // pair) and AL16UTF16 (UTF-16BE, where even the ASCII run is 2-byte)
    // — and a feed carrying each row's RAW bytes hex-encoded. The full
    // Materialize path resolves the per-column charset from the
    // dictionary and decodes value-side; the oracle states the expected
    // UTF-8 text directly from the source columns, so any mis-decode in
    // any charset family breaks the hash. Scale shape: scan → broadcast
    // dict join → codegen'd per-row decode; zero exchanges.
    "q137_charset_decode" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val ids = Seq(31, 178, 832, 852, 840, 865, 871, 2000)
      val dict = Dictionary(ids.zipWithIndex.map { case (id, i) =>
        DbTable(100L + i, 100L, "APP", s"T$id",
          Seq(DbColumn("txt", 1, charsetId = id)))
      })
      // per-charset raw-bytes hex: ASCII prefix (UTF-16BE-widened for id
      // 2000) + a multi-byte tail exercising the non-ASCII plane
      val tail = Map(31 -> "E9F1", 178 -> "8099", 832 -> "82A082A2",
        852 -> "C4E3BAC3", 840 -> "B0A1B3AA", 865 -> "A4A4A4E5",
        871 -> "EDA081EDB080", 2000 -> "D801DC00")
      val hexExpr = ids.zipWithIndex.map { case (id, i) =>
        val prefix =
          if (id == 2000) "hex(encode(event_type, 'UTF-16BE'))"
          else "hex(event_type)"
        s"WHEN user_id % 8 = $i THEN concat($prefix, '${tail(id)}')"
      }.mkString("CASE ", " ", " END")
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op",
          "100L + user_id % 8 AS obj", "'' AS rid",
          "CAST(NULL AS MAP<STRING,STRING>) AS before",
          s"map('txt', $hexExpr) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      Materialize(messages, dict)
        .select(col("cScn").as("event_id"), col("table_name"),
          element_at(col("after"), "txt").as("txt"))
    }),

    // §2.7 7-bit NRC decode (r10: CharacterSet7bit.cpp's ISO 646
    // national variants as override-on-ASCII tables): four tables
    // declare their txt column under D7DEC / E7DEC / NDK7DEC / S7DEC;
    // the feed carries hex bytes = the ASCII event_type prefix + a tail
    // hitting every overridden position of that variant, plus (id 11) a
    // HIGH-BIT-SET byte 0xDB that must decode like 0x5B — the `& 0x7F`
    // mask CharacterSet7bit::decode applies. The oracle states the
    // expected national characters directly, so the mapping table and
    // the mask are both cross-engine-gated, not just spec-pinned.
    "q174_nrc_decode" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val ids = Seq(11, 14, 16, 13)
      val dict = Dictionary(ids.zipWithIndex.map { case (id, i) =>
        DbTable(100L + i, 100L, "APP", s"N$id",
          Seq(DbColumn("txt", 1, charsetId = id)))
      })
      val tail = Map(
        11 -> "405B5C5D7B7C7D7EDB", // D7DEC + masked 0xDB (≡ 0x5B)
        14 -> "23405B5C5D7B7C7D7E", // E7DEC
        16 -> "405B5C5D5E607B7C7D7E", // NDK7DEC
        13 -> "405B5C5D5E607B7C7D7E") // S7DEC
      val hexExpr = ids.zipWithIndex.map { case (id, i) =>
        s"WHEN user_id % 4 = $i THEN concat(hex(event_type), '${tail(id)}')"
      }.mkString("CASE ", " ", " END")
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op",
          "100L + user_id % 4 AS obj", "'' AS rid",
          "CAST(NULL AS MAP<STRING,STRING>) AS before",
          s"map('txt', $hexExpr) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      Materialize(messages, dict)
        .select(col("cScn").as("event_id"), col("table_name"),
          element_at(col("after"), "txt").as("txt"))
    }),

    // §2.7 8-bit vendor code-page decode (r11: charset8_map.tsv — the
    // published DOS/DEC/HP/NeXT byte→Unicode assignments the reference
    // carries in CharacterSet8bit.cpp): four tables declare their txt
    // column under WE8DEC / TR8DEC / WE8NEXTSTEP / AR8ADOS720; the feed
    // is the ASCII event_type prefix + a tail hitting positions where
    // each page diverges from Latin-1 (DEC-MCS Œ/œ/¤, DEC Turkish Ğ/Ÿ,
    // NeXTSTEP's shuffled accents, DOS-720 Arabic). The oracle states
    // the expected characters directly, so the resource tables and the
    // upper-half/identity-low dispatch are cross-engine-gated.
    "q176_vendor8_decode" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val ids = Seq(2, 82, 50, 558, 845, 863)
      val dict = Dictionary(ids.zipWithIndex.map { case (id, i) =>
        DbTable(100L + i, 100L, "APP", s"V$id",
          Seq(DbColumn("txt", 1, charsetId = id)))
      })
      val tail = Map(
        2 -> "C4D7E9F7A8", // WE8DEC: ÄŒéœ¤
        82 -> "C7E7D0DD", // TR8DEC: ÇçĞŸ
        50 -> "D5E5A5", // WE8NEXTSTEP: àï¥
        558 -> "98A1E1", // AR8ADOS720: ءةط
        845 -> "88618862D065", // KO16KSCCS (Johab): 가각한
        863 -> "8EA1C4A18EA1C4E3") // ZHT32TRIS (4-byte): 一中
      val hexExpr = ids.zipWithIndex.map { case (id, i) =>
        s"WHEN user_id % 6 = $i THEN concat(hex(event_type), '${tail(id)}')"
      }.mkString("CASE ", " ", " END")
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op",
          "100L + user_id % 6 AS obj", "'' AS rid",
          "CAST(NULL AS MAP<STRING,STRING>) AS before",
          s"map('txt', $hexExpr) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      Materialize(messages, dict)
        .select(col("cScn").as("event_id"), col("table_name"),
          element_at(col("after"), "txt").as("txt"))
    }),

    // S2 partition-obj resolution (r11): redo addressed to a TABPART$/
    // TABSUBPART$ object carries the PARTITION's obj#, not the table's —
    // the reference registers every partition obj in its schema map
    // (Schema.cpp addTablePartition) so the row resolves to the base
    // table's columns/keys/name. Here the dictionary carries two base
    // tables and four partition aliases (built exactly like
    // Dictionary.fromJdbc's TABPART$/TABCOMPART$/TABSUBPART$ walk); the
    // feed spreads events across base and partition obj#s and the
    // enrich broadcast join must resolve ALL of them — partition objs
    // included — to the owning table. Plan shape: identical to q06
    // (broadcast dim join, alias rows only widen the dimension side by
    // #partitions × #versions).
    "q175_partition_resolve" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val orders = DbTable(100L, 100L, "APP", "ORDERS",
        Seq(DbColumn("value", 1, numPk = 1)), tagType = "pk")
      val docs = DbTable(200L, 0L, "APP", "DOCS",
        Seq(DbColumn("value", 1, numPk = 1)), tagType = "pk")
      val dict = Dictionary(Seq(orders, docs)).withStorage(
        Map(111L -> 100L, 112L -> 100L, 113L -> 200L, 114L -> 200L),
        Nil)
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op",
          "element_at(array(100L, 200L, 111L, 112L, 113L, 114L)," +
            " CAST(user_id % 6 AS INT) + 1) AS obj",
          "'' AS rid", "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('value', CAST(value AS STRING)) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      Materialize.enrich(messages, dict)
        .select(col("cScn").as("event_id"), col("obj"), col("table_name"))
    }),

    // Reader start position (2.reader.adoc start-scn): the bound travels
    // the REAL config path — OpenLogReplicator.json → ConfigLoader →
    // SourceConfig.startScn → Pipeline.fromStart — then the bounded feed
    // runs the full assembly. A plain `scn >= bound` predicate at the
    // source, so at scale it prunes at the scan (parquet row groups /
    // DSv2 pushdown), not post-shuffle; the oracle restates the bound
    // relationally.
    "q178_start_position" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val loaded = graft.streaming.ConfigLoader.load(
        """{"source": [{"alias": "S", "name": "D",
          |  "reader": {"type": "batch", "redo-log": ["/feed"],
          |    "start-scn": 250, "start-seq": 1},
          |  "format": {"type": "json"}, "filter": {"table": []}}]}"""
          .stripMargin, Dictionary(Nil))
      val feed = graft.streaming.Pipeline.fromStart(
        adapt(s, dir, "'INS'"), loaded.config.source)
      TxnAssembly.assembleBatch(feed, TxnAssembly.Config(commitAtEnd = true))
        .toDF()
        .select(col("scn").as("event_id"),
          col("xid").cast("long").as("user_id"))
    }),

    // CLOB charset decode AFTER page reassembly (Builder.cpp:160-165:
    // parseLob passes column->charsetId; parseString's appendData/
    // hasPrev/hasNext args exist exactly for chunk continuation,
    // Builder.h:1086): each event becomes a 2-page CLOB of Shift_JIS
    // bytes where the FIRST multi-byte character straddles the page
    // boundary — page 1 ends on the 0x82 lead byte, page 2 opens with
    // its 0xA0 trail byte. Decoding page-wise would yield U+FFFD at the
    // seam; only assemble-then-decode (the reference's order) produces
    // the clean text the oracle states, so the gate pins the
    // composition's ORDER, not just each stage. Scale shape: one lobId
    // exchange (the q35 plan) + in-row unhex/decode.
    "q139_clob_charset" -> ((s, dir) => {
      val pages = Tables.load(s, dir, "events")
        .selectExpr("event_id", "event_type",
          "explode(array(1, 2)) AS page")
        .selectExpr(
          "event_id AS scn", "0 AS subScn", "1L AS seq", "event_id AS offset",
          "1 AS thread", "'9.0.9' AS xid", s"'${Op.LobData}' AS op",
          "0L AS obj", "0L AS bdba", "0 AS slot", "'' AS fb",
          "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('lobId', CAST(event_id AS STRING), " +
            "'page', CAST(page AS STRING), " +
            "'data', CASE page WHEN 1 THEN concat(hex(event_type), '82') " +
            "ELSE 'A082A2' END) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS suppBefore",
          "CAST(NULL AS MAP<STRING,STRING>) AS suppAfter",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "0L AS tm")
      LobAssembly.assemble(pages)
        .select(col("lob_id").cast("long").as("event_id"),
          col("n_pages"),
          graft.functions.Kernels.CharsetDecode(
            unhex(col("lob_data")), lit(832)).as("clob_text"))
    }),

    "q53_column_visibility" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val dict = Dictionary(Seq(DbTable(100L, 100L, "APP", "EVENTS",
        Seq(DbColumn("value", 1, numPk = 1),
          DbColumn("diag", 1, hidden = true)), tagType = "pk")))
      val messages = Tables.load(s, dir, "events").selectExpr(
          "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
          "CAST(user_id AS STRING) AS xid", "'c' AS op", "100L AS obj",
          "'' AS rid", "CAST(NULL AS MAP<STRING,STRING>) AS before",
          "map('value', CAST(CAST(value AS DECIMAL(10,2)) AS STRING), " +
            "'diag', event_type) AS after",
          "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
          "CAST(NULL AS STRING) AS ddlText",
          "-1L AS bScn", "0L AS tm",
          "1 AS thread", "-1L AS offset", "0L AS num")
        .as[ChangeMessage]
      Materialize(messages, dict)
        .select(col("cScn").as("event_id"),
          size(col("after")).cast("long").as("n_cols"),
          element_at(col("after"), "value").as("v"))
    }),

    // §2.7/§1.3 NUMBER codec: every value goes through the base-100
    // encode→decode roundtrip (Builder.h:422-540 semantics); the oracle
    // states the codec's canonical rendering (minimal form, trailing
    // fraction zeros trimmed) directly, so the mantissa/exponent math is
    // what's being gated, not just Scala-side inverse symmetry.
    "q52_number_codec" -> ((s, dir) => {
      val rt = udf((v: String) => OracleCodecs.numberToString(
        OracleCodecs.stringToNumber(v)))
      Tables.load(s, dir, "events")
        .selectExpr("event_id",
          "CAST(CAST(value AS DECIMAL(10,2)) AS STRING) AS v")
        .select(col("event_id"), rt(col("v")).as("num_rt"))
    }),

    // T8 + F5 combined through the assembler: skip-XID list drops whole
    // transactions before any buffering.
    "q36_skip_xid_state" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val feed = adapt(s, dir, "'INS'")
      TxnAssembly.assembleBatch(feed,
          TxnAssembly.Config(commitAtEnd = true, skipXids = Set("3", "7")))
        .toDF()
        .groupBy(col("xid").cast("long").as("user_id"))
        .agg(count(lit(1)).as("n_msgs"))
    })
  )

  /** DuckDB re-derivation of the rowid base-64 encoding (6+3+6+3 chars of
    * 6-bit groups over dataObj/afn/block/slot) — checks the codec math. */
  private def sqlB64(x: String, chars: Int): String = {
    val alpha =
      "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    (0 until chars).map { i =>
      val shift = (chars - 1 - i) * 6
      s"substr('$alpha', 1 + CAST((($x) >> $shift) & 63 AS INT), 1)"
    }.mkString(" || ")
  }

  /** Varint hex for 0 ≤ x < 2^21 (3 bytes max — event_id stays far below). */
  private def sqlVarintHex(x: String): String =
    s"""(CASE WHEN ($x) < 128 THEN printf('%02X', ($x))
       | WHEN ($x) < 16384 THEN
       |   printf('%02X%02X', (($x) % 128) + 128, ($x) // 128)
       | ELSE printf('%02X%02X%02X', (($x) % 128) + 128,
       |   ((($x) // 128) % 128) + 128, ($x) // 16384) END)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q73_dump_xid" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_type = 'error' THEN 'rlb ' ELSE 'add ' END
        |  || ' xid: ' || user_id
        |  || ' OP: ' || CASE WHEN event_type = 'error'
        |       THEN 'PARTIAL_ROLLBACK' ELSE 'INS' END
        |  || ' scn: ' || event_id
        |  || ' obj: 0 bdba: 0 slot: 0 fb:  offset: ' || event_id AS line
        |FROM events WHERE user_id % 9 = 0""".stripMargin,

    // RedoResponse{code=5, scn, xid, payload{op=2, schema{APP,EVENTS,100},
    // after=[Value{value,s}]}, c_scn}; c_idx=0/empty fields omitted.
    // Payload length = 2(op) + 17(schema field) + 2+9+len(s) (after field).
    "q48_envelope_proto" ->
      s"""SELECT event_id AS c_scn,
         |  '0805' || '10' || ${sqlVarintHex("event_id")} ||
         |  '32' || printf('%02X', length(xid)) || hex(xid) ||
         |  '4A' || printf('%02X', 30 + length(s)) ||
         |  '0802' ||
         |  '120F' || '0A03' || hex('APP') || '1206' || hex('EVENTS') || '1864' ||
         |  '2A' || printf('%02X', 9 + length(s)) ||
         |  '0A05' || hex('value') || '2A' || printf('%02X', length(s)) || hex(s) ||
         |  CASE WHEN event_id = 0 THEN ''
         |       ELSE '50' || ${sqlVarintHex("event_id")} END AS proto_hex
         |FROM (SELECT event_id, CAST(user_id AS VARCHAR) AS xid,
         |      CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS s
         |      FROM events)""".stripMargin,
    "q04_condition_filter" ->
      """SELECT event_id, user_id FROM (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type IN ('signup','purchase') THEN 'i'
        |         WHEN event_type IN ('click','view') THEN 'u'
        |         ELSE 'd' END AS op,
        |    CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'EU'
        |         WHEN 1 THEN 'US' ELSE 'APAC' END AS region,
        |    CASE WHEN user_id % 7 = 0 THEN 'bot' ELSE 'human' END AS segment
        |  FROM events)
        |WHERE (op = 'i' OR region = 'EU') AND NOT (segment = 'bot')""".stripMargin,

    "q13_codecs" ->
      s"""SELECT event_id,
         |  ${sqlB64("user_id & 4294967295", 6)} ||
         |  ${sqlB64("(dba >> 22) & 1023", 3)} ||
         |  ${sqlB64("dba & 4194303", 6)} ||
         |  ${sqlB64("slot & 65535", 3)} AS rid,
         |  printf('0x%04x.%03x.%08x',
         |    CAST(user_id % 100 AS INT), CAST(event_id % 10 AS INT),
         |    event_id) AS xid_str,
         |  user_id AS rid_obj
         |FROM (
         |  SELECT event_id, user_id,
         |    (user_id % 64) * 4194304 + (event_id % 4194304) AS dba,
         |    CAST(event_id % 1000 AS INT) AS slot
         |  FROM events)""".stripMargin,

    "q94_db_timezone" ->
      """SELECT event_id, epoch_sec,
        |  epoch_sec AS rt_east,
        |  CAST(19800 AS BIGINT) AS shift_east,
        |  epoch_sec AS rt_west,
        |  CAST(-28800 AS BIGINT) AS shift_west
        |FROM (SELECT event_id,
        |        epoch_ns(ts) // 1000000000 AS epoch_sec FROM events)""".stripMargin,

    "q39_schema_evolution" ->
      """SELECT event_id,
        |  CASE WHEN event_id < 5000 THEN 'ORDERS_V1'
        |       ELSE 'ORDERS_V2' END AS table_name
        |FROM events""".stripMargin,

    "q172_schema_evolve_fold" ->
      """WITH ren AS (
        |  SELECT DISTINCT event_id AS rscn FROM events
        |  WHERE event_id % 97 = 0 AND event_id < 9700 AND event_id > 0)
        |SELECT e.event_id,
        |  coalesce('T_' || CAST(max(r.rscn) AS VARCHAR), 'ORDERS_V0')
        |    AS table_name
        |FROM events e LEFT JOIN ren r ON r.rscn <= e.event_id
        |GROUP BY e.event_id""".stripMargin,

    "q45_schemaless" ->
      """SELECT event_id,
        |  CASE WHEN user_id % 2 = 0 THEN 'KNOWN' ELSE '?' END AS table_name,
        |  CASE WHEN user_id % 2 = 0 THEN 'value,etype'
        |       ELSE 'COL_0,COL_1' END AS after_cols,
        |  CASE WHEN user_id % 2 = 0
        |    THEN '{"value":"' || CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR)
        |      || '","etype":"' || event_type || '"}'
        |    ELSE '{"COL_0":"' || event_type
        |      || '","COL_1":"' || CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR)
        |      || '"}'
        |  END AS after_json
        |FROM events""".stripMargin,

    "q40_envelope_json" ->
      """SELECT event_id AS c_scn,
        |  CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS key,
        |  '{"c_scn":' || event_id || ',"c_idx":0,"scn":' || event_id ||
        |  ',"seq":1,"xid":"' || user_id || '","op":"c",' ||
        |  '"schema":{"owner":"APP","table":"EVENTS","obj":100},' ||
        |  '"after":{"value":"' || CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) ||
        |  '"}}' AS value
        |FROM events""".stripMargin,

    "q35_lob_assembly" ->
      """SELECT CAST(user_id AS VARCHAR) AS lob_id, count(*) AS n_pages,
        |  length(string_agg(event_type, '' ORDER BY event_id)) AS n_chars,
        |  md5(string_agg(event_type, '' ORDER BY event_id)) AS content_hash
        |FROM events GROUP BY user_id""".stripMargin,

    "q08_txn_assembly" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type IN ('signup','purchase') THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
        |  CAST(sum(CASE WHEN event_type IN ('click','view') THEN 1 ELSE 0 END) AS BIGINT) AS n_upd,
        |  CAST(sum(CASE WHEN event_type NOT IN ('signup','purchase','click','view') THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
        |  min(event_id) AS first_scn, max(event_id) AS last_scn
        |FROM events GROUP BY user_id""".stripMargin,

    "q10_partial_rollback" ->
      """WITH b AS (
        |  SELECT event_id, user_id, event_type,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE -1 END) OVER (
        |      PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
        |  FROM events),
        |m AS (
        |  SELECT *, max(bal) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS sufmax
        |  FROM b)
        |SELECT event_id, user_id FROM m
        |WHERE event_type <> 'error' AND (sufmax IS NULL OR sufmax <= bal)""".stripMargin,

    "q36_skip_xid_state" ->
      """SELECT user_id, count(*) AS n_msgs FROM events
        |WHERE user_id NOT IN (3, 7) GROUP BY user_id""".stripMargin,

    "q49_windowed_rate" ->
      """SELECT CAST(epoch_ns(date_trunc('hour', ts)) // 1000000000 AS BIGINT)
        |    AS w_start_s,
        |  event_type AS op, count(*) AS n_ops
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q50_piece_merge" ->
      """SELECT user_id, min(event_id) AS scn,
        |  count(*) AS n_cols,
        |  max(CASE WHEN rn % 3 = 0 THEN v END) AS c0
        |FROM (
        |  SELECT user_id, event_id,
        |    CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
        |  FROM events)
        |GROUP BY user_id, rn // 3""".stripMargin,

    "q51_oversized_drop" ->
      """SELECT grp, count(*) AS n_msgs FROM (
        |  SELECT CAST(FLOOR(SQRT(event_id)) AS BIGINT) AS grp FROM events)
        |GROUP BY grp HAVING count(*) <= 50""".stripMargin,

    "q58_dsv2_source" ->
      """SELECT event_id AS scn, CAST(user_id AS VARCHAR) AS xid
        |FROM events WHERE user_id % 2 = 0 AND event_id >= 100""".stripMargin,

    // SESSION_ATTR event emits no message of its own → count(*)-1; a user
    // with a single event emits zero messages and no Spark group-row, so
    // the oracle must drop those users too (HAVING) — robust to corpora
    // where some user has exactly one event.
    "q57_session_attrs" ->
      """SELECT user_id, CAST(count(*) - 1 AS BIGINT) AS n_msgs,
        |  CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'EU'
        |       WHEN 1 THEN 'US' ELSE 'APAC' END AS region
        |FROM events GROUP BY user_id HAVING count(*) > 1""".stripMargin,

    "q157_scd2_history" ->
      """SELECT user_id, value, valid_from_scn, valid_to_scn FROM (
        |  SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value,
        |    event_type, event_id AS valid_from_scn,
        |    lead(event_id) OVER (
        |      PARTITION BY user_id ORDER BY event_id) AS valid_to_scn
        |  FROM events)
        |WHERE event_type <> 'error'""".stripMargin,

    "q56_apply_changes" ->
      """SELECT user_id, CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value
        |FROM (
        |  SELECT user_id, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rk
        |  FROM events)
        |WHERE rk = 1 AND event_type <> 'error'""".stripMargin,

    "q171_asof_state" ->
      """WITH mx AS (SELECT max(event_id) AS mx FROM events),
        |e AS (SELECT * FROM events
        |      WHERE event_id * 5 <= (SELECT mx FROM mx) * 3)
        |SELECT user_id,
        |  CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value,
        |  event_id AS asof_scn
        |FROM (
        |  SELECT user_id, value, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id DESC) AS rk
        |  FROM e)
        |WHERE rk = 1 AND event_type <> 'error'""".stripMargin,

    "q54_lob_resolve" ->
      """SELECT user_id,
        |  length(string_agg(event_type, '' ORDER BY event_id)) AS n_chars,
        |  md5(string_agg(event_type, '' ORDER BY event_id)) AS content_hash
        |FROM events GROUP BY user_id
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), NULL, NULL""".stripMargin,

    "q53_column_visibility" ->
      """SELECT event_id, CAST(1 AS BIGINT) AS n_cols,
        |  CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS v
        |FROM events""".stripMargin,

    // adaptive resolution restated: obj 0 stays catalog-born; unknown
    // objs resolve to their synthesized UNKNOWN.OBJ_<n> entries, with
    // obj 1's post-DDL version taking over at scn 5000
    "q103_adaptive_schema" ->
      """SELECT event_id,
        |  CASE WHEN user_id % 4 = 0 THEN 'APP' ELSE 'UNKNOWN' END AS owner,
        |  CASE WHEN user_id % 4 = 0 THEN 'KNOWN'
        |       WHEN user_id % 4 = 1 AND event_id >= 5000 THEN 'OBJ_1_ALTERED'
        |       ELSE 'OBJ_' || CAST(user_id % 4 AS VARCHAR) END AS table_name
        |FROM events""".stripMargin,

    // the decoded token stream restated as direct string assembly: decl,
    // prefixed root with xmlns + attribute, two <item> texts, 32-bit-code
    // <deep> — mirrors the token-by-token trace through parseXml
    "q102_xml_decode" ->
      """SELECT event_id,
        |  '<?xml version="1.0"?><ns:doc xmlns:ns="http://example.com/ns" id="'
        |  || CAST(event_id AS VARCHAR) || '"><item>' || event_type
        |  || '</item><item>' || CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR)
        |  || '</item><deep>' || CAST(user_id AS VARCHAR)
        |  || '</deep></ns:doc>' AS xml_text
        |FROM events""".stripMargin,

    // the straddled SJIS pair decodes clean only if assembly precedes
    // decode — the oracle simply states the final text
    "q139_clob_charset" ->
      """SELECT event_id, CAST(2 AS BIGINT) AS n_pages,
        |  event_type || 'あい' AS clob_text
        |FROM events""".stripMargin,

    // expected text restated directly: the ASCII prefix survives every
    // charset and each family appends its known decoded tail (the same
    // public code-point assignments the JVM charsets implement)
    "q137_charset_decode" ->
      """SELECT event_id,
        |  'T' || CAST(CASE user_id % 8
        |    WHEN 0 THEN 31 WHEN 1 THEN 178 WHEN 2 THEN 832
        |    WHEN 3 THEN 852 WHEN 4 THEN 840 WHEN 5 THEN 865
        |    WHEN 6 THEN 871 ELSE 2000 END AS VARCHAR) AS table_name,
        |  event_type || CASE user_id % 8
        |    WHEN 0 THEN 'éñ' WHEN 1 THEN '€™' WHEN 2 THEN 'あい'
        |    WHEN 3 THEN '你好' WHEN 4 THEN '가나' WHEN 5 THEN '中文'
        |    WHEN 6 THEN '𐐀' ELSE '𐐀' END AS txt
        |FROM events""".stripMargin,

    "q174_nrc_decode" ->
      """SELECT event_id,
        |  'N' || CAST(CASE user_id % 4
        |    WHEN 0 THEN 11 WHEN 1 THEN 14 WHEN 2 THEN 16
        |    ELSE 13 END AS VARCHAR) AS table_name,
        |  event_type || CASE user_id % 4
        |    WHEN 0 THEN '§ÄÖÜäöüßÄ'
        |    WHEN 1 THEN '£§¡Ñ¿°ñç~'
        |    WHEN 2 THEN 'ÄÆØÅÜäæøåü'
        |    ELSE 'ÉÄÖÅÜéäöåü' END AS txt
        |FROM events""".stripMargin,

    "q176_vendor8_decode" ->
      """SELECT event_id,
        |  'V' || CAST(CASE user_id % 6
        |    WHEN 0 THEN 2 WHEN 1 THEN 82 WHEN 2 THEN 50
        |    WHEN 3 THEN 558 WHEN 4 THEN 845 ELSE 863 END AS VARCHAR)
        |    AS table_name,
        |  event_type || CASE user_id % 6
        |    WHEN 0 THEN 'ÄŒéœ¤'
        |    WHEN 1 THEN 'ÇçĞŸ'
        |    WHEN 2 THEN 'àï¥'
        |    WHEN 3 THEN 'ءةط'
        |    WHEN 4 THEN '가각한'
        |    ELSE '一中' END AS txt
        |FROM events""".stripMargin,

    "q175_partition_resolve" ->
      """SELECT event_id,
        |  CAST(CASE user_id % 6
        |    WHEN 0 THEN 100 WHEN 1 THEN 200 WHEN 2 THEN 111
        |    WHEN 3 THEN 112 WHEN 4 THEN 113 ELSE 114 END AS BIGINT) AS obj,
        |  CASE WHEN user_id % 6 IN (0, 2, 3) THEN 'ORDERS'
        |       ELSE 'DOCS' END AS table_name
        |FROM events""".stripMargin,

    "q178_start_position" ->
      """SELECT event_id, user_id FROM events
        |WHERE event_id >= 250""".stripMargin,

    "q96_experimental_types" ->
      """SELECT event_id,
        |  CAST(2 AS BIGINT) AS n_cols_default,
        |  hex(CAST('<a>' || event_type || '</a>' AS BLOB)) AS xdoc_raw,
        |  hex(CAST('{"a":' || CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR)
        |    || '}' AS BLOB)) AS json_raw,
        |  '<a>' || event_type || '</a>' AS xml_text
        |FROM events""".stripMargin,

    // guard arithmetic restated from the bitmap cycle: uid%4 0→"03",
    // 2→"0304", 3→"00", 1→no guard; c1 present iff uid%3=0, segs 0/1/10
    "q95_guard_columns" ->
      """SELECT event_id,
        |  CAST(1
        |    + CASE WHEN user_id % 3 = 0 OR user_id % 4 IN (0, 2)
        |           THEN 1 ELSE 0 END
        |    + CASE WHEN user_id % 4 IN (0, 2) THEN 1 ELSE 0 END
        |    + CASE WHEN user_id % 4 = 2 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_cols,
        |  CASE WHEN user_id % 3 = 0 THEN 'present'
        |       WHEN user_id % 4 IN (0, 2) THEN 'null'
        |       ELSE 'absent' END AS c1_state,
        |  CASE WHEN user_id % 4 IN (0, 2) THEN 'null' ELSE 'absent' END
        |    AS c2_state,
        |  CASE WHEN user_id % 4 = 2 THEN 'null' ELSE 'absent' END
        |    AS c3_state
        |FROM events""".stripMargin,

    // canonical NUMBER rendering: minimal decimal (trailing fraction zeros
    // and bare '.' trimmed; -0 collapses to 0)
    "q52_number_codec" ->
      """SELECT event_id,
        |  CASE WHEN t IN ('-0', '', '-') THEN '0' ELSE t END AS num_rt
        |FROM (
        |  SELECT event_id,
        |    CASE WHEN v LIKE '%.%' THEN rtrim(rtrim(v, '0'), '.') ELSE v END AS t
        |  FROM (SELECT event_id,
        |      CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS v
        |    FROM events))""".stripMargin
  )
}
