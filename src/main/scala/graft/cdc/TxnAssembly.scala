package graft.cdc

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.OracleCodecs

/** Transaction assembly — the stateful core of the engine (SURVEY.md §2.3).
  *
  * Reproduces the reference semantics: ops buffered per XID in
  * (scn, subScn, offset) order; COMMIT flushes the buffer as committed
  * messages with a (cScn, cIdx) restart position; ROLLBACK drops it;
  * PARTIAL_ROLLBACK cancels the last *matching* buffered op (stack
  * semantics); session attributes attach to every op of the transaction;
  * nothing uncommitted is ever emitted; oversized transactions are dropped
  * whole and the XID skip-listed.
  *
  * Two drivers share [[TxnAccumulator]]: a batch path (`groupByKey +
  * flatMapGroups` — deterministic replay/tests) and a streaming path
  * (`flatMapGroupsWithState` with a processing-time TTL for abandoned
  * transactions). At scale the shuffle key is the XID, which is correct by
  * construction: a transaction lives in exactly one redo thread, so keyed
  * state never crosses partitions, and skew is bounded by `maxOpsPerTxn`
  * (the reference's transaction-max-mb drop rule).
  */
object TxnAssembly {

  case class Config(
      skipXids: Set[String] = Set.empty,
      /** T8 dump list (OpenLogReplicator.cpp:1042-1049): XIDs whose every
        * op gets a diagnostic trace line in the executor log, the
        * reference's ctx->info sink (Transaction.h:84-109). The same
        * rendering is queryable at scale via [[dumpTrace]]. */
      dumpXids: Set[String] = Set.empty,
      maxOpsPerTxn: Int = 10000000,
      /** T5 byte form of the drop rule — `transaction-max-mb` parity
        * (Parser.cpp:611-620: `transaction->size + record size + header
        * >= ctx->transactionSizeMax` → drop + skip-list; the reference
        * docs say "split" but the code drops). Accumulated
        * [[ChangeEvent.approxSize]] per open transaction; 0 = disabled. */
      maxBytesPerTxn: Long = 0L,
      /** Batch replay: treat end-of-input as commit (for feeds that carry
        * only DML, e.g. relational adapters). OLR itself never does this. */
      commitAtEnd: Boolean = false,
      emitBeginCommit: Boolean = false,
      stateTtlMs: Long = -1L)

  /** Mutable per-XID state; the streaming path snapshots/restores it. */
  case class TxnState(
      ops: ArrayBuffer[ChangeEvent],
      var attrs: Map[String, String],
      var beginScn: Long,
      var open: Boolean,
      var oversized: Boolean) {
    /** Accumulated approx op bytes (the reference's transaction->size);
      * derived from `ops`, so NOT part of the checkpointed state — thaw
      * recomputes it. */
    var bytes: Long = 0L
  }

  object TxnState {
    def empty: TxnState = TxnState(ArrayBuffer.empty, Map.empty, -1L, false, false)
  }

  /** Checkpointed form of [[TxnState]] (state-store schema v2): an
    * explicit product — columnar in the state store, schema-evolvable
    * (add a field with a default and old checkpoints still read) —
    * replacing the opaque kryo blobs of v1. v1 checkpoints don't carry a
    * readable schema, so this is a documented state-version bump: restart
    * a v1 stream from a fresh checkpoint (positions replay from the
    * archived feed; the source is replayable by contract). */
  case class TxnStateData(
      ops: Seq[ChangeEvent],
      attrs: Map[String, String],
      beginScn: Long,
      open: Boolean,
      oversized: Boolean) {
    def thaw: TxnState = {
      val st = TxnState(ArrayBuffer.from(ops), attrs, beginScn, open, oversized)
      st.bytes = ops.iterator.map(_.approxSize.toLong).sum
      st
    }
  }

  object TxnStateData {
    def freeze(st: TxnState): TxnStateData =
      TxnStateData(st.ops.toVector, st.attrs, st.beginScn, st.open, st.oversized)
  }

  /** Feed one event through the state machine; returns messages to emit
    * (non-empty only for COMMIT, or chunk-forced splits). */
  def onEvent(xid: String, e: ChangeEvent, st: TxnState, cfg: Config): Seq[ChangeMessage] = {
    if (cfg.skipXids.contains(xid)) return Nil
    if (cfg.dumpXids.contains(xid)) log.info(traceLine(e))
    e.op match {
      case Op.Begin =>
        st.open = true
        st.beginScn = e.scn
        Nil
      case Op.SessionAttr =>
        st.attrs = st.attrs ++ Option(e.attrs).getOrElse(Map.empty)
        Nil
      case Op.PartialRollback =>
        // cancel the last matching op (obj/bdba/slot when given, else the
        // most recent DML) — Transaction.cpp:73-197 semantics
        val idx =
          if (e.obj != 0L || e.bdba != 0L || e.slot != 0)
            st.ops.lastIndexWhere(o =>
              o.obj == e.obj && o.bdba == e.bdba && o.slot == e.slot)
          else st.ops.lastIndexWhere(o => Op.dml.contains(o.op))
        if (idx >= 0) st.bytes -= st.ops.remove(idx).approxSize
        Nil
      case Op.Rollback =>
        reset(st)
        Nil
      case Op.Commit =>
        val out = flush(xid, e.scn, e.seq, st, cfg, commitTm = e.tm)
        reset(st)
        out
      case op if Op.dml.contains(op) || op == Op.Ddl =>
        if (st.oversized) Nil
        else {
          st.ops += e
          st.bytes += e.approxSize
          if (st.ops.length > cfg.maxOpsPerTxn ||
              (cfg.maxBytesPerTxn > 0 && // transaction-max-mb byte rule
                st.bytes >= cfg.maxBytesPerTxn)) { // T5: drop + skip
            st.ops.clear()
            st.bytes = 0L
            st.oversized = true
          }
          Nil
        }
      case _ => Nil // LOB page ops handled by LobAssembly upstream
    }
  }

  private def reset(st: TxnState): Unit = {
    st.ops.clear()
    st.bytes = 0L
    st.attrs = Map.empty
    st.open = false
    st.beginScn = -1L
    st.oversized = false
  }

  /** Emit buffered ops as committed messages in redo order. `commitTm` =
    * the commit record's wall clock (→ "tm"/"e_tm" header variants; 0
    * when the feed has no clock). */
  def flush(xid: String, commitScn: Long, seq: Long, st: TxnState,
      cfg: Config, commitTm: Long = 0L): Seq[ChangeMessage] = {
    if (st.oversized || st.ops.isEmpty) return Nil
    val bScn = st.beginScn.max(0L)
    val out = ArrayBuffer.empty[ChangeMessage]
    var idx = 0L
    // "num" = per-txn payload ordinal (ADD_SEQUENCES, BuilderJson.h:89-92):
    // the reference resets it at begin and bumps it per DML/DDL — exactly
    // one bump per emit() call here; brackets keep the default 0 (never
    // rendered)
    var num = 0L
    def emit(op: String, e: ChangeEvent, before: Map[String, String],
        after: Map[String, String]): Unit = {
      out += ChangeMessage(commitScn, idx, e.scn, seq, xid, op, e.obj,
        OracleCodecs.rowIdEncode(e.obj, e.bdba, e.slot), before, after,
        st.attrs, e.ddlText, bScn, commitTm, e.thread, e.offset, num)
      idx += 1
      num += 1
    }
    // brackets carry the transaction's thread (single-threaded by
    // construction — any op's value) and no file offset
    val txnThread = st.ops.head.thread
    if (cfg.emitBeginCommit)
      out += ChangeMessage(commitScn, { idx += 1; 0L }, st.beginScn.max(0L), seq,
        xid, MsgOp.Begin, 0L, null, null, null, st.attrs, null, bScn, commitTm,
        txnThread)
    // T4 row-piece merge: a chained/migrated row arrives as consecutive
    // pieces flagged fb F(first) … L(last) (Transaction.cpp:450-490 groups
    // pieces until the FB_L end-flag, then emits ONE logical DML). Pieces
    // merge column-wise in arrival order; the merged op keeps the first
    // piece's position/rowid.
    val mergedOps = {
      val acc = ArrayBuffer.empty[ChangeEvent]
      var head: ChangeEvent = null
      def mm(a: Map[String, String], b: Map[String, String]) =
        (Option(a), Option(b)) match {
          case (Some(x), Some(y)) => x ++ y
          case (x, y) => y.orElse(x).orNull
        }
      st.ops.foreach { e =>
        val fb = Option(e.fb).getOrElse("")
        val isPiece = Op.dml.contains(e.op) && fb.nonEmpty
        if (isPiece && fb.contains("F") && !fb.contains("L")) {
          // a second F piece while a chain is still open = redo-log
          // inconsistency (Transaction.cpp:483-486 warns); keep the earlier
          // piece's columns by flushing it rather than dropping it
          if (head != null) acc += head
          head = e
        } else if (isPiece && head != null && !fb.contains("F")) {
          head = head.copy(
            before = mm(head.before, e.before),
            after = mm(head.after, e.after),
            suppBefore = mm(head.suppBefore, e.suppBefore),
            suppAfter = mm(head.suppAfter, e.suppAfter))
          if (fb.contains("L")) { acc += head; head = null }
        } else {
          if (head != null) { acc += head; head = null } // unterminated chain
          acc += e
        }
      }
      if (head != null) acc += head
      acc
    }
    mergedOps.foreach { e =>
      e.op match {
        case Op.Ins => emit(MsgOp.Insert, e, null, e.after)
        case Op.Del =>
          // before-image from supplemental log when the delete carries none
          val before =
            if (e.before != null && e.before.nonEmpty) e.before else e.suppBefore
          emit(MsgOp.Delete, e, before, null)
        case Op.Upd => emit(MsgOp.Update, e,
          merged(e.before, e.suppBefore), merged(e.after, e.suppAfter))
        case Op.InsMulti => expandMulti(e.after).foreach(r => emit(MsgOp.Insert, e, null, r))
        case Op.DelMulti => expandMulti(e.before).foreach(r => emit(MsgOp.Delete, e, r, null))
        case Op.Ddl => emit(MsgOp.Ddl, e, null, null)
        case _ =>
      }
    }
    if (cfg.emitBeginCommit)
      out += ChangeMessage(commitScn, idx, commitScn, seq, xid, MsgOp.Commit,
        0L, null, null, null, st.attrs, null, bScn, commitTm, txnThread)
    out.toSeq
  }

  /** supplemental-log merge: explicit image wins, supp fills gaps. */
  private def merged(img: Map[String, String], supp: Map[String, String]): Map[String, String] = {
    val s = Option(supp).getOrElse(Map.empty)
    val i = Option(img).getOrElse(Map.empty)
    s ++ i
  }

  /** Multi-row ops encode rows as "rowIdx:col" keys (11.11/11.12 expansion,
    * Builder.cpp:714-894 emits one message per contained row). */
  private def expandMulti(m: Map[String, String]): Seq[Map[String, String]] = {
    if (m == null || m.isEmpty) return Nil
    m.toSeq
      .map { case (k, v) =>
        val sep = k.indexOf(':')
        (k.substring(0, sep).toInt, k.substring(sep + 1), v)
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, cols) => cols.map(c => c._2 -> c._3).toMap }
  }

  /** Event ordering within a transaction = the reference's LWN sort key. */
  val ordering: Ordering[ChangeEvent] =
    Ordering.by(e => (e.scn, e.subScn, e.offset))

  // per-executor-JVM logger — the ctx->info sink of the reference's dump path
  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** Trace-line tag per op, Parser.cpp call sites: "B   "/"C   " brackets
    * (:784, :816), "rlb " partial rollback (:76-77 via Transaction.cpp),
    * "add " buffered op (:61-68). Commit and rollback share "C   " (both
    * arrive as 5.4; the flg distinguishes them after the log line). */
  def traceMsg(op: String): String = op match {
    case Op.Begin => "B   "
    case Op.Commit | Op.Rollback => "C   "
    case Op.PartialRollback => "rlb "
    case _ => "add "
  }

  /** One diagnostic line per op of a dump-listed transaction — the
    * reference's Transaction::log rendering (Transaction.h:84-109)
    * restricted to the fields the pre-decoded feed carries. Single source
    * of truth for both the executor-log side effect ([[onEvent]]) and the
    * queryable [[dumpTrace]] surface. */
  def traceLine(e: ChangeEvent): String =
    traceMsg(e.op) + " xid: " + e.xid + " OP: " + e.op +
      " scn: " + e.scn + " obj: " + e.obj + " bdba: " + e.bdba +
      " slot: " + e.slot + " fb: " + Option(e.fb).getOrElse("") +
      " offset: " + e.offset

  /** T8 dump-XID as a queryable diagnostic: every op of a dump-listed XID
    * rendered as its trace line. Stateless — the reference logs at add
    * time, before any rollback can cancel the op, so a filter + per-row
    * projection is the exact semantics. The relational `isInCollection`
    * filter sits ahead of the typed map so it can push into the scan;
    * per-row object mapping after the filter touches only dumped rows
    * (diagnostic volumes, not the data path). */
  def dumpTrace(events: Dataset[ChangeEvent], dumpXids: Set[String])(
      implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    events
      .filter(col("xid").isInCollection(dumpXids))
      .as[ChangeEvent]
      .map(e => (e.scn, e.xid, traceLine(e)))
      .toDF("scn", "xid", "line")
  }

  /** Batch assembly: deterministic replay over a bounded event Dataset.
    *
    * Sort-based, not `groupByKey.flatMapGroups`: hash-partition by xid,
    * Tungsten-sort each partition by (xid, scn, subScn, offset), then run
    * the state machine over consecutive xid runs in one streaming pass.
    * Same semantics, but the sort runs on UnsafeRows (spillable, no
    * per-group `Array.sorted`), and resident state is O(open transaction)
    * — the reference's own memory envelope — instead of O(largest group).
    */
  def assembleBatch(events: Dataset[ChangeEvent], cfg: Config = Config())(
      implicit spark: SparkSession): Dataset[ChangeMessage] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    events
      .repartition(col("xid"))
      .sortWithinPartitions(col("xid"), col("scn"), col("subScn"), col("offset"))
      .as[ChangeEvent]
      .mapPartitions { it =>
        new Iterator[ChangeMessage] {
          private var curXid: String = null
          private var st: TxnState = TxnState.empty
          private var last: ChangeEvent = null
          private val buf = scala.collection.mutable.Queue.empty[ChangeMessage]
          private def endGroup(): Unit =
            if (curXid != null && cfg.commitAtEnd && st.ops.nonEmpty && last != null)
              buf ++= flush(curXid, last.scn, last.seq, st, cfg,
                commitTm = last.tm)
          private def fill(): Unit = {
            while (buf.isEmpty && it.hasNext) {
              val e = it.next()
              if (e.xid != curXid) {
                endGroup()
                curXid = e.xid; st = TxnState.empty; last = null
              }
              buf ++= onEvent(e.xid, e, st, cfg)
              last = e
            }
            if (buf.isEmpty && !it.hasNext) { endGroup(); curXid = null }
          }
          override def hasNext: Boolean = { fill(); buf.nonEmpty }
          override def next(): ChangeMessage = { fill(); buf.dequeue() }
        }
      }
  }

  /** Streaming assembly: flatMapGroupsWithState keyed by XID with a
    * processing-time TTL for abandoned transactions (T7 cross-log
    * continuity comes free from the state store). Events within a key must
    * arrive scn-ordered (guaranteed per redo thread; the source preserves
    * file order per partition).
    *
    * Grouped by the `xid` COLUMN, not `groupByKey(_.xid)`: the lambda key
    * adds an AppendColumns step that deserializes every event into a full
    * ChangeEvent (five Scala maps) just to read its xid. The state key
    * schema is a single string either way, so checkpoints written by the
    * lambda-keyed query restart on this one (StreamingSpec). */
  def assembleStream(events: Dataset[ChangeEvent], cfg: Config = Config())(
      implicit spark: SparkSession): Dataset[ChangeMessage] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // implicit product encoder for TxnStateData via spark.implicits —
    // explicit state schema in the store (see TxnStateData for the v1
    // kryo → v2 product bump)
    events.toDF().groupBy(col("xid")).as[String, ChangeEvent]
      .flatMapGroupsWithState(OutputMode.Append, stateTimeout(cfg))(
        streamStep(cfg))
  }

  /** ProcessingTimeTimeout makes Spark schedule timeout-check batches
    * forever — only pay that when an abandoned-txn TTL is requested. */
  private[graft] def stateTimeout(cfg: Config): GroupStateTimeout =
    if (cfg.stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

  /** One XID group of one micro-batch against its keyed state. */
  private[graft] def streamStep(cfg: Config)(xid: String,
      it: Iterator[ChangeEvent],
      state: GroupState[TxnStateData]): Iterator[ChangeMessage] =
    if (state.hasTimedOut) { // abandoned txn: drop state, emit nothing
      state.remove()
      Iterator.empty
    } else {
      val st = state.getOption.map(_.thaw).getOrElse(TxnState.empty)
      val out = ArrayBuffer.empty[ChangeMessage]
      it.toArray.sorted(ordering)
        .foreach(e => out ++= onEvent(xid, e, st, cfg))
      if (st.ops.isEmpty && !st.open) state.remove()
      else {
        state.update(TxnStateData.freeze(st))
        if (cfg.stateTtlMs > 0) state.setTimeoutDuration(cfg.stateTtlMs)
      }
      out.iterator
    }
}
