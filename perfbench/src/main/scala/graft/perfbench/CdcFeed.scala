package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import graft.cdc.{ChangeEvent, DbColumn, DbTable, Dictionary, Op, TableSelector}

/** Seeded OLTP change feed over a small typed schema, written as the JSONL
  * files the program's streaming source reads. Every parameter comes from
  * `params.json` (section `cdc`). */
object CdcFeed {
  val Owner = "SHOP"
  val Orders = 2001L
  val Customers = 2002L
  val Items = 2003L
  /** WE8ISO8859P1: the NAME column arrives as hex of its Latin-1 bytes and
    * the program decodes it during materialization. */
  val Latin1 = 31

  /** The generated dictionary: three tables, keyed and tagged by primary
    * key, NUMBER / VARCHAR2 (one Latin-1) / DATE columns. */
  val dictionary: Dictionary = Dictionary(Seq(
    DbTable(Orders, Orders, Owner, "ORDERS", Seq(
      DbColumn("ID", 2, numPk = 1, nullable = false),
      DbColumn("CUSTOMER_ID", 2),
      DbColumn("STATUS", 1, length = 16),
      DbColumn("AMOUNT", 2, precision = 12, scale = 2),
      DbColumn("CREATED", 12)), tagType = "pk"),
    DbTable(Customers, Customers, Owner, "CUSTOMERS", Seq(
      DbColumn("ID", 2, numPk = 1, nullable = false),
      DbColumn("NAME", 1, length = 64, charsetId = Latin1),
      DbColumn("CITY", 1, length = 32),
      DbColumn("BIRTH", 12)), tagType = "pk"),
    DbTable(Items, Items, Owner, "ITEMS", Seq(
      DbColumn("ID", 2, numPk = 1, nullable = false),
      DbColumn("ORDER_ID", 2),
      DbColumn("SKU", 1, length = 24),
      DbColumn("QTY", 2),
      DbColumn("PRICE", 2, precision = 10, scale = 2)), tagType = "pk")),
    Seq(TableSelector(Owner, ".*")))

  final case class Mix(insFrac: Double, updFrac: Double, minOps: Int,
      maxOps: Int, supplemental: Boolean, rollbackFrac: Double,
      partialRollbackFrac: Double)

  private val statuses = Array("NEW", "PAID", "SHIPPED", "CANCELLED")
  private val names = Array("José", "Zoë", "François", "Søren", "Ångström",
    "Müller", "Peña", "Ødegård", "Björk", "Çelik", "Dvořák".filter(_ <= 'ÿ'),
    "Íñigo", "Thérèse", "Ümit")
  private val cities = Array("Lisboa", "Zürich", "Malmö", "Kraków".filter(_ <= 'ÿ'),
    "Reykjavík", "São Paulo", "Genève", "Århus")

  private def hexLatin1(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      .map(b => f"${b & 0xff}%02X").mkString

  /** One DML op before positions (scn, offset, seq) are assigned. */
  final case class ProtoOp(op: String, obj: Long, id: Long,
      before: Map[String, String], after: Map[String, String],
      suppBefore: Map[String, String], suppAfter: Map[String, String]) {
    def bdba: Long = 4096L + id / 64
    def slot: Int = (id % 64).toInt
  }

  /** Row and value generator shared by the live and backlog feeds. */
  final class Rows(rnd: Random) {
    private val nextId = scala.collection.mutable.Map(
      Orders -> 1L, Customers -> 1L, Items -> 1L)

    private def date(): String =
      f"2026-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d " +
        f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"

    private def row(obj: Long, id: Long): Map[String, String] = obj match {
      case Orders => Map("ID" -> id.toString,
        "CUSTOMER_ID" -> (1 + rnd.nextInt(5000)).toString,
        "STATUS" -> statuses(rnd.nextInt(statuses.length)),
        "AMOUNT" -> f"${rnd.nextInt(100000)}.${rnd.nextInt(100)}%02d",
        "CREATED" -> date())
      case Customers => Map("ID" -> id.toString,
        "NAME" -> hexLatin1(names(rnd.nextInt(names.length)) + " " +
          (1 + rnd.nextInt(999))),
        "CITY" -> cities(rnd.nextInt(cities.length)),
        "BIRTH" -> date())
      case _ => Map("ID" -> id.toString,
        "ORDER_ID" -> (1 + rnd.nextInt(50000)).toString,
        "SKU" -> f"SKU-${rnd.nextInt(100000)}%05d",
        "QTY" -> (1 + rnd.nextInt(10)).toString,
        "PRICE" -> f"${rnd.nextInt(1000)}.${rnd.nextInt(100)}%02d")
    }

    private val tables = Array(Orders, Orders, Items, Items, Items, Customers)

    def op(mix: Mix): ProtoOp = {
      val obj = tables(rnd.nextInt(tables.length))
      val u = rnd.nextDouble()
      val existing = nextId(obj) - 1
      if (u < mix.insFrac || existing < 1) {
        val id = nextId(obj); nextId(obj) = id + 1
        ProtoOp(Op.Ins, obj, id, Map.empty, row(obj, id), Map.empty, Map.empty)
      } else {
        val id = 1 + (rnd.nextLong() & Long.MaxValue) % existing
        val old = row(obj, id)
        if (u < mix.insFrac + mix.updFrac) {
          // one or two non-key columns change
          val cols = rnd.shuffle(old.keys.filter(_ != "ID").toSeq.sorted)
            .take(1 + rnd.nextInt(2))
          val fresh = row(obj, id)
          val after = old ++ cols.map(c => c -> fresh(c))
          if (mix.supplemental) {
            val key = Map("ID" -> id.toString)
            ProtoOp(Op.Upd, obj, id, old.filter(kv => cols.contains(kv._1)),
              after.filter(kv => cols.contains(kv._1)), key, key)
          } else ProtoOp(Op.Upd, obj, id, old, after, Map.empty, Map.empty)
        } else if (mix.supplemental)
          ProtoOp(Op.Del, obj, id, Map.empty, Map.empty, old, Map.empty)
        else ProtoOp(Op.Del, obj, id, old, Map.empty, Map.empty, Map.empty)
      }
    }
  }

  /** A generated transaction: its ops, how it ends, and (once positioned)
    * its commit scn. `outMessages` = DML messages it must produce. */
  final class Txn(val xid: String, val ops: Seq[ProtoOp],
      val partialRollback: Boolean, val rollback: Boolean) {
    var commitScn: Long = -1L
    def outMessages: Int =
      if (rollback) 0 else ops.length - (if (partialRollback) 1 else 0)
  }

  /** Assigns redo positions in write order: scn is global and increasing,
    * one per event. */
  final class Positions(startScn: Long) {
    private var scn = startScn
    private var offset = 0L
    var dmlEvents = 0L
    var events = 0L

    private def ev(xid: String, op: String, seq: Long, tmNs: Long): ChangeEvent = {
      scn += 1
      offset += 512
      events += 1
      ChangeEvent(scn, 0, seq, offset, 1, xid, op, 0L, 0L, 0, "",
        Map.empty, Map.empty, Map.empty, Map.empty, Map.empty, null, tmNs)
    }

    /** BEGIN, the DML ops, and the optional partial rollback of the last op. */
    def body(t: Txn, seq: Long, tmNs: Long): Seq[ChangeEvent] = {
      val out = ArrayBuffer(ev(t.xid, Op.Begin, seq, tmNs))
      t.ops.foreach { o =>
        dmlEvents += 1
        out += ev(t.xid, o.op, seq, tmNs).copy(obj = o.obj, bdba = o.bdba,
          slot = o.slot, before = o.before, after = o.after,
          suppBefore = o.suppBefore, suppAfter = o.suppAfter)
      }
      if (t.partialRollback) {
        val last = t.ops.last
        out += ev(t.xid, Op.PartialRollback, seq, tmNs)
          .copy(obj = last.obj, bdba = last.bdba, slot = last.slot)
      }
      out.toSeq
    }

    def end(t: Txn, seq: Long, tmNs: Long): ChangeEvent = {
      val e = ev(t.xid, if (t.rollback) Op.Rollback else Op.Commit, seq, tmNs)
      if (!t.rollback) t.commitScn = e.scn
      e
    }
  }

  final class TxnFactory(rnd: Random, mix: Mix) {
    private val rows = new Rows(rnd)
    private var n = 0L
    def next(): Txn = {
      n += 1
      val nOps = mix.minOps + rnd.nextInt(mix.maxOps - mix.minOps + 1)
      val ops = Seq.fill(nOps)(rows.op(mix))
      val rb = rnd.nextDouble() < mix.rollbackFrac
      val prb = !rb && nOps > 1 && rnd.nextDouble() < mix.partialRollbackFrac
      new Txn(s"${n % 16}.${n % 1000}.$n", ops, prb, rb)
    }
  }

  // ---- JSONL ---------------------------------------------------------------

  private def str(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case _ if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  private def map(sb: java.lang.StringBuilder, m: Map[String, String]): Unit = {
    sb.append('{')
    var first = true
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      if (!first) sb.append(',')
      first = false
      str(sb, k); sb.append(':'); str(sb, v)
    }
    sb.append('}')
  }

  def jsonLine(e: ChangeEvent, sb: java.lang.StringBuilder): Unit = {
    sb.append("{\"scn\":").append(e.scn).append(",\"subScn\":").append(e.subScn)
      .append(",\"seq\":").append(e.seq).append(",\"offset\":").append(e.offset)
      .append(",\"thread\":").append(e.thread).append(",\"xid\":")
    str(sb, e.xid)
    sb.append(",\"op\":"); str(sb, e.op)
    sb.append(",\"obj\":").append(e.obj).append(",\"bdba\":").append(e.bdba)
      .append(",\"slot\":").append(e.slot).append(",\"fb\":\"\"")
    sb.append(",\"before\":"); map(sb, e.before)
    sb.append(",\"after\":"); map(sb, e.after)
    sb.append(",\"suppBefore\":"); map(sb, e.suppBefore)
    sb.append(",\"suppAfter\":"); map(sb, e.suppAfter)
    sb.append(",\"attrs\":{},\"tm\":").append(e.tm).append("}\n")
  }

  /** Write one feed file atomically: the streaming source must never list
    * a half-written file. `staging` is on the same file system. */
  def publish(events: Seq[ChangeEvent], staging: Path, dir: Path,
      name: String): Path = {
    val sb = new java.lang.StringBuilder(events.length * 400)
    events.foreach(jsonLine(_, sb))
    val tmp = staging.resolve(name)
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Write a whole feed at once. The file source orders files by
    * modification time, so files written within the same millisecond could
    * be read out of order; like archived redo logs, each file gets its own,
    * increasing modification time. */
  def publishAll(files: Seq[Seq[ChangeEvent]], staging: Path, dir: Path,
      name: Int => String): Unit = {
    val base = System.currentTimeMillis() - files.size * 1000L
    files.zipWithIndex.foreach { case (evs, i) =>
      Files.setLastModifiedTime(publish(evs, staging, dir, name(i)),
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
  }
}
