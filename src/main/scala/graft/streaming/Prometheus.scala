package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

/** Prometheus metric surface — NAME/TYPE/LABEL parity with the reference's
  * exporter so a migrating user's dashboards and alerts keep working
  * unchanged (documentation/metrics/metrics.adoc;
  * src/common/metrics/MetricsPrometheus.cpp:41-278 family registration,
  * src/common/metrics/Metrics.h:49-146 emit surface).
  *
  * Every fixed family/series the reference registers at startup is
  * pre-registered here with value 0 (prometheus-cpp `Add({...})`
  * semantics: a series exists, at zero, before its first increment), so a
  * scrape of a fresh engine exposes the identical series set. Counters
  * accumulate deltas (`Increment(counter)`), gauges overwrite (`Set`),
  * matching MetricsPrometheus.cpp:286-475.
  *
  * One deliberate divergence, documented: the reference registers its
  * transactions family under the NAME "dml_ops"
  * (MetricsPrometheus.cpp:251 `BuildCounter().Name("dml_ops")` under the
  * `// transactions` banner) — which collides with the real dml_ops
  * family and contradicts its own documentation (metrics.adoc lists
  * `transactions`). We follow the documentation: the family is named
  * `transactions`.
  *
  * `tag-names` ≙ the reference's metrics config knob
  * (OpenLogReplicator.cpp:380-395): `filter` adds (owner, table) labels
  * to dml_ops series for selected user tables, `sys` for system tables,
  * `all` both, `none` neither (Builder.cpp:778-791 dispatch).
  *
  * Scale note: this is driver-side observability state — a few hundred
  * longs, fed from Structured Streaming progress events and short-key
  * counter aggregates. Nothing here touches the executor hot path.
  */
object Prometheus {

  /** metrics.tag-names knob (OpenLogReplicator.cpp:380-395). */
  sealed abstract class TagNames(val filter: Boolean, val sys: Boolean)
  object TagNames {
    case object None extends TagNames(false, false)
    case object Filter extends TagNames(true, false)
    case object Sys extends TagNames(false, true)
    case object All extends TagNames(true, true)
    /** Parse the JSON config value; unknown values are a config error,
      * like the reference's ConfigurationException 30001. */
    def parse(s: String): TagNames = s match {
      case "none"   => None
      case "filter" => Filter
      case "sys"    => Sys
      case "all"    => All
      case other => throw new IllegalArgumentException(
        "invalid \"tag-names\" value: " + other +
          ", expected: one of {\"all\", \"filter\", \"none\", \"sys\"}")
    }
  }

  sealed trait Kind { def text: String }
  case object CounterKind extends Kind { val text = "counter" }
  case object GaugeKind extends Kind { val text = "gauge" }

  /** The reference's fixed family surface: (name, kind, help, fixed
    * series label sets registered at startup). Transcribed from
    * MetricsPrometheus.cpp:41-278 (names, helps, label values) — the
    * factual contract an output-compatible engine must match. */
  val families: Seq[(String, Kind, String, Seq[Map[String, String]])] = Seq(
    ("bytes_confirmed", CounterKind,
      "Number of bytes confirmed by output", Seq(Map.empty)),
    ("bytes_parsed", CounterKind,
      "Number of bytes parsed containing redo log data", Seq(Map.empty)),
    ("bytes_read", CounterKind,
      "Number of bytes read from redo log files", Seq(Map.empty)),
    ("bytes_sent", CounterKind,
      "Number of bytes sent to output (for example to Kafka or network writer)",
      Seq(Map.empty)),
    ("checkpoints", CounterKind, "Number of checkpoint records",
      Seq(Map("filter" -> "out"), Map("filter" -> "skip"))),
    ("checkpoint_lag", GaugeKind,
      "Checkpoint processing lag in seconds", Seq(Map.empty)),
    ("ddl_ops", CounterKind, "Number of DDL operations",
      Seq("alter", "create", "drop", "other", "purge", "truncate")
        .map(t => Map("type" -> t))),
    ("dml_ops", CounterKind, "Number of DML operations",
      (for (t <- Seq("delete", "insert", "update"); f <- Seq("out", "skip"))
        yield Map("type" -> t, "filter" -> f))),
    ("log_switches", CounterKind, "Number of redo log switches",
      Seq(Map("type" -> "online"), Map("type" -> "archived"))),
    ("log_switches_lag", GaugeKind,
      "Redo log file processing lag in seconds",
      Seq(Map("type" -> "online"), Map("type" -> "archived"))),
    ("memory_allocated_mb", GaugeKind,
      "Amount of allocated memory in MB", Seq(Map.empty)),
    ("memory_used_total_mb", GaugeKind, "Total used memory", Seq(Map.empty)),
    ("memory_used_mb", GaugeKind, "Memory used by module: builder",
      Seq("builder", "misc", "parser", "reader", "transactions", "writer")
        .map(t => Map("type" -> t))),
    ("messages_confirmed", CounterKind,
      "Number of messages confirmed by output", Seq(Map.empty)),
    ("messages_sent", CounterKind,
      "Number of messages sent to output", Seq(Map.empty)),
    ("service_state", GaugeKind, "Service state",
      Seq("initializing", "starting", "ready", "replicating", "finishing",
        "aborting").map(s => Map("state" -> s))),
    ("swap_operations_mb", CounterKind, "Swap operations in MB",
      Seq("discard", "read", "write").map(t => Map("type" -> t))),
    ("swap_usage_mb", GaugeKind, "Swap usage in MB", Seq(Map.empty)),
    ("transactions", CounterKind, "Number of transactions",
      (for (t <- Seq("commit", "rollback");
            f <- Seq("out", "partial", "skip"))
        yield Map("type" -> t, "filter" -> f))))
}

/** One engine's metric registry (thread-safe; listener callbacks and
  * foreachBatch side-aggregations both feed it). */
final class Prometheus(tagNames: Prometheus.TagNames = Prometheus.TagNames.None) {
  import Prometheus._

  private final class Series {
    val counter = new DoubleAdder // counters: accumulated deltas
    val gauge = new AtomicLong    // gauges: Double bits, Set overwrites
    def value(kind: Kind): Double = kind match {
      case CounterKind => counter.sum()
      case GaugeKind   => java.lang.Double.longBitsToDouble(gauge.get())
    }
  }

  // family name -> (kind, help, series by sorted-label key)
  private val reg: Map[String, (Kind, String, ConcurrentHashMap[Seq[(String, String)], Series])] =
    families.map { case (name, kind, help, fixed) =>
      val m = new ConcurrentHashMap[Seq[(String, String)], Series]()
      fixed.foreach(ls => m.put(ls.toSeq.sortBy(_._1), new Series))
      name -> (kind, help, m)
    }.toMap

  private def series(name: String, labels: Map[String, String]): (Kind, Series) = {
    val (kind, _, m) = reg(name)
    (kind, m.computeIfAbsent(labels.toSeq.sortBy(_._1), _ => new Series))
  }

  private def inc(name: String, labels: Map[String, String], v: Long): Unit = {
    require(v >= 0, s"counter $name decrement")
    series(name, labels)._2.counter.add(v.toDouble)
  }
  private def set(name: String, labels: Map[String, String], v: Double): Unit =
    series(name, labels)._2.gauge.set(java.lang.Double.doubleToLongBits(v))

  // ---- the Metrics.h emit surface (Metrics.h:49-146) -------------------
  def emitBytesConfirmed(c: Long): Unit = inc("bytes_confirmed", Map.empty, c)
  def emitBytesParsed(c: Long): Unit = inc("bytes_parsed", Map.empty, c)
  def emitBytesRead(c: Long): Unit = inc("bytes_read", Map.empty, c)
  def emitBytesSent(c: Long): Unit = inc("bytes_sent", Map.empty, c)
  def emitCheckpointsOut(c: Long): Unit =
    inc("checkpoints", Map("filter" -> "out"), c)
  def emitCheckpointsSkip(c: Long): Unit =
    inc("checkpoints", Map("filter" -> "skip"), c)
  def emitCheckpointLag(g: Double): Unit = set("checkpoint_lag", Map.empty, g)
  def emitDdlOps(kind: String, c: Long): Unit =
    inc("ddl_ops", Map("type" -> kind), c)

  /** dml_ops with the reference's tag-names dispatch
    * (Builder.cpp:778-791): per-(owner, table) labels only when the
    * table's class matches the knob; untagged otherwise. */
  def emitDmlOps(op: String, filter: String, c: Long,
      owner: String = null, table: String = null,
      systemTable: Boolean = false): Unit = {
    val base = Map("type" -> op, "filter" -> filter)
    val tagged =
      if (owner != null && table != null &&
          ((tagNames.filter && !systemTable) || (tagNames.sys && systemTable)))
        base + ("owner" -> owner) + ("table" -> table)
      else base
    inc("dml_ops", tagged, c)
  }

  def emitLogSwitches(kind: String, c: Long): Unit =
    inc("log_switches", Map("type" -> kind), c)
  def emitLogSwitchesLag(kind: String, g: Double): Unit =
    set("log_switches_lag", Map("type" -> kind), g)
  def emitMemoryAllocatedMb(g: Double): Unit =
    set("memory_allocated_mb", Map.empty, g)
  def emitMemoryUsedTotalMb(g: Double): Unit =
    set("memory_used_total_mb", Map.empty, g)
  def emitMemoryUsedMb(module: String, g: Double): Unit =
    set("memory_used_mb", Map("type" -> module), g)
  def emitMessagesConfirmed(c: Long): Unit =
    inc("messages_confirmed", Map.empty, c)
  def emitMessagesSent(c: Long): Unit = inc("messages_sent", Map.empty, c)

  /** One-hot service state (the reference sets each state gauge
    * individually; every caller drives them as a one-hot vector). */
  def setServiceState(state: String): Unit = {
    val all = Seq("initializing", "starting", "ready", "replicating",
      "finishing", "aborting")
    require(all.contains(state), s"unknown service state $state")
    all.foreach(s =>
      set("service_state", Map("state" -> s), if (s == state) 1.0 else 0.0))
  }

  def emitSwapOperationsMb(kind: String, c: Long): Unit =
    inc("swap_operations_mb", Map("type" -> kind), c)
  def emitSwapUsageMb(g: Double): Unit = set("swap_usage_mb", Map.empty, g)
  def emitTransactions(outcome: String, filter: String, c: Long): Unit =
    inc("transactions", Map("type" -> outcome, "filter" -> filter), c)

  // ---- engine bridges ---------------------------------------------------
  /** Fold one micro-batch progress snapshot into the gauges: memory of
    * the open transactions (keyed state; 0 with none open) ≙
    * memory_used_mb{type="transactions"}, batch
    * duration ≙ checkpoint_lag (the engine's lag yardstick — both measure
    * "how far behind live is the pipeline"). */
  def observeBatch(b: Metrics.BatchMetrics): Unit = {
    emitMemoryUsedMb("transactions", b.openTxnBytes / 1048576.0)
    emitCheckpointLag(b.batchDurationMs / 1000.0)
    emitMemoryUsedTotalMb(
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory)
        / 1048576.0)
    emitMemoryAllocatedMb(Runtime.getRuntime.totalMemory / 1048576.0)
  }

  /** Render the Prometheus text exposition format (# HELP / # TYPE /
    * series lines; families and label keys in sorted order for
    * deterministic scrapes). */
  def render(): String = {
    val sb = new StringBuilder
    families.map(_._1).sorted.foreach { name =>
      val (kind, help, m) = reg(name)
      sb.append(s"# HELP $name $help\n")
      sb.append(s"# TYPE $name ${kind.text}\n")
      m.asScala.toSeq.sortBy(_._1.toString).foreach { case (labels, s) =>
        val lbl =
          if (labels.isEmpty) ""
          else labels.map { case (k, v) =>
            s"""$k="${v.replace("\\", "\\\\").replace("\"", "\\\"")}""""
          }.mkString("{", ",", "}")
        val v = s.value(kind)
        val txt = if (v == math.rint(v) && !v.isInfinite) v.toLong.toString
                  else v.toString
        sb.append(s"$name$lbl $txt\n")
      }
    }
    sb.toString
  }

  /** The registered series surface: (family, kind, sorted labels) — what
    * a scrape exposes (spec hook). */
  def surface: Set[(String, String, Seq[(String, String)])] =
    reg.toSeq.flatMap { case (name, (kind, _, m)) =>
      m.asScala.keys.map(ls => (name, kind.text, ls))
    }.toSet
}
