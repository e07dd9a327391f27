package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One run's settings, from the command line and `params.json`. */
final case class Ctx(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, params: JsonNode, k: Int, corrupt: String,
    launchedMs: Long)

/** Everything a run measured and checked; written once, at the end. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val details = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  var error: String = null

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = Map("value" -> value, "unit" -> unit)
  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  def detail(name: String, value: Any): Unit = details(name) = value

  def json: String = new ObjectMapper().registerModule(DefaultScalaModule)
    .writerWithDefaultPrettyPrinter().writeValueAsString(Map(
      "attempted" -> attempted, "failed" -> failed, "error" -> error,
      "checks" -> checks, "metrics" -> metrics, "details" -> details))
}

/** Monotonic clock anchored to the wall clock once, so wall-clock stamps
  * from Spark's progress reports can be placed on the monotonic axis. */
object Clock {
  private val wall0 = System.currentTimeMillis()
  private val mono0 = System.nanoTime()
  def monoOfWallMs(ms: Long): Long = mono0 + (ms - wall0) * 1000000L
}

/** A Spark session with the benchmark's listeners registered. */
final class Sess(val spark: SparkSession, val sparkProbe: SparkProbe,
    val stream: StreamProbe) {
  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
  def close(): Unit = spark.stop()
}

object Sess {
  def create(ctx: Ctx): Sess = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[${ctx.k}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.k.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString)
      .config("spark.local.dir", ctx.work.resolve("spark-local").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.tune(spark)
    val sp = new SparkProbe
    spark.sparkContext.addSparkListener(sp)
    val st = new StreamProbe
    spark.streams.addListener(st)
    new Sess(spark, sp, st)
  }
}

object Setup {
  /** One cold set-up, timed from the launch of this process (stamped by
    * run.py just before it starts the JVM) to the first timed operation,
    * which follows `make` at once. Input generation inside the JVM
    * (`generatedS`) is not set-up and is taken out. */
  def cold[E](ctx: Ctx, res: Result, generatedS: Double)(make: => E): E = {
    val t0 = System.nanoTime()
    val env = make
    val done = System.currentTimeMillis()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    res.detail("setup_jvm_boot_s", (jvmStart - ctx.launchedMs) / 1e3)
    res.detail("setup_make_s", (System.nanoTime() - t0) / 1e9)
    res.detail("setup_generation_s", generatedS)
    res.metric("setup_s", (done - ctx.launchedMs) / 1e3 - generatedS, "s")
    env
  }
}

/** Per-layer metric names by the half of the product that exercises them.
  * Every traced run reports all of them; a layer a workload never calls
  * reads 0 there. */
object Layers {
  val cdc: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count", "streaming.empty_batch_frac" -> "ratio",
    "streaming.trigger_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.wal_ms" -> "ms", "streaming.queue_wait_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count",
    "sources.offset_ms" -> "ms", "sources.rows" -> "count",
    "cdc.TxnAssembly.self_s" -> "s", "cdc.TxnAssembly.state_rows_peak" -> "count",
    "cdc.TxnAssembly.state_update_ms" -> "ms",
    "cdc.TxnAssembly.state_commit_ms" -> "ms",
    "cdc.TxnAssembly.rocksdb_commit_ms" -> "ms",
    "cdc.TxnAssembly.rocksdb_bytes_written" -> "bytes",
    "cdc.TxnAssembly.useful_frac" -> "ratio",
    "cdc.Materialize.self_s" -> "s", "cdc.Envelope.self_s" -> "s",
    "cdc.Envelope.bytes_per_msg" -> "bytes",
    "sinks.collect_s" -> "s", "sinks.KafkaDirectWriter.self_s" -> "s",
    "sinks.KafkaDirectWriter.requests" -> "count",
    "sinks.KafkaDirectWriter.bytes" -> "bytes",
    "sinks.KafkaDirectWriter.errors" -> "count",
    "sinks.ConfirmTracker.inflight_max" -> "count",
    "gen.late_ms_max" -> "ms", "e2e.commit_ack_p99_ms" -> "ms",
    "e2e.late_frac" -> "ratio", "e2e.samples" -> "count")
  val curation: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "queries.SelectionOps.self_s" -> "s", "queries.TrainOps.self_s" -> "s",
    "operators.LshIndex.self_s" -> "s", "operators.LshIndex.candidates" -> "count",
    "operators.LshIndex.useful_frac" -> "ratio",
    "operators.ConnectedComponents.self_s" -> "s",
    "operators.ConnectedComponents.jobs" -> "count",
    "core.Tables.load_s" -> "s")
  /** Span-name prefixes each workload may record. */
  val spanPrefixes: Map[String, Seq[String]] = Map(
    "cdc" -> Seq("streaming.", "cdc.", "sinks."),
    "curation" -> Seq("queries.", "operators.", "core."))

  /** Zero-fill the layers `workload` never calls, check that its spans stay
    * inside its own layers, and write the span log. */
  def finish(workload: String, res: Result, tracers: Seq[Tracer]): Unit = {
    val absent = if (workload == "curation") cdc else curation
    absent.foreach { case (n, u) => res.metric(n, 0.0, u) }
    val spans = tracers.flatMap(_.all)
    val names = spans.map(_.name).toSet
    val allowed = spanPrefixes(workload)
    val stray = names.filterNot(s => allowed.exists(s.startsWith))
    res.check("spans_within_workload_layers", stray.isEmpty,
      s"spans=${names.toSeq.sorted.mkString(",")}")
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    res.detail("span_log", spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> (s.startNs - t0) / 1e6,
      "end_ms" -> (s.endNs - t0) / 1e6, "workload" -> s.workload,
      "iteration" -> s.iteration)))
  }
}

/** Spark runtime figures over measured phases, averaged per phase. */
object SparkMetrics {
  def report(res: Result, phases: Seq[Map[String, SparkCounters]],
      walls: Seq[Double], k: Int): Unit = {
    val n = phases.size.toDouble
    val t = SparkProbe.total(phases.map(SparkProbe.total).zipWithIndex
      .map { case (c, i) => s"$i" -> c }.toMap)
    res.metric("spark.jobs", t.jobs / n, "count")
    res.metric("spark.stages", t.stages / n, "count")
    res.metric("spark.tasks", t.tasks / n, "count")
    res.metric("spark.task_s", t.taskMs / 1e3 / n, "s")
    res.metric("spark.cpu_s", t.cpuNs / 1e9 / n, "s")
    res.metric("spark.gc_s", t.gcMs / 1e3 / n, "s")
    res.metric("spark.shuffle_mb", t.shuffleBytes / 1048576.0 / n, "MB")
    res.metric("spark.spill_mb", t.spillBytes / 1048576.0 / n, "MB")
    res.metric("spark.core_use", t.taskMs / 1e3 / (walls.sum * k), "ratio")
    val bySpan = phases.flatMap(_.toSeq).groupBy(_._1).map { case (span, cs) =>
      val c = new SparkCounters
      cs.foreach(x => c += x._2)
      span -> Map("jobs" -> c.jobs / n, "stages" -> c.stages / n,
        "tasks" -> c.tasks / n, "task_s" -> c.taskMs / 1e3 / n,
        "shuffle_mb" -> c.shuffleBytes / 1048576.0 / n)
    }
    res.detail("spark_by_span", bySpan)
  }
}

/** Benchmark driver process: runs one workload and writes its result file.
  *
  * Usage: Main --workload <cdc|curation> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --params <params.json>
  *   --out <result.json> --k <cores> --launched-ms <epoch ms>
  *   [--corrupt <drop-record|alter-hash>]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", work,
      new ObjectMapper().readTree(Files.readString(Paths.get(a("params")))),
      a("k").toInt, a.getOrElse("corrupt", ""), a("launched-ms").toLong)
    val res = new Result
    try ctx.workload match {
      case "cdc" => CdcBench.run(ctx, res)
      case "curation" => CurationBench.run(ctx, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case t: Throwable =>
        val sw = new java.io.StringWriter
        t.printStackTrace(new java.io.PrintWriter(sw))
        res.error = sw.toString
    }
    Files.writeString(Paths.get(a("out")), res.json)
    // Spark's non-daemon threads must not keep the process alive
    System.exit(if (res.error == null) 0 else 2)
  }
}
