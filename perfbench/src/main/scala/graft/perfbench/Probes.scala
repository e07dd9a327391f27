package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One traced interval: a call into a public function of the program,
  * recorded by the benchmark around that call. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long,
    endNs: Long, workload: String, iteration: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest per thread; the innermost open span
  * is also published as a Spark local property, so jobs submitted inside it
  * are attributed to it by [[SparkProbe]]. Disabled, it records nothing and
  * sets nothing. */
final class Tracer(val enabled: Boolean, workload: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  @volatile var iteration: Long = -1L
  @volatile var spark: SparkSession = _

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      stack.set((id, name) :: outer)
      val sc = Option(spark).map(_.sparkContext)
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, name))
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, name, parent, t0, t1, workload, iteration))
        stack.set(outer)
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty,
          outer.headOption.map(_._2).orNull))
      }
    }

  def all: Seq[Span] = spans.iterator().asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
            if (b <= reach) (acc, reach)
            else (acc + b - math.max(a, reach), b)
          }._1
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  /** Total duration per span name, in seconds. */
  def totalSeconds: Map[String, Double] =
    all.groupBy(_.name).map { case (n, g) => n -> g.map(_.durNs).sum / 1e9 }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  /** Records nothing: the untraced runs. */
  val off = new Tracer(false, "")
}

/** Spark runtime counters, keyed by the span that submitted the job ("-" for
  * work submitted outside any span). */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def +=(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes
  }
  def -(o: SparkCounters): SparkCounters = {
    val r = new SparkCounters
    r.jobs = jobs - o.jobs; r.stages = stages - o.stages
    r.tasks = tasks - o.tasks; r.taskMs = taskMs - o.taskMs
    r.cpuNs = cpuNs - o.cpuNs; r.gcMs = gcMs - o.gcMs
    r.shuffleBytes = shuffleBytes - o.shuffleBytes
    r.spillBytes = spillBytes - o.spillBytes
    r
  }
  def copy: SparkCounters = { val r = new SparkCounters; r += this; r }
}

final class SparkProbe extends SparkListener {
  private val bySpan = new ConcurrentHashMap[String, SparkCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()

  private def of(span: String): SparkCounters =
    bySpan.computeIfAbsent(span, _ => new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).getOrElse("-")
    e.stageIds.foreach(id => stageSpan.put(id, span))
    val c = of(span)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageInfo.stageId, "-"))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = of(stageSpan.getOrDefault(e.stageId, "-"))
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counters per span, after every queued listener event is delivered. */
  def snapshot(spark: SparkSession): Map[String, SparkCounters] = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    bySpan.asScala.map { case (k, v) => k -> v.synchronized(v.copy) }.toMap
  }
}

object SparkProbe {
  def total(m: Map[String, SparkCounters]): SparkCounters = {
    val t = new SparkCounters
    m.values.foreach(t += _)
    t
  }
  /** Counters accrued between two snapshots, per span. */
  def delta(after: Map[String, SparkCounters],
      before: Map[String, SparkCounters]): Map[String, SparkCounters] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, new SparkCounters)) }
}

/** Every micro-batch progress report of the session's streaming queries. */
final class StreamProbe extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    q.add(e.progress)
  def progress(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    q.iterator().asScala.filter(_.id == queryId).toSeq.sortBy(_.batchId)
}
