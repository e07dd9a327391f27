package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.core.{SessionMemo, Tables}
import graft.operators.IvfIndex

/** The derived-state memo, run on sf0.001 in the test session: a memoized
  * value starts no job on a second read, a warehouse-scope row is shared
  * by session clones and is never served once its table is gone, a
  * rewrite replaces it, and [[SessionMemo.clear]] forces every rebuild. */
class SessionMemoSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def vecs = Tables.load(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** `f`'s result and the number of jobs it started on the SparkContext. */
  private def jobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      Bridge.drainListeners(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  private def query(name: String) = SparkEntry.queries(name)(spark, sf)

  test("a dimension row is read once per warehouse, session clones included") {
    IvfIndex.write(spark, vecs, "memo_ivf", k = 4)
    SessionMemo.clear()
    val (first, readJobs) = jobs(IvfIndex.centIds(spark, "memo_ivf"))
    assert(readJobs >= 1)
    val (again, againJobs) = jobs(IvfIndex.centsFrame(spark, "memo_ivf"))
    assert(againJobs == 0)
    val clone = spark.newSession()
    val (cloned, cloneJobs) = jobs(IvfIndex.centIds(clone, "memo_ivf"))
    assert(cloneJobs == 0)
    assert(cloned == first && first.size == 4)
    assert(again.collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(_.getLong(0)) == first)
  }

  test("a dropped dimension table fails the read instead of serving its row") {
    IvfIndex.write(spark, vecs, "memo_drop", k = 4)
    assert(IvfIndex.centIds(spark, "memo_drop").size == 4)
    Tables.dropTableFast(spark, "memo_drop_cents")
    intercept[AnalysisException](IvfIndex.centsFrame(spark, "memo_drop"))
    intercept[AnalysisException](IvfIndex.centIds(spark.newSession(), "memo_drop"))
  }

  test("a rewrite with another k serves the new centroids") {
    IvfIndex.write(spark, vecs, "memo_k", k = 4)
    assert(IvfIndex.centIds(spark, "memo_k").size == 4)
    IvfIndex.write(spark, vecs, "memo_k", k = 6)
    val (ids, readJobs) = jobs(IvfIndex.centIds(spark, "memo_k"))
    assert(readJobs == 0 && ids == (0L until 6L))
    SessionMemo.clear()
    assert(IvfIndex.centIds(spark.newSession(), "memo_k") == ids)
  }

  test("q126 after q123 does not re-learn BPE; q219 rebuilds the suffix frame") {
    SessionMemo.clear()
    val (_, learnJobs) = jobs(query("q123_bpe_learn"))
    assert(learnJobs >= 6) // three merge rounds, two collects each
    val (_, encodeJobs) = jobs(query("q126_bpe_encode"))
    assert(encodeJobs == 0)

    val (ranks, buildJobs) = jobs(query("q203_suffix_rank"))
    assert(buildJobs >= 1)
    val (_, readJobs) = jobs(query("q203_suffix_rank"))
    assert(readJobs == 0)
    val (rebuilt, rebuildJobs) = jobs(query("q219_suffix_build"))
    assert(rebuildJobs >= 1)
    assert(rebuilt.exceptAll(ranks).isEmpty && ranks.exceptAll(rebuilt).isEmpty)
    // q219's build is the entry q203 now reads
    assert(jobs(query("q203_suffix_rank"))._2 == 0)
  }

  test("after clear() the next read rebuilds, and a plan stays per session") {
    val docs = Tables.load(spark, sf, "documents")
    assert(Tables.load(spark, sf, "documents") eq docs)
    assert(Tables.load(spark.newSession(), sf, "documents") ne docs)
    query("q203_suffix_rank")
    SessionMemo.clear()
    assert(Tables.load(spark, sf, "documents") ne docs)
    val (_, rebuildJobs) = jobs(query("q203_suffix_rank"))
    assert(rebuildJobs >= 1)
  }

  test("a build may read the memo itself; the first writer wins") {
    SessionMemo.clear()
    val builds = new AtomicInteger
    def outer(): String = SessionMemo.session(spark, "memo outer") {
      builds.incrementAndGet()
      SessionMemo.session(spark, "memo inner")("inner") + "+outer"
    }
    assert(outer() == "inner+outer")
    assert(outer() eq outer())
    assert(builds.get == 1)
    SessionMemo.forget(spark, "memo outer")
    outer()
    assert(builds.get == 2)

    // two racing builds: each caller gets the value that was put first
    val bothBuilding = new java.util.concurrent.CountDownLatch(2)
    def raced(): AnyRef = SessionMemo.session(spark, "memo raced") {
      bothBuilding.countDown()
      bothBuilding.await(30, java.util.concurrent.TimeUnit.SECONDS)
      new Object
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val (a, b) = Await.result(Future(raced()).zip(Future(raced())), 60.seconds)
    assert(a eq b)
    assert(raced() eq a)
  }
}
