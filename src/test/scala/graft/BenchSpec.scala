package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The bench's per-query measurement, run on sf0.001 in the test session:
  * layer records that add up, failures that never produce a timing, an
  * artifact that keeps every key its readers use, and environment values
  * that are checked before any session starts. */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private val cheap = Seq("q02_agg_counters", "q06_dict_join")

  test("each query gets a layer record; a throwing query lands in failed only") {
    val meter = new Bench.Meter(spark)
    try {
      cheap.foreach(n => meter.time(n, 2)(SparkEntry.queries(n)(spark, sf)))
      meter.time("q_throws", 2)(throw new IllegalStateException("boom"))
      meter.drain()

      cheap.foreach { n =>
        val l = meter.layers(n)
        assert(l.jobs >= 1 && l.tasks >= 1 && l.stages >= 1, s"$n: $l")
        assert(l.task_s > 0, s"$n: $l")
        assert(l.build_s >= 0 && l.plan_s >= 0 && l.exec_s >= 0, s"$n: $l")
        assert(l.build_s + l.exec_s <= meter.walls(n).min + 1e-3, s"$n: $l")
      }
      assert(meter.timed == cheap)
      assert(meter.failed.keySet == Set("q_throws"))
      assert(meter.failed("q_throws").contains("boom"))

      val env = Bench.Env(Map("SPARK_GRAFT_SF_DIR" -> sf,
        "SPARK_GRAFT_CPUS" -> "4", "SPARK_GRAFT_BENCH_ITERS" -> "2"))
      val oracle = Map("q02_agg_counters" -> 0.01, "q06_dict_join" -> 0.02)
      val (artifact, line) =
        Bench.report(env, meter, oracle, (0.5, 0.6), Map.empty)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(artifact)
      // OracleRatioSpec reads queries / oracle_s / ratio; the rest are the
      // run conditions the artifact has always carried
      val keys = root.fieldNames().asScala.toSet
      assert(Set("metric", "value", "unit", "queries", "sf", "cpus", "file",
        "loadavg_before", "loadavg_after", "iters", "spread", "median",
        "loadavg_q", "oracle_s", "ratio", "ratio_violations", "rechecked",
        "layers", "failed").subsetOf(keys), keys)
      for (f <- Seq("queries", "oracle_s", "ratio", "spread", "median", "layers"))
        assert(root.get(f).fieldNames().asScala.toSet == cheap.toSet, f)
      assert(root.get("failed").get("q_throws").asText().contains("boom"))
      val layer = root.get("layers").get("q02_agg_counters")
      assert(Seq("build_s", "plan_s", "exec_s", "jobs", "stages", "tasks",
        "task_s", "shuffle_mb", "spill_mb").forall(layer.has))
      val total = cheap.map(n => meter.walls(n).min).sum
      assert(math.abs(root.get("value").asDouble() - total) < 1e-3)

      val out = om.readTree(line)
      assert(out.get("metric").asText() == "total")
      assert(out.get("queries").fieldNames().asScala.toSet == cheap.toSet)
      assert(out.get("ratio_violations").asInt() == 0)
      assert(out.get("failed_n").asInt() == 1)
      assert(!line.contains("\n"))
    } finally meter.close()
  }

  test("over the stdout budget the line drops the query map, keeps the count") {
    val meter = new Bench.Meter(spark)
    try {
      meter.time("q02_agg_counters", 1)(
        SparkEntry.queries("q02_agg_counters")(spark, sf))
      meter.drain()
      val env = Bench.Env(Map("SPARK_GRAFT_STDOUT_BUDGET" -> "50"))
      val out = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Bench.report(env, meter, Map.empty, (0.0, 0.0), Map.empty)._2)
      assert(!out.has("queries") && out.get("queries_n").asInt() == 1)
      assert(!out.has("ratio_violations") && !out.has("failed_n"))
    } finally meter.close()
  }

  test("bad bench environment fails at parse time, naming the variable") {
    for ((k, v) <- Seq("SPARK_GRAFT_CPUS" -> "4x",
        "SPARK_GRAFT_BENCH_ITERS" -> "0",
        "SPARK_GRAFT_STDOUT_BUDGET" -> "",
        "SPARK_GRAFT_BENCH_FILTER" -> "q(")) {
      val e = intercept[IllegalArgumentException](Bench.Env(Map(k -> v)))
      assert(e.getMessage.contains(k), e.getMessage)
    }
    val d = Bench.Env(Map.empty)
    assert(d.cpus == 32 && d.iters == 3 && d.stdoutBudget == 1800)
    assert(d.outFile.exists(_.getName == "BENCH_FULL.json"))
    // a filtered run never writes the artifact
    assert(Bench.Env(Map("SPARK_GRAFT_BENCH_FILTER" -> "q0",
      "SPARK_GRAFT_BENCH_OUT" -> "/tmp/x.json")).outFile.isEmpty)
  }
}
