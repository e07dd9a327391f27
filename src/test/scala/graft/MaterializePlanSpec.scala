package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.cdc._
import graft.functions.MaterializeImages
import graft.streaming.Pipeline

/** Plan-shape guard for the CDC tail (in the spirit of PlanBudgetSpec):
  * between the dictionary join and the envelope, `Pipeline.batch` runs
  * Materialize's image rewrite as ONE native kernel projection inside
  * whole-stage codegen — no higher-order-function (`map_filter`,
  * `transform_values`, ...) projections, at most one Project, and one
  * kernel call per row in the generated code. A change that re-chains
  * per-step `withColumn` HOFs fails here instead of slowing the drains. */
class MaterializePlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => p.children
  }

  /** Root → first node satisfying `hit`, through AQE stages. */
  private def pathTo(p: SparkPlan, hit: SparkPlan => Boolean)
      : Option[List[SparkPlan]] =
    if (hit(p)) Some(List(p))
    else kids(p).iterator.map(pathTo(_, hit)).collectFirst {
      case Some(path) => p :: path
    }

  private def hasKernel(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[MaterializeImages]))

  test("Pipeline.batch: the image rewrite is one codegen'd kernel " +
      "projection between the dictionary join and the envelope") {
    val dir = java.nio.file.Files.createTempDirectory("plan_pipe").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "feed_001.jsonl"))
    w.println("""{"scn":1,"xid":"1.0.1","op":"BEGIN"}""")
    w.println("""{"scn":2,"xid":"1.0.1","op":"INS","obj":100,""" +
      """"after":{"ID":"7","NAME":"E9","NOTE":"x"}}""")
    w.println("""{"scn":3,"xid":"1.0.1","op":"UPD","obj":100,""" +
      """"before":{"ID":"7","NAME":"E9","NOTE":"x"},""" +
      """"after":{"ID":"7","NAME":"F1","NOTE":"x"}}""")
    w.println("""{"scn":4,"xid":"1.0.1","op":"COMMIT"}""")
    w.close()
    val dict = Dictionary(Seq(DbTable(100L, 100L, "OWNER1", "T1",
      Seq(DbColumn("ID", 2, numPk = 1), DbColumn("NAME", 1, charsetId = 31),
        DbColumn("NOTE", 1)), tagType = "pk")))
    val df = Pipeline.batch(spark, Pipeline.Config(
      Pipeline.SourceConfig(dir.getAbsolutePath), dict))
    val out = df.collect()
    // the rewrite ran: NAME decoded from WE8ISO8859P1, unchanged NOTE
    // dropped from the CHANGED update, tag = the PK value
    val values = out.map(_.getAs[String]("value"))
    assert(out.length == 2 && out.forall(_.getAs[String]("key") == "7"))
    assert(values.exists(_.contains("\"after\":{\"ID\":\"7\",\"NAME\":\"ñ\"}")),
      values.mkString("\n"))

    val plan = df.queryExecution.executedPlan
    val path = pathTo(plan, _.isInstanceOf[BroadcastHashJoinExec])
      .getOrElse(fail(s"no dictionary join in\n$plan"))
    val above = path.init // every node between the join and the sink row
    assert(!above.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[HigherOrderFunction]))),
      s"higher-order function above the dictionary join:\n$plan")
    assert(above.count(_.isInstanceOf[ProjectExec]) <= 1,
      s"more than one Project above the dictionary join:\n$plan")
    val at = above.indexWhere(p => p.isInstanceOf[ProjectExec] && hasKernel(p))
    assert(at >= 0, s"no kernel projection above the join:\n$plan")
    val stage = above.take(at).collect { case w: WholeStageCodegenExec => w }
    assert(stage.nonEmpty,
      s"the kernel projection is outside whole-stage codegen:\n$plan")
    // subexpression elimination: before, after and tag share ONE call
    val code = org.apache.spark.sql.execution.debug.codegenStringSeq(
      stage.last).map(_._2).mkString("\n")
    assert("graft\\.functions\\.ImageNative\\.rewrite\\(".r
      .findAllMatchIn(code).size == 1, code)
  }
}
