package graft
import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit tool: print the formatted physical plan of each query whose
  * name matches the regex — the ".explain and iterate" loop the scale
  * discipline demands, runnable as `runMain graft.Explain <sfDir> <regex>`.
  * Each header carries the plan's static shuffle-Exchange count, the figure
  * PlanBudgetSpec pins; `GRAFT_CONF=graft.spreadLocal=false` gives the
  * cluster-shaped plan that spec budgets. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val pattern = args.lift(1).getOrElse(".*").r
    val spark = Bench.session(4)
    // plan-audit knob injection, e.g. GRAFT_CONF=graft.spreadLocal=false
    // to audit the cluster-shaped plan (no local spread exchanges)
    sys.env.get("GRAFT_CONF").foreach(_.split(',').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k, v)
        case _           =>
      }
    })
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => pattern.findFirstIn(kv._1).isDefined)
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          val shuffles = "[+:]- Exchange \\(".r.findAllIn(plan).length
          println(s"\n========== $name ($shuffles shuffle exchanges) ==========")
          println(plan)
        } catch { case e: Throwable =>
          println(s"\n========== $name ==========")
          println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
