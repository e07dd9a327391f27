package graft.tools

import org.apache.spark.sql.functions._

/** One-off stage profiler for q143 (IVF increment): separates the index
  * BUILD fixed cost (catalog DDL + cents + bucketed cells write) from the
  * increment MATCH cost, so the ratio conversation is about the right
  * stage. Run: sbt "Test/runMain graft.tools.IvfProbe [sfDir]" */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val e = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    e.count() // warm scan
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    (1 to 3).foreach { round =>
      println(s"--- round $round")
      time("write")(graft.operators.IvfIndex.write(
        spark, e.filter(col("vec_id") % 10 =!= 9), "ivfp_idx"))
      val m = time("match_construct")(graft.operators.IvfIndex.matchIncrement(
        spark, e.filter(col("vec_id") % 10 === 9), "ivfp_idx"))
      val n = time("match_run")(m.count())
      println(s"PROBE rows $n")
    }
    spark.stop()
  }
}
