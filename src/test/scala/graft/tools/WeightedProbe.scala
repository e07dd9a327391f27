package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc probe: weighted-LSH build vs match cost split at a given SF. */
object WeightedProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val isNew = col("doc_id") % 10 === 7
    for (it <- 1 to 3) {
      val t0 = System.nanoTime()
      graft.operators.LshIndex.writeWeighted(
        spark, docs.filter(!isNew), "probe_widx")
      val t1 = System.nanoTime()
      val n = graft.operators.LshIndex.matchIncrementWeighted(
        spark, docs.filter(isNew), "probe_widx").count()
      val t2 = System.nanoTime()
      println(s"it=$it build=${(t1 - t0) / 1e9} match=${(t2 - t1) / 1e9} " +
        s"rows=$n")
    }
    spark.stop()
  }
}
