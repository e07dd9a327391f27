package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.TextExpressions

/** Split the weighted-LSH front end's cost (r16): tokenTf kernel vs the
  * interpreted multiset expansion vs expansion+minhash — interleaved over
  * a cached text column so the scan is out of the picture. */
object WSigProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.Bench.session()
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(32, col("doc_id")).cache()
    println(s"docs: ${docs.count()}")
    def time(label: String, c: org.apache.spark.sql.Column): Unit = {
      val t0 = System.nanoTime()
      // min over the computed value so column pruning can't skip the
      // kernel (the guide §1.4 count() trap)
      docs.select(c.as("v")).agg(min(col("v"))).head()
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    (1 to reps).foreach { i =>
      time(s"$i tokenTf        ",
        size(TextExpressions.tokenTf(col("text"))))
      time(s"$i expansion      ",
        size(graft.operators.LshIndex.expandedInstances(
          TextExpressions.tokenTf(col("text")))))
      time(s"$i expansion+mh8  ", element_at(
        TextExpressions.minhashSig(
          graft.operators.LshIndex.expandedInstances(
            TextExpressions.tokenTf(col("text"))), 8), 1))
    }
    spark.stop()
  }
}
