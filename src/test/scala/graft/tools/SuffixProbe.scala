package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc probe: round trajectory of tokenSuffixRanks at a given SF. */
object SuffixProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val toks = graft.queries.TextOps.tokensOf(col("text"))
    // warm once, then time each seed width twice
    graft.operators.SuffixArray.tokenSuffixRanks(docs, toks).count()
    for (it <- 1 to 3; w <- Seq(16, 32, 64)) {
      val t0 = System.nanoTime()
      val n = graft.operators.SuffixArray
        .tokenSuffixRanks(docs, toks, seedWidth = w).count()
      println(s"seed=$w it=$it rows=$n t=${(System.nanoTime()-t0)/1e9}")
    }
    spark.stop()
  }
}
