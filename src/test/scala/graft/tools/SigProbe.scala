package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.Kernels

/** Scratch profiler for the signature kernels (test scope, not shipped):
  * times minhashSig (nSig digests per shingle) vs ophSig (one digest per
  * shingle) over CACHED shingle arrays, so the scan/shingling cost that
  * dominates end-to-end bench numbers is out of the picture and the
  * digest-count difference is the only variable. Interleaved in one JVM
  * so host noise hits both equally. */
object SigProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = graft.Bench.session()
    val sh = graft.core.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), Kernels.Shingles3(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .cache()
    println(s"docs with shingles: ${sh.count()}")
    // agg over a signature slot so column pruning can't skip the kernel
    def time(label: String, sig: org.apache.spark.sql.Column): Unit = {
      val t0 = System.nanoTime()
      val v = sh.select(sig.as("s"))
        .agg(min(element_at(col("s"), 1))).collect().head.getString(0)
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.3f s (min=$v%.8s)")
    }
    (1 to reps).foreach { i =>
      time(s"minhash $i", Kernels.minhashSig(col("sh"), 8))
      time(s"oph     $i", Kernels.OphSig(col("sh"), 8))
    }
    spark.stop()
  }
}
