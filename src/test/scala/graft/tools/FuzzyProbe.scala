package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Scratch profiler for q158 variants (test scope, not shipped): runs
  * checkpointed and plain formulations interleaved in ONE JVM so host
  * noise hits both equally. */
object FuzzyProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Bench.session()

    def tg(name: Column): Column = array_distinct(
      transform(sequence(lit(1), length(name) - 2),
        i => name.substr(i, lit(3))))

    def build(checkpoint: Boolean, spread: Boolean): DataFrame = {
      def pin(df: DataFrame): DataFrame =
        if (checkpoint) df.localCheckpoint() else df
      def sp(df: DataFrame, c: Column): DataFrame =
        if (spread) Tables.spread(df, c) else df
      val canon = pin(sp(Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), tg(col("c_name")).as("c_tg")),
        col("c_custkey")))
      val qs = pin(sp(Tables.load(spark, dir, "customer")
        .select(col("c_custkey").as("q_key"),
          tg(expr("concat(substring(c_name, 1, 5), substring(c_name, 7))"))
            .as("q_tg")),
        col("q_key")))
      val ctg = canon.select(col("c_custkey"), explode(col("c_tg")).as("tg"))
      val qtg = qs.select(col("q_key"), explode(col("q_tg")).as("tg"))
      val keep = ctg.groupBy("tg").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 64).select("tg")
      val pairs = qtg.join(keep, "tg").join(ctg, "tg")
        .select("q_key", "c_custkey").distinct()
      val v = pairs.join(qs, "q_key").join(canon, "c_custkey")
        .withColumn("inter", size(array_intersect(col("q_tg"), col("c_tg"))))
        .withColumn("nq", size(col("q_tg")))
        .withColumn("nc", size(col("c_tg")))
        .withColumn("j_ppm", expr("inter * 1000000 div (nq + nc - inter)"))
        .filter(col("j_ppm") >= 400000)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("q_key")
        .orderBy(col("j_ppm").desc, col("c_custkey"))
      v.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("q_key", "c_custkey", "j_ppm")
    }


    // r16 variant: trigrams packed into 24-bit ints (injective for the
    // ASCII c_name corpus) — the blocking join keys, df counts, and the
    // per-pair intersect all run on ints instead of 3-char strings.
    def buildInt(): DataFrame = {
      def tgi(name: Column): Column = array_distinct(
        transform(sequence(lit(1), length(name) - 2),
          i => ascii(name.substr(i, lit(1))) * 65536 +
            ascii(name.substr(i + 1, lit(1))) * 256 +
            ascii(name.substr(i + 2, lit(1)))))
      val canon = Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), tgi(col("c_name")).as("c_tg"))
        .localCheckpoint()
      val qs = Tables.load(spark, dir, "customer")
        .select(col("c_custkey").as("q_key"),
          tgi(expr("concat(substring(c_name, 1, 5), substring(c_name, 7))"))
            .as("q_tg"))
        .localCheckpoint()
      val ctg = canon.select(col("c_custkey"), explode(col("c_tg")).as("tg"))
      val qtg = qs.select(col("q_key"), explode(col("q_tg")).as("tg"))
      val keep = ctg.groupBy("tg").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 64).select("tg")
      val pairs = qtg.join(keep, "tg").join(ctg, "tg")
        .select("q_key", "c_custkey").distinct()
      val v = pairs.join(qs, "q_key").join(canon, "c_custkey")
        .withColumn("inter", size(array_intersect(col("q_tg"), col("c_tg"))))
        .withColumn("nq", size(col("q_tg")))
        .withColumn("nc", size(col("c_tg")))
        .withColumn("j_ppm", expr("inter * 1000000 div (nq + nc - inter)"))
        .filter(col("j_ppm") >= 400000)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("q_key")
        .orderBy(col("j_ppm").desc, col("c_custkey"))
      v.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("q_key", "c_custkey", "j_ppm")
    }

    val variants = Seq(
      "plain      " -> (() => build(checkpoint = false, spread = false)),
      "spread     " -> (() => build(checkpoint = false, spread = true)),
      "ckpt       " -> (() => build(checkpoint = true, spread = false)),
      "spread+ckpt" -> (() => build(checkpoint = true, spread = true)),
      "int-tg+ckpt" -> (() => buildInt()))

    (1 to 3).foreach { round =>
      variants.foreach { case (label, f) =>
        val t0 = System.nanoTime()
        val n = f().count()
        println(f"[probe] r$round $label ${(System.nanoTime() - t0) / 1e9}%.3f s ($n)")
      }
    }
    spark.stop()
  }
}
