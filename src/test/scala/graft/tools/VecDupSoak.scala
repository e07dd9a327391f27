package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.VecDupIngest

/** Growth-cost + accuracy soak for the streaming embedding near-dup
  * ingest ([[VecDupIngest]]) — the vector counterpart of NearDupSoak's
  * macro rows. Synthetic corpus (seeded, d=64): 20% of vectors are
  * near-dups of an earlier vector (copy + gaussian noise scaled so
  * cosine ≈ 0.97, above the 0.9 tau), the rest are fresh gaussians
  * (pairwise cosine concentrates near 0 at d=64 — far below tau).
  * Ground truth is the generator's copy set, so the soak reports
  * recall/precision alongside the per-batch wall — recall shows the
  * single-probe IVF concession (a noised copy can argmax into a
  * different frozen cell), wall shows the honest O(index) growth.
  *
  * Centroid-quality columns (r13): `refineIters` Lloyd-refines the
  * first-batch seed before it freezes and `k` sizes the centroid set
  * (0 = the autoK √N rule over the seeding batch) — the soak matrix
  * over (nProbe × refineIters) separates the multi-probe lever from the
  * centroid-quality lever on the SAME corpus.
  *
  * `adcServe` (r16) switches the history match to the stored-PQ-codes
  * two-stage path (ADC shortlist → exact verify) — the soak's recall
  * delta vs the float path is the shortlist concession, its wall delta
  * the serving cost, on the same corpus and ground truth.
  *
  * Run: sbt "Test/runMain graft.tools.VecDupSoak [nVecs] [nBatches] [dim] [nProbe] [refineIters] [k] [minSeed] [adcServe]"
  */
object VecDupSoak {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toInt).getOrElse(50000)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val dim = args.lift(2).map(_.toInt).getOrElse(64)
    val nProbe = args.lift(3).map(_.toInt).getOrElse(1)
    val refineIters = args.lift(4).map(_.toInt).getOrElse(0)
    val k = args.lift(5).map(_.toInt).getOrElse(8)
    val minSeed = args.lift(6).map(_.toLong).getOrElse(0L)
    val adcServe = args.lift(7).exists(_.toBoolean)
    // own session, not Bench.session: spark.sql.warehouse.dir (a fresh temp
    // dir per run) is a static conf, fixed when the session is created
    implicit val spark: SparkSession = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("vdsoak_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    val rnd = new scala.util.Random(42)
    def norm(v: Seq[Float]): Float =
      math.sqrt(v.map(x => x * x).sum).toFloat
    val vecs = new Array[(Long, Seq[Float])](nVecs)
    val dups = Set.newBuilder[Long]
    (0 until nVecs).foreach { i =>
      vecs(i) =
        if (i > 0 && rnd.nextDouble() < 0.2) {
          // near-dup: copy + small noise; cosine ~ 1/sqrt(1+s^2) with
          // s = 0.25 -> ~0.97, above tau 0.9
          dups += i.toLong
          val src = vecs(rnd.nextInt(i))._2
          (i.toLong, src.map(x => x + 0.25f * rnd.nextGaussian().toFloat /
            math.sqrt(dim).toFloat * norm(src)))
        } else
          (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat))
    }
    val trueDups = dups.result()
    val perBatch = vecs.grouped((nVecs + nBatches - 1) / nBatches).toArray

    val out = java.nio.file.Files.createTempDirectory("vdsoak_out").toString
    val times = perBatch.zipWithIndex.map { case (b, i) =>
      val t0 = System.nanoTime()
      VecDupIngest.processBatch(spark,
        b.toSeq.toDF("vec_id", "embedding"), i.toLong, "vdsoak_idx", out,
        nProbe = nProbe, minSeed = minSeed, k = k, refineIters = refineIters,
        adcServe = adcServe)
      (System.nanoTime() - t0) / 1e9
    }
    val kept = spark.read.parquet(s"$out/batch=*")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val flagged = vecs.map(_._1).toSet -- kept
    val tp = (flagged & trueDups).size
    val recall = tp.toDouble / trueDups.size
    val precision = if (flagged.isEmpty) 1.0 else tp.toDouble / flagged.size
    println(f"""{"soak":"vecdup","vecs":$nVecs,"batches":$nBatches,""" +
      f""""dim":$dim,"n_probe":$nProbe,"refine_iters":$refineIters,""" +
      f""""k":$k,"min_seed":$minSeed,"adc_serve":$adcServe,""" +
      f""""true_dups":${trueDups.size},"flagged":${flagged.size},""" +
      f""""recall":$recall%.3f,"precision":$precision%.3f,""" +
      f""""total_s":${times.sum}%.1f,"vecs_per_s":${nVecs / times.sum}%.0f,""" +
      s""""batch_s":[${times.map(t => f"$t%.2f").mkString(",")}]}""")
    spark.stop()
  }
}
