package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, LshIndex}
import graft.queries.TextOps
import graft.streaming.NearDupIngest

/** Streaming near-dup ingest: one-batch == the batch q80 rule, cross-batch
  * follows the greedy first-seen contract, batch replay is idempotent, and
  * the end-to-end foreachBatch wiring drops a later near-dup across
  * micro-batches. All on the REAL sf0.001 corpus (it contains verified
  * near-dup pairs — LshIndexSpec relies on the same fact). */
class NearDupIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("ndi_wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.sources.bucketing.enabled", "true")
    s
  }

  private def docs = graft.core.Tables
    .load(spark, "/root/testdata/sf0.001", "documents")
    .select(col("doc_id"), col("text"))

  private def freshIndex(name: String): Unit =
    Seq(s"${name}_bands", s"${name}_shingles").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf
        .get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      if (loc.exists()) rm(loc)
    }

  /** The batch q80 keep rule over any doc set. */
  private def batchKept(d: org.apache.spark.sql.DataFrame): Set[Long] = {
    implicit val s: SparkSession = spark
    val pairs = LshIndex.pairs(d, LshIndex.SetMinHash)
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
    val drops = ConnectedComponents.runPropagation(pairs)
      .filter(col("node") =!= col("component"))
      .collect().map(_.getLong(0)).toSet
    d.select("doc_id").collect().map(_.getLong(0)).toSet -- drops
  }

  test("one-batch stream == the batch dedup-apply (q80) rule") {
    freshIndex("ndi1")
    NearDupIngest.ensureIndex(spark, "ndi1", buckets = 4)
    val out = Files.createTempDirectory("ndi1_out").toString
    NearDupIngest.processBatch(spark, docs, 0L, "ndi1", out)
    val kept = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = batchKept(docs)
    assert(kept == expect)
    assert(kept.size < docs.count(), "corpus must contain near-dups")
  }

  test("cross-batch: later near-dups of ANY earlier doc drop; rest follow q80") {
    freshIndex("ndi2")
    NearDupIngest.ensureIndex(spark, "ndi2", buckets = 4)
    val out = Files.createTempDirectory("ndi2_out").toString
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    NearDupIngest.processBatch(spark, b0, 0L, "ndi2", out)
    NearDupIngest.processBatch(spark, b1, 1L, "ndi2", out)
    val kept0 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept1 = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept0 == batchKept(b0))
    // reference for batch 1: drop docs with a verified pair into batch 0
    // (kept or dropped — the greedy transitive rule), then the q80 rule
    // on the survivors
    val all = LshIndex.pairs(docs, LshIndex.SetMinHash).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val histDrop = all.collect {
      case (a, b) if a % 2 == 1 && b % 2 == 0 => a
      case (a, b) if b % 2 == 1 && a % 2 == 0 => b
    }
    val histDropDf = {
      import spark.implicits._
      histDrop.toSeq.toDF("doc_id")
    }
    val survivors = b1.join(histDropDf, Seq("doc_id"), "left_anti")
    assert(kept1 == batchKept(survivors))
    // non-trivial: the split actually produces a cross-batch drop
    assert(histDrop.nonEmpty, "split must produce a cross-batch near-dup")
  }

  test("batch replay is idempotent: same batchId neither re-writes nor re-indexes") {
    freshIndex("ndi3")
    NearDupIngest.ensureIndex(spark, "ndi3", buckets = 4)
    val out = Files.createTempDirectory("ndi3_out").toString
    NearDupIngest.processBatch(spark, docs, 0L, "ndi3", out)
    val bandRows = spark.table("ndi3_bands").count()
    val keptRows = spark.read.parquet(s"$out/batch=0").count()
    NearDupIngest.processBatch(spark, docs, 0L, "ndi3", out) // replay
    assert(spark.table("ndi3_bands").count() == bandRows)
    assert(spark.read.parquet(s"$out/batch=0").count() == keptRows)
  }

  test("crash between index append and marker: replay keeps the q80 keepers") {
    // Simulate the worst replay window: the batch's rows are ALREADY in
    // the index (append succeeded) but the marker never landed (crash
    // before mkdirs). The replayed history match then sees the batch's own
    // docs; without the old_id∉batch guard, BOTH members of every in-batch
    // near-dup pair would flag as history dups and the keeper would be
    // lost from the overwritten output.
    freshIndex("ndi5")
    NearDupIngest.ensureIndex(spark, "ndi5", buckets = 4)
    val out = Files.createTempDirectory("ndi5_out").toString
    NearDupIngest.processBatch(spark, docs, 0L, "ndi5", out)
    val expect = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expect == batchKept(docs))
    // crash: marker vanished, index retains the batch's rows
    new java.io.File(out, "_committed/0").delete()
    NearDupIngest.processBatch(spark, docs, 0L, "ndi5", out) // replay
    val replayed = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replayed == expect,
      "replay with the batch self-indexed must reproduce the kept set")
    // and the duplicated index rows must not distort later matching: a
    // fresh increment still matches (distinct cap count, distinct pairs)
    val probe = docs.limit(1)
    val m = LshIndex.matchIncrement(spark, probe.withColumn(
      "doc_id", col("doc_id") + 100000L), "ndi5", LshIndex.SetMinHash)
    assert(m.filter(col("jaccard") === 1.0).count() >= 1,
      "exact re-crawl must still match after a double append")
  }

  /** The batch q186 (weighted dedup apply) keep rule over any doc set. */
  private def batchKeptWeighted(d: org.apache.spark.sql.DataFrame): Set[Long] = {
    implicit val s: SparkSession = spark
    val pairs = LshIndex.pairs(d, LshIndex.WeightedMinHash)
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
    val drops = ConnectedComponents.runPropagation(pairs)
      .filter(col("node") =!= col("component"))
      .collect().map(_.getLong(0)).toSet
    d.select("doc_id").collect().map(_.getLong(0)).toSet -- drops
  }

  test("weighted tier: one-batch stream == the batch q186 weighted-dedup rule") {
    spark.sql("DROP TABLE IF EXISTS ndw1_bands")
    spark.sql("DROP TABLE IF EXISTS ndw1_tfs")
    NearDupIngest.ensureIndex(spark, "ndw1", buckets = 4,
      family = LshIndex.WeightedMinHash)
    val out = Files.createTempDirectory("ndw1_out").toString
    NearDupIngest.processBatch(spark, docs, 0L, "ndw1", out,
      family = LshIndex.WeightedMinHash)
    val kept = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = batchKeptWeighted(docs)
    assert(kept == expect)
    assert(kept.size < docs.count(), "corpus must contain weighted near-dups")
  }

  test("weighted tier: cross-batch drops follow greedy first-seen; crash " +
    "replay reproduces the kept set") {
    spark.sql("DROP TABLE IF EXISTS ndw2_bands")
    spark.sql("DROP TABLE IF EXISTS ndw2_tfs")
    NearDupIngest.ensureIndex(spark, "ndw2", buckets = 4,
      family = LshIndex.WeightedMinHash)
    val out = Files.createTempDirectory("ndw2_out").toString
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    NearDupIngest.processBatch(spark, b0, 0L, "ndw2", out,
      family = LshIndex.WeightedMinHash)
    NearDupIngest.processBatch(spark, b1, 1L, "ndw2", out,
      family = LshIndex.WeightedMinHash)
    val kept0 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept1 = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept0 == batchKeptWeighted(b0))
    // reference for batch 1: drop docs weighted-paired into batch 0, then
    // the weighted q186 rule on the survivors
    val all = LshIndex.pairs(docs, LshIndex.WeightedMinHash).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val histDrop = all.collect {
      case (a, b) if a % 2 == 1 && b % 2 == 0 => a
      case (a, b) if b % 2 == 1 && a % 2 == 0 => b
    }
    assert(histDrop.nonEmpty, "split must produce a cross-batch weighted dup")
    val histDropDf = {
      import spark.implicits._
      histDrop.toSeq.toDF("doc_id")
    }
    assert(kept1 == batchKeptWeighted(
      b1.join(histDropDf, Seq("doc_id"), "left_anti")))
    // crash window: batch 1's rows are indexed but the marker vanished —
    // the excludeIds guard must reproduce the kept set exactly
    new java.io.File(out, "_committed/1").delete()
    NearDupIngest.processBatch(spark, b1, 1L, "ndw2", out,
      family = LshIndex.WeightedMinHash)
    val replayed = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replayed == kept1,
      "weighted replay with the batch self-indexed must reproduce the kept set")
  }

  test("signature tier: cross-batch and in-batch dups flagged, fresh docs silent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = docs.orderBy(length(col("text")).desc).limit(2)
      .collect().map(_.getString(1))
    val in = MemoryStream[(Long, String)]
    val q = NearDupIngest.signatureVerdicts(
      NearDupIngest.withSignatures(in.toDS().toDF("doc_id", "text")))
      .writeStream.format("memory").queryName("sigtier")
      .outputMode("append").start()
    try {
      // batch 0: in-batch exact dup pair (20 dups 10) + a distinct doc
      in.addData((20L, texts(0)), (10L, texts(0)), (30L, texts(1)))
      q.processAllAvailable()
      // batch 1: a later re-crawl of texts(0) + a fresh doc
      val fresh = (1 to 40).map(i => s"sigfresh$i").mkString(" ")
      in.addData((40L, texts(0)), (50L, fresh))
      q.processAllAvailable()
      val verdicts = spark.table("sigtier").collect()
        .map(r => r.getAs[Long]("docId") -> r.getAs[Long]("dupOf")).toSet
      // min docId keeps in-batch; both later dups resolve to keeper 10;
      // 30 and 50 never flagged
      assert(verdicts == Set(20L -> 10L, 40L -> 10L))
    } finally q.stop()
  }

  test("signature tier: restart from checkpoint keeps band keepers") {
    import spark.implicits._
    // memory sinks can't recover a checkpoint → file source/sink, the
    // CorpusIngestSpec restart pattern
    val texts = docs.orderBy(length(col("text")).desc).limit(1)
      .collect().map(_.getString(1))
    val dir = Files.createTempDirectory("sig_restart").toString
    val srcDir = s"$dir/docs"; val outDir = s"$dir/out"; val cp = s"$dir/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def writeBatch(n: Int, data: Seq[(Long, String)]): Unit =
      data.toDF("doc_id", "text").coalesce(1).write.json(s"$srcDir/batch$n")
    def runOnce(): Unit = {
      val in = spark.readStream
        .schema("doc_id LONG, text STRING").json(s"$srcDir/*")
      val q = NearDupIngest.signatureVerdicts(NearDupIngest.withSignatures(in))
        .writeStream.format("json").option("path", outDir)
        .option("checkpointLocation", cp).start()
      q.processAllAvailable()
      q.stop()
    }
    writeBatch(1, Seq((10L, texts(0))))
    runOnce()
    writeBatch(2, Seq((77L, texts(0)))) // re-crawl after restart
    runOnce()
    val verdicts = spark.read.json(outDir).collect()
      .map(r => r.getAs[Long]("docId") -> r.getAs[Long]("dupOf")).toSet
    assert(verdicts == Set(77L -> 10L))
  }

  test("end-to-end stream: a later micro-batch's near-dup drops, fresh doc survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    freshIndex("ndi4")
    val out = Files.createTempDirectory("ndi4_out").toString
    val cp = Files.createTempDirectory("ndi4_cp").toString
    // longest docs: guaranteed ≥3 tokens → non-empty shingles, so the
    // LSH path actually sees them (short docs are out of the operator's
    // contract, like the batch q29 family)
    val texts = docs.orderBy(length(col("text")).desc).limit(2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = NearDupIngest.start(
      in.toDS().toDF("doc_id", "text"), "ndi4", out, cp)
    try {
      in.addData(texts(0), texts(1))
      q.processAllAvailable()
      // batch 1: an exact re-crawl of doc 0's text (jaccard 1 ≥ tau) under
      // a new id must drop; a genuinely fresh doc must survive
      val fresh = (9001L,
        (1 to 40).map(i => s"freshtok$i").mkString(" "))
      in.addData((9000L, texts(0)._2), fresh)
      q.processAllAvailable()
      val kept1 = spark.read.parquet(s"$out/batch=1")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept1 == Set(9001L))
    } finally q.stop()
  }
}
