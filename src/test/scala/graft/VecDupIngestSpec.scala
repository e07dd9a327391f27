package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex
import graft.streaming.VecDupIngest

/** Streaming embedding near-dup ingest (the vector twin of
  * NearDupIngestSpec): bootstrap batch seeds the frozen index and equals
  * the cell-local batch rule, cross-batch near-dups of any earlier
  * vector drop, replay is idempotent INCLUDING the crash window between
  * index append and marker, and the index side stays exchange-free after
  * appends. The real sf0.001 embeddings have no cosine-0.9 pairs (max
  * pairwise 0.479), so near-dups are manufactured as exact copies of
  * real vectors under fresh ids — which also makes ground truth exact. */
class VecDupIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("vdi_wh").toString
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.autoBroadcastJoinThreshold", (8L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def vecs = graft.core.Tables
    .load(spark, "/root/testdata/sf0.001", "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** `n` exact copies of the lowest-id vectors, under ids base+i. */
  private def copies(base: Long, n: Int): DataFrame =
    vecs.orderBy("vec_id").limit(n)
      .select((col("vec_id") + base).as("vec_id"), col("embedding"))

  private def ids(df: DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  private def keptIds(out: String, b: Long): Set[Long] =
    ids(spark.read.parquet(s"$out/batch=$b"))

  private def fresh(name: String): Unit =
    Seq(s"${name}_cells", s"${name}_cents").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf
        .get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      if (loc.exists()) rm(loc)
    }

  test("bootstrap batch: exact in-batch copy drops, min id kept, rest survive") {
    fresh("vdi1")
    val out = Files.createTempDirectory("vdi1_out").toString
    val batch = vecs.union(copies(10000L, 2)) // copies of the 2 lowest ids
    VecDupIngest.processBatch(spark, batch, 0L, "vdi1", out)
    val kept = keptIds(out, 0L)
    val all = ids(vecs)
    assert(kept == all, "copies (higher ids) drop; every original survives")
    // and the index holds the WHOLE batch (kept + dropped)
    assert(spark.table("vdi1_cells").count() == batch.count())
  }

  test("cross-batch: a later copy of ANY earlier vector drops, fresh survive") {
    fresh("vdi2")
    val out = Files.createTempDirectory("vdi2_out").toString
    val b0 = vecs.filter(col("vec_id") % 2 === 0)
    val b1 = vecs.filter(col("vec_id") % 2 === 1)
      .union(copies(20000L, 1)) // copy of vec 0 (an EVEN id: batch-0 member)
    VecDupIngest.processBatch(spark, b0, 0L, "vdi2", out)
    VecDupIngest.processBatch(spark, b1, 1L, "vdi2", out)
    assert(keptIds(out, 0L) == ids(b0))
    // odds have no 0.9-cosine pair among themselves or vs evens (real
    // corpus: max pairwise 0.479) — only the manufactured copy drops
    assert(keptIds(out, 1L) == ids(vecs.filter(col("vec_id") % 2 === 1)))
  }

  test("replay after the crash window (index appended, marker lost) is exact") {
    // foreachBatch is SERIAL: only the LATEST batch can be uncommitted,
    // so each crash window is exercised immediately after its batch —
    // a marker can never vanish once a later batch has run
    fresh("vdi3")
    val out = Files.createTempDirectory("vdi3_out").toString
    val b0 = vecs.filter(col("vec_id") < 400)
    val b1 = vecs.filter(col("vec_id") >= 400).union(copies(30000L, 1))
    // crash window on the BOOTSTRAP path: batch 0 seeded the index,
    // marker gone — replay takes the append path, output unchanged
    VecDupIngest.processBatch(spark, b0, 0L, "vdi3", out)
    val kept0 = keptIds(out, 0L)
    new java.io.File(out, "_committed/0").delete()
    VecDupIngest.processBatch(spark, b0, 0L, "vdi3", out)
    assert(keptIds(out, 0L) == kept0,
      "bootstrap replay with the batch self-indexed must reproduce the kept set")
    // crash window on the APPEND path: batch 1 in the index, marker gone
    VecDupIngest.processBatch(spark, b1, 1L, "vdi3", out)
    val kept1 = keptIds(out, 1L)
    val cells = spark.table("vdi3_cells").count()
    new java.io.File(out, "_committed/1").delete()
    VecDupIngest.processBatch(spark, b1, 1L, "vdi3", out)
    assert(keptIds(out, 1L) == kept1,
      "append replay with the batch self-indexed must reproduce the kept set")
    // duplicated index rows exist until compaction — decision unchanged,
    // and a fresh exact re-crawl still matches
    assert(spark.table("vdi3_cells").count() > cells)
    val m = IvfIndex.matchIncrement(spark, copies(40000L, 1), "vdi3", topK = 1)
    assert(m.filter(col("cos_sim") === 1.0).count() == 1)
  }

  test("after appends the match still reads the index without an Exchange") {
    fresh("vdi4")
    val out = Files.createTempDirectory("vdi4_out").toString
    VecDupIngest.processBatch(spark, vecs.filter(col("vec_id") < 300), 0L,
      "vdi4", out)
    VecDupIngest.processBatch(spark,
      vecs.filter(col("vec_id") >= 300 && col("vec_id") < 400), 1L,
      "vdi4", out)
    val plan = IvfIndex
      .matchIncrement(spark, vecs.filter(col("vec_id") >= 400), "vdi4")
      .queryExecution.executedPlan.toString
    // exactly ONE shuffle Exchange (the increment's cell repartition);
    // the appended bucketed index never re-shuffles
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected 1 increment-side exchange, got $n:\n$plan")
  }

  test("deferred bootstrap: a 1-vector first batch loses nothing vs a " +
    "healthy bootstrap; brute window is exact and replay-safe") {
    // synthetic corpus with unambiguous decisions (copies at cos 1.0,
    // fresh axis-aligned vectors pairwise-orthogonal): the flagged set is
    // invariant to batching, so pathological-vs-healthy is comparable
    import spark.implicits._
    val dim = 8
    def axis(i: Int): Seq[Float] = Seq.tabulate(dim)(j =>
      if (j == i % dim) 1.0f else 0.0f)
    // ids 0..7: fresh; 100..103: copies of 0..3; 200: fresh-ish mix
    val fresh8 = (0 until 8).map(i => (i.toLong, axis(i)))
    val cps = (0 until 4).map(i => ((100 + i).toLong, axis(i)))
    val mix = Seq((200L, Seq.tabulate(dim)(j =>
      (if (j < 2) 0.7071f else 0.0f))))
    val all = fresh8 ++ cps ++ mix
    val trueKept = fresh8.map(_._1).toSet + 200L
    def run(name: String, batches: Seq[Seq[(Long, Seq[Float])]],
        minSeed: Long): Set[Long] = {
      fresh(name)
      val out = Files.createTempDirectory(s"${name}_out").toString
      batches.zipWithIndex.foreach { case (b, i) =>
        VecDupIngest.processBatch(spark, b.toDF("vec_id", "embedding"),
          i.toLong, name, out, minSeed = minSeed, k = 0, refineIters = 1)
      }
      ids(spark.read.parquet(s"$out/batch=*"))
    }
    // healthy: one big first batch seeds immediately
    val healthy = run("vdi6h", Seq(all.take(9), all.drop(9)), minSeed = 0L)
    // pathological: 1-vector first batch; minSeed=6 defers across three
    // tiny batches (1+2+3=6 tips the seed on the third)
    val deferred = run("vdi6d",
      Seq(all.take(1), all.slice(1, 3), all.slice(3, 6), all.slice(6, 9),
        all.drop(9)), minSeed = 6L)
    assert(healthy == trueKept)
    assert(deferred == trueKept,
      "deferred bootstrap must keep exactly what the healthy bootstrap keeps")
    // replay the LAST brute-window batch (staged + output written, marker
    // lost): the pending read must exclude the batch's own staging dir
    fresh("vdi6r")
    val out = Files.createTempDirectory("vdi6r_out").toString
    VecDupIngest.processBatch(spark, all.take(1).toDF("vec_id", "embedding"),
      0L, "vdi6r", out, minSeed = 6L)
    VecDupIngest.processBatch(spark, all.slice(1, 3).toDF("vec_id", "embedding"),
      1L, "vdi6r", out, minSeed = 6L)
    val kept1 = keptIds(out, 1L)
    new java.io.File(out, "_committed/1").delete()
    VecDupIngest.processBatch(spark, all.slice(1, 3).toDF("vec_id", "embedding"),
      1L, "vdi6r", out, minSeed = 6L)
    assert(keptIds(out, 1L) == kept1,
      "brute-window replay must not self-match against its own staged rows")
    // and the seed, when it comes, uses the autoK rule over ALL seen rows
    VecDupIngest.processBatch(spark, all.slice(3, 9).toDF("vec_id", "embedding"),
      2L, "vdi6r", out, minSeed = 6L, k = 0)
    val nCents = spark.table("vdi6r_cents")
      .selectExpr("size(cents)").collect().head.getInt(0)
    assert(nCents == IvfIndex.autoK(9L))
    assert(!new java.io.File(out, "_pending").exists(),
      "staging area must be dropped once the index seeds")
  }

  test("processDeletes in the deferral window: pending filtered via " +
    "tmp-then-swap; both crash windows replay without losing vectors") {
    import spark.implicits._
    val dim = 8
    def axis(i: Int): Seq[Float] = Seq.tabulate(dim)(j =>
      if (j == i % dim) 1.0f else 0.0f)
    fresh("vdi8")
    val out = Files.createTempDirectory("vdi8_out").toString
    // two brute-window batches staged under _pending (minSeed keeps the
    // index unseeded)
    VecDupIngest.processBatch(spark,
      (0 until 3).map(i => (i.toLong, axis(i))).toDF("vec_id", "embedding"),
      0L, "vdi8", out, minSeed = 100L)
    VecDupIngest.processBatch(spark,
      (3 until 5).map(i => (i.toLong, axis(i))).toDF("vec_id", "embedding"),
      1L, "vdi8", out, minSeed = 100L)
    val pend = new java.io.File(out, "_pending")
    def pendingIds(): Set[Long] = ids(spark.read.parquet(
      pend.listFiles().filter(f => f.isDirectory &&
        !f.getName.startsWith("_tmp_")).map(_.getAbsolutePath): _*))
    assert(pendingIds() == Set(0L, 1L, 2L, 3L, 4L))
    // takedown of id 1: pending rewritten, no tmp dirs left behind
    VecDupIngest.processDeletes(spark, Seq(1L).toDF("vec_id"), 0L,
      "vdi8", out)
    assert(pendingIds() == Set(0L, 2L, 3L, 4L))
    assert(!pend.listFiles().exists(_.getName.startsWith("_tmp_")))
    // crash window A: a stale/partial tmp next to an intact original —
    // the replay must discard the tmp and re-filter from the original
    val staleTmp = new java.io.File(pend, "_tmp_batch=0")
    staleTmp.mkdirs() // no _SUCCESS: a mid-write crash artifact
    VecDupIngest.processDeletes(spark, Seq(2L).toDF("vec_id"), 1L,
      "vdi8", out)
    assert(pendingIds() == Set(0L, 3L, 4L))
    assert(!staleTmp.exists(), "stale tmp must be discarded")
    // crash window B: a COMPLETE tmp (parquet _SUCCESS) whose original
    // was already dropped — the replay must finish the rename, then
    // apply the new filter on top
    val orig = new java.io.File(pend, "batch=1")
    val tmp = new java.io.File(pend, "_tmp_batch=1")
    spark.read.parquet(orig.getAbsolutePath)
      .write.parquet(tmp.getAbsolutePath)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(orig)
    VecDupIngest.processDeletes(spark, Seq(4L).toDF("vec_id"), 2L,
      "vdi8", out)
    assert(pendingIds() == Set(0L, 3L),
      "recovered tmp must be renamed back before the new filter applies")
    assert(orig.exists() && !tmp.exists())
    // the brute window keeps honoring the filtered pending set: a copy
    // of deleted id 1's vector must now SURVIVE (nothing suppresses it)
    VecDupIngest.processBatch(spark,
      Seq((300L, axis(1))).toDF("vec_id", "embedding"),
      2L, "vdi8", out, minSeed = 100L)
    assert(keptIds(out, 2L) == Set(300L))
  }

  test("compactEvery cadence: kept sets identical, index files fewer, " +
    "dup rows gone") {
    def run(name: String, every: Int): (Set[Long], Int, Long) = {
      fresh(name)
      val out = Files.createTempDirectory(s"${name}_out").toString
      (0 until 4).foreach { i =>
        VecDupIngest.processBatch(spark,
          vecs.filter(col("vec_id") % 4 === i), i.toLong, name, out,
          compactEvery = every)
      }
      val loc = new java.io.File(spark.conf
        .get("spark.sql.warehouse.dir").stripPrefix("file:"), s"${name}_cells")
      val files = Option(loc.listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
      (ids(spark.read.parquet(s"$out/batch=*")), files,
        spark.table(s"${name}_cells").count())
    }
    val (keptPlain, filesPlain, rowsPlain) = run("vdi7p", 0)
    val (keptComp, filesComp, rowsComp) = run("vdi7c", 2)
    assert(keptComp == keptPlain, "compaction must not change decisions")
    assert(filesComp < filesPlain,
      s"compaction must shrink the file count ($filesPlain -> $filesComp)")
    assert(rowsComp == rowsPlain, "no dup rows to drop in a crash-free run")
  }

  test("end-to-end stream: later micro-batch's copy drops, fresh vector survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    fresh("vdi5")
    val out = Files.createTempDirectory("vdi5_out").toString
    val cp = Files.createTempDirectory("vdi5_cp").toString
    val rows = vecs.limit(50).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = VecDupIngest.start(
      in.toDS().toDF("vec_id", "embedding"), "vdi5", out, cp)
    try {
      in.addData(rows.toSeq)
      q.processAllAvailable()
      // batch 1: an exact re-crawl of vector 0 under a new id + a fresh
      // orthogonal-ish vector
      val freshVec = (90001L, Seq.tabulate(rows.head._2.length)(i =>
        if (i == 0) 1.0f else 0.0f))
      in.addData(Seq((90000L, rows.head._2), freshVec))
      q.processAllAvailable()
      assert(keptIds(out, 1L) == Set(90001L))
    } finally q.stop()
  }

  private def freshPq(name: String): Unit = {
    fresh(name)
    Seq(s"${name}_pqcodes", s"${name}_pqbook").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf
        .get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      if (loc.exists()) rm(loc)
    }
  }

  test("ADC serving mode: decisions match the float path, batch-by-batch") {
    freshPq("vdi6f"); freshPq("vdi6a")
    val outF = Files.createTempDirectory("vdi6f_out").toString
    val outA = Files.createTempDirectory("vdi6a_out").toString
    val b0 = vecs.filter(col("vec_id") % 2 === 0)
    val b1 = vecs.filter(col("vec_id") % 2 === 1)
      .union(copies(40000L, 3)) // exact re-crawls of 3 batch-0 vectors
    for ((name, out, adc) <- Seq(("vdi6f", outF, false), ("vdi6a", outA, true))) {
      VecDupIngest.processBatch(spark, b0, 0L, name, out, adcServe = adc)
      VecDupIngest.processBatch(spark, b1, 1L, name, out, adcServe = adc)
    }
    assert(keptIds(outA, 0L) == keptIds(outF, 0L))
    assert(keptIds(outA, 1L) == keptIds(outF, 1L))
    // the exact copies dropped in BOTH modes (an exact copy's residual
    // equals the query's, so its ADC distance is the per-subspace
    // minimum — it always survives the shortlist into exact verify)
    assert(!keptIds(outA, 1L).exists(_ >= 40000L))
    // ADC mode maintained the serving artifacts: one code row per cell
    // row after the PQ-growing append path
    assert(spark.table("vdi6a_pqcodes").count() ==
      spark.table("vdi6a_cells").count())
  }

  test("ADC mode replay + crash-window healing: idempotent, codes complete") {
    freshPq("vdi7")
    val out = Files.createTempDirectory("vdi7_out").toString
    val b0 = vecs.filter(col("vec_id") < 400)
    val b1 = vecs.filter(col("vec_id") >= 400).union(copies(50000L, 1))
    VecDupIngest.processBatch(spark, b0, 0L, "vdi7", out, adcServe = true)
    VecDupIngest.processBatch(spark, b1, 1L, "vdi7", out, adcServe = true)
    val kept1 = keptIds(out, 1L)
    // crash window: batch 1's cells append landed, codes + marker lost —
    // exactly what a crash inside IvfIndex.append leaves behind
    new java.io.File(out, "_committed/1").delete()
    import org.apache.spark.sql.functions.{col => c}
    // simulate by re-appending cells only (the replayed batch will ALSO
    // re-append; both dup classes must come out harmless)
    IvfIndex.appendCells(spark, b1, "vdi7")
    VecDupIngest.processBatch(spark, b1, 1L, "vdi7", out, adcServe = true)
    assert(keptIds(out, 1L) == kept1,
      "ADC replay with the batch self-indexed must reproduce the kept set")
    // the recovery pass healed the gap: every cells vec_id has a code
    val gap = spark.table("vdi7_cells").select("vec_id").distinct()
      .join(spark.table("vdi7_pqcodes").select("vec_id").distinct(),
        Seq("vec_id"), "left_anti").count()
    assert(gap == 0L, s"$gap indexed vectors still codeless after recovery")
  }

  test("ADC compaction cadence: codes compact in lockstep, book never retrains") {
    freshPq("vdi9")
    val out = Files.createTempDirectory("vdi9_out").toString
    val batches = Seq(
      vecs.filter(col("vec_id") < 200),
      vecs.filter(col("vec_id") >= 200 && col("vec_id") < 350),
      vecs.filter(col("vec_id") >= 350).union(copies(70000L, 2)))
    // compactEvery=2 -> a compaction lands after batch 1, mid-stream
    batches.zipWithIndex.foreach { case (b, i) =>
      VecDupIngest.processBatch(spark, b, i.toLong, "vdi9", out,
        compactEvery = 2, adcServe = true)
    }
    // decisions unchanged by the mid-stream compact: the copies dropped
    assert(!keptIds(out, 2L).exists(_ >= 70000L))
    // artifacts stayed attached and aligned (no drop -> no retrain gap)
    assert(IvfIndex.attached(spark, "vdi9", IvfIndex.Pq))
    assert(spark.table("vdi9_pqcodes").count() ==
      spark.table("vdi9_cells").count())
    // replay the crash window ACROSS a compaction boundary: batch 2
    // re-appends on replay, the next compact dedups both tables in
    // lockstep, and counts stay aligned
    new java.io.File(out, "_committed/2").delete()
    VecDupIngest.processBatch(spark, batches(2), 2L, "vdi9", out,
      compactEvery = 2, adcServe = true)
    IvfIndex.compact(spark, "vdi9")
    assert(IvfIndex.attached(spark, "vdi9", IvfIndex.Pq),
      "lockstep compact must not drop the PQ artifacts")
    val cellsN = spark.table("vdi9_cells").count()
    val codesN = spark.table("vdi9_pqcodes").count()
    assert(cellsN == codesN, s"post-compact misaligned: $cellsN vs $codesN")
    // and the deduped tables carry one row per distinct vec_id
    assert(cellsN == spark.table("vdi9_cells")
      .select("vec_id").distinct().count())
  }

  test("ADC mode after RTBF: dropped PQ artifacts re-attach, purge holds") {
    freshPq("vdi8")
    val out = Files.createTempDirectory("vdi8_out").toString
    val b0 = vecs.filter(col("vec_id") < 400)
    VecDupIngest.processBatch(spark, b0, 0L, "vdi8", out, adcServe = true)
    // takedown: vector 0 must stop suppressing future arrivals; remove
    // drops the PQ artifacts (derived codes must not outlive the row)
    VecDupIngest.processDeletes(spark,
      vecs.filter(col("vec_id") === 0L).select("vec_id"), 0L, "vdi8", out)
    assert(!IvfIndex.attached(spark, "vdi8", IvfIndex.Pq))
    // next batch re-attaches and a re-crawl of the purged vector SURVIVES
    val b1 = copies(60000L, 1) // exact copy of vec 0
    VecDupIngest.processBatch(spark, b1, 1L, "vdi8", out, adcServe = true)
    assert(keptIds(out, 1L) == Set(60000L))
    assert(IvfIndex.attached(spark, "vdi8", IvfIndex.Pq))
  }
}
