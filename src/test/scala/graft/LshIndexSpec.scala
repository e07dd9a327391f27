package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.LshIndex

/** Persistent LSH index: incremental matches == whole-corpus pairs
  * restricted to the increment, and the index side of the candidate join
  * reads its buckets with no Exchange. */
class LshIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("lsh_wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.sources.bucketing.enabled", "true")
    s
  }

  private def freshTables(): Unit =
    Seq("t_idx_bands", "t_idx_shingles", "t_idx_tfs").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf
        .get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      if (loc.exists()) rm(loc)
    }

  test("incremental matches == whole-corpus q29 pairs touching the increment") {
    freshTables()
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val isNew = col("doc_id") % 5 === 0
    val set = LshIndex.SetMinHash
    LshIndex.write(spark, docs.filter(!isNew), "t_idx", set, buckets = 4)
    val got = LshIndex.matchIncrement(spark, docs.filter(isNew), "t_idx", set)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // reference: the q29 whole-corpus path, keeping only new×old pairs
    val all = LshIndex.pairs(docs, set).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = all.collect {
      case (a, b) if a % 5 == 0 && b % 5 != 0 => (a, b)
      case (a, b) if b % 5 == 0 && a % 5 != 0 => (b, a)
    }
    assert(got == expected)
    assert(got.nonEmpty, "split must produce at least one near-dup pair")
  }

  test("over-cap index bands contribute no pairs (degenerate boilerplate)") {
    import spark.implicits._
    // 30 identical old docs (one viral band per LSH band) + 1 distinct;
    // a new doc equal to the boilerplate must find NOTHING under a cap
    // below 30 — those are q25's exact-dup territory, not LSH work
    val boiler = "spark table scan join merge sort group filter key row"
    val old = (1L to 30L).map(i => (i, boiler)) :+
      (99L, "totally different words that share no shingle with boiler x")
    val fresh = Seq((1000L, boiler))
    // the set family runs last: the next test reads its t_idx_bands
    LshIndex.Families.reverse.foreach { fam =>
      freshTables()
      LshIndex.write(spark, old.toDF("doc_id", "text"), "t_idx", fam,
        buckets = 4)
      val capped = LshIndex.matchIncrement(
        spark, fresh.toDF("doc_id", "text"), "t_idx", fam, bandCap = 8)
      assert(capped.count() == 0, s"${fam.score}: over-cap band must contribute no pairs")
      // sanity: with a generous cap the same increment matches all 30
      val uncapped = LshIndex.matchIncrement(
        spark, fresh.toDF("doc_id", "text"), "t_idx", fam, bandCap = 1000)
      assert(uncapped.count() == 30, fam.score)
    }
  }

  test("index side of the candidate join reads buckets with no Exchange") {
    // bands table already written by the previous test
    val idx = spark.table("t_idx_bands")
    val capCount = idx.groupBy("band").count()
    assert(!capCount.queryExecution.executedPlan.toString.contains("Exchange"),
      "cap count on the bucketed band table must not shuffle")
    import spark.implicits._
    val someBands = idx.select("band").distinct().limit(5)
      .collect().map(_.getString(0)).toSeq
    val probe = someBands.zipWithIndex
      .map { case (b, i) => (i.toLong, b) }.toDF("new_id", "band")
    val joined = probe.hint("merge").join(idx, "band")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(400))
    // exactly ONE exchange: the probe side; the index side is bucket-read
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n <= 1, s"index side must not shuffle:\n${plan.take(900)}")
  }

  test("excludeIds keeps a near-cap band cold on crash replay (the " +
    "replay-reproduces-the-kept-set invariant)") {
    import spark.implicits._
    // k docs with IDENTICAL text → every band has k distinct members.
    // History = ids 0..6 (7 docs); the replaying batch = ids 100, 101
    // (2 more, ALREADY appended by the crashed run → 9 distinct per band).
    // bandCap = 8: original run saw 7 (cold, matches found); a replay
    // counting the batch's own ids sees 9 > 8 (hot, candidates dropped).
    val text = "alpha beta gamma delta epsilon zeta"
    val hist = (0L until 7L).map(i => (i, text)).toDF("doc_id", "text")
    val batch = Seq((100L, text), (101L, text)).toDF("doc_id", "text")
    LshIndex.Families.foreach { fam =>
      val name = s"t_cap_${fam.score}_idx"
      LshIndex.write(spark, hist, name, fam, buckets = 4)
      LshIndex.append(spark, batch, name, fam) // the crashed run's append
      val without = LshIndex.matchIncrement(spark, batch, name, fam,
        bandCap = 8)
      val withEx = LshIndex.matchIncrement(spark, batch, name, fam,
        bandCap = 8, excludeIds = Some(batch.select("doc_id")))
      assert(without.count() == 0,
        s"${fam.score} setup: counting the batch's own ids must tip the band hot")
      val got = withEx.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == (for (n <- Seq(100L, 101L); o <- 0L until 7L)
        yield (n, o)).toSet,
        s"${fam.score}: excluding the replaying batch must reproduce the original match set")
      // and the exclusion preserves the exchange-free cap count
      val idx = spark.table(s"${name}_bands").join(
        broadcast(batch.select("doc_id")), Seq("doc_id"), "left_anti")
      val capPlan = idx.groupBy("band")
        .agg(countDistinct(col("doc_id")).as("c"))
        .queryExecution.executedPlan.toString
      assert(!capPlan.contains("Exchange hashpartitioning"),
        s"${fam.score}: cap count must stay exchange-free under exclusion:\n${capPlan.take(600)}")
    }
  }

  test("weighted index: incremental matches == weightedVerifiedPairs " +
    "restricted to increment-vs-history, and compact preserves them") {
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val isNew = col("doc_id") % 10 === 7
    val w = LshIndex.WeightedMinHash
    LshIndex.write(spark, docs.filter(!isNew), "t_w_idx", w, buckets = 4)
    LshIndex.append(spark, docs.filter(isNew), "t_w_idx", w)
    // replay the append (crash window) — duplicated rows in both tables
    LshIndex.append(spark, docs.filter(isNew), "t_w_idx", w)
    val got = LshIndex.matchIncrement(spark, docs.filter(isNew),
        "t_w_idx", w, excludeIds = Some(docs.filter(isNew).select("doc_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val whole = LshIndex.pairs(docs, w).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = whole.collect {
      case (a, b) if a % 10 == 7 && b % 10 != 7 => (a, b)
      case (a, b) if b % 10 == 7 && a % 10 != 7 => (b, a)
    }
    assert(got == expect)
    assert(got.nonEmpty, "corpus must contain weighted near-dups")
    val filesBefore = bandFiles("t_w_idx_bands")
    LshIndex.compact(spark, "t_w_idx")
    assert(bandFiles("t_w_idx_bands") < filesBefore)
    assert(spark.table("t_w_idx_bands").count() ==
      spark.table("t_w_idx_bands").dropDuplicates("band", "doc_id").count())
    val postCompact = LshIndex.matchIncrement(spark,
        docs.filter(isNew), "t_w_idx", w,
        excludeIds = Some(docs.filter(isNew).select("doc_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postCompact == expect, "compaction must not change matches")
    // bucketed reads still exchange-free post-compact
    val plan = spark.table("t_w_idx_bands").groupBy("band").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
  }

  private def bandFiles(tbl: String): Int = {
    val loc = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath, tbl)
    Option(loc.listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))
  }
}
