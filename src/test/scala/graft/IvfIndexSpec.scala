package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex

/** Persistent IVF index (q143's operator): centroids stay FROZEN across
  * increments, the probe join reads the bucketed cell table without an
  * index-side Exchange, and increments assign exactly like the build
  * pass did. */
class IvfIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("ivf_wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.sources.bucketing.enabled", "true")
    s
  }

  private def vecs = graft.core.Tables
    .load(spark, "/root/testdata/sf0.001", "embeddings")
    .select(col("vec_id"), col("embedding"))

  test("centroids are frozen: an increment with a LOWER vec_id than any " +
    "centroid does not change the stored centroid set or assignments") {
    val hist = vecs.filter(col("vec_id") % 10 =!= 9 && col("vec_id") >= 2)
    IvfIndex.write(spark, hist, "ivf_t", k = 4)
    val centsBefore = spark.table("ivf_t_cents")
      .selectExpr("transform(cents, c -> c.cent_id) AS ids")
      .collect().head.getSeq[Long](0)
    // k lowest HISTORICAL ids seed the centroids
    assert(centsBefore == Seq(2L, 3L, 4L, 5L))
    // increment includes vec_id 0 — lower than every centroid id; a
    // recompute would re-seed, a frozen index must not
    val inc = vecs.filter(col("vec_id") === 0 || col("vec_id") % 10 === 9)
    val matched = IvfIndex.matchIncrement(spark, inc, "ivf_t")
    assert(matched.filter(col("new_id") === 0).count() > 0)
    val centsAfter = spark.table("ivf_t_cents")
      .selectExpr("transform(cents, c -> c.cent_id) AS ids")
      .collect().head.getSeq[Long](0)
    assert(centsAfter == centsBefore)
  }

  test("increment results equal the one-shot assignment restricted to " +
    "new-vs-indexed pairs") {
    val isNew = col("vec_id") % 10 === 9
    IvfIndex.write(spark, vecs.filter(!isNew), "ivf_t2", k = 8)
    val got = IvfIndex.matchIncrement(spark, vecs.filter(isNew), "ivf_t2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.nonEmpty)
    // reference: assign EVERYTHING with the same frozen centroids (the
    // cells table already holds the historical assignment; re-derive the
    // delta side identically via a second matchIncrement over one vector
    // at a time is circular — instead pin the invariants the oracle gate
    // proves globally at sf0.01):
    // per new vector: ranks are 1..n contiguous, candidates unique, and
    // every candidate is a historical (non-increment) member
    got.groupBy(_._1).foreach { case (newId, rs) =>
      assert(rs.map(_._3).toSeq.sorted == (1 to rs.size).toSeq,
        s"ranks for $newId")
      assert(rs.map(_._2).size == rs.size)
      rs.foreach { case (_, oldId, _) => assert(oldId % 10 != 9) }
    }
  }

  test("probe join reads the bucketed cell table without an index-side " +
    "Exchange") {
    val idx = spark.table("ivf_t2_cells")
    val inc = vecs.filter(col("vec_id") % 10 === 9)
    val plan = IvfIndex.matchIncrement(spark, inc, "ivf_t2")
      .queryExecution.executedPlan.toString
    // one exchange for the increment side (plus the top-k window's reuse
    // of it); the bucketed index side must contribute none
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n <= 2, s"index side must not shuffle:\n${plan.take(900)}")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(400))
    // and the raw bucketed scan aggregates by cell with no shuffle at all
    val byCell = idx.groupBy("cell").count()
    assert(!byCell.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("multi-probe: nProbe=1 equals the argmax path; nProbe=k equals " +
    "brute-force top-k; recall is monotone in between") {
    import spark.implicits._
    val k = 8
    val hist = vecs.filter(col("vec_id") % 10 =!= 9)
    IvfIndex.write(spark, hist, "ivf_mp", k = k)
    val inc = vecs.filter(col("vec_id") % 10 === 9)
    def pairs(nProbe: Int): Set[(Long, Long, Long)] =
      IvfIndex.matchIncrement(spark, inc, "ivf_mp", topK = 3,
          nProbe = nProbe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
        .toSet
    // nProbe=1 takes the scalar-argmax branch (no Generate in the plan);
    // pin it against the explode path's machinery directly: for every
    // increment vector, explode(topCells(emb, 1)) must yield exactly the
    // argmax cell bestCell/cellOf picks — the equivalence matchIncrement's
    // branch shortcut assumes
    val withCents = inc.crossJoin(
      broadcast(IvfIndex.centsFrame(spark, "ivf_mp")))
    val viaArgmax = withCents
      .select(col("vec_id"), IvfIndex.cellOf(col("embedding")).as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaExplode = withCents
      .select(col("vec_id"),
        explode(IvfIndex.topCells(col("embedding"), 1)).as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaArgmax == viaExplode,
      "explode(topCells(_, 1)) must equal the scalar argmax cell")
    val p1 = pairs(1)
    // nProbe=k probes EVERY cell → identical to brute-force top-3 over
    // all history (the q31 truth), computed independently here
    val brute = hist.crossJoin(
        broadcast(inc.select(col("vec_id").as("new_id"),
          col("embedding").as("q"))))
      .select(col("new_id"), col("vec_id").as("old_id"),
        round(graft.functions.Kernels.CosineSimilarity(col("q"),
          col("embedding")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("new_id")
          .orderBy(col("cos_sim").desc, col("old_id"))))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3).toLong))
      .toSet
    val pk = pairs(k)
    assert(pk == brute,
      "probing all cells must equal brute-force truth")
    // monotone recall: every single-probe TOP-1 survives more probes only
    // if it is the true top-1 of its vector; overall agreement with truth
    // can only grow with nProbe
    def agree(p: Set[(Long, Long, Long)]): Int =
      p.count { case (n, o, r) => r == 1L && brute.contains((n, o, 1L)) }
    val a1 = agree(p1); val a2 = agree(pairs(4)); val ak = agree(pk)
    assert(a1 <= a2 && a2 <= ak, s"recall not monotone: $a1 $a2 $ak")
    assert(ak == inc.count(), "full probe finds every true top-1")
  }

  test("topK=1 max-struct fast path equals the rank window's rank-1 rows") {
    val hist = vecs.filter(col("vec_id") % 10 =!= 9)
    IvfIndex.write(spark, hist, "ivf_t1", k = 8)
    val inc = vecs.filter(col("vec_id") % 10 === 9)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val fast = rows(IvfIndex.matchIncrement(spark, inc, "ivf_t1", topK = 1))
    val window = rows(IvfIndex.matchIncrement(spark, inc, "ivf_t1", topK = 2)
      .filter(col("rank") === 1))
    assert(fast == window, "agg argmax must reproduce the window's rank 1")
    assert(fast.nonEmpty)
  }

  test("Lloyd refinement recovers recall a pathological seed loses, " +
    "keeps the frozen-index contract, and is deterministic") {
    import spark.implicits._
    // 4 well-separated gaussian clusters in d=16; ids 0..7 (the default
    // seeds) all inside ONE cluster — the worst case for lowest-id
    // seeding: every unrefined cell boundary cuts through cluster 0
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(4)(Array.fill(16)((rnd.nextGaussian() * 10).toFloat))
    val all = (0 until 200).map { i =>
      val c = if (i < 8) 0 else i % 4
      (i.toLong, centers(c).map(x =>
        (x + rnd.nextGaussian().toFloat * 0.5f)).toSeq)
    }
    val df = all.toDF("vec_id", "embedding")
    val hist = df.filter(col("vec_id") % 10 =!= 9)
    val inc = df.filter(col("vec_id") % 10 === 9)
    // brute-force truth for the increment's top-1
    val brute = hist.crossJoin(
        broadcast(inc.select(col("vec_id").as("new_id"),
          col("embedding").as("q"))))
      .select(col("new_id"), col("vec_id").as("old_id"),
        round(graft.functions.Kernels.CosineSimilarity(col("q"),
          col("embedding")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("new_id")
          .orderBy(col("cos_sim").desc, col("old_id"))))
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(name: String, refine: Int): Double = {
      IvfIndex.write(spark, hist, name, k = 4, refineIters = refine)
      val got = IvfIndex.matchIncrement(spark, inc, name, topK = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(brute.contains).toDouble / brute.size
    }
    val seeded = recall("ivf_seed", 0)
    val refined = recall("ivf_ref", 3)
    assert(refined >= seeded,
      s"refined recall $refined must be >= seeded $seeded")
    assert(refined > 0.9, s"refined centroids must track the true " +
      s"clusters (recall $refined)")
    // contract: cent ids are STILL the seed ids (stable labels), and a
    // second refined build is bit-identical (integer-exact update)
    val ids = spark.table("ivf_ref_cents")
      .selectExpr("transform(cents, c -> c.cent_id) AS ids")
      .collect().head.getSeq[Long](0)
    assert(ids == Seq(0L, 1L, 2L, 3L))
    val c1 = spark.table("ivf_ref_cents").collect().head.toString
    IvfIndex.write(spark, hist, "ivf_ref2", k = 4, refineIters = 3)
    val c2 = spark.table("ivf_ref2_cents").collect().head.toString
    assert(c1 == c2, "refined centroids must be deterministic")
  }

  test("compact: coalesces append files, drops replay-duplicated rows, " +
    "match results and zero-exchange reads unchanged") {
    val hist = vecs.filter(col("vec_id") % 10 =!= 9)
    val inc = vecs.filter(col("vec_id") % 10 === 9)
    IvfIndex.write(spark, hist, "ivf_cp", k = 4, buckets = 4)
    // a crash between append and the commit marker replays the append —
    // simulate: same increment appended twice
    IvfIndex.append(spark, inc, "ivf_cp")
    IvfIndex.append(spark, inc, "ivf_cp")
    val cells = () => spark.table("ivf_cp_cells")
    assert(cells().count() > cells().dropDuplicates("cell", "vec_id").count(),
      "setup must leave duplicated rows")
    def nFiles: Int = {
      val loc = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath, "ivf_cp_cells")
      Option(loc.listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = nFiles
    val centsBefore = spark.table("ivf_cp_cents").collect().head.toString
    val probe = vecs.filter(col("vec_id") < 20)
    // expected = match against a CLEAN index built the same way
    IvfIndex.write(spark, hist, "ivf_cl", k = 4, buckets = 4)
    IvfIndex.append(spark, inc, "ivf_cl")
    val expect = IvfIndex.matchIncrement(spark, probe, "ivf_cl", topK = 3)
      .collect().map(_.toString).toSet
    IvfIndex.compact(spark, "ivf_cp")
    assert(nFiles < filesBefore, s"files must drop ($filesBefore -> $nFiles)")
    assert(cells().count() ==
      cells().dropDuplicates("cell", "vec_id").count())
    assert(spark.table("ivf_cp_cents").collect().head.toString == centsBefore,
      "compaction must not touch the frozen centroids")
    // post-compact: the bucketed read still aggregates with no Exchange
    val plan = cells().groupBy("cell").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
    // and topK>1 ranks are REPAIRED: pre-compact a replay-duplicated
    // old_id occupied ranks 1 and 2 (the documented crash-window caveat);
    // post-compact results equal the clean index exactly
    val got = IvfIndex.matchIncrement(spark, probe, "ivf_cp", topK = 3)
      .collect().map(_.toString).toSet
    assert(got == expect)
  }

  test("rebuild re-seeds at autoK over the grown corpus, dedupes replay " +
    "rows, equals a fresh build of the same vectors") {
    val hist = vecs.filter(col("vec_id") % 10 =!= 9)
    val inc = vecs.filter(col("vec_id") % 10 === 9)
    IvfIndex.write(spark, hist, "ivf_rb", k = 4, buckets = 4)
    IvfIndex.append(spark, inc, "ivf_rb")
    IvfIndex.append(spark, inc, "ivf_rb") // crash-replay duplicates
    val n = vecs.count()
    IvfIndex.rebuild(spark, "ivf_rb", k = 0, refineIters = 1)
    val nCents = spark.table("ivf_rb_cents")
      .selectExpr("size(cents)").collect().head.getInt(0)
    assert(nCents == IvfIndex.autoK(n), s"k must follow autoK($n)")
    assert(spark.table("ivf_rb_cells").count() == n,
      "rebuild must dedupe the replay rows")
    // reference: a fresh build of the SAME vector set at the same knobs
    IvfIndex.write(spark, vecs, "ivf_rb2", k = IvfIndex.autoK(n),
      buckets = 4, refineIters = 1)
    val probe = vecs.filter(col("vec_id") < 15)
    def m(idx: String) = IvfIndex.matchIncrement(spark, probe, idx,
        topK = 2, excludeIds = Some(probe.select("vec_id")))
      .collect().map(_.toString).toSet
    assert(m("ivf_rb") == m("ivf_rb2"),
      "rebuilt index must match a fresh build bit-for-bit")
    // bucketed reads stay exchange-free after the rebuild
    val plan = spark.table("ivf_rb_cells").groupBy("cell").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(300))
  }
}
