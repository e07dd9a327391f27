package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The residual-vs-raw PQ A/B in the regime the residual defense names
  * (the r15 "what's missing" #1): q222's 16-cells-vs-8-entries budget is
  * the INVERTED regime, and there the r15 A/B honestly measured raw ≥
  * residual — worse, its codebook seeding was silently degenerate (all
  * 8 seeds were coarse centroids with zero residuals; fixed r16 by the
  * not-in-cents exclusion). This spec pins the decision the shipped
  * layout rests on, in the claimed regime (regimeVecs: 64 cells ≫ the
  * 8-entry codebook, structured within-cell spread — 8 md5-derived
  * sub-patterns + ±1 jitter, the low-dimensional internal structure
  * real embedding clusters carry):
  *
  *   - BOTH arms keep coarse recall at the ceiling (the fixture is
  *     sharp: within-cluster cosine ≥ 0.99 vs cross-center ≤ ~0.53);
  *   - the RESIDUAL arm's in-cell ADC hit rate (measured 44/50 at
  *     sf0.01) must clearly beat the RAW arm's (measured 15/50):
  *     residuals expose the 8 sub-patterns to the 8-entry codebook,
  *     while raw codes would need 64 centers × 8 sub-patterns = 512
  *     entries — the measured justification for shipping the FAISS
  *     residual layout (pqAttach), not a regime anecdote.
  *
  * q226/q227 hash-gate both chains against DuckDB; this spec asserts
  * the COMPARISON, so a future encoding/seed change that silently
  * flips the winner fails a test instead of surviving as two
  * individually-green gates.
  */
class RegimeRecallSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }

  private def levels(q: String): (Long, Long, Long) = {
    val r = graft.queries.VectorOps.defs(q)(spark, "/root/testdata/sf0.01")
      .agg(sum("pq_cell_hit").cast("long"),
        sum("cell_global_hit").cast("long"), count(lit(1))).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("shipped residual encoding is the measured winner in its regime") {
    val (resPq, resCell, n) = levels("q226_regime_recall")
    val (rawPq, rawCell, n2) = levels("q227_regime_raw")
    assert(n == 50L && n2 == 50L)
    assert(resCell == n, s"residual arm lost coarse recall: $resCell/$n")
    assert(rawCell == n, s"raw arm lost coarse recall: $rawCell/$n")
    assert(resPq >= 35L,
      s"residual ADC below its measured level (44/50): $resPq/$n")
    assert(resPq >= rawPq + 15L,
      s"residual no longer clearly beats raw in its regime: " +
        s"residual $resPq vs raw $rawPq of $n")
  }

  test("the regime fixture separates (within >> cross center cosine)") {
    val rv = graft.queries.VectorOps.regimeVecs(
      graft.core.Tables.load(spark, "/root/testdata/sf0.01", "embeddings"))
    val cos = graft.functions.Kernels.CosineSimilarity
    // within-cluster: hist-rank cid repeats every 64 hist positions ≙
    // vec_id step of ~71; ids v and v+64+7 share a center when neither
    // crosses extra %10==9 exclusions — use the exact rank identity
    // instead: pair ids whose (rank % 64) match
    val withRank = rv.withColumn("rk",
      (col("vec_id") - expr("(vec_id + 1) div 10")) % 64)
    val a = withRank.filter(col("vec_id") % 10 =!= 9)
      .select(col("rk"), col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = withRank.filter(col("vec_id") % 10 =!= 9)
      .select(col("rk"), col("vec_id").as("ib"), col("embedding").as("eb"))
    // different sub-patterns within one cluster pull the floor to ~0.90
    // (measured 0.897) — still far above the ~0.52 cross-center ceiling
    val within = a.join(b, "rk").filter(col("ia") < col("ib"))
      .agg(min(cos(col("ea"), col("eb")))).collect().head.getDouble(0)
    assert(within > 0.85, s"within-cluster cosine too low: $within")
    // cross-center: the 64 coarse seeds (one per center by the rank rule)
    val seeds = withRank.filter(col("vec_id") < 71 && col("vec_id") % 10 =!= 9)
    val cross = seeds.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(seeds.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") < col("ib"))
      .agg(max(cos(col("ea"), col("eb")))).collect().head.getDouble(0)
    assert(cross < 0.7, s"cross-center cosine too high: $cross")
  }
}
