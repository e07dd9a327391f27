package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recall levels on the CLUSTERED fixture (q222) — the r14 ask: the
  * q209/q218 recall gates run on TESTDATA's near-random vectors, where
  * any quantized index scores near the random-pick floor, so they pin
  * determinism but cannot FAIL when cell assignment or ADC breaks. The
  * q222 corpus (16 md5-derived centers + small id-keyed noise,
  * within-cluster cosine ≥ 0.99, max cross-center cosine ~0.28) is the
  * regime IVF-PQ exists for; on it the levels are sharp and this spec
  * asserts them:
  *
  *   - cell_global_hit = 1.0 (≥ the 0.8 bar with margin): the coarse
  *     quantizer must put every query's true neighbor in the probed
  *     cell — a wrong tie rule, a broken seed order, or a lost bucket
  *     drops this toward the 1/k floor immediately;
  *   - pq_cell_hit ≥ 14/50: ADC top-1 AMONG NEAR-TIES (every in-cell
  *     candidate sits at cosine ≥ 0.99 from the query, so exact top-1
  *     is the harshest possible ADC metric) — measured 20/50 with the
  *     r16 not-in-cents codebook seeding (~11× the 1/|cell| ≈ 1/28
  *     random-pick floor; the r15 `vec_id ≥ 8` rule seeded 8 coarse
  *     centroids whose residuals are all zero — a degenerate book that
  *     still scored 12/50 off tie-breaking), fully deterministic on
  *     the fixed corpus. A broken ADC sum or a regression to the
  *     zero-residual seed trap falls below the margin.
  *
  * q226/q227 + RegimeRecallSpec carry the residual-vs-raw A/B in the
  * cells ≫ codebook regime; this fixture keeps the INVERTED-regime
  * determinism gate (16 cells vs 8 entries).
  *
  * sf0.01 (500 vectors): big enough that the levels are not small-n
  * artifacts, small enough for a unit spec.
  */
class ClusteredRecallSpec extends AnyFunSuite {

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

  test("clustered fixture separates: coarse recall 1.0, ADC well above the random floor") {
    val df = graft.queries.VectorOps.defs("q222_clustered_recall")(
      spark, "/root/testdata/sf0.01")
    val r = df.agg(
      sum("cell_global_hit").cast("long"),
      sum("pq_cell_hit").cast("long"),
      count(lit(1))).collect().head
    val (cellHit, pqHit, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n == 50L)
    assert(cellHit == n, s"coarse pruning lost true neighbors: $cellHit/$n")
    assert(pqHit >= 14L, s"ADC top-1 at/near the random-pick floor: $pqHit/$n")
  }

  test("the fixture itself is clustered (within >> cross center cosine)") {
    val cv = graft.queries.VectorOps.clusteredVecs(
      graft.core.Tables.load(spark, "/root/testdata/sf0.01", "embeddings"))
    val cos = graft.functions.Kernels.CosineSimilarity
    // within-cluster: id vs id+16 (same center, different noise)
    val a = cv.select(col("vec_id"), col("embedding").as("ea"))
    val b = cv.select((col("vec_id") - 16).as("vec_id"),
      col("embedding").as("eb"))
    val within = a.join(b, "vec_id")
      .agg(min(cos(col("ea"), col("eb")))).collect().head.getDouble(0)
    assert(within > 0.98, s"within-cluster cosine too low: $within")
    // cross-center: the 16 centers themselves (ids 0..15, noise included)
    val c = cv.filter(col("vec_id") < 16)
    val cross = c.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(c.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") < col("ib"))
      .agg(max(cos(col("ea"), col("eb")))).collect().head.getDouble(0)
    assert(cross < 0.5, s"cross-center cosine too high: $cross")
  }
}
