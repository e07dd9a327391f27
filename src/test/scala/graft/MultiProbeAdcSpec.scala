package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multi-probe on the ADC serving path, measured (the q225 gate's
  * companion — the r15 ask wanted the decomposition evidence, not just
  * a green hash): q218 shows coarse-pruning loss dominating on the
  * near-random corpus (true neighbor in the argmax cell for only
  * ~15/50 queries at sf0.01), and the standard FAISS answer is nProbe
  * on the PQ path. This spec measures the two levels that justify the
  * dial:
  *
  *   - COARSE CONTAINMENT rises with P: the true global nearest lies
  *     in the union of the query's top-P cells strictly more often at
  *     P = 2 than at P = 1 on the random corpus (each extra probed
  *     cell can only add candidates);
  *   - the final ADC pick's true-hit count at P = 2 is never below
  *     P = 1 on the clustered fixture, where single-probe containment
  *     is already at the ceiling (50/50) — widening the probe must not
  *     cost correct answers there (an extra cell's candidates can
  *     displace the true pick only through ADC noise; measured: stays
  *     at the same level).
  */
class MultiProbeAdcSpec extends AnyFunSuite {

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

  private val sf = "/root/testdata/sf0.01"

  /** (containment@P, adcTrueHits@P) for the given corpus + index. */
  private def levels(name: String, corpus: org.apache.spark.sql.DataFrame,
      k: Int, p: Int): (Long, Long) = {
    val hist = corpus.filter(col("vec_id") % 10 =!= 9)
    val delta = corpus.filter(col("vec_id") % 10 === 9)
    if (!graft.operators.IvfIndex.exists(spark, name)) {
      graft.operators.IvfIndex.write(spark, hist, name, k = k)
      graft.operators.IvfIndex.pqAttach(spark, name)
    }
    // brute integer-L2 truth (the q218 discipline: min-struct, ties to
    // the lowest old_id)
    def quant(c: org.apache.spark.sql.Column) =
      transform(c, x => round(x.cast("double") * 1048576.0).cast("long"))
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (s, d) => s + d)
    val brute = hist
      .select(col("vec_id").as("old_id"), quant(col("embedding")).as("hq"))
      .crossJoin(broadcast(delta.select(col("vec_id").as("q_id"),
        quant(col("embedding")).as("q"))))
      .select(col("q_id"), col("old_id"), d2(col("q"), col("hq")).as("d2"))
      .groupBy("q_id")
      .agg(min(struct(col("d2"), col("old_id"))).getField("old_id")
        .as("true_old"))
    // probed candidate set + ADC pick, both off the stored codes
    val scores = graft.operators.IvfIndex
      .adcScores(spark, name, delta, nProbe = p)
    val contained = scores
      .join(brute, scores("new_id") === brute("q_id") &&
        scores("old_id") === brute("true_old"))
      .select("new_id").distinct().count()
    val pick = scores.groupBy("new_id")
      .agg(min(struct(col("approx_d"), col("old_id")))
        .getField("old_id").as("pq_old"))
    val hits = pick.join(brute, pick("new_id") === brute("q_id"))
      .filter(col("pq_old") === col("true_old")).count()
    (contained, hits)
  }

  test("P=2 raises coarse containment on the random corpus") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (c1, _) = levels("mpadc_rand", e, 8, 1)
    val (c2, _) = levels("mpadc_rand", e, 8, 2)
    assert(c2 > c1,
      s"probing 2 cells must contain the true neighbor more often: " +
        s"P=1 $c1, P=2 $c2")
  }

  test("P=2 never costs true hits on the clustered fixture") {
    val cv = graft.queries.VectorOps.clusteredVecs(
      graft.core.Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding")))
    val (c1, h1) = levels("mpadc_cl", cv, 16, 1)
    val (c2, h2) = levels("mpadc_cl", cv, 16, 2)
    assert(c1 == 50L && c2 == 50L,
      s"clustered coarse containment should be at ceiling: $c1 / $c2")
    assert(h2 >= h1, s"P=2 lost ADC true hits: $h2 < $h1")
  }
}
