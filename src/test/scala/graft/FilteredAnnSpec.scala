package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The metadata-filtered ANN serving surface (q230/q231): the
  * cell-colocated payload table (IvfIndex.metaAttach), the per-query
  * label-equality serve (filteredAdcTopK), and the selectivity-adaptive
  * strategy switch (filteredTopK). The oracle gates pin the answers
  * bit-for-bit; this spec pins the parts a hash can't see —
  *
  *   - WHICH branch the adaptive dispatch takes at each selectivity
  *     (read from the executed plan: the pre-filter branch must not
  *     scan the codes table; the dense branch must),
  *   - that the predicate actually PUSHES into the meta table's
  *     bucketed scan on the pre-filter branch,
  *   - the pre-filter branch's exactness (≡ brute force over the
  *     predicate slice, recomputed here from the source),
  *   - the per-query filter's semantics (labels equal, ranks a
  *     contiguous prefix, full k wherever enough same-label candidates
  *     exist in the probed cells),
  *   - and the _meta invalidation contract on every index mutation
  *     (append drops it even when it grows the PQ codes — nothing
  *     appends payload; dedup-only compaction keeps it — membership is
  *     unchanged).
  */
class FilteredAnnSpec extends AnyFunSuite {

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
  private val name = "fann_spec_idx"

  private def corpus = graft.core.Tables.load(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding"), col("label"))
  private def hist = corpus.filter(col("vec_id") % 10 =!= 9)
  private def delta = corpus.filter(col("vec_id") % 10 === 9)

  private def ensureIndex(): Unit = {
    if (!graft.operators.IvfIndex.exists(spark, name)) {
      graft.operators.IvfIndex.write(
        spark, hist.select("vec_id", "embedding"), name)
      graft.operators.IvfIndex.pqAttach(spark, name)
    }
    if (!metaAttached(name))
      graft.operators.IvfIndex.metaAttach(spark, name, hist)
  }

  private def metaAttached(n: String): Boolean =
    graft.operators.IvfIndex.attached(spark, n, graft.operators.IvfIndex.Meta)

  private val selectivePred = col("label") === 3 && col("vec_id") % 7 === 0
  private val densePred = col("label") === 3

  test("selective predicate takes the exact pre-filter branch: " +
      "no codes scan, label filter pushed into the meta scan") {
    ensureIndex()
    val df = graft.operators.IvfIndex.filteredTopK(
      spark, name, delta.select("vec_id", "embedding"), selectivePred, 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("_pqcodes"),
      "pre-filter branch must not touch the ADC codes table")
    assert(plan.contains("EqualTo(label,3)"),
      "label predicate must push into the meta table's file scan")
  }

  test("pre-filter branch is exact: equals brute force over the " +
      "predicate slice") {
    ensureIndex()
    val got = graft.operators.IvfIndex.filteredTopK(
        spark, name, delta.select("vec_id", "embedding"), selectivePred, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    def quant(c: org.apache.spark.sql.Column) =
      transform(c, x => round(x.cast("double") * 1048576.0).cast("long"))
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (s, d) => s + d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("new_id").orderBy(col("dist"), col("old_id"))
    val want = hist.filter(selectivePred)
      .select(col("vec_id").as("old_id"), quant(col("embedding")).as("hq"))
      .crossJoin(broadcast(delta.select(col("vec_id").as("new_id"),
        quant(col("embedding")).as("q"))))
      .select(col("new_id"), col("old_id"), d2(col("q"), col("hq")).as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .toSet
    assert(got == want)
    assert(got.nonEmpty, "fixture must be non-trivial")
  }

  test("dense predicate takes the ADC branch, and every result row " +
      "satisfies the predicate") {
    ensureIndex()
    val df = graft.operators.IvfIndex.filteredTopK(
      spark, name, delta.select("vec_id", "embedding"), densePred, 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("_pqcodes"),
      "dense branch must serve off the stored codes")
    val bad = df.join(
        hist.select(col("vec_id").as("old_id"), col("label")), "old_id")
      .filter(col("label") =!= 3).count()
    assert(bad == 0L)
    assert(df.count() > 0L)
  }

  test("per-query label filter: labels equal, ranks a contiguous " +
      "prefix, full k where enough same-label candidates exist") {
    ensureIndex()
    val res = graft.operators.IvfIndex
      .filteredAdcTopK(spark, name, delta, k = 3, nProbe = 2)
    val lab = corpus.select(col("vec_id"), col("label"))
    val mismatched = res
      .join(lab.select(col("vec_id").as("new_id"),
        col("label").as("ql")), "new_id")
      .join(lab.select(col("vec_id").as("old_id"),
        col("label").as("ol")), "old_id")
      .filter(col("ql") =!= col("ol")).count()
    assert(mismatched == 0L, "a result row crossed the label filter")
    // ranks are 1..n per query with no gaps
    val ranks = res.groupBy("new_id")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"),
        min(col("rank")).as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1).count()
    assert(ranks == 0L)
    // same-label candidate mass in the probed cells vs rows returned:
    // wherever >= 3 same-label candidates were scoreable, exactly 3 rows
    val avail = graft.operators.IvfIndex
      .adcScores(spark, name, delta.select("vec_id", "embedding"),
        nProbe = 2)
      .join(lab.select(col("vec_id").as("new_id"),
        col("label").as("ql")), "new_id")
      .join(lab.select(col("vec_id").as("old_id"),
        col("label").as("ol")), "old_id")
      .filter(col("ql") === col("ol"))
      .groupBy("new_id").agg(count(lit(1)).as("navail"))
    val short = avail.filter(col("navail") >= 3)
      .join(res.groupBy("new_id").agg(count(lit(1)).as("ngot")),
        Seq("new_id"), "left")
      .filter(col("ngot").isNull || col("ngot") =!= 3).count()
    assert(short == 0L)
  }

  test("_meta invalidation: dropped on append and remove, kept by " +
      "compaction") {
    val n2 = "fann_spec_idx2"
    val vecs = hist.select("vec_id", "embedding").limit(40)
      .localCheckpoint()
    graft.operators.IvfIndex.write(spark, vecs, n2)
    graft.operators.IvfIndex.metaAttach(spark, n2,
      hist.limit(40).localCheckpoint())
    assert(metaAttached(n2))
    // dedup-only compaction: membership unchanged -> meta survives
    graft.operators.IvfIndex.compact(spark, n2)
    assert(metaAttached(n2),
      "compaction never changes membership; meta must survive")
    // append: no payload append path exists -> must invalidate
    graft.operators.IvfIndex.append(spark,
      delta.select("vec_id", "embedding").limit(1), n2)
    assert(!metaAttached(n2),
      "append must drop meta: a stale copy hides appended rows from " +
        "every filtered serve")
    graft.operators.IvfIndex.metaAttach(spark, n2, corpus.limit(41))
    graft.operators.IvfIndex.remove(spark, n2,
      vecs.select("vec_id").limit(1))
    assert(!metaAttached(n2),
      "remove must drop meta: a lingering row resurrects the removed " +
        "vector in filtered serves")
  }
}
