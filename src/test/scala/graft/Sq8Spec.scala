package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization (q232/q233): native-kernel mirrors, the
  * regime-fixture A/B against PQ, and the artifact lifecycle. The
  * oracle gates pin codes and serving bit-for-bit; this spec pins —
  *
  *   - SqEncode/SqDist/SqBytes output equality against plain-Scala
  *     mirrors (the PqNative/VectorOpsSpec discipline for
  *     CodegenFallback kernels),
  *   - the LAYOUT CLAIM: on the regime fixture (64 clusters ≫ any
  *     codebook, structured within-cell spread) SQ8's 16×-wider codes
  *     must beat the shipped residual PQ's true-hit count — the
  *     memory/recall middle ground the format exists for; if a code
  *     change ever flips this, the 64-byte layout has lost its
  *     justification and should be dropped,
  *   - invalidation on every index mutation (append drops SQ even
  *     when it grows the PQ codes — nothing appends SQ codes) and
  *     lockstep compaction survival (membership unchanged ⇒ codes +
  *     book stay).
  */
class Sq8Spec extends AnyFunSuite {

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

  // deterministic integer vectors: v(i, j) = ((i·31 + j·17) mod 97) − 48
  private def mkVecs(n: Int, d: Int): Seq[(Long, Seq[Long])] =
    (0 until n).map(i => (i.toLong,
      (0 until d).map(j => (((i * 31 + j * 17) % 97) - 48).toLong)))

  test("native SqEncode/SqDist/SqBytes match plain-Scala mirrors") {
    import spark.implicits._
    val n = 20; val d = 8
    val vecs = mkVecs(n, d)
    val mins = (0 until d).map(j => vecs.map(_._2(j)).min)
    val spans = (0 until d).map(j => vecs.map(_._2(j)).max - mins(j))
    def encode(v: Seq[Long]): Seq[Int] =
      (0 until d).map { j =>
        if (spans(j) <= 0L || v(j) <= mins(j)) 0
        else math.min(255L, (v(j) - mins(j)) * 255L / spans(j)).toInt
      }
    def dist(q: Seq[Long], c: Seq[Int]): Long =
      (0 until d).map { j =>
        val recon = mins(j) + c(j).toLong * spans(j) / 255L
        val diff = q(j) - recon
        diff * diff
      }.sum
    val bookDf = Seq(Tuple1(
      (0 until d).map(j => (mins(j), spans(j))))).toDF("book")
      .select(transform(col("book"), b => struct(b.getField("_1").as("mn"),
        b.getField("_2").as("sc"))).as("book"))
    val got = vecs.toDF("vec_id", "q")
      .crossJoin(broadcast(bookDf))
      .select(col("vec_id"),
        graft.functions.Kernels.SqBytes(
          graft.functions.Kernels.SqEncode(col("q"), col("book")))
          .as("codes"),
        graft.functions.Kernels.SqDist(
          graft.functions.Kernels.SqEncode(col("q"), col("book")),
          zip_with(col("q"), col("book"), (x, b) => struct(x.as("qv"),
            b.getField("mn").as("mn"), b.getField("sc").as("sc"))))
          .as("self_d"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getLong(2)))).toMap
    vecs.foreach { case (id, v) =>
      val (codes, selfD) = got(id)
      assert(codes == encode(v), s"codes mismatch for $id")
      assert(selfD == dist(v, encode(v)), s"self-distance mismatch for $id")
      // the quantization error bound: one step per dim, span/255 each
      val bound = (0 until d).map { j =>
        val step = spans(j) / 255L + 1L; step * step }.sum
      assert(selfD <= bound, s"self-distance above the step bound for $id")
    }
  }

  test("regime A/B: SQ8's 16x-wider codes beat residual PQ true-hits " +
      "on the fixture the layouts are sized for") {
    val name = "sq8_spec_idx"
    val rv = graft.queries.VectorOps
      .regimeVecs(graft.core.Tables.load(spark, sf, "embeddings"))
      .localCheckpoint()
    val hist = rv.filter(col("vec_id") % 10 =!= 9)
    val delta = rv.filter(col("vec_id") % 10 === 9)
    graft.operators.IvfIndex.write(spark, hist, name, k = 64)
    graft.operators.IvfIndex.pqAttach(spark, name) // residual (shipped)
    graft.operators.IvfIndex.sqAttach(spark, name)
    // brute integer-L2 truth (min-struct, ties to the lowest old_id)
    def quant(c: org.apache.spark.sql.Column) =
      transform(c, x => round(x.cast("double") * 1048576.0).cast("long"))
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (s, v) => s + v)
    val truth = hist
      .select(col("vec_id").as("old_id"), quant(col("embedding")).as("hq"))
      .crossJoin(broadcast(delta.select(col("vec_id").as("new_id"),
        quant(col("embedding")).as("q"))))
      .select(col("new_id"), col("old_id"), d2(col("q"), col("hq")).as("d"))
      .groupBy("new_id")
      .agg(min(struct(col("d"), col("old_id"))).getField("old_id")
        .as("true_old"))
    val pqPick = graft.operators.IvfIndex
      .adcScores(spark, name, delta.select("vec_id", "embedding"))
      .groupBy("new_id")
      .agg(min(struct(col("approx_d"), col("old_id"))).getField("old_id")
        .as("pick"))
    val sqPick = graft.operators.IvfIndex
      .sqTopK(spark, name, delta.select("vec_id", "embedding"),
        k = 1, nProbe = 1)
      .select(col("new_id"), col("old_id").as("pick"))
    def hits(pick: org.apache.spark.sql.DataFrame): Long =
      pick.join(truth, "new_id")
        .filter(col("pick") === col("true_old")).count()
    val n = delta.count()
    val (pqHits, sqHits) = (hits(pqPick), hits(sqPick))
    info(s"regime true-hits over $n queries: PQ(residual)=$pqHits SQ8=$sqHits")
    assert(sqHits >= pqHits,
      "SQ8 spends 16x PQ's bits; losing the regime A/B means the " +
        "64-byte layout has no justification")
    assert(sqHits >= (n * 9) / 10,
      "SQ8 at 8 bits/dim should be near-exact on the regime fixture")
  }

  private def sqAttached(n: String): Boolean =
    graft.operators.IvfIndex.attached(spark, n, graft.operators.IvfIndex.Sq)

  test("lifecycle: mutations drop SQ artifacts; dedup-only compaction " +
      "keeps them aligned") {
    val name = "sq8_spec_idx2"
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val vecs = emb.filter(col("vec_id") < 40).localCheckpoint()
    graft.operators.IvfIndex.write(spark, vecs, name)
    graft.operators.IvfIndex.sqAttach(spark, name)
    assert(sqAttached(name))
    // dedup-only compaction: codes compact in lockstep, book survives
    graft.operators.IvfIndex.compact(spark, name)
    assert(sqAttached(name),
      "compaction never changes membership; SQ artifacts must survive")
    val cells = spark.table(s"${name}_cells").count()
    val codes = spark.table(s"${name}_sqcodes").count()
    assert(cells == codes, s"codes ($codes) out of step with cells ($cells)")
    // append: nothing appends SQ codes -> must invalidate
    graft.operators.IvfIndex.append(spark,
      emb.filter(col("vec_id") === 40), name)
    assert(!sqAttached(name),
      "append must drop SQ: a stale codes table hides appended rows " +
        "from every SQ serve")
    graft.operators.IvfIndex.sqAttach(spark, name)
    graft.operators.IvfIndex.remove(spark, name,
      vecs.select("vec_id").limit(1))
    assert(!sqAttached(name),
      "remove must drop SQ: lingering codes resurrect removed vectors")
  }
}
