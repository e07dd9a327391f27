package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Conv, HigherOrderFunction}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.queries.SelectionOps

/** Property check of the DSIR kernels ([[graft.functions.Kernels.DsirBuckets]],
  * [[graft.functions.Kernels.DsirScore]]) against the Column formulation they
  * replaced ([[DsirReference]]): on random documents — non-ASCII and
  * supplementary-plane tokens whose UTF-16 and UTF-8 orders differ,
  * repeated tokens, one-token documents — buckets must be equal and the
  * unrounded score equal bit for bit, NULL where a token's bucket has no
  * count, under whole-stage codegen and interpreted evaluation alike.
  * Plus a plan guard: q120 and q125 run no higher-order function and no
  * `conv`. */
class DsirKernelSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // "Ａ" (U+FF21) sorts after a surrogate pair in UTF-16 but before the
  // 4-byte UTF-8 form of a supplementary character ("𝔘", "😀", "𠀀x")
  private val pool = Seq("the", "a", "of", "data", "x", "é", "naïve", "中文",
    "日本語", "Ａ", "z", "𝔘", "😀", "aＡ",
    "a😀", "𠀀x", "Zz", "zz", "0", "dropme")

  private val docGen: Gen[Seq[String]] = Gen.frequency(
    2 -> Gen.oneOf(pool).map(Seq(_)), // one-token document
    2 -> Gen.zip(Gen.oneOf(pool), Gen.choose(2, 6))
      .map { case (t, n) => Seq.fill(n)(t) }, // one token repeated
    6 -> Gen.choose(2, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf(pool))))

  private val rowGen: Gen[(String, Seq[String])] =
    Gen.zip(Gen.oneOf("src0", "src1", "src2"), docGen)

  /** `n` generated (doc_id, source, t) rows, from an RDD so that the
    * projections run in whole-stage codegen, not folded at planning. */
  private def frame(seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val (src, toks) = rowGen.pureApply(Gen.Parameters.default,
        Seed(seed * 100003L + i))
      (i.toLong, src, toks)
    }
    spark.sparkContext.parallelize(rows, 2).toDF("doc_id", "source", "t")
  }

  private def interpreted[A](body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None
    else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))

  private def kernelInCodegen(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }.exists(_.child.expressions.exists(_.exists(Kernels.DsirScore.calledBy)))

  /** Buckets and unrounded scores of `seed`'s documents, with the bucket
    * of "dropme" taken out of the counts. */
  private def check(seed: Long, codegen: Boolean): Unit = {
    val df = frame(seed, 300).cache()
    val b = df.select(col("doc_id"),
      Kernels.DsirBuckets(col("t")).as("n"),
      DsirReference.buckets(col("t")).as("r")).collect()
    b.foreach { r =>
      assert(r.getSeq[Int](1).map(_.toLong) == r.getSeq[Long](2),
        s"seed $seed doc ${r.getLong(0)}")
    }
    val dropped = spark.range(1).select(
      DsirReference.bucketCol(lit("dropme"))).head().getLong(0)
    val cs = DsirReference.counts(df).filter(_._1 != dropped)
    val cTot = cs.map(_._2).sum + SelectionOps.DsirNBuckets
    val tTot = cs.map(_._3).sum + SelectionOps.DsirNBuckets
    val table = SelectionOps.dsirLogRatios(
      cs.map(c => c._1.toInt -> (c._2, c._3)).toMap)
    // two projections: a lambda in the kernel's projection would take
    // the kernel out of whole-stage codegen with it
    val scored = df.select(col("doc_id"), col("t"),
      Kernels.DsirScore(col("t"), typedLit(table)).as("n"))
    if (codegen) assert(kernelInCodegen(scored),
      s"dsir_score is outside whole-stage codegen:\n" +
        scored.queryExecution.executedPlan)
    val rows = scored.orderBy("doc_id").collect()
    val ref = df.select(col("doc_id"),
      DsirReference.score(col("t"), cs, cTot, tTot).as("r"))
      .orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == ref.map(_.getLong(0)).toSeq)
    rows.zip(ref).foreach { case (r, e) =>
      assert(bits(r, 2) == bits(e, 1),
        s"seed $seed doc ${r.getLong(0)} ${r.getSeq[String](1)}: " +
          s"${r.get(2)} vs ${e.get(1)}")
    }
    // every case was exercised
    assert(rows.exists(_.isNullAt(2)) && rows.exists(!_.isNullAt(2)))
    val toks = rows.map(_.getSeq[String](1))
    assert(toks.exists(_.length == 1))
    assert(toks.exists(t => t.length > 1 && t.distinct.length == 1))
    assert(toks.exists(t => t.sorted !=
      t.sortBy(_.getBytes("UTF-8").toSeq.map(_ & 0xff))(
        Ordering.Implicits.seqOrdering[Seq, Int])),
      "no document whose UTF-16 and UTF-8 token orders differ")
    df.unpersist()
  }

  test("DsirBuckets/DsirScore match the conv/map-literal lambda fold " +
      "bit for bit (whole-stage codegen)") {
    Seq(31L, 32L).foreach(check(_, codegen = true))
  }

  test("DsirBuckets/DsirScore match the conv/map-literal lambda fold " +
      "bit for bit (interpreted evaluation)") {
    interpreted(check(33L, codegen = false))
  }

  test("dsirWeightsOf equals the Column formulation on the corpus") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    def rows(df: DataFrame) = df.orderBy("doc_id").collect().toSeq
    val got = rows(SelectionOps.dsirWeightsOf(docs))
    assert(got.nonEmpty && got == rows(DsirReference.weightsOf(docs)))
  }

  test("q120/q125 executed plans hold no higher-order function and no conv") {
    Seq("q120_dsir_weight", "q125_importance_resample").foreach { q =>
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      assert(df.collect().nonEmpty, q)
      val plan = df.queryExecution.executedPlan
      val bad = collectWithSubqueries(plan) { case p => p.expressions }
        .flatten.flatMap(_.collect {
          case h: HigherOrderFunction => h.prettyName
          case c: Conv => c.prettyName
        })
      assert(bad.isEmpty, s"$q runs ${bad.mkString(", ")}:\n$plan")
    }
  }
}
