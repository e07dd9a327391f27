package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.Kernels.{CosineSimilarity => cosineSim}

/** Native CosineSimilarity expression: bit-parity with the HOF fold,
  * null handling, codegen path. */
class ExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").appName("expr-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def hofCosine(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def fold(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0.0), (acc, x) => acc + x)
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      fold(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")))
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("bit-identical to the HOF left-fold formulation") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, -0.2f, 0.3f), Array(-0.4f, 0.5f, -0.6f)),
      (Array.fill(64)(0.123f), Array.fill(64)(-0.456f))).toDF("a", "b")
    val rows = df.select(
      cosineSim(col("a"), col("b")).as("native"),
      hofCosine(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null input propagates null") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    val r = df.select(cosineSim(col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
  }

  test("survives both codegen and interpreted paths") {
    import spark.implicits._
    val df = Seq((Array(3.0f, 4.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted = df.select(cosineSim(col("a"), col("b"))).collect().head.getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    val codegen = df.select(cosineSim(col("a"), col("b"))).collect().head.getDouble(0)
    assert(interpreted == codegen)
    assert(math.abs(codegen - 1.0) < 1e-12)
  }
}
