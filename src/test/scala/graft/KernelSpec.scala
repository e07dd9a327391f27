package graft

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{Kernel, Kernels}

/** Every declared native kernel ([[Kernels.All]]), on generated rows that
  * include NULL inputs: whole-stage codegen and interpreted evaluation
  * (`spark.sql.codegen.factoryMode=NO_CODEGEN`, no whole-stage codegen)
  * give equal results, and under codegen the kernel's projection sits
  * inside a `WholeStageCodegenExec`. */
class KernelSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val base = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // own SQL conf: the interpreted run flips codegen settings
    val s = base.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private val pool = Seq("the", "a", "of", "data", "x", "é", "é",
    "naïve", "中文", "Ａ", "𝔘", "😀", "cafÃ©", "â€™s", "dropme",
    "HTTPS://WWW.Example.com:443/p/?utm_src=1&b=2&a=1#frag", "http://x.org/")

  private def text(r: Random): String = {
    val n = r.nextInt(9)
    val sep = () => " " * (1 + r.nextInt(2))
    (if (r.nextInt(5) == 0) " " else "") +
      Seq.fill(n)(pool(r.nextInt(pool.size))).mkString(sep())
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("toks", ArrayType(StringType, containsNull = false)),
    StructField("bin", BinaryType),
    StructField("cs", IntegerType, nullable = false),
    StructField("v", ArrayType(LongType, containsNull = false)),
    StructField("codes", ArrayType(IntegerType, containsNull = false)),
    StructField("f", ArrayType(FloatType, containsNull = false)),
    StructField("g", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** 240 rows; about one in six inputs of each column is NULL. From an
    * RDD, so the projections run in codegen, not folded at planning. */
  private lazy val frame: DataFrame = {
    val r = new Random(20261020L)
    def orNull[A](a: => A): Any = if (r.nextInt(6) == 0) null else a
    val rows = (0 until 240).map { i =>
      val t = orNull(text(r))
      val toks = if (t == null) null
        else t.asInstanceOf[String].split(" ").filter(_.nonEmpty).toSeq
      Row(i.toLong, t, toks,
        orNull(t match { case s: String => s.getBytes("UTF-8"); case _ => Array[Byte](7) }),
        if (r.nextBoolean()) 873 else 178,
        orNull(Seq.fill(8)(r.nextInt(101) - 50L)),
        orNull(Seq.fill(2)(r.nextInt(3))),
        orNull(Seq.fill(4)(r.nextInt(5).toFloat - 2f)),
        Seq.fill(4)(r.nextInt(5).toFloat - 2f))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  // side tables, as literals: a 2-subspace × 3-cluster PQ codebook over
  // 4-dim subvectors, its distance table, an 8-dim k-means pack, an SQ8
  // book with a zero span, a DSIR log-ratio table with NULL buckets and
  // sorted BM25 query terms
  private val pqCents = typedLit(for (m <- 0 until 2; c <- 0 until 3)
    yield (m, c, Seq.tabulate(4)(j => (m * 7 + c * 13 + j * 5) % 41 - 20L)))
    .cast("array<struct<m:int,cluster:int,cent:array<bigint>>>")
  private val dtable = typedLit(for (m <- 0 until 2; c <- 0 until 3)
    yield (m, c, (m + 1) * 10L + c)).cast("array<struct<m:int,cluster:int,d:bigint>>")
  private val kc = typedLit((0 until 4).map(c => (c, Seq.tabulate(8)(j => c * 9L - j))))
    .cast("array<struct<c:int,cent:array<bigint>>>")
  private val book = typedLit(Seq.tabulate(8)(j => (-50L + j, if (j == 3) 0L else 100L - j)))
    .cast("array<struct<mn:bigint,sc:bigint>>")
  private val qt = typedLit(Seq.tabulate(8)(j => (j * 3L, -10L, 90L + j)))
    .cast("array<struct<qv:bigint,mn:bigint,sc:bigint>>")
  private val lr = typedLit((0 until 256).map(b =>
    if (b % 5 == 0) None else Some((b - 128) / 37.0)))
  private val terms = typedLit(Seq("a", "data", "the", "é").map(_ -> 3L))
    .cast("array<struct<token:string,df:bigint>>")

  private val t = col("text")
  private val toks = col("toks")

  /** One call per declared kernel: column inputs, then constants. */
  private val cases: Seq[(Kernel, Seq[Any])] = Seq(
    Kernels.Tokens -> Seq(t),
    Kernels.TokenCount -> Seq(t),
    Kernels.Shingles3 -> Seq(t),
    Kernels.SpanHashes -> Seq(t, 2),
    Kernels.SpanHashes64 -> Seq(t, 2),
    Kernels.WinnowedWindows -> Seq(t, 4, 2, 128),
    Kernels.StridedWindows -> Seq(t, 4, 3),
    Kernels.MinHashSig -> Seq(toks, 4),
    Kernels.MinHashSig64 -> Seq(toks, 4),
    Kernels.OphSig -> Seq(toks, 4),
    Kernels.TokenTf -> Seq(t),
    Kernels.TfIntersect -> Seq(Kernels.TokenTf(t), Kernels.TokenTf(lit("the a the é x"))),
    Kernels.SimHashBits -> Seq(toks, 64),
    Kernels.UrlCanon -> Seq(t),
    Kernels.MojibakeFix -> Seq(t),
    Kernels.NfcNormalize -> Seq(t),
    Kernels.StripAccents -> Seq(t),
    Kernels.DsirBuckets -> Seq(toks),
    Kernels.DsirScore -> Seq(toks, lr),
    Kernels.Md5U32 -> Seq(t),
    Kernels.PqEncode -> Seq(col("v"), pqCents, 2, 4),
    Kernels.AdcSum -> Seq(col("codes"), dtable, 2),
    Kernels.NearestCent -> Seq(col("v"), kc),
    Kernels.SqEncode -> Seq(col("v"), book),
    Kernels.SqDist -> Seq(col("bin"), qt),
    Kernels.SqBytes -> Seq(col("bin")),
    Kernels.CharsetDecode -> Seq(col("bin"), col("cs")),
    Kernels.CosineSimilarity -> Seq(col("f"), col("g")),
    Kernels.Bm25Score -> Seq(sort_array(Kernels.TokenTf(t)), terms,
      Kernels.TokenCount(t), 100.0, 5.0))

  /** Comparable form of a result cell: bytes and rows as sequences,
    * doubles as raw bits (NaN included). */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  private def interpreted[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  /** The plan nodes fused into some whole-stage codegen stage. */
  private def fused(p: SparkPlan): Seq[SparkPlan] = {
    def under(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: InputAdapter => Nil
      case _ => n +: n.children.flatMap(under)
    }
    p.collect { case w: WholeStageCodegenExec => under(w.child) }.flatten
  }

  test("the table below covers every declared kernel once") {
    assert(cases.map(_._1).distinct.size == cases.size)
    assert(cases.map(_._1).toSet == Kernels.All.toSet)
    assert(Kernels.All.distinct.size == Kernels.All.size)
  }

  cases.foreach { case (k, args) =>
    test(s"${k.name} (${k.method}): codegen == interpreted, in whole-stage " +
        "codegen, NULL in NULL out") {
      val df = frame.select(col("id"), k(args: _*).as("out"))
      val plan = df.queryExecution.executedPlan
      val holders = plan.collect {
        case n if n.expressions.exists(_.exists(k.calledBy)) => n
      }
      assert(holders.nonEmpty, s"${k.name} is not in the plan:\n$plan")
      val inCodegen = fused(plan).toSet
      assert(holders.forall(inCodegen), s"${k.name} runs outside whole-stage " +
        s"codegen:\n$plan")
      val codegen = df.orderBy("id").collect()
      val interp = interpreted(df.orderBy("id").collect())
      assert(codegen.length == 240 && interp.length == 240)
      codegen.zip(interp).foreach { case (a, b) =>
        assert(norm(a.get(1)) == norm(b.get(1)),
          s"${k.name} id ${a.getLong(0)}: codegen ${a.get(1)} vs " +
            s"interpreted ${b.get(1)}")
      }
      // non-trivial: both NULL (from a NULL input) and non-NULL results
      assert(codegen.exists(_.isNullAt(1)) && codegen.exists(!_.isNullAt(1)),
        s"${k.name}: results are all NULL or none is")
    }
  }
}
