package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** One native scalar kernel (SURVEY.md §2.10 promotion rule): a static
  * method `owner.method(columns..., constants...)` over Catalyst's internal
  * values, declared with its SQL name, column input types, constant
  * parameter types, result type and whether it may return NULL for
  * non-NULL input (an input type of `array<struct<>>` accepts an array of
  * any struct). The declaration builds the Column API (`apply`), the
  * SQL entry (`entry`) and the Catalyst node ([[KernelCall]]), so a kernel
  * is its method plus one line in [[Kernels]].
  *
  * Constants (`minhash_sig`'s n, `pq_encode`'s m/subdim, BM25's corpus
  * statistics) arrive as literals and are baked into the call; any NULL
  * column input yields NULL without calling the method. */
final case class Kernel(name: String, owner: Class[_], method: String,
    inputs: Seq[DataType], dataType: DataType,
    nullable: Boolean = false, consts: Seq[DataType] = Nil) {

  /** Column API: the column inputs, then the constants as plain values. */
  def apply(args: Any*): Column = Bridge.column(build(args.map {
    case c: Column => Bridge.expression(c)
    case v => Literal(v)
  }))

  /** The Catalyst node for `args` (columns, then literal constants). */
  def build(args: Seq[Expression]): Expression = {
    require(args.size == inputs.size + consts.size,
      s"$name takes ${inputs.size + consts.size} arguments, got ${args.size}")
    val (cols, lits) = args.splitAt(inputs.size)
    KernelCall(this, cols, lits.zip(consts).map {
      case (Literal(v, t), ct) if t == ct && v != null => v
      case (e, ct) => throw new IllegalArgumentException(
        s"$name: argument ${e.sql} must be a ${ct.sql} literal")
    })
  }

  /** `SparkSessionExtensions.injectFunction` triple for the SQL name. */
  def entry(usage: String): (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(owner.getName, null, name, usage, ""), build _)

  /** Whether column input `i` accepts `dt`, nullability aside. */
  def accepts(i: Int, dt: DataType): Boolean = (inputs(i), dt) match {
    case (ArrayType(s: StructType, _), ArrayType(_: StructType, _)) if s.isEmpty => true
    case (t, _) => DataType.equalsStructurally(t, dt, ignoreNullability = true)
  }

  /** True when `e` is this kernel's call as it runs in a physical plan. */
  def calledBy(e: Expression): Boolean = e match {
    case s: StaticInvoke => s.staticObject == owner && s.functionName == method
    case _ => false
  }
}

/** The one Catalyst node behind every [[Kernel]]. Analysis sees
  * `name(columns)` (type check, auto column name); the optimizer replaces
  * it by a `StaticInvoke` of the kernel's method, the idiom of Spark's own
  * `url_encode`, so the call runs inside whole-stage codegen as one static
  * call and interpreted as one reflective call. */
case class KernelCall(kernel: Kernel, children: Seq[Expression],
    constants: Seq[Any]) extends RuntimeReplaceable {

  override lazy val replacement: Expression = StaticInvoke(kernel.owner,
    kernel.dataType, kernel.method,
    children ++ constants.zip(kernel.consts).map { case (v, t) => Literal(v, t) },
    returnNullable = kernel.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType).zipWithIndex.collectFirst {
      case (dt, i) if !kernel.accepts(i, dt) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ${kernel.inputs.map(_.sql).mkString(", ")} " +
          s"inputs, got ${children.map(_.dataType.sql).mkString(", ")}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  override def prettyName: String = kernel.name
  override protected def flatArguments: Iterator[Any] =
    children.iterator ++ constants.iterator

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

/** Every native scalar kernel, one declaration each. */
object Kernels {
  private val text = TextNative.getClass
  private val cur = CurationNative.getClass
  private val dsir = DsirNative.getClass
  private val pq = PqNative.getClass
  private val sq = SqNative.getClass
  private val strs = ArrayType(StringType, containsNull = false)
  private val longs = ArrayType(LongType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val int = IntegerType
  private val StructArray = ArrayType(new StructType())
  private val windows = ArrayType(StructType(Seq(
    StructField("p", IntegerType, nullable = false),
    StructField("h", StringType, nullable = false))), containsNull = false)

  val Tokens = Kernel("graft_tokens", text, "tokens", Seq(StringType), strs)
  val TokenCount = Kernel("graft_token_count", text, "tokenCount", Seq(StringType), IntegerType)
  val Shingles3 = Kernel("shingles3", text, "shingles3", Seq(StringType), strs)
  val SpanHashes = Kernel("span_hashes", text, "spanHashes", Seq(StringType), strs, consts = Seq(int))
  val SpanHashes64 = Kernel("span_hashes", text, "spanHashes64", Seq(StringType), longs, consts = Seq(int))
  val WinnowedWindows = Kernel("window_hashes", text, "winnowedWindows", Seq(StringType), windows, consts = Seq(int, int, int))
  val StridedWindows = Kernel("window_hashes", text, "stridedWindows", Seq(StringType), windows, consts = Seq(int, int))
  val MinHashSig = Kernel("minhash_sig", text, "minhashSig", Seq(ArrayType(StringType)), strs, nullable = true, Seq(int))
  val MinHashSig64 = Kernel("minhash_sig", text, "minhashSig64", Seq(ArrayType(StringType)), longs, nullable = true, Seq(int))
  val OphSig = Kernel("oph_sig", text, "ophSig", Seq(ArrayType(StringType)), strs, nullable = true, Seq(int))
  val TokenTf = Kernel("token_tf", text, "tokenTf", Seq(StringType), ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("tf", IntegerType, nullable = false))), containsNull = false))
  val TfIntersect = Kernel("tf_intersect", text, "tfIntersect", Seq(StructArray, StructArray), LongType)
  val SimHashBits = Kernel("simhash_bits", text, "simhashSig", Seq(ArrayType(StringType)), LongType, consts = Seq(int))
  val UrlCanon = Kernel("url_canon", cur, "urlCanon", Seq(StringType), StringType)
  val MojibakeFix = Kernel("mojibake_fix", cur, "mojibakeFix", Seq(StringType), StringType)
  val NfcNormalize = Kernel("nfc_normalize", cur, "nfcNormalize", Seq(StringType), StringType)
  val StripAccents = Kernel("strip_accents", cur, "stripAccents", Seq(StringType), StringType)
  val DsirBuckets = Kernel("dsir_buckets", dsir, "buckets", Seq(ArrayType(StringType)), ints)
  val DsirScore = Kernel("dsir_score", dsir, "score", Seq(ArrayType(StringType), ArrayType(DoubleType)), DoubleType, nullable = true)
  val Md5U32 = Kernel("md5_u32", dsir, "md5U32", Seq(StringType), LongType)
  val PqEncode = Kernel("pq_encode", pq, "pqEncode", Seq(ArrayType(LongType), StructArray), ints, consts = Seq(int, int))
  val AdcSum = Kernel("adc_sum", pq, "adcSum", Seq(ArrayType(IntegerType), StructArray), LongType, consts = Seq(int))
  val NearestCent = Kernel("nearest_cent", pq, "nearestCent", Seq(ArrayType(LongType), StructArray), StructType(Seq(
    StructField("d", LongType, nullable = false), StructField("c", IntegerType, nullable = false))))
  val SqEncode = Kernel("sq_encode", sq, "sqEncode", Seq(ArrayType(LongType), StructArray), BinaryType)
  val SqDist = Kernel("sq_dist", sq, "sqDist", Seq(BinaryType, StructArray), LongType)
  val SqBytes = Kernel("sq_bytes", sq, "sqBytes", Seq(BinaryType), ints)
  val CharsetDecode = Kernel("ora_charset_decode", CharsetNative.getClass, "decode", Seq(BinaryType, IntegerType), StringType)
  val CosineSimilarity = Kernel("cosine_similarity", VectorNative.getClass, "cosine", Seq(ArrayType(FloatType), ArrayType(FloatType)), DoubleType)
  val Bm25Score = Kernel("bm25_score", Bm25Native.getClass, "score", Seq(StructArray, StructArray, IntegerType), DoubleType, consts = Seq(DoubleType, DoubleType))

  val All: Seq[Kernel] = Seq(Tokens, TokenCount, Shingles3, SpanHashes, SpanHashes64,
    WinnowedWindows, StridedWindows, MinHashSig, MinHashSig64, OphSig, TokenTf,
    TfIntersect, SimHashBits, UrlCanon, MojibakeFix, NfcNormalize, StripAccents,
    DsirBuckets, DsirScore, Md5U32, PqEncode, AdcSum, NearestCent, SqEncode, SqDist,
    SqBytes, CharsetDecode, CosineSimilarity, Bm25Score)

  /** The session's `graft.hash` knob ("md5" default, "xxhash64" the
    * compact production mode), read at plan-construction time: the plan
    * carries the chosen method, so executors never consult conf. */
  private def xxhash: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .exists(_.conf.get("graft.hash", "md5") == "xxhash64")

  /** Distinct hashes of `text`'s n-token spans, in the session's hash mode. */
  def spanHashes(text: Column, n: Int): Column =
    (if (xxhash) SpanHashes64 else SpanHashes)(text, n)

  /** nSig-element MinHash signature, in the session's hash mode. */
  def minhashSig(shingles: Column, nSig: Int): Column =
    (if (xxhash) MinHashSig64 else MinHashSig)(shingles, nSig)

  /** `unigram_encode(text)` over a driver-built vocabulary (see
    * [[UnigramNative.UnigramEncode]]). */
  def unigramEncode(text: Column, vocab: Map[String, Long]): Column =
    Bridge.column(UnigramNative.UnigramEncode(Bridge.expression(text), vocab))
}
