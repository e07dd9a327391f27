package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.Materialize
import graft.cdc.Materialize.{Changed, FullInsDec, FullUpd, Options}

/** Property check of Materialize's one-pass image kernel
  * ([[graft.functions.MaterializeImages]]) against the per-step Spark SQL
  * Column expressions it replaced ([[MaterializeReference]]): on random
  * enriched rows — random tables with charset, guard, invisible, key,
  * unknown-type, JSON, XMLTYPE and tag columns, unmatched (schemaless)
  * rows, null images, null values, invalid hex, maps in random order —
  * every `Options` combination of column format × unknown-type SHOW ×
  * experimental JSON × experimental XMLTYPE × CHAR_FORMAT::HEX ×
  * schemaless must render the same rows (JSON of the whole row, so map
  * entry order counts) with the same schema, under whole-stage codegen
  * and interpreted evaluation alike. */
class MaterializeKernelPropSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val pool = Seq("ID", "NAME", "AMT", "CS_A", "CS_B", "SYS_NC$G",
    "GA", "GB", "HID", "UNK", "JDOC", "XDOC", "T1", "Z9")
  private val charsetIds = Seq(1, 31, 178, 852, 871, 873, 2000)

  private case class Table(name: String, cols: Seq[String],
      keyCols: Seq[String], tagCols: Seq[String], invisible: Seq[String],
      unknown: Seq[String], json: Seq[String], xml: Seq[String],
      charset: Map[String, Int], guardCol: Option[String],
      guarded: Seq[(String, Int)])

  private def subset(xs: Seq[String]): Gen[Seq[String]] =
    Gen.someOf(xs).map(_.toSeq)

  private val tableGen: Gen[Table] = for {
    name <- Gen.oneOf("T_A", "T_B", "T_C")
    cols <- Gen.atLeastOne(pool).map(_.toSeq)
    // lists may name columns the image lacks, as dictionaries do
    keyCols <- subset(cols :+ "MISSING")
    tagCols <- Gen.frequency(1 -> Gen.const(Nil), 3 -> subset(cols :+ "NOPE"))
    invisible <- subset(cols)
    unknown <- subset(cols)
    json <- subset(cols)
    xml <- subset(cols)
    csCols <- subset(cols)
    ids <- Gen.listOfN(csCols.size, Gen.oneOf(charsetIds))
    guardCol <- Gen.option(Gen.oneOf(cols))
    guardedNames <- subset(cols)
    segs <- Gen.listOfN(guardedNames.size, Gen.choose(0, 23))
  } yield Table(name, cols, keyCols, tagCols, invisible, unknown, json, xml,
    csCols.zip(ids).toMap, guardCol, guardedNames.zip(segs))

  private val hexGen: Gen[String] = Gen.frequency(
    8 -> Gen.listOf(Gen.choose(0, 255)).map(_.map(b => f"$b%02X").mkString),
    1 -> Gen.const("ZZ"), // invalid hex → NULL decode
    1 -> Gen.const("ABC")) // odd length

  private val textGen: Gen[String] =
    Gen.oneOf("", "a", "x|y", "é", "中文", "42", "-1.5", "O'Brien")

  private def valueGen(t: Option[Table], c: String): Gen[String] =
    Gen.frequency(1 -> Gen.const(null: String), 5 -> (
      if (t.exists(_.guardCol.contains(c))) hexGen
      else if (t.exists(_.charset.contains(c))) hexGen
      else textGen))

  /** A random image over the table's columns (plus stray feed columns),
    * in random entry order; `other` seeds equal values for updates. */
  private def imageGen(t: Option[Table],
      other: Option[Seq[(String, String)]]): Gen[Seq[(String, String)]] = {
    val names = t.map(_.cols).getOrElse(pool.take(5)) :+ "EXTRA"
    for {
      keys <- subset(names)
      shuffle <- Gen.long
      order = new scala.util.Random(shuffle).shuffle(keys)
      vals <- Gen.sequence[List[String], String](order.map { k =>
        val same = other.flatMap(_.find(_._1 == k)).map(_._2)
        same match {
          case Some(v) => Gen.frequency(1 -> Gen.const(v), 1 -> valueGen(t, k))
          case None => valueGen(t, k)
        }
      })
    } yield order.zip(vals)
  }

  private val rowGen: Gen[(Option[Table], String, Option[Seq[(String, String)]],
      Option[Seq[(String, String)]])] = for {
    t <- Gen.frequency(1 -> Gen.const(None), 5 -> tableGen.map(Some(_)))
    op <- Gen.oneOf("c", "u", "d", "u")
    before <- Gen.frequency(1 -> Gen.const(None), 4 -> imageGen(t, None).map(Some(_)))
    after <- Gen.frequency(1 -> Gen.const(None), 4 -> imageGen(t, before).map(Some(_)))
  } yield (t, op, before, after)

  private val schema = new StructType()
    .add("id", LongType)
    .add("op", StringType)
    .add("before", MapType(StringType, StringType))
    .add("after", MapType(StringType, StringType))
    .add("owner", StringType)
    .add("table_name", StringType)
    .add("key_cols", ArrayType(StringType))
    .add("tag_cols", ArrayType(StringType))
    .add("invisible_cols", ArrayType(StringType))
    .add("unknown_cols", ArrayType(StringType))
    .add("guard_col", StringType)
    .add("guarded_cols", ArrayType(new StructType()
      .add("name", StringType).add("seg", IntegerType)))
    .add("json_cols", ArrayType(StringType))
    .add("xml_cols", ArrayType(StringType))
    .add("charset_cols", MapType(StringType, IntegerType, valueContainsNull = false))

  /** Rows of `n` random messages as an enriched frame; scanned from an RDD
    * so the projections run in executor code, not local-relation folding. */
  private def frame(seed: Long, n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val (t, op, b, a) = rowGen.pureApply(Gen.Parameters.default,
        Seed(seed * 100003L + i))
      def img(m: Option[Seq[(String, String)]]) =
        m.map(kv => scala.collection.immutable.ListMap(kv: _*)).orNull
      t match {
        case Some(t) => Row(i.toLong, op, img(b), img(a), "APP", t.name,
          t.keyCols, t.tagCols, t.invisible, t.unknown, t.guardCol.orNull,
          t.guarded.map { case (n, s) => Row(n, s) }, t.json, t.xml, t.charset)
        case None => Row(i.toLong, op, img(b), img(a),
          null, null, null, null, null, null, null, null, null, null, null)
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** The whole row as JSON (map entry order included), by id. */
  private def render(df: DataFrame): (Seq[(String, DataType)], Seq[String]) =
    (df.schema.map(f => f.name -> f.dataType),
      df.select(to_json(struct(df.columns.map(col): _*))).collect()
        .map(_.getString(0)).toSeq.sorted)

  private def same(label: String, got: DataFrame, want: DataFrame): Unit = {
    val (gs, gr) = render(got)
    val (ws, wr) = render(want)
    assert(gs == ws, s"$label: schema")
    assert(gr.size == wr.size, s"$label: row count")
    gr.zip(wr).foreach { case (g, w) => assert(g == w, s"$label: row") }
  }

  /** (id, before, after) rendered: a step that changes none of these on
    * the random frame would make its comparison vacuous. */
  private def images(df: DataFrame): Set[String] =
    df.select(to_json(struct(col("id"), col("before"), col("after"))))
      .collect().map(_.getString(0)).toSet

  private def exercised(label: String, out: DataFrame, in: DataFrame): Unit =
    assert(images(out) != images(in), s"$label: the frame never triggers it")

  private val allOptions: Seq[Options] = for {
    fmt <- Seq(Changed, FullUpd, FullInsDec)
    show <- Seq(false, true)
    json <- Seq(false, true)
    xml <- Seq(false, true)
    hex <- Seq(false, true)
    schemaless <- Seq(false, true)
  } yield Options(columnFormat = fmt, unknownTypeShow = show,
    experimentalJson = json, experimentalXmlType = xml, charFormatHex = hex,
    schemaless = schemaless)

  test("the kernel matches the per-step expressions for every Options " +
      "combination (whole-stage codegen)") {
    Seq(11L, 12L).foreach { seed =>
      val df = frame(seed, 150).cache()
      allOptions.foreach { o =>
        same(s"seed $seed $o", Materialize.project(df, o),
          MaterializeReference.project(df, o))
      }
      df.unpersist()
    }
  }

  test("the kernel matches the per-step expressions under interpreted " +
      "evaluation") {
    val keys = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val df = frame(13L, 120)
      Seq(Options(), Options(columnFormat = FullUpd, unknownTypeShow = true,
          experimentalJson = true, charFormatHex = true, schemaless = true))
        .foreach(o => same(s"interpreted $o", Materialize.project(df, o),
          MaterializeReference.project(df, o)))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("each single-step wrapper matches its per-step expression") {
    val df = frame(14L, 150)
    val R = MaterializeReference
    val M = Materialize
    same("charset", M.applyCharsetDecode(df), R.applyCharsetDecode(df))
    same("guard", M.applyGuardResurrection(df), R.applyGuardResurrection(df))
    same("visibility", M.applyVisibility(df), R.applyVisibility(df))
    same("changed", M.applyColumnFormat(df), R.applyColumnFormat(df))
    same("unknown hide", M.applyUnknownType(df, show = false),
      R.applyUnknownType(df, show = false))
    same("unknown show", M.applyUnknownType(df, show = true),
      R.applyUnknownType(df, show = true))
    for (j <- Seq(false, true); x <- Seq(false, true)) {
      val o = Options(experimentalJson = j, experimentalXmlType = x)
      same(s"experimental $j $x", M.applyExperimentalTypes(df, o),
        R.applyExperimentalTypes(df, o))
      same(s"experimentalImage $j $x",
        df.select(col("id"), M.experimentalImage(col("after"), j, x).as("a")),
        df.select(col("id"), R.experimentalImage(col("after"), j, x).as("a")))
    }
    same("naming", M.applySchemalessNaming(df), R.applySchemalessNaming(df))
    same("tag", M.withTag(df), R.withTag(df))
    same("hex", M.applyCharFormatHex(df), R.applyCharFormatHex(df))
    // every step is exercised by the generated rows
    exercised("charset", M.applyCharsetDecode(df), df)
    exercised("guard", M.applyGuardResurrection(df), df)
    exercised("visibility", M.applyVisibility(df), df)
    exercised("changed", M.applyColumnFormat(df), df)
    exercised("unknown hide", M.applyUnknownType(df, show = false), df)
    exercised("unknown show", M.applyUnknownType(df, show = true), df)
    exercised("experimental", M.applyExperimentalTypes(df, Options()), df)
    exercised("experimental json", M.applyExperimentalTypes(df,
      Options(experimentalJson = true, experimentalXmlType = true)), df)
    exercised("naming", M.applySchemalessNaming(df), df)
    exercised("hex", M.applyCharFormatHex(df), df)
    assert(M.withTag(df).filter(col("tag").contains("|")).count() > 0)
  }
}
