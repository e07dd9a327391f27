package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._

/** SQL-name surface for the native expressions: registry entries resolve
  * and the SQL forms equal the Column-API forms. */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("register: SQL calls equal the Column API") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq((Array(1.0f, 0.0f), Array(0.6f, 0.8f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val sqlCos = spark.sql(
      "SELECT cosine_similarity(a, b) FROM vecs").collect().head.getDouble(0)
    assert(math.abs(sqlCos - 0.6) < 1e-6) // float32 inputs

    Seq(Tuple1("w x y z")).toDF("text").createOrReplaceTempView("docs_ext")
    val row = spark.sql(
      """SELECT shingles3(text) AS sh,
        |       minhash_sig(shingles3(text), 4) AS sig,
        |       rowid_encode(5, CAST(4194304 AS BIGINT), 1) AS rid,
        |       xid_format(CAST(281479271677953 AS BIGINT)) AS xid
        |FROM docs_ext""".stripMargin).collect().head
    assert(row.getSeq[String](0) == Seq("w x y", "x y z"))
    assert(row.getSeq[String](1).length == 4)
    assert(row.getString(2) ==
      graft.core.OracleCodecs.rowIdEncode(5L, 4194304L, 1))
    assert(row.getString(3) ==
      graft.core.OracleCodecs.xidFormat(281479271677953L))

    // full codec surface by SQL name (§2.7 → §2.10 promotion rule)
    val codecs = spark.sql(
      """SELECT xid_format_dec(CAST(281479271677953 AS BIGINT)) AS xd,
        |  xid_format_reversed(CAST(281479271677953 AS BIGINT)) AS xr,
        |  interval_ds_string(CAST(90061000000001 AS BIGINT), ',') AS ds,
        |  interval_ym_string(CAST(25 AS BIGINT), '-') AS ym,
        |  unknown_dump('C1', CAST('AB' AS BINARY)) AS dmp
        |""".stripMargin).collect().head
    assert(codecs.getString(0) == "1.1.1")
    assert(codecs.getString(1) ==
      graft.core.OracleCodecs.xidFormatReversed(281479271677953L))
    assert(codecs.getString(2) == "1,01:01:01.000000001")
    assert(codecs.getString(3) == "2-1")
    assert(codecs.getString(4) ==
      graft.core.OracleCodecs.unknownDump("C1", "AB".getBytes))
  }

  test("minhash_sig rejects a non-literal n") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq(Tuple1(3)).toDF("n").createOrReplaceTempView("ns")
    assertThrows[Exception] {
      spark.sql("SELECT minhash_sig(array('a'), n) FROM ns").collect()
    }
  }

  test("span_hashes and the bloom pair are SQL-callable") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq(Tuple1("a b c d")).toDF("text").createOrReplaceTempView("sp_docs")
    // span_hashes(text, 2) = md5 of each distinct 2-token span
    val sh = spark.sql(
      "SELECT span_hashes(text, 2) FROM sp_docs").collect().head.getSeq[String](0)
    assert(sh.length == 3) // "a b", "b c", "c d"
    // bloom roundtrip: members hit, non-member may only false-positive
    Seq(1L, 2L, 3L).toDF("x").createOrReplaceTempView("bl")
    val bf = spark.sql(
      "SELECT bloom_filter_agg(xxhash64(x), 10L, 400L) FROM bl")
      .collect().head.getAs[Array[Byte]](0)
    assert(bf.nonEmpty)
    Seq(Tuple1(bf)).toDF("bf").createOrReplaceTempView("bfv")
    val hits = spark.sql(
      """SELECT x, bloom_might_contain((SELECT first(bf) FROM bfv),
        |  xxhash64(x)) FROM VALUES (1L), (2L), (3L) AS t(x)""".stripMargin)
      .collect().map(_.getBoolean(1))
    assert(hits.forall(identity)) // no false negatives, ever
  }

  test("pq_encode / adc_sum are SQL-callable and agree end-to-end") {
    GraftExtensions.register(spark)
    // 1-D vectors, 2 subspaces of 1 dim: codebook (m=0: c0=[0], c1=[10]),
    // (m=1: c0=[0], c1=[10]); q=[9,2] → codes [1, 0]
    val row = spark.sql(
      """SELECT pq_encode(array(9L, 2L),
        |  array(struct(0 AS m, 0 AS cluster, array(0L) AS cent),
        |        struct(0 AS m, 1 AS cluster, array(10L) AS cent),
        |        struct(1 AS m, 0 AS cluster, array(0L) AS cent),
        |        struct(1 AS m, 1 AS cluster, array(10L) AS cent)),
        |  2, 1) AS codes""".stripMargin).collect().head
    assert(row.getSeq[Int](0) == Seq(1, 0))
    val d = spark.sql(
      """SELECT adc_sum(array(1, 0),
        |  array(struct(0 AS m, 0 AS cluster, 7L AS d),
        |        struct(0 AS m, 1 AS cluster, 5L AS d),
        |        struct(1 AS m, 0 AS cluster, 11L AS d),
        |        struct(1 AS m, 1 AS cluster, 13L AS d)),
        |  2) AS dist""".stripMargin).collect().head.getLong(0)
    assert(d == 5L + 11L)
  }

  test("every kernel SQL name resolves under its old auto column name") {
    GraftExtensions.register(spark)
    val df = spark.sql(
      """SELECT cosine_similarity(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT))),
        |  graft_tokens(t), shingles3(t), minhash_sig(shingles3(t), 4),
        |  span_hashes(t, 2), url_canon(t), mojibake_fix(t), nfc_normalize(t),
        |  strip_accents(t), ora_charset_decode(CAST(t AS BINARY), 873),
        |  pq_encode(array(1L, 2L),
        |    array(named_struct('m', 0, 'cluster', 0, 'cent', array(1L))), 1, 1),
        |  adc_sum(array(0), array(named_struct('m', 0, 'c', 0, 'd', 1L)), 1)
        |FROM (SELECT 'a b c d http://X.com/' AS t)""".stripMargin)
    // the names the hand-written expression classes generated
    assert(df.columns.toSeq == Seq(
      "cosine_similarity(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT)))",
      "graft_tokens(t)", "shingles3(t)", "minhash_sig(shingles3(t))",
      "span_hashes(t)", "url_canon(t)", "mojibake_fix(t)", "nfc_normalize(t)",
      "strip_accents(t)", "ora_charset_decode(CAST(t AS BINARY), 873)",
      "pq_encode(array(1, 2), array(named_struct(m, 0, cluster, 0, cent, array(1))))",
      "adc_sum(array(0), array(named_struct(m, 0, c, 0, d, 1)))"))
    val r = df.collect().head
    assert(r.getDouble(0) == 1.0)
    assert(r.getSeq[String](2) == Seq("a b c", "b c d", "c d http://X.com/"))
    assert(r.getString(5) == "a b c d http://x.com")
    assert(r.getSeq[Int](10) == Seq(0) && r.getLong(11) == 1L)
  }

  test("extensions class injects every entry") {
    // unit-level: the plug-in path applies the same entries (an isolated
    // end-to-end session would race the suite-shared one in this JVM)
    var injected = 0
    val ext = new SparkSessionExtensions {
      override def injectFunction(
          fn: (org.apache.spark.sql.catalyst.FunctionIdentifier,
            org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
            Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
              org.apache.spark.sql.catalyst.expressions.Expression)): Unit =
        injected += 1
    }
    new GraftExtensions().apply(ext)
    assert(injected == GraftExtensions.entries.length)
  }
}
