package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{KmvMinima, Kernels}

/** SQL function surface (SURVEY.md §2.10): the engine's native expressions
  * registered by name, so `spark.sql("SELECT minhash_sig(shingles3(text), 8)
  * ...")` works the same as the Column API.
  *
  * Two entry points:
  *   - `spark.sql.extensions=graft.GraftExtensions` at session build time
  *     (the idiomatic plug-in path for clusters);
  *   - [[GraftExtensions.register]] for an already-running session
  *     (notebooks, tests).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.entries.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, info, builder) triples — the injectFunction contract. */
  val entries: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    Kernels.CosineSimilarity.entry(
      "cosine_similarity(a, b) - cosine of two array<float> embeddings"),
    Kernels.Tokens.entry(
      "graft_tokens(text) - non-empty space-delimited tokens " +
        "(one-pass codegen kernel)"),
    Kernels.Shingles3.entry(
      "shingles3(text) - distinct space-token 3-gram shingles"),
    Kernels.MinHashSig.entry(
      "minhash_sig(shingles, n) - n md5-minhash values (n literal)"),
    Kernels.SpanHashes.entry(
      "span_hashes(text, n) - distinct md5 hashes of n-token spans " +
        "(one-pass kernel; n literal)"),
    Kernels.PqEncode.entry(
      "pq_encode(q, cents, m, subdim) - PQ codes vs a packed codebook " +
        "(m/subdim literals)"),
    Kernels.AdcSum.entry(
      "adc_sum(codes, dtable, m) - asymmetric-distance sum over a " +
        "query's sub-distance table (m literal)"),
    Kernels.UrlCanon.entry(
      "url_canon(url) - canonical http(s) URL (case/www/default-port/" +
        "trailing-slash/fragment/tracking-param/param-order normalized)"),
    Kernels.MojibakeFix.entry(
      "mojibake_fix(text) - repair cp1252-mojibake UTF-8 sequences"),
    Kernels.NfcNormalize.entry(
      "nfc_normalize(text) - Unicode NFC canonical composition (UAX #15)"),
    Kernels.StripAccents.entry(
      "strip_accents(text) - NFD-decompose then drop non-spacing marks " +
        "(diacritic fold)"),
    Kernels.CharsetDecode.entry(
      "ora_charset_decode(bin, charset_id) - decode raw column bytes " +
        "under an Oracle NLS charset id (Locales.cpp id space)"),
    (FunctionIdentifier("kmv_minima"),
      info("kmv_minima",
        "kmv_minima(h, k) - k smallest distinct values (KMV sketch; " +
          "feed md5(x); k literal)"),
      (args: Seq[Expression]) =>
        KmvMinima(args(0), intLit(args(1), "kmv_minima k"))
          .toAggregateExpression()),
    // Spark's internal bloom-filter pair, surfaced by name: the standard
    // seen-before pre-filter for 100 TB dedup/anti-join pipelines
    // (catalyst ships them for runtime filters but registers no SQL name)
    (FunctionIdentifier("bloom_filter_agg"),
      info("bloom_filter_agg",
        "bloom_filter_agg(xxhash64(x), items, bits) - bloom filter bytes"),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(args(0), args(1), args(2))
          .toAggregateExpression()),
    (FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain",
        "bloom_might_contain(bf, xxhash64(x)) - membership test"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(args(0), args(1))))

  /** Register on a live session (idempotent; createOrReplace semantics). */
  def register(spark: SparkSession): Unit = {
    val registry = org.apache.spark.sql.graftbridge.Bridge.functionRegistry(spark)
    entries.foreach { case (ident, inf, builder) =>
      registry.registerFunction(ident, inf, builder)
    }
    // scalar codecs (§2.7) as plain UDFs — small, driver-registered
    import graft.core.OracleCodecs
    spark.udf.register("rowid_encode",
      (obj: Long, dba: Long, slot: Int) =>
        OracleCodecs.rowIdEncode(obj, dba, slot))
    spark.udf.register("xid_format",
      (xid: Long) => OracleCodecs.xidFormat(xid))
    spark.udf.register("xid_format_dec",
      (xid: Long) => OracleCodecs.xidFormatDec(xid))
    spark.udf.register("xid_format_reversed",
      (xid: Long) => OracleCodecs.xidFormatReversed(xid))
    spark.udf.register("oracle_number",
      (b: Array[Byte]) => OracleCodecs.numberToString(b))
    spark.udf.register("interval_ds_string",
      (nanos: Long, sep: String) =>
        OracleCodecs.intervalDsString(nanos, sep.headOption.getOrElse(' ')))
    spark.udf.register("interval_ym_string",
      (months: Long, sep: String) =>
        OracleCodecs.intervalYmString(months, sep.headOption.getOrElse(' ')))
    spark.udf.register("tz_timestamp_iso",
      (b: Array[Byte]) => OracleCodecs.tzTimestampIso(b))
    spark.udf.register("unknown_dump",
      (name: String, b: Array[Byte]) => OracleCodecs.unknownDump(name, b))
    // an unparseable db-timezone is a CONFIG ERROR (the reference refuses
    // to start, OpenLogReplicator.cpp:913-925) — failing the query beats
    // silently decoding under UTC
    def tzOrThrow(tz: String): Int =
      OracleCodecs.parseTzOffset(tz).getOrElse(
        throw new IllegalArgumentException(s"unparseable db-timezone: $tz"))
    spark.udf.register("oracle_date_encode",
      (epochSec: Long, tz: String) =>
        OracleCodecs.oracleDateEncode(epochSec, tzOrThrow(tz)))
    spark.udf.register("oracle_date_epoch",
      (b: Array[Byte], tz: String) =>
        OracleCodecs.oracleDateToEpoch(b, tzOrThrow(tz)))
  }
}
