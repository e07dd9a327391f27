package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{CurationNative, Kernels}

/** Pins the curation-pack kernels (CurationNative) and the q115 paragraph
  * dedup contract. The URL spec cases mirror the canonicalization steps
  * stated in the kernel's Scaladoc 1:1; the mojibake test proves the
  * one-pass kernel equals the sequential replace chain the DuckDB oracle
  * executes (CurationOps builds that chain from MojibakeMap).
  */
class CurationOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def canon(u: String): String =
    CurationNative.urlCanon(
      org.apache.spark.unsafe.types.UTF8String.fromString(u)).toString

  test("url_canon: case, www, default port, trailing slash, fragment") {
    assert(canon("HTTPS://WWW.Site7.Example.COM:443/Articles/12/#frag") ==
      "https://site7.example.com/Articles/12")
    assert(canon("http://www.a.com:80/") == "http://a.com")
    // path case is preserved; only scheme+host fold
    assert(canon("https://A.com/Path/UP") == "https://a.com/Path/UP")
  }

  test("url_canon: non-default ports and cross-scheme ports survive") {
    assert(canon("https://a.com:8443/x") == "https://a.com:8443/x")
    assert(canon("http://a.com:443/x") == "http://a.com:443/x")
    assert(canon("https://a.com:80/x") == "https://a.com:80/x")
  }

  test("url_canon: tracking params drop, survivors sort bytewise") {
    assert(canon("https://a.com/p?utm_source=x&b=2&a=1&fbclid=z&gclid=q&ref=h") ==
      "https://a.com/p?a=1&b=2")
    // all params tracking → no '?' at all
    assert(canon("https://a.com/p?utm_campaign=c&utm_source=s") ==
      "https://a.com/p")
    // empty segments from '&&' vanish; '=' order is byte order ('B' < 'a')
    assert(canon("https://a.com/p?a=1&&B=2") == "https://a.com/p?B=2&a=1")
  }

  test("url_canon: degenerate inputs are total") {
    assert(canon("not a url") == "not a url") // no "://" → unchanged
    assert(canon("https://www./#x") == "https://")
    assert(canon("https://a.com") == "https://a.com")
    assert(canon("https://a.com?b=1#f") == "https://a.com?b=1")
  }

  test("mojibake kernel == sequential replace chain (the oracle's form)") {
    val cases = Seq(
      "dÃ¡ta mÃ©rge Ã¶ Ã± Ã¼ â€œquotedâ€™ 20Â° â€“ dash",
      "clean ascii text stays untouched",
      "Ã©Ã©Ã© back to back", "tail Ã", "Â", "")
    for (s <- cases) {
      val chain = CurationNative.MojibakeMap.foldLeft(s) {
        case (acc, (bad, good)) => acc.replace(bad, good)
      }
      val kernel = CurationNative.mojibakeFix(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
      assert(kernel == chain, s"input: $s")
    }
    // repair is idempotent: a fixed string contains no patterns
    val fixedOnce = "dáta mérge ’ “ – °"
    assert(CurationNative.mojibakeFix(
      org.apache.spark.unsafe.types.UTF8String.fromString(fixedOnce))
      .toString == fixedOnce)
  }

  private def u8(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)

  test("nfc_normalize composes decomposed sequences; NFC input returns " +
    "the SAME buffer (the 100 TB fast path)") {
    // e + combining acute -> precomposed e-acute; A + ring -> Angstrom A
    assert(CurationNative.nfcNormalize(u8("Cafe\u0301")).toString ==
      "Caf\u00E9")
    assert(CurationNative.nfcNormalize(u8("A\u030A")).toString == "\u00C5")
    assert(CurationNative.nfcNormalize(u8("nai\u0308ve")).toString ==
      "na\u00EFve")
    // already-NFC (incl. pure ASCII) is identity AND allocation-free:
    // the kernel must return the input reference itself
    val ascii = u8("plain ascii text")
    assert(CurationNative.nfcNormalize(ascii) eq ascii)
    val nfc = u8("d\u00E9j\u00E0 vu")
    assert(CurationNative.nfcNormalize(nfc) eq nfc)
  }

  test("strip_accents folds precomposed AND decomposed marks; " +
    "non-accent codepoints pass through") {
    assert(CurationNative.stripAccents(u8("d\u00E9j\u00E0 vu")).toString ==
      "deja vu")
    assert(CurationNative.stripAccents(u8("Cafe\u0301 Zu\u0308rich"))
      .toString == "Cafe Zurich")
    assert(CurationNative.stripAccents(u8("gar\u00E7on")).toString ==
      "garcon")
    // no decomposition: sharp-s, CJK, and symbols are untouched
    assert(CurationNative.stripAccents(u8("stra\u00DFe \u4E2D\u6587 \u00B0"))
      .toString == "stra\u00DFe \u4E2D\u6587 \u00B0")
    // ASCII fast path returns the input buffer itself
    val ascii = u8("no accents here")
    assert(CurationNative.stripAccents(ascii) eq ascii)
  }

  test("unicode kernels match the q197 synth shapes end to end") {
    // the exact decomposed/precomposed mix the q197 oracle feeds DuckDB -
    // pinned here so a kernel change that breaks engine parity fails in
    // the suite, not in the driver gate
    val raw = "Cafe\u0301 nae\u0308ve fac\u0327ade " +
      "Zu\u0308rich A\u030A d\u00E9ja\u0300 gar\u00E7on"
    val nfc = CurationNative.nfcNormalize(u8(raw)).toString
    assert(nfc == "Caf\u00E9 na\u00EBve fa\u00E7ade " +
      "Z\u00FCrich \u00C5 d\u00E9j\u00E0 gar\u00E7on")
    assert(CurationNative.stripAccents(u8(nfc)).toString ==
      "Cafe naeve facade Zurich A deja garcon")
  }

  test("url_canon / mojibake_fix / nfc_normalize / strip_accents are " +
    "SQL-registered") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT url_canon('HTTP://WWW.A.com:80/x/?b=1&utm_s=1') AS u, " +
        "mojibake_fix('dÃ¡ta') AS m, " +
        "nfc_normalize('Cafe\u0301') AS n, " +
        "strip_accents('d\u00E9j\u00E0 vu') AS a").collect()(0)
    assert(r.getString(0) == "http://a.com/x?b=1")
    assert(r.getString(1) == "dáta")
    assert(r.getString(2) == "Caf\u00E9")
    assert(r.getString(3) == "deja vu")
  }

  test("paragraph dedup removes frequent FULL chunks only, preserves order") {
    import spark.implicits._
    // boiler = exactly 16 tokens; tail = 3-token fragment shared by all
    // docs (so its hash count is high) — fragments must never be removed
    val boiler = (1 to 16).map(i => s"b$i").mkString(" ")
    val docs = (0 until 30).map { i =>
      val body = (1 to 16).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, s"$boiler $body same tail frag")
    }.toDF("doc_id", "text")
    docs.createOrReplaceTempView("pd_docs")

    // same chunking + freq + in-row apply as q115, threshold 20 (< 30 docs)
    val paras = docs
      .select(col("doc_id"), graft.queries.TextOps.tokensCol.as("t"))
      .withColumn("np", ceil(size(col("t")) / lit(16.0)).cast("int"))
      .select(col("doc_id"),
        transform(sequence(lit(0), col("np") - 1),
          i => array_join(slice(col("t"), i * 16 + 1, lit(16)), " "))
          .as("paras"))
    val hs = paras.select(explode(col("paras")).as("para"))
      .filter(size(split(col("para"), " ")) === 16)
      .groupBy(md5(col("para")).as("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 20)
      .select("h").collect().map(_.getString(0)).sorted.toSeq
    val out = paras
      .select(col("doc_id"),
        filter(col("paras"),
          p => !array_contains(typedLit(hs), md5(p))).as("kept"))
      .select(col("doc_id"), array_join(col("kept"), " ").as("cleaned"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    for (i <- 0 until 30) {
      val body = (1 to 16).map(j => s"w${i}_$j").mkString(" ")
      // boilerplate chunk gone; unique body chunk and the 3-token
      // fragment chunk (frequent but NOT 16 tokens) both survive, in order
      assert(out(i.toLong) == s"$body same tail frag")
    }
  }
}
