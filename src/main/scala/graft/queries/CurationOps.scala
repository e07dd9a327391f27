package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{CurationNative, Kernels}
import graft.queries.OracleSql.{sqlHex4, sqlTokens}

/** Training-data pipeline pack #3: web-corpus curation — URL-level dedup,
  * mojibake repair, HTML boilerplate extraction, and cross-document
  * paragraph dedup (the RefinedWeb/CCNet-style line-dedup step).
  *
  * The documents table carries no URLs/markup, so each query synthesizes
  * its raw input deterministically IN-QUERY from (doc_id, source, text)
  * with a snippet shared verbatim with its DuckDB oracle — the same
  * convention as the codec pack (FormatOps q64–q69): both engines derive
  * the identical raw value, then the gate pins the operator's transform.
  *
  * Scale notes:
  *   - url_canon / mojibake_fix are codegen'd native kernels
  *     ([[graft.functions.CurationNative]]) — a narrow map on the scan; the
  *     URL dedup then hash-aggs on the SHORT canonical key (one exchange
  *     of keys, never of document payloads);
  *   - boilerplate strip is a pure regexp_replace chain — zero exchange;
  *   - paragraph dedup shuffles (md5, count) pairs with map-side combine
  *     to find corpus-frequent paragraphs, collects only that KB-sized
  *     frequent set (the q101 dimension-artifact pattern), and applies the
  *     removal INSIDE the row — the corpus itself never reshuffles and the
  *     rewrite preserves paragraph order without a window or sort.
  */
object CurationOps {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  // ---- q112: URL canonicalization + dedup -------------------------------
  // Five raw variants per logical article (case, www, default port,
  // trailing slash, tracking params, fragment, param order); variants
  // 0/1/2 collapse to one canonical https URL, 3 and 4 stay distinct
  // (different scheme / surviving params).
  private val urlBase = "CAST((doc_id - (doc_id % 5)) / 5 AS BIGINT)"
  private val urlSynth =
    s"""CASE doc_id % 5
       |  WHEN 0 THEN 'https://site' || ($urlBase % 20) ||
       |    '.Example.com/articles/' || $urlBase
       |  WHEN 1 THEN 'HTTPS://WWW.site' || ($urlBase % 20) ||
       |    '.example.COM:443/articles/' || $urlBase || '/'
       |  WHEN 2 THEN 'https://site' || ($urlBase % 20) ||
       |    '.example.com/articles/' || $urlBase ||
       |    '?utm_source=feed&utm_campaign=spring'
       |  WHEN 3 THEN 'http://site' || ($urlBase % 20) ||
       |    '.example.com:80/articles/' || $urlBase || '?b=2&a=1&fbclid=x1'
       |  ELSE 'https://site' || ($urlBase % 20) ||
       |    '.example.com/articles/' || $urlBase || '?a=1&b=2#sec'
       |END""".stripMargin

  // ---- q113: mojibake repair -------------------------------------------
  // Deterministic cp1252-mojibake injection shared with the oracle; the
  // repair chain in the oracle is generated from CurationNative.MojibakeMap
  // so kernel and oracle cannot drift.
  private val mojiSynth =
    "replace(replace(replace(text, 'data', 'dÃ¡ta'), " +
      "'merge', 'mÃ©rge'), 'the', 'â€œtheâ€™')"
  private val mojiFixSql: String =
    CurationNative.MojibakeMap.foldLeft("corrupt") { case (acc, (bad, good)) =>
      s"replace($acc, '$bad', '$good')"
    }

  // ---- q114: HTML boilerplate strip ------------------------------------
  private val htmlSynth =
    """'<html><head><title>' || source || '</title><style>p{margin:0}</style>' ||
      |'<script>var x=1;</script></head><body>' ||
      |'<nav>Home | About | Contact</nav><div class="content"><p>' || text ||
      |'</p></div><footer>Copyright ' || source || '</footer></body></html>'"""
      .stripMargin.replace("\n", " ")

  // ---- q115: cross-document paragraph dedup ----------------------------
  // Two 16-token boilerplate paragraphs injected ahead of the body (so they
  // occupy exact chunks); "paragraph" = consecutive 16-token chunk;
  // corpus-frequent (count >= 100) FULL chunks are removed everywhere.
  private val paraA = "subscribe to our newsletter today for the best daily " +
    "updates and exclusive offers from our partners"
  private val paraB = "click here to accept all cookies and continue reading " +
    "this article with your free account today"
  private val paraSynth =
    s"""CASE WHEN doc_id % 6 = 0 THEN '$paraA $paraB ' || text
       |     WHEN doc_id % 2 = 0 THEN '$paraA ' || text
       |     WHEN doc_id % 3 = 0 THEN '$paraB ' || text
       |     ELSE text END""".stripMargin
  private[graft] val ParaFreqThreshold = 100L

  // ---- q116: hashed linear quality classifier --------------------------
  // The fastText-style scorer shape: score = Σ_tokens w(token) with hashed
  // feature weights. Weights are a pure function of the token (md5-derived
  // integer in [-1000, 1000]) so both engines compute the identical model
  // with no trained artifact; a real model swaps the hash for a broadcast
  // weight map — the plan shape (in-row fold, zero exchange) is unchanged.

  // ---- q117: corpus snapshot delta -------------------------------------
  // Two deterministic snapshot views of the corpus: A drops doc_id%10==9,
  // B drops doc_id%10==0 and revises text where doc_id%7==0 — so the delta
  // has all four statuses at any SF.
  private val snapAFilter = "doc_id % 10 <> 9"
  private val snapBFilter = "doc_id % 10 <> 0"
  private val snapBText =
    "CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END"

  // ---- q127: domain blocklist with subdomain semantics ------------------
  // A blocklist entry bans the exact host AND every subdomain beneath it —
  // the match key set is the host's label-suffix chain (≥ 2 labels), built
  // in-row. The 3-entry list here is an in-row literal; a production-scale
  // (100k+) blocklist swaps arrays_overlap for explode(suffixes) +
  // broadcast semi-join on the exact suffix key — the q84 contamination
  // shape — with zero change to the suffix construction.
  private val hostSynth =
    """CASE WHEN doc_id % 4 = 0
      |  THEN 'site' || (doc_id % 20) || '.example.com'
      |  ELSE 'sub' || (doc_id % 7) || '.site' || (doc_id % 20) ||
      |    '.example.com' END""".stripMargin
  private val Blocklist =
    Seq("site3.example.com", "site15.example.com", "sub2.site4.example.com")

  val defs: Map[String, Q] = Map(

    "q112_url_canon" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id", s"($urlSynth) AS url")
        .select(col("doc_id"),
          Kernels.UrlCanon(col("url")).as("url"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_variants"), min("doc_id").as("keep_doc"))
    }),

    "q113_mojibake_fix" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id", s"($mojiSynth) AS corrupt")
        .select(col("doc_id"),
          length(col("corrupt")).as("len_before"),
          Kernels.MojibakeFix(col("corrupt")).as("fixed"))
        .select(col("doc_id"), col("len_before"),
          length(col("fixed")).as("len_after"), col("fixed"))
    }),

    "q114_boilerplate_strip" -> ((s, dir) => {
      val stripped =
        "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
          "regexp_replace(html, '<head>.*?</head>', ' '), " +
          "'<nav[^>]*>.*?</nav>', ' '), " +
          "'<footer[^>]*>.*?</footer>', ' '), " +
          "'<[^>]*>', ' '), ' +', ' '))"
      t(s, dir, "documents")
        .selectExpr("doc_id", s"($htmlSynth) AS html")
        .selectExpr("doc_id",
          "regexp_extract(html, '<title>([^<]*)</title>', 1) AS title",
          s"$stripped AS main_text",
          "length(html) AS hl")
        .selectExpr("doc_id", "title", "main_text",
          "round(length(main_text) / hl, 4) AS keep_ratio")
    }),

    "q115_paragraph_dedup" -> ((s, dir) => {
      val paras = Tables.spread(
          t(s, dir, "documents").selectExpr("doc_id", s"($paraSynth) AS text"),
          col("doc_id"))
        .filter(TextOps.tokenCountCol > 0)
        .select(col("doc_id"), TextOps.tokensCol.as("t"))
        .withColumn("np", ceil(size(col("t")) / lit(16.0)).cast("int"))
        .select(col("doc_id"),
          transform(sequence(lit(0), col("np") - 1),
            i => array_join(slice(col("t"), i * 16 + 1, lit(16)), " "))
            .as("paras"))
      // corpus-frequent FULL paragraphs: one (md5, count) exchange with
      // map-side combine; the surviving set is KB-sized by construction
      val hs = paras
        .select(explode(col("paras")).as("para"))
        .filter(TextOps.tokenCountOf(col("para")) === 16)
        .groupBy(md5(col("para")).as("h")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= ParaFreqThreshold)
        .select("h").collect().map(_.getString(0)).sorted.toSeq
      paras
        .select(col("doc_id"), size(col("paras")).as("n_paras"),
          filter(col("paras"),
            p => !array_contains(typedLit(hs), md5(p))).as("kept"))
        .select(col("doc_id"), col("n_paras"), size(col("kept")).as("n_kept"),
          array_join(col("kept"), " ").as("cleaned"))
    }),

    "q116_quality_classifier" -> ((s, dir) => {
      // w(tok) folds inside the row: conv(md5-prefix) % 2001 - 1000, BIGINT
      // throughout so the sum is exact and order-free. Zero exchange.
      t(s, dir, "documents")
        .filter(TextOps.tokenCountCol > 0)
        .select(col("doc_id"), TextOps.tokensCol.as("t"))
        .select(col("doc_id"), size(col("t")).as("n_tokens"),
          aggregate(col("t"), lit(0L), (acc, tok) =>
            acc + (conv(substring(md5(tok), 1, 4), 16, 10).cast("long")
              % 2001L - 1000L)).as("score"))
        .withColumn("keep",
          when(col("score") > 0, lit(1)).otherwise(lit(0)))
    }),

    "q117_snapshot_delta" -> ((s, dir) => {
      // Payload narrows to (doc_id, md5) BEFORE the join, so the full-outer
      // exchange ships two longs + a hash per doc, never text. At 100 TB
      // both snapshots come from `Tables.writeBucketed(doc_id)` and the
      // join plans as a zero-exchange SMJ (TablesBucketingSpec's contract).
      val docs = t(s, dir, "documents")
      val a = docs.filter(expr(snapAFilter))
        .select(col("doc_id"), md5(col("text")).as("ha"))
      val b = docs.filter(expr(snapBFilter))
        .selectExpr("doc_id", s"md5($snapBText) AS hb")
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("hb").isNull, lit("removed"))
            .when(col("ha").isNull, lit("added"))
            .when(col("ha") =!= col("hb"), lit("changed"))
            .otherwise(lit("unchanged")))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    }),

    "q127_blocklist_filter" -> ((s, dir) => {
      val parts = split(col("host"), "\\.")
      val sfx = transform(sequence(lit(2), size(parts)),
        k => array_join(slice(parts, size(parts) - k + 1, k), "."))
      t(s, dir, "documents")
        .selectExpr("doc_id", s"($hostSynth) AS host")
        .filter(!arrays_overlap(sfx, typedLit(Blocklist)))
        .select("doc_id", "host")
    }),

    // Unicode NFC + diacritic fold — the normalization pass that makes
    // byte-level dedup/hashing agree when the same logical text arrives
    // precomposed from one crawl and decomposed (base + combining mark)
    // from another. Both kernels are codegen'd native Expressions
    // (CurationNative.nfcNormalize / stripAccents) with already-normalized
    // /ASCII fast paths that return the input buffer untouched — at 100 TB
    // this is a zero-exchange narrow map that allocates only on the rare
    // non-NFC row. The synth plants decomposed sequences (combining acute/
    // diaeresis/ring) next to precomposed ones so the gate pins real
    // composition work, not an identity pass; doc_id rotates the base
    // vowel so every row differs.
    "q197_unicode_norm" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id", s"($accentSynth) AS raw")
        .select(col("doc_id"),
          length(col("raw")).cast("int").as("len_raw"),
          Kernels.NfcNormalize(col("raw")).as("nfc"))
        .select(col("doc_id"), col("len_raw"),
          length(col("nfc")).cast("int").as("len_nfc"), col("nfc"),
          Kernels.StripAccents(col("nfc")).as("folded"))
    }))

  // q197's raw-text synth, shared verbatim with the oracle (the q113
  // convention): decomposed base+combining-mark sequences (U+0301 acute,
  // U+0308 diaeresis, U+030A ring) interleaved with precomposed chars
  // (U+00E9, U+00E7), the combining vowel rotated by doc_id so rows
  // differ. Escapes keep the .scala source ASCII-clean; the SQL string
  // itself carries the real codepoints in both engines.
  private val accentSynth =
    "concat('Cafe', '\u0301', ' na', substr('aeiou', " +
      "1 + CAST(doc_id % 5 AS INT), 1), '\u0308', 've fac\u0327ade ', " +
      "'Zu\u0308rich A\u030A', ' d\u00E9ja\u0300 gar\u00E7on ', text)"

  val oracles: Map[String, String] = Map(

    "q127_blocklist_filter" ->
      s"""WITH h AS (SELECT doc_id, ($hostSynth) AS host FROM documents),
         |p AS (SELECT doc_id, host, string_split(host, '.') AS parts FROM h),
         |sfx AS (SELECT doc_id, host,
         |    list_transform(range(2, len(parts) + 1),
         |      k -> array_to_string(
         |        parts[len(parts) - CAST(k AS INT) + 1 : len(parts)], '.'))
         |      AS sfx
         |  FROM p)
         |SELECT doc_id, host FROM sfx
         |WHERE len(list_intersect(sfx,
         |  [${Blocklist.map(b => s"'$b'").mkString(", ")}])) = 0"""
        .stripMargin,

    "q116_quality_classifier" ->
      s"""WITH toks AS (SELECT doc_id, $sqlTokens AS t FROM documents
         |             WHERE len($sqlTokens) > 0),
         |e AS (SELECT doc_id, len(t) AS n_tokens, unnest(t) AS tok FROM toks),
         |w AS (SELECT doc_id, any_value(n_tokens) AS n_tokens,
         |    sum(${sqlHex4("md5(tok)")} % 2001 - 1000) AS score
         |  FROM e GROUP BY doc_id)
         |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |  CAST(score AS BIGINT) AS score,
         |  CASE WHEN score > 0 THEN 1 ELSE 0 END AS keep
         |FROM w""".stripMargin,

    "q117_snapshot_delta" ->
      s"""WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents
         |           WHERE $snapAFilter),
         |b AS (SELECT doc_id, md5($snapBText) AS hb FROM documents
         |      WHERE $snapBFilter),
         |j AS (SELECT doc_id,
         |    CASE WHEN hb IS NULL THEN 'removed'
         |         WHEN ha IS NULL THEN 'added'
         |         WHEN ha <> hb THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM a FULL OUTER JOIN b USING (doc_id))
         |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM j GROUP BY status""".stripMargin,

    "q112_url_canon" ->
      s"""WITH raw AS (SELECT doc_id, ($urlSynth) AS url FROM documents),
         |p1 AS (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nofrag
         |       FROM raw),
         |p2 AS (SELECT doc_id,
         |    lower(regexp_extract(nofrag, '^([^:/?#]+)://', 1)) AS scheme,
         |    regexp_replace(lower(regexp_extract(nofrag,
         |      '^[^:/?#]+://([^/?]*)', 1)), '^www\\.', '') AS hp,
         |    regexp_extract(nofrag, '^[^:/?#]+://[^/?]*(.*)$$', 1) AS pathq
         |  FROM p1),
         |p3 AS (SELECT doc_id, scheme,
         |    CASE WHEN scheme = 'http' AND hp LIKE '%:80'
         |           THEN regexp_replace(hp, ':80$$', '')
         |         WHEN scheme = 'https' AND hp LIKE '%:443'
         |           THEN regexp_replace(hp, ':443$$', '')
         |         ELSE hp END AS host,
         |    regexp_replace(CASE WHEN strpos(pathq, '?') > 0
         |        THEN substr(pathq, 1, strpos(pathq, '?') - 1)
         |        ELSE pathq END, '/+$$', '') AS path,
         |    CASE WHEN strpos(pathq, '?') > 0
         |        THEN substr(pathq, strpos(pathq, '?') + 1)
         |        ELSE '' END AS query
         |  FROM p2),
         |p4 AS (SELECT doc_id, scheme || '://' || host || path ||
         |    CASE WHEN len(keep) > 0
         |         THEN '?' || array_to_string(keep, '&') ELSE '' END AS canon
         |  FROM (SELECT doc_id, scheme, host, path,
         |      list_sort(list_filter(string_split(query, '&'),
         |        x -> x <> '' AND NOT regexp_matches(x,
         |          '^(utm_|fbclid=|gclid=|ref=)'))) AS keep FROM p3))
         |SELECT canon AS url, CAST(count(*) AS BIGINT) AS n_variants,
         |  min(doc_id) AS keep_doc
         |FROM p4 GROUP BY canon""".stripMargin,

    "q113_mojibake_fix" ->
      s"""SELECT doc_id, CAST(length(corrupt) AS INT) AS len_before,
         |  CAST(length($mojiFixSql) AS INT) AS len_after,
         |  $mojiFixSql AS fixed
         |FROM (SELECT doc_id, ($mojiSynth) AS corrupt FROM documents)"""
        .stripMargin,

    "q197_unicode_norm" ->
      s"""SELECT doc_id, CAST(length(raw) AS INT) AS len_raw,
         |  CAST(length(nfc_normalize(raw)) AS INT) AS len_nfc,
         |  nfc_normalize(raw) AS nfc,
         |  strip_accents(nfc_normalize(raw)) AS folded
         |FROM (SELECT doc_id, ($accentSynth) AS raw FROM documents)"""
        .stripMargin,

    "q114_boilerplate_strip" ->
      s"""WITH h AS (SELECT doc_id, ($htmlSynth) AS html FROM documents),
         |x AS (SELECT doc_id, html,
         |  regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
         |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(html, '<head>.*?</head>', ' ', 'g'),
         |    '<nav[^>]*>.*?</nav>', ' ', 'g'),
         |    '<footer[^>]*>.*?</footer>', ' ', 'g'),
         |    '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')) AS main_text
         |  FROM h)
         |SELECT doc_id, title, main_text,
         |  round(length(main_text) / length(html), 4) AS keep_ratio
         |FROM x""".stripMargin,

    "q115_paragraph_dedup" ->
      s"""WITH base AS (SELECT doc_id, ($paraSynth) AS text FROM documents),
         |tok AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS t
         |  FROM base),
         |p AS (SELECT doc_id,
         |    list_transform(range(CAST(ceil(len(t) / 16.0) AS BIGINT)),
         |      i -> array_to_string(t[(i*16+1):(i*16+16)], ' ')) AS paras
         |  FROM tok WHERE len(t) > 0),
         |e AS (SELECT unnest(paras) AS para FROM p),
         |freq AS (SELECT md5(para) AS h FROM e
         |  WHERE len(list_filter(string_split(para, ' '), x -> x <> '')) = 16
         |  GROUP BY 1 HAVING count(*) >= $ParaFreqThreshold),
         |fl AS (SELECT coalesce(list(h ORDER BY h), []) AS hs FROM freq)
         |SELECT doc_id, CAST(len(paras) AS INT) AS n_paras,
         |  CAST(len(kept) AS INT) AS n_kept,
         |  array_to_string(kept, ' ') AS cleaned
         |FROM (SELECT doc_id, paras,
         |    list_filter(paras, q -> NOT list_contains(fl.hs, md5(q))) AS kept
         |  FROM p, fl)""".stripMargin)
}
