package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for web-corpus curation scalars: URL canonicalization
  * (the key extractor for URL-level dedup) and mojibake repair (the
  * ftfy-style fix for UTF-8 text that was once decoded as cp1252).
  *
  * Both are pure per-row string transforms — the 100 TB plan is a narrow
  * codegen'd map over the scan with zero exchange; the only shuffle in the
  * queries built on top (q112) is a hash-agg on the SHORT canonical key.
  * Each kernel's contract is restated 1:1 by its DuckDB oracle
  * (CurationOps.oracles), so the hash gate pins the exact spec.
  */
object CurationNative {

  /** Canonical form of an absolute http(s) URL:
    *   1. drop the fragment (everything from the first '#');
    *   2. lowercase the scheme and host;
    *   3. strip a leading "www." host label;
    *   4. drop a default port (":80" for http, ":443" for https);
    *   5. strip trailing '/'s from the path (root collapses to empty);
    *   6. drop tracking params (utm_*, fbclid=, gclid=, ref=), sort the
    *      survivors bytewise, re-join with '&'.
    * A string with no "://" is returned unchanged (not a URL — the caller
    * filters, but the kernel is total). Mirrors the normalization steps of
    * the common web-crawl dedup recipe; the reference engine has no URL
    * surface, this belongs to the training-data pack (builder prompt).
    */
  def urlCanon(u: UTF8String): UTF8String = {
    val s0 = u.toString
    val sep = s0.indexOf("://")
    if (sep < 0) return u
    val hashAt = s0.indexOf('#')
    val s = if (hashAt >= 0) s0.substring(0, hashAt) else s0
    if (s.length < sep + 3) return UTF8String.fromString(s)
    val scheme = s.substring(0, sep).toLowerCase
    val rest = s.substring(sep + 3)
    // host[:port] runs to the first '/' or '?'
    var hpEnd = rest.length
    var i = 0
    while (i < hpEnd) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?') hpEnd = i else i += 1
    }
    var hp = rest.substring(0, hpEnd).toLowerCase
    if (hp.startsWith("www.")) hp = hp.substring(4)
    if (scheme == "http" && hp.endsWith(":80")) hp = hp.dropRight(3)
    else if (scheme == "https" && hp.endsWith(":443")) hp = hp.dropRight(4)
    val pathq = rest.substring(hpEnd)
    val qAt = pathq.indexOf('?')
    var path = if (qAt >= 0) pathq.substring(0, qAt) else pathq
    while (path.nonEmpty && path.charAt(path.length - 1) == '/')
      path = path.substring(0, path.length - 1)
    val query = if (qAt >= 0) pathq.substring(qAt + 1) else ""
    val kept = new java.util.ArrayList[String](8)
    if (query.nonEmpty) {
      var start = 0
      while (start <= query.length) {
        var end = query.indexOf('&', start)
        if (end < 0) end = query.length
        if (end > start) {
          val p = query.substring(start, end)
          val drop = p.startsWith("utm_") || p.startsWith("fbclid=") ||
            p.startsWith("gclid=") || p.startsWith("ref=")
          if (!drop) kept.add(p)
        }
        start = end + 1
      }
    }
    // bytewise sort = DuckDB's binary-collation list_sort
    kept.sort((a: String, b: String) =>
      java.util.Arrays.compare(
        a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8)))
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(scheme).append("://").append(hp).append(path)
    if (!kept.isEmpty) {
      sb.append('?')
      var j = 0
      while (j < kept.size()) {
        if (j > 0) sb.append('&')
        sb.append(kept.get(j)); j += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }

  /** (mojibake, intended) pairs: UTF-8 sequences that were decoded as
    * cp1252 once, mapped back to the intended character. The pattern set is
    * prefix-free and no replacement produces another pattern, so one
    * left-to-right pass == the sequential full-string replace chain the
    * DuckDB oracle states (CurationOps builds that chain from THIS list —
    * single source of truth). */
  val MojibakeMap: Seq[(String, String)] = Seq(
    "Ã©" -> "é", "Ã¡" -> "á", "Ã¶" -> "ö", "Ã±" -> "ñ", "Ã¼" -> "ü",
    "â€™" -> "’", "â€œ" -> "“", "â€“" -> "–", "Â°" -> "°")

  private val mojiPatterns = MojibakeMap.map(_._1).toArray
  private val mojiRepl = MojibakeMap.map(_._2).toArray

  /** Unicode NFC normalization — the canonical-composition pass every
    * dedup/hash step upstream assumes (the same logical text can arrive
    * precomposed 'é' or decomposed 'e'+U+0301 from different crawls; NFC
    * makes the byte streams — and therefore every MinHash/SimHash/md5 in
    * this engine — agree). Fast path: `Normalizer.isNormalized` is a
    * quick-check scan with zero allocation, and real web corpora are
    * overwhelmingly already-NFC ASCII, so at 100 TB the kernel is a
    * read-only pass for almost every row. Contract restated by DuckDB's
    * `nfc_normalize` (both sides implement UAX #15).
    */
  def nfcNormalize(t: UTF8String): UTF8String = {
    val s = t.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) t
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** Accent/diacritic strip: NFD-decompose, then drop non-spacing marks
    * (Unicode category Mn) — 'é'→'e', 'ü'→'u', combining sequences
    * collapse to their base letters; characters with no decomposition
    * ('ß', CJK, emoji) pass through untouched. This is the fold applied
    * before fuzzy matching / language-agnostic fingerprints so "café" and
    * "cafe" collide. Contract restated by DuckDB's `strip_accents`
    * (utf8proc does the same decompose-and-drop-Mn walk for Latin).
    * ASCII fast path: no char ≥ 0x80 → return the input buffer as-is.
    */
  def stripAccents(t: UTF8String): UTF8String = {
    val s = t.toString
    var ascii = true
    var i = 0
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) return t
    val d = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    i = 0
    while (i < d.length) {
      val cp = d.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  /** One-pass mojibake repair over the pattern table above. */
  def mojibakeFix(t: UTF8String): UTF8String = {
    val s = t.toString
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      var hit = -1
      var p = 0
      while (hit < 0 && p < mojiPatterns.length) {
        if (s.startsWith(mojiPatterns(p), i)) hit = p
        p += 1
      }
      if (hit >= 0) { sb.append(mojiRepl(hit)); i += mojiPatterns(hit).length }
      else { sb.append(s.charAt(i)); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }
}
