package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass kernels for the dedup/text pack (SURVEY.md §2.10
  * promotion rule: hot scalar paths become static kernels, declared in
  * [[Kernels]]).
  *
  * The Column-API formulation (`split` → `slice`×3 → `zip_with`×2 →
  * `array_distinct`, then 8× `array_min(transform(md5(...)))`) evaluates
  * every higher-order lambda interpreted, re-reads the shingle array once
  * per minhash seed, and hexes every candidate hash. These kernels do one
  * pass per row with a reused MessageDigest, unsigned byte-compare for the
  * running min (hex only the winners), and zero boxing. Output is
  * IDENTICAL to the Column formulation and the DuckDB oracles:
  * shingles = distinct token 3-grams in first-occurrence order,
  * minhash_i = lexicographic min over md5 hex of "i|shingle".
  */
object TextNative {

  /** Distinct space-delimited token 3-grams ("t0 t1 t2"), first-occurrence
    * order — byte-equal to the slices/zip_with/array_distinct pipeline. */
  def shingles3(text: UTF8String): ArrayData = {
    val toks = new java.util.ArrayList[String](64)
    val s = text.toString
    var start = 0
    val len = s.length
    while (start <= len) {
      var end = s.indexOf(' ', start)
      if (end < 0) end = len
      if (end > start) toks.add(s.substring(start, end))
      start = end + 1
    }
    val n = toks.size
    val seen = new java.util.LinkedHashSet[String](math.max(16, n * 2))
    var i = 0
    while (i + 2 < n) {
      seen.add(toks.get(i) + " " + toks.get(i + 1) + " " + toks.get(i + 2))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** Non-empty space-delimited tokens in one pass — byte-equal to
    * `filter(split(text, " "), x => x =!= "")` (single-space split with
    * empties dropped), without the regex split OR the interpreted
    * ArrayFilter lambda: higher-order functions are CodegenFallback in
    * Spark, so the Column form broke whole-stage codegen at EVERY
    * tokenize site (the single hottest scalar path in the text pack). */
  def tokens(text: UTF8String): ArrayData = {
    val s = text.toString
    val out = new java.util.ArrayList[Any](64)
    var start = 0
    val len = s.length
    while (start <= len) {
      var end = s.indexOf(' ', start)
      if (end < 0) end = len
      if (end > start) out.add(UTF8String.fromString(s.substring(start, end)))
      start = end + 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Number of non-empty space-delimited tokens — `size(tokens(text))`
    * without building the array: counts the runs of non-0x20 bytes (0x20
    * never occurs inside a multi-byte UTF-8 sequence, so the runs are the
    * tokens [[tokens]] returns). */
  def tokenCount(text: UTF8String): Int = {
    val len = text.numBytes()
    var n = 0
    var inTok = false
    var i = 0
    while (i < len) {
      if (text.getByte(i) == ' ') inTok = false
      else if (!inTok) { inTok = true; n += 1 }
      i += 1
    }
    n
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private def toHex(b: Array[Byte]): UTF8String = {
    val out = new Array[Byte](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = hexChars((b(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(b(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** unsigned lexicographic byte compare == hex-string compare (the hex
    * alphabet is monotone in the nibble value). */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    false
  }

  /** nBits-bit simhash, MSB first, still ONE md5 per feature (the Column/
    * SQL formulation pays one md5 per (feature, position)). Bit p's vote:
    *   p < 32  — "nibble p of md5(feature) ≥ 8" (the nibble's top bit),
    *             identical to `substr(md5(x), p+1, 1) >= '8'`;
    *   p ≥ 32  — bit 2 of nibble (p − 32), i.e. the hex char is one of
    *             4-7 or c-f. Widening to 64 bits (q59) keeps the 32-bit
    *             prefix bit-for-bit identical, so 32-bit callers and the
    *             DuckDB oracle's `>= '8'` idiom are untouched. */
  def simhashSig(features: ArrayData, nBits: Int): Long = {
    require(nBits <= 64, "one md5 supplies 32 nibbles x 2 voted bits")
    val m = features.numElements()
    val md = MessageDigest.getInstance("MD5")
    val votes = new Array[Int](nBits)
    var j = 0
    while (j < m) {
      md.reset()
      val h = md.digest(features.getUTF8String(j).getBytes)
      var p = 0
      while (p < nBits) {
        val q = if (p < 32) p else p - 32
        val nibble = if (q % 2 == 0) (h(q / 2) >> 4) & 0xf else h(q / 2) & 0xf
        if ((if (p < 32) nibble >= 8 else (nibble & 4) != 0)) votes(p) += 1
        p += 1
      }
      j += 1
    }
    var sig = 0L
    var p = 0
    while (p < nBits) {
      if (2 * votes(p) > m) sig |= 1L << (nBits - 1 - p)
      p += 1
    }
    sig
  }

  /** Distinct md5-hex hashes of the space-joined n-token spans of `text`,
    * in ONE pass over the raw UTF-8 bytes. This is the ExactSubstr /
    * contamination-screen kernel (Lee et al. 2021 §3 shape): downstream only
    * ever joins/counts on the span HASH, so the joined span string is never
    * materialized — each span is digested incrementally from the token byte
    * ranges plus single-space separators, and dedup happens on the 16-byte
    * digest. Token scan splits on 0x20, which never occurs inside a
    * multi-byte UTF-8 sequence, so byte-level splitting == the
    * `filter(split(text,' '), x -> x <> '')` Column tokenizer. Output set ==
    * `transform(array_distinct(grams), g -> md5(g))` (the chained-zip_with
    * Column formulation and the DuckDB oracle restatement); fewer than n
    * tokens → empty array. */
  def spanHashes(text: UTF8String, n: Int): ArrayData = {
    val b = text.getBytes
    val len = b.length
    var cap = 64
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var nt = 0
    var i = 0
    while (i < len) {
      if (b(i) == ' ') i += 1
      else {
        var j = i + 1
        while (j < len && b(j) != ' ') j += 1
        if (nt == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          ends = java.util.Arrays.copyOf(ends, cap)
        }
        starts(nt) = i; ends(nt) = j; nt += 1
        i = j + 1
      }
    }
    if (nt < n) return new GenericArrayData(new Array[Any](0))
    val md = MessageDigest.getInstance("MD5")
    val nSpans = nt - n + 1
    val seen = new java.util.LinkedHashSet[java.nio.ByteBuffer](
      math.max(16, nSpans * 2))
    var k = 0
    while (k < nSpans) {
      md.reset()
      var t = 0
      while (t < n) {
        if (t > 0) md.update(' '.toByte)
        md.update(b, starts(k + t), ends(k + t) - starts(k + t))
        t += 1
      }
      seen.add(java.nio.ByteBuffer.wrap(md.digest()))
      k += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = toHex(it.next().array()); i += 1 }
    new GenericArrayData(out)
  }

  /** Winnowed window starts + hashes in ONE pass (q181's hot path —
    * Schleimer et al. anchors): char position p (1-based) starts a
    * window iff p == 1 or the first md5 byte of the k-gram ending just
    * before p is < `thresh`; each anchored position emits
    * struct(p, md5-hex of the w-char window). Positions are CHAR
    * positions over UTF-8 boundaries — parity with `substr()`-based
    * restatements on multibyte text. One reused MessageDigest; the
    * Column formulation (explode a 1..n sequence, filter on
    * `md5(substr)`) allocates a digest + UTF8String copy per position
    * and measured 4.5× over the oracle at sf0.1. Threshold note:
    * comparing the first digest byte to `thresh` equals the hex-string
    * compare `substr(md5_hex, 1, 2) < lpad(hex(thresh))` the oracle
    * uses — two lowercase hex digits compare lexicographically as the
    * byte compares numerically. */
  def winnowedWindows(text: UTF8String, w: Int, k: Int,
      thresh: Int): ArrayData =
    windowHashes(text, w, stride = 1, k = k, thresh = thresh)

  /** [[winnowedWindows]]' sibling for the fixed grid (q179/q180):
    * positions 1, 1+stride, … with no anchor test. */
  def stridedWindows(text: UTF8String, w: Int, stride: Int): ArrayData =
    windowHashes(text, w, stride = stride, k = 0, thresh = -1)

  /** Shared scan: `thresh < 0` = every grid position is a window start;
    * otherwise the winnowed anchor rule over a stride-1 grid. */
  private def windowHashes(text: UTF8String, w: Int, stride: Int,
      k: Int, thresh: Int): ArrayData = {
    val b = text.getBytes
    val len = b.length
    // char-start byte offsets (UTF-8 continuation bytes are 10xxxxxx)
    val starts = new Array[Int](math.max(len + 1, 16))
    var n = 0
    var i = 0
    while (i < len) {
      if ((b(i) & 0xc0) != 0x80) { starts(n) = i; n += 1 }
      i += 1
    }
    if (n < w) return new GenericArrayData(new Array[Any](0))
    starts(n) = len
    val md = MessageDigest.getInstance("MD5")
    val out = new java.util.ArrayList[Any](n / math.max(stride, 8) + 4)
    val nPos = n - w + 1
    var p = 1
    while (p <= nPos) {
      val anchored = thresh < 0 || p == 1 || (p > k && {
        md.reset()
        md.update(b, starts(p - 1 - k), starts(p - 1) - starts(p - 1 - k))
        (md.digest()(0) & 0xff) < thresh
      })
      if (anchored) {
        md.reset()
        md.update(b, starts(p - 1), starts(p - 1 + w) - starts(p - 1))
        out.add(new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](p, toHex(md.digest()))))
      }
      p += stride
    }
    new GenericArrayData(out.toArray)
  }

  private def xx64(b: Array[Byte], len: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)

  /** [[spanHashes]] in `graft.hash=xxhash64` mode: same one-pass token
    * scan, but each span digests to ONE long (seed 42 = the builtin
    * `xxhash64()`, so `array_distinct(transform(grams, xxhash64))` is the
    * byte-parity restatement) — 8 bytes per span key instead of 32 hex
    * chars. The production knob for 100 TB dedup joins; md5 stays the
    * default because the DuckDB oracles can only restate md5. */
  def spanHashes64(text: UTF8String, n: Int): ArrayData = {
    val b = text.getBytes
    val len = b.length
    var cap = 64
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var nt = 0
    var i = 0
    while (i < len) {
      if (b(i) == ' ') i += 1
      else {
        var j = i + 1
        while (j < len && b(j) != ' ') j += 1
        if (nt == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          ends = java.util.Arrays.copyOf(ends, cap)
        }
        starts(nt) = i; ends(nt) = j; nt += 1
        i = j + 1
      }
    }
    if (nt < n) return new GenericArrayData(new Array[Any](0))
    val nSpans = nt - n + 1
    var span = new Array[Byte](64)
    val seen = new java.util.LinkedHashSet[java.lang.Long](
      math.max(16, nSpans * 2))
    var k = 0
    while (k < nSpans) {
      var sl = 0
      var t = 0
      while (t < n) {
        val tl = ends(k + t) - starts(k + t)
        if (sl + tl + 1 > span.length)
          span = java.util.Arrays.copyOf(span, (sl + tl + 1) * 2)
        if (t > 0) { span(sl) = ' '; sl += 1 }
        System.arraycopy(b, starts(k + t), span, sl, tl)
        sl += tl
        t += 1
      }
      seen.add(xx64(span, sl))
      k += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  /** [[minhashSig]] in `graft.hash=xxhash64` mode: element i = SIGNED min
    * over shingles of xxhash64("i|" + shingle) — signed so the Column
    * restatement `array_min(transform(sh, s -> xxhash64('i|' || s)))`
    * is value-identical. 8-byte signature elements; null on empty. */
  def minhashSig64(shingles: ArrayData, nSig: Int): ArrayData = {
    val m = shingles.numElements()
    if (m == 0) return null
    val mins = new Array[Long](nSig)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val prefixes = new Array[Array[Byte]](nSig)
    var i = 0
    while (i < nSig) { prefixes(i) = (i.toString + "|").getBytes; i += 1 }
    var buf = new Array[Byte](64)
    var j = 0
    while (j < m) {
      val sh = shingles.getUTF8String(j).getBytes
      i = 0
      while (i < nSig) {
        val p = prefixes(i)
        if (p.length + sh.length > buf.length)
          buf = java.util.Arrays.copyOf(buf, (p.length + sh.length) * 2)
        System.arraycopy(p, 0, buf, 0, p.length)
        System.arraycopy(sh, 0, buf, p.length, sh.length)
        val h = xx64(buf, p.length + sh.length)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    val out = new Array[Any](nSig)
    i = 0
    while (i < nSig) { out(i) = mins(i); i += 1 }
    new GenericArrayData(out)
  }

  /** One-permutation MinHash (Li, Owen & Zhang 2012, "One Permutation
    * Hashing") with rotation densification (Shrivastava & Li 2014,
    * "Improved Densification of One Permutation Hashing"): ONE md5 per
    * shingle instead of [[minhashSig]]'s nSig — the digest's leading hex
    * digit mod nSig picks the signature slot, per-slot minima keep the
    * usual lexicographic-min order, and an empty slot borrows from the
    * cyclically-next non-empty one so every slot is defined (collision
    * probability stays an unbiased Jaccard estimate per the densification
    * papers). At a 100 TB corpus the digest is the whole signature cost,
    * so this is the ~nSig× cheaper drop-in where 8 independent
    * permutations aren't required. Value-identical to the Column
    * reference in TextOps.ophSigRef (TextOpsNativeSpec); null on empty. */
  def ophSig(shingles: ArrayData, nSig: Int): ArrayData = {
    val m = shingles.numElements()
    if (m == 0) return null
    val md = MessageDigest.getInstance("MD5")
    val prefix = "p|".getBytes
    val mins = new Array[Array[Byte]](nSig)
    var j = 0
    while (j < m) {
      val sh = shingles.getUTF8String(j).getBytes
      md.reset()
      md.update(prefix)
      md.update(sh)
      val h = md.digest()
      val b = ((h(0) >> 4) & 0xf) % nSig
      if (mins(b) == null || less(h, mins(b))) mins(b) = h
      j += 1
    }
    val out = new Array[Any](nSig)
    var i = 0
    while (i < nSig) {
      var k = 0
      while (mins((i + k) % nSig) == null) k += 1 // ≥1 slot is non-empty
      out(i) = toHex(mins((i + k) % nSig))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-document term frequencies in ONE pass over the raw UTF-8 bytes:
    * distinct tokens in first-occurrence order with their counts, as
    * (token, tf) structs. Token scan splits on 0x20 (never inside a
    * multi-byte UTF-8 sequence), so it equals the
    * `filter(split(text,' '), x -> x <> '')` Column tokenizer; the output
    * multiset equals `groupBy(token).count()` over the exploded tokens —
    * which is exactly the shuffle this kernel deletes (q55). */
  def tokenTf(text: UTF8String): ArrayData = {
    val b = text.getBytes
    val len = b.length
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Int]](64)
    var i = 0
    while (i < len) {
      if (b(i) == ' ') i += 1
      else {
        var j = i + 1
        while (j < len && b(j) != ' ') j += 1
        val tok = UTF8String.fromBytes(b, i, j - i)
        val c = counts.get(tok)
        if (c == null) counts.put(tok, Array(1)) else c(0) += 1
        i = j + 1
      }
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue()(0)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Σ_t min(tf_a(t), tf_b(t)) over two (token, tf) arrays — the exact
    * integer numerator of the weighted Jaccard (q185 verify). One hash map
    * over the SMALLER side, one probe pass over the larger: replaces the
    * interpreted `map_from_entries` + `aggregate` HOF chain that evaluated
    * a Catalyst lambda per token per candidate pair (measured 3.4s of
    * q185's 4.6s at sf0.1; this kernel runs inside whole-stage codegen). */
  def tfIntersect(a: ArrayData, b: ArrayData): Long = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    if (n == 0) return 0L
    val m = new java.util.HashMap[UTF8String, Integer](n * 2)
    var i = 0
    while (i < n) {
      val e = small.getStruct(i, 2)
      m.put(e.getUTF8String(0), Integer.valueOf(e.getInt(1)))
      i += 1
    }
    var sum = 0L
    val nl = large.numElements()
    i = 0
    while (i < nl) {
      val e = large.getStruct(i, 2)
      val tf = m.get(e.getUTF8String(0))
      if (tf != null) sum += math.min(tf.intValue(), e.getInt(1))
      i += 1
    }
    sum
  }

  /** nSig minhash values: element i = min over shingles of
    * md5hex("i|" + shingle). One digest instance, min tracked on raw
    * bytes, hex only at the end. Empty input → null (no minimum). */
  def minhashSig(shingles: ArrayData, nSig: Int): ArrayData = {
    val m = shingles.numElements()
    if (m == 0) return null
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[Array[Byte]](nSig)
    val prefixes = new Array[Array[Byte]](nSig)
    var i = 0
    while (i < nSig) { prefixes(i) = (i.toString + "|").getBytes; i += 1 }
    var j = 0
    while (j < m) {
      val sh = shingles.getUTF8String(j).getBytes
      i = 0
      while (i < nSig) {
        md.reset()
        md.update(prefixes(i))
        md.update(sh)
        val h = md.digest()
        if (mins(i) == null || less(h, mins(i))) mins(i) = h
        i += 1
      }
      j += 1
    }
    val out = new Array[Any](nSig)
    i = 0
    while (i < nSig) { out(i) = toHex(mins(i)); i += 1 }
    new GenericArrayData(out)
  }
}
