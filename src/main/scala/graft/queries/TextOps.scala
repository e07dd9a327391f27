package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SessionMemo, Tables}
import graft.operators.LshIndex
import graft.queries.OracleSql.{sqlHex4, sqlTokens}

/** Text-analysis + deduplication pack over the `documents` table.
  *
  * Design notes for 100 TB scale:
  *   - all shingling/hashing happens in codegen'd built-ins (split/transform/
  *     md5) — no UDFs, no driver-side loops;
  *   - MinHash-LSH dedup is the standard band-bucket join: O(candidates)
  *     not O(n²); the only shuffle is on band hash;
  *   - hashes are md5-based so the DuckDB oracle reproduces them exactly
  *     (lexicographic min over hex strings = the minhash order).
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Non-empty whitespace tokens, as a Column over `text` — the native
    * one-pass kernel (r10): `filter(split(...), lambda)` is a
    * CodegenFallback higher-order function that broke whole-stage
    * codegen at every tokenize site; [[graft.functions.TextNative.tokens]]
    * is byte-identical and codegen-participating.
    *
    * Invariant consumers rely on (r16 ADVICE): tokens are split on
    * U+0020 and never contain U+0000 — [[graft.operators.SuffixArray]]
    * joins token slices with a NUL sentinel whose order/equality proof
    * assumes exactly this. A tokenizer change that could emit NUL bytes
    * must strip them here or re-prove that seed-key encoding. */
  private[graft] def tokensCol: Column = tokensOf(col("text"))

  private[graft] def tokensOf(c: Column): Column = graft.functions.Kernels.Tokens(c)

  /** `size(tokensCol)` without the array: for projections that use the
    * tokens only for their count, and for filters on the count ahead of
    * a tokens projection (a filter on `size` of the projected array is
    * pushed below the projection with the tokenizer inlined, so every
    * row would tokenize twice). */
  private[graft] def tokenCountCol: Column = tokenCountOf(col("text"))

  private[graft] def tokenCountOf(c: Column): Column =
    graft.functions.Kernels.TokenCount(c)

  /** Distinct 3-gram (token-trigram) shingles.
    *
    * Built from three shifted `slice`s zipped elementwise rather than
    * `transform(sequence(...), i => element_at(tokens, i)...)`: a non-lambda
    * subexpression inside a higher-order-function lambda is re-evaluated per
    * ELEMENT, so the element_at form re-tokenized the document O(n_tokens²)
    * times per row. Slices evaluate the token array once per row. */
  private[graft] def shinglesCol(tokens: Column): Column = {
    val n = size(tokens)
    val sh3 = zip_with(
      zip_with(slice(tokens, lit(1), n - 2), slice(tokens, lit(2), n - 2),
        (a, b) => concat(a, lit(" "), b)),
      slice(tokens, lit(3), n - 2),
      (ab, c) => concat(ab, lit(" "), c))
    array_distinct(
      when(n >= 3, sh3).otherwise(array().cast("array<string>")))
  }

  /** MinHash value for seed `i`: lexicographic min of md5(i|shingle).
    * Kept as the REFERENCE formulation: TextOpsNativeSpec pins the native
    * kernels ([[graft.functions.Kernels]]) to this + shinglesCol. */
  private[graft] def minhash(shingles: Column, i: Int): Column =
    array_min(transform(shingles, sh => md5(concat(lit(s"$i|"), sh))))

  private[graft] val nSig = 8 // 8 minhashes → 2 bands of 4 (collision prob = s⁴)

  /** Spread a small-file scan across all cores before CPU-heavy per-row
    * transforms (shingling = hundreds of md5 calls per row). Gated local
    * knob — see [[graft.core.Tables.spread]]; a no-op under cluster conf,
    * where scan splits provide the parallelism and this exchange would
    * shuffle the document payload for nothing. */
  private def spread(df: DataFrame): DataFrame =
    Tables.spread(df, col("doc_id"))

  /** Dir-keyed warehouse name shared by q212 (build) and q191 (match):
    * the index persists per corpus, so q191's build-if-missing never
    * reads another SF's tables. Bump the version on any signature-
    * semantics change. */
  private def weightedIndexName(dir: String): String =
    Tables.dirKeyed("wq191_v1_", dir)

  private def suffixKey(dir: String): String = s"suffixRanks $dir"

  /** Shared corpus suffix-rank frame (q203 reports it, q204 reads
    * neighbor LCPs off it): Lee et al. 2022 build the suffix array ONCE
    * per corpus and every dedup consumer reads it, so rebuilding the
    * O(N log L) prefix-doubling rounds inside each query would charge an
    * ingest-time cost to every read. A session-scope memo entry per dir,
    * localCheckpointed; reuse costs one scan of the checkpointed 24-byte
    * (doc_id, p, srank) triples. */
  private def suffixRanks(s: SparkSession, dir: String): DataFrame =
    SessionMemo.session(s, suffixKey(dir))(
      graft.operators.SuffixArray.tokenSuffixRanks(
        spread(t(s, dir, "documents")), tokensCol, seedWidth = 32)
        .localCheckpoint(true))

  /** Repeated-substring spans — the ExactSubstr dedup of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) re-expressed for Spark. The monolithic version
    * builds one suffix array over the whole corpus; here the same
    * "character run that appears more than once anywhere" signal comes
    * from fixed-width windows at a stride: window content that occurs
    * ≥2 times corpus-wide (cross-doc OR within-doc) marks its positions,
    * and overlapping/adjacent marked windows merge into maximal
    * duplicated spans per doc (classic interval-island merge via a
    * running-max window function).
    *
    * Scale shape: one exchange keyed by window hash (corpus-wide
    * occurrence count + the mark join reuse it) and one keyed by doc_id
    * (span merge) — no pairwise join, nothing quadratic, and window
    * payloads shuffle as 32-byte md5 hex, never text. Stride trades
    * recall for cost linearly (stride=1 ≡ every start position, the
    * paper's granularity); `w` is the minimum duplicated-run length
    * detected, like the paper's 50-token threshold. */
  private[graft] def substringSpanList(docs: DataFrame, w: Int,
      stride: Int): DataFrame =
    markAndMerge(w, docs
      .filter(length(col("text")) >= w)
      .select(col("doc_id"),
        explode(graft.functions.Kernels.StridedWindows(
          col("text"), w, stride)).as("win"))
      .select(col("doc_id"), col("win.p").as("p"), col("win.h").as("h")))

  /** Winnowed window starts (Schleimer et al., "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD'03 — the MOSS /
    * content-defined-chunking idea): instead of a fixed stride grid, a
    * position starts a window when the k-gram JUST BEFORE it hashes
    * under a threshold. Anchors depend only on local content, so a
    * substring shared at DIFFERENT offsets in two docs still yields the
    * same relative anchor positions — the recall hole of stride
    * sampling (duplicates at non-grid-aligned offsets are invisible)
    * closes, at the same expected sampling rate (threshold "1a" ≈
    * 26/256 ≈ 1/10 of positions ≈ stride 10). Position 1 is always an
    * anchor so equal-offset duplicates keep q179's floor. The per-
    * position md5 is the inherent winnowing scan cost — per-row CPU at
    * the scan, nothing extra shuffles. Shape note: that cost lives in
    * the one-pass [[graft.functions.TextNative.winnowedWindows]] kernel
    * (reused digest, byte loops); the Column formulations (HOF `filter`
    * lambda, and explode + codegen'd `md5(substr)` WHERE) allocate a
    * digest + string copy per POSITION and measured 22× / 10× the
    * oracle respectively — the kernel runs under it. `thresh` is two
    * lowercase hex digits, compared against the first digest byte. */
  private[graft] def winnowedSpanList(docs: DataFrame, w: Int, k: Int,
      thresh: String): DataFrame =
    markAndMerge(w, docs
      .filter(length(col("text")) >= w)
      .select(col("doc_id"),
        explode(graft.functions.Kernels.WinnowedWindows(
          col("text"), w, k, Integer.parseInt(thresh, 16))).as("win"))
      .select(col("doc_id"), col("win.p").as("p"), col("win.h").as("h")))

  /** Shared tail of the ExactSubstr family: corpus-wide duplicate
    * marking + per-doc interval-island merge into maximal spans, over a
    * (doc_id, p, h) window table. */
  private def markAndMerge(w: Int, wins: DataFrame): DataFrame = {
    // corpus-wide occurrence count; ≥2 = duplicated content. count(*)
    // (not countDistinct(doc_id)) so a run repeated WITHIN one doc also
    // marks — the paper's semantics.
    val dup = wins.groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1).select("h")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
    val prevMaxEnd = max(col("pe")).over(
      byDoc.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1))
    wins.join(dup, Seq("h"))
      .select(col("doc_id"), col("p"), (col("p") + (w - 1)).as("pe"))
      // island break: this window starts past the furthest end seen so
      // far +1 → a gap, new span
      .withColumn("brk",
        when(col("p") > coalesce(prevMaxEnd, lit(-1)) + 1, 1L)
          .otherwise(0L))
      .withColumn("g", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min("p").as("span_start"), max("pe").as("span_end"))
  }

  private def spanInventory(spanList: DataFrame): DataFrame =
    spanList
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("dup_chars"),
        min("span_start").cast("long").as("first_span"))

  /** q179's per-doc span inventory over [[substringSpanList]]. */
  private[graft] def substringSpans(docs: DataFrame, w: Int,
      stride: Int): DataFrame =
    spanInventory(substringSpanList(docs, w, stride))

  /** q181: the same inventory over winnowed (content-anchored) window
    * starts — shift-robust where q179's stride grid is not. */
  private[graft] def winnowedSpans(docs: DataFrame, w: Int, k: Int,
      thresh: String): DataFrame =
    spanInventory(winnowedSpanList(docs, w, k, thresh))

  /** The CUT step of ExactSubstr dedup: remove every duplicated span from
    * every doc (the paper drops one side of each duplicate pair; cutting
    * all marked extents is the deterministic, order-free variant — no
    * "which copy survives" coordination across executors, which is what
    * makes this formulation cluster-safe). Kept text = the segments
    * between spans, stitched per doc: each span contributes the gap
    * before it (`lag(span_end)`-bounded substring), the tail rides from
    * `max(span_end)`. Docs with no spans pass through on a left join.
    * Spans arrive MERGED and disjoint from [[substringSpanList]], so
    * segment arithmetic never overlaps; per-doc stitch order is pinned by
    * `sort_array` over (span_start, seg) structs, not collect order. */
  private[graft] def substringCut(docs: DataFrame, w: Int,
      stride: Int): DataFrame = {
    // spans fold into one sorted array per doc BEFORE touching text, so
    // the heavy payload shuffles exactly once (the left join below);
    // the groupBy rides the span list's existing doc_id partitioning.
    val spanArr = substringSpanList(docs, w, stride)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("spans"))
    // stitch = one in-row fold over the (few, merged, disjoint) spans:
    // each span appends the gap before it, the finisher appends the
    // tail. A higher-order aggregate (CodegenFallback) is the right
    // trade here — rows carry ≤ spans-per-doc elements and the
    // alternative costs a second corpus-wide text exchange.
    val cutExpr = aggregate(
      col("spans"),
      struct(lit(1).as("pos"), lit("").as("acc")),
      (st, sp) => struct(
        (sp.getField("span_end") + 1).as("pos"),
        concat(st.getField("acc"),
          col("text").substr(st.getField("pos"),
            sp.getField("span_start") - st.getField("pos"))).as("acc")),
      st => concat(st.getField("acc"),
        col("text").substr(st.getField("pos"), length(col("text")))))
    docs.select(col("doc_id"), col("text"))
      .join(spanArr, Seq("doc_id"), "left_outer")
      .withColumn("clean_text",
        when(col("spans").isNull, col("text")).otherwise(cutExpr))
      .select(col("doc_id"), col("clean_text"),
        (length(col("text")) - length(col("clean_text"))).cast("long")
          .as("removed_chars"))
  }

  /** Verified near-dup pairs of the set family (q29's plan, see
    * [[LshIndex.pairs]]). Kept as a delegate because the `curation`
    * benchmark's traced q136 recomposition compiles against this name. */
  private[graft] def lshVerifiedPairs(docs: DataFrame): DataFrame =
    LshIndex.pairs(docs, LshIndex.SetMinHash)

  /** SimHash hamming-≤3 pairs (q59): 64-bit signature, four 16-bit bands —
    * an exact hamming-3 ball (3 flipped bits invalidate at most 3 of the 4
    * bands, so one must collide: no recall loss). 16-bit bands keep the
    * join's key space at 4·2^16, so a bucket is ~n/65536 and the in-bucket
    * self-join stays linear-ish at corpus scale; the same count-prefiltered
    * skew cap as the MinHash path (LshIndex.DefaultBandCap rationale) makes a
    * degenerate bucket (boilerplate with identical sigs — q25's exact-dup
    * territory) contribute no pairs and no join work, enforced BEFORE the
    * join on a map-side-combined count. The sig is ONE native pass (one md5
    * per shingle — SimHashBits); shuffles carry only (bno, band, id, sig). */
  private[graft] def simhashPairs(docs: DataFrame,
      bandCap: Int = LshIndex.DefaultBandCap): DataFrame = {
    // EAGER localCheckpoint: sigs is 16 bytes/doc, and the hot-band count,
    // the anti-join probe, and both self-join sides all fan out from it —
    // without the checkpoint each branch re-runs the scan + shingle +
    // simhash kernel (per-branch pruning defeats ReuseExchange). Eager,
    // not lazy: a lazy checkpoint materializes inside the first job that
    // touches it, and Spark launches the broadcast-build jobs
    // CONCURRENTLY — each raced to compute the full kernel pass before
    // the other had materialized it (observed as duplicate 32-task
    // kernel stages in the r6 listener profile).
    // a doc has a shingle iff it has 3 tokens: filtering on the count
    // first keeps shingles3 to one run per row
    val sigs = docs
      .filter(tokenCountCol >= 3)
      .select(col("doc_id"), graft.functions.Kernels.SimHashBits(
        graft.functions.Kernels.Shingles3(col("text")), 64).as("sig"))
      .localCheckpoint()
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("bno"),
          shiftright(col("sig"), 16 * (3 - b)).bitwiseAND(lit(65535L))
            .as("band"))): _*)).as("b"))
      .select(col("doc_id"), col("sig"), col("b.bno"), col("b.band"))
    val hot = banded.groupBy(col("bno"), col("band")).count()
      .filter(col("count") > bandCap).select(col("bno"), col("band"))
    val cold = banded.join(hot, Seq("bno", "band"), "left_anti")
    cold.as("x").join(cold.as("y"), Seq("bno", "band"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_a"), col("y.doc_id").as("doc_id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 3) // before distinct: shrink the shuffle
      .distinct()
  }

  /** Column REFERENCE formulation of the densified one-permutation-hashing
    * signature — the definition [[graft.functions.TextNative.ophSig]] is
    * pinned against (TextOpsNativeSpec): one md5 per shingle, the leading
    * hex digit mod n picks the slot, per-slot lexicographic minima,
    * rotation densification (empty slot borrows from the cyclically-next
    * non-empty one). Kept as the spec/oracle mirror; q183 runs the native
    * one-pass kernel. */
  private[graft] def ophSigRef(shingles: Column, n: Int): Column = {
    val hd = transform(shingles, sh => md5(concat(lit("p|"), sh)))
    val mins = (0 until n).map(b => array_min(filter(hd, h =>
      conv(substring(h, 1, 1), 16, 10).cast("int") % n === b)))
    array((0 until n).map(b =>
      coalesce((0 until n).map(k => mins((b + k) % n)): _*)): _*)
  }

  private val stopwords = Seq("the", "a")

  val defs: Map[String, Q] = Map(
    // Token counting + document fingerprint (rolling-hash analog via md5).
    "q22_text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        col("n_chars"),
        tokenCountCol.as("n_tokens"),
        md5(col("text")).as("fingerprint"))
    }),

    // Quality scoring: length/stopword/avg-token-length signals.
    // Ratios are a single double division of exact ints — bit-deterministic.
    "q23_quality_score" -> ((s, dir) => {
      val toks = tokensCol
      t(s, dir, "documents")
        .withColumn("n_tokens", size(toks))
        .withColumn("n_stop", size(filter(toks, x => x.isin(stopwords: _*))))
        .filter(col("n_tokens") > 0)
        .select(
          col("doc_id"),
          col("n_tokens"),
          (col("n_stop").cast("double") / col("n_tokens").cast("double"))
            .as("stopword_ratio"),
          ((col("n_chars") - col("n_tokens") + 1).cast("double") /
            col("n_tokens").cast("double")).as("avg_token_len"))
    }),

    // Language-ID heuristic: deterministic stopword-hit rule (the real
    // n-gram tables would slot into the same shape).
    "q24_lang_guess" -> ((s, dir) => {
      val toks = tokensCol
      t(s, dir, "documents")
        .withColumn("hits_en", size(filter(toks, x => x.isin("the", "a"))))
        .select(col("doc_id"), col("lang"),
          when(col("hits_en") >= 3, lit("en"))
            .when(col("hits_en") >= 1, lit("und"))
            .otherwise(lit("xx")).as("lang_guess"))
    }),

    // Corpus-health diagnostics: Zipf slope + Heaps exponent — the
    // sanity numbers a 100 TB crawl is screened by before training
    // (a slope far from −1 or a collapsed vocab growth flags boilerplate
    // floods / generator loops). OLS fit of ln(freq) on ln(rank) over
    // the top-256 vocabulary: per-point logs are 6-dp-rounded into
    // BIGINTs (the q55 ln-ulp guard), every SUM is integer-exact (the
    // q162 sufficient-statistics discipline), and the only float math is
    // one fixed-shape final expression — bit-deterministic under any
    // partitioning. Scale shape: token instances fold in-row (TokenTf),
    // ONE map-side-combined vocab exchange, top-256 via TakeOrdered
    // (never a full sort), everything after is 256-row arithmetic.
    "q195_zipf_fit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val vocab = Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(explode(
          graft.functions.Kernels.TokenTf(col("text"))).as("e"))
        .select(col("e.token").as("token"), col("e.tf").cast("long").as("tf"))
        .groupBy("token").agg(sum("tf").as("freq"))
      val top = vocab.orderBy(col("freq").desc, col("token")).limit(256)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("freq").desc, col("token"))))
        .select(
          expr("cast(round(ln(cast(rank as double)) * 1000000) as bigint)")
            .as("x"),
          expr("cast(round(ln(cast(freq as double)) * 1000000) as bigint)")
            .as("y"))
      val fit = top.agg(count(lit(1)).as("k"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      val tot = vocab.agg(count(lit(1)).as("vocab_size"),
        sum("freq").as("n_total"))
      fit.crossJoin(tot).select(
        col("vocab_size"), col("n_total"),
        round((col("k").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("k").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("zipf_slope"),
        round(expr("ln(cast(vocab_size as double)) /" +
          " ln(cast(n_total as double))"), 6).as("heaps_beta"))
    }),

    // REAL n-gram language ID (the upgrade q24's heuristic row promised):
    // a Cavnar–Trenkle-style character-trigram frequency profile per
    // language, TRAINED from the corpus's labeled rows and applied back —
    // profile = top-256 trigrams by count (ties → trigram asc), weight =
    // (10^6·c) div N_l in exact integer arithmetic, doc score = Σ weights
    // over its trigram INSTANCES, argmax language (ties → lang asc).
    // Scale shape: trigram extraction is in-row; the (doc, tri) stream
    // map-side-combines into ≤|langs| partial rows per doc before the
    // exchange (the q55 rule — the raw token stream never shuffles
    // whole); the model is top-256·|langs| rows, a BOUNDED dimension
    // joined hint-free (AQE broadcasts it); all arithmetic integer-exact
    // so any partitioning agrees bit-for-bit.
    "q194_langid_trigram" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
        .filter(length(col("t")) >= 3)
      val tris = Tables.spread(docs, col("doc_id"))
        .select(col("doc_id"), col("lang"),
          explode(transform(sequence(lit(1), length(col("t")) - 2),
            i => col("t").substr(i, lit(3)))).as("tri"))
      val counts = tris.groupBy("lang", "tri")
        .agg(count(lit(1)).as("c"))
      val wTop = Window.partitionBy("lang")
        .orderBy(col("c").desc, col("tri"))
      val model = counts
        .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 256)
        .withColumn("nl", sum("c").over(Window.partitionBy("lang")))
        .select(col("lang").as("m_lang"), col("tri").as("m_tri"),
          expr("(1000000 * c) div nl").as("w"))
      val scored = tris.join(model, col("tri") === col("m_tri"))
        .groupBy(col("doc_id"), col("m_lang"))
        .agg(sum("w").as("score"))
      val best = scored.groupBy("doc_id")
        .agg(min(struct((-col("score")).as("ns"), col("m_lang").as("l")))
          .as("b"))
        .select(col("doc_id"), col("b.l").as("pl"), (-col("b.ns")).as("sc"))
      docs.select("doc_id", "lang").join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("pl"), lit("und")).as("pred_lang"),
          coalesce(col("sc"), lit(0L)).as("score"))
    }),

    // Exact dedup: canonical row per normalized-text hash.
    // Bloom-prefiltered incremental dedup — the 100 TB "seen before?"
    // shape: a new batch (source = src0) screens against the EXISTING
    // corpus without ever joining to it wholesale. The existing side
    // aggregates once into a bloom filter over xxhash64 of the doc
    // fingerprint (md5 of the first 8-token span — element 1 of the
    // SpanHashes kernel output); the filter broadcasts (KBs); bloom
    // negatives are definitively new (no false negatives), and only the
    // bloom POSITIVES — a tiny candidate set — are exact-verified with a
    // semi-join. Spark ships BloomFilterAggregate/BloomFilterMightContain
    // for runtime filters; GraftExtensions surfaces them by SQL name.
    "q101_bloom_incremental" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      // fingerprint = md5 of the FIRST 8-token span only — one hash per
      // doc (the SpanHashes kernel would hash every span; q90's need,
      // not this one's)
      val fpCol = when(size(tokensCol) >= 8,
        md5(concat_ws(" ", slice(tokensCol, 1, 8))))
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), fpCol.as("fp"))
      val existing = d.filter(col("source") =!= "src0" && col("fp").isNotNull)
      val batch = d.filter(col("source") === "src0")
      // the filter must reach might_contain as a CONSTANT (that is how
      // Spark's own runtime filters inject it — the scalar subquery is
      // executed first); one job builds the KB-sized filter, the literal
      // then ships with the task binaries. Dictionary-bootstrap pattern:
      // collecting a dimension artifact, never corpus data.
      val bf: Array[Byte] = existing.agg(
        expr("bloom_filter_agg(xxhash64(fp), 10000L, 80000L)").as("bf"))
        .collect().head.getAs[Array[Byte]](0)
      val flagged = batch.withColumn("maybe",
        org.apache.spark.sql.graftbridge.Bridge.column(
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            org.apache.spark.sql.graftbridge.Bridge.expression(lit(bf)),
            org.apache.spark.sql.graftbridge.Bridge.expression(
              xxhash64(col("fp"))))))
      // exact verify with the SMALL side broadcast: bloom positives are a
      // tiny candidate fp set; the corpus-sized `existing` is scanned once
      // with a broadcast semi-join and is never broadcast or reshuffled
      // itself (broadcasting existing's fps would be corpus-sized at
      // 100 TB and defeat the bloom's purpose)
      val candFps = flagged.filter(col("maybe") && col("fp").isNotNull)
        .select(col("fp")).distinct()
      val confirmedFps = existing
        .join(broadcast(candFps), Seq("fp"), "left_semi")
        .select(col("fp")).distinct()
      val dupSet = flagged
        .join(broadcast(confirmedFps.withColumnRenamed("fp", "fp2")),
          col("fp") === col("fp2"), "left_semi")
        .select(col("doc_id")).withColumn("is_dup", lit(1L))
      batch.select("doc_id").join(dupSet, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("is_dup"), lit(0L)).as("is_dup"))
    }),

    "q25_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(lower(col("text"))).as("text_hash"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
    }),

    // n-gram Jaccard similarity over adjacent doc pairs (pairwise primitive
    // used by the LSH verify stage below). AdjacentPairs = one bucketed
    // window pass: shingles computed ONCE per doc (the self-join evaluated
    // them on both sides) and no SortMergeJoin in the plan.
    "q26_ngram_jaccard" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"),
          graft.functions.Kernels.Shingles3(col("text")).as("sh"))
      graft.operators.AdjacentPairs.pairs(docs, "doc_id")
        // array_intersect = hash-set intersection, O(|a|+|b|) — the
        // element-wise contains scan is quadratic per pair
        .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("n_union",
          size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))
        .filter(col("n_union") > 0)
        .select(col("doc_id_a"), col("doc_id_b"),
          (col("n_inter").cast("double") / col("n_union").cast("double"))
            .as("jaccard"))
    }),

    // SimHash (16-bit, md5-nibble majority vote per bit position).
    "q27_simhash" -> ((s, dir) => {
      val toks = array_distinct(tokensCol)
      val bits = (1 to 16).map { p =>
        (size(filter(col("toks"), x => substring(md5(x), p, 1) >= "8")) * 2 >
          size(col("toks"))).cast("int").cast("string")
      }
      spread(t(s, dir, "documents"))
        .withColumn("toks", toks)
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), concat(bits: _*).as("simhash"))
    }),

    // SimHash near-dup pairs over SHINGLE features (token-level bits
    // degenerate on a homogeneous corpus — global token stats dominate →
    // near-clique; shingles are doc-specific). Plan + skew-cap rationale
    // on simhashPairs above.
    "q59_simhash_pairs" -> ((s, dir) =>
      simhashPairs(spread(t(s, dir, "documents")))),

    // MinHash signatures + LSH band hashes.
    "q28_minhash_sig" -> ((s, dir) => {
      LshIndex.bands(t(s, dir, "documents"), LshIndex.SetMinHash)
        .select("doc_id", "mh0", "mh7", "band0", "band1")
    }),

    // MinHash-LSH near-dup pairs: band-bucket join → candidate pairs →
    // exact-Jaccard verification ≥ 0.5. The canonical scale-out dedup plan:
    // shuffle on band hash only, candidates ≪ n².
    "q29_minhash_pairs" -> ((s, dir) =>
      LshIndex.pairs(t(s, dir, "documents"), LshIndex.SetMinHash)),

    // Weighted MinHash signatures: tf-weighted Jaccard via the multiset
    // expansion (see [[LshIndex.expandedInstances]]) — q28's shape over
    // instances.
    "q184_weighted_minhash" -> ((s, dir) => {
      LshIndex.bands(t(s, dir, "documents"), LshIndex.WeightedMinHash)
        .select("doc_id", "wmh0", "wmh7", "band0", "band1")
    }),

    // Weighted near-dup pairs: band-bucket candidates + EXACT integer
    // weighted-Jaccard verify (see [[LshIndex.WeightedMinHash]]).
    "q185_weighted_pairs" -> ((s, dir) =>
      LshIndex.pairs(t(s, dir, "documents"), LshIndex.WeightedMinHash)),

    // tf-weighted dedup END-TO-END (the q80 shape over the q185
    // detector): weighted verified pairs → connected components → each
    // cluster keeps its min doc_id, corpus anti-joins the drops. This is
    // the query a training-data pipeline actually runs — the pair list
    // (q185) is diagnostics; the cleaned corpus is the product.
    "q186_weighted_dedup_apply" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val docs = t(s, dir, "documents")
      val pairs = LshIndex.pairs(docs, LshIndex.WeightedMinHash)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      graft.operators.ConnectedComponents.keepMinId(docs, pairs, "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // The WEIGHTED incremental index MATCH (operators/LshIndex weighted
    // tier, the q108 move for the q185 detector): the increment
    // (doc_id%10=7, the 10%) matches against the persistent history
    // index with the index side reading bucketed files and only the
    // increment shuffling — the batch face of the streaming weighted
    // NearDupIngest tier. The history BUILD is its own gated query
    // (q212, the fixed-cost ingest class); this one builds only when
    // the dir-keyed index is absent, so its steady-state cost is the
    // match path a production ingest actually pays per increment (the
    // r13 split that retired the q191 ratio exemption). Oracle = the
    // q185 weighted-pair chain restricted to increment-vs-history pairs
    // (same deliberate band-cap omission; the gate corpus has no
    // over-cap band).
    "q191_weighted_increment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val isNew = col("doc_id") % 10 === 7
      val name = weightedIndexName(dir)
      val w = LshIndex.WeightedMinHash
      if (!LshIndex.exists(s, name, w))
        LshIndex.write(s, docs.filter(!isNew), name, w)
      LshIndex.matchIncrement(s, docs.filter(isNew), name, w)
    }),

    // The weighted index BUILD, gated on its own (the q143 fixed-cost
    // class): expanded-instance weighted-MinHash signatures over the
    // history 90% committed into the bucketed band + tf tables, read
    // back as the (doc_id, band) postings the match path probes. Build
    // cost is an ingest-time cost amortized over every q191-class
    // increment — gating it separately keeps both faces honest (the
    // r12/r13 exemption prose, replaced by structure). The read-back is
    // the verification surface: the oracle recomputes the same banded
    // postings relationally.
    "q212_weighted_index_build" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val name = weightedIndexName(dir)
      LshIndex.write(s, docs.filter(col("doc_id") % 10 =!= 7), name,
        LshIndex.WeightedMinHash)
      s.table(s"${name}_bands").select(col("doc_id"), col("band"))
    }),

    // One-permutation MinHash signatures (Li et al. 2012) with rotation
    // densification (Shrivastava & Li 2014): q28's output shape at ~1/nSig
    // the digest cost — ONE md5 per shingle feeds all 8 signature slots
    // instead of 8 independent permutations. The signature never shuffles
    // (scan → project, PlanBudget 0); at 100 TB the digest IS the
    // signature cost, so this is the production fingerprint kernel where
    // strict permutation independence isn't required. Runs the native
    // one-pass kernel; [[ophSigRef]] is the pinned Column/oracle mirror.
    "q183_oph_minhash" -> ((s, dir) => {
      val base = spread(t(s, dir, "documents"))
        .filter(tokenCountCol >= 3) // has a shingle; shingles3 runs once
        .select(col("doc_id"), graft.functions.Kernels.OphSig(
          graft.functions.Kernels.Shingles3(col("text")), nSig).as("sig"))
      val sl = (i: Int) => element_at(col("sig"), i + 1)
      base.select(col("doc_id"), sl(0).as("oph0"), sl(7).as("oph7"),
        md5(concat(sl(0), sl(1), sl(2), sl(3))).as("band0"),
        md5(concat(sl(4), sl(5), sl(6), sl(7))).as("band1"))
    }),

    // Near-dup CLUSTERS: connected components over the verified LSH pairs —
    // the step a real corpus dedup needs after pairwise detection (keep one
    // canonical doc per transitive group, not per pair). LSH dedup graphs
    // are shallow (hub-and-spoke), so min-label propagation wins here; the
    // O(log n)-round large-star/small-star variant lives beside it in
    // graft.operators.ConnectedComponents for adversarial diameters — both
    // fuzz-pinned against union-find, same contract. The oracle restates
    // the closure as a recursive CTE.
    "q46_dedup_clusters" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val pairs = LshIndex.pairs(t(s, dir, "documents"), LshIndex.SetMinHash)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      graft.operators.ConnectedComponents.runPropagation(pairs)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
    }),

    // Leakage-safe train/val/test split: the assignment unit is the
    // near-dup CLUSTER, not the document — a doc and its near-duplicates
    // must land in the SAME split or eval leaks training data (the
    // classic contamination path dedup alone doesn't close: dedup keeps
    // one member, but a 98/1/1 split drawn per-DOC would still let a
    // kept train doc's dropped twin... be gone — the real risk is docs
    // kept as distinct-but-similar, i.e. every cluster member). Split =
    // md5 of the cluster id into 100 integer buckets (98 train / 1 val /
    // 1 test) — deterministic across engines, reshard-safe, rerun-safe,
    // the q86 acceptance discipline. Singletons (never in a verified
    // pair) are their own cluster. Scale shape: q46's pair+propagation
    // cost plus ONE broadcast-ably small join back (cluster labels ≪
    // corpus — only docs IN near-dup pairs carry a row) and an in-row
    // md5; no new corpus-sized exchange.
    "q188_leakage_split" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val docs = t(s, dir, "documents")
      val pairs = LshIndex.pairs(docs, LshIndex.SetMinHash)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      val clusters = graft.operators.ConnectedComponents.runPropagation(pairs)
        .select(col("node").as("doc_id"), col("component").as("cid"))
      val bucket = conv(substring(md5(concat(lit("split|"),
        col("cluster_id").cast("string"))), 1, 4), 16, 10).cast("long") % 100
      docs.select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cid"), col("doc_id")))
        .withColumn("split",
          when(bucket < 98, "train").when(bucket === 98, "val")
            .otherwise("test"))
        .select(col("doc_id"), col("cluster_id"), col("split"))
    }),

    // Multimodal plumbing: opaque binary payload + typed metadata extraction
    // (here the "blob" is the text bytes; decode stays source-side).
    "q33_multimodal_meta" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).as("first_byte"),
        md5(col("text")).as("content_hash"))
    }),

    // Multimodal batch decode through the REAL mapPartitions plumbing
    // (graft.functions.MultiModal.decodeFeatures) — the deterministic stub
    // decoder is re-derived arithmetically by the oracle, so the gate
    // checks the batch shape end-to-end, not just schema.
    "q37_mm_decode" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      graft.functions.MultiModal.decodeFeatures(
          spread(t(s, dir, "documents"))
            .select(col("doc_id"), col("text").cast("binary").as("payload")),
          "doc_id", "payload")
        .withColumnRenamed("id", "doc_id")
    }),

    // REAL image codec gate (r11): manufacture a real compressed PNG per
    // document (JDK ImageIO writer; dims/gray level arithmetic in
    // doc_id), then decode it back through the production decodeFeatures
    // path. The oracle restates width/height/pixel-sum arithmetically —
    // and the pixel sum requires actually INFLATING the PNG pixel data,
    // so a header peek or the old stub cannot fake the hash. Scale
    // shape: encode+decode both ride ONE mapPartitions pipeline each,
    // zero exchanges, payload bytes never shuffle.
    "q177_mm_png_decode" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val payloads = spread(t(s, dir, "documents"))
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false) // once per task
          it.map { id =>
            val w = (id % 16 + 1).toInt
            val h = (id % 8 + 1).toInt
            val g = (id % 256).toInt
            (id, graft.functions.MultiModal.encodePng(w, h, g))
          }
        }.toDF("doc_id", "payload")
      graft.functions.MultiModal.decodeFeatures(payloads, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("byte_sum").as("pixel_sum"))
    }),

    // Perceptual image hash (dHash) — the image-dedup fingerprint: 9×8
    // sample grid, 64 adjacent-luminance comparisons packed into 8 row
    // bytes; near-dup images differ in a few bits, so downstream pairing
    // is the q27/q59 SimHash hamming-band shape unchanged. The q177
    // move: manufacture a REAL per-pixel-pattern PNG per document
    // (gray(y,x) = (id·31 + y·53 + x·169) mod 256), decode + hash through
    // the production dhashFeatures path, and let the oracle restate all
    // 64 comparisons arithmetically — the hash can only match if the
    // codec really inflated the pixels AND the sampler/packer walked
    // them in the contract order. Integer nearest-neighbor sampling and
    // integer ITU luminance keep the fingerprint bit-portable across
    // JDKs (no Graphics2D interpolation). Zero exchange; payloads never
    // shuffle.
    "q200_image_dhash" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val payloads = spread(t(s, dir, "documents"))
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          // every 97th document re-crawls the previous one's image: the
          // planted duplicates the near-dup join (q201) must find
          it.map { id =>
            val base = if (id % 97 == 0 && id > 0) id - 1 else id
            (id, graft.functions.MultiModal.encodePngPattern(9, 8, base))
          }
        }.toDF("doc_id", "payload")
      graft.functions.MultiModal.dhashFeatures(payloads, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("dhash"), col("n_bits"))
    }),

    // Image NEAR-dup pairing — q200's fingerprint driven through the
    // q27/q59 hamming-band shape: split the 8 row bytes into 4 two-byte
    // bands, docs sharing any band bucket become candidates (a hamming≤2
    // pair always agrees on ≥2 of 4 bands — pigeonhole), verify exact
    // hamming over the two 32-bit halves with bit_count(xor). The
    // payload-sized work (decode+hash) happened in the zero-exchange
    // q200 pass; only 16-char keys shuffle here, and bucket sizes are
    // bounded by fingerprint collision classes, never corpus-quadratic.
    "q201_image_neardup" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val payloads = spread(t(s, dir, "documents"))
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val base = if (id % 97 == 0 && id > 0) id - 1 else id
            (id, graft.functions.MultiModal.encodePngPattern(9, 8, base))
          }
        }.toDF("doc_id", "payload")
      // materialize the fingerprints once (16 chars + 2 longs per doc):
      // the band self-join reads BOTH sides from this, so the payload
      // decode+hash pass runs once, not once per join side
      val hashed = graft.functions.MultiModal
        .dhashFeatures(payloads, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("dhash"),
          expr("cast(conv(substring(dhash, 1, 8), 16, 10) as bigint)")
            .as("h1"),
          expr("cast(conv(substring(dhash, 9, 8), 16, 10) as bigint)")
            .as("h2"))
        .localCheckpoint(true)
      val bands = hashed.select(col("doc_id"), col("h1"), col("h2"),
        posexplode(array((0 to 3).map(k =>
          substring(col("dhash"), k * 4 + 1, 4)): _*)).as(Seq("band", "key")))
      bands.as("l").join(bands.as("r"),
          col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
          (bit_count(expr("l.h1 ^ r.h1")) + bit_count(expr("l.h2 ^ r.h2")))
            .cast("long").as("hamming"))
        .filter(col("hamming") <= 2)
        .distinct()
    }),

    // Audio near-dup fingerprint — the q200 move for the audio half:
    // energy-delta hash over the REAL decoded PCM (windows of 4 samples,
    // exact Σs² longs, bit = rising energy, packed hex). q187's WAV
    // fixtures make every sample a known formula of (doc_id, k), so the
    // oracle restates all window energies and comparisons arithmetically
    // — matching requires actually inflating the data chunk AND walking
    // samples in contract order. Integer-only → bit-deterministic;
    // zero exchange, payloads never shuffle; downstream pairing is the
    // q201 hamming band join over the fp key.
    "q202_audio_fingerprint" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val payloads = spread(t(s, dir, "documents"))
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val rate = (8000 + (id % 8) * 1000).toInt
            val n = (32 + id % 96).toInt
            val samples = Array.tabulate(n) { k =>
              (((id * 7919 + k.toLong * 104729) % 65536) & 0xffff).toShort
            }
            (id, graft.functions.MultiModal.encodeWav(rate, samples))
          }
        }.toDF("doc_id", "payload")
      graft.functions.MultiModal
        .audioPrintFeatures(payloads, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("n_samples"),
          col("n_windows"), col("fp"))
    }),

    // REAL audio codec gate (r12, the q177 move for the audio half):
    // manufacture a real RIFF/WAVE container per document (JDK
    // AudioSystem writer; rate/frame-count/sample values arithmetic in
    // doc_id), then decode it back through the production
    // decodeAudioFeatures path. The oracle restates rate/channels/frames
    // arithmetically — and the PCM byte sum requires actually READING
    // the data chunk through the decoder, so a header peek or the old
    // stub cannot fake the hash. Scale shape: encode+decode ride ONE
    // mapPartitions pipeline each, zero exchanges, payloads never
    // shuffle.
    "q187_mm_wav_decode" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val payloads = spread(t(s, dir, "documents"))
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val rate = (8000 + (id % 8) * 1000).toInt
            val n = (32 + id % 96).toInt
            val samples = Array.tabulate(n) { k =>
              (((id * 7919 + k.toLong * 104729) % 65536) & 0xffff).toShort
            }
            (id, graft.functions.MultiModal.encodeWav(rate, samples))
          }
        }.toDF("doc_id", "payload")
      graft.functions.MultiModal
        .decodeAudioFeatures(payloads, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("pcm_sum"))
    }),

    // REAL container-metadata gate for the video half (the q177/q187
    // move minus the codec — no MP4 codec ships in the JDK, and the
    // container METADATA is what a curation pipeline reads anyway):
    // manufacture a real ISO-BMFF atom layout per document (ftyp brand /
    // mvhd timescale+duration / trak count arithmetic in doc_id, plus an
    // id-sized `free` atom so moov's offset VARIES per payload), then
    // parse it back through the pure-Column mp4Meta atom walk — the
    // fields can only be recovered by chaining big-endian atom sizes, so
    // a fixed-offset peek cannot fake the hash. Scale shape: encode is
    // one mapPartitions pass, the parse is in-row Column arithmetic,
    // zero exchanges, payload bytes never shuffle.
    "q192_mm_mp4_meta" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val payloads = spread(t(s, dir, "documents"))
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val brand = if (id % 2 == 0) "isom" else "mp42"
            (id, graft.functions.MultiModal.encodeMp4(brand,
              (600 + (id % 5) * 100).toInt, (1000 + (id % 7) * 37).toInt,
              (1 + id % 3).toInt, (id % 32).toInt))
          }
        }.toDF("doc_id", "payload")
      payloads
        .withColumn("m", graft.functions.MultiModal.mp4Meta(col("payload")))
        .select(col("doc_id"), col("m.brand").as("brand"),
          col("m.timescale").as("timescale"),
          col("m.duration").as("duration"),
          col("m.n_tracks").as("n_tracks"))
    }),

    // Frame sampling: explode sampled frame indices (never payload bytes).
    "q38_mm_frames" -> ((s, dir) => {
      graft.functions.MultiModal.sampleFrames(
        t(s, dir, "documents"),
        "doc_id", octet_length(col("text")) % 7, stride = 2)
    }),

    // TF-IDF top term per document: tf and df are exact ints; the only
    // float op is tf·ln(N/df) with a 6-decimal round (ln differs across
    // engines only in the last ulp — far inside the rounding guard).
    // Scale shape — the classic (doc_id, token) tf shuffle is GONE: the
    // TokenTf kernel folds each doc's term counts IN-ROW (one pass over
    // the raw bytes, the Shingles3/SpanHashes discipline), so the whole
    // query is exactly TWO lean jobs:
    //  1. vocab stats in ONE aggregation over the kernel's distinct
    //     tokens: df is a map-side-combined count, and each doc's FIRST
    //     token carries a flag whose per-token sums add up to n_docs
    //     as a 1-row scalar job (≡ the oracle's countDistinct over
    //     exploded tokens — every tokenful doc flags exactly one token).
    //     The (token, df) frame itself NEVER reaches the driver: a web
    //     corpus's vocabulary is Heaps'-law unbounded, so df stays a
    //     DataFrame joined WITHOUT a broadcast hint — AQE flips the SMJ
    //     to a broadcast at runtime when the observed vocab fits 64MB,
    //     and degrades to a shuffle join (not a driver OOM) when it
    //     doesn't.
    //  2. scoring: explode the kernel's (token, tf) runs, broadcast-join
    //     the vocab, top-1 per doc via min_by on the (-score, token) key —
    //     unlike a window it partial-aggregates map-side (each doc's runs
    //     sit in one partition straight off the scan), so the final
    //     exchange carries ~one row per doc. No spread here, unlike the
    //     shingle/minhash queries: the kernel is one cheap pass per row,
    //     so scan splits already give the parallelism and a full-text
    //     repartition would be the most expensive node in the plan —
    //     the scoring pass has NO corpus-wide exchange at all.
    "q55_tfidf_top_term" -> ((s, dir) => {
      val docs0 = t(s, dir, "documents")
      val tfPairs = graft.functions.Kernels.TokenTf(col("text"))
      // nDocs (docs with ≥1 token) is the ONLY driver-side artifact — a
      // 1-row scalar, O(1) at any corpus size
      val nDocs = docs0.filter(size(tfPairs) > 0).count()
      val dfDim = docs0
        .select(explode(tfPairs).as("p"))
        .groupBy(col("p.token").as("token"))
        .agg(count(lit(1)).as("df"))
      docs0
        .select(col("doc_id"), explode(tfPairs).as("p"))
        .select(col("doc_id"), col("p.token").as("token"),
          col("p.tf").cast("long").as("tf"))
        .join(dfDim, "token")
        .withColumn("score",
          round(col("tf") * log(lit(nDocs.toDouble) /
            col("df").cast("double")), 6))
        .groupBy(col("doc_id"))
        .agg(min_by(struct(col("token"), col("tf"), col("df"), col("score")),
          struct(negate(col("score")), col("token"))).as("top"))
        .select(col("doc_id"), col("top.token").as("top_term"),
          col("top.tf"), col("top.df"), col("top.score"))
    }),

    // BM25 top-k retrieval (Robertson-Walker k1=1.2, b=0.75): each query
    // doc's distinct tokens retrieve its 3 best matches — the sparse-
    // retrieval twin of the ANN pack (q31/q32/q43/q104), and the standard
    // quality tool for mining related documents / dedup triage. Float
    // discipline: a per-(query,doc) score is a SUM of per-term doubles,
    // and a shuffled double sum is order-nondeterministic — so the terms
    // are collected, sorted by token, and folded left from 0.0 (exactly
    // the DuckDB list(ORDER BY)+list_reduce), with every arithmetic
    // expression parenthesized identically on both sides → bit-identical
    // scores. Scale shape: df/N/avgdl are a collect-job dimension
    // artifact (q55), query terms broadcast, the corpus tf explode joins
    // them broadcast-side; exchanges are the (q,doc) score agg and the
    // per-query top-k, both on short keys.
    "q109_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val docs0 = t(s, dir, "documents")
      val tfPairs = graft.functions.Kernels.TokenTf(col("text"))
      // driver-side artifacts are all BOUNDED: N/avgdl are a 1-row scalar
      // job, and df is computed ONLY for the ≤10 query docs' terms — the
      // exploded (doc, token) stream semi-joins the broadcast query-term
      // set BEFORE the aggregation, so neither the shuffle nor the collect
      // ever carries the full Heaps'-law vocabulary (each (q_id, token)
      // partial counts df for that token; a (doc, token) row appears once
      // per querying q_id, so the count is df either way).
      val metaRow = docs0
        .agg(count(lit(1)), sum(tokenCountCol)).collect().head
      val nDocs = metaRow.getLong(0)
      val avgdl = metaRow.getLong(1).toDouble / nDocs.toDouble
      val qterms = docs0.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"),
          explode(array_distinct(tokensCol)).as("token"))
      val qrows = docs0.select(explode(tfPairs).as("p"))
        .select(col("p.token").as("token"))
        .join(broadcast(qterms), "token")
        .groupBy(col("q_id"), col("token")).agg(count(lit(1)).as("df"))
        .collect()
      // (q_id, token-sorted (token, df) terms) — broadcast dimension
      val qdata = qrows
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toSeq
        .groupBy(_._1).toSeq
        .map { case (q, rs) => (q, rs.map(_._2).sortBy(_._1)) }
        .toDF("q_id", "terms")
      // scoring is IN-ROW: the document's token-sorted tf array merges
      // against each query's sorted terms in the native Bm25Score kernel
      // (token-ordered matched-terms fold ≙ the oracle's list(ORDER BY)
      // reduce) — no (doc, token) explode, no corpus-sized exchange; only
      // (q_id, doc_id, score) rows reach the per-query top-k. raw > 0.0
      // keeps exactly the oracle's pair set (≥1 matched term ⇔ score > 0:
      // idf and tf terms are strictly positive).
      val docsTf = spread(docs0)
        .select(col("doc_id"), tokenCountCol.as("dl"),
          sort_array(tfPairs).as("dtf"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("doc_id"))
      docsTf.crossJoin(broadcast(qdata))
        .filter(col("doc_id") =!= col("q_id"))
        .withColumn("raw", graft.functions.Kernels.Bm25Score(
          col("dtf"), col("terms"), col("dl"), nDocs.toDouble, avgdl))
        .filter(col("raw") > 0.0)
        .withColumn("score", round(col("raw"), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("q_id", "doc_id", "rank", "score")
    }),

    // Token-entropy quality signal — Shannon entropy of the document's
    // unigram distribution, the standard lexical-diversity filter
    // (low-entropy = TextOps.q82's repetition family seen through an
    // information lens; keyword-stuffed and template docs score low even
    // when no single token dominates). Pure map over the scan: the
    // (token, tf) pairs come from the one-pass TokenTf kernel and the
    // -Σ p·ln p fold runs IN-ROW over the token-SORTED pairs (the q109
    // float discipline: a fixed fold order makes the double sum
    // bit-identical to the oracle's list(ORDER BY) reduce). Zero
    // exchange; scales with corpus bytes.
    "q111_token_entropy" -> ((s, dir) => {
      val tfPairs = graft.functions.Kernels.TokenTf(col("text"))
      val n = col("n_tokens").cast("double")
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), tokenCountCol.as("n_tokens"),
          sort_array(tfPairs).as("ps"))
        .filter(col("n_tokens") > 0)
        .withColumn("entropy", round(-aggregate(col("ps"), lit(0.0),
          (acc, p) => {
            val pr = p.getField("tf").cast("double") / n
            acc + pr * log(pr)
          }), 6))
        .select(col("doc_id"), col("n_tokens"),
          size(col("ps")).as("n_types"), col("entropy"))
    }),

    // Token-rarity quality signal: per-document mean document-frequency of
    // its distinct tokens plus the hapax (df = 1) count — the integer-exact
    // stand-in for a unigram-LM perplexity filter (rare-vocabulary docs
    // score low mean_df / high hapax share). All sums are BIGINT; the one
    // division is a single double op, so cross-engine parity is exact.
    // Scale shape: distinct-per-doc happens INSIDE the row
    // (array_distinct, no exchange); df is one shuffle on token with
    // map-side combine and broadcasts back (vocab ≪ corpus); the final
    // agg shuffles (doc_id, df) pairs only.
    "q93_token_rarity" -> ((s, dir) => {
      val toks = spread(t(s, dir, "documents"))
        .select(col("doc_id"), explode(array_distinct(tokensCol)).as("token"))
      val df = toks.groupBy("token").agg(count(lit(1)).as("df"))
      toks.join(broadcast(df), "token")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_types"),
          sum("df").as("sum_df"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("mean_df",
          col("sum_df").cast("double") / col("n_types").cast("double"))
    }),

    // Incremental near-dup against a PERSISTENT LSH index (operators/
    // LshIndex): the corpus (80% split) is indexed once into bucketed
    // band + shingle tables, then the increment (20%) is matched with the
    // indexed side never re-shuffling — the grows-forever corpus shape
    // where q29's whole-corpus reshard would be the bottleneck. The gate
    // covers index write → bucketed read → capped candidate join →
    // verify; LshIndexSpec pins the zero-exchange plan property.
    "q108_incremental_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      LshIndex.write(s, docs.filter(col("doc_id") % 5 =!= 0), "q108_idx",
        LshIndex.SetMinHash, 8)
      LshIndex.matchIncrement(s, docs.filter(col("doc_id") % 5 === 0),
        "q108_idx", LshIndex.SetMinHash)
    }),

    // Bigram novelty score — the cheap LM-ish fluency/novelty signal: how
    // much of a document is made of bigrams the corpus has seen often vs
    // bigrams (nearly) unique to it. Build the corpus bigram document-
    // frequency, keep the top-1024 bigrams with df≥2 (the broadcast
    // dimension is BOUNDED BY CONSTRUCTION — the LSH band-cap discipline
    // applied to a vocabulary), and score each doc by the integer ppm of
    // its distinct bigrams OUTSIDE that frequent set. Scale shape:
    // bigrams + distinct happen INSIDE the row (slice/zip_with, no
    // (doc,bigram) shuffle for scoring); df is one exchange on the bigram
    // key with map-side combine; the frequent set comes back as a 1-row
    // broadcast and coverage is an in-row array_intersect — the corpus is
    // scanned, never reshuffled. Integer output only (covered ≤ n_bigrams,
    // ppm by integer div) → exact cross-engine parity.
    "q105_bigram_novelty" -> ((s, dir) => {
      val toks = tokensCol
      val bigs = array_distinct(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b)))
      val docs = spread(t(s, dir, "documents"))
        .filter(tokenCountCol >= 2)
        .select(col("doc_id"), toks.as("t"))
        .select(col("doc_id"), bigs.as("bigs"))
      // explode_outer: a plain explode makes Catalyst infer a
      // size(bigs) > 0 filter and push it below the projections with the
      // tokenizer inlined four times; every doc here has >= 1 bigram, so
      // the outer form emits exactly the same rows
      val dfq = docs.select(explode_outer(col("bigs")).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c"))
      val freq = dfq.filter(col("c") >= 2)
        .orderBy(col("c").desc, col("bg").asc).limit(1024)
        .groupBy().agg(collect_list(col("bg")).as("fr"))
      docs.crossJoin(broadcast(freq))
        .select(col("doc_id"), size(col("bigs")).as("n_bigrams"),
          size(array_intersect(col("bigs"), col("fr"))).as("covered"))
        .withColumn("novelty_ppm",
          expr("CAST(((n_bigrams - covered) * 1000000) div n_bigrams AS BIGINT)"))
    }),

    // Distinct-cardinality sketch — per-source distinct-bigram count via
    // the native KMV aggregate (graft.functions.KmvMinima): bounded O(k)
    // state per group, mergeable map-side, so the exchange carries ≤k
    // hashes per group no matter how many TB of text flow in. The exact
    // countDistinct rides along as the calibration column (it's the thing
    // the sketch replaces at scale — at 100 TB you'd drop it). KMV over
    // md5 is engine-portable bit-for-bit, which Spark's approx_count_
    // distinct (HLL++) can never be — that's why this query is
    // hash-gateable at all. Estimate: (k-1)/F(v_k) with v_k the k-th
    // minimum as a hash-space fraction; all arithmetic is exact-int or
    // single IEEE double ops, identical in both engines.
    "q106_distinct_sketch" -> ((s, dir) => {
      val bigs = array_distinct(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b)))
      val ex = spread(t(s, dir, "documents"))
        .select(col("source"), tokensCol.as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("source"), explode(bigs).as("bg"))
      ex.groupBy("source")
        .agg(graft.functions.KmvMinima(md5(col("bg")), 64).as("mins"),
          countDistinct(col("bg")).as("n_exact"))
        .select(col("source"), col("n_exact"),
          when(size(col("mins")) < 64, size(col("mins")).cast("long"))
            .otherwise(round(lit(63.0) * lit(1.152921504606846976e18) /
              conv(substring(element_at(col("mins"), 64), 1, 15), 16, 10)
                .cast("double")).cast("long")).as("n_est"))
    }),

    // BPE-ish regex tokenization: letter runs / digit runs / single
    // punctuation, counted per class (the shape of a GPT-style pre-tokenizer;
    // pattern kept engine-portable).
    "q41_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
          .as("n_alpha"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .as("n_num"),
        size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0)))
          .as("n_punct"))
    }),

    // PII redaction — the scrub pass every training-data pipeline runs
    // before publishing a corpus: emails → <EMAIL>, dashed NANP phones →
    // <PHONE>, IPv4 literals → <IP>. Patterns are RE2-safe (no lookaround,
    // no backrefs) so the exact same regex text runs on Spark (Java regex)
    // and the DuckDB oracle (RE2). The corpus itself is PII-free, so each
    // row gets deterministic synthetic PII appended (same concat both
    // sides) — the gate compares the REDACTION, not the synthesis.
    // Per-row codegen'd regexp_replace: embarrassingly parallel, no
    // exchange, scales linearly with corpus bytes.
    "q77_pii_redact" -> ((s, dir) => {
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com"),
        when(col("doc_id") % 2 === 0, lit(" cc admin@example.org"))
          .otherwise(lit("")),
        lit(" or +1-415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"))
      val redacted =
        regexp_replace(
          regexp_replace(
            regexp_replace(pii, PiiEmail, "<EMAIL>"),
            PiiPhone, "<PHONE>"),
          PiiIp, "<IP>")
      spread(t(s, dir, "documents")).select(
        col("doc_id"),
        size(regexp_extract_all(pii, lit(PiiEmail), lit(0))).as("n_email"),
        size(regexp_extract_all(pii, lit(PiiPhone), lit(0))).as("n_phone"),
        size(regexp_extract_all(pii, lit(PiiIp), lit(0))).as("n_ip"),
        redacted.as("clean_text"))
    }),

    // Canonical text normalization for dedup keys: lowercase, collapse
    // whitespace runs, trim — then the canonical md5. The corpus is
    // already clean, so deterministic mess (case flip + tabs + padding)
    // is injected identically on both sides; the normalized hash is what
    // the gate compares. Pure per-row expressions, no exchange.
    "q78_normalize" -> ((s, dir) => {
      val messy = concat(lit("  \t"),
        upper(expr("substring(text, 1, 40)")), lit("\t "),
        expr("substring(text, 41)"), lit("  "))
      val norm = trim(regexp_replace(lower(messy), "\\s+", " "))
      spread(t(s, dir, "documents")).select(
        col("doc_id"),
        norm.as("norm_text"),
        md5(norm).as("norm_hash"),
        length(norm).as("n_chars_norm"))
    }),

    // Sequence packing — assigning documents to fixed token-budget packs,
    // the step right before a training run tokenizes shards. Greedy
    // running-sum binning per source shard: pack_id = exclusive-prefix-sum
    // of token counts div the budget. One narrow exchange on source; the
    // per-shard window is the parallel unit (a global orderBy would be the
    // scale mistake — never order the whole corpus for packing).
    "q81_token_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .withColumn("n_tok", tokenCountCol)
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("source"), col("n_tok"),
          ((col("cum") - col("n_tok")) / 2048).cast("long").as("pack_id"))
    }),

    // The APPLY step of near-dup dedup — the cleaned corpus itself:
    // keep the canonical member of every near-dup cluster (the min
    // doc_id = the propagation label) plus every unclustered doc. The
    // drop list is one anti-join; its size is bounded by the number of
    // near-duplicate docs, so at 100 TB it stays a (possibly broadcast)
    // fraction of the corpus and the corpus itself never reshuffles.
    "q80_dedup_apply" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val docs = t(s, dir, "documents")
      val pairs = LshIndex.pairs(docs, LshIndex.SetMinHash)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      graft.operators.ConnectedComponents.keepMinId(docs, pairs, "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Rolling-hash document fingerprint: sequential polynomial hash
    // h = (h*31 + byte) mod 1e9+7 — the per-char left fold both engines
    // evaluate in the same order (exact integer arithmetic, no float risk).
    "q42_rolling_hash" -> ((s, dir) => {
      spread(t(s, dir, "documents")).select(
        col("doc_id"),
        aggregate(split(col("text"), ""), lit(0L),
          (h, c) => (h * 31L + ascii(c).cast("long")) % 1000000007L)
          .as("fingerprint"))
    }),

    // Inverted-index shard build: the materialization BEHIND q109's BM25 —
    // token → (df, cf, capped ascending posting list). Per-doc term counts
    // fold IN-ROW via the TokenTf kernel (no (doc, token) pre-aggregation
    // shuffle), and the capped posting list is a BOUNDED-STATE aggregate,
    // not a window: min-16 is decomposable (min16(A∪B) =
    // min16(min16(A)∪min16(B))), so the native KmvMinima k-minimum
    // aggregate keeps ≤16 zero-padded ids per token in its buffer,
    // map-side combined — the whole query is ONE exchange on tok whose
    // rows carry ≤16 ids per token partial, and a stopword's full
    // million-doc posting run NEVER transits a reducer (the r6 rank-window
    // version routed it through one before the filter; the window sort and
    // its second pass over the clustering are gone too). Precondition of
    // the lpad-19 encoding: doc_id ≥ 0 (lexicographic ≡ numeric only for
    // non-negatives) — the corpus contract everywhere in this engine
    // (TESTDATA doc_id is a non-negative int64 surrogate key).
    "q133_inverted_index" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Kernels.TokenTf(col("text")))
            .as("p"))
        .select(col("doc_id"), col("p.token").as("tok"),
          col("p.tf").cast("long").as("tf"))
        .groupBy("tok")
        .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
          array_join(transform(
            graft.functions.KmvMinima(
              lpad(col("doc_id").cast("string"), 19, "0"), 16),
            x => x.cast("long").cast("string")), ",").as("postings"))
    }),

    // Exact substring dedup (Lee et al. 2022): per-doc MAXIMAL duplicated
    // character spans from 30-char windows at stride 10 — the actionable
    // complement of q90's span-duplication RATE (q90 reports what
    // fraction of a doc's token-spans repeat; this reports the merged
    // [start, end] extents you'd actually cut, via positions + interval-
    // island merge). See [[substringSpans]] for the scale shape
    // (hash-shuffled windows, no suffix array, no pairwise join).
    "q179_substring_spans" -> ((s, dir) =>
      substringSpans(spread(t(s, dir, "documents")), w = 30, stride = 10)),

    // ...and the CUT: the cleaned corpus with every duplicated span
    // removed (q80 is to q46 what this is to q179). Same two key
    // exchanges as q179 plus the doc_id stitch join — text shuffles
    // exactly once, on doc_id.
    "q180_substring_cut" -> ((s, dir) =>
      substringCut(spread(t(s, dir, "documents")), w = 30, stride = 10)),

    // Winnowed (content-anchored) spans: q179 with the stride grid
    // replaced by Schleimer-et-al anchors, so duplicates at shifted
    // offsets still align — see [[winnowedPositions]]. Same exchange
    // shape as q179; the extra cost is per-position md5 AT THE SCAN.
    "q181_winnowed_spans" -> ((s, dir) =>
      winnowedSpans(spread(t(s, dir, "documents")), w = 30, k = 4,
        thresh = "1a")),

    // The REAL suffix array the q179 windowed family approximates — Lee
    // et al.'s monolithic structure built distributively: token-level
    // suffix ranks by prefix doubling (Manber–Myers), O(log run-length)
    // rounds of (self-join on (doc_id,p)) + (distributed dense rank on
    // the rank pair). No single-partition window anywhere — the rank
    // assignment range-partitions the distinct pairs, ranks each range
    // independently, and stitches with numPartitions prefix offsets
    // (operators/SuffixArray.denseRank). After the seed round only
    // 24-byte (doc_id,p,rank) triples shuffle, never text. The built
    // array is the corpus-level artifact q204 reads LCP spans off —
    // memoized per (session, corpus) like the q123 BPE vocabulary
    // (see [[suffixRanks]]), because the paper's pipeline builds the
    // array ONCE and every consumer reads it. This query is the
    // MEMO-CONSUMER face (its steady-state cost is one scan of the
    // checkpointed triples — what a production reader pays); the BUILD
    // itself is gated unconditionally as q219, so the one-time
    // prefix-doubling cost stays in the committed ledger.
    "q203_suffix_rank" -> ((s, dir) =>
      suffixRanks(s, dir).select(col("doc_id"), col("p"), col("srank"))),

    // The suffix-array BUILD gated on its own (the q212/q214 fixed-cost
    // ingest class, r14 verdict ask #1): evict the (session, dir) memo
    // and rebuild the prefix-doubling rank frame UNCONDITIONALLY every
    // run, refreshing the artifact q203/q204 consume — so the ~5 s
    // build appears in the committed bench as its own line (and the
    // partition-invariance audit provably hashes two INDEPENDENT
    // builds), instead of vanishing into a min-of-3 memo read-back.
    // Oracle = the same relational suffix ranking as q203: a broken
    // seed, a lost doubling round, or a pid-offset error in
    // denseRankInPlace all hash-mismatch here even when the memo would
    // have masked them downstream.
    "q219_suffix_build" -> ((s, dir) => {
      SessionMemo.forget(s, suffixKey(dir))
      suffixRanks(s, dir).select(col("doc_id"), col("p"), col("srank"))
    }),

    // Duplicated-span detection read straight off the suffix array (the
    // paper's actual method): positions adjacent in suffix order share
    // their longest prefixes, so the neighbor-LCP table IS the repeated-
    // substring inventory. One representative per rank class (class
    // members are fully identical suffixes — q25's territory), successor
    // pairing is a shuffle join on srank+1 (dense ranks are consecutive),
    // and the LCP probe compares 32-token SLICES exploded per offset —
    // bounded work per pair, payload never corpus-quadratic. Pairs with
    // lcp ≥ 4 tokens are the dedup cut candidates.
    "q204_suffix_lcp" -> ((s, dir) => {
      val cap = 32
      val docs = spread(t(s, dir, "documents"))
      val ranks = suffixRanks(s, dir)
      val reps = ranks.groupBy("srank")
        .agg(min(struct(col("doc_id"), col("p"))).as("rep"))
        .select(col("srank"), col("rep.doc_id").as("doc_id"),
          col("rep.p").as("p"))
        .join(docs.select(col("doc_id"), tokensCol.as("toks")), "doc_id")
        .select(col("srank"), col("doc_id"), col("p"),
          slice(col("toks"), col("p").cast("int"), lit(cap)).as("sl"))
      // LCP stays IN-ROW over the two 32-token slices (zip_with mismatch
      // bitmap + first-1 position): no per-offset explode, so the pair
      // frame never multiplies ×cap into a corpus-sized re-aggregation.
      // zip_with pads the shorter slice with nulls → null <=> token is
      // false → the length difference itself is the mismatch, exactly
      // prefix-comparison semantics. array_position returns 0 (not null)
      // when the bitmap has no 1 at all — that is the "identical through
      // the whole slice" case (different classes CAN share all `cap`
      // leading tokens when both suffixes run past it), reported as the
      // capped lcp, like the oracle's coalesce default.
      // Successor pairing via AdjacentPairs (r17, guide §2.4): dense
      // ranks are consecutive, so srank+1 pairing IS row adjacency in
      // srank order — the q26 bucketed-window primitive computes `reps`
      // ONCE and pairs in one exchange, where the former srank+1
      // self-join re-ran the groupBy+join+slice subtree on BOTH sides
      // (measured r17: 7.8 task-s / 55 MB shuffled, the q204 outlier in
      // the Bench layers) and shuffled+sorted each.
      graft.operators.AdjacentPairs.pairs(reps, "srank")
        .select(col("srank_a").as("srank"),
          col("doc_id_a").as("d1"), col("p_a").as("p1"),
          col("doc_id_b").as("d2"), col("p_b").as("p2"),
          array_position(zip_with(col("sl_a"), col("sl_b"),
            (a, b) => when(a <=> b, 0).otherwise(1)), 1).as("m1"))
        .select(col("srank"), col("d1"), col("p1"), col("d2"), col("p2"),
          least(when(col("m1") > 0, col("m1") - 1).otherwise(lit(cap)),
            lit(cap)).cast("long").as("lcp"))
        .filter(col("lcp") >= 4)
    }),

    // Quality-priority dedup apply — q80 with the keeper a pipeline
    // actually wants: production dedup keeps the BEST copy of a near-dup
    // cluster (the boilerplate-stripped or untruncated one), not the
    // lowest-id arrival. Keeper = argmax (n_chars, doc_id) per cluster
    // via one max-struct aggregate (partial-aggregates map-side, the
    // q189 rule — no rank window); singleton docs are their own cluster
    // through the coalesce, so the left join adds no corpus re-shuffle
    // beyond q80's own component join. Same pair/propagation machinery
    // and scale shape as q46/q80.
    "q211_priority_dedup" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val docs = t(s, dir, "documents")
      val pairs = LshIndex.pairs(docs, LshIndex.SetMinHash)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      val comp = graft.operators.ConnectedComponents.runPropagation(pairs)
        .select(col("node").as("doc_id"), col("component"))
      val lab = docs.join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"),
          col("n_chars"))
      val keep = lab.groupBy("cluster")
        .agg(max(struct(col("n_chars"), col("doc_id"))).as("k"))
        .select(col("cluster"), col("k.doc_id").as("doc_id"))
      lab.join(keep, Seq("cluster", "doc_id"))
        .select(col("doc_id"), col("cluster"), col("n_chars"))
    }),

    // Audio NEAR-dup pairing — closes the loop q202 opened: every 89th
    // document "re-records" the previous one's clip with a single
    // perturbed sample (+4096 on sample 5 — one energy window moves, so
    // the fingerprints differ in ≤2 bits), and the q201 band join finds
    // the pairs: fixed 128-sample clips → 31-bit energy-delta fp →
    // 4 one-byte bands (pigeonhole: hamming≤3 always shares a band) →
    // exact hamming via bit_count(xor) on the conv'd fp. The decode+
    // fingerprint pass rides ONE zero-exchange mapPartitions pipeline
    // through the production audioPrintFeatures path; only 2-char band
    // keys and one long shuffle into the join.
    "q207_audio_neardup" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      val payloads = spread(t(s, dir, "documents"))
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val base = if (id % 89 == 0 && id > 0) id - 1 else id
            // the base*k²·31 term decorrelates clips ACROSS documents (a
            // purely linear formula gives every doc the same energy
            // SHAPE shifted by base — measured 13.7k accidental
            // hamming≤3 pairs at sf0.01, quadratic blowup at sf0.1; the
            // quadratic term leaves 2 accidental + 5 planted)
            val samples = Array.tabulate(128) { k =>
              val raw = base * 7919 + k.toLong * 104729 +
                base * k.toLong * k * 31 +
                (if (id != base && k == 5) 4096L else 0L)
              ((raw % 65536) & 0xffff).toShort
            }
            (id, graft.functions.MultiModal.encodeWav(
              8000 + (base % 8).toInt * 1000, samples))
          }
        }.toDF("doc_id", "payload")
      val fps = graft.functions.MultiModal
        .audioPrintFeatures(payloads, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("fp"),
          expr("cast(conv(fp, 16, 10) as bigint)").as("h"))
        .localCheckpoint(true)
      val bands = fps.select(col("doc_id"), col("h"),
        posexplode(array((0 to 3).map(k =>
          substring(col("fp"), k * 2 + 1, 2)): _*)).as(Seq("band", "key")))
      bands.as("l").join(bands.as("r"),
          col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
          bit_count(expr("l.h ^ r.h")).cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
    })
  )

  // RE2-safe PII patterns, shared verbatim by the Spark plan and the
  // DuckDB oracle (email before phone before ip: the email consumes its
  // digits first, phones are dashed so the dotted-IP pattern never
  // overlaps them)
  private val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiPhone = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val PiiIp = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  // DuckDB-side building blocks (kept in one place so Spark/SQL stay in sync)

  private[graft] def sqlShingles(toks: String) =
    s"""list_distinct(CASE WHEN len($toks) >= 3
       | THEN list_transform(range(1, len($toks) - 1),
       |   i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])
       | ELSE [] END)""".stripMargin
  private def sqlMinhash(sh: String, i: Int) =
    s"list_min(list_transform($sh, s -> md5('$i|' || s)))"

  // weighted-minhash building blocks (multiset expansion — see
  // [[LshIndex.expandedInstances]]; instance format "tok#k" matches the Spark side)
  private val sqlTf =
    s"""SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest($sqlTokens) AS tok FROM documents)
       |  GROUP BY doc_id, tok""".stripMargin
  private def sqlWeightedBands: String = {
    val mhs = (0 until nSig).map(i =>
      s"${sqlMinhash("inst", i)} AS wmh$i").mkString(",\n  ")
    s"""SELECT doc_id, $mhs
       |FROM (SELECT doc_id,
       |    flatten(list_transform(list(struct_pack(tok := tok, c := c)),
       |      s -> list_transform(range(1, s.c + 1),
       |        k -> s.tok || '#' || CAST(k AS VARCHAR)))) AS inst
       |  FROM ($sqlTf) GROUP BY doc_id)
       |WHERE len(inst) > 0""".stripMargin
  }

  /** The weighted-LSH → exact-weighted-Jaccard CTE chain (tf…sc) shared
    * by q185 (pair list) and q186 (dedup-apply closure); `sc` exposes
    * (doc_id_a, doc_id_b, wjaccard) for ALL candidates — consumers apply
    * the ≥ 0.5 threshold. ≙ [[LshIndex.pairs]] (weighted) on the Spark side,
    * same deliberate band-cap omission as [[sqlLshClusterChain]]. */
  private def sqlWeightedPairChain: String =
    s"""tf AS ($sqlTf),
       |sig AS (
       |  SELECT doc_id,
       |    md5(wmh0 || wmh1 || wmh2 || wmh3) AS band0,
       |    md5(wmh4 || wmh5 || wmh6 || wmh7) AS band1
       |  FROM ($sqlWeightedBands)),
       |banded AS (
       |  SELECT doc_id, unnest([band0, band1]) AS band FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
       |  FROM banded x JOIN banded y USING (band)
       |  WHERE x.doc_id < y.doc_id),
       |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS s
       |  FROM tf GROUP BY 1),
       |i AS (SELECT cand.doc_id_a, cand.doc_id_b,
       |    CAST(sum(least(ta.c, tb.c)) AS BIGINT) AS inter
       |  FROM cand JOIN tf ta ON ta.doc_id = cand.doc_id_a
       |    JOIN tf tb ON tb.doc_id = cand.doc_id_b AND tb.tok = ta.tok
       |  GROUP BY 1, 2),
       |sc AS (SELECT i.doc_id_a, i.doc_id_b,
       |    CAST(i.inter AS DOUBLE) / CAST(sa.s + sb.s - i.inter AS DOUBLE)
       |      AS wjaccard
       |  FROM i JOIN tot sa ON sa.doc_id = i.doc_id_a
       |    JOIN tot sb ON sb.doc_id = i.doc_id_b)""".stripMargin

  private def sqlBandsFrom(from: String): String = {
    val mhs = (0 until nSig).map(i => s"${sqlMinhash("shingles", i)} AS mh$i").mkString(",\n  ")
    s"""SELECT doc_id, shingles, $mhs
       |  FROM (SELECT doc_id, ${sqlShingles(sqlTokens)} AS shingles FROM $from)
       |  WHERE len(shingles) > 0""".stripMargin
  }
  private val sqlBands: String = sqlBandsFrom("documents")

  /** The LSH → verified-pairs → connected-components CTE chain
    * (sig…clus), parametrized by the input relation so pipeline
    * compositions (q136) can run it on a derived stage. Must be embedded
    * under a `WITH RECURSIVE` header (walk is the recursive member);
    * `clus` exposes (doc_id, cluster_id). ≙ [[LshIndex.pairs]] +
    * ConnectedComponents.runPropagation on the Spark side — EXCEPT the
    * band cap: the SQL expands every bucket while the Spark side drops
    * over-cap (>LshIndex.DefaultBandCap) degenerate buckets. The gate corpora
    * have no over-cap bucket so the oracles agree (same deliberate
    * omission as q29/q80, pinned separately by LshBandCapSpec); a corpus
    * with a degenerate bucket would diverge here by design — the cap is
    * the scale behavior, this SQL is the reference semantics. */
  private[graft] def sqlLshClusterChain(from: String): String =
    s"""sig AS (
       |  SELECT doc_id, shingles,
       |    md5(mh0 || mh1 || mh2 || mh3) AS band0,
       |    md5(mh4 || mh5 || mh6 || mh7) AS band1
       |  FROM (${sqlBandsFrom(from)})),
       |banded AS (
       |  SELECT doc_id, unnest([band0, band1]) AS band FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
       |  FROM banded x JOIN banded y USING (band)
       |  WHERE x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT doc_id_a, doc_id_b FROM (
       |    SELECT doc_id_a, doc_id_b,
       |      CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE) /
       |      CAST(len(sa.shingles) + len(sb.shingles)
       |           - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
       |      AS jaccard
       |    FROM cand
       |    JOIN sig sa ON sa.doc_id = cand.doc_id_a
       |    JOIN sig sb ON sb.doc_id = cand.doc_id_b)
       |  WHERE jaccard >= 0.5),
       |edges AS (
       |  SELECT doc_id_a AS node, doc_id_b AS nbr FROM pairs
       |  UNION SELECT doc_id_b, doc_id_a FROM pairs),
       |walk AS (
       |  SELECT node, node AS lab FROM edges
       |  UNION
       |  SELECT e.node, w.lab FROM edges e JOIN walk w ON w.node = e.nbr),
       |clus AS (
       |  SELECT node AS doc_id, min(lab) AS cluster_id FROM walk
       |  GROUP BY node)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q101_bloom_incremental" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CASE WHEN len($sqlTokens) >= 8
         |      THEN md5(array_to_string(($sqlTokens)[1:8], ' ')) END AS fp
         |  FROM documents)
         |SELECT a.doc_id,
         |  CAST(CASE WHEN a.fp IS NOT NULL AND EXISTS (
         |    SELECT 1 FROM t b WHERE b.source <> 'src0' AND b.fp = a.fp)
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_dup
         |FROM t a WHERE a.source = 'src0'""".stripMargin,

    "q81_token_pack" ->
      s"""SELECT doc_id, source, n_tok,
         |  CAST(floor((cum - n_tok) / 2048) AS BIGINT) AS pack_id
         |FROM (
         |  SELECT doc_id, source, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM (SELECT doc_id, source, len($sqlTokens) AS n_tok
         |        FROM documents))""".stripMargin,

    "q80_dedup_apply" ->
      s"""WITH RECURSIVE ${sqlLshClusterChain("documents")}
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d
         |LEFT JOIN clus c ON c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id
         |WHERE c.doc_id IS NULL""".stripMargin,

    "q77_pii_redact" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(pii, '$PiiEmail')) AS n_email,
         |  len(regexp_extract_all(pii, '$PiiPhone')) AS n_phone,
         |  len(regexp_extract_all(pii, '$PiiIp')) AS n_ip,
         |  regexp_replace(regexp_replace(regexp_replace(pii,
         |    '$PiiEmail', '<EMAIL>', 'g'),
         |    '$PiiPhone', '<PHONE>', 'g'),
         |    '$PiiIp', '<IP>', 'g') AS clean_text
         |FROM (
         |  SELECT doc_id, text || ' contact user' || doc_id ||
         |    '@mail.example.com' ||
         |    CASE WHEN doc_id % 2 = 0 THEN ' cc admin@example.org'
         |         ELSE '' END ||
         |    ' or +1-415-555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |    ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
         |    AS pii
         |  FROM documents)""".stripMargin,

    "q78_normalize" ->
      """SELECT doc_id, norm_text, md5(norm_text) AS norm_hash,
        |  length(norm_text) AS n_chars_norm
        |FROM (
        |  SELECT doc_id, trim(regexp_replace(lower(
        |    '  ' || chr(9) || upper(substr(text, 1, 40)) || chr(9) || ' ' ||
        |    substr(text, 41) || '  '), '\s+', ' ', 'g')) AS norm_text
        |  FROM documents)""".stripMargin,

    "q22_text_stats" ->
      s"""SELECT doc_id, n_chars, len($sqlTokens) AS n_tokens,
         |  md5(text) AS fingerprint FROM documents""".stripMargin,

    "q23_quality_score" ->
      s"""SELECT doc_id, n_tokens,
         |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
         |  CAST(n_chars - n_tokens + 1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len
         |FROM (
         |  SELECT doc_id, n_chars, len($sqlTokens) AS n_tokens,
         |    len(list_filter($sqlTokens, x -> x IN ('the', 'a'))) AS n_stop
         |  FROM documents)
         |WHERE n_tokens > 0""".stripMargin,

    "q24_lang_guess" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN hits_en >= 3 THEN 'en'
         |       WHEN hits_en >= 1 THEN 'und'
         |       ELSE 'xx' END AS lang_guess
         |FROM (SELECT doc_id, lang,
         |  len(list_filter($sqlTokens, x -> x IN ('the', 'a'))) AS hits_en
         |  FROM documents)""".stripMargin,

    "q25_dedup_exact" ->
      """SELECT md5(lower(text)) AS text_hash, min(doc_id) AS canonical_id,
        |  count(*) AS n_dups
        |FROM documents GROUP BY md5(lower(text))""".stripMargin,

    "q26_ngram_jaccard" ->
      s"""WITH sh_tbl AS (
         |  SELECT doc_id, ${sqlShingles(sqlTokens)} AS sh FROM documents)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
         |  CAST(len(a.sh) + len(b.sh)
         |       - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
         |  AS jaccard
         |FROM sh_tbl a JOIN sh_tbl b ON b.doc_id = a.doc_id + 1
         |WHERE len(a.sh) + len(b.sh)
         |      - len(list_filter(a.sh, x -> list_contains(b.sh, x))) > 0""".stripMargin,

    "q27_simhash" -> {
      val bits = (1 to 16).map { p =>
        s"CAST(CAST(2 * len(list_filter(toks, x -> substr(md5(x), $p, 1) >= '8')) > len(toks) AS INT) AS VARCHAR)"
      }.mkString(" || ")
      s"""SELECT doc_id, $bits AS simhash
         |FROM (SELECT doc_id, list_distinct($sqlTokens) AS toks FROM documents)
         |WHERE len(toks) > 0""".stripMargin
    },

    "q59_simhash_pairs" -> {
      // 64-bit sig restated as two nonnegative 32-bit halves (signed-BIGINT
      // shifts never arise): hi bit p votes "nibble p of md5 ≥ 8" (top bit),
      // lo bit p votes bit 2 of nibble p (hex char 4-7 or c-f) — exactly
      // SimHashBits' 64-bit layout, MSB first, 2^(32-p) per bit.
      val hiSum = (1 to 32).map { p =>
        s"CAST(2 * len(list_filter(sh, x -> substr(md5(x), $p, 1) >= '8')) > len(sh) AS INT) * ${1L << (32 - p)}"
      }.mkString(" + ")
      val loSum = (1 to 32).map { p =>
        s"CAST(2 * len(list_filter(sh, x -> substr(md5(x), $p, 1) IN ('4','5','6','7','c','d','e','f'))) > len(sh) AS INT) * ${1L << (32 - p)}"
      }.mkString(" + ")
      s"""WITH sigs AS (
         |  SELECT doc_id, CAST($hiSum AS BIGINT) AS hi,
         |    CAST($loSum AS BIGINT) AS lo
         |  FROM (SELECT doc_id, ${sqlShingles(sqlTokens)} AS sh FROM documents)
         |  WHERE len(sh) > 0),
         |banded AS (
         |  SELECT doc_id, hi, lo, 0 AS bno, (hi >> 16) & 65535 AS band FROM sigs
         |  UNION ALL
         |  SELECT doc_id, hi, lo, 1, hi & 65535 FROM sigs
         |  UNION ALL
         |  SELECT doc_id, hi, lo, 2, (lo >> 16) & 65535 FROM sigs
         |  UNION ALL
         |  SELECT doc_id, hi, lo, 3, lo & 65535 FROM sigs),
         |hot AS (
         |  SELECT bno, band FROM banded GROUP BY 1, 2
         |  HAVING count(*) > ${LshIndex.DefaultBandCap}),
         |cold AS (
         |  SELECT b.* FROM banded b ANTI JOIN hot h USING (bno, band))
         |SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
         |  CAST(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo))
         |    AS BIGINT) AS hamming
         |FROM cold x JOIN cold y USING (bno, band)
         |WHERE x.doc_id < y.doc_id
         |  AND bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) <= 3"""
        .stripMargin
    },

    "q28_minhash_sig" ->
      s"""SELECT doc_id, mh0, mh7,
         |  md5(mh0 || mh1 || mh2 || mh3) AS band0,
         |  md5(mh4 || mh5 || mh6 || mh7) AS band1
         |FROM ($sqlBands)""".stripMargin,

    "q184_weighted_minhash" ->
      s"""SELECT doc_id, wmh0, wmh7,
         |  md5(wmh0 || wmh1 || wmh2 || wmh3) AS band0,
         |  md5(wmh4 || wmh5 || wmh6 || wmh7) AS band1
         |FROM ($sqlWeightedBands)""".stripMargin,

    "q185_weighted_pairs" ->
      s"""WITH $sqlWeightedPairChain
         |SELECT doc_id_a, doc_id_b, wjaccard FROM sc
         |WHERE wjaccard >= 0.5""".stripMargin,

    // the banded postings the build commits, recomputed relationally
    // over the history slice — ≙ the q212 read-back of the bands table
    "q212_weighted_index_build" ->
      s"""WITH wb AS (
         |  SELECT doc_id,
         |    md5(wmh0 || wmh1 || wmh2 || wmh3) AS band0,
         |    md5(wmh4 || wmh5 || wmh6 || wmh7) AS band1
         |  FROM ($sqlWeightedBands)
         |  WHERE doc_id % 10 <> 7)
         |SELECT doc_id, unnest([band0, band1]) AS band FROM wb""".stripMargin,

    // increment-vs-history restriction of the q185 chain: exactly one
    // side of the pair is in the delta (doc_id%10=7), reoriented so the
    // delta side is new_id — ≙ matchIncrementWeighted's output
    "q191_weighted_increment" ->
      s"""WITH $sqlWeightedPairChain
         |SELECT
         |  CASE WHEN doc_id_a % 10 = 7 THEN doc_id_a ELSE doc_id_b END AS new_id,
         |  CASE WHEN doc_id_a % 10 = 7 THEN doc_id_b ELSE doc_id_a END AS old_id,
         |  wjaccard
         |FROM sc
         |WHERE wjaccard >= 0.5
         |  AND ((doc_id_a % 10 = 7) <> (doc_id_b % 10 = 7))""".stripMargin,

    // the q80 closure over the weighted detector: same edges/walk/clus
    // recursive chain, pairs from the weighted verify instead of the
    // set-Jaccard one
    "q186_weighted_dedup_apply" ->
      s"""WITH RECURSIVE $sqlWeightedPairChain,
         |wpairs AS (
         |  SELECT doc_id_a, doc_id_b FROM sc WHERE wjaccard >= 0.5),
         |edges AS (
         |  SELECT doc_id_a AS node, doc_id_b AS nbr FROM wpairs
         |  UNION SELECT doc_id_b, doc_id_a FROM wpairs),
         |walk AS (
         |  SELECT node, node AS lab FROM edges
         |  UNION
         |  SELECT e.node, w.lab FROM edges e JOIN walk w ON w.node = e.nbr),
         |clus AS (
         |  SELECT node AS doc_id, min(lab) AS cluster_id FROM walk
         |  GROUP BY node)
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d
         |LEFT JOIN clus c ON c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id
         |WHERE c.doc_id IS NULL""".stripMargin,

    "q183_oph_minhash" -> {
      val ms = (0 until nSig).map(b =>
        s"""list_min(list_filter(hs, h ->
           |      (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % $nSig
           |        = $b)) AS m$b""".stripMargin).mkString(",\n  ")
      val ds = (0 until nSig).map(b =>
        "coalesce(" + (0 until nSig).map(k => s"m${(b + k) % nSig}")
          .mkString(", ") + s") AS d$b").mkString(",\n  ")
      s"""WITH sh AS (
         |  SELECT doc_id, ${sqlShingles(sqlTokens)} AS shingles
         |  FROM documents),
         |s2 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
         |hd AS (SELECT doc_id,
         |    list_transform(shingles, s -> md5('p|' || s)) AS hs FROM s2),
         |m AS (SELECT doc_id,
         |  $ms
         |  FROM hd),
         |d AS (SELECT doc_id,
         |  $ds
         |  FROM m)
         |SELECT doc_id, d0 AS oph0, d7 AS oph7,
         |  md5(d0 || d1 || d2 || d3) AS band0,
         |  md5(d4 || d5 || d6 || d7) AS band1
         |FROM d""".stripMargin
    },

    "q29_minhash_pairs" ->
      s"""WITH sig AS (
         |  SELECT doc_id, shingles,
         |    md5(mh0 || mh1 || mh2 || mh3) AS band0,
         |    md5(mh4 || mh5 || mh6 || mh7) AS band1
         |  FROM ($sqlBands)),
         |banded AS (
         |  SELECT doc_id, unnest([band0, band1]) AS band FROM sig),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
         |  FROM banded x JOIN banded y USING (band)
         |  WHERE x.doc_id < y.doc_id),
         |scored AS (
         |  SELECT doc_id_a, doc_id_b,
         |    CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE) /
         |    CAST(len(sa.shingles) + len(sb.shingles)
         |         - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
         |    AS jaccard
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = cand.doc_id_a
         |  JOIN sig sb ON sb.doc_id = cand.doc_id_b)
         |SELECT doc_id_a, doc_id_b, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin,

    "q46_dedup_clusters" ->
      s"""WITH RECURSIVE sig AS (
         |  SELECT doc_id, shingles,
         |    md5(mh0 || mh1 || mh2 || mh3) AS band0,
         |    md5(mh4 || mh5 || mh6 || mh7) AS band1
         |  FROM ($sqlBands)),
         |banded AS (
         |  SELECT doc_id, unnest([band0, band1]) AS band FROM sig),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
         |  FROM banded x JOIN banded y USING (band)
         |  WHERE x.doc_id < y.doc_id),
         |pairs AS (
         |  SELECT doc_id_a, doc_id_b FROM (
         |    SELECT doc_id_a, doc_id_b,
         |      CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE) /
         |      CAST(len(sa.shingles) + len(sb.shingles)
         |           - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
         |      AS jaccard
         |    FROM cand
         |    JOIN sig sa ON sa.doc_id = cand.doc_id_a
         |    JOIN sig sb ON sb.doc_id = cand.doc_id_b)
         |  WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_id_a AS node, doc_id_b AS nbr FROM pairs
         |  UNION SELECT doc_id_b, doc_id_a FROM pairs),
         |walk AS (
         |  SELECT node, node AS lab FROM edges
         |  UNION
         |  SELECT e.node, w.lab FROM edges e JOIN walk w ON w.node = e.nbr)
         |SELECT node AS doc_id, min(lab) AS cluster_id
         |FROM walk GROUP BY node""".stripMargin,

    "q33_multimodal_meta" ->
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  ascii(substr(text, 1, 1)) AS first_byte,
        |  md5(text) AS content_hash FROM documents""".stripMargin,

    // documents.text is pure ASCII (verified), so byte arithmetic ≡ char
    // codepoint arithmetic in the oracle.
    "q37_mm_decode" ->
      """SELECT doc_id,
        |  ascii(substr(text, 1, 1)) + 1 AS width,
        |  ascii(substr(text, 2, 1)) + 1 AS height,
        |  CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c)))
        |    AS BIGINT) AS byte_sum
        |FROM documents""".stripMargin,

    "q38_mm_frames" ->
      """SELECT doc_id,
        |  unnest(range(0, CAST(length(text) % 7 AS INT), 2)) AS frame_no
        |FROM documents""".stripMargin,

    "q177_mm_png_decode" ->
      """SELECT doc_id,
        |  CAST(doc_id % 16 + 1 AS INT) AS width,
        |  CAST(doc_id % 8 + 1 AS INT) AS height,
        |  CAST((doc_id % 16 + 1) * (doc_id % 8 + 1) * 3 * (doc_id % 256)
        |    AS BIGINT) AS pixel_sum
        |FROM documents""".stripMargin,

    // split buckets re-derive from the same md5("split|" || cluster_id)
    // 4-hex-char fold both engines compute identically; the cluster ids
    // come from the recursive set-Jaccard chain (q46/q80's oracle)
    "q188_leakage_split" ->
      s"""WITH RECURSIVE ${sqlLshClusterChain("documents")},
         |assigned AS (
         |  SELECT d.doc_id,
         |    COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id),
         |b AS (
         |  SELECT doc_id, cluster_id,
         |    ${sqlHex4("md5('split|' || CAST(cluster_id AS VARCHAR))")}
         |      % 100 AS bkt
         |  FROM assigned)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN bkt < 98 THEN 'train' WHEN bkt = 98 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin,

    // the WAV fixture stores each unsigned 16-bit sample u as its LE byte
    // pair, so the decoded-stream byte sum is Σ (u%256 + u//256) — pure
    // doc_id arithmetic, but only reproducible by actually inflating the
    // data chunk on the Spark side
    // q202's oracle: window energies and rising-energy bits restated
    // from the known sample formula (signed 16-bit reconstruction
    // included), packed into the identical hex layout
    "q202_audio_fingerprint" ->
      """WITH p AS (SELECT doc_id, 32 + doc_id % 96 AS n FROM documents),
        |sv AS (
        |  SELECT doc_id, n, k,
        |    CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
        |  FROM (
        |    SELECT doc_id, n, unnest(range(n)) AS k,
        |      (doc_id*7919 + unnest(range(n))*104729) % 65536 AS v
        |    FROM p)),
        |e AS (
        |  SELECT doc_id, n, k // 4 AS w, CAST(sum(s*s) AS BIGINT) AS e
        |  FROM sv WHERE k < 4 * (n // 4) GROUP BY 1, 2, 3),
        |b AS (
        |  SELECT a.doc_id, a.n, a.w AS bit,
        |    CASE WHEN a.e < c.e THEN 1 ELSE 0 END AS bv
        |  FROM e a JOIN e c ON a.doc_id = c.doc_id AND c.w = a.w + 1),
        |byt AS (
        |  SELECT doc_id, n, bit // 8 AS byte_i,
        |    CAST(sum(bv * (1 << (bit % 8))) AS BIGINT) AS byte_v
        |  FROM b GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(n // 4 AS BIGINT) AS n_windows,
        |  string_agg(lpad(lower(to_hex(byte_v)), 2, '0'), '' ORDER BY byte_i)
        |    AS fp
        |FROM byt GROUP BY 1, 2, 3""".stripMargin,

    // q201's oracle: the same arithmetic row bytes, halves as integers,
    // band agreement as an OR of the 4 two-byte-band equalities (the set
    // the band self-join produces), exact hamming via bit_count(xor)
    "q201_image_neardup" ->
      """WITH bits AS (
        |  SELECT doc_id, y,
        |    CAST(sum(CASE WHEN g < gn THEN (1 << x) ELSE 0 END)
        |      AS BIGINT) AS rb
        |  FROM (
        |    SELECT doc_id, y.range, x.range,
        |      ((b+7)*(y.range+3)*(x.range+5) + b*31 +
        |        (b // 256)*(y.range*11 + x.range*17 + 1)) % 256 AS g,
        |      ((b+7)*(y.range+3)*(x.range+6) + b*31 +
        |        (b // 256)*(y.range*11 + (x.range+1)*17 + 1)) % 256 AS gn
        |    FROM (SELECT doc_id, CASE WHEN doc_id % 97 = 0 AND doc_id > 0
        |        THEN doc_id - 1 ELSE doc_id END AS b FROM documents),
        |      range(8) y, range(8) x) px(doc_id, y, x, g, gn)
        |  GROUP BY 1, 2),
        |h AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN y < 4 THEN rb * power(256, 3 - y) ELSE 0 END)
        |      AS BIGINT) AS h1,
        |    CAST(sum(CASE WHEN y >= 4 THEN rb * power(256, 7 - y) ELSE 0 END)
        |      AS BIGINT) AS h2,
        |    CAST(sum(CASE WHEN y < 2 THEN rb * power(256, 1 - (y % 2))
        |      ELSE 0 END) AS BIGINT) AS b0,
        |    CAST(sum(CASE WHEN y >= 2 AND y < 4 THEN rb * power(256, 1 - (y % 2))
        |      ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(sum(CASE WHEN y >= 4 AND y < 6 THEN rb * power(256, 1 - (y % 2))
        |      ELSE 0 END) AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN y >= 6 THEN rb * power(256, 1 - (y % 2))
        |      ELSE 0 END) AS BIGINT) AS b3
        |  FROM bits GROUP BY 1)
        |SELECT l.doc_id AS a, r.doc_id AS b,
        |  CAST(bit_count(xor(l.h1, r.h1)) + bit_count(xor(l.h2, r.h2))
        |    AS BIGINT) AS hamming
        |FROM h l JOIN h r ON l.doc_id < r.doc_id
        |  AND (l.b0 = r.b0 OR l.b1 = r.b1 OR l.b2 = r.b2 OR l.b3 = r.b3)
        |WHERE bit_count(xor(l.h1, r.h1)) + bit_count(xor(l.h2, r.h2)) <= 2"""
        .stripMargin,

    // q200's oracle: all 64 adjacent-pixel comparisons of the pattern
    // restated arithmetically — row bytes from bit sums, hex via to_hex
    "q200_image_dhash" ->
      """WITH bits AS (
        |  SELECT doc_id, y,
        |    CAST(sum(CASE WHEN g < gn THEN (1 << x) ELSE 0 END)
        |      AS BIGINT) AS rb,
        |    CAST(sum(CASE WHEN g < gn THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM (
        |    SELECT doc_id, y.range, x.range,
        |      ((b+7)*(y.range+3)*(x.range+5) + b*31 +
        |        (b // 256)*(y.range*11 + x.range*17 + 1)) % 256 AS g,
        |      ((b+7)*(y.range+3)*(x.range+6) + b*31 +
        |        (b // 256)*(y.range*11 + (x.range+1)*17 + 1)) % 256 AS gn
        |    FROM (SELECT doc_id, CASE WHEN doc_id % 97 = 0 AND doc_id > 0
        |        THEN doc_id - 1 ELSE doc_id END AS b FROM documents),
        |      range(8) y, range(8) x) px(doc_id, y, x, g, gn)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(9 AS INT) AS width, CAST(8 AS INT) AS height,
        |  string_agg(lpad(lower(to_hex(rb)), 2, '0'), '' ORDER BY y) AS dhash,
        |  CAST(sum(nb) AS BIGINT) AS n_bits
        |FROM bits GROUP BY 1""".stripMargin,

    "q187_mm_wav_decode" ->
      """SELECT doc_id,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels,
        |  CAST(32 + doc_id % 96 AS BIGINT) AS n_frames,
        |  CAST(list_sum(list_transform(range(0, CAST(32 + doc_id % 96 AS BIGINT)),
        |    k -> (doc_id * 7919 + k * 104729) % 65536 % 256 +
        |         (doc_id * 7919 + k * 104729) % 65536 // 256))
        |    AS BIGINT) AS pcm_sum
        |FROM documents""".stripMargin,

    // the Zipf/Heaps chain: same top-256 profile, same 6-dp-rounded
    // integer logs, same fixed-shape slope expression
    "q195_zipf_fit" ->
      s"""WITH vocab AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($sqlTokens) AS tok FROM documents)
         |  GROUP BY tok),
         |top AS (
         |  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         |         CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y
         |  FROM (
         |    SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank
         |    FROM vocab ORDER BY freq DESC, tok LIMIT 256)),
         |fit AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM top),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS vocab_size,
         |    CAST(sum(freq) AS BIGINT) AS n_total FROM vocab)
         |SELECT vocab_size, n_total,
         |  round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
         |  round(ln(CAST(vocab_size AS DOUBLE)) /
         |    ln(CAST(n_total AS DOUBLE)), 6) AS heaps_beta
         |FROM fit CROSS JOIN tot""".stripMargin,

    // the trigram language-ID chain restated relationally: same top-256
    // profile (ties trigram asc), same integer weights, same argmax
    "q194_langid_trigram" ->
      """WITH d AS (
        |  SELECT doc_id, lang, lower(text) AS t FROM documents
        |  WHERE length(lower(text)) >= 3),
        |tri AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, length(t) - 1),
        |      i -> substr(t, CAST(i AS INT), 3))) AS tri
        |  FROM d),
        |cnt AS (
        |  SELECT lang, tri, CAST(count(*) AS BIGINT) AS c
        |  FROM tri GROUP BY 1, 2),
        |top AS (
        |  SELECT lang, tri, c FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY c DESC, tri) AS rk FROM cnt)
        |  WHERE rk <= 256),
        |model AS (
        |  SELECT lang AS m_lang, tri, (1000000 * c) // nl AS w FROM (
        |    SELECT *, sum(c) OVER (PARTITION BY lang) AS nl FROM top)),
        |sc AS (
        |  SELECT t.doc_id, m.m_lang, CAST(sum(m.w) AS BIGINT) AS score
        |  FROM tri t JOIN model m ON m.tri = t.tri GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, m_lang, score FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, m_lang) AS rk FROM sc)
        |  WHERE rk = 1)
        |SELECT d.doc_id, d.lang,
        |  COALESCE(b.m_lang, 'und') AS pred_lang,
        |  CAST(COALESCE(b.score, 0) AS BIGINT) AS score
        |FROM d LEFT JOIN best b USING (doc_id)""".stripMargin,

    // the MP4 fixture's container fields are doc_id arithmetic, but only
    // recoverable Spark-side by walking the big-endian atom chain (the
    // free-atom padding moves moov per payload)
    "q192_mm_mp4_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |  CAST(600 + (doc_id % 5) * 100 AS BIGINT) AS timescale,
        |  CAST(1000 + (doc_id % 7) * 37 AS BIGINT) AS duration,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks
        |FROM documents""".stripMargin,

    "q55_tfidf_top_term" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (
         |  SELECT token, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
         |scored AS (
         |  SELECT doc_id, token, tf.tf, df.df,
         |    round(tf.tf * ln(CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 6)
         |      AS score
         |  FROM tf JOIN df USING (token) CROSS JOIN n)
         |SELECT doc_id, token AS top_term, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, score
         |FROM (SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, token) AS rk
         |  FROM scored)
         |WHERE rk = 1""".stripMargin,

    "q41_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha,
        |  len(regexp_extract_all(text, '[0-9]+')) AS n_num,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct
        |FROM documents""".stripMargin,

    "q93_token_rarity" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct($sqlTokens)) AS token
         |  FROM documents),
         |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |       FROM toks GROUP BY token)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(df) AS BIGINT) AS sum_df,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hapax,
         |  CAST(sum(df) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_df
         |FROM toks JOIN df USING (token) GROUP BY doc_id""".stripMargin,

    // entropy mirror: same token-sorted fold, same (tf/n)*ln(tf/n) shape
    "q111_token_entropy" ->
      s"""WITH toks AS (SELECT doc_id, $sqlTokens AS t FROM documents),
         |tf AS (SELECT doc_id, any_value(len(t)) AS n_tokens, token,
         |         CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, t, unnest(t) AS token FROM toks)
         |       GROUP BY doc_id, token)
         |SELECT doc_id, CAST(any_value(n_tokens) AS INT) AS n_tokens,
         |  CAST(count(*) AS INT) AS n_types,
         |  round(-list_reduce(
         |    list_prepend(CAST(0 AS DOUBLE),
         |      list((CAST(tf AS DOUBLE) / CAST(n_tokens AS DOUBLE)) *
         |           ln(CAST(tf AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |           ORDER BY token)),
         |    (a, b) -> a + b), 6) AS entropy
         |FROM tf GROUP BY doc_id""".stripMargin,

    // BM25 mirror: identical parenthesization everywhere a double is
    // touched; the per-(q,doc) sum folds a token-ORDERED list from 0.0
    // exactly like the Spark side's array_sort fold.
    "q109_bm25_topk" ->
      s"""WITH toks AS (SELECT doc_id, $sqlTokens AS t FROM documents),
         |e AS (SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM toks),
         |tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM e GROUP BY doc_id, dl, token),
         |stats AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |          FROM tf GROUP BY token),
         |meta AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(len(t)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM toks),
         |q AS (SELECT doc_id AS q_id, unnest(list_distinct(t)) AS token
         |      FROM toks WHERE doc_id < 10),
         |scored AS (
         |  SELECT q.q_id, tf.doc_id, tf.token,
         |    ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |         (CAST(df AS DOUBLE) + 0.5) + 1.0) *
         |      ((CAST(tf AS DOUBLE) * 2.2) /
         |        (CAST(tf AS DOUBLE) + 1.2 *
         |          (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
         |    AS sc
         |  FROM tf JOIN q USING (token) JOIN stats USING (token)
         |    CROSS JOIN meta
         |  WHERE tf.doc_id <> q.q_id),
         |agg AS (
         |  SELECT q_id, doc_id,
         |    round(list_reduce(
         |      list_prepend(CAST(0 AS DOUBLE), list(sc ORDER BY token)),
         |      (a, b) -> a + b), 6) AS score
         |  FROM scored GROUP BY q_id, doc_id)
         |SELECT q_id, doc_id, rank, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, doc_id) AS rank FROM agg)
         |WHERE rank <= 3""".stripMargin,

    // q29's oracle restricted to new×old pairs (the index is an
    // implementation artifact — relationally it's just a split corpus;
    // the cap is omitted exactly as in q29, pinned by LshBandCapSpec)
    "q108_incremental_neardup" ->
      s"""WITH sig AS (
         |  SELECT doc_id, shingles,
         |    md5(mh0 || mh1 || mh2 || mh3) AS band0,
         |    md5(mh4 || mh5 || mh6 || mh7) AS band1
         |  FROM ($sqlBands)),
         |banded AS (
         |  SELECT doc_id, unnest([band0, band1]) AS band FROM sig),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
         |  FROM banded x JOIN banded y USING (band)
         |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0),
         |scored AS (
         |  SELECT new_id, old_id,
         |    CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE) /
         |    CAST(len(sa.shingles) + len(sb.shingles)
         |         - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
         |    AS jaccard
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = cand.new_id
         |  JOIN sig sb ON sb.doc_id = cand.old_id)
         |SELECT new_id, old_id, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin,

    // Relational mirror of the bigram-novelty score: same tokenization,
    // same df≥2 ∧ top-1024 frequent set, coverage via join instead of the
    // in-row intersect.
    "q105_bigram_novelty" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $sqlTokens AS t FROM documents),
         |b AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    list_zip(t[1:len(t)-1], t[2:len(t)]),
         |    p -> p[1] || ' ' || p[2])) AS bigs
         |  FROM toks WHERE len(t) >= 2),
         |e AS (SELECT doc_id, unnest(bigs) AS bg FROM b),
         |dfq AS (SELECT bg, count(*) AS c FROM e GROUP BY bg),
         |freq AS (SELECT bg FROM dfq WHERE c >= 2
         |         ORDER BY c DESC, bg LIMIT 1024),
         |cov AS (SELECT e.doc_id, count(*) AS covered
         |        FROM e JOIN freq USING (bg) GROUP BY e.doc_id)
         |SELECT b.doc_id, CAST(len(bigs) AS INT) AS n_bigrams,
         |  CAST(coalesce(cov.covered, 0) AS INT) AS covered,
         |  CAST(((len(bigs) - coalesce(cov.covered, 0)) * 1000000)
         |    // len(bigs) AS BIGINT) AS novelty_ppm
         |FROM b LEFT JOIN cov USING (doc_id)""".stripMargin,

    // KMV mirror: min-k via row_number over md5, the hex→int fold replaces
    // Spark's conv(); same 2^60 hash-space fraction arithmetic.
    "q106_distinct_sketch" ->
      s"""WITH toks AS (
         |  SELECT source, $sqlTokens AS t FROM documents),
         |b AS (
         |  SELECT source, list_distinct(list_transform(
         |    list_zip(t[1:len(t)-1], t[2:len(t)]),
         |    p -> p[1] || ' ' || p[2])) AS bigs
         |  FROM toks WHERE len(t) >= 2),
         |e AS (SELECT source, unnest(bigs) AS bg FROM b),
         |exact AS (SELECT source, CAST(count(DISTINCT bg) AS BIGINT)
         |            AS n_exact FROM e GROUP BY source),
         |h AS (SELECT DISTINCT source, md5(bg) AS h FROM e),
         |mins AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM h),
         |kth AS (SELECT source, max(CASE WHEN rn = 64 THEN h END) AS h64,
         |    CAST(count(*) AS BIGINT) AS n_mins
         |  FROM mins WHERE rn <= 64 GROUP BY source)
         |SELECT k.source, exact.n_exact,
         |  CASE WHEN k.n_mins < 64 THEN k.n_mins
         |    ELSE CAST(round(63.0 * 1152921504606846976.0 /
         |      CAST(list_reduce(list_transform(
         |        string_split(substr(k.h64, 1, 15), ''),
         |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |        (a, d) -> a * 16 + d) AS DOUBLE)) AS BIGINT)
         |  END AS n_est
         |FROM kth k JOIN exact USING (source)""".stripMargin,

    "q42_rolling_hash" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,

    "q133_inverted_index" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest($sqlTokens) AS tok FROM documents)
         |  GROUP BY 1, 2)
         |SELECT tok, CAST(count(*) AS BIGINT) AS df,
         |  CAST(sum(tf) AS BIGINT) AS cf,
         |  array_to_string((list(doc_id ORDER BY doc_id))[1:16], ',')
         |    AS postings
         |FROM tf GROUP BY tok""".stripMargin,

    "q179_substring_spans" ->
      """WITH wins AS (
        |  SELECT doc_id, CAST(p AS INT) AS p,
        |    md5(substr(text, CAST(p AS INT), 30)) AS h
        |  FROM documents,
        |    LATERAL unnest(range(1, length(text) - 29 + 1, 10)) AS t(p)
        |  WHERE length(text) >= 30),
        |dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
        |marked AS (
        |  SELECT w.doc_id, w.p, w.p + 29 AS pe FROM wins w JOIN dup USING (h)),
        |brk AS (
        |  SELECT doc_id, p, pe,
        |    CASE WHEN p > coalesce(max(pe) OVER (PARTITION BY doc_id
        |        ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -1) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM marked),
        |grps AS (
        |  SELECT doc_id, p, pe,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM brk),
        |spans AS (
        |  SELECT doc_id, min(p) AS span_start, max(pe) AS span_end
        |  FROM grps GROUP BY doc_id, g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_chars,
        |  CAST(min(span_start) AS BIGINT) AS first_span
        |FROM spans GROUP BY doc_id""".stripMargin,

    "q180_substring_cut" ->
      """WITH wins AS (
        |  SELECT doc_id, CAST(p AS INT) AS p,
        |    md5(substr(text, CAST(p AS INT), 30)) AS h
        |  FROM documents,
        |    LATERAL unnest(range(1, length(text) - 29 + 1, 10)) AS t(p)
        |  WHERE length(text) >= 30),
        |dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
        |marked AS (
        |  SELECT w.doc_id, w.p, w.p + 29 AS pe FROM wins w JOIN dup USING (h)),
        |brk AS (
        |  SELECT doc_id, p, pe,
        |    CASE WHEN p > coalesce(max(pe) OVER (PARTITION BY doc_id
        |        ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -1) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM marked),
        |grps AS (
        |  SELECT doc_id, p, pe,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM brk),
        |spans AS (
        |  SELECT doc_id, min(p) AS span_start, max(pe) AS span_end
        |  FROM grps GROUP BY doc_id, g),
        |segs AS (
        |  SELECT s.doc_id, s.span_start, s.span_end,
        |    substr(d.text, s.prev_end + 1, s.span_start - s.prev_end - 1)
        |      AS seg
        |  FROM (SELECT doc_id, span_start, span_end,
        |          coalesce(lag(span_end) OVER (PARTITION BY doc_id
        |            ORDER BY span_start), 0) AS prev_end
        |        FROM spans) s JOIN documents d USING (doc_id)),
        |agg AS (
        |  SELECT doc_id, string_agg(seg, '' ORDER BY span_start) AS head,
        |    max(span_end) AS last_end
        |  FROM segs GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN a.last_end IS NULL THEN d.text
        |       ELSE a.head || substr(d.text, a.last_end + 1) END
        |    AS clean_text,
        |  CAST(length(d.text) - length(
        |    CASE WHEN a.last_end IS NULL THEN d.text
        |         ELSE a.head || substr(d.text, a.last_end + 1) END)
        |    AS BIGINT) AS removed_chars
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q181_winnowed_spans" ->
      """WITH wins AS (
        |  SELECT doc_id, CAST(p AS INT) AS p,
        |    md5(substr(text, CAST(p AS INT), 30)) AS h
        |  FROM documents,
        |    LATERAL unnest(list_filter(range(1, length(text) - 28),
        |      p -> p = 1 OR (p > 4 AND
        |        substr(md5(substr(text, p - 4, 4)), 1, 2) < '1a')))
        |      AS t(p)
        |  WHERE length(text) >= 30),
        |dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
        |marked AS (
        |  SELECT w.doc_id, w.p, w.p + 29 AS pe FROM wins w JOIN dup USING (h)),
        |brk AS (
        |  SELECT doc_id, p, pe,
        |    CASE WHEN p > coalesce(max(pe) OVER (PARTITION BY doc_id
        |        ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -1) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM marked),
        |grps AS (
        |  SELECT doc_id, p, pe,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM brk),
        |spans AS (
        |  SELECT doc_id, min(p) AS span_start, max(pe) AS span_end
        |  FROM grps GROUP BY doc_id, g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_chars,
        |  CAST(min(span_start) AS BIGINT) AS first_span
        |FROM spans GROUP BY doc_id""".stripMargin,

    // DuckDB sorts the materialized suffix LISTS directly (its list
    // comparison is elementwise-lexicographic = the prefix-doubling
    // order, shorter-prefix-first = the rank-0 sentinel)
    "q203_suffix_rank" ->
      s"""WITH tk AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
         |pos AS (SELECT doc_id, toks,
         |  unnest(range(1, CAST(len(toks) AS BIGINT) + 1)) AS p FROM tk)
         |SELECT doc_id, CAST(p AS BIGINT) AS p,
         |  CAST(dense_rank() OVER (ORDER BY toks[CAST(p AS INT):])
         |    AS BIGINT) AS srank
         |FROM pos""".stripMargin,

    // the BUILD face recomputes the identical ranking — DuckDB pays the
    // full sort either way, so the oracle text is q203's
    "q219_suffix_build" ->
      s"""WITH tk AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
         |pos AS (SELECT doc_id, toks,
         |  unnest(range(1, CAST(len(toks) AS BIGINT) + 1)) AS p FROM tk)
         |SELECT doc_id, CAST(p AS BIGINT) AS p,
         |  CAST(dense_rank() OVER (ORDER BY toks[CAST(p AS INT):])
         |    AS BIGINT) AS srank
         |FROM pos""".stripMargin,

    "q204_suffix_lcp" ->
      s"""WITH tk AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
         |pos AS (SELECT doc_id, toks,
         |  unnest(range(1, CAST(len(toks) AS BIGINT) + 1)) AS p FROM tk),
         |rk AS (SELECT doc_id, CAST(p AS BIGINT) AS p, toks,
         |  CAST(dense_rank() OVER (ORDER BY toks[CAST(p AS INT):])
         |    AS BIGINT) AS srank FROM pos),
         |rep AS (SELECT srank, doc_id, p,
         |    toks[CAST(p AS INT):CAST(p AS INT) + 31] AS sl
         |  FROM (SELECT *, row_number() OVER (PARTITION BY srank
         |      ORDER BY doc_id, p) AS rn FROM rk) WHERE rn = 1),
         |pr AS (SELECT l.srank AS srank, l.doc_id AS d1, l.p AS p1,
         |    r.doc_id AS d2, r.p AS p2, l.sl AS s1, r.sl AS s2
         |  FROM rep l JOIN rep r ON l.srank + 1 = r.srank),
         |ex AS (SELECT srank, d1, p1, d2, p2, s1, s2,
         |  unnest(range(1, 33)) AS i FROM pr)
         |SELECT * FROM (
         |  SELECT srank, d1, p1, d2, p2,
         |    CAST(least(coalesce(min(CASE WHEN s1[CAST(i AS INT)]
         |        IS DISTINCT FROM s2[CAST(i AS INT)] THEN i END) - 1, 32),
         |      32) AS BIGINT) AS lcp
         |  FROM ex GROUP BY srank, d1, p1, d2, p2)
         |WHERE lcp >= 4""".stripMargin,

    "q211_priority_dedup" ->
      s"""WITH RECURSIVE ${sqlLshClusterChain("documents")},
         |lab AS (SELECT d.doc_id,
         |    coalesce(c.cluster_id, d.doc_id) AS cluster, d.n_chars
         |  FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id),
         |keep AS (SELECT cluster, doc_id AS keeper FROM (
         |  SELECT cluster, doc_id, row_number() OVER (PARTITION BY cluster
         |    ORDER BY n_chars DESC, doc_id DESC) AS rn FROM lab)
         |  WHERE rn = 1)
         |SELECT l.doc_id, l.cluster, CAST(l.n_chars AS BIGINT) AS n_chars
         |FROM lab l JOIN keep k
         |  ON l.cluster = k.cluster AND l.doc_id = k.keeper""".stripMargin,

    // the q202 arithmetic restatement, extended with the replica
    // perturbation, the byte-level band join (one byte ≡ one 2-hex-char
    // band), and a relational hamming (count of differing bits) — no
    // bit_count needed on the oracle side
    "q207_audio_neardup" ->
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 89 = 0 AND doc_id > 0
         |      THEN doc_id - 1 ELSE doc_id END AS base
         |  FROM documents),
         |pos AS (SELECT doc_id, base, unnest(range(128)) AS k FROM p),
         |sv AS (SELECT doc_id, k,
         |    CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
         |  FROM (SELECT doc_id, k,
         |      (base*7919 + k*104729 + base*k*k*31 +
         |       CASE WHEN base <> doc_id AND k = 5
         |         THEN 4096 ELSE 0 END) % 65536 AS v
         |    FROM pos)),
         |e AS (SELECT doc_id, k // 4 AS w, CAST(sum(s*s) AS BIGINT) AS e
         |  FROM sv GROUP BY 1, 2),
         |b AS (SELECT a.doc_id, a.w AS bit,
         |    CASE WHEN a.e < c.e THEN 1 ELSE 0 END AS bv
         |  FROM e a JOIN e c ON a.doc_id = c.doc_id AND c.w = a.w + 1),
         |byt AS (SELECT doc_id, bit // 8 AS byte_i,
         |    CAST(sum(bv * (1 << (bit % 8))) AS BIGINT) AS byte_v
         |  FROM b GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM byt l JOIN byt r ON l.byte_i = r.byte_i
         |    AND l.byte_v = r.byte_v AND l.doc_id < r.doc_id)
         |SELECT c.a, c.b,
         |  CAST(sum(CASE WHEN x.bv <> y.bv THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hamming
         |FROM cand c JOIN b x ON x.doc_id = c.a
         |  JOIN b y ON y.doc_id = c.b AND y.bit = x.bit
         |GROUP BY c.a, c.b
         |HAVING sum(CASE WHEN x.bv <> y.bv THEN 1 ELSE 0 END) <= 3"""
        .stripMargin
  )
}
