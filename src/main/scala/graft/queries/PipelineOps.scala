package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.OracleSql.{sqlTokens => sqlToks}

/** Training-data pipeline pack #2: corpus statistics, contamination
  * screening, weighted mixing, vector quantization — plus the two remaining
  * reference surfaces (RAC per-thread redo ordering, checkpoint-state
  * summary).
  *
  * Scale notes (the design rule for every query here):
  *   - per-document signals are narrow one-pass expressions — no exchange,
  *     no explode of the full token stream where a sorted-run aggregate
  *     does the same work inside the row;
  *   - cross-corpus joins put the SMALL side (benchmark n-grams, per-source
  *     rates) behind `broadcast()` so the corpus itself never shuffles;
  *   - exact percentiles run on the value HISTOGRAM (one short-key shuffle,
  *     cardinality = |lang| × |distinct n_chars|), never on a per-row sort
  *     or a collected list.
  */
object PipelineOps {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Longest run in a SORTED string array — i.e. the count of the most
    * frequent element — as one fold over the row (no explode, no shuffle).
    * The per-row cost is O(L log L) for the sort; the alternative
    * (explode → groupBy(doc, token) → max) shuffles the whole token stream,
    * which at 100 TB is the single most expensive exchange a corpus-stats
    * job can make. */
  private def maxRunSorted(arr: String): Column = expr(
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', '', 'run', CAST(0 AS BIGINT),
       |               'best', CAST(0 AS BIGINT)),
       |  (st, x) -> named_struct(
       |    'prev', x,
       |    'run',  IF(x = st.prev, st.run + 1, CAST(1 AS BIGINT)),
       |    'best', GREATEST(st.best,
       |              IF(x = st.prev, st.run + 1, CAST(1 AS BIGINT)))),
       |  st -> st.best)""".stripMargin)

  val defs: Map[String, Q] = Map(

    // Gopher-style repetition signals (Rae et al. 2021 §A1.1 shape): the
    // most-frequent-token and most-frequent-bigram counts plus the
    // duplicate-token fraction, each computed INSIDE the row via a sorted
    // fold — the whole query is a narrow map over the corpus scan.
    "q82_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("toks", TextOps.tokensCol)
        .filter(size(col("toks")) > 0)
        .withColumn("bigrams",
          when(size(col("toks")) >= 2,
            zip_with(
              slice(col("toks"), lit(1), size(col("toks")) - 1),
              slice(col("toks"), lit(2), size(col("toks")) - 1),
              (a, b) => concat(a, lit(" "), b)))
            .otherwise(array().cast("array<string>")))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_types"),
          maxRunSorted("toks").as("top_token_count"),
          maxRunSorted("bigrams").as("top_bigram_count"),
          ((size(col("toks")) - size(array_distinct(col("toks"))))
            .cast("double") / size(col("toks")).cast("double"))
            .as("dup_token_frac"))
    }),

    // Per-source (domain) corpus statistics — the mix report every corpus
    // build starts from. One short-key shuffle (|sources| rows out).
    "q83_domain_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("n_toks", TextOps.tokenCountCol.cast("long"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          sum("n_toks").as("total_tokens"),
          (sum("n_toks").cast("double") / count(lit(1)).cast("double"))
            .as("avg_tokens"),
          countDistinct("lang").as("n_langs"))
    }),

    // Benchmark-contamination screen: documents sharing a word 4-gram with
    // the held-out set (source = src0 stands in for an eval benchmark).
    // The benchmark's distinct grams are the SMALL side — broadcast — so
    // the corpus-side plan is scan → explode → broadcast-semi-hash-join →
    // one agg on doc_id; the corpus never repartitions on gram. At real
    // scale the benchmark gram set stays ≪ executor memory (eval sets are
    // MBs, corpora are TBs), which is exactly what makes this shape hold.
    // Both sides join on the SpanHashes md5 of the gram (one-pass native
    // kernel, 16-byte key) — matches, and therefore n_hits, are identical
    // to joining on the gram string, which is what the oracle states.
    "q84_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        graft.functions.Kernels.spanHashes(col("text"), 4).as("grams"))
      val bench = d.filter(col("source") === "src0")
        .select(explode(col("grams")).as("gr")).distinct()
      d.filter(col("source") =!= "src0")
        .select(col("doc_id"), explode(col("grams")).as("gr"))
        .join(broadcast(bench), "gr")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
    }),

    // Exact per-language length percentiles from the VALUE HISTOGRAM:
    // groupBy(lang, n_chars) first (map-side combined, output cardinality
    // = |lang|×|lengths|, tiny), then a cumulative window over the
    // histogram picks p50/p90 with pure integer predicates (2·cum ≥ total).
    // This is the scalable exact-percentile shape — the naive alternatives
    // (global sort, or collect_list per group) both break at corpus scale.
    "q85_length_percentiles" -> ((s, dir) => {
      val h = t(s, dir, "documents")
        .groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wtot = Window.partitionBy("lang")
      h.withColumn("cum", sum("c").over(wcum))
        .withColumn("total", sum("c").over(wtot))
        .groupBy("lang")
        .agg(
          max("total").cast("long").as("n_docs"),
          min(when(col("cum") * 2 >= col("total"), col("n_chars")))
            .as("p50_chars"),
          min(when(col("cum") * 10 >= col("total") * 9, col("n_chars")))
            .as("p90_chars"))
    }),

    // Deterministic hash-sample quantiles — the O(k)-state percentile
    // path for CONTINUOUS/high-cardinality metrics, where q85's exact
    // value-histogram (cardinality = |distinct values|) itself becomes
    // corpus-sized. Bottom-k-by-md5 sampling reuses the kmv_minima
    // native aggregate with the payload riding behind the hash
    // (md5(doc_id)||'|'||value): the k hash-smallest strings are a
    // merge-order-free, rerun-deterministic uniform sample — no RNG, no
    // engine sampler, both engines regenerate the identical set — and
    // the reported numbers are the exact nearest-rank quantiles OF THE
    // SAMPLE (rank = ceil(p·n/100) in pure integer arithmetic), so the
    // estimate is hash-gated bit-for-bit. Scale shape: ONE aggregate
    // exchange carrying ≤k strings per partition; the rank window runs
    // on the ≤k-row sample (a bounded model artifact, not the corpus).
    "q217_quantile_sample" -> ((s, dir) => {
      import s.implicits._
      val k = 256
      val keyed = t(s, dir, "documents").select(
        concat(md5(col("doc_id").cast("string")), lit("|"),
          lpad(col("n_chars").cast("string"), 10, "0")).as("kv"))
      val sample = keyed
        .agg(graft.functions.KmvMinima(col("kv"), k).as("mins"))
        .select(size(col("mins")).as("n"), explode(col("mins")).as("kv"))
        .select(col("n"), substring(col("kv"), 34, 10).cast("long").as("v"))
      val ranked = sample.withColumn("rn",
        row_number().over(Window.orderBy("v")))
      ranked.join(broadcast(Seq(25, 50, 75, 90, 99).toDF("p")),
          col("rn") === expr("(p * CAST(n AS BIGINT) + 99) div 100"))
        .select(col("p"), col("v").as("value"))
    }),

    // GROUPED hash-sample quantiles — q217 generalized to the per-key
    // reporting shape (the q83/q85 per-language report) that the exact
    // value-histogram path can't scale to when the metric is continuous:
    // kmv_minima is a true partial-aggregating GROUP BY aggregate, so
    // ONE exchange carries ≤k strings per (partition, lang) and every
    // rank window after it runs on a ≤k-row per-group sample (a bounded
    // model artifact per key, never the corpus). Same determinism story
    // as q217: bottom-k-by-md5 with the value riding behind the hash —
    // no RNG, merge-order-free, bit-identical in both engines, so the
    // grouped quantile ESTIMATES are hash-gated exactly.
    "q221_grouped_quantiles" -> ((s, dir) => {
      import s.implicits._
      val k = 128
      val keyed = t(s, dir, "documents").select(col("lang"),
        concat(md5(col("doc_id").cast("string")), lit("|"),
          lpad(col("n_chars").cast("string"), 10, "0")).as("kv"))
      val sample = keyed.groupBy("lang")
        .agg(graft.functions.KmvMinima(col("kv"), k).as("mins"))
        .select(col("lang"), size(col("mins")).as("n"),
          explode(col("mins")).as("kv"))
        .select(col("lang"), col("n"),
          substring(col("kv"), 34, 10).cast("long").as("v"))
      val ranked = sample.withColumn("rn",
        row_number().over(Window.partitionBy("lang").orderBy("v")))
      ranked.join(broadcast(Seq(50, 90, 99).toDF("p")),
          col("rn") === expr("(p * CAST(n AS BIGINT) + 99) div 100"))
        .select(col("lang"), col("p"), col("v").as("value"))
    }),

    // Temperature-weighted corpus mixing: per-source acceptance rate
    // ∝ sqrt(source mass) (α = 0.5 down-weighting of huge sources, the
    // standard multilingual/multi-domain rebalancing), applied as a
    // DETERMINISTIC md5 predicate per doc — rerunnable, no RNG state, no
    // shuffle of the corpus; the 20-row rate table broadcasts. sqrt (IEEE
    // correctly-rounded) + one division keep the rate bit-identical to the
    // DuckDB oracle; the comparison happens in integer hex space.
    "q86_mix_weighted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = docs.groupBy("source")
        .agg(sqrt(sum("n_chars").cast("double")).as("wt"))
      val maxw = w.agg(max("wt").as("maxwt"))
      val rates = w.crossJoin(broadcast(maxw))
        .withColumn("rate", col("wt") / col("maxwt"))
        .withColumn("thresh",
          upper(lpad(hex(least(floor(col("rate") * 65536), lit(65535L))
            .cast("long")), 4, "0")))
        .select("source", "thresh")
      docs.join(broadcast(rates), "source")
        .filter(upper(substring(md5(col("doc_id").cast("string")), 1, 4))
          < col("thresh"))
        .select("doc_id", "source")
    }),

    // Int8 scalar quantization of the embedding column (the storage/ANN
    // compression step): per-vector max-abs scale, codes = round(127·x/m).
    // Pure per-row arithmetic over the float array — no exchange; the
    // gate compares scalar summaries + an md5 over the full code string so
    // every code byte is checked without hashing an array type.
    "q87_vec_quantize" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .withColumn("max_abs",
          array_max(transform(col("embedding"), x => abs(x.cast("double")))))
        .filter(col("max_abs") > 0)
        .withColumn("codes", expr(
          "transform(embedding, x -> " +
            "CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS INT))"))
        .select(
          col("vec_id"),
          col("max_abs"),
          size(col("codes")).cast("long").as("n_dims"),
          expr("aggregate(codes, CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("code_sum"),
          array_min(col("codes")).cast("long").as("code_min"),
          array_max(col("codes")).cast("long").as("code_max"),
          md5(array_join(transform(col("codes"), c => c.cast("string")), ","))
            .as("code_hash"))
    }),

    // RAC multi-thread redo ordering (reference: the per-vector `thread`
    // field, src/parser/Parser.cpp:307; redo order is guaranteed only
    // WITHIN a thread#, and the replicator serializes per-thread streams).
    // thread = hash of the session (user_id mod 4 here); the per-thread
    // sequence is a window over (ts, event_id) — partition-parallel, no
    // global sort anywhere.
    "q88_rac_threads" -> ((s, dir) => {
      val w = Window.partitionBy("thread").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("thread", pmod(col("user_id"), lit(4)).cast("long"))
        .select(col("event_id"), col("thread"),
          row_number().over(w).cast("long").as("thread_seq"))
    }),

    // Checkpoint-state summary (reference: Metadata::checkpoint writes
    // scn/seq/offset + min-pending-XID, src/metadata/Metadata.cpp:390-407;
    // TransactionBuffer::checkpoint picks the resume sequence as the min
    // start of any UNCOMMITTED txn, TransactionBuffer.cpp:268-280; the
    // writer's confirmed watermark is the max confirmed commit position,
    // src/writer/Writer.cpp:106-165). A txn here = one user's event run;
    // committed ⇔ its LAST event is the commit op ('purchase'). Two
    // aggregations, the second over |txns| rows → one driver-sized row.
    "q89_checkpoint_state" -> ((s, dir) => {
      val per = t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          min("event_id").as("first_scn"),
          max(struct(col("event_id"), col("event_type"))).as("last"),
          max(when(col("event_type") === "purchase", col("event_id")))
            .as("last_commit"))
        .withColumn("committed",
          (col("last.event_type") === "purchase").cast("long"))
      per.agg(
        count(lit(1)).cast("long").as("n_txns"),
        sum("committed").cast("long").as("n_committed"),
        (count(lit(1)) - sum("committed")).cast("long").as("n_open"),
        coalesce(min(when(col("committed") === 0, col("first_scn"))),
          lit(-1L)).cast("long").as("resume_scn"),
        coalesce(max(when(col("committed") === 1, col("last_commit"))),
          lit(-1L)).cast("long").as("confirmed_scn"))
    }),

    // Consecutive-repeat collapse (the run-length normalization stage of
    // repetition cleaning — "the the the" → "the"): collapsed tokens are
    // rebuilt INSIDE the row from the shifted-slice zip (the q30/q82
    // discipline), so the whole query is a narrow map over the scan —
    // zero exchange at any corpus size. The md5 of the collapsed text
    // pins the actual content, not just the counts.
    "q97_collapse_repeats" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("toks", TextOps.tokensCol)
        .filter(size(col("toks")) > 0)
        .withColumn("collapsed", concat(
          slice(col("toks"), 1, 1),
          transform(
            filter(
              zip_with(
                slice(col("toks"), lit(1), size(col("toks")) - 1),
                slice(col("toks"), lit(2), size(col("toks")) - 1),
                (a, b) => struct(a.as("p"), b.as("c"))),
              z => z.getField("c") =!= z.getField("p")),
            z => z.getField("c"))))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(col("collapsed")).cast("long").as("n_collapsed"),
          md5(array_join(col("collapsed"), " ")).as("collapsed_hash"))
    }),

    // Per-language vocabulary: document frequency per (lang, token), top 5
    // tokens per language. Shape: distinct-per-doc INSIDE the row, one
    // map-side-combined (lang, token) shuffle whose output is the VOCAB
    // (≪ corpus), then the top-k window runs over vocab rows only — the
    // corpus never enters a window.
    "q98_vocab_topk" -> ((s, dir) => {
      val w = Window.partitionBy("lang")
        .orderBy(col("df").desc, col("token"))
      t(s, dir, "documents")
        .select(col("lang"),
          explode(array_distinct(TextOps.tokensCol)).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("df"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("lang", "token", "df", "rank")
    }),

    // Composite quality filter (C4/Gopher rule stack): length bounds, mean
    // word length, duplicate-token fraction, stopword presence — FIRST
    // matching rule wins, like a real curation pipeline's drop-reason
    // accounting. Every signal folds inside the row; the query is a pure
    // map (the per-reason counts downstream would be one tiny agg).
    "q99_quality_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("toks", TextOps.tokensCol)
        .filter(size(col("toks")) > 0)
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("mean_len",
          expr("aggregate(toks, CAST(0 AS BIGINT), (a, x) -> a + length(x))")
            .cast("double") / col("n_tok").cast("double"))
        .withColumn("dup_frac",
          (col("n_tok") - size(array_distinct(col("toks")))).cast("double") /
            col("n_tok").cast("double"))
        .withColumn("stop_frac",
          size(filter(col("toks"), x => x.isin("the", "a"))).cast("double") /
            col("n_tok").cast("double"))
        .select(col("doc_id"), col("n_tok"), col("mean_len"),
          col("dup_frac"), col("stop_frac"),
          when(col("n_tok") < 10, "too_short")
            .when(col("n_tok") > 400, "too_long")
            .when(col("mean_len") < 2.0 || col("mean_len") > 12.0,
              "word_length")
            .when(col("dup_frac") > 0.9, "repetitive")
            .when(col("stop_frac") < 0.01, "no_stopwords")
            .otherwise("keep").as("verdict"))
    }),

    // Duplicated-substring-span profile (Lee et al. 2021, "Deduplicating
    // Training Data Makes Language Models Better" §3 ExactSubstr shape):
    // every 8-token span is hashed; a span present in ≥2 documents is a
    // duplicated span, and each doc reports how much of it is duplicated
    // elsewhere. Spans are DISTINCT per doc, so the per-span count is a
    // document frequency. Two short-key exchanges: the window on the span
    // hash (count docs per span — no join back to the corpus) and the
    // final per-doc agg. At 100 TB the md5 key narrows to xxhash64 and
    // the suffix side is the only thing that ever shuffles — text stays
    // at the scan: span hashing is the one-pass native SpanHashes kernel
    // (distinct md5s emitted straight off the token byte ranges; the span
    // string is never materialized), and the only repartition is the gated
    // local Tables.spread (a no-op under cluster conf).
    "q90_dup_spans" -> ((s, dir) => {
      val exploded = Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          explode(graft.functions.Kernels.spanHashes(col("text"), 8))
            .as("h"))
      exploded
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_spans"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .withColumn("dup_frac",
          col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
    }),

    // The WHOLE curation+selection pipeline as ONE gated artifact: exact
    // dedup → LSH near-dup apply → in-row quality rules → DSIR importance
    // weights → Gumbel top-k resample → deterministic shard order, pinned
    // by the per-shard training manifest (shard, n_docs, position-ordered
    // doc list). Every stage IS an already-gated operator (q25/q80/q99
    // family/q120/q125/q121) — this query pins their COMPOSITION: stage
    // boundaries, filter order, and the exact document set and order a
    // training run would consume. Scale shape is inherited stage by
    // stage: content-hash agg + id join (exact), the capped band plan
    // (near-dup), zero-exchange row filters (quality), a 256-bucket
    // dimension artifact + TakeOrdered top-k (DSIR sample), and the
    // manifest aggregates ≤k sampled rows on the shard key.
    "q136_curation_e2e" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val docs = t(s, dir, "documents")
      // 1. exact dedup: first-seen (min doc_id) per content hash — the
      // q25 rule VERBATIM (md5 over lower(text)), so stage 1 really is
      // the gated operator, not a near-copy of it.
      // localCheckpoint (the LshIndex.pairs discipline): every later
      // stage — band build, anti-join left side, quality, both DSIR
      // passes — consumes `exact`; without the pin each would re-run the
      // scan + hash-agg + join chain.
      val exact = docs.join(
        docs.groupBy(md5(lower(col("text"))).as("h"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
        "doc_id").localCheckpoint()
      // 2. near-dup apply: verified pairs → components → drop members
      val pairs = graft.operators.LshIndex.pairs(exact,
        graft.operators.LshIndex.SetMinHash)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      val deduped =
        graft.operators.ConnectedComponents.keepMinId(exact, pairs, "doc_id")
      // 3. quality rules, in-row (token bounds + mean token length);
      // pinned once — the DSIR stage scans its input twice (bucket
      // counts, then scoring)
      val quality = deduped
        .withColumn("n_tokens", TextOps.tokenCountCol)
        .filter(col("n_tokens").between(5, 100000) &&
          (col("n_chars") + 1).cast("double") /
            col("n_tokens").cast("double") < 40.0)
        .localCheckpoint()
      // 4. DSIR weights → Gumbel top-k on the survivors
      val sampled = SelectionOps.gumbelTopKOf(
        SelectionOps.dsirWeightsOf(quality))
      // 5. shard + in-shard order (the gated q121 rule, via its factored
      // operator) → per-shard manifest
      TrainOps.trainOrderOf(sampled)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          array_join(
            sort_array(collect_list(struct(col("pos"), col("doc_id"))))
              .getField("doc_id").cast("array<string>"), ",")
            .as("doc_order"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q82_repetition" ->
      s"""WITH base AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |tc AS (
         |  SELECT doc_id, t, count(*) AS c FROM (
         |    SELECT doc_id, unnest(toks) AS t FROM base) GROUP BY doc_id, t),
         |t1 AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |         CAST(count(*) AS BIGINT) AS n_types,
         |         CAST(max(c) AS BIGINT) AS top_token_count
         |  FROM tc GROUP BY doc_id),
         |bg AS (
         |  SELECT doc_id, g, count(*) AS c FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |      THEN list_transform(range(1, len(toks)),
         |             i -> toks[i] || ' ' || toks[i+1])
         |      ELSE [] END) AS g FROM base) GROUP BY doc_id, g),
         |t2 AS (
         |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_count
         |  FROM bg GROUP BY doc_id)
         |SELECT t1.doc_id, n_tokens, n_types, top_token_count,
         |       coalesce(t2.top_bigram_count, 0) AS top_bigram_count,
         |       CAST(n_tokens - n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |         AS dup_token_frac
         |FROM t1 LEFT JOIN t2 ON t1.doc_id = t2.doc_id""".stripMargin,

    "q83_domain_stats" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(len($sqlToks)) AS BIGINT) AS total_tokens,
         |  CAST(sum(len($sqlToks)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS avg_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM documents GROUP BY source""".stripMargin,

    "q84_contamination" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, $sqlToks AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, source, unnest(list_distinct(
         |    CASE WHEN len(toks) >= 4
         |    THEN list_transform(range(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+3], ' '))
         |    ELSE [] END)) AS gr FROM base),
         |b AS (SELECT DISTINCT gr FROM g WHERE source = 'src0')
         |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM g JOIN b USING (gr) WHERE g.source <> 'src0'
         |GROUP BY g.doc_id""".stripMargin,

    // the same bottom-k-by-md5 set via ORDER BY kv LIMIT k, same integer
    // nearest-rank rule — bit-identical to the kmv_minima sample
    "q217_quantile_sample" ->
      """WITH s AS (
        |  SELECT md5(CAST(doc_id AS VARCHAR)) || '|' ||
        |    lpad(CAST(n_chars AS VARCHAR), 10, '0') AS kv
        |  FROM documents ORDER BY kv LIMIT 256),
        |v AS (SELECT CAST(substr(kv, 34, 10) AS BIGINT) AS v FROM s),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
        |n AS (SELECT count(*) AS n FROM v)
        |SELECT ps.p, r.v AS value
        |FROM (VALUES (25), (50), (75), (90), (99)) ps(p), r, n
        |WHERE r.rn = (ps.p * n.n + 99) // 100""".stripMargin,

    // the grouped variant: per-lang bottom-k via a partitioned
    // row_number, same integer nearest-rank rule per group
    "q221_grouped_quantiles" ->
      """WITH s AS (
        |  SELECT lang, kv,
        |    row_number() OVER (PARTITION BY lang ORDER BY kv) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM (SELECT lang, md5(CAST(doc_id AS VARCHAR)) || '|' ||
        |      lpad(CAST(n_chars AS VARCHAR), 10, '0') AS kv
        |    FROM documents)),
        |m AS (SELECT lang, kv, least(cnt, 128) AS n FROM s WHERE rk <= 128),
        |r AS (SELECT lang, n, CAST(substr(kv, 34, 10) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY substr(kv, 34, 10)) AS rn
        |  FROM m)
        |SELECT lang, ps.p, r.v AS value
        |FROM r, (VALUES (50), (90), (99)) ps(p)
        |WHERE r.rn = (ps.p * r.n + 99) // 100""".stripMargin,

    "q85_length_percentiles" ->
      """WITH h AS (
        |  SELECT lang, n_chars, count(*) AS c FROM documents
        |  GROUP BY lang, n_chars),
        |cum AS (
        |  SELECT lang, n_chars, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS total FROM h)
        |SELECT lang, CAST(max(total) AS BIGINT) AS n_docs,
        |  min(CASE WHEN 2 * cum >= total THEN n_chars END) AS p50_chars,
        |  min(CASE WHEN 10 * cum >= 9 * total THEN n_chars END) AS p90_chars
        |FROM cum GROUP BY lang""".stripMargin,

    "q86_mix_weighted" ->
      """WITH w AS (
        |  SELECT source, sqrt(CAST(sum(n_chars) AS DOUBLE)) AS wt
        |  FROM documents GROUP BY source),
        |r AS (SELECT source, wt / (SELECT max(wt) FROM w) AS rate FROM w),
        |t AS (SELECT source,
        |  upper(lpad(to_hex(CAST(least(floor(rate * 65536), 65535) AS BIGINT)),
        |    4, '0')) AS thresh FROM r)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN t ON d.source = t.source
        |WHERE upper(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) < t.thresh"""
        .stripMargin,

    "q87_vec_quantize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |      AS max_abs,
        |    embedding FROM embeddings),
        |c AS (
        |  SELECT vec_id, max_abs,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS INTEGER))
        |      AS codes
        |  FROM q WHERE max_abs > 0)
        |SELECT vec_id, max_abs,
        |  CAST(len(codes) AS BIGINT) AS n_dims,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  CAST(list_min(codes) AS BIGINT) AS code_min,
        |  CAST(list_max(codes) AS BIGINT) AS code_max,
        |  md5(array_to_string(codes, ',')) AS code_hash
        |FROM c""".stripMargin,

    "q88_rac_threads" ->
      """SELECT event_id, CAST(user_id % 4 AS BIGINT) AS thread,
        |  CAST(row_number() OVER (PARTITION BY user_id % 4
        |    ORDER BY ts, event_id) AS BIGINT) AS thread_seq
        |FROM events""".stripMargin,

    "q89_checkpoint_state" ->
      """WITH t AS (
        |  SELECT user_id, min(event_id) AS first_scn,
        |    arg_max(event_type, event_id) AS last_type,
        |    max(CASE WHEN event_type = 'purchase' THEN event_id END)
        |      AS last_commit
        |  FROM events GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_txns,
        |  CAST(sum(CASE WHEN last_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_committed,
        |  CAST(sum(CASE WHEN last_type = 'purchase' THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_open,
        |  CAST(coalesce(min(CASE WHEN last_type <> 'purchase'
        |    THEN first_scn END), -1) AS BIGINT) AS resume_scn,
        |  CAST(coalesce(max(CASE WHEN last_type = 'purchase'
        |    THEN last_commit END), -1) AS BIGINT) AS confirmed_scn
        |FROM t""".stripMargin,

    "q97_collapse_repeats" ->
      s"""WITH base AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    list_concat(toks[1:1],
         |      list_transform(
         |        list_filter(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
         |          p -> p[2] <> p[1]),
         |        p -> p[2])) AS collapsed
         |  FROM base WHERE len(toks) > 0)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(len(collapsed) AS BIGINT) AS n_collapsed,
         |  md5(array_to_string(collapsed, ' ')) AS collapsed_hash
         |FROM c""".stripMargin,

    "q98_vocab_topk" ->
      s"""WITH v AS (
         |  SELECT lang, unnest(list_distinct($sqlToks)) AS token
         |  FROM documents),
         |df AS (SELECT lang, token, count(*) AS df FROM v GROUP BY 1, 2),
         |r AS (SELECT lang, token, CAST(df AS BIGINT) AS df,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY df DESC, token) AS BIGINT) AS rank FROM df)
         |SELECT lang, token, df, rank FROM r WHERE rank <= 5""".stripMargin,

    "q99_quality_filter" ->
      s"""WITH base AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |sig AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
         |      / CAST(len(toks) AS DOUBLE) AS mean_len,
         |    CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
         |      / CAST(len(toks) AS DOUBLE) AS dup_frac,
         |    CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
         |      / CAST(len(toks) AS DOUBLE) AS stop_frac
         |  FROM base WHERE len(toks) > 0)
         |SELECT doc_id, n_tok, mean_len, dup_frac, stop_frac,
         |  CASE WHEN n_tok < 10 THEN 'too_short'
         |       WHEN n_tok > 400 THEN 'too_long'
         |       WHEN mean_len < 2.0 OR mean_len > 12.0 THEN 'word_length'
         |       WHEN dup_frac > 0.9 THEN 'repetitive'
         |       WHEN stop_frac < 0.01 THEN 'no_stopwords'
         |       ELSE 'keep' END AS verdict
         |FROM sig""".stripMargin,

    "q90_dup_spans" ->
      s"""WITH base AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |sp AS (
         |  SELECT doc_id, md5(unnest(list_distinct(
         |    CASE WHEN len(toks) >= 8
         |    THEN list_transform(range(1, len(toks) - 6),
         |           i -> array_to_string(toks[i:i+7], ' '))
         |    ELSE [] END))) AS h FROM base),
         |c AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS n_docs
         |      FROM sp)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_spans,
         |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS dup_frac
         |FROM c GROUP BY doc_id""".stripMargin,

    // Stage-for-stage restatement of the Spark pipeline: the same LSH
    // chain (TextOps.sqlLshClusterChain) over the exact-deduped set, the
    // same quality predicate, the same DSIR+Gumbel chain over the
    // survivors, the same shard/pos arithmetic — composed as CTEs.
    "q136_curation_e2e" ->
      s"""WITH RECURSIVE kept AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(lower(text))),
         |exact AS (
         |  SELECT d.* FROM documents d JOIN kept USING (doc_id)),
         |${TextOps.sqlLshClusterChain("exact")},
         |dedup AS (
         |  SELECT e.* FROM exact e
         |  LEFT JOIN clus c ON c.doc_id = e.doc_id AND c.doc_id <> c.cluster_id
         |  WHERE c.doc_id IS NULL),
         |qual AS (
         |  SELECT doc_id, source, text FROM dedup
         |  WHERE len($sqlToks) BETWEEN 5 AND 100000
         |    AND CAST(n_chars + 1 AS DOUBLE) / len($sqlToks) < 40.0),
         |samp AS (
         |  SELECT * FROM (
         |    ${SelectionOps.oracleGumbelFrom(SelectionOps.oracleDsirFrom("qual"))})),
         |p AS (${TrainOps.sqlTrainOrderFrom("samp")})
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)
         |    AS doc_order
         |FROM p GROUP BY shard""".stripMargin
  )
}
