package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Shuffle-budget regression net: pins the number of shuffle Exchanges in
  * the CLUSTER-shaped physical plan (graft.spreadLocal=false, so the
  * local-parallelism repartitions are out of the picture) for EVERY
  * SparkEntry query. A new Exchange in one of these plans is exactly the
  * "shuffle creep" that stays invisible at sf0.001 and becomes the
  * bottleneck at 100 TB - this spec makes it a test failure with a
  * diff-able number instead of a slow bench three rounds later.
  *
  * Budgets are the CURRENT measured counts (static plan nodes, reused
  * subtrees included; `GRAFT_CONF=graft.spreadLocal=false sbt "runMain
  * graft.Explain"` prints each in its query's header), not aspirations:
  * tightening one is a win worth a commit; loosening one needs a written
  * scale argument. Coverage
  * is TOTAL by construction - the completeness test fails on any
  * SparkEntry.queries key without a budget row (the r6 lesson: q133-q135
  * merged without one and a 6x replan shipped), and on any stale row.
  *
  * Two measurement caveats, both conservative: (a) queries that
  * materialize driver-side dimension artifacts (q109/q115/q119/q123...)
  * run those collect jobs during plan CONSTRUCTION - the budget pins the
  * final plan's exchanges; the artifact jobs are separately bounded by
  * design (each is a scalar, a fixed-size model, or a semi-joined set).
  * (b) localCheckpoint-based iteration (q46's propagation) executes
  * during construction too, so its static count covers the consuming
  * plan - the per-round exchanges are pinned by ConnectedComponentsSpec.
  */
class PlanBudgetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  // (query, max shuffle exchanges in the cluster-shaped plan)
  private val budgets: Map[String, Int] = Map(
    "q01_scan_project"           -> 0,
    "q02_agg_counters"           -> 2,
    "q03_filter_regex"           -> 0,
    "q04_condition_filter"       -> 0,
    "q05_skip_xid"               -> 0,
    "q06_dict_join"              -> 1,
    "q07_multi_join"             -> 1,
    "q08_txn_assembly"           -> 2, // xid exchange + commit-order sort
    "q09_order_within"           -> 1,
    "q100_ddl_counters"          -> 2,
    "q101_bloom_incremental"     -> 2, // bloom agg + verified-new agg
    "q102_xml_decode"            -> 0,
    "q103_adaptive_schema"       -> 0,
    "q137_charset_decode"        -> 0, // broadcast dict join + in-row decode
    "q139_clob_charset"          -> 1, // the q35 lobId exchange + in-row decode
    "q104_ann_pq"                -> 3, // top-k + two 32-row codebook packs
    "q105_bigram_novelty"        -> 1, // bigram df only (scoring is in-row)
    "q106_distinct_sketch"       -> 2, // KMV agg + the countDistinct expand
    "q107_zorder_key"            -> 0, // pure per-row arithmetic
    "q108_incremental_neardup"   -> 1,
    "q109_bm25_topk"             -> 1, // per-query top-k; df semi-joined BELOW its agg (r7)
    "q10_partial_rollback"       -> 1,
    "q110_balanced_sample"       -> 5, // cluster sizes + per-cluster quota sample
    "q111_token_entropy"         -> 0,
    "q112_url_canon"             -> 1, // groupBy on the SHORT canonical key
    "q113_mojibake_fix"          -> 0,
    "q114_boilerplate_strip"     -> 0,
    "q115_paragraph_dedup"       -> 0, // freq set is a collect job; apply in-row
    "q116_quality_classifier"    -> 0, // hashed-weight fold inside the row
    "q117_snapshot_delta"        -> 3, // 2 join-side + status agg (0+1 bucketed)
    "q118_chunk_overlap"         -> 0, // in-row generator
    "q119_lm_perplexity"         -> 0, // LM is a collect artifact; scoring in-row
    "q182_kn_perplexity"         -> 0, // same artifact shape as q119; KN maps in-row
    "q183_oph_minhash"           -> 0, // scan → one-pass OPH kernel → project
    "q184_weighted_minhash"      -> 0, // scan → tf-weighted expansion + minhash in-row → project
    "q185_weighted_pairs"        -> 3, // q29 shape: band explode + capped self-join + dedup
    "q186_weighted_dedup_apply"  -> 2, // q80 shape: pairs + anti-join; propagation at construction (q46 caveat)
    "q191_weighted_increment"    -> 1, // increment band explode + candidate dedup; weighted index side reads bucketed
    "q193_ivf_refined"           -> 1, // q143 shape (increment cell exchange); the Lloyd round runs at build time, k·d cells
    "q194_langid_trigram"        -> 4, // profile train: (lang,tri) agg + lang window (model rows are top-256·|langs| bounded); apply: map-side-combined (doc,lang) partials + doc argmax
    "q195_zipf_fit"              -> 3, // one map-side-combined vocab agg + the 256-row window's single-partition gather + the 1-row fit/tot scalars
    "q196_pagerank"              -> 10, // the PageRank floor: ONE map-side-combined agg exchange per fixed iteration; the checkpointed edge set broadcasts/reuses across all 10 joins, and the graph build runs at construction
    "q197_unicode_norm"          -> 0, // codegen'd NFC/fold kernels: a narrow map on the scan
    "q198_trustrank"             -> 10, // q196's shape: one agg exchange per fixed iteration; teleport rides the self-edges' tel column
    "q199_quality_lr"            -> 26, // one 1-row gradient-aggregate exchange per GD round (25) + the final scoring agg; each partial is 6 longs, map-side combined
    "q200_image_dhash"           -> 0, // encode + decode + hash ride one mapPartitions pipeline each; payloads never shuffle
    "q201_image_neardup"         -> 1, // ONE exchange of 16-char band keys for the self-join; decode+hash stays in the zero-exchange map
    "q202_audio_fingerprint"     -> 0, // encode + decode + energy hash ride one mapPartitions pipeline each; payloads never shuffle
    "q187_mm_wav_decode"         -> 0, // q177 shape: mapPartitions encode → mapPartitions decode; payloads never shuffle
    "q192_mm_mp4_meta"           -> 0, // mapPartitions encode → in-row Column atom walk; payloads never shuffle
    "q188_leakage_split"         -> 2, // q46 pairs at construction (q46 caveat) + cluster-label join back; split md5 is in-row
    "q189_vecdup_batch"          -> 2, // q143's increment cell exchange + the is_dup join back; index side reads bucketed
    "q190_vecdup_recall"         -> 3, // IVF side (1, q143 shape) + brute max-struct agg + verdict join; history scans once, never shuffles
    "q11_explode_multirow"       -> 1,
    "q120_dsir_weight"           -> 0, // 256-bucket model collect; fold in-row
    "q121_train_order"           -> 1, // ONE hash exchange; per-shard local sort
    "q122_ann_recall"            -> 4, // q31 (1) + q43 (3); compare join broadcasts
    "q123_bpe_learn"             -> 0, // learned merge table is a driver artifact
    "q124_threshold_sweep"       -> 1, // (threshold, partials) agg on 9 keys
    "q125_importance_resample"   -> 0, // TakeOrdered top-k; rank window post-limit
    "q126_bpe_encode"            -> 1, // vocab broadcasts back; ONE doc agg
    "q127_blocklist_filter"      -> 0, // suffix set + overlap test in-row
    "q128_neardup_rate"          -> 6, // composes q29 pairs + concentration aggs
    "q129_snapshot_drift"        -> 0,
    "q12_changed_only"           -> 1,
    "q130_dedup_sensitivity"     -> 4,
    "q138_containment"           -> 2, // (h) bucket agg + (pair) agg
    "q133_inverted_index"        -> 1, // ONE tok exchange; KmvMinima bounds postings (r7: window gone)
    "q134_vocab_coverage"        -> 2, // vocab distinct + source agg (hint dropped r7: AQE decides)
    "q140_decontamination"       -> 2, // bench-shingle distinct (bounded) + per-doc overlap agg
    "q141_sequence_packing"      -> 1, // ONE shard hash exchange; per-shard local sort-window
    "q142_unigram_tokenizer"     -> 0, // vocab is a collect artifact; encode folds in-row
    "q143_ivf_increment"         -> 1, // increment's cell exchange; bucketed index side reads free
    "q212_weighted_index_build"  -> 0, // build (signatures + two bucketed commits) runs at construction; returned frame = bare bands-table read-back
    "q213_rtbf_match"            -> 1, // q143's increment cell exchange over the post-remove+compact index; rewrite runs at construction
    "q214_ivf_index_build"       -> 0, // build (seed TakeOrdered + bucketed cells commit) runs at construction; returned frame = bare cells-table read-back
    "q215_ivf_rebuild"           -> 1, // q143's increment cell exchange over the autoK-rebuilt index; build/append/rebuild run at construction
    "q216_ivfpq_match"           -> 1, // STORED codes (r15): bucketed pqcodes read is exchange-free, delta side shuffles once into the cell SMJ, min-struct top-1 partial-aggregates on the same key; was 3 with the per-query encode + rank window
    "q217_quantile_sample"       -> 2, // ONE kmv agg exchange (<=k strings/partition) + the rank window over the <=256-row sample (bounded model artifact, not the corpus)
    "q218_ivfpq_recall"          -> 3, // q216's one + exact in-cell truth (cell join + min-struct agg) + brute global truth (q31 shape: history scans once vs the broadcast delta, min-struct agg); verdict joins ride the same keys
    "q220_pq_attach"             -> 0, // attach (residual scan + codebook train + bucketed codes commit) runs at construction; returned frame = bare pqcodes read-back
    "q221_grouped_quantiles"     -> 1, // q217 grouped: ONE kmv groupBy(lang) exchange; the per-lang rank window reuses the lang clustering over <=k-row samples
    "q222_clustered_recall"      -> 3, // q218's shape over the md5-clustered fixture (index+PQ build at construction)
    "q225_multiprobe_adc"        -> 1, // q216's plan with the query side exploded ×2 in-row over its top-2 cells — same one delta-side exchange, zero index-side
    "q228_ivfpq_topk"            -> 1, // q225's scores + the rank window on the SAME new_id key — short (new_id, old_id, 4 ints) rows only; window clusters on the exchange already there
    "q229_ivfpq_rerank"          -> 1, // two-stage serve: q228's one exchange; the shortlist's (cell, old_id) lookup rides the bucketed cells partitioning and the rerank window reuses the new_id clustering
    "q230_filtered_topk"         -> 1, // label-filtered ADC: codes⋈meta rides the shared cell bucketing, the query side (dtable + labels) broadcasts explicitly, one exchange for the rank window
    "q232_sq8_attach"            -> 0, // stored-SQ-codes read-back: a bare bucketed scan + in-row md5 (the attach's own jobs are its gated cost, not this frame's plan — the q220 accounting)
    "q233_sq8_topk"              -> 1, // SQ8 serve: byte codes cross the probe join against the broadcast query side (qv+book packed in-row), one exchange for the rank window
    "q231_filtered_prefilter"    -> 1, // pre-filter branch: eligible ids from the meta scan (label pushed), cells⋈meta bucket-local, queries broadcast, one exchange for the rank window
    "q226_regime_recall"         -> 3, // q222's shape over the 64-cell regime fixture (residual arm)
    "q227_regime_raw"            -> 3, // identical, raw codes (the A/B control arm)
    "q223_multiprobe_match"      -> 1, // nProbe=2: the delta explodes x2 in-row BEFORE its one cell exchange; bucketed index read stays exchange-free; cross-cell top-1 partial-aggregates on new_id
    "q224_pq_append_match"       -> 1, // build+attach + replay-deduped IvfIndex.append at construction (anti-join vs indexed ids, materialized, then frozen-book encode + bucketed appends); serving = q216's one-exchange plan over the grown codes table
    "q144_hybrid_rrf"            -> 5, // q31 (1) + q109 (1) + fuse join/window over ≤80-row sides
    "q145_domain_split"          -> 1, // ONE domain-key exchange, map-side combined
    "q146_label_propagation"     -> 1, // vec_id exchange serves knn window + vote agg + argmax
    "q147_funnel"                -> 2, // user_id fold exchange + 1-row final agg
    "q148_retention_cohort"      -> 4, // user agg + co-partitioned join + countDistinct expand
    "q149_event_transitions"     -> 3, // user lag window + 25-key agg + prev_type norm window
    "q150_value_anomalies"       -> 1, // 5-row stats agg; join back is broadcast
    "q151_token_budget_select"   -> 1, // pid window; range exchange is behind the checkpoint
    "q152_session_stats"         -> 1, // user window; session agg reuses the user partitioning
    "q153_timeseries_gapfill"    -> 3, // bucket agg + 1-row min/max + type distinct; grid joins broadcast
    "q154_countmin_topk"         -> 3, // ONE tok agg (statically duplicated for cells + top20 consumers, AQE-reused at runtime) + 4096-cell agg over the VOCAB frame (r10: corpus tokenized once)
    "q155_pivot_hourly"          -> 2, // 24-key (hod,type) agg + pivot reshape
    "q156_cube_totals"           -> 1, // grouping-set expand stays below ONE exchange
    "q157_scd2_history"          -> 2, // xid assembly exchange + lead window reuses key order
    "q158_fuzzy_match"           -> 3, // trigram df agg + blocking join + pair distinct; verify joins AQE-sized
    "q159_ivm_refresh"           -> 2, // base agg + delta agg; full-outer merge co-partitioned on user_id
    "q160_robust_anomalies"      -> 6, // 2 histogram passes; 5 of 6 exchanges move only (type,cents) cells
    "q161_equidepth_bins"        -> 2, // histogram agg + boundary agg (cells only); assign is broadcast+in-row
    "q162_correlation"           -> 1, // six exact sums in one 5-key agg; float tail is scalar math
    "q163_session_window"        -> 1, // native session_window agg on ONE user exchange
    "q164_ab_test"               -> 2, // user conversion agg + ONE conditional both-arms agg
    "q165_replica_checksum"      -> 1, // row hashes fold in-row; one 5-key sum agg
    "q166_frequent_pairs"        -> 8, // 4 DISTINCT runtime stages (tok df + 1-row nDocs + doc_id self-join + pair agg): the ef/nDocs subtrees appear twice statically but canonicalize identically, so AQE ReusedExchange ships each once - enforced by the runtime-reuse test below
    "q167_hard_negatives"        -> 1, // anchors broadcast; cosine in-row; ONE a_id window exchange
    "q168_skew_preflight"        -> 1, // ONE user_id agg exchange; top-20 via TakeOrdered, no sort
    "q169_pmi_collocations"      -> 8, // q166 shape (4 distinct runtime stages, AQE reuse enforced below); df rides in-row so NO post-pair vocab join
    "q170_negative_sampling"     -> 3, // 1-row count agg + ONE neg_id equi-join (2 sides); hash is in-row
    "q171_asof_state"            -> 3, // q56 shape + the 1-row max-scn agg; cutoff is broadcast pre-assembly
    "q172_schema_evolve_fold"    -> 0, // rename stream is a <=100-row construction collect; feed only joins the broadcast dict
    "q174_nrc_decode"            -> 0, // q137 shape: scan -> broadcast dict join -> in-row NRC decode
    "q175_partition_resolve"     -> 0, // q06 shape: scan -> broadcast dict join (alias rows only widen the dim side)
    "q176_vendor8_decode"        -> 0, // q174 shape: scan -> broadcast dict join -> in-row vendor-page decode
    "q177_mm_png_decode"         -> 0, // scan -> mapPartitions encode -> mapPartitions decode; payloads never shuffle
    "q178_start_position"        -> 1, // start-scn filter prunes AT THE SCAN (pushed predicate), then the q10-shape xid assembly exchange
    "q179_substring_spans"       -> 2, // ONE exchange on the window hash (occurrence agg + mark join reuse it) + ONE on doc_id (span merge window; both tail groupBys ride that partitioning)
    "q180_substring_cut"         -> 2, // q179's two + the stitch left-join rides them: spans pre-fold to one array/doc, text shuffles ONCE, cut is an in-row fold
    "q181_winnowed_spans"        -> 2, // q179's shape; winnowed anchor selection is per-row CPU at the scan, adds nothing to the exchange count
    "q135_interval_join"         -> 2, // daily pre-agg + order agg; bounded daily side broadcasts (r7 replan)
    "q136_curation_e2e"          -> 0, // the Gumbel top-k is a TakeOrderedAndProject whose single output partition already satisfies the shard window and the manifest agg over its <= 100 rows; exact-dedup/LSH/quality stages pinned by localCheckpoint at construction (q46 caveat)
    "q13_codecs"                 -> 0,
    "q14_pricing_summary"        -> 1,
    "q15_shipping_priority"      -> 1,
    "q16_running_sum"            -> 1,
    "q17_sessionize"             -> 1,
    "q18_asof_lookup"            -> 1,
    "q19_distinct"               -> 1,
    "q20_anti_join"              -> 0,
    "q21_topk_per_group"         -> 1,
    "q22_text_stats"             -> 0,
    "q23_quality_score"          -> 0,
    "q24_lang_guess"             -> 0,
    "q25_dedup_exact"            -> 1, // the hash-groupBy
    "q26_ngram_jaccard"          -> 1,
    "q27_simhash"                -> 0,
    "q28_minhash_sig"            -> 0,
    "q29_minhash_pairs"          -> 3, // band explode + capped self-join + dedup
    "q30_cosine_pairs"           -> 1,
    "q31_ann_topk"               -> 1, // per-query top-k only (corpus never shuffles)
    "q32_ann_bucketed"           -> 1,
    "q33_multimodal_meta"        -> 0,
    "q34_embed_neardup"          -> 1,
    "q35_lob_assembly"           -> 1,
    "q36_skip_xid_state"         -> 2,
    "q37_mm_decode"              -> 0,
    "q38_mm_frames"              -> 0,
    "q39_schema_evolution"       -> 0,
    "q40_envelope_json"          -> 0,
    "q41_bpe_tokens"             -> 0,
    "q42_rolling_hash"           -> 0,
    "q43_ann_ivf"                -> 3, // cell join + top-k (assignment is in-row)
    "q44_salted_agg"             -> 2,
    "q45_schemaless"             -> 0,
    "q46_dedup_clusters"         -> 0, // propagation runs at construction (localCheckpoint); static plan = final anti-join
    "q47_stratified_sample"      -> 0,
    "q48_envelope_proto"         -> 0,
    "q49_windowed_rate"          -> 1,
    "q50_piece_merge"            -> 2, // xid exchange + spillable sort
    "q51_oversized_drop"         -> 2,
    "q52_number_codec"           -> 0,
    "q53_column_visibility"      -> 0,
    "q54_lob_resolve"            -> 4,
    "q55_tfidf_top_term"         -> 2, // vocab df agg + doc agg (df a JOINED frame, not a driver collect: r7)
    "q56_apply_changes"          -> 2,
    "q57_session_attrs"          -> 3,
    "q58_dsv2_source"            -> 0,
    "q59_simhash_pairs"          -> 3, // 16-bit band join, capped (r5 fix)
    "q60_set_ops"                -> 4,
    "q61_counters_rollup"        -> 1,
    "q62_ddl_messages"           -> 1,
    "q63_checkpoint_msg"         -> 4,
    "q64_ts_formats"             -> 0,
    "q65_xid_formats"            -> 0,
    "q66_interval_render"        -> 0,
    "q68_ts_tz_render"           -> 0,
    "q69_hex_formats"            -> 0,
    "q70_header_variants"        -> 0,
    "q71_txn_message_full"       -> 2,
    "q72_schema_full"            -> 0,
    "q73_dump_xid"               -> 0,
    "q74_envelope_options"       -> 0,
    "q75_db_scn_sequences"       -> 0,
    "q76_unknown_type"           -> 0,
    "q77_pii_redact"             -> 0,
    "q78_normalize"              -> 0,
    "q79_debezium"               -> 0,
    "q80_dedup_apply"            -> 2, // pairs + anti-join; corpus not reshuffled
    "q81_token_pack"             -> 1,
    "q82_repetition"             -> 0,
    "q83_domain_stats"           -> 2,
    "q84_contamination"          -> 2, // span-hash agg + verdict agg (grams broadcast)
    "q85_length_percentiles"     -> 2,
    "q86_mix_weighted"           -> 3,
    "q87_vec_quantize"           -> 0,
    "q88_rac_threads"            -> 1,
    "q89_checkpoint_state"       -> 2,
    "q90_dup_spans"              -> 2, // span-hash groupBy + span dedup
    "q91_kmeans"                 -> 4, // k*d partial-sum update (corpus-size-free)
    "q92_semantic_dedup"         -> 5, // kmeans rounds + nearest-centroid dedup agg
    "q93_token_rarity"           -> 2, // token df + doc_id agg (df broadcast back)
    "q94_db_timezone"            -> 0,
    "q95_guard_columns"          -> 0,
    "q96_experimental_types"     -> 0,
    "q203_suffix_rank"           -> 0, // prefix-doubling rounds run ONCE per (session, corpus) at construction behind localCheckpoints (suffixRanks memo, the q123 discipline; caveat b); per-round exchanges (3: doc-window lead + range repartition + pid window) pinned by SuffixArraySpec
    "q205_pca_power"             -> 0, // native vec_moments agg runs at construction (caveat a, 2145-cell model artifact, no row multiplication); final plan = bare scan + in-row fold vs the literal loading vector
    "q204_suffix_lcp"            -> 4, // over the checkpointed rank table: rep groupBy + toks join + srank+1 self-join; LCP is in-row
    "q219_suffix_build"          -> 0, // the UNCONDITIONAL build face of q203 (memo evicted first): same construction-time rounds (3 exchanges each, SuffixArraySpec), returned frame = checkpoint scan
    "q206_srp_fingerprint"       -> 0, // bare scan: the ±1 plane matrix is a 64x64 literal folded in-row; bits pack in-row
    "q207_audio_neardup"         -> 1, // decode+fp at construction (zero-exchange mapPartitions, checkpointed); band self-join is the one exchange
    "q208_wordpiece_encode"      -> 2, // q126's shape: distinct-token agg + per-doc agg; the greedy fold is in-row, pieces a collected model artifact (caveat a)
    "q209_srp_recall"            -> 2, // q122's shape: exact side carries q31's window exchange; approx side broadcasts the 10-query probe + 10-row groupBy
    "q210_embedding_drift"       -> 3, // ref-slice moments at construction (caveat a); final plan = projection scan + 16-key bin agg + 1-row totals agg, bounds/totals broadcast
    "q211_priority_dedup"        -> 7, // q80's pair/propagation shape (construction-checkpointed components) + cluster label join + max-struct keeper agg + keeper join
    "q97_collapse_repeats"       -> 0,
    "q98_vocab_topk"             -> 2,
    "q99_quality_filter"         -> 0
  )

  // Interpreted-lambda budget: higher-order functions (transform,
  // aggregate, zip_with, filter, array_sort, ...) are CodegenFallback, so
  // each one evaluates a Catalyst lambda per array element outside
  // whole-stage codegen. (query, (max HigherOrderFunction expressions in
  // the physical plan, counting pushed-down filter copies, and what they
  // are)); every query not listed must have none, and an allowance may
  // only fall. q120/q125 went to 0 with the native DSIR kernels; q109 and
  // q136 with sort_array (codegen'd, no comparator lambda) over arrays
  // without NULL elements.
  private val quant = "fixed-point embeddings transform(round(x*2^20))"
  private val argmax = "nearest-centroid argmax aggregate over the " +
    "broadcast cents array (Project + the nested-loop join condition)"
  private val topP = "top-P cell probe array_sort(transform(cents))"
  private val adc = "PQ ADC table transform(cents) + aggregate(zip_with) " +
    "and the residual cent lookup filter(cents)"
  private val rerank = "exact rerank dot aggregate(zip_with(q, hq))"
  private val packs = "k-means centroid packs array_sort(collect_list) " +
    "and transform(array_sort) position packs"
  private val dots = "float dot/norm folds aggregate(zip_with), in the " +
    "oracle's sequential order"
  private val bandPairs = "in-bucket pair expansion flatten(transform(ms, " +
    "transform(slice))) over <= cap ids"
  private val bigrams = "bigram zip_with(slice, slice) over the tokens"
  private val sortedGroup = "in-group order transform(array_sort(" +
    "collect_list)) over one group's rows"
  private val lambdas: Map[String, (Int, String)] = Map(
    "q104_ann_pq"             -> (7, s"$quant; $packs (codebook); $adc"),
    "q105_bigram_novelty"     -> (2, s"$bigrams, once in the df branch and once in the scoring branch"),
    "q106_distinct_sketch"    -> (1, bigrams),
    "q107_zorder_key"         -> (1, "bit-interleave fold aggregate over literal bit positions"),
    "q110_balanced_sample"    -> (11, s"$quant; $packs"),
    "q111_token_entropy"      -> (1, "the fixed-order entropy fold"),
    "q115_paragraph_dedup"    -> (2, "paragraph split transform(sequence) + frequent-set filter"),
    "q116_quality_classifier" -> (1, "hashed-weight fold aggregate(t) with md5/conv per token (the DSIR shape)"),
    "q118_chunk_overlap"      -> (1, "chunk generator transform(sequence)"),
    "q119_lm_perplexity"      -> (3, s"map-literal LM fold aggregate(transform(bigs)) + $bigrams; next native candidate"),
    "q122_ann_recall"         -> (6, s"$argmax; $packs (cents)"),
    "q124_threshold_sweep"    -> (1, "q116's hashed-weight fold"),
    "q127_blocklist_filter"   -> (2, "suffix generator transform(sequence) (Filter + pushed scan filter)"),
    "q128_neardup_rate"       -> (2, bandPairs),
    "q129_snapshot_drift"     -> (4, "trigram zip_with chains over both snapshots"),
    "q130_dedup_sensitivity"  -> (2, bandPairs),
    "q133_inverted_index"     -> (1, "postings decode transform over <= 16 kmv_minima"),
    "q138_containment"        -> (2, bandPairs),
    "q139_clob_charset"       -> (2, s"LOB chunk order: $sortedGroup"),
    "q143_ivf_increment"      -> (2, argmax),
    "q147_funnel"             -> (1, "per-user funnel fold aggregate(sort_array(collect_list))"),
    "q161_equidepth_bins"     -> (1, "bin lookup filter over <= 10 boundaries"),
    "q180_substring_cut"      -> (1, "span-cut aggregate (TextOps: the documented trade vs a second text exchange)"),
    "q182_kn_perplexity"      -> (3, s"map-literal Kneser-Ney fold aggregate(transform(bigs)) + $bigrams; next native candidate"),
    "q184_weighted_minhash"   -> (2, "tf-weighted instance expansion transform(tfs, transform(sequence)), once in the Project (the non-empty filter counts tokens)"),
    "q185_weighted_pairs"     -> (2, bandPairs),
    "q189_vecdup_batch"       -> (2, argmax),
    "q190_vecdup_recall"      -> (2, argmax),
    "q192_mm_mp4_meta"        -> (16, "big-endian atom field decodes aggregate over literal byte offsets"),
    "q193_ivf_refined"        -> (2, argmax),
    "q194_langid_trigram"     -> (2, "character trigram generator transform(sequence)"),
    "q204_suffix_lcp"         -> (3, "LCP zip_with over adjacent suffix slices (Project + Filter)"),
    "q205_pca_power"          -> (3, s"$quant; $dots (loading vector)"),
    "q206_srp_fingerprint"    -> (8, s"$quant; $dots (plane matrix); bit packing aggregate(zip_with(bits, powers))"),
    "q208_wordpiece_encode"   -> (1, "greedy longest-match fold over the piece vocabulary"),
    "q209_srp_recall"         -> (16, "q206's folds on both sides"),
    "q210_embedding_drift"    -> (6, s"$quant; $dots"),
    "q213_rtbf_match"         -> (2, argmax),
    "q215_ivf_rebuild"        -> (2, argmax),
    "q216_ivfpq_match"        -> (9, s"$adc; $quant; $argmax"),
    "q218_ivfpq_recall"       -> (19, s"$adc; $quant; $argmax; $rerank"),
    "q222_clustered_recall"   -> (19, "q218's shape"),
    "q223_multiprobe_match"   -> (3, topP),
    "q224_pq_append_match"    -> (9, "q216's shape"),
    "q225_multiprobe_adc"     -> (10, s"$adc; $quant; $topP"),
    "q226_regime_recall"      -> (19, "q218's shape"),
    "q227_regime_raw"         -> (16, "q218's shape, raw codes (no residual cent lookup)"),
    "q228_ivfpq_topk"         -> (10, "q225's shape"),
    "q229_ivfpq_rerank"       -> (14, s"q225's shape; $rerank"),
    "q230_filtered_topk"      -> (10, "q225's shape"),
    "q231_filtered_prefilter" -> (4, s"$quant; $rerank"),
    "q232_sq8_attach"         -> (1, "SQ code bytes to ints transform(sq_bytes)"),
    "q233_sq8_topk"           -> (5, s"SQ8 book zip_with; $quant; $topP"),
    "q23_quality_score"       -> (1, "stopword filter(tokens)"),
    "q24_lang_guess"          -> (1, "stopword filter(tokens)"),
    "q27_simhash"             -> (16, "one md5-nibble vote filter(toks) per signature bit"),
    "q29_minhash_pairs"       -> (2, bandPairs),
    "q30_cosine_pairs"        -> (6, dots),
    "q34_embed_neardup"       -> (12, s"$dots (Project + Filter)"),
    "q35_lob_assembly"        -> (2, s"LOB chunk order: $sortedGroup"),
    "q42_rolling_hash"        -> (1, "polynomial rolling-hash fold over the characters"),
    "q43_ann_ivf"             -> (6, s"$argmax; $packs (cents)"),
    "q54_lob_resolve"         -> (23, "LOB reference resolution: filter/transform over image values and transform_values (with pushed filter copies)"),
    "q71_txn_message_full"    -> (1, s"message order: $sortedGroup"),
    "q82_repetition"          -> (5, s"max-run folds over array_sort(tokens/bigrams) + $bigrams"),
    "q87_vec_quantize"        -> (6, "quantize transforms + checksum fold (Project, Filter, pushed scan filter)"),
    "q91_kmeans"              -> (11, s"$quant; $packs"),
    "q92_semantic_dedup"      -> (17, s"$quant; $packs; $dots"),
    "q97_collapse_repeats"    -> (3, "adjacent-repeat collapse zip_with/filter/transform"),
    "q99_quality_filter"      -> (2, "stopword filter + mean token length fold")
  )

  private def shuffleCount(df: DataFrame): Int = {
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // tree-section shuffle nodes; "(n) Exchange" detail lines don't match,
    // BroadcastExchange is counted separately (broadcasts are the GOAL)
    "[+:]- Exchange \\(".r.findAllIn(plan).length
  }

  private def shuffleCount(name: String): Int =
    shuffleCount(SparkEntry.queries(name)(spark, sf))

  /** Higher-order-function expressions (lambdas, evaluated interpreted:
    * they are CodegenFallback) in the physical plan, subqueries included. */
  private def lambdaCount(plan: SparkPlan): Int = {
    var n = 0
    foreach(plan) { p =>
      p.expressions.foreach(_.foreach(e =>
        if (e.isInstanceOf[HigherOrderFunction]) n += 1))
      p.subqueries.foreach(q => n += lambdaCount(q))
    }
    n
  }

  /** (shuffle Exchanges, lambdas) of every budgeted query's cluster-shaped
    * plan, each query built once. */
  private lazy val measured: Map[String, (Int, Int)] = {
    spark.conf.set("graft.spreadLocal", "false")
    try budgets.keys.toSeq.sorted.map { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      name -> (shuffleCount(df), lambdaCount(df.queryExecution.executedPlan))
    }.toMap
    finally spark.conf.set("graft.spreadLocal", "true")
  }

  test("every SparkEntry query has a budget row (and none are stale)") {
    val keys = SparkEntry.queries.keySet
    val missing = keys -- budgets.keySet
    val stale = budgets.keySet -- keys
    assert(missing.isEmpty,
      s"queries without a shuffle budget (add a measured row): $missing")
    assert(stale.isEmpty, s"budget rows for deleted queries: $stale")
  }

  test("cluster-shaped plans stay inside their shuffle budgets") {
    val over = budgets.toSeq.sortBy(_._1).flatMap { case (name, budget) =>
      val got = measured(name)._1
      if (got > budget) Some(s"$name: $got shuffles > budget $budget")
      else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("physical plans hold no interpreted lambdas beyond their allowance") {
    val over = measured.toSeq.sortBy(_._1).flatMap { case (name, (_, got)) =>
      val allowed = lambdas.get(name).fold(0)(_._1)
      if (got > allowed) Some(s"$name: $got lambdas > allowance $allowed")
      else None
    }
    assert(over.isEmpty, over.mkString("; ") + "\nall nonzero: " +
      measured.toSeq.sortBy(_._1).collect {
        case (n, (_, c)) if c > 0 => s"$n -> $c" }.mkString(", "))
    val stale = lambdas.keySet.filter(n => measured.get(n).forall(_._2 == 0))
    assert(stale.isEmpty,
      s"lambda allowances for queries that measure 0 (drop the row): $stale")
  }

  test("q166/q169 self-join duplicates dedupe to reused stages at runtime") {
    // The static budgets above (8) count the ef/nDocs subtrees TWICE -
    // both self-join sides reference the same plan, aliased only after
    // the join, so their Exchanges canonicalize identically and AQE
    // replaces the duplicates with ReusedExchange at runtime. This test
    // executes both queries and asserts the reuse actually fires (>= 2
    // ReusedExchange each: the doc_id self-join side + an nDocs/freq
    // subtree), so the "4 distinct stages" claim in the budget comments
    // is enforced, not aspirational.
    spark.conf.set("graft.spreadLocal", "false")
    try {
      Seq("q166_frequent_pairs", "q169_pmi_collocations").foreach { name =>
        val df = SparkEntry.queries(name)(spark, sf)
        df.collect()
        val fin = df.queryExecution.executedPlan.toString
        val reused = "ReusedExchange".r.findAllIn(fin).length
        assert(reused >= 2,
          s"$name: expected >= 2 ReusedExchange in the final adaptive " +
            s"plan, got $reused - the self-join sides no longer share " +
            "an Exchange subtree; re-measure the shuffle budget")
      }
    } finally spark.conf.set("graft.spreadLocal", "true")
  }

  test("spread gating: local mode may add exchanges, cluster mode never") {
    spark.conf.set("graft.spreadLocal", "false")
    val cluster = try shuffleCount("q90_dup_spans")
    finally spark.conf.set("graft.spreadLocal", "true")
    val local = shuffleCount("q90_dup_spans")
    assert(cluster <= local,
      s"cluster plan ($cluster) must not out-shuffle local plan ($local)")
  }
}
