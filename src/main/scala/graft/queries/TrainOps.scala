package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{SessionMemo, Tables}
import graft.queries.OracleSql.{sqlHex4, sqlTokens}

/** Training-data pipeline pack #5: training-run preparation and pipeline
  * EVALUATION — deterministic corpus sharding/ordering, tokenizer (BPE)
  * merge learning, ANN recall measurement, and classifier threshold
  * calibration. The ops a team runs between "corpus is curated" and
  * "training job starts".
  *
  * Scale notes:
  *   - q121 avoids the global total-order sort every naive "shuffle the
  *     corpus" implementation pays: shard = hash bucket (one hash
  *     exchange), order = rank WITHIN the shard — at 1000 executors each
  *     shard sorts locally and writers stream shards independently.
  *   - q123 is classic distributed BPE: the corpus is exploded ONCE into a
  *     (token, count) vocabulary (the only corpus-sized exchange), and
  *     every learning round thereafter shuffles (symbol-pair, partial sum)
  *     cells — alphabet-sized, corpus-size-free. The argmax pair per round
  *     is a TakeOrderedAndProject (no global sort) collected as a
  *     dimension artifact, exactly how a trained merge table ships.
  *   - q122/q124 are evaluation harnesses COMPOSED from gated operators
  *     (q31 exact ANN / q43 IVF; q116 classifier) — the join/agg sides are
  *     query-set- and threshold-sized, so both reduce to broadcast joins
  *     over tiny frames on top of the underlying operators' plans.
  */
object TrainOps {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)
  private def spread(df: DataFrame): DataFrame = Tables.spread(df, col("doc_id"))

  // ---- q121: deterministic corpus shuffle into training shards ---------
  private[graft] val NShards = 64
  private[graft] val OrderSalt = "ord42|"

  // ---- q123: BPE merge learning ----------------------------------------
  private val BpeRounds = 3

  /** One greedy left-to-right merge pass of pair (a, b) over a
    * space-joined symbol string, as a fold: if the accumulator's LAST
    * symbol is `a` (exact or space-delimited — `~ endsWith " a"` cannot
    * false-match a symbol that merely ends in "a") and the next symbol is
    * `b`, the pair fuses into one symbol `ab`; a fused symbol cannot
    * re-fuse with the element that produced it (standard single-pass BPE
    * application). DuckDB's list_reduce mirrors this fold exactly —
    * SelectionOps/VectorOps' sequential-fold parity discipline. */
  private def mergeFold(seq: Column, a: String, b: String): Column =
    aggregate(split(seq, " "), lit(""),
      (acc, x) =>
        when(acc === "", x)
          .when((acc === lit(a) || acc.endsWith(lit(" " + a))) && (x === lit(b)),
            concat(acc.substr(lit(1), length(acc) - lit(a.length)), lit(a + b)))
          .otherwise(concat(acc, lit(" "), x)))

  // ---- q124: threshold sweep -------------------------------------------
  private val Thresholds: Seq[Int] = (-800 to 800 by 200)

  // ---- q141: sequence packing ------------------------------------------
  private val SeqLen = 1024L

  // ---- q144: hybrid retrieval fusion -----------------------------------
  private val RrfK = 60.0

  // ---- q145: group-aware split -----------------------------------------
  private[graft] val SplitSalt = "split42|"

  // ---- q142: unigram-LM tokenizer --------------------------------------
  private val UniTopK = 128

  /** Learn the scored unigram vocabulary: all substrings of length
    * 1..MaxPiece of the (capped) corpus tokens, weighted by token
    * frequency; vocab = the full alphabet (every length-1 substring) +
    * the top-[[UniTopK]] multi-char pieces by (count desc, piece asc);
    * score = floor(1000·ln(cnt/total)) milli-nats over the chosen vocab.
    * Two token-bounded exchanges build it; the result is a bounded
    * dimension artifact (alphabet + 128 entries) collected at plan
    * construction, like the BPE merge table and the q119 LM. */
  private[graft] def unigramVocab(s: SparkSession, dir: String): Map[String, Long] = {
    import graft.functions.UnigramNative.{MaxPiece, TokCap}
    val tokf = spread(t(s, dir, "documents"))
      .select(explode(TextOps.tokensCol).as("tok0"))
      .select(col("tok0").substr(lit(1), lit(TokCap)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val subs = tokf
      .select(col("tok"), col("f"),
        explode(sequence(lit(1), length(col("tok")))).as("i"))
      .select(col("tok"), col("f"), col("i"),
        explode(sequence(lit(1), lit(MaxPiece))).as("k"))
      .filter(col("i") + col("k") - 1 <= length(col("tok")))
      .select(col("tok").substr(col("i"), col("k")).as("sub"), col("f"))
      .groupBy("sub").agg(sum(col("f")).as("cnt"))
    val singles = subs.filter(length(col("sub")) === 1).collect()
    val multi = subs.filter(length(col("sub")) >= 2)
      .orderBy(col("cnt").desc, col("sub").asc).limit(UniTopK).collect()
    val entries = (singles ++ multi).map(r => r.getString(0) -> r.getLong(1))
    val total = entries.map(_._2).sum.toDouble
    entries.map { case (sub, cnt) =>
      sub -> math.floor(math.log(cnt / total) * 1000).toLong
    }.toMap
  }

  /** Shared BPE learner (q123 reports it, q126 encodes with it): returns
    * the merge table [(round, a, b, pair count, corpus symbols after)] and
    * the post-merge vocabulary (tok, n, seq). The corpus is exploded ONCE
    * into (token, count); each round shuffles alphabet²-sized pair cells,
    * takes the argmax pair as a TakeOrdered dimension artifact, and
    * applies the merge in-row over the checkpointed vocabulary.
    *
    * Memoized in session scope per dir: the learn is ~2·BpeRounds
    * SEQUENTIAL driver jobs, and q126 re-running the learn q123 just
    * finished doubled its wall time for an identical result (the r7
    * verdict's finding 2). The memoized vocabulary frame is
    * localCheckpointed, so reuse costs one scan of a bounded artifact. */
  private def bpeLearn(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long, Long)], DataFrame) =
    SessionMemo.session(s, s"bpeLearn $dir")(bpeLearnImpl(s, dir))

  private def bpeLearnImpl(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long, Long)], DataFrame) = {
    var cur = spread(t(s, dir, "documents"))
      .select(explode(TextOps.tokensCol).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .select(col("tok"), col("n"),
        array_join(regexp_extract_all(col("tok"), lit("."), lit(0)), " ")
          .as("seq"))
      .localCheckpoint()
    val learned =
      (1 to BpeRounds).map { r =>
        val syms = split(col("seq"), " ")
        // frequency-weighted adjacent-pair counts: the exchange carries
        // (a, b, partial n) — alphabet², not corpus, rows
        val top = cur
          .select(col("n"), explode(zip_with(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("n").as("c"))
          .orderBy(col("c").desc, col("a"), col("b"))
          .limit(1).collect()(0)
        val (a, b, c) = (top.getString(0), top.getString(1), top.getLong(2))
        // apply the merge in-row; checkpoint keeps round r+1's plan flat
        cur = cur.select(col("tok"), col("n"),
          mergeFold(col("seq"), a, b).as("seq")).localCheckpoint()
        val nSym = cur.select(sum(col("n") * size(split(col("seq"), " "))))
          .collect()(0).getLong(0)
        (r, a, b, c, nSym)
      }
    (learned, cur)
  }

  /** The q121 shard-order operator over any frame with a doc_id column —
    * shard = md5 bucket, pos = rank within shard by the same hash: a
    * reproducible corpus-wide "random" training order with ONE hash
    * exchange and per-shard local sorts, never a global range sort.
    * Factored so pipeline compositions (q136) provably run the gated
    * rule (salt, hash width, tie-break) rather than a copy of it.
    *
    * `h` and `shard` come from ONE projection (whole-stage codegen's
    * subexpression elimination keeps md5 at one call per row): two
    * stacked projections would not collapse, since `h` is referenced
    * twice, and over q136's Gumbel top-k they would leave
    * Limit(Project(Project(Sort))), which misses the TakeOrderedAndProject
    * pattern and plans a sampled global range sort instead. */
  private[graft] def trainOrderOf(df: DataFrame): DataFrame = {
    val h = md5(concat(lit(OrderSalt), col("doc_id").cast("string")))
    df.select(col("doc_id"), h.as("h"),
        (conv(substring(h, 1, 4), 16, 10).cast("long") % NShards)
          .cast("int").as("shard"))
      .withColumn("pos",
        (row_number().over(Window.partitionBy("shard").orderBy("h")) - 1)
          .cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** q121's oracle restated over any relation — the SQL twin of
    * [[trainOrderOf]], shared by the q136 composition. */
  private[graft] def sqlTrainOrderFrom(rel: String): String =
    s"""SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h) - 1
       |    AS BIGINT) AS pos
       |FROM (SELECT doc_id, h,
       |    CAST(${sqlHex4("h")} % $NShards AS INT) AS shard
       |  FROM (SELECT doc_id,
       |      md5('$OrderSalt' || CAST(doc_id AS VARCHAR)) AS h
       |    FROM $rel))""".stripMargin

  // ---- q199: in-engine classifier training ------------------------------
  // Quasi-logistic regression trained BY the engine with gradient descent
  // whose every operation is integer arithmetic: the sigmoid is the
  // rational "fast sigmoid" p = Q/2 + z·Q/(2(Q+|z|)) in micro-units
  // (Q=1e6), so per-row probabilities, residuals, and gradient
  // contributions are exact integers and their SUMS are order-free exact
  // — a float exp() would make 25 iterations × 3 sums a last-ulp lottery
  // across engines and partitionings (the q150/q162 discipline applied to
  // TRAINING, not just scoring). Integer division truncates toward zero
  // identically in Spark (`div`, Java semantics) and DuckDB (`//`) —
  // negatives included — so the whole trajectory is bit-deterministic.
  private[graft] val LrQ = 1000000L     // micro-unit probability scale
  private[graft] val LrIters = 25       // fixed rounds (defined output)
  private[graft] val LrStepDiv = 500L   // step = Σgrad div (n · this)

  /** One GD round / final scoring pass share these fixed-shape exprs,
    * with β injected as LITERALS (see [[lrTrain]]). */
  private def lrZAt(b0: Long, b1: Long, b2: Long) =
    s"(${b0}L * x0 + ${b1}L * x1 + ${b2}L * x2) div 1000"
  private def lrPAt(b0: Long, b1: Long, b2: Long) = {
    val z = lrZAt(b0, b1, b2)
    s"500000 + (($z) * 1000000) div (2 * (1000000 + abs($z)))"
  }

  /** Train on a (y, x0, x1, x2) integer feature frame for `iters` rounds;
    * returns 1 row (b0, b1, b2, n_correct, n_docs). Each GD round is the
    * MLlib shape: per-partition partial gradient sums via rdd.aggregate —
    * ONE plain job per round, one (s0, s1, s2) triple per partition to
    * the driver (the q151 offsets class, partition-count-sized at any
    * corpus) — and the β update runs on the driver with Scala's `/`,
    * which truncates toward zero exactly like Spark's `div` and DuckDB's
    * `//` (the determinism note above), so the trajectory is bit-for-bit
    * the old one. The previous formulation carried β as a 1-row frame
    * through a broadcast crossJoin per round: a broadcast-build job PLUS
    * an AQE exchange job per round on top of the aggregate (57 jobs /
    * 2.0 s at sf0.1 measured r16; this shape: ~27 jobs / ~1.2 s). A
    * driver-literal SQL variant was measured and rejected: embedding β
    * as literals changes the generated source every round, so janino
    * recompiles 25× per run. Long headroom: Σ r·x ≤ Q·max|x|·n ≈ 8e9·n —
    * exact to ~1e9 rows; past that scale Q down or pre-average per
    * partition (production would also persist the feature RDD across
    * rounds; at bench scale the re-read of the checkpointed frame is
    * noise).
    *
    * PRECONDITION (r16 ADVICE): `feats` must be MATERIALIZED (eagerly
    * checkpointed/persisted) by the caller — each of the `iters` rounds
    * re-executes the frame's plan via rows.aggregate, so an unpinned
    * input would re-run its full upstream pipeline every round. The one
    * caller (q199) localCheckpoints the feature frame first. */
  private[graft] def lrTrain(feats: DataFrame, n: Long,
      iters: Int = LrIters): DataFrame = {
    val rows = feats.select(col("y"), col("x0"), col("x1"), col("x2"))
      .rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    var (b0, b1, b2) = (0L, 0L, 0L)
    for (_ <- 1 to iters) {
      val (c0, c1, c2) = (b0, b1, b2) // freeze the capture for this round
      val (s0, s1, s2) = rows.aggregate((0L, 0L, 0L))(
        { case ((a0, a1, a2), (y, x0, x1, x2)) =>
          val z = (c0 * x0 + c1 * x1 + c2 * x2) / 1000L
          val p = 500000L + (z * 1000000L) / (2L * (1000000L + math.abs(z)))
          val r = y * 1000000L - p
          (a0 + r * x0, a1 + r * x1, a2 + r * x2)
        },
        { case ((a0, a1, a2), (d0, d1, d2)) => (a0 + d0, a1 + d1, a2 + d2) })
      b0 += s0 / (n * LrStepDiv)
      b1 += s1 / (n * LrStepDiv)
      b2 += s2 / (n * LrStepDiv)
    }
    feats.withColumn("p", expr(lrPAt(b0, b1, b2)))
      .agg(sum(when(expr("(p >= 500000) = (y = 1)"), lit(1L))
          .otherwise(lit(0L))).as("n_correct"),
        count(lit(1)).as("n_docs"))
      .select(lit(b0).as("b0"), lit(b1).as("b1"), lit(b2).as("b2"),
        col("n_correct"), col("n_docs"))
  }

  /** The q199 feature extraction: label = (lang = 'en'); integer
    * in-row features x0 = 1000 (intercept), x1 = type-token ratio
    * per-mille, x2 = mean token length in milli-chars, centered. */
  private[graft] def lrFeatures(docs: DataFrame): DataFrame =
    docs.select(col("lang"), graft.queries.TextOps.tokensOf(col("text"))
        .as("tk"))
      .filter(size(col("tk")) > 0)
      .select(
        when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("y"),
        lit(1000L).as("x0"),
        expr("(1000 * size(array_distinct(tk))) div size(tk)").as("x1"),
        expr("(1000 * aggregate(tk, cast(0 as bigint), " +
          "(a, x) -> a + length(x))) div size(tk) - 3500").as("x2"))

  val defs: Map[String, Q] = Map(

    // WordPiece-style greedy longest-match-first tokenization (the
    // runtime algorithm of Song et al., "Fast WordPiece Tokenization",
    // EMNLP'21) — the third tokenizer family next to BPE merge-order
    // (q126) and Unigram-LM Viterbi (q142), and the one BERT-lineage
    // pipelines deploy. Piece inventory: the top-64 2/3-char substrings
    // of the token stream by instance frequency (ties to the
    // lexicographically lowest piece), single chars as the implicit
    // fallback. Encode runs on DISTINCT tokens only — vocabulary-sized
    // work, Heaps-bounded, never corpus-sized — as 8 unrolled greedy
    // steps (tokens are ≤8 chars; each step consumes the longest piece
    // matching at the cursor), then joins back onto the corpus: the
    // q126 shape, same two exchanges (token agg at the vocab build,
    // per-doc agg at the end), the piece inventory a collected model
    // artifact like the BPE codebook.
    "q208_wordpiece_encode" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val inst = docs.select(
        explode(graft.queries.TextOps.tokensCol).as("tok"))
      def subs(n: Int) = inst
        .filter(length(col("tok")) >= n)
        .select(explode(transform(
          sequence(lit(1), length(col("tok")) - (n - 1)),
          i => col("tok").substr(i, lit(n)))).as("piece"))
      val pieces = subs(2).unionAll(subs(3))
        .groupBy("piece").agg(count(lit(1)).as("c"))
        .sort(col("c").desc, col("piece"))
        .limit(64)
        .select("piece").collect().map(_.getString(0)).toSeq
      val p3 = pieces.filter(_.length == 3)
      val p2 = pieces.filter(_.length == 2)
      val tok = col("tok")
      val len = length(tok)
      // the greedy cursor walk is ONE aggregate-HOF fold with a (pos,
      // np) struct accumulator — an unrolled 8-step expression inlines
      // each step's tree into the next (×3 per step, ~3^8 nodes) and
      // spent the minute-class bench cost in ANALYSIS, not execution
      val np = aggregate(
        sequence(lit(1), lit(8)),
        struct(lit(1).as("pos"), lit(0).as("np")),
        (acc, _) => {
          val pos = acc.getField("pos")
          val cnt = acc.getField("np")
          val step = when(pos > len, 0)
            .when(array_contains(typedLit(p3), tok.substr(pos, lit(3))) &&
              pos + 2 <= len, 3)
            .when(array_contains(typedLit(p2), tok.substr(pos, lit(2))) &&
              pos + 1 <= len, 2)
            .otherwise(1)
          struct((pos + step).as("pos"),
            (cnt + when(pos <= len, 1).otherwise(0)).as("np"))
        },
        acc => acc.getField("np"))
      val enc = inst.select(col("tok")).distinct()
        .select(col("tok"), np.cast("long").as("np"))
      docs.select(col("doc_id"),
          explode(graft.queries.TextOps.tokensCol).as("tok"))
        .join(enc, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum("np").cast("long").as("n_pieces"))
        .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
          round(col("n_pieces").cast("double") / col("n_tokens"), 6)
            .as("pieces_per_token"))
    }),

    "q199_quality_lr" -> ((s, dir) => {
      // checkpoint the NARROW feature projection once (4 longs/doc);
      // the 25 unrolled rounds re-scan only that
      val feats = lrFeatures(t(s, dir, "documents")).localCheckpoint(true)
      lrTrain(feats, feats.count())
    }),

    "q121_train_order" -> ((s, dir) => trainOrderOf(t(s, dir, "documents"))),

    "q122_ann_recall" -> ((s, dir) => {
      // recall@3 of the IVF index (q43) against brute-force truth (q31):
      // the standard index-quality gate before an ANN index ships
      val exact = VectorOps.defs("q31_ann_topk")(s, dir)
        .filter(col("rank") <= 3).select("q_id", "c_id")
      val approx = VectorOps.defs("q43_ann_ivf")(s, dir)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      // both sides are query-set-sized (≤ 10·k rows): broadcast the probe
      // side so the compare adds zero exchanges beyond the underlying
      // operators' own plans + the 10-row groupBy
      exact.join(broadcast(approx), Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).cast("int").as("n_hit"))
        .select(col("q_id"), col("n_hit"),
          round(col("n_hit") / 3.0, 6).as("recall"))
    }),

    "q123_bpe_learn" -> ((s, dir) => {
      import s.implicits._
      bpeLearn(s, dir)._1.toDF("merge_round", "pair_a", "pair_b",
        "pair_count", "n_symbols")
    }),

    "q126_bpe_encode" -> ((s, dir) => {
      // ENCODE with the learned tokenizer: the post-merge vocabulary maps
      // token → its BPE symbol count and joins back onto the corpus. Being
      // vocabulary-sized it carries NO broadcast hint (the q134 rule): AQE
      // broadcasts it at runtime while it fits 64MB and degrades to a
      // shuffle join — not an OOM — when a web-scale vocab outgrows it.
      // The one corpus exchange is the per-doc agg, and its map side
      // collapses to ~1 row per doc (scan rows arrive doc-contiguous,
      // partial agg by doc_id).
      val vocab = bpeLearn(s, dir)._2
        .select(col("tok"), size(split(col("seq"), " ")).as("nb"))
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), explode(TextOps.tokensCol).as("tok"))
        .join(vocab, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(length(col("tok"))).cast("long").as("n_chars"),
          sum("nb").cast("long").as("n_bpe"))
        .select(col("doc_id"), col("n_tokens"), col("n_chars"), col("n_bpe"),
          round(col("n_bpe").cast("double") / col("n_chars"), 6)
            .as("compression"))
    }),

    "q124_threshold_sweep" -> ((s, dir) => {
      // calibration curve for the q116 classifier: keep-rate + surviving
      // token budget per cutoff — how a filtering threshold is actually
      // chosen. Thresholds explode from a 9-element literal; the one
      // exchange carries (threshold, partials)
      CurationOps.defs("q116_quality_classifier")(s, dir)
        .select(col("n_tokens"), col("score"),
          explode(typedLit(Thresholds)).as("threshold"))
        .groupBy("threshold")
        .agg(
          sum(when(col("score") > col("threshold"), 1L).otherwise(0L))
            .as("n_keep"),
          count(lit(1)).as("n_docs"),
          sum(when(col("score") > col("threshold"),
            col("n_tokens").cast("long")).otherwise(0L)).as("tokens_kept"))
        .select(col("threshold"), col("n_keep"),
          round(col("n_keep").cast("double") / col("n_docs"), 6)
            .as("keep_rate"),
          col("tokens_kept"))
    }),

    // Tokenizer-coverage gate: OOV rate of a held-out split against the
    // vocabulary observed on the train split — the go/no-go check before a
    // learned tokenizer (q123) ships. The train-side dedup is in-row
    // (array_distinct) before the distinct agg, so the vocab exchange
    // carries ~unique-words, not corpus-tokens, rows. The vocab is NOT a
    // fixed dimension (a web corpus's vocabulary is Heaps'-law unbounded),
    // so no forced broadcast: the join plans as an SMJ on tok, and AQE
    // flips it to a broadcast at runtime whenever the observed vocab fits
    // the 64MB threshold — degrade-to-shuffle instead of driver OOM. The
    // eval-side groupBy is the only other (map-side-combined, 20-key)
    // exchange.
    "q134_vocab_coverage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = docs.filter(col("doc_id") % 5 < 4)
        .select(explode(array_distinct(TextOps.tokensCol)).as("tok"))
        .distinct()
        .withColumn("known", lit(1L))
      docs.filter(col("doc_id") % 5 >= 4)
        .select(col("source"), explode(TextOps.tokensCol).as("tok"))
        .join(vocab, Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens"), 6)
            .as("oov_rate"))
    }),

    // Sequence packing: concatenate-and-chunk the shuffled corpus into
    // fixed-length training sequences (the GPT-style "document boundaries
    // ignored" packing every LM training job runs between shard order and
    // the data loader). Each doc's start offset is the running token count
    // of everything before it in its shard's deterministic order (q121's
    // salt-hash order), so seq_id/seq_off are pure window arithmetic —
    // no greedy bin-packing state, bit-identical on any executor count.
    // Scale shape: ONE hash exchange on shard + a local per-shard
    // sort-window (never a global sort, the q121 rule); the window ships
    // (doc_id, h, n_tok) — text never shuffles, n_tok folds in-row at
    // the scan.
    "q141_sequence_packing" -> ((s, dir) => {
      val h = md5(concat(lit(OrderSalt), col("doc_id").cast("string")))
      val w = Window.partitionBy("shard").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, -1)
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), h.as("h"),
          TextOps.tokenCountCol.cast("long").as("n_tok"))
        .withColumn("shard",
          (conv(substring(col("h"), 1, 4), 16, 10).cast("long")
            % NShards).cast("int"))
        .withColumn("off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .select(col("doc_id"), col("shard"),
          expr(s"off div $SeqLen").as("seq_id"),
          expr(s"off % $SeqLen").as("seq_off"), col("n_tok"))
    }),

    // Unigram-LM (SentencePiece-family) tokenizer: learn a scored piece
    // vocabulary, then Viterbi-segment the corpus — the second real-world
    // subword family next to BPE (q123/q126). Scores are INTEGER
    // milli-nats, so the DP and every per-doc sum are exact integer
    // arithmetic: bit-identical across engines, executors, and addition
    // orders (one step past the round()-discipline). Scale shape: the
    // vocab is a bounded collected artifact (alphabet + top-128 pieces —
    // fixed size at ANY corpus scale, unlike the raw vocabulary);
    // encoding folds fully IN-ROW via the native kernel, so the final
    // plan is scan → project, zero corpus exchanges (the q119/q120
    // class). The only caveat worth naming: ln() is libm on both
    // engines; a last-ulp divergence would need ln·1000 within 1e-13 of
    // an integer to flip a floor() — negligible, and confined to vocab
    // CONSTRUCTION, never per-row work.
    "q142_unigram_tokenizer" -> ((s, dir) => {
      val vocab = unigramVocab(s, dir)
      val enc = graft.functions.Kernels
        .unigramEncode(col("text"), vocab)
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), enc.as("e"))
        .filter(col("e.n_tok") > 0)
        .select(col("doc_id"), col("e.n_tok").as("n_tok"),
          col("e.n_pieces").as("n_pieces"),
          col("e.nll_milli").as("nll_milli"),
          round(col("e.n_pieces").cast("double") / col("e.n_tok"), 6)
            .as("avg_pieces"))
    }),

    // Hybrid retrieval: reciprocal-rank fusion (k=60, the Cormack et al.
    // constant) of the dense ANN list (q31) and the sparse BM25 list
    // (q109) — the standard two-tower retrieval merge, composed from two
    // gated operators exactly like q122. Both fused sides are
    // query-set-sized (≤10 queries × ≤5 ranks), so every exchange past
    // the underlying operators' own audited plans moves tens of rows.
    // Float discipline: each RRF score is 1/(60+rank) terms summed in a
    // FIXED order (dense term first), identical expression text on both
    // sides; ties after round(…,6) break on candidate id.
    "q144_hybrid_rrf" -> ((s, dir) => {
      // localCheckpoint pins each tower's ≤50-row output (bounded by the
      // query set × top-k, never the corpus) so the fusion join + window
      // run against materialized rows: without it every downstream
      // action re-executes both tower DAGs — including q109's two
      // bounded collect jobs — multiplying the towers' fixed cost by
      // the action count (and by bench iterations).
      val dense = VectorOps.defs("q31_ann_topk")(s, dir)
        .select(col("q_id"), col("c_id").as("id"), col("rank").as("r_d"))
        .localCheckpoint()
      val sparse = TextOps.defs("q109_bm25_topk")(s, dir)
        .select(col("q_id"), col("doc_id").as("id"), col("rank").as("r_s"))
        .localCheckpoint()
      val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("id"))
      dense.join(sparse, Seq("q_id", "id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (col("r_d") + lit(RrfK)), lit(0.0)) +
            coalesce(lit(1.0) / (col("r_s") + lit(RrfK)), lit(0.0)), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("q_id", "id", "rank", "rrf")
    }),

    // Group-aware (domain-holdout) train/val/test split: the split is a
    // pure function of the document's SOURCE domain (salted md5 bucket:
    // 8/1/1), so no domain — and therefore none of the near-duplicates
    // that concentrate within a domain — can straddle splits. This is
    // the leakage-safe alternative to q134's per-doc modulo split, and
    // the output's (source, split) grain pins both the assignment rule
    // and the per-domain token budgets the mixing step (q86) consumes.
    // Scale shape: per-row hash + in-row token count, then ONE exchange
    // whose keys are domains (≪ docs); embarrassingly parallel before
    // it, map-side-combined into it.
    "q145_domain_split" -> ((s, dir) => {
      val b = conv(substring(
        md5(concat(lit(SplitSalt), col("source"))), 1, 4), 16, 10)
        .cast("long") % 10
      spread(t(s, dir, "documents"))
        .select(col("source"), TextOps.tokenCountCol.cast("long").as("n_tok"))
        .withColumn("split",
          when(b < 8, "train").when(b === 8, "val").otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    }))

  /** q142's oracle: the identical vocab build + Viterbi restated
    * relationally — the DP's sliding 4-boundary state rides a recursive
    * CTE (the carried b1..b3/q1..q3 columns are best/pieces at j-1..j-3),
    * candidate pieces pre-pivot per (tok, j), and max-score-then-fewer-
    * pieces picks via a sorted (-score, pieces) struct list. All integer
    * milli-nat arithmetic — hash-exact vs the native kernel. */
  private def sqlUnigram: String = {
    import graft.functions.UnigramNative.{MaxPiece, Penalty, TokCap}
    s"""WITH tokocc AS (
       |  SELECT substr(tok, 1, $TokCap) AS tok FROM (
       |    SELECT unnest($sqlTokens) AS tok FROM documents)),
       |tokf AS (SELECT tok, CAST(count(*) AS BIGINT) AS f
       |  FROM tokocc GROUP BY tok),
       |subs AS (
       |  SELECT substr(tok, CAST(i AS INT), CAST(k AS INT)) AS sub,
       |    CAST(sum(f) AS BIGINT) AS cnt
       |  FROM tokf
       |  CROSS JOIN range(1, ${TokCap + 1}) ti(i)
       |  CROSS JOIN range(1, ${MaxPiece + 1}) tk(k)
       |  WHERE i + k - 1 <= len(tok)
       |  GROUP BY 1),
       |vocab AS (
       |  SELECT sub, cnt FROM subs WHERE len(sub) = 1
       |  UNION ALL
       |  (SELECT sub, cnt FROM subs WHERE len(sub) >= 2
       |   ORDER BY cnt DESC, sub LIMIT $UniTopK)),
       |scored AS (
       |  SELECT sub,
       |    CAST(floor(ln(CAST(cnt AS DOUBLE) /
       |      (SELECT CAST(sum(cnt) AS DOUBLE) FROM vocab)) * 1000)
       |      AS BIGINT) AS s
       |  FROM vocab),
       |cand AS (
       |  SELECT tok, n, j,
       |    max(CASE WHEN k = 1 THEN coalesce(s, $Penalty) END) AS s1,
       |    max(CASE WHEN k = 2 THEN s END) AS s2,
       |    max(CASE WHEN k = 3 THEN s END) AS s3,
       |    max(CASE WHEN k = 4 THEN s END) AS s4
       |  FROM (
       |    SELECT f.tok, len(f.tok) AS n, CAST(j AS INT) AS j,
       |      CAST(k AS INT) AS k, v.s
       |    FROM tokf f
       |    CROSS JOIN range(1, ${TokCap + 1}) tj(j)
       |    CROSS JOIN range(1, ${MaxPiece + 1}) tk(k)
       |    LEFT JOIN scored v
       |      ON v.sub = substr(f.tok, CAST(j - k + 1 AS INT), CAST(k AS INT))
       |    WHERE j <= len(f.tok) AND k <= j)
       |  GROUP BY 1, 2, 3),
       |seg AS (
       |  WITH RECURSIVE dp AS (
       |    SELECT tok, len(tok) AS n, 0 AS j,
       |      CAST(0 AS BIGINT) AS b0, 0 AS q0,
       |      CAST(NULL AS BIGINT) AS b1, CAST(NULL AS INT) AS q1,
       |      CAST(NULL AS BIGINT) AS b2, CAST(NULL AS INT) AS q2,
       |      CAST(NULL AS BIGINT) AS b3, CAST(NULL AS INT) AS q3
       |    FROM tokf
       |    UNION ALL
       |    SELECT tok, n, j2 AS j, -(pick.nb) AS b0, pick.q AS q0,
       |      b0 AS b1, q0 AS q1, b1 AS b2, q1 AS q2, b2 AS b3, q2 AS q3
       |    FROM (
       |      SELECT dp.tok, dp.n, dp.j + 1 AS j2, dp.b0, dp.q0, dp.b1,
       |        dp.q1, dp.b2, dp.q2,
       |        (list_sort(list_filter([
       |          {'nb': -(dp.b0 + c.s1), 'q': dp.q0 + 1},
       |          CASE WHEN dp.b1 IS NOT NULL AND c.s2 IS NOT NULL
       |            THEN {'nb': -(dp.b1 + c.s2), 'q': dp.q1 + 1} END,
       |          CASE WHEN dp.b2 IS NOT NULL AND c.s3 IS NOT NULL
       |            THEN {'nb': -(dp.b2 + c.s3), 'q': dp.q2 + 1} END,
       |          CASE WHEN dp.b3 IS NOT NULL AND c.s4 IS NOT NULL
       |            THEN {'nb': -(dp.b3 + c.s4), 'q': dp.q3 + 1} END],
       |          x -> x IS NOT NULL)))[1] AS pick
       |      FROM dp JOIN cand c ON c.tok = dp.tok AND c.j = dp.j + 1
       |      WHERE dp.j < dp.n))
       |  SELECT tok, q0 AS p, b0 AS s FROM dp WHERE j = n),
       |docseg AS (
       |  SELECT d.doc_id, sg.p, sg.s
       |  FROM (SELECT doc_id, substr(tok, 1, $TokCap) AS tok FROM (
       |      SELECT doc_id, unnest($sqlTokens) AS tok FROM documents)) d
       |  JOIN seg sg ON sg.tok = d.tok)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |  CAST(sum(p) AS BIGINT) AS n_pieces,
       |  CAST(-sum(s) AS BIGINT) AS nll_milli,
       |  round(sum(p) / CAST(count(*) AS DOUBLE), 6) AS avg_pieces
       |FROM docseg GROUP BY doc_id""".stripMargin
  }

  /** One oracle-side BPE round: pair counts from s{r-1}, argmax into
    * m{r}, fold-merged sequences into s{r}, corpus symbol total into
    * n{r}. The list_reduce lambda mirrors [[mergeFold]] term for term. */
  private def sqlBpeRound(r: Int): String = {
    val prev = s"s${r - 1}"
    s"""p$r AS (SELECT t[CAST(i + 1 AS INT)] AS a, t[CAST(i + 2 AS INT)] AS b,
       |    CAST(sum(n) AS BIGINT) AS c
       |  FROM (SELECT n, string_split(seq, ' ') AS t,
       |      unnest(range(len(string_split(seq, ' ')) - 1)) AS i FROM $prev)
       |  GROUP BY 1, 2),
       |m$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
       |s$r AS (SELECT tok, n, list_reduce(
       |    list_prepend('', string_split(seq, ' ')),
       |    (acc, x) -> CASE WHEN acc = '' THEN x
       |      WHEN (acc = m$r.a OR ends_with(acc, ' ' || m$r.a)) AND x = m$r.b
       |        THEN substr(acc, 1, len(acc) - len(m$r.a)) || m$r.a || m$r.b
       |      ELSE acc || ' ' || x END) AS seq
       |  FROM $prev, m$r),
       |n$r AS (SELECT CAST(sum(n * len(string_split(seq, ' '))) AS BIGINT)
       |    AS ns FROM s$r)""".stripMargin
  }

  /** DuckDB mirror of q208: same piece inventory (top-64 2/3-char
    * substrings by instance frequency, ties lexicographic), same 8
    * unrolled greedy steps over distinct tokens. The pieces CTE is
    * MATERIALIZED — 16 IN-subqueries would otherwise re-derive it from
    * the corpus-positions frame each time. */
  private lazy val sqlWordPiece: String = {
    val steps = (1 to 8).map { k =>
      val (p, n) = (s"pos${k - 1}", s"np${k - 1}")
      s"""s$k AS (SELECT tok, $p + CASE WHEN $p > len(tok) THEN 0
         |    WHEN $p + 2 <= len(tok) AND substr(tok, CAST($p AS INT), 3)
         |      IN (SELECT piece FROM pieces) THEN 3
         |    WHEN $p + 1 <= len(tok) AND substr(tok, CAST($p AS INT), 2)
         |      IN (SELECT piece FROM pieces) THEN 2
         |    ELSE 1 END AS pos$k,
         |  $n + CASE WHEN $p > len(tok) THEN 0 ELSE 1 END AS np$k
         |  FROM s${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT doc_id, unnest($sqlTokens) AS tok
       |  FROM documents),
       |sub AS (
       |  SELECT substr(tok, CAST(i AS INT), 2) AS piece
       |  FROM (SELECT tok, unnest(range(1, CAST(len(tok) AS BIGINT))) AS i
       |    FROM toks WHERE len(tok) >= 2)
       |  UNION ALL
       |  SELECT substr(tok, CAST(i AS INT), 3)
       |  FROM (SELECT tok,
       |      unnest(range(1, CAST(len(tok) AS BIGINT) - 1)) AS i
       |    FROM toks WHERE len(tok) >= 3)),
       |pieces AS MATERIALIZED (SELECT piece FROM (
       |  SELECT piece, row_number() OVER (ORDER BY count(*) DESC, piece)
       |    AS rk
       |  FROM sub GROUP BY piece) WHERE rk <= 64),
       |dt AS (SELECT DISTINCT tok FROM toks),
       |s0 AS (SELECT tok, CAST(1 AS BIGINT) AS pos0,
       |  CAST(0 AS BIGINT) AS np0 FROM dt),
       |$steps,
       |enc AS (SELECT tok, np8 AS np FROM s8)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(e.np) AS BIGINT) AS n_pieces,
       |  round(sum(e.np) / CAST(count(*) AS DOUBLE), 6) AS pieces_per_token
       |FROM toks t JOIN enc e USING (tok) GROUP BY t.doc_id""".stripMargin
  }

  /** The full learning chain v → s0 → (p/m/s/n)×3, shared by q123/q126. */
  private def sqlBpeChain: String =
    s"""v AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest($sqlTokens) AS tok FROM documents)
       |  GROUP BY tok),
       |s0 AS (SELECT tok, n,
       |    array_to_string(regexp_extract_all(tok, '.'), ' ') AS seq
       |  FROM v),
       |${sqlBpeRound(1)},
       |${sqlBpeRound(2)},
       |${sqlBpeRound(3)}""".stripMargin

  val oracles: Map[String, String] = Map(

    "q208_wordpiece_encode" -> sqlWordPiece,

    // q199's oracle: the identical integer GD trajectory as a recursive
    // CTE — same fast-sigmoid rational, same truncating divisions, same
    // 25 rounds; the β row recurses, the feature CTE re-joins each round.
    "q199_quality_lr" ->
      s"""WITH RECURSIVE f AS (
         |  SELECT CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
         |           ELSE CAST(0 AS BIGINT) END AS y,
         |    CAST(1000 AS BIGINT) AS x0,
         |    CAST((1000 * len(list_distinct(tk))) // len(tk) AS BIGINT) AS x1,
         |    CAST((1000 * list_aggregate(list_transform(tk,
         |      x -> length(x)), 'sum')) // len(tk) - 3500 AS BIGINT) AS x2
         |  FROM (SELECT lang,
         |      list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |    FROM documents)
         |  WHERE len(tk) > 0),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         |gd(i, b0, b1, b2) AS (
         |  SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION ALL
         |  SELECT g.i + 1,
         |    g.b0 + g.s0 // (nn.n * $LrStepDiv),
         |    g.b1 + g.s1 // (nn.n * $LrStepDiv),
         |    g.b2 + g.s2 // (nn.n * $LrStepDiv)
         |  FROM (
         |    SELECT i, b0, b1, b2,
         |      CAST(sum(r * x0) AS BIGINT) AS s0,
         |      CAST(sum(r * x1) AS BIGINT) AS s1,
         |      CAST(sum(r * x2) AS BIGINT) AS s2
         |    FROM (
         |      SELECT gd.i, gd.b0, gd.b1, gd.b2, f.x0, f.x1, f.x2,
         |        f.y * 1000000 - (500000 +
         |          (((gd.b0*f.x0 + gd.b1*f.x1 + gd.b2*f.x2) // 1000) * 1000000)
         |          // (2 * (1000000 +
         |            abs((gd.b0*f.x0 + gd.b1*f.x1 + gd.b2*f.x2) // 1000)))) AS r
         |      FROM gd, f WHERE gd.i < $LrIters)
         |    GROUP BY 1, 2, 3, 4) g, nn)
         |SELECT b0, b1, b2,
         |  CAST(sum(CASE WHEN (p >= 500000) = (y = 1)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM (
         |  SELECT gd.b0, gd.b1, gd.b2, f.y,
         |    500000 + (((gd.b0*f.x0 + gd.b1*f.x1 + gd.b2*f.x2) // 1000)
         |        * 1000000)
         |      // (2 * (1000000 +
         |        abs((gd.b0*f.x0 + gd.b1*f.x1 + gd.b2*f.x2) // 1000))) AS p
         |  FROM gd, f WHERE gd.i = $LrIters)
         |GROUP BY 1, 2, 3""".stripMargin,

    "q121_train_order" -> sqlTrainOrderFrom("documents"),

    "q122_ann_recall" ->
      s"""WITH exact AS (SELECT q_id, c_id FROM (
         |    ${VectorOps.oracles("q31_ann_topk")}) WHERE rank <= 3),
         |approx AS (SELECT q_id, c_id FROM (
         |    ${VectorOps.oracles("q43_ann_ivf")}))
         |SELECT e.q_id, CAST(count(a.c_id) AS INT) AS n_hit,
         |  round(count(a.c_id) / 3.0, 6) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.q_id = a.q_id AND e.c_id = a.c_id
         |GROUP BY e.q_id""".stripMargin,

    "q123_bpe_learn" ->
      s"""WITH $sqlBpeChain
         |SELECT CAST(1 AS INT) AS merge_round, m1.a AS pair_a,
         |  m1.b AS pair_b, m1.c AS pair_count, n1.ns AS n_symbols
         |FROM m1, n1
         |UNION ALL SELECT CAST(2 AS INT), m2.a, m2.b, m2.c, n2.ns
         |FROM m2, n2
         |UNION ALL SELECT CAST(3 AS INT), m3.a, m3.b, m3.c, n3.ns
         |FROM m3, n3""".stripMargin,

    "q126_bpe_encode" ->
      s"""WITH $sqlBpeChain,
         |e AS (SELECT doc_id, unnest($sqlTokens) AS tok FROM documents)
         |SELECT e.doc_id, CAST(count(*) AS INT) AS n_tokens,
         |  CAST(sum(len(e.tok)) AS BIGINT) AS n_chars,
         |  CAST(sum(len(string_split(s3.seq, ' '))) AS BIGINT) AS n_bpe,
         |  round(sum(len(string_split(s3.seq, ' ')))
         |    / CAST(sum(len(e.tok)) AS DOUBLE), 6) AS compression
         |FROM e JOIN s3 ON e.tok = s3.tok
         |GROUP BY e.doc_id""".stripMargin,

    "q124_threshold_sweep" ->
      s"""WITH scored AS (SELECT * FROM (
         |    ${CurationOps.oracles("q116_quality_classifier")})),
         |th AS (SELECT CAST(unnest(range(-800, 801, 200)) AS INT)
         |    AS threshold)
         |SELECT th.threshold,
         |  CAST(count(*) FILTER (WHERE score > threshold) AS BIGINT)
         |    AS n_keep,
         |  round(count(*) FILTER (WHERE score > threshold)
         |    / CAST(count(*) AS DOUBLE), 6) AS keep_rate,
         |  CAST(coalesce(sum(n_tokens) FILTER (WHERE score > threshold), 0)
         |    AS BIGINT) AS tokens_kept
         |FROM scored CROSS JOIN th
         |GROUP BY th.threshold""".stripMargin,

    "q134_vocab_coverage" ->
      s"""WITH vocab AS (
         |  SELECT DISTINCT unnest($sqlTokens) AS tok
         |  FROM documents WHERE doc_id % 5 < 4),
         |ev AS (SELECT source, unnest($sqlTokens) AS tok
         |  FROM documents WHERE doc_id % 5 >= 4)
         |SELECT ev.source, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
         |  round(count(*) FILTER (WHERE v.tok IS NULL)
         |    / CAST(count(*) AS DOUBLE), 6) AS oov_rate
         |FROM ev LEFT JOIN vocab v ON ev.tok = v.tok
         |GROUP BY ev.source""".stripMargin,

    "q141_sequence_packing" ->
      s"""SELECT doc_id, shard,
         |  CAST(off // $SeqLen AS BIGINT) AS seq_id,
         |  CAST(off % $SeqLen AS BIGINT) AS seq_off, n_tok
         |FROM (SELECT doc_id, shard, n_tok,
         |    coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM (SELECT doc_id, h,
         |      CAST(${sqlHex4("h")} % $NShards AS INT) AS shard,
         |      CAST(len($sqlTokens) AS BIGINT) AS n_tok
         |    FROM (SELECT doc_id, text,
         |        md5('$OrderSalt' || CAST(doc_id AS VARCHAR)) AS h
         |      FROM documents)))""".stripMargin,

    "q142_unigram_tokenizer" -> sqlUnigram,

    "q144_hybrid_rrf" ->
      s"""WITH dense AS (SELECT q_id, c_id AS id, rank AS r_d FROM (
         |    ${VectorOps.oracles("q31_ann_topk")})),
         |sparse AS (SELECT q_id, doc_id AS id, rank AS r_s FROM (
         |    ${TextOps.oracles("q109_bm25_topk")})),
         |fused AS (
         |  SELECT coalesce(d.q_id, sp.q_id) AS q_id,
         |    coalesce(d.id, sp.id) AS id,
         |    round(coalesce(1.0 / (d.r_d + 60.0), 0.0) +
         |          coalesce(1.0 / (sp.r_s + 60.0), 0.0), 6) AS rrf
         |  FROM dense d FULL JOIN sparse sp
         |    ON d.q_id = sp.q_id AND d.id = sp.id)
         |SELECT q_id, id, rank, rrf FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf DESC, id) AS rank FROM fused)
         |WHERE rank <= 3""".stripMargin,

    "q145_domain_split" ->
      s"""SELECT source,
         |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
         |    ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM (SELECT source, CAST(len($sqlTokens) AS BIGINT) AS n_tok,
         |    ${sqlHex4(s"md5('$SplitSalt' || source)")} % 10 AS b
         |  FROM documents)
         |GROUP BY source, b""".stripMargin)
}
