package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.Kernels
import graft.queries.OracleSql.{sqlHex4, sqlTokens}

/** Training-data pipeline pack #4: data SELECTION for LM training —
  * retrieval-style chunking, n-gram-LM perplexity filtering (the
  * CCNet/KenLM quality gate), and DSIR-style hashed-n-gram importance
  * weighting (Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling").
  *
  * Scale notes:
  *   - q118 chunking is a pure in-row transform + generator — zero
  *     exchange; chunk rows inherit the scan's partitioning.
  *   - q119's LM is a DIMENSION artifact: bigram counts are one
  *     (bigram, count) exchange with map-side combine, and the model
  *     (≤ vocab² entries) collects to the driver and rides back into the
  *     row as two literal maps — scoring itself is a zero-exchange map,
  *     the exact shape of a broadcast KenLM at cluster scale.
  *   - q120's feature space is HASHED to a fixed 256 buckets precisely so
  *     the "model" (two 256-long count vectors) is scale-invariant: the
  *     one exchange carries (bucket, count) pairs, never tokens, and the
  *     per-doc score folds inside the row in token-sorted order (the q109
  *     float discipline — fixed fold order makes the double sum
  *     bit-identical to the oracle's list(ORDER BY) reduce).
  */
object SelectionOps {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)
  private def spread(df: DataFrame): DataFrame = Tables.spread(df, col("doc_id"))

  // ---- q118: token chunking with overlap (RAG / context packing) -------
  private val ChunkW = 32 // window tokens
  private val ChunkS = 24 // stride tokens (8-token overlap)

  // ---- q119: bigram-LM average negative log-likelihood -----------------
  // P(b|a) = (C(a b) + 1) / (C(a ·) + V): add-one smoothing, C(a ·) the
  // count of `a` as a bigram FIRST element (so probabilities sum to 1 over
  // the vocab), V the corpus distinct-token count.

  // ---- q120: DSIR importance log-ratio ---------------------------------
  // Feature = md5-hash bucket of each token instance, 256 buckets; target
  // distribution = the 'src0' slice of the corpus. Per-doc score
  // Σ_tok ln[(T_b+1)/(T+256)] − ln[(C_b+1)/(C+256)] — positive means the
  // doc looks more like the target than like the corpus average.
  private[graft] val DsirNBuckets = 256
  private[graft] val DsirTarget = "src0"

  // ---- q125: Gumbel top-k importance resampling ------------------------
  // The RESAMPLE half of DSIR: draw a weighted-without-replacement sample
  // of size k from the q120 importance weights via the Gumbel-top-k trick
  // (key = w/τ + Gumbel noise; the top k keys ARE a temperature-τ sample).
  // Noise is md5-derived, so the "random" sample is bit-reproducible.
  private val ResampleTau = 2.0
  private val ResampleK = 100

  // ---- q182: interpolated Kneser–Ney bigram LM --------------------------
  // The actual KenLM/CCNet quality-gate model (Kneser & Ney 1995; Chen &
  // Goodman 1998 "An Empirical Study of Smoothing Techniques", §2.7
  // interpolated form), upgrading q119's add-one baseline:
  //   P(b|a) = (max(C(ab)−D, 0) + D·N1+(a·)·Pc(b)) / C(a·)   if C(a·) > 0
  //          = Pc(b)                                          otherwise
  //   Pc(b)  = (N1+(·b) + 1) / (N1+(··) + V)
  // where C(ab) are bigram counts, C(a·)=Σ_b C(ab), N1+(a·) the distinct
  // continuations of a, N1+(·b) the distinct left-contexts of b ("how many
  // contexts has b completed" — the Kneser–Ney continuation count), and
  // N1+(··) the distinct-bigram total. The continuation distribution is
  // add-one smoothed over the V-token vocabulary so unseen words keep
  // nonzero mass; with that, Σ_b P(b|a) = 1 exactly (Σ_b max(C(ab)−D,0) =
  // C(a·) − D·N1+(a·) and Σ_b Pc(b) = 1). D = 0.75 — the standard absolute
  // discount, chosen as a binary-exact double so the one fixed-shape float
  // expression evaluates bit-identically on any engine.
  private[graft] val KnD = 0.75

  // ---- q119: pruned-LM size cap ----------------------------------------
  // The bigram LM and first-token counts keep only the top-LmTopK entries
  // by (count desc, key asc) — fixed-size driver artifacts at any corpus
  // (Heaps'-law vocab² would otherwise grow unbounded); pruned entries
  // back off to count 0 under add-one smoothing. On a real Zipf corpus
  // the head holds the mass, so 64k entries ≈ the full model; the
  // SYNTHETIC gate corpus is the opposite shape (31 tokens, ~all 961
  // bigrams realized near-uniformly — rank-pruning it would just erase
  // the model), so there the cap sits above the realized vocabulary and
  // the pruning RULE is pinned by its own skewed-fixture spec
  // (SelectionOpsSpec "prunedTopK") while the oracle carries the same
  // LIMIT for engine parity.
  private[graft] val LmTopK = 65536

  /** The q119 artifact rule, factored for spec-level pinning: top-k
    * (count desc, key asc) over a (key, count) frame, fetched as a
    * TakeOrdered bounded collect. Callers pass a pre-aggregated counts
    * frame so one corpus pass can feed several pruned artifacts. */
  private[graft] def prunedTopK(counts: DataFrame, k: Int)
      : Array[(String, Long)] =
    counts.toDF("k", "c")
      .orderBy(col("c").desc, col("k")).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  val defs: Map[String, Q] = Map(

    "q118_chunk_overlap" -> ((s, dir) => {
      spread(t(s, dir, "documents"))
        .filter(TextOps.tokenCountCol > 0)
        .select(col("doc_id"), TextOps.tokensCol.as("t"))
        .withColumn("n", size(col("t")))
        .withColumn("nch",
          when(col("n") <= ChunkW, lit(1L))
            .otherwise(ceil((col("n") - lit(ChunkW)) / lit(ChunkS.toDouble))
              .cast("long") + 1L)
            .cast("int"))
        .select(col("doc_id"), col("n"),
          posexplode(transform(sequence(lit(0), col("nch") - 1),
            i => array_join(slice(col("t"), i * ChunkS + 1, lit(ChunkW)), " ")))
            .as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
          least(lit(ChunkW), col("n") - col("chunk_id") * ChunkS)
            .cast("int").as("n_toks"),
          col("chunk"))
    }),

    "q119_lm_perplexity" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), TextOps.tokensCol.as("t"))
      val bigs = zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))
      val withBigs = docs.filter(size(col("t")) >= 2)
        .select(col("doc_id"), bigs.as("bigs"))
      // BOUNDED dimension artifacts (r7): the LM is PRUNED to the top
      // LmTopK bigram counts and top LmTopK first-token counts — rank =
      // (count desc, key asc), the deterministic order both engines
      // share — so the driver artifact is fixed-size at ANY corpus (the
      // standard n-gram model pruning; a pruned/unseen entry backs off
      // to count 0 under the add-one smoothing). ONE corpus pass builds
      // the (bigram, count) table — the intermediate every LM trainer
      // materializes — pinned by localCheckpoint; both artifacts are
      // then TakeOrdered heaps over it (first-token counts = per-first
      // SUMS of the bigram counts, exact), never a vocab²-sized collect.
      val bgCounts = withBigs.select(explode(col("bigs")).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val bgMap = prunedTopK(bgCounts, LmTopK).toMap
      val firstMap = prunedTopK(
        bgCounts.groupBy(substring_index(col("bg"), " ", 1).as("a"))
          .agg(sum(col("c")).as("c")), LmTopK).toMap
      val vocab = docs.select(explode(col("t")).as("tok"))
        .agg(countDistinct("tok")).collect().head.getLong(0)
      val mBg = typedLit(bgMap)
      val mFirst = typedLit(firstMap)
      // in-row: position-ordered fold of ln P(b|a) over the bigram array
      val lr = (bg: Column) =>
        log((coalesce(element_at(mBg, bg), lit(0L)) + 1L).cast("double") /
          (coalesce(element_at(mFirst, substring_index(bg, " ", 1)), lit(0L))
            + vocab).cast("double"))
      withBigs
        .select(col("doc_id"), size(col("bigs")).as("n_bigrams"),
          aggregate(transform(col("bigs"), lr), lit(0.0),
            (acc, x) => acc + x).as("ll"))
        .select(col("doc_id"), col("n_bigrams"),
          round(-col("ll") / col("n_bigrams").cast("double"), 6).as("avg_nll"))
    }),

    "q120_dsir_weight" -> dsirWeights,

    "q125_importance_resample" -> ((s, dir) => gumbelTopKOf(dsirWeights(s, dir))),

    // Interpolated Kneser–Ney bigram perplexity (see [[KnD]] for the
    // model). Same artifact discipline as q119: ONE corpus pass builds the
    // (bigram, count) table (localCheckpoint-pinned), the model prunes to
    // the top-LmTopK bigrams, and EVERY derived statistic (C(a·), N1+(a·),
    // N1+(·b), N1+(··)) folds driver-side from that one bounded array —
    // so both engines score against literally the same pruned model, and
    // the artifact stays fixed-size at any corpus. Scoring is an in-row
    // position-ordered fold over the doc's bigram array: zero additional
    // exchanges past the count agg — the broadcast-KenLM shape at cluster
    // scale.
    "q182_kn_perplexity" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), TextOps.tokensCol.as("t"))
      val bigs = zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))
      val withBigs = docs.filter(size(col("t")) >= 2)
        .select(col("doc_id"), bigs.as("bigs"))
      val bgCounts = withBigs.select(explode(col("bigs")).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val pruned = prunedTopK(bgCounts, LmTopK)
      // tokens are split on ' ' so a bigram key has exactly one space
      val bgMap = pruned.toMap
      val byFirst = pruned.groupBy(_._1.takeWhile(_ != ' '))
      val caMap = byFirst.map { case (a, xs) => a -> xs.map(_._2).sum }
      val n1aMap = byFirst.map { case (a, xs) => a -> xs.length.toLong }
      val n1bMap = pruned.groupBy(_._1.dropWhile(_ != ' ').drop(1))
        .map { case (b, xs) => b -> xs.length.toLong }
      val bb = pruned.length.toLong
      val vocab = docs.select(explode(col("t")).as("tok"))
        .agg(countDistinct("tok")).collect().head.getLong(0)
      val (mBg, mCa, mN1a, mN1b) =
        (typedLit(bgMap), typedLit(caMap), typedLit(n1aMap), typedLit(n1bMap))
      // ONE fixed-shape float expression, mirrored token-for-token in the
      // oracle SQL so IEEE evaluation order matches bit-for-bit
      val lp = (bg: Column) => {
        val a = substring_index(bg, " ", 1)
        val b = substring_index(bg, " ", -1)
        val cab = coalesce(element_at(mBg, bg), lit(0L)).cast("double")
        val ca = coalesce(element_at(mCa, a), lit(0L))
        val n1a = coalesce(element_at(mN1a, a), lit(0L)).cast("double")
        val pc = (coalesce(element_at(mN1b, b), lit(0L)) + 1L).cast("double") /
          lit((bb + vocab).toDouble)
        log(when(ca > 0L,
          (greatest(cab - lit(KnD), lit(0.0)) + lit(KnD) * n1a * pc) /
            ca.cast("double"))
          .otherwise(pc))
      }
      withBigs
        .select(col("doc_id"), size(col("bigs")).as("n_bigrams"),
          aggregate(transform(col("bigs"), lp), lit(0.0),
            (acc, x) => acc + x).as("ll"))
        .select(col("doc_id"), col("n_bigrams"),
          round(-col("ll") / col("n_bigrams").cast("double"), 6).as("avg_nll"))
    }))

  /** Gumbel top-k importance resample over a DSIR-weights frame
    * (doc_id, source, dsir_lr) — the q125 operator, parametrized so
    * pipeline compositions (q136) can resample a derived stage.
    *
    * u in (0,1) from the top 8 md5 nibbles; Gumbel = -ln(-ln(u)).
    * Scale shape: scoring is in-row on top of the weights plan; the top-k
    * plans as a TakeOrderedAndProject (per-partition heaps, no global
    * sort) as long as at most ONE Project sits between the limit and the
    * sort once the consumer's projections are pushed through the limit —
    * two stacked ones fall back to a sampled range-partitioned sort, which
    * scores every row a second time (q136's consumer,
    * [[TrainOps.trainOrderOf]], projects once; SelectionOpsSpec pins both
    * q125 and q136). The rank window runs AFTER the limit, over k rows
    * only, and a consumer that does not read `rank` prunes it. */
  private[graft] def gumbelTopKOf(w: DataFrame): DataFrame = {
    val g = -log(-log(
      (Kernels.Md5U32(concat(lit("g|"), col("doc_id").cast("string")))
        .cast("double") + 0.5) / 4294967296.0))
    w.withColumn("samp_key", col("dsir_lr") / ResampleTau + g)
      .orderBy(col("samp_key").desc, col("doc_id")).limit(ResampleK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("samp_key").desc,
          col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("source"),
        round(col("samp_key"), 6).as("samp_key"))
  }

  private def dsirWeights: Q = (s, dir) =>
    dsirWeightsOf(spread(t(s, dir, "documents")))

  /** DSIR importance weights over any (doc_id, source, text) frame — the
    * q120 operator parametrized by its input stage.
    *
    * Two passes over `base`. The bucket-count pass is the operator's one
    * eager job: it explodes each document's native token buckets
    * ([[graft.functions.Kernels.DsirBuckets]]) into one skinny (bucket, count)
    * exchange and a 256-row collect. The driver turns the counts into the
    * 256 log-ratios ln[(T_b+1)(C+256) / ((C_b+1)(T+256))] — integer
    * products in Long, `StrictMath.log` as Spark's `log` evaluates it —
    * and the scoring pass is one [[graft.functions.Kernels.DsirScore]] call per
    * row, which folds that table over the document's tokens in sorted
    * order (NULL for a bucket with no count, as a map lookup gives). The
    * empty-document filter counts tokens without building the array. */
  private[graft] def dsirWeightsOf(base: DataFrame): DataFrame = {
    val docs = base.filter(TextOps.tokenCountCol > 0)
      .select(col("doc_id"), col("source"), TextOps.tokensCol.as("t"))
    val counts = docs
      .select(col("source"), explode(Kernels.DsirBuckets(col("t"))).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cb"),
        sum(when(col("source") === DsirTarget, 1L).otherwise(0L)).as("tb"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    docs
      .select(col("doc_id"), col("source"), size(col("t")).as("n_tokens"),
        round(Kernels.DsirScore(col("t"), typedLit(dsirLogRatios(counts))),
          6).as("dsir_lr"))
  }

  /** The per-bucket log-ratio table of bucket → (C_b, T_b) counts; None
    * for a bucket with no count. */
  private[graft] def dsirLogRatios(
      counts: Map[Int, (Long, Long)]): Seq[Option[Double]] = {
    val cTot = counts.values.map(_._1).sum + DsirNBuckets
    val tTot = counts.values.map(_._2).sum + DsirNBuckets
    (0 until DsirNBuckets).map(b => counts.get(b).map { case (cb, tb) =>
      StrictMath.log(((tb + 1) * cTot).toDouble / ((cb + 1) * tTot).toDouble)
    })
  }

  /** The q120 oracle text — also embedded as q125's derived table.
    * Parametrized by the input relation for pipeline composition (q136). */
  private[graft] def oracleDsirFrom(from: String): String =
    s"""WITH toks AS (SELECT doc_id, source, $sqlTokens AS t
       |  FROM $from WHERE len($sqlTokens) > 0),
       |e AS (SELECT doc_id, source, unnest(t) AS tok FROM toks),
       |bk AS (SELECT doc_id, source, tok,
       |    ${sqlHex4("md5(tok)")} % $DsirNBuckets AS b FROM e),
       |c AS (SELECT b, CAST(count(*) AS BIGINT) AS cb,
       |    CAST(count(*) FILTER (WHERE source = '$DsirTarget') AS BIGINT)
       |      AS tb
       |  FROM bk GROUP BY 1),
       |tot AS (SELECT CAST(sum(cb) + $DsirNBuckets AS BIGINT) AS ct,
       |    CAST(sum(tb) + $DsirNBuckets AS BIGINT) AS tt FROM c),
       |lr AS (SELECT bk.doc_id, bk.tok,
       |    ln(CAST((c.tb + 1) * tot.ct AS DOUBLE) /
       |       CAST((c.cb + 1) * tot.tt AS DOUBLE)) AS l
       |  FROM bk JOIN c ON bk.b = c.b CROSS JOIN tot)
       |SELECT t2.doc_id, any_value(t2.source) AS source,
       |  CAST(any_value(len(t2.t)) AS INT) AS n_tokens,
       |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(lr.l ORDER BY lr.tok)), (a, b) -> a + b), 6) AS dsir_lr
       |FROM lr JOIN toks t2 ON lr.doc_id = t2.doc_id
       |GROUP BY t2.doc_id""".stripMargin

  private def oracleDsir: String = oracleDsirFrom("documents")

  /** The q125 oracle text over any DSIR-weights derived table —
    * parametrized for pipeline composition (q136). */
  private[graft] def oracleGumbelFrom(dsirSql: String): String =
    s"""WITH w AS (SELECT * FROM ($dsirSql)),
       |g0 AS (SELECT doc_id, source, dsir_lr,
       |    md5('g|' || CAST(doc_id AS VARCHAR)) AS gh FROM w),
       |k AS (SELECT doc_id, source,
       |    dsir_lr / $ResampleTau - ln(-ln(
       |      ((${sqlHex4("substr(gh, 1, 4)")} * 65536.0 +
       |        ${sqlHex4("substr(gh, 5, 4)")}) + 0.5) / 4294967296.0))
       |      AS samp_key
       |  FROM g0),
       |r AS (SELECT doc_id, source, samp_key,
       |    row_number() OVER (ORDER BY samp_key DESC, doc_id) AS rank
       |  FROM k)
       |SELECT CAST(rank AS INT) AS rank, doc_id, source,
       |  round(samp_key, 6) AS samp_key
       |FROM r WHERE rank <= $ResampleK""".stripMargin

  val oracles: Map[String, String] = Map(

    "q120_dsir_weight" -> oracleDsir,

    "q125_importance_resample" -> oracleGumbelFrom(oracleDsirFrom("documents")),

    "q118_chunk_overlap" ->
      s"""WITH toks AS (SELECT doc_id, $sqlTokens AS t FROM documents),
         |d AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
         |c AS (SELECT doc_id, t, n,
         |    CASE WHEN n <= $ChunkW THEN 1
         |         ELSE CAST(ceil((n - $ChunkW) / $ChunkS.0) AS BIGINT) + 1
         |    END AS nch
         |  FROM d),
         |u AS (SELECT doc_id, t, n, unnest(range(nch)) AS i FROM c)
         |SELECT doc_id, CAST(i AS INT) AS chunk_id,
         |  CAST(least($ChunkW, n - i * $ChunkS) AS INT) AS n_toks,
         |  array_to_string(t[(i*$ChunkS+1):(i*$ChunkS+$ChunkW)], ' ') AS chunk
         |FROM u""".stripMargin,

    "q119_lm_perplexity" ->
      s"""WITH toks AS (SELECT doc_id, $sqlTokens AS t FROM documents),
         |p AS (SELECT doc_id, list_transform(
         |    list_zip(t[1:len(t)-1], t[2:len(t)]),
         |    q -> q[1] || ' ' || q[2]) AS bigs
         |  FROM toks WHERE len(t) >= 2),
         |x AS (SELECT doc_id, i, bigs[CAST(i + 1 AS INT)] AS bg
         |  FROM (SELECT doc_id, bigs, unnest(range(len(bigs))) AS i FROM p)),
         |bc AS (SELECT bg, c FROM (
         |    SELECT bg, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY 1)
         |  ORDER BY c DESC, bg LIMIT $LmTopK),
         |fc AS (SELECT a, c FROM (
         |    SELECT string_split(bg, ' ')[1] AS a,
         |      CAST(count(*) AS BIGINT) AS c FROM x GROUP BY 1)
         |  ORDER BY c DESC, a LIMIT $LmTopK),
         |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
         |  FROM (SELECT unnest(t) AS tok FROM toks)),
         |lr AS (SELECT x.doc_id, x.i,
         |    ln(CAST(coalesce(bc.c, 0) + 1 AS DOUBLE) /
         |       CAST(coalesce(fc.c, 0) + v.v AS DOUBLE)) AS l
         |  FROM x LEFT JOIN fc ON string_split(x.bg, ' ')[1] = fc.a
         |    LEFT JOIN bc ON x.bg = bc.bg CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
         |  round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(l ORDER BY i)), (a, b) -> a + b) / count(*), 6) AS avg_nll
         |FROM lr GROUP BY doc_id""".stripMargin,

    // q182: interpolated Kneser–Ney — the pruned bigram table `bc` is the
    // single model artifact; fc/sc/k derive from IT (not the raw counts),
    // exactly like the Spark side folds its maps from the one prunedTopK
    // array. The scoring expression mirrors the Spark Column shape
    // token-for-token (same parenthesization → same IEEE result).
    "q182_kn_perplexity" ->
      s"""WITH toks AS (SELECT doc_id, $sqlTokens AS t FROM documents),
         |p AS (SELECT doc_id, list_transform(
         |    list_zip(t[1:len(t)-1], t[2:len(t)]),
         |    q -> q[1] || ' ' || q[2]) AS bigs
         |  FROM toks WHERE len(t) >= 2),
         |x AS (SELECT doc_id, i, bigs[CAST(i + 1 AS INT)] AS bg
         |  FROM (SELECT doc_id, bigs, unnest(range(len(bigs))) AS i FROM p)),
         |bc AS (SELECT bg, c FROM (
         |    SELECT bg, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY 1)
         |  ORDER BY c DESC, bg LIMIT $LmTopK),
         |fc AS (SELECT string_split(bg, ' ')[1] AS a,
         |    CAST(sum(c) AS BIGINT) AS ca, CAST(count(*) AS BIGINT) AS n1a
         |  FROM bc GROUP BY 1),
         |sc AS (SELECT string_split(bg, ' ')[2] AS b,
         |    CAST(count(*) AS BIGINT) AS n1b
         |  FROM bc GROUP BY 1),
         |k AS (SELECT CAST(count(*) AS BIGINT) AS bb FROM bc),
         |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
         |  FROM (SELECT unnest(t) AS tok FROM toks)),
         |lr AS (SELECT x.doc_id, x.i,
         |    ln(CASE WHEN coalesce(fc.ca, 0) > 0 THEN
         |        (greatest(CAST(coalesce(bc.c, 0) AS DOUBLE) - $KnD, 0.0)
         |         + $KnD * CAST(coalesce(fc.n1a, 0) AS DOUBLE)
         |           * (CAST(coalesce(sc.n1b, 0) + 1 AS DOUBLE)
         |              / CAST(k.bb + v.v AS DOUBLE)))
         |        / CAST(fc.ca AS DOUBLE)
         |      ELSE CAST(coalesce(sc.n1b, 0) + 1 AS DOUBLE)
         |           / CAST(k.bb + v.v AS DOUBLE) END) AS l
         |  FROM x LEFT JOIN bc ON x.bg = bc.bg
         |    LEFT JOIN fc ON string_split(x.bg, ' ')[1] = fc.a
         |    LEFT JOIN sc ON string_split(x.bg, ' ')[2] = sc.b
         |    CROSS JOIN k CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
         |  round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(l ORDER BY i)), (a, b) -> a + b) / count(*), 6) AS avg_nll
         |FROM lr GROUP BY doc_id""".stripMargin)
}
