package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.LshIndex

/** Training-data pipeline pack #7: curation QA / diagnostics — the
  * reports a data team reads BEFORE signing off a corpus build: where the
  * near-duplicates concentrate, how sensitive the dedup verdict is to its
  * threshold, and how much content actually drifted between snapshots.
  *
  * All three COMPOSE already-gated operators (q29's verified LSH pairs,
  * q117's snapshot synthesis), so the diagnostics inherit audited plans
  * and add only short-key aggregations:
  *   - q128 reuses the pairs pipeline and ships (doc_id) / (source, count)
  *     rows — never text — through its joins;
  *   - q129 scores drift IN-ROW (both snapshot texts derive from the same
  *     scanned row; shingle sets + Jaccard never leave it): zero exchange;
  *   - q130 explodes a 5-element threshold grid over the pairs' jaccard
  *     column — one (threshold, partials) exchange. Survivor stats are
  *     min/max (order-free exact on doubles), deliberately NOT a mean: a
  *     shuffled double mean is bit-nondeterministic (the q109 discipline).
  */
object QaOps {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  // ---- q129: snapshot content drift ------------------------------------
  // Three deterministic revision flavors: a prepended banner (high
  // jaccard), an appended correction (high), a global word substitution
  // (low) — so the drift report spans the verdict boundary at any SF.
  private val DriftSynth =
    """CASE WHEN doc_id % 3 = 0 THEN 'breaking news update ' || text
      |     WHEN doc_id % 3 = 1 THEN text || ' appended correction rev2'
      |     ELSE replace(text, 'a', 'the') END""".stripMargin
  private val DriftThreshold = 0.8

  // ---- q130: dedup threshold sensitivity -------------------------------
  private val JaccardGrid = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  private def toks(c: Column): Column = graft.queries.TextOps.tokensOf(c)

  val defs: Map[String, Q] = Map(

    "q128_neardup_rate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = LshIndex.pairs(docs, LshIndex.SetMinHash)
      // docs touched by ANY verified pair; the joins ship ids + source
      val involved = pairs
        .select(explode(array(col("doc_id_a"), col("doc_id_b")))
          .as("doc_id"))
        .distinct()
      val bySrc = involved
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source").agg(count(lit(1)).as("nd"))
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(bySrc, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("nd"), lit(0L)).as("n_dup_docs"),
          round(coalesce(col("nd"), lit(0L)).cast("double") / col("n_docs"),
            6).as("dup_rate"))
    }),

    "q129_snapshot_drift" -> ((s, dir) => {
      val shA = TextOps.shinglesCol(toks(col("text")))
      val shB = TextOps.shinglesCol(toks(expr(s"($DriftSynth)")))
      t(s, dir, "documents")
        .select(col("doc_id"), shA.as("sh_a"), shB.as("sh_b"))
        .withColumn("n_inter",
          size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("n_union",
          size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))
        .withColumn("jaccard",
          when(col("n_union") === 0, lit(1.0))
            .otherwise(col("n_inter").cast("double") /
              col("n_union").cast("double")))
        .select(col("doc_id"), size(col("sh_a")).as("n_sh_a"),
          size(col("sh_b")).as("n_sh_b"), round(col("jaccard"), 6)
            .as("jaccard"),
          when(col("jaccard") < DriftThreshold, lit("rededup"))
            .otherwise(lit("stable")).as("verdict"))
    }),

    "q130_dedup_sensitivity" -> ((s, dir) => {
      LshIndex.pairs(t(s, dir, "documents"), LshIndex.SetMinHash)
        .select(col("jaccard"),
          explode(typedLit(JaccardGrid)).as("threshold"))
        .groupBy("threshold")
        .agg(
          sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
            .as("n_pairs"),
          round(min(when(col("jaccard") >= col("threshold"),
            col("jaccard"))), 6).as("min_jaccard"),
          round(max(when(col("jaccard") >= col("threshold"),
            col("jaccard"))), 6).as("max_jaccard"))
    }),

    // Asymmetric CONTAINMENT detection (quote-inclusion dedup): doc A is
    // contained in doc B when ≥80% of A's 8-token spans appear in B —
    // the case resemblance-LSH (q29) structurally misses, because a
    // short doc quoted inside a long one has tiny Jaccard but
    // containment ≈ 1 (Broder 1997's containment coefficient
    // |S(A)∩S(B)|/|S(A)|). The gate synthesizes guaranteed containments:
    // every ≥20-token doc contributes a "quote doc" of its first 40% of
    // tokens (id + 1e8), both engines deriving the same corpus. Scale
    // shape: spans fold in-row (SpanHashes kernel, text never shuffles),
    // one (h, [(doc, n_spans)]) exchange with the df∈[2,8] bucket cap —
    // the band-cap discipline: a boilerplate span shared by thousands of
    // docs is dropped, bounding every bucket to ≤28 in-row pairs — and
    // one short-key pair aggregation. n_spans rides the explode payload,
    // so no join back to the corpus anywhere.
    "q138_containment" -> ((s, dir) => {
      val idOff = 100000000L
      val docs = t(s, dir, "documents")
      val quotes = docs
        .select(col("doc_id"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 20)
        .select((col("doc_id") + idOff).as("doc_id"),
          array_join(slice(col("t"), lit(1),
            expr("(size(t) * 2) div 5").cast("int")), " ").as("text"))
      val corpus = docs.select("doc_id", "text").union(quotes)
      val spans = Tables.spread(corpus, col("doc_id"))
        .select(col("doc_id"),
          graft.functions.TextExpressions.spanHashes(col("text"), 8)
            .as("sh"))
        .filter(size(col("sh")) >= 8)
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_spans"),
          explode(col("sh")).as("h"))
      val cA = col("n_common") / col("na").cast("double")
      val cB = col("n_common") / col("nb").cast("double")
      spans.groupBy("h")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("n_spans"))))
          .as("ds"))
        .filter(size(col("ds")).between(2, 8))
        .select(explode(expr(
          "flatten(transform(ds, (x, i) -> " +
            "transform(slice(ds, i + 2, size(ds)), y -> " +
            "struct(x.doc_id AS a, x.n_spans AS na, " +
            "y.doc_id AS b, y.n_spans AS nb))))")).as("p"))
        .select(col("p.a").as("a"), col("p.na").as("na"),
          col("p.b").as("b"), col("p.nb").as("nb"))
        .groupBy("a", "na", "b", "nb").agg(count(lit(1)).as("n_common"))
        .filter(greatest(cA, cB) >= 0.8)
        .select(
          when(cA >= cB, col("a")).otherwise(col("b")).as("contained_id"),
          when(cA >= cB, col("b")).otherwise(col("a")).as("container_id"),
          col("n_common"),
          round(greatest(cA, cB), 6).as("containment"))
    }),

    // Benchmark decontamination: flag training docs sharing 3-gram
    // shingles with the held-out evaluation set (the GPT-3/PaLM-style
    // n-gram overlap scrub every pretraining corpus runs before release).
    // The gate synthesizes the eval split as doc_id % 97 = 0 (~1% of the
    // corpus) and — the q138 discipline — guaranteed leaks: every ≥6-token
    // eval doc contributes a train doc of its first half (id + 2e8),
    // whose shingle set is a subset of the eval set (overlap_frac = 1.0,
    // verdict 'drop' at ANY scale factor), while organic trigram
    // collisions stay far below the 0.2 bar — both branches exercised,
    // SF-independently. In production the eval side is a FIXED benchmark
    // suite — a bounded dimension artifact at ANY corpus scale, which is
    // why (unlike the q134 vocabulary) the broadcast hint is honest here:
    // eval suites are ~MBs by construction, independent of training-corpus
    // size. Scale shape: shingles fold in-row (native kernel, text never
    // shuffles), the train side meets the broadcast hash set with ZERO
    // exchange, and the one corpus exchange is the per-doc overlap agg
    // whose map side collapses to ~1 row per doc (scan rows arrive
    // doc-contiguous). Shingle arrays are distinct per doc, so count(*)
    // after the semi-join = distinct shared shingles without a (doc, sh)
    // distinct.
    "q140_decontamination" -> ((s, dir) => {
      val leakOff = 200000000L
      val docs = t(s, dir, "documents")
      val sh = graft.functions.TextExpressions.shingles3(col("text"))
      val evalDocs = docs.filter(col("doc_id") % 97 === 0)
      val leaked = evalDocs
        .select(col("doc_id"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 6)
        .select((col("doc_id") + leakOff).as("doc_id"),
          array_join(slice(col("t"), lit(1),
            expr("size(t) div 2").cast("int")), " ").as("text"))
      val bench = evalDocs.select(explode(sh).as("sh")).distinct()
      val train = docs.filter(col("doc_id") % 97 =!= 0)
        .select("doc_id", "text").union(leaked)
      Tables.spread(train, col("doc_id"))
        .select(col("doc_id"), size(sh).as("n_sh"), explode(sh).as("sh"))
        .join(broadcast(bench), "sh")
        .groupBy("doc_id", "n_sh")
        .agg(count(lit(1)).as("n_overlap"))
        .select(col("doc_id"), col("n_sh"), col("n_overlap"),
          round(col("n_overlap").cast("double") / col("n_sh"), 6)
            .as("overlap_frac"),
          when(col("n_overlap").cast("double") / col("n_sh") >= 0.2,
            lit("drop")).otherwise(lit("review")).as("verdict"))
    }))

  private val sqlTokens = "list_filter(string_split(text, ' '), x -> x <> '')"
  private def sqlToksOf(e: String) =
    s"list_filter(string_split($e, ' '), x -> x <> '')"

  val oracles: Map[String, String] = Map(

    "q128_neardup_rate" ->
      s"""WITH pairs AS (${TextOps.oracles("q29_minhash_pairs")}),
         |inv AS (SELECT DISTINCT doc_id FROM (
         |  SELECT doc_id_a AS doc_id FROM pairs
         |  UNION ALL SELECT doc_id_b FROM pairs)),
         |b AS (SELECT d.source, CAST(count(*) AS BIGINT) AS nd
         |  FROM inv JOIN documents d USING (doc_id) GROUP BY 1),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT tot.source, tot.n_docs,
         |  CAST(coalesce(b.nd, 0) AS BIGINT) AS n_dup_docs,
         |  round(coalesce(b.nd, 0) / CAST(tot.n_docs AS DOUBLE), 6)
         |    AS dup_rate
         |FROM tot LEFT JOIN b USING (source)""".stripMargin,

    "q129_snapshot_drift" ->
      s"""WITH s AS (SELECT doc_id,
         |    ${TextOps.sqlShingles(sqlTokens)} AS sh_a,
         |    ${TextOps.sqlShingles(sqlToksOf(s"($DriftSynth)"))} AS sh_b
         |  FROM documents),
         |j AS (SELECT doc_id, len(sh_a) AS n_sh_a, len(sh_b) AS n_sh_b,
         |    len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS ni,
         |    len(sh_a) + len(sh_b)
         |      - len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS nu
         |  FROM s),
         |k AS (SELECT doc_id, n_sh_a, n_sh_b,
         |    CASE WHEN nu = 0 THEN 1.0
         |         ELSE ni / CAST(nu AS DOUBLE) END AS jaccard
         |  FROM j)
         |SELECT doc_id, CAST(n_sh_a AS INT) AS n_sh_a,
         |  CAST(n_sh_b AS INT) AS n_sh_b,
         |  round(jaccard, 6) AS jaccard,
         |  CASE WHEN jaccard < $DriftThreshold THEN 'rededup'
         |       ELSE 'stable' END AS verdict
         |FROM k""".stripMargin,

    "q130_dedup_sensitivity" ->
      s"""WITH pairs AS (${TextOps.oracles("q29_minhash_pairs")}),
         |th AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
         |    AS threshold)
         |SELECT th.threshold,
         |  CAST(count(*) FILTER (WHERE jaccard >= threshold) AS BIGINT)
         |    AS n_pairs,
         |  round(min(jaccard) FILTER (WHERE jaccard >= threshold), 6)
         |    AS min_jaccard,
         |  round(max(jaccard) FILTER (WHERE jaccard >= threshold), 6)
         |    AS max_jaccard
         |FROM pairs CROSS JOIN th
         |GROUP BY th.threshold""".stripMargin,

    // the same synthesized corpus, span set, bucket cap and containment
    // arithmetic, restated relationally (self-join on the capped span
    // hash instead of the in-bucket pair explode)
    "q138_containment" ->
      s"""WITH qsrc AS (
         |  SELECT doc_id, $sqlTokens AS t FROM documents),
         |corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000000,
         |    array_to_string(t[1:(len(t) * 2) // 5], ' ')
         |  FROM qsrc WHERE len(t) >= 20),
         |base AS (
         |  SELECT doc_id, ${sqlToksOf("text")} AS toks FROM corpus),
         |spd AS (
         |  SELECT doc_id, list_distinct(
         |    CASE WHEN len(toks) >= 8
         |    THEN list_transform(range(1, len(toks) - 6),
         |           i -> array_to_string(toks[i:i+7], ' '))
         |    ELSE [] END) AS sps FROM base),
         |flt AS (
         |  SELECT doc_id, CAST(len(sps) AS BIGINT) AS n_spans, sps
         |  FROM spd WHERE len(sps) >= 8),
         |sp AS (
         |  SELECT doc_id, n_spans, md5(unnest(sps)) AS h FROM flt),
         |capped AS (
         |  SELECT h FROM sp GROUP BY h HAVING count(*) BETWEEN 2 AND 8),
         |pairs AS (
         |  SELECT a.doc_id AS a, a.n_spans AS na,
         |    b.doc_id AS b, b.n_spans AS nb,
         |    CAST(count(*) AS BIGINT) AS n_common
         |  FROM sp a
         |  JOIN capped c ON a.h = c.h
         |  JOIN sp b ON b.h = a.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT
         |  CASE WHEN n_common / CAST(na AS DOUBLE)
         |         >= n_common / CAST(nb AS DOUBLE) THEN a ELSE b END
         |    AS contained_id,
         |  CASE WHEN n_common / CAST(na AS DOUBLE)
         |         >= n_common / CAST(nb AS DOUBLE) THEN b ELSE a END
         |    AS container_id,
         |  n_common,
         |  round(greatest(n_common / CAST(na AS DOUBLE),
         |    n_common / CAST(nb AS DOUBLE)), 6) AS containment
         |FROM pairs
         |WHERE greatest(n_common / CAST(na AS DOUBLE),
         |  n_common / CAST(nb AS DOUBLE)) >= 0.8""".stripMargin,

    "q140_decontamination" ->
      s"""WITH ev AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         |evt AS (SELECT doc_id, $sqlTokens AS t FROM ev),
         |train AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
         |  UNION ALL
         |  SELECT doc_id + 200000000,
         |    array_to_string(t[1:len(t) // 2], ' ')
         |  FROM evt WHERE len(t) >= 6),
         |bench AS (
         |  SELECT DISTINCT unnest(${TextOps.sqlShingles(sqlTokens)}) AS sh
         |  FROM ev),
         |ex AS (
         |  SELECT doc_id, CAST(len(sh) AS INT) AS n_sh, unnest(sh) AS sh
         |  FROM (SELECT doc_id, ${TextOps.sqlShingles(sqlTokens)} AS sh
         |    FROM train)),
         |hits AS (
         |  SELECT e.doc_id, e.n_sh, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM ex e JOIN bench b ON e.sh = b.sh
         |  GROUP BY 1, 2)
         |SELECT doc_id, n_sh, n_overlap,
         |  round(n_overlap / CAST(n_sh AS DOUBLE), 6) AS overlap_frac,
         |  CASE WHEN n_overlap / CAST(n_sh AS DOUBLE) >= 0.2 THEN 'drop'
         |       ELSE 'review' END AS verdict
         |FROM hits""".stripMargin)
}
