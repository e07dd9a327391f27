package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables
import graft.queries.OracleSql.{sqlTokens => sqlToks}

/** Event-analytics pack #8: the downstream consumption side of a CDC feed —
  * once changes land in an events table, the questions a data team asks of
  * it are funnels, cohorts, transition matrices, outliers, and
  * budget-constrained selection. Each is a classic large-scale analytics
  * operator with a distinct scale shape worth pinning:
  *
  *   - q147 funnel: the sequential-dependency stage chain (t2 needs t1)
  *     folds IN-ROW over each user's sorted event array — ONE user_id
  *     exchange replaces the oracle's 4 chained join+agg passes;
  *   - q148 retention: first-touch cohort via min-week agg + a
  *     co-partitioned self-join (both sides hash on user_id, AQE reuses
  *     the partitioning) — payload is (user_id, week) longs only;
  *   - q149 transitions: lag window on the same user_id exchange, then a
  *     25-key aggregation — the matrix is type²-bounded at any SF;
  *   - q150 anomalies: 3-sigma outliers with the z-test rearranged into
  *     EXACT integer-cents arithmetic ((xn−S)² > 9(nQ−S²) in decimal) so
  *     the verdict is bit-identical across engines and partition orders —
  *     a shuffled double mean/stddev is last-bit nondeterministic (the
  *     q109/q130 discipline); stats are a 5-row broadcast dimension;
  *   - q151 budget selection: greedy score-ordered prefix under a token
  *     budget as a DISTRIBUTED prefix-sum — range-partition by (score
  *     desc, doc_id), per-partition token totals (≤ shuffle-partitions
  *     rows) become broadcast offsets, and the cumulative sum completes
  *     per-partition in parallel. The naive formulation (a global-ORDER
  *     window) plans a SINGLE-partition sort — the one-reducer
  *     anti-pattern this engine bans at 100 TB.
  */
object AnalyticsOps {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  private val WeekNs = 604800000000000L // 7 * 86400e9, ts is epoch-nanos

  // q196/q198 PageRank knobs: total integer mass and fixed iteration
  // count. S=1e9 keeps per-edge r·w products inside long headroom to
  // ~9e9 transitions per edge; 10 damped iterations is past practical
  // convergence for domain-transition graphs (damping 0.85 contracts
  // error ~0.85^k) and, being FIXED, keeps both engines' fixpoints
  // identical by construction rather than by epsilon.
  private[graft] val PrMass = 1000000000L
  private[graft] val PrIters = 10

  // q198 TrustRank trusted-seed set: teleport mass flows ONLY to these
  // nodes (the curated "known-good domains" list of the web-spam
  // recipe); everything else earns trust exclusively through in-links.
  private[graft] val TrustSeeds = Seq("signup", "purchase")

  private def sqlTrustSeeds: String =
    TrustSeeds.map(s0 => s"'$s0'").mkString(", ")

  /** The q149/q196/q198 transition graph: consecutive event-type pairs
    * per user (ts, event_id order), aggregated to weighted edges with
    * the source's total out-weight riding each row. ONE user-partitioned
    * window + ONE map-side-combined (src,dst) agg; output is
    * |domains|²-sparse-bounded, never event-sized. */
  private def transitionEdges(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(wu))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val outw = trans.groupBy("src").agg(sum("w").as("ow"))
    trans.join(outw, "src").select(col("src"), col("dst"), col("w"), col("ow"))
  }

  /** Funnel stage chain, first-qualifying-timestamp semantics. */
  private val FunnelStages = Seq("signup", "view", "click", "purchase")

  /** Max gap between consecutive funnel stages (24h in ns): stage k
    * qualifies only within this window after stage k−1 — without it every
    * active user eventually hits all four types and the funnel saturates. */
  private val FunnelGapNs = 86400000000000L

  val defs: Map[String, Q] = Map(

    // Ordered-funnel conversion: per user, t1 = first signup, t_k = first
    // stage-k event STRICTLY after t_{k-1} and within the 24h stage gap;
    // report cumulative users per stage. The sequential dependency is
    // resolved in ONE pass: sort each user's events in-row and fold the
    // 4-slot accumulator left-to-right (aggregate HOF, codegen'd) — vs
    // the oracle's 4 chained join+min passes. Per-user arrays are bounded
    // by per-user activity (sessions × events/session), not corpus size.
    "q147_funnel" -> ((s, dir) => {
      val acc0 = struct(
        lit(null).cast("bigint").as("t1"), lit(null).cast("bigint").as("t2"),
        lit(null).cast("bigint").as("t3"), lit(null).cast("bigint").as("t4"))
      def step(acc: Column, e: Column): Column = {
        val ts = e.getField("ts"); val et = e.getField("event_type")
        def adv(cur: Column, prev: Column, stage: String): Column =
          when(cur.isNull && prev.isNotNull && et === stage &&
            ts > prev && ts <= prev + FunnelGapNs, ts).otherwise(cur)
        struct(
          when(acc.getField("t1").isNull && et === FunnelStages(0), ts)
            .otherwise(acc.getField("t1")).as("t1"),
          adv(acc.getField("t2"), acc.getField("t1"), FunnelStages(1)).as("t2"),
          adv(acc.getField("t3"), acc.getField("t2"), FunnelStages(2)).as("t3"),
          adv(acc.getField("t4"), acc.getField("t3"), FunnelStages(3)).as("t4"))
      }
      val perUser = t(s, dir, "events")
        .filter(col("event_type").isin(FunnelStages.map(lit): _*))
        .groupBy("user_id")
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
        .select(aggregate(col("evs"), acc0, step).as("st"))
      val counts = perUser.agg(
        count(col("st.t1")).as("n1"), count(col("st.t2")).as("n2"),
        count(col("st.t3")).as("n3"), count(col("st.t4")).as("n4"))
      counts.select(explode(array(FunnelStages.zipWithIndex.map {
        case (stage, i) => struct(
          lit(i + 1).as("stage_idx"), lit(stage).as("stage"),
          col(s"n${i + 1}").as("n_users"))
      }: _*)).as("r")).select("r.*")
    }),

    // Weekly retention cohorts: cohort = a user's first active week (weeks
    // are epoch-ns div 7d — integer division, no tz/calendar dependence),
    // offset = active week − cohort week, value = distinct active users.
    // Both exchanges hash user_id (agg, then self-join) so the join
    // co-locates; rows in flight are 2–3 longs wide.
    "q148_retention_cohort" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr(s"ts div $WeekNs").as("wk"))
      val first = ev.groupBy("user_id").agg(min("wk").as("cohort_week"))
      ev.join(first, "user_id")
        .groupBy(col("cohort_week"),
          (col("wk") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_users"))
    }),

    // Per-user event-type transition matrix (order-1 Markov estimate):
    // lag window on the user_id exchange, then count per (prev, next) and
    // normalize per prev-type row. The matrix is |types|²-bounded (25
    // cells) at ANY scale; p divides two exact longs → deterministic.
    "q149_event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wp = Window.partitionBy("prev_type")
      t(s, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("p",
          round(col("n").cast("double") / sum("n").over(wp).cast("double"), 6))
    }),

    // Weighted PageRank over q149's transition graph — the importance
    // score crawl-curation pipelines weight domains by (the CommonCrawl
    // harmonic-centrality move) expressed as Spark's iterative fixed
    // point. ALL arithmetic is integer (mass scale S=1e9, per-edge
    // contribution floor((r·w)/ow), teleport (r0·15 + 85·Σc) div 100), so
    // every iteration is order-free exact and the result bit-matches the
    // oracle's recursive CTE under any partitioning. Scale shape: the
    // graph builds from ONE user-partitioned lead window + a (src,dst)
    // agg whose output is |domains|²-sparse-bounded; each of the 10
    // iterations is ONE join + ONE map-side-combined agg (the zero-weight
    // self-edge per node carries the teleport term, so nodes without
    // in-edges need no second pass). Unlike q46's propagation, the
    // iteration count is FIXED — no per-round driver decision — so the
    // whole fixpoint stays ONE declarative plan over the checkpointed
    // edge set (linear 10-join chain, not a materialize-per-round driver
    // loop): one job instead of ten, and the edges localCheckpoint is
    // the only materialization. ranks/edges key on the node — at 100 TB
    // both sides pre-bucket on it and the join co-locates.
    // Long headroom: r ≤ S=1e9, so r·w overflows only past w ~9e9
    // transitions on ONE edge; at that scale drop S to 1e6 (the comment
    // is the knob doc).
    "q196_pagerank" -> ((s, dir) => {
      val trans = transitionEdges(s, dir)
      val nodes = trans.select(col("src").as("node"))
        .union(trans.select(col("dst"))).distinct()
      val edges = trans
        .union(nodes.select(col("node").as("src"), col("node").as("dst"),
          lit(0L).as("w"), lit(1L).as("ow")))
        .localCheckpoint(true)
      val n = edges.filter(col("w") === 0L).count() // |nodes|, one scalar job
      val r0 = PrMass / n
      var ranks = edges.filter(col("w") === 0L)
        .select(col("src").as("node"), lit(r0).as("r"))
      for (_ <- 1 to PrIters) {
        ranks = edges.join(ranks, edges("src") === ranks("node"))
          .select(edges("dst"), expr("(r * w) div ow").as("c"))
          .groupBy("dst").agg(sum("c").as("sc"))
          .select(col("dst").as("node"),
            expr(s"(${r0}L * 15 + 85 * sc) div 100").as("r"))
      }
      ranks.select(col("node"), col("r").as("rank_mass"))
    }),

    // TrustRank — q196's fixpoint with the teleport mass concentrated on
    // a trusted-seed set (the web-spam-detection recipe: seed known-good
    // domains, propagate trust along links, low-trust high-traffic nodes
    // are the spam candidates a curation pipeline down-weights). The
    // per-node teleport rides the zero-weight self-edges as a `tel`
    // column (S div |seeds present| on seed self-edges, 0 elsewhere), so
    // each iteration STAYS one join + one agg: sum(tel) recovers the
    // node's teleport exactly (the self-edge is unique per node and real
    // edges carry tel=0). r0 = tel — trust starts at the seeds, exactly
    // the TrustRank initialization. Same integer arithmetic, single
    // declarative plan, and scale shape as q196.
    "q198_trustrank" -> ((s, dir) => {
      // checkpoint the graph FIRST: the seed count and the augmented
      // edge build both derive from it, so the events window runs once
      val trans = transitionEdges(s, dir).localCheckpoint(true)
      val nodes = trans.select(col("src").as("node"))
        .union(trans.select(col("dst"))).distinct()
      val nSeeds = nodes
        .filter(col("node").isin(TrustSeeds: _*)).count() // scalar job
      val seedMass = PrMass / math.max(nSeeds, 1L)
      val edges = trans.withColumn("tel", lit(0L))
        .union(nodes.select(col("node").as("src"), col("node").as("dst"),
          lit(0L).as("w"), lit(1L).as("ow"),
          when(col("node").isin(TrustSeeds: _*), lit(seedMass))
            .otherwise(lit(0L)).as("tel")))
        .localCheckpoint(true)
      var ranks = edges.filter(col("w") === 0L)
        .select(col("src").as("node"), col("tel").as("r"))
      for (_ <- 1 to PrIters) {
        ranks = edges.join(ranks, edges("src") === ranks("node"))
          .select(edges("dst"), col("tel"),
            expr("(r * w) div ow").as("c"))
          .groupBy("dst").agg(sum("tel").as("stel"), sum("c").as("sc"))
          .select(col("dst").as("node"),
            expr("(15 * stel + 85 * sc) div 100").as("r"))
      }
      ranks.select(col("node"), col("r").as("trust_mass"))
    }),

    // 3-sigma outliers on value, per event_type. |x−μ|/σ > 3 is rearranged
    // to (x·n − S)² > 9(n·Q − S²) over integer CENTS (x·100), computed in
    // decimal(38,0): every quantity is an exact integer, so the flag set
    // is bit-identical regardless of partitioning/aggregation order —
    // unlike any avg/stddev of shuffled doubles. Per-type stats are a
    // |types|-row dimension broadcast back onto the stream; headroom is
    // ~1e12 rows/type before d²/nQ approach 38 digits (SCALE.md).
    "q150_value_anomalies" -> ((s, dir) => {
      val dec = DecimalType(38, 0)
      val c = t(s, dir, "events").select(
        col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100, 0).cast("long").cast(dec).as("xc"))
      val st = c.groupBy("event_type").agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("xc")).cast(dec).as("s"),
        sum(col("xc") * col("xc")).cast(dec).as("q"))
      val d = col("xc") * col("n") - col("s")
      c.join(broadcast(st), "event_type")
        .filter(d * d >
          lit(9).cast(dec) * (col("n") * col("q") - col("s") * col("s")))
        .select("event_id", "event_type", "value")
    }),

    // Per-session aggregates over the q17 sessionize shape (same 30-min
    // inactivity gap): the lag window and the (user, session) aggregation
    // both key on user_id first, so the agg re-shuffles only (user,
    // session, ts, value) short rows. Output is one row per session —
    // bounded by activity, not corpus size.
    "q152_session_stats" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (col("ts") - col("prev_ts")) > 1800000000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts")) - min(col("ts"))).as("duration_ns"),
          countDistinct("event_type").as("n_types"))
    }),

    // Dense hourly time series with gap-fill: bucket counts per (hour,
    // type), then left-join onto the generated hour×type grid so missing
    // buckets surface as explicit zeros (what a downstream rate monitor
    // needs). The grid is (hours-in-range × |types|) — time-range-bounded,
    // data-volume-independent — built with sequence+explode from a 1-row
    // min/max agg; no driver collect, no corpus re-scan.
    "q153_timeseries_gapfill" -> ((s, dir) => {
      val HourNs = 3600000000000L
      val ev = t(s, dir, "events")
        .select(expr(s"ts div $HourNs").as("h"), col("event_type"))
      val counts = ev.groupBy("h", "event_type").agg(count(lit(1)).as("n"))
      val hours = ev.agg(min("h").as("lo"), max("h").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val types = ev.select("event_type").distinct()
      hours.crossJoin(broadcast(types))
        .join(counts, Seq("h", "event_type"), "left")
        .select(col("h"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
    }),

    // Count-min sketch heavy hitters: d=4 independent hash rows × w=1024
    // counters, portable bucket hash (md5-hex prefix → int, the q106
    // convention). The counter build is the sketch's scale argument: the
    // exploded token stream aggregates onto ≤ d·w = 4096 cells with
    // map-side combine, so the exchange carries partials bounded by
    // cells × partitions — NEVER vocabulary-sized. Estimates for the
    // exact top-20 tokens then need only a 4096-row broadcast; CMS
    // guarantees est ≥ exact (spec-pinned).
    "q154_countmin_topk" -> ((s, dir) => {
      val (d, wWidth) = (4, 1024)
      def bucket(j: Column, tok: Column): Column =
        conv(substring(md5(concat(j.cast("string"), lit(":"), tok)), 1, 8),
          16, 10).cast("long") % wWidth
      // ONE corpus tokenize pass (r10): the sketch cells are derivable
      // from the per-token exact counts — sum(n_exact) over the tokens
      // hashing into a cell IS the cell's count — so the 4-way explode
      // and its 4 md5s run over the VOCABULARY-sized agg output, not the
      // corpus token stream (was: two tokenize scans + 4x corpus-row
      // explode into the cell agg). Same numbers, same oracle.
      val vocab = t(s, dir, "documents")
        .select(explode(graft.queries.TextOps.tokensOf(col("text")))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n_exact"))
      val counters = vocab
        .select(col("tok"), col("n_exact"),
          explode(array((0 until d).map(lit): _*)).as("j"))
        .select(col("j"), bucket(col("j"), col("tok")).as("b"),
          col("n_exact"))
        .groupBy("j", "b").agg(sum("n_exact").as("cnt"))
      val top20 = vocab
        .orderBy(col("n_exact").desc, col("tok")).limit(20)
      top20
        .select(col("tok"), col("n_exact"),
          explode(array((0 until d).map(lit): _*)).as("j"))
        .withColumn("b", bucket(col("j"), col("tok")))
        .join(broadcast(counters), Seq("j", "b"))
        .groupBy("tok", "n_exact").agg(min("cnt").as("n_est"))
    }),

    // Hour-of-day × event-type PIVOT (Spark's relational pivot operator
    // with an explicit value list — no dry-run distinct scan). One
    // (hod, type) aggregation; the pivot itself is a 24-row reshape.
    "q155_pivot_hourly" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pv = t(s, dir, "events")
        .select(expr("(ts div 3600000000000) % 24").as("hod"),
          col("event_type"))
        .groupBy("hod").pivot("event_type", types).count()
      pv.select(col("hod") +: types.map(c =>
        coalesce(col(c), lit(0L)).as(c)): _*)
    }),

    // CUBE over (event_type, week) with grouping_id: all four aggregation
    // granularities (cell, per-type, per-week, grand total) in one pass —
    // Spark expands the grouping sets BELOW the exchange, so the shuffle
    // still carries only short grouped keys. Bit order of grouping_id
    // matches GROUPING(a, b) in DuckDB (a = high bit).
    "q156_cube_totals" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), expr(s"ts div $WeekNs").as("wk"))
        .cube("event_type", "wk")
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
    }),

    // Native session_window: the same 30-min-gap sessions as q17/q152,
    // but via Spark's built-in session-window aggregation — ONE
    // groupBy(session_window, user) instead of lag + cumsum + second agg,
    // and the SAME operator works unchanged under Structured Streaming
    // with a watermark (merging windows is Spark's problem, state is
    // per-open-session). Epoch-ns ts round-trips through timestamp_micros
    // (the feed is micro-resolution, no precision loss); the oracle
    // restates the gap rule with the q17 lag/cumsum shape — two
    // formulations, one result, which is the point of the gate.
    "q163_session_window" -> ((s, dir) => {
      // the micro-resolution invariant is ENFORCED, not assumed: ts
      // round-trips through timestamp_micros, so a future nanos-resolution
      // testdata generation (Tables.load reads TIMESTAMP(NANOS) as raw
      // epoch-ns longs) would silently shift 30-min gap decisions vs the
      // oracle's raw-ns formulation. assert_true makes it fail loudly.
      val ev = t(s, dir, "events")
        .filter(expr("assert_true(ts IS NULL OR ts % 1000 = 0, " +
          "'q163: ts must be micro-resolution epoch-ns') is null"))
        // session_window drops NULL-ts rows via its implicit not-null
        // filter; the oracle's lag/cumsum restatement could order or
        // propagate NULLs differently, so BOTH formulations exclude them
        // explicitly (oracle carries the matching WHERE ts IS NOT NULL).
        .filter(col("ts").isNotNull)
        .select(col("user_id"),
          expr("timestamp_micros(ts div 1000)").as("et"))
      ev.groupBy(session_window(col("et"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          expr("unix_micros(session_window.start) * 1000")
            .as("start_ns"),
          expr("unix_micros(session_window.end) * 1000").as("end_ns"),
          col("n_events"))
    }),

    // A/B experiment readout with an EXACT significance verdict: users
    // split deterministically by md5 parity (rerunnable, no RNG state —
    // the q86 discipline), conversion = user made ≥1 purchase, and the
    // two-proportion z-test at 95% is rearranged into pure integer
    // arithmetic — z² > 3.8415 ⟺ 10000·D²·n > 38415·n1·n2·x·(n−x) with
    // D = x1·n2 − x2·n1 — evaluated in decimal(38,0), so the verdict
    // never depends on float rounding or aggregation order. Null
    // hypothesis holds by construction (the split is independent of
    // behavior), so the expected readout is "not significant" — the gate
    // pins the machinery, not a lucky dataset.
    "q164_ab_test" -> ((s, dir) => {
      val dec = DecimalType(38, 0)
      val users = t(s, dir, "events")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .withColumn("grp",
          when(conv(substring(md5(concat(lit("ab:"),
            col("user_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2 === 0, "A").otherwise("B"))
      // both arms in ONE conditional aggregation — a filter-per-arm plan
      // re-scans and re-aggregates the user frame twice
      users.agg(
          sum(when(col("grp") === "A", 1L).otherwise(0L)).as("n1"),
          sum(when(col("grp") === "A", col("converted")).otherwise(0L))
            .as("x1"),
          sum(when(col("grp") === "B", 1L).otherwise(0L)).as("n2"),
          sum(when(col("grp") === "B", col("converted")).otherwise(0L))
            .as("x2"))
        // cast-then-multiply, matching the oracle's HUGEINT order: the
        // long products x1*n2 would silently wrap near ~3e9-user arms if
        // evaluated in 64-bit before the widening cast
        .withColumn("d",
          col("x1").cast(dec) * col("n2").cast(dec) -
            col("x2").cast(dec) * col("n1").cast(dec))
        .withColumn("n", col("n1").cast(dec) + col("n2").cast(dec))
        .withColumn("x", col("x1").cast(dec) + col("x2").cast(dec))
        .select(col("n1"), col("x1"), col("n2"), col("x2"),
          (lit(10000).cast(dec) * col("d") * col("d") * col("n") >
            lit(38415).cast(dec) * col("n1").cast(dec) *
              col("n2").cast(dec) * col("x") * (col("n") - col("x")))
            .as("significant"))
    }),

    // Replica checksum — the CDC consumer's "does the sink match the
    // source" verifier: an ORDER-INDEPENDENT per-partition fingerprint.
    // Each row canonicalizes to a delimited string, hashes portably
    // (md5-hex fold mod 1e9+7 — the q106 convention), and the per-type
    // checksum is a plain SUM of row hashes: commutative, so any engine,
    // any partitioning, any row order produces the same value, and a
    // replica diff localizes to the event_type partition that diverges.
    // Sum headroom: 1e9+7 × rows ≤ 2⁶³ holds to ~9e9 rows/partition
    // (then widen the sum to decimal; the row hash is unchanged).
    "q165_replica_checksum" -> ((s, dir) => {
      // every field rides through coalesce(..., chr(1)): concat_ws would
      // silently SKIP a null field ("a|b" == "a|NULL-b" — the fingerprint
      // stops being injective per field), and the oracle's bare || chain
      // would instead null the whole hash and drop the row from the
      // checksum. An explicit sentinel keeps both engines identical and
      // injective when a nullable column goes null.
      def f(c: Column): Column = coalesce(c.cast("string"), lit("\u0001"))
      val canon = concat_ws("|",
        f(col("event_id")), f(col("user_id")),
        f(col("event_type")), f(col("ts")),
        f(round(col("value") * 100, 0).cast("long")),
        f(col("props")))
      t(s, dir, "events")
        .select(col("event_type"),
          (conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
            % 1000000007L).as("h"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), sum("h").as("checksum"))
    }),

    // Join-skew pre-flight diagnostic: before running the
    // click⋈purchase attribution self-join on user_id, estimate each
    // key's output contribution EXACTLY as c_clicks × c_purchases from
    // ONE conditional-count pass — integer-exact, so the report is
    // deterministic under any partitioning. At 100 TB this is the cheap
    // pre-flight that sizes salting / AQE skew thresholds BEFORE the
    // expensive join runs: it costs the same single key exchange the
    // join itself would need (map-side combined to one row per key) and
    // emits only the top offenders via TakeOrdered — no global sort.
    "q168_skew_preflight" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("c_clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c_purchases"))
        .filter(col("c_clicks") > 0 && col("c_purchases") > 0)
        .withColumn("fanout", col("c_clicks") * col("c_purchases"))
        .orderBy(col("fanout").desc, col("user_id"))
        .limit(20)
    }),

    // Frequent token pairs (market-basket, A-priori pruned): pair
    // candidates are generated ONLY from tokens that individually clear
    // the support bar — the classic pruning that keeps the pair space
    // from exploding quadratically in the vocabulary. The corpus shape:
    // distinct (doc, tok) explode → df agg → BROADCAST the surviving
    // token set back (it is bounded by 4·avg_doc_len tokens at ANY
    // corpus size: Σdf = nd·avglen, so ≤ 4·avglen tokens can have
    // df ≥ nd/4 — document-length-sized, never vocabulary-sized) →
    // self-join of the frequent-only (doc, tok) frame on doc_id with
    // tok_a < tok_b (the oracle's own relational shape). Both join
    // sides reference the SAME ef plan and are aliased only AFTER the
    // join, so their doc_id Exchanges canonicalize identically and
    // ReuseExchange ships ONE shuffle of the pruned frame, not two.
    "q166_frequent_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nDocs = docs.agg(count(lit(1)).as("nd"))
      val e = docs.select(col("doc_id"),
        explode(array_distinct(
          graft.queries.TextOps.tokensOf(col("text")))).as("tok"))
      val freq = e.groupBy("tok").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") * 4 >= col("nd")).select("tok")
      val ef = e.join(broadcast(freq), "tok").select("doc_id", "tok")
      ef.as("a").join(ef.as("b"), col("a.doc_id") === col("b.doc_id"))
        .filter(col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
        .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(nDocs))
        .filter(col("support") * 10 >= col("nd"))
        .select("tok_a", "tok_b", "support")
    }),

    // PMI collocation scoring (phrase detection, word2vec-style): rank
    // co-occurring token pairs by pointwise mutual information
    // ln(P(a,b) / (P(a)·P(b))). The q162 float discipline: every
    // sufficient statistic (support, df_a, df_b, n_docs) is an EXACT
    // integer aggregate, and the float math is ONE fixed-shape
    // expression per output row — bit-deterministic under any
    // partitioning. The df of each frequent token rides IN-ROW through
    // the self-join (freq is a stopword-sized bounded set — ≤4·avg_doc_len
    // tokens can clear df ≥ nd/4, so it BROADCASTS at any corpus size),
    // so no vocabulary-sized join follows the pair aggregation. Pair
    // generation is the oracle's own relational shape: self-join of the
    // frequent-only (doc, tok, df) frame on doc_id, aliased only AFTER
    // the join so both sides canonicalize to the SAME doc_id Exchange
    // and ReuseExchange ships the pruned frame once (q166 shape).
    "q169_pmi_collocations" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nDocs = docs.agg(count(lit(1)).as("nd"))
      val e = docs.select(col("doc_id"),
        explode(array_distinct(
          graft.queries.TextOps.tokensOf(col("text")))).as("tok"))
      val freq = e.groupBy("tok").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") * 4 >= col("nd")).select("tok", "df")
      val ef = e.join(broadcast(freq), "tok").select("doc_id", "tok", "df")
      ef.as("a").join(ef.as("b"), col("a.doc_id") === col("b.doc_id"))
        .filter(col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("tok_a"), col("a.df").as("df_a"),
          col("b.tok").as("tok_b"), col("b.df").as("df_b"))
        .groupBy("tok_a", "df_a", "tok_b", "df_b")
        .agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(nDocs))
        .filter(col("support") * 10 >= col("nd"))
        .select(col("tok_a"), col("tok_b"), col("support"),
          round(log(col("support").cast("double") * col("nd") /
            (col("df_a") * col("df_b"))), 6).as("pmi"))
    }),

    // Deterministic negative sampling (contrastive training): pair
    // every document with a pseudo-random OTHER document chosen by an
    // md5-derived index over the dense id space — reproducible across
    // engines/runs (no RNG state), self-collisions displaced by +1 mod
    // n. The only data movement is ONE equi-join on the sampled id
    // (co-partitioned at scale; bucketing removes it entirely); the
    // corpus count is a 1-row broadcast. At 100 TB the dense id space
    // comes from the shard-build row_number — the same artifact q121's
    // train order already materializes.
    "q170_negative_sampling" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.agg(count(lit(1)).as("n"))
      val anchors = d.select(col("doc_id"), col("lang").as("a_lang"))
        .crossJoin(broadcast(n))
        .withColumn("h",
          conv(substring(md5(col("doc_id").cast("string")), 1, 15),
            16, 10).cast("long") % col("n"))
        .withColumn("neg_id",
          when(col("h") === col("doc_id"), (col("h") + 1) % col("n"))
            .otherwise(col("h")))
      anchors
        .join(d.select(col("doc_id").as("neg_id"),
          col("lang").as("n_lang"), col("source").as("neg_source")),
          "neg_id")
        .select(col("doc_id"), col("neg_id"), col("neg_source"),
          (col("a_lang") =!= col("n_lang")).as("cross_lang"))
    }),

    // Incremental view maintenance (IVM): refresh a per-user
    // count/sum view by MERGING a 10% delta batch's partials into the
    // base aggregate — never re-scanning the base fact rows. Deltas are
    // SIGNED (error events retract: −1 count, −cents sum), so the merge
    // also proves retraction handling. The oracle recomputes the view
    // from scratch; hash-equality IS the IVM correctness proof. Sums use
    // integer cents — exact under any partitioning, so incremental ≡
    // full-recompute bit-for-bit. At scale the base agg is the stored
    // materialized view (bucketed by user_id → zero-exchange merge);
    // here it derives from the same scan for a self-contained gate.
    "q159_ivm_refresh" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        when(col("event_type") === "error", lit(-1L)).otherwise(lit(1L))
          .as("sign"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      val base = ev.filter(col("event_id") % 10 =!= 0)
        .groupBy("user_id")
        .agg(sum("sign").as("bn"), sum(col("sign") * col("cents")).as("bs"))
      val delta = ev.filter(col("event_id") % 10 === 0)
        .groupBy("user_id")
        .agg(sum("sign").as("dn"), sum(col("sign") * col("cents")).as("ds"))
      base.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_signed"),
          (coalesce(col("bs"), lit(0L)) + coalesce(col("ds"), lit(0L)))
            .as("sum_signed_cents"))
    }),

    // Robust (median/MAD) anomaly twin of q150: 3-sigma breaks when the
    // outliers themselves inflate sigma; median ± 3·MAD does not. Both
    // statistics come from the q85 histogram trick — per-type (cents,
    // count) histograms with an integer rank predicate (2·cum ≥ total) —
    // so the whole verdict is integer-exact: no float quantile
    // interpolation, no engine parity risk, deterministic under any
    // partitioning. Histogram cardinality is |types| × |distinct cents|,
    // data-volume-independent; the 5-row med/mad dims broadcast.
    "q160_robust_anomalies" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      def medianOf(df: DataFrame, valueCol: String, out: String): DataFrame = {
        val h = df.groupBy("event_type", valueCol)
          .agg(count(lit(1)).as("c"))
        val wcum = Window.partitionBy("event_type").orderBy(valueCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wtot = Window.partitionBy("event_type")
        h.withColumn("cum", sum("c").over(wcum))
          .withColumn("total", sum("c").over(wtot))
          .groupBy("event_type")
          .agg(min(when(col("cum") * 2 >= col("total"), col(valueCol)))
            .as(out))
      }
      val med = medianOf(ev, "cents", "med")
      val withDev = ev.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("cents") - col("med")))
      val mad = medianOf(withDev, "dev", "mad")
      withDev.join(broadcast(mad), "event_type")
        .filter(col("dev") > col("mad") * 3)
        .select("event_id", "event_type", "value")
    }),

    // Equi-depth (decile) feature binning WITHOUT ntile: ntile is a
    // per-partition global sort — |types| reducer partitions at any
    // scale, the one-reducer anti-pattern. Instead the 9 per-type decile
    // BOUNDARIES come from the q85 histogram rank predicate
    // (min value whose 10·cum ≥ k·total), broadcast as a 45-row dim, and
    // every row assigns its bin IN-ROW as 1 + |boundaries strictly below
    // it|. Ties land in one bin (value-based, deterministic) — unlike
    // ntile's positional split, which is exactly what makes ntile
    // unportable AND unscalable. Oracle replicates the boundary rule.
    "q161_equidepth_bins" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      val h = ev.groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy("event_type").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wtot = Window.partitionBy("event_type")
      val cum = h.withColumn("cum", sum("c").over(wcum))
        .withColumn("total", sum("c").over(wtot))
      val bounds = cum.groupBy("event_type")
        .agg(array((1 to 9).map(k =>
          min(when(col("cum") * 10 >= col("total") * k, col("cents"))))
          : _*).as("bnds"))
      ev.join(broadcast(bounds), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          (size(filter(col("bnds"), b => b < col("cents"))) + 1)
            .cast("int").as("bin"))
    }),

    // Pearson correlation of value vs hour-of-day, per type, from EXACT
    // integer sums: the six sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    // Σy²) aggregate as longs (order-free exact), and the float math is
    // ONE fixed-shape expression over those six scalars — identical IEEE
    // ops in both engines, so the rounded result is bit-deterministic
    // under any partitioning. A naive corr() over shuffled doubles is
    // not. Long headroom: n·Σx² ≤ 9e18 holds to ~1e8 rows/type; past
    // that the six sums (only) widen to decimal, the float tail is
    // unchanged (SCALE.md).
    "q162_correlation" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"),
        round(col("value") * 100, 0).cast("long").as("x"),
        expr("(ts div 3600000000000) % 24").as("y"))
      ev.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("n"),
          round(
            (col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
              (col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))),
            6).as("corr"))
    }),

    // Fuzzy entity matching (entity resolution): match corrupted names
    // (deterministic one-char deletion) back to the canonical customer
    // list by character-trigram Jaccard, with df-capped trigram BLOCKING —
    // the all-pairs cross join is quadratic, so candidates come from a
    // shared-rare-trigram join (df ≤ 64 kills the prefix trigrams every
    // name shares, the LSH band-cap discipline applied to strings), and
    // only candidate PAIRS pay the in-row Jaccard verify. Best match per
    // query = one window over the (bounded) verified pairs. Oracle
    // replicates blocking exactly, so recall choices are pinned, not
    // approximated away.
    "q158_fuzzy_match" -> ((s, dir) => {
      val DfCap = 64
      // guard len<3: Spark's sequence(1, len-2) DESCENDS for len<3
      // (sequence(1,0) -> [1,0]) and substr would emit bogus shingles,
      // while the oracle's half-open range(1, len-1) is simply empty —
      // the guard pins both engines to "short name => no trigrams"
      def tg(name: Column): Column =
        when(length(name) >= 3, array_distinct(
          transform(sequence(lit(1), length(name) - 2),
            i => name.substr(i, lit(3)))))
          .otherwise(array().cast("array<string>"))
      // trigram arrays are computed ONCE per side (a HOF inside three
      // separate expressions would re-shingle per use — the q129 CSE
      // lesson) and both the blocking explode and the verify read the
      // same projected column; spread() fans the single-row-group local
      // scan across cores (no-op under cluster conf)
      // localCheckpoint: each side feeds BOTH the blocking explode and the
      // verify join — pin the shingled frame once (rows × ~17 short
      // strings, bounded by the entity dim) instead of re-shingling per
      // consumer (q136's stage-pinning pattern). Measured A/B (FuzzyProbe,
      // interleaved in one JVM, sf0.1): ckpt 3.4s steady / 5.4s cold vs
      // plain 3.6s / 60s cold; a spread() repartition on top HURTS
      // (8-10s — it re-shuffles the array payload for parallelism the
      // 32-partition downstream exchanges already provide), so q158
      // deliberately does NOT spread.
      val canon = t(s, dir, "customer")
        .select(col("c_custkey"), tg(col("c_name")).as("c_tg"))
        .localCheckpoint()
      val qs = t(s, dir, "customer")
        .select(col("c_custkey").as("q_key"),
          tg(expr("concat(substring(c_name, 1, 5), substring(c_name, 7))"))
            .as("q_tg"))
        .localCheckpoint()
      val ctg = canon.select(col("c_custkey"), explode(col("c_tg")).as("tg"))
      val qtg = qs.select(col("q_key"), explode(col("q_tg")).as("tg"))
      val keep = ctg.groupBy("tg").agg(count(lit(1)).as("df"))
        .filter(col("df") <= DfCap).select("tg")
      val pairs = qtg.join(keep, "tg").join(ctg, "tg")
        .select("q_key", "c_custkey").distinct()
      val v = pairs.join(qs, "q_key").join(canon, "c_custkey")
        .withColumn("inter", size(array_intersect(col("q_tg"), col("c_tg"))))
        .withColumn("nq", size(col("q_tg")))
        .withColumn("nc", size(col("c_tg")))
        .withColumn("j_ppm",
          expr("inter * 1000000 div (nq + nc - inter)"))
        .filter(col("j_ppm") >= 400000)
      val w = Window.partitionBy("q_key")
        .orderBy(col("j_ppm").desc, col("c_custkey"))
      v.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("q_key", "c_custkey", "j_ppm")
    }),

    // Token-budget selection: rank docs by a quality score (distinct-token
    // ratio, exact integer ppm) and keep the greedy prefix whose cumulative
    // token count fits a 10%-of-corpus budget. Executed as a distributed
    // prefix-sum: range-partition on the rank key, materialize once
    // (localCheckpoint — the offsets job and the main pass must see the
    // SAME partition assignment), collect per-partition token totals
    // (≤ shuffle-partitions rows — a partition-count artifact, never
    // corpus-sized), and add each partition's exclusive prefix offset to
    // its LOCAL running sum. Every partition cumsums in parallel; the
    // oracle's global-ORDER window would be one reducer at 100 TB.
    "q151_token_budget_select" -> ((s, dir) => {
      val toks = graft.queries.TextOps.tokensOf(col("text"))
      val sc = t(s, dir, "documents")
        .select(col("doc_id"), size(toks).cast("long").as("n_tok"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .filter(col("n_tok") > 0)
        .select(col("doc_id"), col("n_tok"),
          expr("n_distinct * 1000000 div n_tok").as("score"))
      val budget = sc.agg(sum("n_tok")).head.getLong(0) / 10
      val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val parts = sc
        .repartitionByRange(nParts, col("score").desc, col("doc_id"))
        .sortWithinPartitions(col("score").desc, col("doc_id"))
        .withColumn("pid", spark_partition_id())
        .localCheckpoint()
      val totals = parts.groupBy("pid").agg(sum("n_tok").as("ptot"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      val offsets = totals.map(_._1)
        .zip(totals.map(_._2).scanLeft(0L)(_ + _).init)
      val offCol = coalesce(element_at(
        map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*),
        col("pid")), lit(0L))
      val w = Window.partitionBy("pid")
        .orderBy(col("score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      parts.withColumn("cum", sum("n_tok").over(w) + offCol)
        .filter(col("cum") <= budget)
        .select("doc_id", "score", "n_tok", "cum")
    })
  )

  val oracles: Map[String, String] = Map(

    "q147_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND epoch_ns(e.ts) > s1.t1
        |    AND epoch_ns(e.ts) <= s1.t1 + 86400000000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s2.t2
        |    AND epoch_ns(e.ts) <= s2.t2 + 86400000000000 GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t4 FROM events e
        |  JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s3.t3
        |    AND epoch_ns(e.ts) <= s3.t3 + 86400000000000 GROUP BY 1)
        |SELECT CAST(1 AS INTEGER) AS stage_idx, 'signup' AS stage,
        |       (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
        |UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)""".stripMargin,

    "q148_retention_cohort" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_ns(ts) // 604800000000000 AS wk FROM events),
        |fw AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1)
        |SELECT fw.cohort_week, ev.wk - fw.cohort_week AS week_offset,
        |  CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
        |FROM ev JOIN fw ON ev.user_id = fw.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q149_event_transitions" ->
      """SELECT prev_type, event_type, n,
        |  round(CAST(n AS DOUBLE) /
        |    CAST(CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
        |      AS DOUBLE), 6) AS p
        |FROM (
        |  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT event_type, lag(event_type) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |        FROM events)
        |  WHERE prev_type IS NOT NULL GROUP BY 1, 2)""".stripMargin,

    // q196's oracle: the identical integer fixpoint as a recursive CTE —
    // same augmented edge set (zero-weight self-edges carry teleport),
    // same floor divisions, same fixed 10 iterations.
    "q196_pagerank" ->
      s"""WITH RECURSIVE base AS (
         |  SELECT event_type AS src, lead(event_type) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM events),
         |tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |  FROM base WHERE dst IS NOT NULL GROUP BY 1, 2),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM tr GROUP BY 1),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM tr UNION ALL SELECT dst FROM tr)),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |edges AS (
         |  SELECT tr.src, tr.dst, tr.w, o.ow FROM tr JOIN outw o ON tr.src = o.src
         |  UNION ALL SELECT node, node, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
         |  FROM nodes),
         |pr(i, node, r) AS (
         |  SELECT 0, node, CAST((SELECT $PrMass // n FROM nn) AS BIGINT)
         |  FROM nodes
         |  UNION ALL
         |  SELECT i + 1, e.dst,
         |    CAST(((SELECT $PrMass // n FROM nn) * 15 +
         |      85 * sum((pr.r * e.w) // e.ow)) // 100 AS BIGINT)
         |  FROM pr JOIN edges e ON pr.node = e.src
         |  WHERE pr.i < $PrIters
         |  GROUP BY pr.i, e.dst)
         |SELECT node, r AS rank_mass FROM pr WHERE i = $PrIters""".stripMargin,

    // q198's oracle: the q196 CTE with the tel column on self-edges and
    // r0 = tel (seed-concentrated start) — same integer fixpoint.
    "q198_trustrank" ->
      s"""WITH RECURSIVE base AS (
         |  SELECT event_type AS src, lead(event_type) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM events),
         |tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |  FROM base WHERE dst IS NOT NULL GROUP BY 1, 2),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM tr GROUP BY 1),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM tr UNION ALL SELECT dst FROM tr)),
         |ns AS (SELECT CAST(greatest(count(*), 1) AS BIGINT) AS n
         |  FROM nodes WHERE node IN ($sqlTrustSeeds)),
         |edges AS (
         |  SELECT tr.src, tr.dst, tr.w, o.ow, CAST(0 AS BIGINT) AS tel
         |  FROM tr JOIN outw o ON tr.src = o.src
         |  UNION ALL SELECT node, node, CAST(0 AS BIGINT), CAST(1 AS BIGINT),
         |    CASE WHEN node IN ($sqlTrustSeeds)
         |      THEN (SELECT $PrMass // n FROM ns) ELSE CAST(0 AS BIGINT) END
         |  FROM nodes),
         |pr(i, node, r) AS (
         |  SELECT 0, src, tel FROM edges WHERE w = 0
         |  UNION ALL
         |  SELECT i + 1, e.dst,
         |    CAST((15 * sum(e.tel) + 85 * sum((pr.r * e.w) // e.ow)) // 100
         |      AS BIGINT)
         |  FROM pr JOIN edges e ON pr.node = e.src
         |  WHERE pr.i < $PrIters
         |  GROUP BY pr.i, e.dst)
         |SELECT node, r AS trust_mass FROM pr WHERE i = $PrIters""".stripMargin,

    "q150_value_anomalies" ->
      """WITH c AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS xc FROM events),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xc) AS BIGINT) AS s, CAST(sum(xc * xc) AS BIGINT) AS q
        |  FROM c GROUP BY 1)
        |SELECT event_id, c.event_type, value
        |FROM c JOIN st ON c.event_type = st.event_type
        |WHERE CAST(xc * n - s AS HUGEINT) * CAST(xc * n - s AS HUGEINT) >
        |  9 * (CAST(n AS HUGEINT) * CAST(q AS HUGEINT)
        |       - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))""".stripMargin,

    "q165_replica_checksum" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(h) AS BIGINT) AS checksum
        |FROM (
        |  SELECT event_type, list_reduce(list_transform(
        |      string_split(substr(md5(
        |        coalesce(CAST(event_id AS VARCHAR), chr(1)) || '|' ||
        |        coalesce(CAST(user_id AS VARCHAR), chr(1)) || '|' ||
        |        coalesce(event_type, chr(1)) || '|' ||
        |        coalesce(CAST(epoch_ns(ts) AS VARCHAR), chr(1)) || '|' ||
        |        coalesce(CAST(CAST(round(value * 100) AS BIGINT)
        |          AS VARCHAR), chr(1)) ||
        |        '|' || coalesce(props, chr(1))), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, d) -> a * 16 + d) % 1000000007 AS h
        |  FROM events)
        |GROUP BY 1""".stripMargin,

    "q168_skew_preflight" ->
      """SELECT user_id, c_clicks, c_purchases,
        |  CAST(c_clicks * c_purchases AS BIGINT) AS fanout
        |FROM (
        |  SELECT user_id,
        |    CAST(count(*) FILTER (WHERE event_type = 'click')
        |      AS BIGINT) AS c_clicks,
        |    CAST(count(*) FILTER (WHERE event_type = 'purchase')
        |      AS BIGINT) AS c_purchases
        |  FROM events GROUP BY 1)
        |WHERE c_clicks > 0 AND c_purchases > 0
        |ORDER BY fanout DESC, user_id LIMIT 20""".stripMargin,

    "q170_negative_sampling" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |a AS (
        |  SELECT doc_id, lang AS a_lang,
        |    list_reduce(list_transform(
        |      string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 15),
        |        ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (x, d) -> x * 16 + d) % (SELECT n FROM nn) AS h
        |  FROM documents),
        |a2 AS (
        |  SELECT doc_id, a_lang,
        |    CASE WHEN h = doc_id THEN (h + 1) % (SELECT n FROM nn)
        |         ELSE h END AS neg_id
        |  FROM a)
        |SELECT a2.doc_id, a2.neg_id, d.source AS neg_source,
        |  a2.a_lang <> d.lang AS cross_lang
        |FROM a2 JOIN documents d ON d.doc_id = a2.neg_id""".stripMargin,

    "q169_pmi_collocations" ->
      """WITH e AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS tok
        |  FROM documents),
        |nd AS (SELECT count(*) AS n FROM documents),
        |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM e
        |      GROUP BY tok
        |      HAVING count(*) * 4 >= (SELECT n FROM nd)),
        |ef AS (SELECT doc_id, tok, df FROM e JOIN f USING (tok))
        |SELECT a.tok AS tok_a, b.tok AS tok_b,
        |  CAST(count(*) AS BIGINT) AS support,
        |  round(ln(CAST(count(*) AS DOUBLE) * (SELECT n FROM nd)
        |    / (a.df * b.df)), 6) AS pmi
        |FROM ef a JOIN ef b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |GROUP BY a.tok, a.df, b.tok, b.df
        |HAVING count(*) * 10 >= (SELECT n FROM nd)""".stripMargin,

    "q166_frequent_pairs" ->
      """WITH e AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS tok
        |  FROM documents),
        |nd AS (SELECT count(*) AS n FROM documents),
        |f AS (SELECT tok FROM e GROUP BY tok
        |      HAVING count(*) * 4 >= (SELECT n FROM nd)),
        |ef AS (SELECT doc_id, tok FROM e JOIN f USING (tok))
        |SELECT a.tok AS tok_a, b.tok AS tok_b,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM ef a JOIN ef b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |GROUP BY 1, 2
        |HAVING count(*) * 10 >= (SELECT n FROM nd)""".stripMargin,

    "q164_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted,
        |    CASE WHEN list_reduce(list_transform(
        |        string_split(substr(md5('ab:' ||
        |          CAST(user_id AS VARCHAR)), 1, 8), ''),
        |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |        (a, d) -> a * 16 + d) % 2 = 0
        |      THEN 'A' ELSE 'B' END AS grp
        |  FROM events GROUP BY user_id),
        |arms AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(converted) AS BIGINT) AS x FROM u GROUP BY 1),
        |ab AS (SELECT
        |    (SELECT n FROM arms WHERE grp = 'A') AS n1,
        |    (SELECT x FROM arms WHERE grp = 'A') AS x1,
        |    (SELECT n FROM arms WHERE grp = 'B') AS n2,
        |    (SELECT x FROM arms WHERE grp = 'B') AS x2)
        |SELECT n1, x1, n2, x2,
        |  10000 * CAST(x1 * n2 - x2 * n1 AS HUGEINT)
        |      * CAST(x1 * n2 - x2 * n1 AS HUGEINT)
        |      * CAST(n1 + n2 AS HUGEINT) >
        |    38415 * CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT)
        |      * CAST(x1 + x2 AS HUGEINT)
        |      * CAST(n1 + n2 - x1 - x2 AS HUGEINT) AS significant
        |FROM ab""".stripMargin,

    "q163_session_window" ->
      """SELECT user_id, min(ts_ns) AS start_ns,
        |  max(ts_ns) + 1800000000000 AS end_ns,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM (
        |  SELECT user_id, ts_ns,
        |    CAST(sum(new_session) OVER (
        |      PARTITION BY user_id ORDER BY ts_ns
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM (
        |    SELECT user_id, epoch_ns(ts) AS ts_ns,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |          IS NULL
        |        OR epoch_ns(ts) - epoch_ns(lag(ts) OVER (
        |          PARTITION BY user_id ORDER BY ts)) >= 1800000000000
        |      THEN 1 ELSE 0 END AS new_session
        |    FROM events WHERE ts IS NOT NULL))
        |GROUP BY user_id, session_id""".stripMargin,

    "q161_equidepth_bins" ->
      """WITH c AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |h AS (SELECT event_type, cents, count(*) AS cnt FROM c GROUP BY 1, 2),
        |cum AS (SELECT event_type, cents, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS total FROM h),
        |b AS (SELECT event_type,
        |    [min(CASE WHEN 10 * cum >= 1 * total THEN cents END),
        |     min(CASE WHEN 10 * cum >= 2 * total THEN cents END),
        |     min(CASE WHEN 10 * cum >= 3 * total THEN cents END),
        |     min(CASE WHEN 10 * cum >= 4 * total THEN cents END),
        |     min(CASE WHEN 10 * cum >= 5 * total THEN cents END),
        |     min(CASE WHEN 10 * cum >= 6 * total THEN cents END),
        |     min(CASE WHEN 10 * cum >= 7 * total THEN cents END),
        |     min(CASE WHEN 10 * cum >= 8 * total THEN cents END),
        |     min(CASE WHEN 10 * cum >= 9 * total THEN cents END)] AS bnds
        |  FROM cum GROUP BY 1)
        |SELECT c.event_id, c.event_type, c.value,
        |  CAST(1 + len(list_filter(b.bnds, x -> x < c.cents)) AS INTEGER)
        |    AS bin
        |FROM c JOIN b ON c.event_type = b.event_type""".stripMargin,

    "q162_correlation" ->
      """WITH base AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS y FROM events),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM base GROUP BY 1)
        |SELECT event_type, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |      (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
        |FROM a""".stripMargin,

    "q160_robust_anomalies" ->
      """WITH c AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |h1 AS (SELECT event_type, cents, count(*) AS cnt FROM c
        |       GROUP BY 1, 2),
        |m1 AS (SELECT event_type,
        |    min(CASE WHEN 2 * cum >= total THEN cents END) AS med
        |  FROM (SELECT event_type, cents, cnt,
        |      sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      sum(cnt) OVER (PARTITION BY event_type) AS total FROM h1)
        |  GROUP BY 1),
        |d AS (SELECT c.event_id, c.event_type, c.value,
        |    abs(c.cents - m1.med) AS dev
        |  FROM c JOIN m1 ON c.event_type = m1.event_type),
        |h2 AS (SELECT event_type, dev, count(*) AS cnt FROM d GROUP BY 1, 2),
        |m2 AS (SELECT event_type,
        |    min(CASE WHEN 2 * cum >= total THEN dev END) AS mad
        |  FROM (SELECT event_type, dev, cnt,
        |      sum(cnt) OVER (PARTITION BY event_type ORDER BY dev
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      sum(cnt) OVER (PARTITION BY event_type) AS total FROM h2)
        |  GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value
        |FROM d JOIN m2 ON d.event_type = m2.event_type
        |WHERE d.dev > m2.mad * 3""".stripMargin,

    "q159_ivm_refresh" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END)
        |    AS BIGINT) AS n_signed,
        |  CAST(sum((CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) *
        |    CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_signed_cents
        |FROM events GROUP BY 1""".stripMargin,

    "q158_fuzzy_match" ->
      """WITH canon AS (SELECT c_custkey, c_name AS name FROM customer),
        |q AS (SELECT c_custkey AS q_key,
        |        substr(c_name, 1, 5) || substr(c_name, 7) AS name
        |      FROM customer),
        |ctg AS (SELECT c_custkey, unnest(list_distinct(list_transform(
        |         range(1, len(name) - 1), i -> substr(name, i, 3)))) AS tg
        |       FROM canon),
        |qtg AS (SELECT q_key, unnest(list_distinct(list_transform(
        |         range(1, len(name) - 1), i -> substr(name, i, 3)))) AS tg
        |       FROM q),
        |dfc AS (SELECT tg, count(*) AS df FROM ctg GROUP BY 1),
        |keep AS (SELECT tg FROM dfc WHERE df <= 64),
        |pairs AS (SELECT DISTINCT q_key, c_custkey
        |          FROM qtg JOIN keep USING (tg) JOIN ctg USING (tg)),
        |v AS (SELECT p.q_key, p.c_custkey,
        |        len(list_intersect(
        |          list_distinct(list_transform(range(1, len(qn.name) - 1),
        |            i -> substr(qn.name, i, 3))),
        |          list_distinct(list_transform(range(1, len(cn.name) - 1),
        |            i -> substr(cn.name, i, 3))))) AS inter,
        |        len(list_distinct(list_transform(range(1, len(qn.name) - 1),
        |          i -> substr(qn.name, i, 3)))) AS nq,
        |        len(list_distinct(list_transform(range(1, len(cn.name) - 1),
        |          i -> substr(cn.name, i, 3)))) AS nc
        |      FROM pairs p
        |      JOIN q qn ON p.q_key = qn.q_key
        |      JOIN canon cn ON p.c_custkey = cn.c_custkey)
        |SELECT q_key, c_custkey, j_ppm FROM (
        |  SELECT q_key, c_custkey,
        |    CAST(inter AS BIGINT) * 1000000
        |      // CAST(nq + nc - inter AS BIGINT) AS j_ppm,
        |    row_number() OVER (PARTITION BY q_key ORDER BY
        |      CAST(inter AS BIGINT) * 1000000
        |        // CAST(nq + nc - inter AS BIGINT) DESC, c_custkey) AS rk
        |  FROM v WHERE CAST(inter AS BIGINT) * 1000000
        |    // CAST(nq + nc - inter AS BIGINT) >= 400000)
        |WHERE rk = 1""".stripMargin,

    "q152_session_stats" ->
      """SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |  max(epoch_ns(ts)) - min(epoch_ns(ts)) AS duration_ns,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM (
        |  SELECT user_id, ts, event_type,
        |    CAST(sum(new_session) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM (
        |    SELECT event_id, user_id, ts, event_type,
        |      CASE WHEN lag(ts) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |        OR epoch_ns(ts) - epoch_ns(lag(ts) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id))
        |          > 1800000000000
        |      THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |GROUP BY 1, 2""".stripMargin,

    "q153_timeseries_gapfill" ->
      """WITH b AS (SELECT epoch_ns(ts) // 3600000000000 AS h, event_type,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT unnest(generate_series(
        |    (SELECT min(h) FROM b), (SELECT max(h) FROM b))) AS h),
        |t AS (SELECT DISTINCT event_type FROM events)
        |SELECT r.h, t.event_type, coalesce(b.n, CAST(0 AS BIGINT)) AS n
        |FROM r CROSS JOIN t
        |LEFT JOIN b ON b.h = r.h AND b.event_type = t.event_type""".stripMargin,

    "q154_countmin_topk" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |    AS tok FROM documents),
        |cells AS (
        |  SELECT j, list_reduce(list_transform(
        |      string_split(substr(md5(CAST(j AS VARCHAR) || ':' || tok),
        |        1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, d) -> a * 16 + d) % 1024 AS b
        |  FROM toks CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
        |counters AS (
        |  SELECT j, b, CAST(count(*) AS BIGINT) AS cnt
        |  FROM cells GROUP BY 1, 2),
        |top20 AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS n_exact FROM toks
        |  GROUP BY 1 ORDER BY n_exact DESC, tok LIMIT 20),
        |est AS (
        |  SELECT tok, n_exact, j, list_reduce(list_transform(
        |      string_split(substr(md5(CAST(j AS VARCHAR) || ':' || tok),
        |        1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, d) -> a * 16 + d) % 1024 AS b
        |  FROM top20 CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j))
        |SELECT est.tok, est.n_exact, min(counters.cnt) AS n_est
        |FROM est JOIN counters ON est.j = counters.j AND est.b = counters.b
        |GROUP BY 1, 2""".stripMargin,

    "q155_pivot_hourly" ->
      """SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hod,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
        |    AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q156_cube_totals" ->
      """SELECT event_type, epoch_ns(ts) // 604800000000000 AS wk,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(GROUPING(event_type, epoch_ns(ts) // 604800000000000)
        |    AS BIGINT) AS gid
        |FROM events
        |GROUP BY CUBE(1, 2)""".stripMargin,

    "q151_token_budget_select" ->
      s"""WITH sc AS (SELECT doc_id,
         |    CAST(len($sqlToks) AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct($sqlToks)) AS BIGINT) * 1000000
         |      // CAST(len($sqlToks) AS BIGINT) AS score
         |  FROM documents WHERE len($sqlToks) > 0)
         |SELECT doc_id, score, n_tok, cum FROM (
         |  SELECT doc_id, score, n_tok,
         |    CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM sc)
         |WHERE cum <= (SELECT CAST(sum(n_tok) AS BIGINT) // 10 FROM sc)""".stripMargin
  )
}
