package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SessionMemo, Tables}

/** Persistent IVF (inverted-file) ANN index — the INCREMENTAL path for a
  * growing embedding corpus, the vector-side twin of [[LshIndex]]. The
  * one-shot q43 formulation re-assigns the whole corpus per run; at
  * scale the index is built ONCE and every ingest increment is assigned
  * and matched with the indexed side never re-shuffling:
  *
  *   - `<name>_cells` (cell, vec_id, embedding), bucketed+sorted BY
  *     CELL: the probe join is a sort-merge join where the index side
  *     reads pre-bucketed files with ZERO Exchange (TablesBucketingSpec
  *     semantics) — only the increment shuffles, and it is the small
  *     side by construction;
  *   - `<name>_cents` — the FROZEN packed centroid row (k·d values):
  *     increments assign against the centroids the index was built
  *     with, never a recompute (centroid drift is a rebuild decision, a
  *     compaction-style refresh, not an ingest-path side effect).
  *
  * Assignment is q43/q91's packed-centroid discipline: all centroids
  * ride ONE broadcast row and the argmax-cosine fold runs inside each
  * scanned row — neither the corpus at build time nor the increment at
  * ingest time shuffles to assign.
  */
object IvfIndex {

  private val cosine = graft.functions.Expressions.cosineSim _

  /** The packed 1-row centroid frame for `name`: a warehouse-scope
    * [[SessionMemo]] row (re-scanning the `_cents` table would be a whole
    * Spark job per matchIncrement/append/cellOf composition, pure fixed
    * cost), put by [[write]], read through from the table otherwise, and
    * never served once the table is dropped. Composition surface for
    * callers that need the broadcast cents row (the streaming ingest's
    * in-batch pairing). */
  private[graft] def centsFrame(spark: SparkSession, name: String): DataFrame =
    SessionMemo.frame(spark, s"${name}_cents")

  /** The frozen coarse-centroid vec_ids, extracted from the cached packed
    * row (no extra job) — the PQ codebook's seed EXCLUSION set: a coarse
    * seed's residual against its own centroid is identically zero, so
    * seeding the residual codebook from centroid rows would collapse
    * every code to cluster 0 (the degenerate-seed trap pqAttach
    * documents; at k > 8 the old `vec_id >= 8` rule silently hit it). */
  private[graft] def centIds(spark: SparkSession, name: String): Seq[Long] =
    SessionMemo.row(spark, s"${name}_cents").getSeq[org.apache.spark.sql.Row](0)
      .map(_.getLong(0))

  /** The k ≈ √N sizing rule: with k cells over N vectors, a probe scans
    * ~N/k members and assignment compares k centroids — both ≈ √N at
    * k = √N, the standard IVF balance (fixed k makes per-increment match
    * cost grow LINEARLY with history; √N keeps it at √N). Floor of 8
    * matches the gated queries' corpus-calibrated default. */
  def autoK(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toInt)

  /** Schema of the packed 1-row centroid table: cents = array of
    * (cent_id, cent_emb), element type taken from the source embedding. */
  private def centsSchema(embType: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("cents", ArrayType(StructType(Seq(
      StructField("cent_id", LongType, nullable = false),
      StructField("cent_emb", embType, nullable = false))),
      containsNull = false), nullable = false)))
  }

  /** The in-row argmax-cosine assignment (strict `>` over the
    * cent_id-ascending packed array — ties keep the lowest id, matching
    * the oracle's (cos desc, cent_id asc) order). */
  private def bestCell(emb: Column): Column =
    aggregate(col("cents"),
      struct(lit(Double.NegativeInfinity).as("cs"), lit(-1L).as("c")),
      (acc, ce) => {
        val csim = cosine(emb, ce.getField("cent_emb"))
        when(csim > acc.getField("cs"),
          struct(csim.as("cs"), ce.getField("cent_id").as("c")))
          .otherwise(acc)
      }).getField("c")

  /** Public in-row assignment column — composition surface for the
    * streaming ingest's in-batch cell-local pairing (the caller supplies
    * the broadcast `cents` row via crossJoin, exactly like the internal
    * sites). */
  def cellOf(emb: Column): Column = bestCell(emb)

  /** Top-`nProbe` cells by cosine (best first; ties prefer the lowest
    * cent_id, agreeing with [[bestCell]] at nProbe = 1) — the multi-probe
    * assignment: sort (−cos, cent_id) structs and take the leading ids.
    * All arithmetic rides the same packed-centroid broadcast in-row. */
  private[graft] def topCells(emb: Column, nProbe: Int): Column =
    slice(transform(array_sort(transform(col("cents"), ce =>
      struct((-cosine(emb, ce.getField("cent_emb"))).as("ncs"),
        ce.getField("cent_id").as("c")))),
      s => s.getField("c")), 1, nProbe)

  /** Build the index from `vectors` (vec_id, embedding): centroids =
    * the `k` lowest vec_ids (the q43/q91 deterministic seeding), every
    * vector assigned in-row, cells stored bucketed. Rewrite = full
    * refresh (overwrite), like layout-table compaction.
    *
    * `refineIters` > 0 runs that many Lloyd rounds over the SEEDS before
    * freezing — spherical k-means: assign by the same in-row argmax-cosine
    * the index serves with, update each cell's centroid to its member
    * mean (cosine is scale-invariant, so the unnormalized mean carries
    * the mean DIRECTION exactly). The update is the q91 integer-exact
    * discipline — members quantize to round(x·2^20) BIGINTs, per-(cell,
    * pos) sums are exact, floor(sum/n) divides exactly — so refined
    * centroids are bit-identical regardless of partitioning or run order
    * (a float mean would make the frozen index nondeterministic). Each
    * round is one distributed pass shuffling k·d partial-sum cells
    * (corpus-size-free); a cell that attracts no members keeps its
    * previous centroid. Refinement changes WHICH centroids freeze, never
    * the ingest-path contract: cent ids stay the seed ids, assignment
    * stays in-row against the packed broadcast. Measured effect
    * (VecDupSoak, SCALE.md): the lowest-vec_id seeds leak recall at
    * nProbe=1 that refined centroids buy back. */
  def write(spark: SparkSession, vectors: DataFrame, name: String,
      k: Int = 8, buckets: Int = 16, refineIters: Int = 0): Unit = {
    // _pqcodes/_pqbook/_meta are DERIVED serving artifacts (PQ codes are
    // residuals against THESE cells/centroids — graft.queries.VectorOps
    // .pqAttach; _meta is the cell-colocated payload copy of
    // VectorOps.metaAttach): any index rewrite invalidates them; the
    // serving query re-attaches on its build-if-missing guard
    Seq(s"${name}_cells", s"${name}_cents",
        s"${name}_pqcodes", s"${name}_pqbook",
        s"${name}_sqcodes", s"${name}_sqbook",
        s"${name}_meta").foreach(Tables.dropTableFast(spark, _))
    // the packed-centroid row is k·d values — fetch the k seed vectors
    // with ONE TakeOrdered job (no shuffle, no agg stage), pack the row
    // driver-side, and reuse the local 1-row frame for BOTH the persisted
    // _cents table and the assignment broadcast: the previous formulation
    // ran a sort+limit+agg pipeline TWICE (saveAsTable + the spark.table
    // re-read behind the crossJoin), pure fixed cost on every build
    // (q143's ratio was all catalog/re-job overhead, not assignment work)
    val seeds = vectors.select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(k).collect()
    val embType = vectors.schema("embedding").dataType
    val elemIsFloat = embType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    def packRow(cents: Seq[(Long, Seq[Any])]): org.apache.spark.sql
        .catalyst.expressions.GenericRowWithSchema =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](cents.sortBy(_._1).map { case (id, emb) =>
          org.apache.spark.sql.Row(id, emb) }),
        centsSchema(embType))
    var cents: Seq[(Long, Seq[Any])] = seeds.sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Any](1))).toSeq
    // Lloyd rounds: one distributed pass each — in-row argmax assignment
    // against the current packed broadcast, then exact integer mean per
    // (cell, pos); only k·d partial-sum cells shuffle, and only k rows
    // (a dimension artifact) reach the driver
    var it = 0
    while (it < refineIters) {
      val cur = SessionMemo.oneRow(spark, packRow(cents))
      val updated = vectors
        .crossJoin(broadcast(cur))
        .select(bestCell(col("embedding")).as("cell"),
          posexplode(transform(col("embedding"),
            x => round(x.cast("double") * 1048576.0).cast("long")))
            .as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(expr("(sum(v) - pmod(sum(v), count(*))) div count(*)")
          .cast("long").as("cd"))
        .groupBy("cell")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cd")))),
          x => x.getField("cd")).as("cent"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      cents = cents.map { case (id, old) =>
        updated.get(id).fold((id, old)) { q =>
          (id, if (elemIsFloat) q.map(v => (v / 1048576.0).toFloat)
               else q.map(v => v / 1048576.0))
        }
      }
      it += 1
    }
    val packed = packRow(cents)
    val centsLocal = SessionMemo.oneRow(spark, packed)
    // repartition on the BUCKET key: the bucket id is pmod(murmur3(cell),
    // buckets) — the same hash family repartition uses — so each write
    // task holds exactly one bucket's rows and emits exactly one file
    // (the vec_id spread it replaces wrote up to tasks×buckets files and
    // shuffled on a key the write immediately re-hashed away)
    val assigned = vectors
      .crossJoin(broadcast(centsLocal))
      .select(bestCell(col("embedding")).as("cell"), col("vec_id"),
        col("embedding"))
      .repartition(buckets, col("cell"))
    // the two table writes are independent (assignment broadcasts the
    // LOCAL cents frame, not the table) — overlap them: the tiny cents
    // write rides inside the cells write's scan+shuffle wall time instead
    // of serializing another commit round in front of it
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val centsWrite = Future(
      centsLocal.write.saveAsTable(s"${name}_cents"))
    Tables.writeBucketed(assigned, s"${name}_cells", "cell", buckets)
    Await.result(centsWrite, Duration.Inf)
    SessionMemo.put(spark, s"${name}_cents", packed)
  }

  /** Append an increment's vectors to an existing index — the streaming
    * growth path ([[graft.streaming.VecDupIngest]]), the vector twin of
    * [[LshIndex.append]]: vectors assign in-row against the FROZEN
    * centroid broadcast and append bucket-aligned, so the zero-exchange
    * index-side reads of [[matchIncrement]] keep holding as the index
    * grows. Compaction (many small bucket files → few, or a centroid
    * re-seed) is [[write]]'s full refresh, run offline. */
  /** `keepPq = true` is for callers that append the increment's PQ
    * codes themselves (graft.queries.VectorOps.pqAppend encodes against
    * the FROZEN codebook — the codes twin of the frozen-centroid
    * assignment); the default drops the derived artifacts so a plain
    * append can never leave the codes table silently incomplete. */
  def append(spark: SparkSession, vectors: DataFrame, name: String,
      keepPq: Boolean = false): Unit = {
    val buckets = Tables.bucketsOf(spark, s"${name}_cells")
    val assigned = vectors
      .crossJoin(broadcast(centsFrame(spark, name)))
      .select(bestCell(col("embedding")).as("cell"), col("vec_id"),
        col("embedding"))
      .repartition(buckets, col("cell"))
    Tables.appendBucketed(assigned, s"${name}_cells", "cell", buckets)
    // under foreachBatch the reader can be a different clone of the same
    // SharedState (stale file listing — the LshIndex.append lesson), so
    // refresh here
    spark.catalog.refreshTable(s"${name}_cells")
    // appended rows carry no PQ codes yet — invalidate (see write)
    // unless the caller appends codes itself (pqAppend). The _sq* and
    // _meta artifacts have NO append path (nothing supplies SQ codes or
    // payload at append time), so they drop unconditionally — a stale
    // copy would silently hide appended rows from every SQ serve /
    // filtered serve, the codeless-window class without a heal, so
    // absence-plus-reattach is the only safe state
    if (!keepPq) dropPq(spark, name)
    dropSq(spark, name)
    dropDerivedTable(spark, s"${name}_meta")
  }

  /** True iff the index tables exist in the session catalog. */
  def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(s"${name}_cells") &&
      spark.catalog.tableExists(s"${name}_cents")

  /** Match an ingest increment against the index: each new vector
    * assigns in-row to its FROZEN centroid cell and meets that cell's
    * indexed members in bucket order — (new_id, old_id, rank, cos_sim),
    * top-`topK` by cosine. Only the increment moves. `excludeIds`
    * (vec_id), when given, removes those index members BEFORE the rank
    * window — the streaming replay guard: a crash-replayed batch finds
    * its own vectors in the index at cosine 1.0, and filtering after the
    * window would let the self-row displace the genuine history match
    * from rank 1. The exclusion side is batch-sized (broadcast anti).
    * `nProbe` > 1 probes the increment vector's top-P cells instead of
    * only the argmax cell — the standard IVF recall/cost knob (the q190
    * gate and VecDupSoak measure the single-probe concession this buys
    * back): the increment explodes ×P before the cell join, the rank
    * window still spans ALL probed cells per new_id, and the index side
    * keeps its zero-exchange bucketed read. */
  def matchIncrement(spark: SparkSession, newVecs: DataFrame, name: String,
      topK: Int = 3, excludeIds: Option[DataFrame] = None,
      nProbe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // no spread here: assignment is in-row (parallel in the scan's own
    // partitions) and the cell join immediately re-exchanges on cell —
    // a vec_id repartition in front of it is a pure extra stage
    val withCents = newVecs
      .crossJoin(broadcast(centsFrame(spark, name)))
    // nProbe = 1 keeps the scalar argmax path (no Generate node in the
    // gated q143/q189/q190 plans); multi-probe explodes the top-P ids
    val assigned =
      if (nProbe <= 1)
        withCents.select(bestCell(col("embedding")).as("cell"),
          col("vec_id").as("new_id"), col("embedding").as("new_emb"))
      else
        withCents.select(
          explode(topCells(col("embedding"), nProbe)).as("cell"),
          col("vec_id").as("new_id"), col("embedding").as("new_emb"))
    val w = Window.partitionBy("new_id")
      .orderBy(col("cos_sim").desc, col("old_id"))
    val idx0 = spark.table(s"${name}_cells")
      .select(col("cell"), col("vec_id").as("old_id"),
        col("embedding").as("old_emb"))
    val idx = excludeIds.fold(idx0)(ex => idx0.join(
      broadcast(ex.select(col("vec_id").as("old_id"))), Seq("old_id"),
      "left_anti"))
    val scored = idx
      .join(assigned, "cell")
      .withColumn("cos_sim", cosine(col("new_emb"), col("old_emb")))
    // topK = 1 (the dup-decision path: q189, VecDupIngest): a max-struct
    // aggregate replaces the rank window — it partial-aggregates MAP-SIDE
    // (each task reduces its cell's candidates to one row per new_id
    // before the exchange, where the window shipped every candidate and
    // sorted), same (cos desc, old_id asc) order via (cos, -old_id)
    // struct comparison on the UNROUNDED cosine the window sorted on
    if (topK == 1)
      scored.groupBy(col("new_id"))
        .agg(max(struct(col("cos_sim"), (-col("old_id")).as("nid")))
          .as("best"))
        .select(col("new_id"), (-col("best.nid")).as("old_id"),
          lit(1).as("rank"), round(col("best.cos_sim"), 6).as("cos_sim"))
    else
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("new_id"), col("old_id"), col("rank"),
          round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Bucket-preserving compaction: per-micro-batch [[append]]s write
    * `buckets` files each (a per-minute stream accumulates ~23k files/day),
    * and a crash between append and the caller's commit marker can leave
    * REPLAY-DUPLICATED rows. Coalesce each bucket's files to one and drop
    * duplicate (cell, vec_id) rows, WITHOUT touching the frozen `_cents`
    * row or the bucket spec — zero-exchange probe reads and all match
    * results are unchanged by construction (spec-pinned). Unlike
    * [[write]]'s full refresh this never re-assigns: the rewrite reads
    * bucket-aligned, dedups on the partitioning it already has, and
    * writes bucket-aligned — no corpus shuffle at any scale. */
  /** `keepPq = true` compacts the derived `_pqcodes` table IN LOCKSTEP
    * (same (cell, vec_id) dedup) instead of dropping it: compaction
    * never changes MEMBERSHIP — it only removes crash-replay duplicate
    * rows, whose codes are bit-identical by construction (same frozen
    * book, same vector) — so the deduped codes remain exactly the
    * index's codes and no retrain is needed. Without this, the ADC
    * streaming tier paid a full codebook retrain + corpus re-encode at
    * the batch after every compaction cadence — a per-compact cost
    * linear in history, the exact class the frozen-artifact discipline
    * exists to avoid. Membership-CHANGING rewrites (remove/rebuild/
    * write) still drop the artifacts unconditionally. */
  def compact(spark: SparkSession, name: String,
      keepPq: Boolean = false): Unit = {
    Tables.compactBucketed(spark, s"${name}_cells", "cell",
      Seq("cell", "vec_id"))
    // the code families are INDEPENDENT here: an index serving only SQ
    // codes must not lose them because no PQ attach ever ran (and vice
    // versa) — each family compacts in lockstep when present under
    // keepPq (dedup rows' codes are bit-identical by construction: same
    // frozen book, same vector) and drops otherwise
    if (keepPq && spark.catalog.tableExists(s"${name}_pqcodes"))
      Tables.compactBucketed(spark, s"${name}_pqcodes", "cell",
        Seq("cell", "vec_id"))
    else dropPq(spark, name)
    if (keepPq && spark.catalog.tableExists(s"${name}_sqcodes"))
      Tables.compactBucketed(spark, s"${name}_sqcodes", "cell",
        Seq("cell", "vec_id"))
    else dropSq(spark, name)
  }

  /** Invalidate the derived PQ serving artifacts (see [[write]]'s note):
    * membership/layout mutations must not leave codes for rows that no
    * longer exist (or miss codes for rows a replay re-added) — the
    * serving query's attach-if-missing guard rebuilds them. The _meta
    * payload copy is invalidated SEPARATELY at each mutation site: its
    * lifecycle differs from the codes' (append drops it even under
    * keepPq — nothing appends payload; compaction keeps it even when
    * the codes drop — membership is unchanged and meta rows are unique
    * by construction, so there is nothing to compact in lockstep). */
  private def dropPq(spark: SparkSession, name: String): Unit =
    Seq(s"${name}_pqcodes", s"${name}_pqbook")
      .foreach(dropDerivedTable(spark, _))

  private def dropSq(spark: SparkSession, name: String): Unit =
    Seq(s"${name}_sqcodes", s"${name}_sqbook")
      .foreach(dropDerivedTable(spark, _))

  private def dropDerivedTable(spark: SparkSession, tbl: String): Unit =
    Tables.dropTableFast(spark, tbl)

  /** Delete vectors from the index — the [[graft.operators.LshIndex
    * .remove]] move for the vector side: the bucket-preserving compact
    * rewrite with an anti-join against the deletion set folded in. The
    * frozen `_cents` row is untouched (removed vectors simply vanish
    * from their cells), so assignment semantics, bucket specs, and the
    * zero-exchange probe reads all hold by construction. Idempotent. */
  def remove(spark: SparkSession, name: String, ids: DataFrame): Unit = {
    val del = ids.select(col("vec_id")).distinct().localCheckpoint(true)
    Tables.compactBucketed(spark, s"${name}_cells", "cell",
      Seq("cell", "vec_id"),
      df => df.join(del, Seq("vec_id"), "left_anti"))
    // RTBF reaches the DERIVED artifacts too: a lingering PQ/SQ code is
    // a (lossy) representation of a removed vector, and a lingering
    // meta row would let a filtered serve resurrect it
    dropPq(spark, name)
    dropSq(spark, name)
    dropDerivedTable(spark, s"${name}_meta")
  }

  /** Offline re-seed at the CURRENT corpus size — the periodic
    * counterpart of [[compact]] for a long-running ingest: compact fixes
    * FILES, rebuild fixes the k-vs-N balance. A frozen k makes
    * [[matchIncrement]]'s per-increment cost grow ~N/k as history grows;
    * re-seeding with `k = 0` (the [[autoK]] √N rule) restores the √N
    * shape, optionally Lloyd-refined. Rebuilds from the index's OWN
    * stored vectors via an on-disk staging copy (never a driver or
    * block-manager materialization — scale-safe), deduping crash-replay
    * rows on the way. Downstream dup DECISIONS are unchanged in kind
    * (greedy-vs-history stays an existence test); recall follows the new
    * centroids, measured in VecDupSoak. Run it offline on a corpus-growth
    * trigger (e.g. N > 4·k²), like any layout rewrite. */
  def rebuild(spark: SparkSession, name: String, k: Int = 0,
      refineIters: Int = 0): Unit = {
    val tmp = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath,
      s"${name}__rebuild_src")
    spark.table(s"${name}_cells").select("vec_id", "embedding")
      .dropDuplicates("vec_id")
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val data = spark.read.parquet(tmp.getAbsolutePath)
    val buckets = Tables.bucketsOf(spark, s"${name}_cells")
    val kk = if (k > 0) k else autoK(data.count())
    write(spark, data, name, kk, buckets, refineIters)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(tmp)
  }
}
