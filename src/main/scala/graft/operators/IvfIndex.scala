package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{SessionMemo, Tables}
import graft.functions.{Kernels, PqNative}

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
  *
  * The index also owns its DERIVED serving families ([[Derived]]), each
  * attached on demand and kept consistent by every mutation here:
  * residual/raw PQ codes + codebook ([[pqAttach]]), SQ8 codes + per-dim
  * book ([[sqAttach]]) and the cell-colocated payload copy
  * ([[metaAttach]]). [[write]] and [[remove]] drop them, [[append]]
  * encodes the increment's PQ codes against the frozen book and drops
  * the families it cannot grow, [[compact]] dedups them in lockstep.
  */
object IvfIndex {

  private val cosine = graft.functions.Kernels.CosineSimilarity

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
    * every code to cluster 0 (the degenerate-seed trap [[pqAttach]]
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

  /** The cell(s) a query vector probes: nProbe ≤ 1 keeps the scalar
    * argmax (no Generate node in the gated single-probe plans), more
    * explodes one row per top-nProbe cell. */
  private def probe(emb: Column, nProbe: Int): Column =
    if (nProbe <= 1) bestCell(emb) else explode(topCells(emb, nProbe))

  /** round(x·2^20) as BIGINT — integer-exact embedding quantization. */
  private[graft] def quant(e: Column): Column =
    transform(e, x => round(x.cast("double") * 1048576.0).cast("long"))

  /** Integer squared-L2 between two quantized vectors (BIGINT fold). */
  private[graft] def qdist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (s, d) => s + d)

  /** The cell's frozen centroid embedding, looked up in-row from the
    * broadcast packed `cents` column (the cells are few; the filter+pick
    * runs inside the scanned row, no join). */
  private def centEmbOf(cell: Column): Column =
    element_at(filter(col("cents"),
      ce => ce.getField("cent_id") === cell), 1).getField("cent_emb")

  /** A derived serving family: `rows`, the per-member table bucketed by
    * cell like `_cells`, plus the 1-row book its rows were encoded
    * with, if any. Attach commits the book first and the rows second,
    * so a crash between the two reads as absent ([[attached]] needs
    * every table). */
  private[graft] final case class Family(rows: String,
      book: Option[String] = None) {
    def tables: Seq[String] = book.toSeq :+ rows
  }

  /** PQ codes (cell, vec_id, codes) + the packed codebook row. */
  private[graft] val Pq = Family("_pqcodes", Some("_pqbook"))
  /** SQ8 codes (cell, vec_id, codes BINARY) + the per-dim (mn, sc) row. */
  private[graft] val Sq = Family("_sqcodes", Some("_sqbook"))
  /** The cell-colocated payload copy (cell, vec_id, label). */
  private[graft] val Meta = Family("_meta")
  /** Every derived family: what each index mutation keeps consistent. */
  private val Derived = Seq(Pq, Sq, Meta)

  /** True iff every table of `family` exists for index `name`. */
  private[graft] def attached(spark: SparkSession, name: String,
      family: Family): Boolean =
    family.tables.forall(t => spark.catalog.tableExists(name + t))

  /** The family's per-member rows table. */
  private[graft] def rows(spark: SparkSession, name: String,
      family: Family): DataFrame =
    spark.table(name + family.rows)

  private def drop(spark: SparkSession, name: String, family: Family): Unit =
    family.tables.foreach(t => Tables.dropTableFast(spark, name + t))

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
    // every derived family encodes against THESE cells/centroids: a
    // rewrite invalidates them all, and the serving query re-attaches
    // on its build-if-missing guard
    (Seq("_cells", "_cents") ++ Derived.flatMap(_.tables))
      .foreach(t => Tables.dropTableFast(spark, name + t))
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
          posexplode(quant(col("embedding"))).as(Seq("pos", "v")))
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
    * re-seed) is [[write]]'s full refresh, run offline.
    *
    * An attached PQ family grows with the cells: the increment encodes
    * against the FROZEN codebook — the codes twin of the frozen-centroid
    * assignment; codebook drift, like centroid drift, is a rebuild/attach
    * decision, never an ingest side effect (a per-batch retrain would
    * re-scan history every micro-batch). Cells append first, codes
    * second: a crash between the two leaves the appended vectors
    * CODELESS — a bounded recall loss (they vanish from ADC serving;
    * never a wrong match) that [[pqHeal]] repairs. The SQ and meta
    * families have NO append path (nothing supplies SQ codes or payload
    * here) and drop BEFORE the cells grow — a stale copy would silently
    * hide appended rows from every SQ / filtered serve, so
    * absence-plus-reattach is the only safe state, crash included.
    * `vectors` must not read `<name>_cells` lazily: the codes append
    * re-evaluates it after the cells append landed. */
  def append(spark: SparkSession, vectors: DataFrame, name: String): Unit = {
    val growPq = attached(spark, name, Pq)
    Derived.filterNot(f => growPq && f == Pq).foreach(drop(spark, name, _))
    appendCells(spark, vectors, name)
    if (growPq) appendCodes(spark, name, vectors)
  }

  /** The cells half of [[append]], derived families untouched — on a
    * PQ-attached index, exactly the state a crash between the cells and
    * codes appends leaves. */
  private[graft] def appendCells(spark: SparkSession, vectors: DataFrame,
      name: String): Unit = {
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
    // no spread here: assignment is in-row (parallel in the scan's own
    // partitions) and the cell join immediately re-exchanges on cell —
    // a vec_id repartition in front of it is a pure extra stage
    val assigned = newVecs
      .crossJoin(broadcast(centsFrame(spark, name)))
      .select(probe(col("embedding"), nProbe).as("cell"),
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
    * writes bucket-aligned — no corpus shuffle at any scale.
    *
    * Compaction never changes MEMBERSHIP — it only removes crash-replay
    * duplicate rows, whose derived rows are bit-identical by
    * construction (same frozen book, same vector) — so every attached
    * family's rows compact IN LOCKSTEP (same (cell, vec_id) dedup) and
    * no retrain is needed; dropping them would make the ADC streaming
    * tier pay a full codebook retrain + corpus re-encode per compaction
    * cadence, a cost linear in history. A half-committed family (a
    * crash inside its attach) drops. */
  def compact(spark: SparkSession, name: String): Unit = {
    Tables.compactBucketed(spark, s"${name}_cells", "cell",
      Seq("cell", "vec_id"))
    Derived.foreach { f =>
      if (attached(spark, name, f))
        Tables.compactBucketed(spark, name + f.rows, "cell",
          Seq("cell", "vec_id"))
      else drop(spark, name, f)
    }
  }

  /** Delete vectors from the index — the [[graft.operators.LshIndex
    * .remove]] move for the vector side: the bucket-preserving compact
    * rewrite with an anti-join against the deletion set folded in. The
    * frozen `_cents` row is untouched (removed vectors simply vanish
    * from their cells), so assignment semantics, bucket specs, and the
    * zero-exchange probe reads all hold by construction. Idempotent. */
  def remove(spark: SparkSession, name: String, ids: DataFrame): Unit = {
    // RTBF reaches the DERIVED families too: a lingering PQ/SQ code is
    // a (lossy) representation of a removed vector, and a lingering
    // meta row would let a filtered serve resurrect it — so they drop
    // FIRST, and a crash inside the rewrite cannot leave them behind
    Derived.foreach(drop(spark, name, _))
    val del = ids.select(col("vec_id")).distinct().localCheckpoint(true)
    Tables.compactBucketed(spark, s"${name}_cells", "cell",
      Seq("cell", "vec_id"),
      df => df.join(del, Seq("vec_id"), "left_anti"))
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
    Tables.rmTree(tmp)
  }

  /** (m, cluster, cent) codebook rows → ONE row holding the
    * (m, cluster)-sorted array, so PQ encode is a 1-row broadcast and the
    * per-subspace argmin stays inside the scanned row (q91's pack,
    * extended with the subspace key). */
  private def pqPack(cb: DataFrame): DataFrame =
    cb.groupBy().agg(array_sort(collect_list(
      struct(col("m"), col("cluster"), col("cent")))).as("cents"))

  /** One-Lloyd-round PQ codebook trained on `e` (vec_id, q), returned as
    * the packed 1-row broadcast frame (shared by q104's top-k and
    * [[pqAttach]]). Seeds = the 8 lowest-id vectors per subspace; one
    * integer-exact floor-mean update (shuffles k·M·subdim cells —
    * corpus-size-free); the trained book is a DIMENSION ARTIFACT
    * (4·8 rows) collected once — exactly how production PQ ships
    * codebooks — so every consumer's serving plan is scan + broadcasts
    * instead of re-running the training subtree. */
  private[graft] def pqTrainCodebook(spark: SparkSession, e: DataFrame,
      seedSel: DataFrame => DataFrame = _.filter(col("vec_id") < 8))
      : DataFrame = {
    val cents0 = seedSel(e)
      .select(col("vec_id").cast("int").as("cluster"), col("q"))
      .select(explode(sequence(lit(0), lit(3))).as("m"), col("cluster"),
        col("q"))
      .select(col("m"), col("cluster"),
        slice(col("q"), col("m") * 16 + 1, lit(16)).as("cent"))
    val a0 = Tables.spread(e, col("vec_id"))
      .crossJoin(broadcast(pqPack(cents0)))
      .select(col("vec_id"), col("q"),
        Kernels.PqEncode(col("q"), col("cents"), PqNative.M,
          PqNative.SubDim).as("codes0"))
    // one Lloyd update per (subspace, code): floor(sum/n) in pure
    // integer arithmetic; shuffles k·M·subdim cells, corpus-size-free
    val cents1 = a0
      .select(col("q"), posexplode(col("codes0")).as(Seq("m", "code")))
      .select(col("m"), col("code"),
        posexplode(slice(col("q"), col("m") * 16 + 1, lit(16)))
          .as(Seq("pos", "v")))
      .groupBy("m", "code", "pos")
      .agg(expr("(sum(v) - pmod(sum(v), count(*))) div count(*)")
        .cast("long").as("cd"))
      .groupBy("m", "code")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cd")))),
        x => x.getField("cd")).as("cent"))
      .select(col("m"), col("code").as("cluster"), col("cent"))
    import spark.implicits._
    val cbLocal = cents1.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .toSeq.toDF("m", "cluster", "cent")
    pqPack(cbLocal)
  }

  /** The packed 1-row PQ codebook: a warehouse-scope [[SessionMemo]] row
    * (the [[centsFrame]] rule). Any index mutation that cannot keep the
    * codes DROPS the `_pqbook` table, and the memo never serves a row
    * whose table is gone, so serving correctness does not hang on every
    * caller re-guarding with [[attached]]: a dropped-then-unattached
    * read fails loudly. */
  private def pqBookFrame(spark: SparkSession, name: String): DataFrame =
    SessionMemo.frame(spark, s"${name}_pqbook")

  /** The encoding the stored codes were trained with ("residual" |
    * "raw") — recorded IN the book artifact at attach time, so serving
    * derives the query-side transform from the index state instead of a
    * caller-supplied flag that could disagree with the codes. */
  private def pqEncodingOf(spark: SparkSession, name: String): String = {
    val row = SessionMemo.row(spark, s"${name}_pqbook")
    row.getString(row.fieldIndex("enc"))
  }

  /** The PQ encoder input for `emb` in `cell`: its quantized RESIDUAL
    * against the cell's frozen centroid (integer differences at the same
    * 2^20 quantization, so every downstream distance stays BIGINT-exact
    * and hash-gateable; the broadcast `cents` column must be in scope),
    * or under the raw encoding the quantized vector itself. */
  private def pqInput(emb: Column, cell: Column, residual: Boolean): Column =
    if (residual) zip_with(quant(emb), quant(centEmbOf(cell)), (x, y) => x - y)
    else quant(emb)

  /** (vec_id, cell, q) per probed cell of `vecs` (vec_id, embedding):
    * in-row assignment against the frozen centroids, then the PQ
    * encoder input in whichever encoding the book records. */
  private def pqProbeRows(spark: SparkSession, name: String,
      vecs: DataFrame, nProbe: Int): DataFrame =
    vecs.crossJoin(broadcast(centsFrame(spark, name)))
      .select(col("vec_id"), col("cents"), col("embedding"),
        probe(col("embedding"), nProbe).as("cell"))
      .select(col("vec_id"), col("cell"),
        pqInput(col("embedding"), col("cell"),
          pqEncodingOf(spark, name) == "residual").as("q"))

  /** (cell, vec_id, q) rows encoded against the 1-row `book`, laid out
    * for a bucketed write of `_pqcodes`. */
  private def pqCodes(rows: DataFrame, book: DataFrame,
      buckets: Int): DataFrame =
    rows.crossJoin(broadcast(book.select(col("cents"))))
      .select(col("cell"), col("vec_id"),
        Kernels.PqEncode(col("q"), col("cents"), PqNative.M,
          PqNative.SubDim).as("codes"))
      .repartition(buckets, col("cell"))

  /** Attach the PQ serving family to an existing IVF index (FAISS
    * IVFPQ, Jégou et al. 2011 — now with the standard RESIDUAL encoding,
    * the r14 refinement): train the 4-subspace codebook on the index
    * rows' residuals against their frozen coarse centroids, then commit
    *
    *   - `<name>_pqbook`  — the packed 1-row codebook (4·8 rows of
    *     16 BIGINTs, a dimension artifact, exactly how production PQ
    *     ships codebooks);
    *   - `<name>_pqcodes` — (cell, vec_id, codes): 4 small ints per
    *     vector, bucketed by cell like the cells table, so the serving
    *     join reads it with ZERO index-side exchange and the payload
    *     crossing the join is ~30× smaller than the float vectors.
    *
    * Residual encoding is the FAISS production standard because at
    * real scale (k ≈ √N cells ≫ codebook entries, structured
    * within-cell spread) a raw codebook wastes its entries re-encoding
    * coarse structure the cell id already carries, while residuals hand
    * PQ only the within-cell spread. Measured honestly in BOTH regimes:
    * on near-random vectors any 4×8 code is a lottery (q218: 3/50 both
    * encodings), and on the REGIME fixture the claim names — 64 cells
    * ≫ the 8-entry codebook with codebook-learnable within-cell
    * structure (regimeVecs) — residual wins 44/50 vs raw's 15/50
    * (RegimeRecallSpec pins the A/B; q226/q227 hash-gate both chains).
    * Codebook seeds are the 8 lowest index ids that are NOT coarse
    * centroids — a centroid row's residual against itself is
    * identically zero, so centroid seeds would coincide at the origin
    * and collapse every code to cluster 0 (at k > 8 the old
    * `vec_id ≥ 8` rule silently seeded exactly that degenerate book —
    * the r15 q222 A/B ran it, which is why residual "lost" there).
    * The exclusion applies to BOTH encodings so the A/B differs only
    * in the representation.
    *
    * Trained once per index state: [[append]] grows the codes against
    * this frozen book, [[compact]] dedups them in lockstep, and
    * [[write]]/[[remove]] drop them for the serving query's
    * attach-if-missing guard to retrain — codes are never recomputed
    * per query (the r14 full-corpus-re-encode finding). */
  private[graft] def pqAttach(spark: SparkSession, name: String,
      residual: Boolean = true): Unit = {
    drop(spark, name, Pq)
    val cells = spark.table(s"${name}_cells")
    val res = (if (residual) cells.crossJoin(broadcast(centsFrame(spark, name)))
        else cells)
      .select(col("cell"), col("vec_id"),
        pqInput(col("embedding"), col("cell"), residual).as("q"))
    val seedExcl = centIds(spark, name)
    val book = pqTrainCodebook(spark, res.select(col("vec_id"), col("q")),
        seedSel = _.filter(!col("vec_id").isin(seedExcl: _*))
          .orderBy("vec_id").limit(8))
      .withColumn("enc", lit(if (residual) "residual" else "raw"))
    val bookRow = book.collect().head
    val bookLocal = SessionMemo.oneRow(spark, bookRow)
    val buckets = Tables.bucketsOf(spark, s"${name}_cells")
    // book first, codes second, sequentially: the codes write dominates
    // wall time anyway, and a crash between the two reads as absent via
    // attached (requires BOTH tables)
    bookLocal.write.saveAsTable(s"${name}_pqbook")
    SessionMemo.put(spark, s"${name}_pqbook", bookRow)
    Tables.writeBucketed(pqCodes(res, bookLocal, buckets),
      s"${name}_pqcodes", "cell", buckets)
  }

  /** Encode `vecs` (vec_id, embedding) against `name`'s FROZEN centroids
    * + FROZEN codebook (whichever encoding the book records) and append
    * the codes bucket-aligned — the second half of [[append]] and the
    * repair step of [[pqHeal]]. */
  private def appendCodes(spark: SparkSession, name: String,
      vecs: DataFrame): Unit = {
    val buckets = Tables.bucketsOf(spark, s"${name}_pqcodes")
    Tables.appendBucketed(
      pqCodes(pqProbeRows(spark, name, vecs, 1), pqBookFrame(spark, name),
        buckets),
      s"${name}_pqcodes", "cell", buckets)
    spark.catalog.refreshTable(s"${name}_pqcodes")
  }

  /** Heal the [[append]] crash window: cells append first, codes
    * second, so a crash between the two leaves the appended vectors
    * CODELESS — present in `<name>_cells` but absent from
    * `<name>_pqcodes`, a silent recall loss at serving time (they
    * vanish from ADC candidate sets; never a wrong match). This finds
    * the gap by anti-join, re-encodes the missing vectors against the
    * FROZEN book, and appends their codes — idempotent (zero rows when
    * the artifacts agree), crash-replay-safe (a duplicate code row
    * cannot change a min-struct top-1 over identical structs), and run
    * by the streaming ingest's recovery pass on every (re)start
    * ([[graft.streaming.VecDupIngest]] ADC mode). Returns the number of
    * healed vectors. */
  private[graft] def pqHeal(spark: SparkSession, name: String): Long = {
    require(attached(spark, name, Pq), s"$name has no PQ artifacts to heal")
    val missing = spark.table(s"${name}_cells")
      .select(col("vec_id"), col("embedding"))
      .join(spark.table(s"${name}_pqcodes").select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      .dropDuplicates("vec_id")
      .localCheckpoint()
    val n = missing.count()
    if (n > 0L) appendCodes(spark, name, missing)
    n
  }

  /** The packed 1-row SQ book (the [[pqBookFrame]] rule). */
  private def sqBookFrame(spark: SparkSession, name: String): DataFrame =
    SessionMemo.frame(spark, s"${name}_sqbook")

  /** Attach the SQ8 scalar-quantization serving family to an existing
    * IVF index — the OTHER FAISS-standard code layout next to PQ
    * (IndexScalarQuantizer QT_8bit): one byte per dimension against a
    * frozen per-dim (min, span) book learned over the index rows'
    * quantized values, committed as
    *
    *   - `<name>_sqbook`  — the packed 1-row book (d (mn, sc) pairs, a
    *     dimension artifact like the PQ codebook);
    *   - `<name>_sqcodes` — (cell, vec_id, codes BINARY): d bytes per
    *     vector, bucketed by cell like the cells/codes tables, zero
    *     index-side exchange at serve time.
    *
    * The layout point vs PQ: 16× the bits (64 B vs 4 B at d = 64) for
    * fidelity that needs no codebook training — the memory/recall
    * middle ground between PQ codes and float rows, and Sq8Spec
    * measures exactly that on the regime fixture. Encoding is RAW
    * (global book), not per-cell residual: 256 levels per dimension
    * already out-resolve within-cell spread at this width, and a
    * global book keeps serving reconstruction independent of the
    * probed cell. Book first, codes second (the [[pqAttach]] sequential
    * rule). [[append]] drops the family (the streaming growth path
    * serves PQ codes), and a grown index re-attaches SQ on the next
    * gated read. */
  private[graft] def sqAttach(spark: SparkSession, name: String): Unit = {
    drop(spark, name, Sq)
    val qrows = spark.table(s"${name}_cells")
      .select(col("cell"), col("vec_id"), quant(col("embedding")).as("q"))
    // per-dim min/span: one distributed pass, d partial cells per
    // partition; the packed 1-row book is a dimension artifact (the
    // cents/pqbook collect class)
    val book = qrows
      .select(posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v")).as("mn"), (max(col("v")) - min(col("v"))).as("sc"))
      .groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mn"), col("sc")))),
        x => struct(x.getField("mn").as("mn"), x.getField("sc").as("sc")))
        .as("book"))
    val bookRow = book.collect().head
    val bookLocal = SessionMemo.oneRow(spark, bookRow)
    val buckets = Tables.bucketsOf(spark, s"${name}_cells")
    bookLocal.write.saveAsTable(s"${name}_sqbook")
    SessionMemo.put(spark, s"${name}_sqbook", bookRow)
    Tables.writeBucketed(
      qrows.crossJoin(broadcast(bookLocal))
        .select(col("cell"), col("vec_id"),
          Kernels.SqEncode(col("q"), col("book")).as("codes"))
        .repartition(buckets, col("cell")),
      s"${name}_sqcodes", "cell", buckets)
  }

  /** Attach a cell-colocated METADATA table to an existing IVF index —
    * the payload-column layout every production vector store pairs with
    * its inverted lists (FAISS id-maps, vector-DB payload storage):
    * `<name>_meta` (cell, vec_id, label), bucketed by cell like the
    * cells/codes tables, so a filtered serve reads candidate metadata
    * with ZERO index-side exchange (the codes⋈meta join is bucket-local
    * sort-merge). Without this copy, every metadata-filtered query would
    * join the index side against the lake table on vec_id — a full
    * index shuffle per query, the exact cost class the bucketed layout
    * exists to avoid. Assignment is in-row from the SOURCE embeddings
    * against the frozen packed-centroid broadcast (never a join against
    * the cells table — attaching payload must not shuffle the index
    * either); `src` must be the index's own population (vec_id,
    * embedding, label). Nothing appends payload, so [[append]] drops
    * the family, like [[write]] and [[remove]]. */
  private[graft] def metaAttach(spark: SparkSession, name: String,
      src: DataFrame): Unit = {
    drop(spark, name, Meta)
    val buckets = Tables.bucketsOf(spark, s"${name}_cells")
    val assigned = src
      .crossJoin(broadcast(centsFrame(spark, name)))
      .select(bestCell(col("embedding")).as("cell"),
        col("vec_id"), col("label"))
      .repartition(buckets, col("cell"))
    Tables.writeBucketed(assigned, s"${name}_meta", "cell", buckets)
  }

  /** Per-candidate ADC scores — (new_id, cell, old_id, approx_d) for
    * every stored code in the query's probed cell(s): the serving core
    * of the ADC top-1/top-k queries and the streaming ingest's
    * shortlist-then-verify serving ([[graft.streaming.VecDupIngest]]
    * ADC mode, which needs the pre-aggregation rows for a top-R cut plus
    * `excludeIds` — the crash-replay self-match guard, batch-sized
    * broadcast anti like [[matchIncrement]]'s). */
  private[graft] def adcScores(spark: SparkSession, name: String,
      delta: DataFrame, nProbe: Int = 1,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    val cand0 = spark.table(s"${name}_pqcodes")
      .select(col("cell"), col("vec_id").as("old_id"), col("codes"))
    val cand = excludeIds.fold(cand0)(ex => cand0.join(
      broadcast(ex.select(col("vec_id").as("old_id"))), Seq("old_id"),
      "left_anti"))
    cand.join(adcQuerySide(spark, name, delta, nProbe), "cell")
      .withColumn("approx_d",
        Kernels.AdcSum(col("codes"), col("dtable"), PqNative.M))
      .select(col("new_id"), col("cell"), col("old_id"), col("approx_d"))
  }

  /** The ADC query side — (new_id, cell, dtable) per delta vector and
    * probed cell: probed cell(s), the encoding's query transform
    * (residual subtracts the probed cell's centroid), then the
    * per-(query, cell) 4×8 ADC distance table — each step in-row vs a
    * 1-row broadcast; nothing here touches the index side. Shared by
    * [[adcScores]] and the filtered serves ([[filteredAdcTopK]],
    * [[filteredTopK]]'s dense branch). */
  private def adcQuerySide(spark: SparkSession, name: String,
      delta: DataFrame, nProbe: Int): DataFrame =
    pqProbeRows(spark, name, delta, nProbe)
      .crossJoin(broadcast(pqBookFrame(spark, name).select(col("cents"))))
      .select(col("vec_id").as("new_id"), col("cell"),
        transform(col("cents"), cs => struct(
          cs.getField("m").as("m"),
          cs.getField("cluster").as("cluster"),
          qdist2(slice(col("q"), cs.getField("m") * 16 + 1, lit(16)),
            cs.getField("cent")).as("d"))).as("dtable"))

  /** Top-k serve over the stored SQ8 codes — the q228 shape with the
    * byte-per-dim representation: candidates cross the probe join as
    * (cell, old_id, d bytes); the query side packs its quantized value
    * with the broadcast book per dim (struct(qv, mn, sc)) in-row and
    * broadcasts (batch-sized × nProbe by construction); distance is
    * integer squared-L2 against the RECONSTRUCTED candidate
    * ([[graft.functions.SqNative.sqDist]]). One exchange: the rank
    * window. Unlike PQ's per-cell residual tables, the global book
    * makes the distance independent of the probed cell — multi-probe
    * only widens the candidate set. */
  private[graft] def sqTopK(spark: SparkSession, name: String,
      delta: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cand = spark.table(s"${name}_sqcodes")
      .select(col("cell"), col("vec_id").as("old_id"), col("codes"))
    val qs = broadcast(delta
      .crossJoin(broadcast(centsFrame(spark, name)))
      .select(col("vec_id").as("new_id"),
        probe(col("embedding"), nProbe).as("cell"),
        quant(col("embedding")).as("q"))
      .crossJoin(broadcast(sqBookFrame(spark, name)))
      .select(col("new_id"), col("cell"),
        zip_with(col("q"), col("book"), (x, b) => struct(x.as("qv"),
          b.getField("mn").as("mn"), b.getField("sc").as("sc")))
          .as("qt")))
    val w = Window.partitionBy("new_id")
      .orderBy(col("approx_d"), col("old_id"))
    cand.join(qs, "cell")
      .withColumn("approx_d", Kernels.SqDist(col("codes"), col("qt")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("new_id", "old_id", "rank", "approx_d")
  }

  /** PER-QUERY metadata-filtered ADC top-k (q230) — the vector-DB
    * "tenant/language filter" serve: each query ranks only candidates
    * whose label EQUALS its own. A per-query predicate can never
    * pre-filter (the eligible set differs per query), so this is the
    * post-filter strategy: candidates = stored codes ⋈ colocated meta
    * (bucket-local, zero exchange), the label equality applies at the
    * probe join BEFORE the ADC arithmetic (wrong-label candidates never
    * reach the distance sum), and the rank window spans the probed
    * cells. Semantics: exact filtered top-k WITHIN the probed cells —
    * the filter costs no recall beyond coarse pruning because nothing
    * is shortlisted before it applies (a widened nProbe is the recall
    * dial, exactly as in the unfiltered serve). Only (new_id, cell,
    * old_id, 4 ints, label) rows ever cross an exchange. */
  private[graft] def filteredAdcTopK(spark: SparkSession, name: String,
      delta: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cand = spark.table(s"${name}_pqcodes")
      .select(col("cell"), col("vec_id"), col("codes"))
      .join(spark.table(s"${name}_meta")
        .select(col("cell"), col("vec_id"), col("label").as("old_label")),
        Seq("cell", "vec_id"))
      .select(col("cell"), col("vec_id").as("old_id"), col("codes"),
        col("old_label"))
    // the query side is batch-sized by construction (delta × nProbe
    // rows) — broadcast it EXPLICITLY: the label join above it hides
    // its size from the estimator, and a fallback SMJ would exchange
    // the bucketed candidate read it exists to keep local
    val qs = broadcast(adcQuerySide(spark, name,
        delta.select(col("vec_id"), col("embedding")), nProbe)
      .join(broadcast(delta.select(col("vec_id").as("new_id"),
        col("label").as("q_label"))), "new_id"))
    val w = Window.partitionBy("new_id")
      .orderBy(col("approx_d"), col("old_id"))
    cand.join(qs, "cell")
      .filter(col("old_label") === col("q_label"))
      .withColumn("approx_d",
        Kernels.AdcSum(col("codes"), col("dtable"), PqNative.M))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("new_id", "old_id", "rank", "approx_d")
  }

  /** CONSTANT-predicate filtered top-k with the selectivity-adaptive
    * strategy switch every production vector store implements (q231):
    *
    *   - predicate matches < `selThreshold` of the index → PRE-FILTER:
    *     resolve the eligible id set from the colocated meta table (the
    *     predicate pushes into its bucketed scan), fetch ONLY those
    *     members' float rows by a bucket-local cells⋈meta join (zero
    *     index-side exchange), and score them EXACTLY against the
    *     broadcast queries — recall-lossless, cost ∝ selectivity × N;
    *   - dense predicate → POST-FILTER through the ADC index: restrict
    *     the stored codes by the same bucket-local meta join, then the
    *     standard probed-cell ADC rank — cost ∝ probed-cell mass, the
    *     filter only narrows it.
    *
    * The dispatch counts the predicate over the meta table itself (a
    * 3-narrow-column bucketed scan — index-owned statistics, not a lake
    * scan; a production deployment would cache these counts with the
    * index and refresh on mutation). The threshold is a cost-tolerance
    * dial, not an asymptotic crossover: below it the exact scan costs
    * ≤ threshold × corpus float reads AND buys exactness, the
    * pgvector/FAISS "brute-force small filters" rule. Both branches
    * return (new_id, old_id, rank, dist) — dist is exact integer L2 on
    * the pre-filter branch, the ADC approximation on the dense branch,
    * the inherent semantics of the adaptive serve. */
  private[graft] def filteredTopK(spark: SparkSession, name: String,
      delta: DataFrame, pred: Column, k: Int, nProbe: Int = 2,
      selThreshold: Double = 0.05): DataFrame = {
    val meta = spark.table(s"${name}_meta")
    // ONE statistics pass, not two count jobs: total and matching ride
    // the same scan of the 3-narrow-column meta table
    val cnt = meta.agg(count(lit(1)).as("n"),
      count(when(pred, 1)).as("m")).head()
    val (total, matching) = (cnt.getLong(0), cnt.getLong(1))
    val w = Window.partitionBy("new_id").orderBy(col("dist"), col("old_id"))
    if (total == 0L || matching < selThreshold * total) {
      val elig = meta.filter(pred).select(col("cell"), col("vec_id"))
      val cand = spark.table(s"${name}_cells")
        .join(elig, Seq("cell", "vec_id"))
        .select(col("vec_id").as("old_id"),
          quant(col("embedding")).as("hq"))
      val dq = delta.select(col("vec_id").as("new_id"),
        quant(col("embedding")).as("q"))
      cand.crossJoin(broadcast(dq))
        .select(col("new_id"), col("old_id"),
          qdist2(col("q"), col("hq")).as("dist"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("new_id", "old_id", "rank", "dist")
    } else {
      val cand = spark.table(s"${name}_pqcodes")
        .select(col("cell"), col("vec_id"), col("codes"))
        .join(meta.filter(pred).select(col("cell"), col("vec_id")),
          Seq("cell", "vec_id"))
        .select(col("cell"), col("vec_id").as("old_id"), col("codes"))
      cand.join(adcQuerySide(spark, name, delta, nProbe), "cell")
        .withColumn("dist",
          Kernels.AdcSum(col("codes"), col("dtable"), PqNative.M))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("new_id", "old_id", "rank", "dist")
    }
  }
}
