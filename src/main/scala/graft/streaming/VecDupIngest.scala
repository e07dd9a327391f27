package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Tables
import graft.operators.{ConnectedComponents, IvfIndex}

/** Streaming EMBEDDING near-duplicate ingest — the vector twin of
  * [[NearDupIngest]]: micro-batches of (vec_id, embedding) arrive and
  * only vectors that are not cosine-near-duplicates of anything seen
  * before survive, with the persistent [[IvfIndex]] as the seen-corpus
  * structure (the q34/q92 semantics made incremental).
  *
  * Contract (greedy first-seen, mirroring the text tier):
  *   - a vector is DROPPED if its IVF-pruned nearest indexed neighbor
  *     (same frozen-centroid cell — the q43 recall tradeoff) has cosine
  *     ≥ tau, against ANY earlier batch's vector, kept or dropped;
  *   - within a batch, survivors pair inside their cell (cosine ≥ tau),
  *     cluster via connected components, and each cluster keeps its min
  *     vec_id — one-batch stream ≡ the batch cell-local dedup rule;
  *   - ALL batch vectors (kept and dropped) append to the index, so
  *     later arrivals match the full seen corpus.
  *
  * Bootstrap: an IVF index needs centroids, and the centroid row is
  * FROZEN by design (assignment must never drift under ingest) — so a
  * bootstrap batch seeds the index via [[IvfIndex.write]]; a centroid
  * re-seed is [[IvfIndex.write]]'s offline full refresh, like LSH
  * compaction. An empty bootstrap would freeze an empty centroid set
  * and degenerate every later assignment to one cell, which is why this
  * tier has no `ensureIndex`. Because whatever seeds FREEZES, a tiny or
  * skewed first micro-batch would degrade every later assignment —
  * `minSeed` defers seeding until the seen corpus reaches that many
  * vectors: early batches run the EXACT brute-force contract against
  * the small pending corpus (staged under `outDir/_pending`; by
  * definition < minSeed rows, so the crossJoin is a broadcast against a
  * bounded dimension) and stage themselves, and the first batch that
  * tips the total over minSeed seeds the index from pending ∪ batch —
  * with `k = 0` sized by the [[IvfIndex.autoK]] √N rule and optionally
  * Lloyd-refined (`refineIters`), the production centroid build. The
  * deferral window is recall-SUPERIOR to the steady state (brute force
  * has no cell-pruning concession), so a degenerate first batch can
  * never lose a duplicate the healthy bootstrap would catch.
  *
  * Restart safety mirrors the text tier's r12 rule: a marker directory
  * per batchId makes the commit idempotent, and the history match
  * excludes the batch's OWN ids from the INDEX side before the rank
  * window ([[IvfIndex.matchIncrement]] `excludeIds`) — a crash between
  * the index append and the marker replays the batch self-indexed at
  * cosine 1.0, which would otherwise both flag every in-batch pair as a
  * history dup AND displace genuine history matches from rank 1.
  * Replay-duplicated index rows are harmless for the dup DECISION (an
  * existence test) and are removed by the next offline compaction.
  * foreachBatch is SERIAL, so only the LATEST batch can ever be
  * uncommitted — a replay never races a later batch's index rows (the
  * self-exclusion guard only ever needs the replaying batch's own ids).
  *
  * Scale shape: only the increment shuffles (one cell exchange); the
  * index side reads bucket-aligned with zero Exchange and grows by
  * bucket-aligned appends; in-batch clustering touches batch-sized
  * frames only.
  */
object VecDupIngest {

  private val cosine = graft.functions.Kernels.CosineSimilarity

  /** ADC-mode shortlist width default: the history match scores
    * candidates by stored PQ codes first, then exact-verifies only the
    * top-R per new vector against their float rows — the standard
    * two-stage serving cut. R trades a bounded recall concession (a
    * ≥-tau neighbor ranked past R by ADC is missed) against the
    * float-row lookups. R must exceed the ADC RESOLUTION CLASS — the
    * candidates the 4×8 codes cannot rank apart (ties break by id, so
    * the true neighbor silently loses to same-code lower ids): measured
    * at R=8 on the soak corpus, fixed k=8 (cells ≫ code resolution)
    * collapsed to 0.379 recall while autoK+refine+P=5 held 0.940 — the
    * cell-size-vs-code-resolution regime, again. 64 covers the class at
    * autoK cell sizes; the soak measures the residual concession. */
  private[graft] val AdcShortlistR = 64

  /** Process one micro-batch of (vec_id, embedding): writes the kept
    * vectors to `outDir/batch=<id>` and indexes the whole batch. Skips
    * if the batch is already committed. `minSeed` defers index seeding
    * (see the bootstrap contract above; 0 = seed on the first non-empty
    * batch); `k` sizes the centroid set at seed time (0 = the
    * [[IvfIndex.autoK]] √N rule); `refineIters` Lloyd-refines the seed
    * centroids before they freeze.
    *
    * `adcServe = true` switches the HISTORY match to the stored-PQ-codes
    * serving path (the q216/q224 layout, streamed): candidates cross
    * the probe join as (cell, old_id, 4 ints) instead of 64 floats —
    * the ~30× payload cut that makes billion-vector serving memory fit
    * — then only the ADC top-[[AdcShortlistR]] per new vector
    * exact-verify against their float rows (two-stage serving; the dup
    * DECISION stays an exact cosine ≥ tau test, so precision is
    * unchanged and the only concession is shortlist recall, measured in
    * the soak). The batch indexes via [[IvfIndex.append]], which
    * encodes it against the frozen book; every (re)start heals that
    * append's crash window ([[IvfIndex.pqHeal]] — the
    * cells-appended-codes-missing gap) before serving, and a missing PQ
    * artifact (an RTBF remove dropped it — derived codes must not
    * outlive removed rows) re-attaches against the CURRENT corpus: code
    * retrain is a recovery/rebuild decision here, never a per-batch
    * side effect. */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexName: String, outDir: String, tau: Double = 0.9,
      nProbe: Int = 1, minSeed: Long = 0L, k: Int = 8,
      refineIters: Int = 0, compactEvery: Int = 0,
      adcServe: Boolean = false): Unit = {
    val marker = new java.io.File(outDir, s"_committed/$batchId")
    if (marker.exists()) return
    val vecs = batch.select(col("vec_id"), col("embedding")).localCheckpoint()
    if (vecs.isEmpty) { marker.mkdirs(); return }
    var bootstrap = false
    if (!IvfIndex.exists(spark, indexName)) {
      // pending = earlier bootstrap-window batches, EXCLUDING this
      // batch's own staging dir (a crash after the stage write but
      // before the marker must not let a replayed batch self-match)
      val pendingDir = new java.io.File(outDir, "_pending")
      val pendingPaths = Option(pendingDir.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName != s"batch=$batchId" &&
          !f.getName.startsWith(TmpPrefix))
        .map(_.getAbsolutePath)
      val pending: Option[DataFrame] =
        if (pendingPaths.isEmpty) None
        else Some(spark.read.parquet(pendingPaths: _*).localCheckpoint())
      val seen = pending.fold(0L)(_.count()) + vecs.count()
      if (seen < minSeed) {
        // deferral window: the exact brute-force contract against the
        // (< minSeed, broadcast-sized) pending corpus, then stage
        bruteBatch(spark, vecs, pending, batchId, outDir, tau)
        vecs.write.mode("overwrite")
          .parquet(s"$pendingDir/batch=$batchId")
        marker.mkdirs()
        return
      }
      // seed the frozen centroids + cells from the WHOLE seen corpus
      IvfIndex.write(spark, pending.fold(vecs)(_.unionByName(vecs)),
        indexName, k = if (k > 0) k else IvfIndex.autoK(seen),
        refineIters = refineIters)
      // staged batches are in the index now; drop the staging area (a
      // crash here is safe: the replay sees the index and never reads
      // _pending again)
      if (pendingDir.exists()) Tables.rmTree(pendingDir)
      bootstrap = true
    }
    if (adcServe) {
      // serving-artifact recovery, every (re)start: a fresh seed or an
      // RTBF-invalidated book re-attaches (retrain = a recovery/rebuild
      // decision); an existing book heals the append crash window
      // (cells appended, codes missing) before any candidate read
      if (!IvfIndex.attached(spark, indexName, IvfIndex.Pq))
        IvfIndex.pqAttach(spark, indexName)
      else IvfIndex.pqHeal(spark, indexName)
    }
    // 1. drop anything cosine-similar to the seen corpus (self-rows
    //    excluded on the index side — the replay guard; on a bootstrap
    //    batch this leaves no candidates, the correct "no history" read).
    //    nProbe widens the history search to the top-P cells — the
    //    measured recall/cost knob (VecDupSoak table in SCALE.md)
    val histDups =
      if (adcServe) adcHistDups(spark, vecs, indexName, tau, nProbe)
      else IvfIndex
        .matchIncrement(spark, vecs, indexName, topK = 1,
          excludeIds = Some(vecs.select("vec_id")), nProbe = nProbe)
        .filter(col("cos_sim") >= tau)
        .select(col("new_id").as("vec_id")).distinct()
    val survivors = vecs.join(histDups, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    // 2. in-batch: cell-local verified pairs → components → min vec_id
    implicit val s: SparkSession = spark
    val assigned = survivors
      .crossJoin(broadcast(IvfIndex.centsFrame(spark, indexName)))
      .select(graft.operators.IvfIndex.cellOf(col("embedding")).as("cell"),
        col("vec_id"), col("embedding"))
    val pairs = assigned.as("a").join(assigned.as("b"), "cell")
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(round(cosine(col("a.embedding"), col("b.embedding")), 6) >= tau)
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    val kept = ConnectedComponents.keepMinId(survivors, pairs, "vec_id")
    kept.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    // 3. index the WHOLE batch (kept + dropped) for later arrivals —
    //    unless this batch just SEEDED the index (it is already in).
    //    A crash between this append and the marker re-appends the batch
    //    on replay: duplicate index rows, harmless for the topK=1 dup
    //    DECISION (an existence test) but any topK>1 matchIncrement over
    //    the same index returns the duplicated old_id at ranks 1 AND 2,
    //    displacing the genuine second-nearest — [[IvfIndex.compact]]
    //    drops the duplicates and repairs the ranks (spec-pinned).
    if (!bootstrap) IvfIndex.append(spark, vecs, indexName)
    marker.mkdirs()
    // operational compaction cadence: every `compactEvery` committed
    // batches, coalesce the per-append file accumulation and drop any
    // crash-replay duplicates. AFTER the marker: compaction is
    // semantics-free (results hash-identical, spec-pinned), so a crash
    // mid-compact just leaves it for the next trigger — it never
    // re-runs the batch.
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      IvfIndex.compact(spark, indexName)
  }

  /** Right-to-be-forgotten for the vector tier (the [[NearDupIngest
    * .processDeletes]] move): purge `ids` from the cells table via
    * [[IvfIndex.remove]]'s bucket-preserving rewrite — removed vectors
    * stop suppressing FUTURE arrivals; written batch decisions stand;
    * the frozen centroids are untouched. If the deletion lands during
    * the bootstrap-deferral window (no index yet), the pending staging
    * area is filtered instead — the broadcast-sized brute path then
    * never sees the ids either. Idempotent per deleteId.
    *
    * Crash safety on the pending rewrite (the compactBucketed
    * tmp-then-swap discipline): each staging dir is rewritten to a
    * sibling `_tmp_` dir FIRST (complete iff parquet's _SUCCESS marker
    * landed), then the original is dropped and the tmp renamed over it.
    * Every crash window replays cleanly: tmp+original ⇒ tmp is
    * stale/partial, discarded and redone; complete tmp alone ⇒ the
    * rename is finished on the next call. Pending vectors are never
    * lost to a half-written overwrite. */
  def processDeletes(spark: SparkSession, ids: DataFrame, deleteId: Long,
      indexName: String, outDir: String): Unit = {
    val marker = new java.io.File(outDir, s"_deleted/$deleteId")
    if (marker.exists()) return
    if (IvfIndex.exists(spark, indexName))
      IvfIndex.remove(spark, indexName, ids)
    val pendingDir = new java.io.File(outDir, "_pending")
    if (pendingDir.isDirectory) {
      val del = ids.select(col("vec_id")).distinct().localCheckpoint(true)
      // recover any swap a prior crash left half-done
      Option(pendingDir.listFiles()).foreach(_.filter(f =>
        f.isDirectory && f.getName.startsWith(TmpPrefix)).foreach { t =>
        val orig = new java.io.File(pendingDir,
          t.getName.stripPrefix(TmpPrefix))
        if (!orig.exists() && new java.io.File(t, "_SUCCESS").exists())
          t.renameTo(orig)
        else Tables.rmTree(t)
      })
      Option(pendingDir.listFiles()).foreach(_.filter(f =>
        f.isDirectory && !f.getName.startsWith(TmpPrefix)).foreach { b =>
        val tmp = new java.io.File(pendingDir, TmpPrefix + b.getName)
        spark.read.parquet(b.getAbsolutePath)
          .join(del, Seq("vec_id"), "left_anti")
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
        Tables.rmTree(b)
        // a silent rename failure (locked dir, cross-device tmp) would
        // leave the batch absent until the next processDeletes recovers
        // the tmp — and an intervening processBatch would see a shrunken
        // pending set, weakening the replay self-match guard. Fail loudly
        // so the caller retries (the swap is idempotent: the tmp carries
        // _SUCCESS and recovery completes it).
        if (!tmp.renameTo(b))
          throw new java.io.IOException(
            s"pending swap failed: ${tmp.getAbsolutePath} -> ${b.getAbsolutePath}")
      })
    }
    marker.mkdirs()
  }

  /** Staging-dir swap prefix — pending readers skip these. */
  private val TmpPrefix = "_tmp_"

  /** The ADC-mode history match (two-stage serving): score the batch
    * against the STORED codes (payload per candidate = 4 ints; the
    * index side reads bucketed with zero exchange; batch self-ids
    * excluded — the replay guard), cut to the ADC top-[[AdcShortlistR]]
    * per new vector, fetch ONLY those candidates' float rows (a
    * shortlist-sized lookup join on the bucketed cells table), and
    * decide on the EXACT cosine ≥ tau — same rounding as
    * matchIncrement, so the two modes' decisions agree whenever the
    * true nearest survives the shortlist. */
  private def adcHistDups(spark: SparkSession, vecs: DataFrame,
      indexName: String, tau: Double, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("new_id")
      .orderBy(col("approx_d"), col("old_id"))
    val shortlist = IvfIndex
      .adcScores(spark, indexName, vecs, nProbe = nProbe,
        excludeIds = Some(vecs.select("vec_id")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= AdcShortlistR)
      .select(col("new_id"), col("cell"), col("old_id"))
    val oldEmb = spark.table(s"${indexName}_cells")
      .select(col("cell"), col("vec_id").as("old_id"),
        col("embedding").as("old_emb"))
    val newEmb = vecs.select(col("vec_id").as("new_id"),
      col("embedding").as("new_emb"))
    shortlist.join(oldEmb, Seq("cell", "old_id"))
      .join(broadcast(newEmb), Seq("new_id"))
      .filter(round(cosine(col("new_emb"), col("old_emb")), 6) >= tau)
      .select(col("new_id").as("vec_id")).distinct()
  }

  /** The bootstrap-deferral window's exact batch step: brute-force
    * history match against the pending corpus (broadcast — < minSeed
    * rows by the deferral invariant), brute all-pairs in-batch
    * clustering, min-id keeper. No index, no cell pruning: exact greedy
    * semantics while the corpus is too small to seed good centroids. */
  private def bruteBatch(spark: SparkSession, vecs: DataFrame,
      pending: Option[DataFrame], batchId: Long, outDir: String,
      tau: Double): Unit = {
    val survivors = pending.fold(vecs) { p =>
      val histDups = vecs
        .crossJoin(broadcast(p.select(col("vec_id").as("old_id"),
          col("embedding").as("old_emb"))))
        .filter(round(cosine(col("embedding"), col("old_emb")), 6) >= tau)
        .select("vec_id").distinct()
      vecs.join(histDups, Seq("vec_id"), "left_anti")
    }.localCheckpoint()
    val pairs = survivors
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      .crossJoin(broadcast(survivors
        .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))))
      .filter(col("a_id") < col("b_id"))
      .filter(round(cosine(col("a_emb"), col("b_emb")), 6) >= tau)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    implicit val s: SparkSession = spark
    ConnectedComponents.keepMinId(survivors, pairs, "vec_id")
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Wire a (vec_id, embedding) stream through [[processBatch]]. */
  def start(stream: DataFrame, indexName: String, outDir: String,
      checkpoint: String, tau: Double = 0.9,
      nProbe: Int = 1, minSeed: Long = 0L, k: Int = 8,
      refineIters: Int = 0, compactEvery: Int = 0,
      adcServe: Boolean = false): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        // micro-batch's own session clone: catalog reads and the append
        // invalidation agree on one relation cache (the NearDupIngest rule)
        processBatch(df.sparkSession, df, id, indexName, outDir, tau,
          nProbe, minSeed, k, refineIters, compactEvery, adcServe)
      }
      .start()
}
