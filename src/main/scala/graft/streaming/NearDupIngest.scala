package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.operators.{ConnectedComponents, LshIndex}

/** Streaming NEAR-duplicate ingest — the online companion to
  * [[CorpusIngest]] (exact first-seen) and the streaming driver for the
  * q108 incremental LSH index: documents arrive in micro-batches and only
  * docs that are not near-duplicates of anything seen before survive.
  *
  * Contract (greedy first-seen, the standard crawl-dedup semantics):
  *   - a doc is DROPPED if it is LSH-verified similar (band collision AND
  *     exact Jaccard ≥ [[LshIndex.Tau]]) to ANY doc from an earlier batch
  *     — kept or dropped: a near-dup of a dropped doc is transitively redundant
  *     with that doc's keeper, exactly like the batch q80 cluster rule;
  *   - within a batch, survivors near-dup-cluster (verified pairs →
  *     connected components) and each cluster keeps its min doc_id —
  *     identical to the batch apply (q80), so a one-batch stream equals
  *     the batch pipeline (spec-pinned);
  *   - ALL batch docs (kept and dropped) index their bands + payload,
  *     so later arrivals match the full seen corpus.
  *
  * Scale shape: the per-batch work is [[LshIndex.matchIncrement]] — only
  * the increment shuffles; the history side reads bucket-aligned files
  * with zero Exchange and NEVER re-shuffles as the corpus grows (the
  * LshIndexSpec plan assertion). In-batch clustering touches batch-sized
  * frames only. Recall is the LSH family's: a near-dup pair is caught iff
  * a band collides (the q29 tradeoff), with the same band cap dropping
  * degenerate boilerplate buckets before any expansion.
  *
  * Restart safety: foreachBatch may replay a batch after a crash, so the
  * batch commit is idempotent — a marker directory per batchId skips
  * re-processing (output + index appends happen before the marker, so a
  * crash mid-batch replays into the SAME deterministic writes: the output
  * dir overwrites; a crash AFTER the index append replays with the
  * batch's own rows already indexed, which the history match neutralizes
  * by anti-joining old_id against the batch's ids; re-appended index rows
  * are absorbed by distinct() in candidate generation and by the
  * per-doc_id distinct band-cap count, and removed by the next
  * [[LshIndex.compact]] (the `compactEvery` cadence).
  */
object NearDupIngest {

  /** Create empty index tables of `family` if absent (batch-0
    * bootstrap). */
  def ensureIndex(spark: SparkSession, indexName: String,
      buckets: Int = 32, family: LshIndex.Family = LshIndex.SetMinHash): Unit = {
    import spark.implicits._
    if (!LshIndex.exists(spark, indexName, family))
      LshIndex.write(spark, Seq.empty[(Long, String)].toDF("doc_id", "text"),
        indexName, family, buckets)
  }

  /** Process one micro-batch of (doc_id, text): returns the kept docs
    * after writing them to `outDir/batch=<id>` and appending the batch to
    * the index. Skips (returning empty) if the batch is already
    * committed.
    *
    * `family` picks the signature family of both steps: with
    * [[LshIndex.WeightedMinHash]] this is the TF-WEIGHTED tier (q184–q186
    * made streaming), and a one-batch stream reproduces the batch
    * weighted-dedup apply (q186) exactly, as the set family reproduces
    * q80 (both spec-pinned). Both steps verify at [[LshIndex.Tau]]. */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexName: String, outDir: String,
      bandCap: Int = LshIndex.DefaultBandCap,
      family: LshIndex.Family = LshIndex.SetMinHash,
      compactEvery: Int = 0): Unit = {
    val marker = new java.io.File(outDir, s"_committed/$batchId")
    if (marker.exists()) return
    val docs = batch.select(col("doc_id"), col("text")).localCheckpoint()
    if (docs.isEmpty) { marker.mkdirs(); return }
    // 1. drop anything verified-similar to the seen corpus. The batch's
    //    OWN ids are excluded from the INDEX side (`excludeIds`) before
    //    the hot-band count and candidate join: a crash between the index
    //    append and the marker mkdir replays the batch with its own docs
    //    already indexed, and without this guard every in-batch near-dup
    //    pair (keeper included) would read as a history dup — the
    //    replayed output would silently lose the q80 keepers. Excluding
    //    BEFORE the band-cap count (not filtering result pairs after)
    //    also keeps the count itself replay-invariant: the batch's
    //    distinct ids would otherwise inflate a near-cap band into "hot"
    //    only on replay, dropping candidates the original run kept. The
    //    exclusion side is batch-sized (broadcast anti) — free at scale;
    //    in-batch pairs are handled (once, correctly) by step 2.
    val own = Some(docs.select(col("doc_id")))
    val histDups = LshIndex.matchIncrement(spark, docs, indexName, family,
        bandCap, excludeIds = own)
      .select(col("new_id").as("doc_id")).distinct()
    val survivors = docs.join(histDups, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // 2. in-batch near-dup clusters keep min doc_id (the q80/q186 rule)
    implicit val s: SparkSession = spark
    val pairs = LshIndex.pairs(survivors, family, bandCap)
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
    val drops = ConnectedComponents.runPropagation(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    val kept = survivors.join(drops, Seq("doc_id"), "left_anti")
    kept.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    // 3. index the WHOLE batch (kept + dropped) for later arrivals
    LshIndex.append(spark, docs, indexName, family)
    marker.mkdirs()
    // operational compaction cadence (the VecDupIngest rule): after the
    // marker, semantics-free, crash-safe — a crash mid-compact leaves it
    // for the next trigger without re-running the batch
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      LshIndex.compact(spark, indexName)
  }

  /** Right-to-be-forgotten for the streaming tier: purge `ids` from
    * every index table ([[LshIndex.remove]]'s bucket-preserving rewrite)
    * so FUTURE batches stop being suppressed by them. Batch outputs
    * already written are history — the keep/drop decisions they recorded
    * stand; a takedown changes what the seen-corpus can match from now
    * on, which is exactly the privacy obligation (the removed text no
    * longer exists anywhere in the index storage). Remember the
    * indexes-everything contract when issuing deletes: a doc's DROPPED
    * near-dups also indexed, so forgetting a document means deleting its
    * whole recorded cluster, or its dups keep suppressing new arrivals.
    * Idempotent per deleteId via the batch marker discipline (and
    * [[LshIndex.remove]] is itself idempotent under replay). */
  def processDeletes(spark: SparkSession, ids: DataFrame, deleteId: Long,
      indexName: String, outDir: String): Unit = {
    val marker = new java.io.File(outDir, s"_deleted/$deleteId")
    if (marker.exists()) return
    LshIndex.remove(spark, indexName, ids)
    marker.mkdirs()
  }

  // ---------------------------------------------------------------------
  // Tier 2: state-store signature dedup — the HIGH-FREQUENCY tier.
  //
  // The foreachBatch tier above scans the index's band table once per
  // micro-batch (zero Exchange, but O(index) IO) — right for macro-batch
  // cadence (a crawl drop every few minutes/hours), wrong for per-second
  // triggers on a 10B-doc history. This tier keeps per-BAND state in the
  // streaming state store (RocksDB-able) instead: per batch the work is
  // O(batch keys) point lookups, flat in history size.
  //
  // The state is ONE keeper per band — its docId and its full 8-slot
  // MinHash signature (~300 B/band) — and "near-dup" is the SIGNATURE
  // estimate (fraction of agreeing slots ≥ simTau), not the exact-Jaccard
  // verify of the index tier. Two documented recall concessions buy the
  // flat cost: (a) a band claimed by a verify-failing collider is not
  // re-claimed (later dups of the FIRST keeper still catch; later dups of
  // the collider only via their other band); (b) estimate-vs-exact —
  // 8-slot agreement is the standard MinHash Jaccard estimator. Both
  // disappear at the macro tier, which keeps full band membership.

  /** One (doc × band) row: the doc's id, one of its band hashes, and its
    * full signature for the agreement estimate. */
  case class BandHit(docId: Long, band: String, sig: Seq[String])

  /** Keeper of a band: first doc (min docId within its arrival batch) to
    * claim it. */
  case class BandKeeper(keeper: Long, sig: Seq[String])

  /** A near-dup verdict: `docId` is signature-similar to earlier `dupOf`
    * on `band`. Docs with NO verdict across their bands are kept. */
  case class DupVerdict(docId: Long, band: String, dupOf: Long)

  /** (doc_id, text) → per-band rows with signatures (docs with <3 tokens
    * have no shingles and are out of the LSH contract, as in batch). */
  def withSignatures(docs: DataFrame): Dataset[BandHit] = {
    import docs.sparkSession.implicits._
    val banded = LshIndex.bands(docs, LshIndex.SetMinHash)
    val sig = array((0 until 8).map(i => col(s"mh$i")): _*)
    banded.select(col("doc_id").as("docId"),
      explode(array(col("band0"), col("band1"))).as("band"), sig.as("sig"))
      .as[BandHit]
  }

  /** Per-band first-seen + signature match, named for unit testing (the
    * CorpusIngest.firstSeenHandler discipline). */
  private[graft] def bandHandler(simTau: Double, ttl: Long)(
      band: String, rows: Iterator[BandHit],
      state: GroupState[BandKeeper]): Iterator[DupVerdict] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val docs = rows.toArray.sortBy(_.docId) // deterministic under retry
    val out = Array.newBuilder[DupVerdict]
    var st = state.getOption
    docs.foreach { d =>
      st match {
        case None =>
          st = Some(BandKeeper(d.docId, d.sig))
        case Some(k) if d.docId != k.keeper =>
          val agree = d.sig.zip(k.sig).count { case (a, b) => a == b }
          if (agree.toDouble / k.sig.length >= simTau)
            out += DupVerdict(d.docId, band, k.keeper)
        case _ => ()
      }
    }
    st.foreach { s =>
      state.update(s)
      if (ttl > 0) state.setTimeoutDuration(ttl)
    }
    out.result().iterator
  }

  /** The verdict stream: near-dup flags per (doc, band) against per-band
    * keepers held in the state store. Combine per doc downstream (a doc
    * is kept iff it has NO verdict — e.g. in foreachBatch:
    * `batch.join(verdicts, "docId", "left_anti")`). `ttl` > 0 ages band
    * keepers for bounded-horizon dedup, like CorpusIngest. */
  def signatureVerdicts(hits: Dataset[BandHit], simTau: Double = 0.5,
      ttl: Long = 0L): Dataset[DupVerdict] = {
    import hits.sparkSession.implicits._
    val timeout =
      if (ttl > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    hits.groupByKey(_.band)
      .flatMapGroupsWithState[BandKeeper, DupVerdict](
        OutputMode.Append, timeout)(bandHandler(simTau, ttl))
  }

  /** Wire a (doc_id, text) stream through [[processBatch]]. */
  def start(stream: DataFrame, indexName: String, outDir: String,
      checkpoint: String, bandCap: Int = LshIndex.DefaultBandCap,
      family: LshIndex.Family = LshIndex.SetMinHash,
      compactEvery: Int = 0): StreamingQuery = {
    val spark = stream.sparkSession
    ensureIndex(spark, indexName, family = family)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        // use the micro-batch's OWN session (a clone sharing the outer
        // SharedState): catalog reads and the append invalidation then
        // agree on one relation cache
        processBatch(df.sparkSession, df, id, indexName, outDir, bandCap,
          family, compactEvery)
      }
      .start()
  }
}
