package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming corpus ingest: the dedup family (q25/q101) carried over to
  * Structured Streaming — documents arrive in micro-batches and only the
  * FIRST occurrence of each content hash survives, across batches and
  * across restarts.
  *
  * Scale design (100 TB corpus, unbounded stream):
  *   - the stream never joins the historical corpus: "seen in history?"
  *     is the q101 bloom (broadcast KBs, exact-verified on positives at
  *     compaction); this operator handles "seen in THIS stream?";
  *   - state is keyed by content hash — one boolean per distinct
  *     document, partitioned by the hash, RocksDB-backed at scale
  *     (StreamingSpec proves the provider swap); the per-key payload is
  *     nothing but the key itself, so state size is bounded by distinct
  *     content, not stream length;
  *   - `flatMapGroupsWithState` rather than `dropDuplicates` so the
  *     emitted row carries WHICH doc_id won (deterministic min per
  *     micro-batch) and a TTL knob can age out state where the dedup
  *     horizon is contractual (e.g. 30-day crawl windows).
  */
object CorpusIngest {

  case class Doc(docId: Long, hash: String, text: String)
  case class Kept(hash: String, docId: Long, text: String)

  /** Per-group first-seen logic, named so the timeout path is unit-
    * testable with `TestGroupState` (a wall-clock streaming test of a
    * 100ms timer busy-loops the micro-batch engine — learned the hard
    * way; the engine contract is covered by CorpusIngestSpec's
    * cross-batch/restart tests, the timer contract by the unit test). */
  private[graft] def firstSeenHandler(ttl: Long)(
      hash: String, rows: Iterator[Doc],
      state: GroupState[Boolean]): Iterator[Kept] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else if (state.exists) Iterator.empty
    else {
      state.update(true)
      if (ttl > 0) state.setTimeoutDuration(ttl)
      val first = rows.minBy(_.docId)
      Iterator.single(Kept(hash, first.docId, first.text))
    }

  /** First-seen filter: emits one row per never-before-seen hash.
    * Within a micro-batch, the lowest docId wins (deterministic under
    * retry). `ttl` > 0 ages state (processing-time) for bounded-horizon
    * dedup; 0 keeps state forever. */
  def firstSeen(docs: Dataset[Doc], ttl: Long = 0L): Dataset[Kept] = {
    import docs.sparkSession.implicits._
    val timeout =
      if (ttl > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs.groupByKey(_.hash)
      .flatMapGroupsWithState[Boolean, Kept](
        OutputMode.Append, timeout)(firstSeenHandler(ttl))
  }

  /** Batch-side mirror of [[firstSeen]] (same winner rule) — the replay/
    * backfill path and the oracle twin for specs. */
  def firstSeenBatch(docs: DataFrame): DataFrame =
    docs.groupBy("hash")
      .agg(min_by(struct(col("docId"), col("text")), col("docId")).as("w"))
      .select(col("hash"), col("w.docId").as("docId"),
        col("w.text").as("text"))

  /** Convenience: md5 content hash over a (doc_id, text) frame.
    * `nfcNormalize = true` hashes the NFC form (the q197 kernel) so the
    * same logical text arriving precomposed from one crawl and
    * decomposed from another dedups as ONE document — byte-identity
    * alone silently keeps both. The emitted text stays the original
    * bytes (normalization is a dedup-key decision, not a rewrite). */
  def withHash(spark: SparkSession, df: DataFrame,
      nfcNormalize: Boolean = false): Dataset[Doc] = {
    import spark.implicits._
    val keyed =
      if (nfcNormalize)
        graft.functions.Kernels.NfcNormalize(col("text"))
      else col("text")
    df.select(col("doc_id").cast("long").as("docId"),
      md5(keyed).as("hash"), col("text")).as[Doc]
  }
}
