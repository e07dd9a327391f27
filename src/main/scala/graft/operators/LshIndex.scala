package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.TextOps

/** Persistent LSH near-duplicate index — the INCREMENTAL path for a
  * growing 100 TB corpus. `lshVerifiedPairs` (q29) re-shards the whole
  * corpus per run; at scale the corpus is indexed ONCE and every new
  * crawl increment is matched against the index with the indexed side
  * never re-shuffling:
  *
  *   - `<name>_bands`  (band, doc_id), bucketed+sorted BY BAND: the
  *     candidate join is a sort-merge join where the index side reads
  *     pre-bucketed files with ZERO Exchange (TablesBucketingSpec
  *     semantics) — only the increment shuffles, and it is the small
  *     side by construction;
  *   - `<name>_shingles` (doc_id, shingles), bucketed BY DOC_ID: the
  *     verify lookup joins only the CANDIDATE old docs, again with no
  *     index-side exchange.
  *
  * The q29 skew discipline carries over: the per-band member count for
  * the cap comes from a groupBy on the bucketed band table — itself
  * exchange-free — so a degenerate band (viral boilerplate) is dropped
  * before any candidate expansion. Complements `CorpusIngest` (streaming
  * EXACT dedup) with the near-dup equivalent for batch increments; the
  * bloom pre-filter (q101) runs before either to cheaply discard
  * exact re-crawls.
  */
object LshIndex {

  /** Index `docs` (doc_id, text) under bucketed tables `<name>_bands` /
    * `<name>_shingles`. One kernel pass (shingles + minhash); rewrite =
    * full refresh (overwrite), matching how layout tables are compacted. */
  def write(spark: SparkSession, docs: DataFrame, name: String,
      buckets: Int = 32): Unit = {
    // a managed-table LOCATION can outlive the catalog entry (a previous
    // session's warehouse dir) and then saveAsTable refuses even with
    // overwrite — clear both before writing (Tables.dropTableFast does
    // both without the per-statement SQL round trip)
    Seq(s"${name}_bands", s"${name}_shingles")
      .foreach(Tables.dropTableFast(spark, _))
    // project the checkpoint to the columns the writes consume — the 8
    // per-doc minhash strings exist only to derive band0/band1 and would
    // otherwise be materialized into block storage for nothing
    val banded = TextOps.withBands(docs)
      .select("doc_id", "band0", "band1", "shingles").localCheckpoint()
    // bucket-key repartition before each write (the IvfIndex.write rule):
    // each task then holds exactly one bucket and emits one file — the
    // unpartitioned spread wrote up to tasks×buckets files, and the file
    // open/commit overhead was the dominant fixed cost of an index build
    // inside a timed query. The two table writes are independent (both
    // read the checkpointed banded frame) — overlap them so the smaller
    // commit rides inside the larger one's wall time.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val shWrite = Future(Tables.writeBucketed(
      banded.select("doc_id", "shingles")
        .repartition(buckets, col("doc_id")),
      s"${name}_shingles", "doc_id", buckets))
    Tables.writeBucketed(
      banded.select(col("doc_id"),
        explode(array(col("band0"), col("band1"))).as("band"))
        .repartition(buckets, col("band")),
      s"${name}_bands", "band", buckets)
    Await.result(shWrite, Duration.Inf)
  }

  /** Append an increment's bands + shingles to an existing index — the
    * streaming-ingest growth path (NearDupIngest): bucket specs are
    * revalidated against the catalog entry, so the zero-exchange
    * index-side joins of [[matchIncrement]] keep holding as the index
    * grows. Compaction (many small bucket files → few) is [[write]]'s
    * full refresh, run offline like any layout rewrite. */
  def append(spark: SparkSession, docs: DataFrame, name: String): Unit = {
    val banded = TextOps.withBands(docs)
      .select("doc_id", "band0", "band1", "shingles").localCheckpoint()
    val bandB = Tables.bucketsOf(spark, s"${name}_bands")
    val shB = Tables.bucketsOf(spark, s"${name}_shingles")
    Tables.appendBucketed(
      banded.select(col("doc_id"),
        explode(array(col("band0"), col("band1"))).as("band"))
        .repartition(bandB, col("band")),
      s"${name}_bands", "band", bandB)
    Tables.appendBucketed(
      banded.select("doc_id", "shingles")
        .repartition(shB, col("doc_id")),
      s"${name}_shingles", "doc_id", shB)
    // an insert invalidates the WRITING session's relation cache only;
    // under foreachBatch the reader can be a different clone of the same
    // SharedState (stale file listing → silently missing index rows —
    // caught by NearDupIngestSpec's end-to-end test), so refresh here
    Seq(s"${name}_bands", s"${name}_shingles")
      .foreach(spark.catalog.refreshTable)
  }

  /** True iff the index tables exist in the session catalog. */
  def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(s"${name}_bands") &&
      spark.catalog.tableExists(s"${name}_shingles")

  /** Match an increment against the index: verified Jaccard ≥ `tau` pairs
    * (new_id, old_id, jaccard). Only the increment moves — both joins
    * read the index in bucket order.
    *
    * `excludeIds` (doc_id), when given, removes those index members
    * BEFORE the hot-band count and the candidate join — the streaming
    * replay guard (the [[IvfIndex.matchIncrement]] rule): a crash between
    * the index append and the commit marker replays a batch whose own
    * docs are already indexed. Filtering only the RESULT pairs would
    * leave the batch's own (distinct) doc_ids inflating band counts, so
    * a band sitting near `bandCap` could tip hot only on replay and drop
    * candidates the original run kept — replay must reproduce the kept
    * set exactly. The exclusion side is batch-sized (broadcast anti) and
    * preserves the bucketed read's partitioning, so the cap count stays
    * exchange-free. */
  def matchIncrement(spark: SparkSession, newDocs: DataFrame, name: String,
      bandCap: Int = TextOps.DefaultBandCap,
      tau: Double = 0.5, excludeIds: Option[DataFrame] = None): DataFrame = {
    val newBanded = TextOps.withBands(newDocs)
      .select("doc_id", "band0", "band1", "shingles").localCheckpoint()
    val idx0 = spark.table(s"${name}_bands")
    val idx = excludeIds.fold(idx0)(ex => idx0.join(
      broadcast(ex.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
    // exchange-free cap count: the groupBy key IS the bucket key. Count
    // DISTINCT doc_id, not rows — a crash-replayed append duplicates rows,
    // and a raw count would falsely tip a healthy band near the cap into
    // "hot" (silent recall loss until compaction). The distinct's dedup
    // stage clusters on (band, doc_id), which HashPartitioning(band) from
    // the bucketed read already satisfies, so this stays exchange-free
    // (LshIndexSpec's plan assertion).
    val hot = idx.groupBy("band")
      .agg(countDistinct(col("doc_id")).as("count"))
      .filter(col("count") > bandCap).select("band")
    val cand = newBanded
      .select(col("doc_id").as("new_id"),
        explode(array(col("band0"), col("band1"))).as("band"))
      .join(idx.join(hot, Seq("band"), "left_anti"), "band")
      .select(col("new_id"), col("doc_id").as("old_id"))
      .filter(col("new_id") =!= col("old_id"))
      .distinct()
    val oldSh = spark.table(s"${name}_shingles")
      .select(col("doc_id").as("old_id"), col("shingles").as("sh_old"))
    cand.join(oldSh, "old_id")
      .join(newBanded.select(col("doc_id").as("new_id"),
        col("shingles").as("sh_new")), "new_id")
      .withColumn("n_inter", size(array_intersect(col("sh_new"), col("sh_old"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh_new")) + size(col("sh_old")) - col("n_inter"))
          .cast("double"))
      .filter(col("jaccard") >= tau)
      .select("new_id", "old_id", "jaccard")
  }

  // ---------------------------------------------------------------------
  // Weighted tier: the tf-weighted detector (q184/q185/q186) as a
  // persistent incremental index. Same architecture — `<name>_bands` is
  // the WEIGHTED-MinHash band table (multiset-expanded token instances,
  // so "the the the" separates from "the"), and the verify side stores
  // per-doc term-frequency runs (`<name>_tfs`, bucketed by doc_id)
  // instead of shingle sets; the verify is the exact integer weighted
  // Jaccard Σmin/Σmax via the codegen'd TfIntersect kernel.

  /** Index `docs` under weighted tables `<name>_bands` / `<name>_tfs`. */
  def writeWeighted(spark: SparkSession, docs: DataFrame, name: String,
      buckets: Int = 32): Unit = {
    Seq(s"${name}_bands", s"${name}_tfs")
      .foreach(Tables.dropTableFast(spark, _))
    val banded = TextOps.withWeightedBands(docs)
      .select("doc_id", "band0", "band1", "tfs", "n_tok").localCheckpoint()
    // bucket-key repartition + overlapped commits — see [[write]]
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val tfWrite = Future(Tables.writeBucketed(
      banded.select("doc_id", "tfs", "n_tok")
        .repartition(buckets, col("doc_id")),
      s"${name}_tfs", "doc_id", buckets))
    Tables.writeBucketed(
      banded.select(col("doc_id"),
        explode(array(col("band0"), col("band1"))).as("band"))
        .repartition(buckets, col("band")),
      s"${name}_bands", "band", buckets)
    Await.result(tfWrite, Duration.Inf)
  }

  /** Append an increment to a weighted index (the [[append]] rules:
    * bucket counts from the catalog, reader-cache refresh after). */
  def appendWeighted(spark: SparkSession, docs: DataFrame,
      name: String): Unit = {
    val banded = TextOps.withWeightedBands(docs)
      .select("doc_id", "band0", "band1", "tfs", "n_tok").localCheckpoint()
    val bandB = Tables.bucketsOf(spark, s"${name}_bands")
    val tfB = Tables.bucketsOf(spark, s"${name}_tfs")
    Tables.appendBucketed(
      banded.select(col("doc_id"),
        explode(array(col("band0"), col("band1"))).as("band"))
        .repartition(bandB, col("band")),
      s"${name}_bands", "band", bandB)
    Tables.appendBucketed(
      banded.select("doc_id", "tfs", "n_tok")
        .repartition(tfB, col("doc_id")),
      s"${name}_tfs", "doc_id", tfB)
    Seq(s"${name}_bands", s"${name}_tfs")
      .foreach(spark.catalog.refreshTable)
  }

  /** True iff the weighted index tables exist. */
  def existsWeighted(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(s"${name}_bands") &&
      spark.catalog.tableExists(s"${name}_tfs")

  /** Weighted match: (new_id, old_id, wjaccard) with exact integer
    * Σmin / (n_a + n_b − Σmin) ≥ `tau` — [[matchIncrement]]'s plan shape
    * (increment-only shuffles, bucketed index reads, distinct-count band
    * cap, broadcast `excludeIds` replay guard) over the weighted verify. */
  def matchIncrementWeighted(spark: SparkSession, newDocs: DataFrame,
      name: String, bandCap: Int = TextOps.DefaultBandCap,
      tau: Double = 0.5, excludeIds: Option[DataFrame] = None): DataFrame = {
    val newBanded = TextOps.withWeightedBands(newDocs)
      .select("doc_id", "band0", "band1", "tfs", "n_tok").localCheckpoint()
    val idx0 = spark.table(s"${name}_bands")
    val idx = excludeIds.fold(idx0)(ex => idx0.join(
      broadcast(ex.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
    val hot = idx.groupBy("band")
      .agg(countDistinct(col("doc_id")).as("count"))
      .filter(col("count") > bandCap).select("band")
    val cand = newBanded
      .select(col("doc_id").as("new_id"),
        explode(array(col("band0"), col("band1"))).as("band"))
      .join(idx.join(hot, Seq("band"), "left_anti"), "band")
      .select(col("new_id"), col("doc_id").as("old_id"))
      .filter(col("new_id") =!= col("old_id"))
      .distinct()
    val oldTf = spark.table(s"${name}_tfs")
      .select(col("doc_id").as("old_id"), col("tfs").as("tf_old"),
        col("n_tok").as("n_old"))
    cand.join(oldTf, "old_id")
      .join(newBanded.select(col("doc_id").as("new_id"),
        col("tfs").as("tf_new"), col("n_tok").as("n_new")), "new_id")
      .withColumn("inter",
        graft.functions.TextExpressions.tfIntersect(col("tf_new"), col("tf_old")))
      .withColumn("wjaccard", col("inter").cast("double") /
        (col("n_new") + col("n_old") - col("inter")).cast("double"))
      .filter(col("wjaccard") >= tau)
      .select("new_id", "old_id", "wjaccard")
  }

  /** Bucket-preserving compaction of an (unweighted or weighted) index:
    * coalesce each bucket's per-append files and drop crash-replay-
    * duplicated rows without changing band semantics or bucket specs —
    * see [[graft.core.Tables.compactBucketed]]. The operational
    * counterpart of [[write]]'s full refresh: run it on a file-count
    * trigger; run `write` only to re-shingle or re-seed. */
  def compact(spark: SparkSession, name: String): Unit = {
    Tables.compactBucketed(spark, s"${name}_bands", "band",
      Seq("band", "doc_id"))
    if (spark.catalog.tableExists(s"${name}_shingles"))
      Tables.compactBucketed(spark, s"${name}_shingles", "doc_id",
        Seq("doc_id"))
    if (spark.catalog.tableExists(s"${name}_tfs"))
      Tables.compactBucketed(spark, s"${name}_tfs", "doc_id",
        Seq("doc_id"))
  }

  /** Delete documents from a persistent index — the right-to-be-
    * forgotten path a production dedup index needs (a takedown or
    * privacy delete must stop matching FUTURE increments, not wait for
    * the next full rebuild). Implemented as [[compact]]'s bucket-
    * preserving rewrite with an anti-join against the deletion set
    * folded into the same one-pass rewrite: bucket specs, band
    * semantics, and the zero-exchange probe reads are untouched; every
    * index table (bands + shingles + tfs where present) drops the ids
    * atomically per table via the same tmp-swap. The deletion set is
    * takedown-sized in practice; no broadcast hint, so AQE broadcasts
    * it while small and degrades to a shuffle anti-join — not an OOM —
    * if a mass delete outgrows it. Idempotent: re-removing absent ids
    * is a no-op rewrite.
    *
    * Atomicity contract: the tmp-swap is per TABLE, not per index — a
    * crash between the bands and shingles rewrites leaves ids purged
    * from one table but present in another. MATCHING is already safe
    * then (candidates require a bands hit, rewritten first), but the
    * storage-purge guarantee holds only after a completed call: callers
    * owning a privacy deadline must retry to completion on failure
    * (idempotency makes the retry converge), as
    * [[graft.streaming.NearDupIngest.processDeletes]] does via its
    * _deleted marker discipline. */
  def remove(spark: SparkSession, name: String, ids: DataFrame): Unit = {
    val del = ids.select(col("doc_id")).distinct().localCheckpoint(true)
    def anti(df: DataFrame): DataFrame =
      df.join(del, Seq("doc_id"), "left_anti")
    Tables.compactBucketed(spark, s"${name}_bands", "band",
      Seq("band", "doc_id"), anti)
    if (spark.catalog.tableExists(s"${name}_shingles"))
      Tables.compactBucketed(spark, s"${name}_shingles", "doc_id",
        Seq("doc_id"), anti)
    if (spark.catalog.tableExists(s"${name}_tfs"))
      Tables.compactBucketed(spark, s"${name}_tfs", "doc_id",
        Seq("doc_id"), anti)
  }
}
