package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Kernels
import graft.queries.TextOps

/** MinHash-LSH near-duplicate detection: the band front end, candidate
  * generation and the exact verify, for both signature families (set
  * MinHash over shingles, weighted MinHash over term frequencies — see
  * [[Family]]). Two paths share them:
  *
  *   - IN-QUERY ([[pairs]], q29/q46/q80/q136/q185 and the rest): the
  *     whole input is banded and re-sharded per run, candidates form in
  *     ONE aggregation on band hash, verified pairs come out;
  *   - PERSISTENT INDEX ([[write]] / [[append]] / [[matchIncrement]]) —
  *     the INCREMENTAL path for a growing 100 TB corpus: the corpus is
  *     indexed ONCE and every new crawl increment is matched against the
  *     index with the indexed side never re-shuffling:
  *       - `<name>_bands`  (band, doc_id), bucketed+sorted BY BAND: the
  *         candidate join is a sort-merge join where the index side reads
  *         pre-bucketed files with ZERO Exchange (TablesBucketingSpec
  *         semantics) — only the increment shuffles, and it is the small
  *         side by construction;
  *       - `<name><family.table>` (doc_id, payload), bucketed BY DOC_ID:
  *         the verify lookup joins only the CANDIDATE old docs, again with
  *         no index-side exchange.
  *
  * Both paths drop a degenerate band (viral boilerplate, q25's exact-dup
  * territory) before any pair expansion, but count its members
  * differently — see [[pairs]] and [[matchIncrement]]. Complements
  * `CorpusIngest` (streaming EXACT dedup) with the near-dup equivalent for
  * batch increments; the bloom pre-filter (q101) runs before either to
  * cheaply discard exact re-crawls.
  */
object LshIndex {

  /** Skew guard (SCALE.md §dedup): a band bucket with more than this many
    * members is degenerate — near-identical boilerplate whose members are
    * exact-dup clusters (q25's path) — and would otherwise explode the
    * candidate expansion quadratically (10⁶ members → 10¹² pairs on one
    * executor). The cap bounds any bucket's pair work at cap²/2 and its
    * collected member list at cap ids, enforced on the same aggregation
    * that forms the buckets. */
  final val DefaultBandCap = 64

  /** Verify threshold: a candidate pair is a near-duplicate iff its exact
    * (weighted) Jaccard is at least this — every path, every family. */
  final val Tau = 0.5

  /** One MinHash signature family: what a document's signature is taken
    * over, what the verify keeps per document, and how it scores a pair.
    * `front` maps (doc_id, text) rows with at least `minTokens` tokens to
    * (doc_id, payload..., sig), `sig` the nSig-slot signature array;
    * `verifyCols` renames each stored payload column to its per-side
    * prefix (`<prefix>_a` / `<prefix>_b`); `inter` and `size` read those
    * sides by suffix. */
  final class Family private[LshIndex] (
      val sigPrefix: String, val table: String, val score: String,
      val minTokens: Int, val front: DataFrame => DataFrame,
      val verifyCols: Seq[(String, String)],
      val inter: (String, String) => Column, val size: String => Column) {
    def payload: Seq[String] = verifyCols.map(_._1)
  }

  /** Set MinHash over distinct token 3-gram shingles: mh0..mh7, verify =
    * |A∩B| / |A∪B| over the shingle sets. A doc needs 3 tokens for one
    * shingle. */
  val SetMinHash: Family = new Family("mh", "_shingles", "jaccard", 3,
    _.select(col("doc_id"), Kernels.Shingles3(col("text")).as("shingles"))
      .withColumn("sig", Kernels.minhashSig(col("shingles"), TextOps.nSig)),
    Seq("shingles" -> "sh"),
    (a, b) => size(array_intersect(col(s"sh_$a"), col(s"sh_$b"))),
    s => size(col(s"sh_$s")))

  /** Weighted MinHash via the multiset expansion ([[expandedInstances]]):
    * wmh0..wmh7, verify = the EXACT integer weighted Jaccard Σmin / Σmax
    * via the native [[graft.functions.TextNative.tfIntersect]] kernel (the
    * interpreted map_from_entries + aggregate HOF chain it replaced cost
    * 3.4s of q185's 4.6s at sf0.1). `n_tok` = Σ tf (the instance count)
    * rides along so the union denominator is a pre-computed scalar per
    * DOC, not a per-PAIR array fold; the one division is the only float. */
  val WeightedMinHash: Family = new Family("wmh", "_tfs", "wjaccard", 1,
    _.select(col("doc_id"), Kernels.TokenTf(col("text")).as("tfs"))
      .withColumn("inst", expandedInstances(col("tfs")))
      .select(col("doc_id"), col("tfs"),
        size(col("inst")).cast("long").as("n_tok"),
        Kernels.minhashSig(col("inst"), TextOps.nSig).as("sig")),
    Seq("tfs" -> "tf", "n_tok" -> "n"),
    (a, b) => Kernels.TfIntersect(col(s"tf_$a"), col(s"tf_$b")),
    s => col(s"n_$s"))

  val Families: Seq[Family] = Seq(SetMinHash, WeightedMinHash)

  /** Weighted MinHash via the classic multiset-expansion reduction: a
    * token with term frequency k expands to instances "tok#1".."tok#k",
    * and PLAIN MinHash over the expanded set estimates the WEIGHTED
    * Jaccard J_w = Σ_t min(tf_a,tf_b) / Σ_t max(tf_a,tf_b) — because
    * |A∩B| over instances = Σ min and |A∪B| = Σ max. tf-weighted
    * near-dup detection (boilerplate at different lengths that
    * set-Jaccard misses) WITHOUT ICWS's real-valued sampling: every
    * statistic stays an integer (the float-determinism discipline), the
    * existing native kernels do all the work (TokenTf in-row, MinHashSig
    * over the expanded array), and the per-doc expansion cost is exactly
    * the doc's token count. `tfs` is a TokenTf (token, tf) array. */
  private[graft] def expandedInstances(tfs: Column): Column =
    flatten(transform(tfs,
      s => transform(sequence(lit(1), s.getField("tf")),
        k => concat(s.getField("token"), lit("#"), k.cast("string")))))

  /** documents → (doc_id, payload..., <sigPrefix>0..7, band0, band1) — the
    * shared LSH front end. Each family's kernels run as native one-pass
    * expressions (graft.functions.TextNative; TextOpsNativeSpec pins them
    * to their Column formulations). The token-count filter runs BEFORE the
    * kernel projection: a filter on the projected array would be pushed
    * below the projection with the kernel inlined, running it twice per
    * row (TextOpsNativeSpec's depth check). */
  private[graft] def bands(docs: DataFrame, family: Family): DataFrame = {
    val base = family.front(Tables.spread(docs, col("doc_id"))
      .filter(TextOps.tokenCountCol >= family.minTokens))
    val mh = (0 until TextOps.nSig).map(i => s"${family.sigPrefix}$i")
    def band(i: Int) = md5(concat_ws("", mh.slice(4 * i, 4 * i + 4).map(col): _*))
    base.select(((col("doc_id") +: family.payload.map(col)) ++
        mh.zipWithIndex.map { case (m, i) => element_at(col("sig"), i + 1).as(m) }): _*)
      .withColumn("band0", band(0))
      .withColumn("band1", band(1))
  }

  /** [[bands]] projected to what candidates and verify consume, pinned by
    * an EAGER localCheckpoint: the band, cap and verify branches all fan
    * out from it, and concurrent broadcast-build jobs would race a lazy
    * checkpoint, each re-running the kernel pass (r6 listener profile).
    * localCheckpoint, not cache(): a cache() is keyed in the session
    * CacheManager and outlives the query, while checkpoint blocks are
    * dropped by the ContextCleaner once the plan is unreferenced (trade: a
    * lost block fails the job instead of recomputing — fine for a
    * within-call scratch frame). The 8 signature strings exist only to
    * derive the bands and are not kept. */
  private def banded(docs: DataFrame, family: Family): DataFrame =
    bands(docs, family)
      .select(("doc_id" +: "band0" +: "band1" +: family.payload).map(col): _*)
      .localCheckpoint()

  /** (doc_id, band) — one row per band of each banded doc. */
  private def bandRows(banded: DataFrame): DataFrame =
    banded.select(col("doc_id"),
      explode(array(col("band0"), col("band1"))).as("band"))

  /** Exact verify of candidate pairs (idA, idB): attaches each side's
    * payload from `a` / `b` (doc_id, payload...) — the set family's
    * shingle sides are named `sh_a` / `sh_b` — and keeps pairs whose score
    * reaches [[Tau]]. Joins `a` first. */
  private def verify(family: Family, cand: DataFrame, idA: String,
      a: DataFrame, idB: String, b: DataFrame): DataFrame = {
    def side(p: DataFrame, id: String, sfx: String) =
      p.select(col("doc_id").as(id) +: family.verifyCols.map { case (c, v) =>
        col(c).as(s"${v}_$sfx") }: _*)
    cand.join(side(a, idA, "a"), idA).join(side(b, idB, "b"), idB)
      .withColumn("n_inter", family.inter("a", "b"))
      .withColumn(family.score, col("n_inter").cast("double") /
        (family.size("a") + family.size("b") - col("n_inter")).cast("double"))
      .filter(col(family.score) >= Tau)
  }

  /** Verified near-dup pairs (doc_id_a < doc_id_b, score) within `docs`:
    * band buckets → in-bucket candidate pairs → exact verify.
    *
    * Candidate pairs per band bucket WITHOUT a self-join and in ONE
    * exchange (r17, guide §2.4): the bounded bottom-(cap+1) multiset
    * aggregate ([[graft.functions.BoundedMinLongs]]) keeps ≤ cap+1 member
    * ids per band at every stage — map-side combined, O(cap) state — so a
    * result of size cap+1 IS the over-cap verdict (ROW count > cap) and a
    * smaller result is exactly collect_list's multiset, sorted; the pair
    * expansion is order-insensitive after least/greatest. No reducer
    * materializes a degenerate bucket's member list: the guarantee holds
    * structurally in the aggregation buffer itself. */
  private[graft] def pairs(docs: DataFrame, family: Family,
      bandCap: Int = DefaultBandCap): DataFrame = {
    val banded0 = banded(docs, family)
    // BoundedMinLongs skips NULLs, so the cap verdict counts only rows
    // with an id; the filter makes that the stated input
    val cand = bandRows(banded0.filter(col("doc_id").isNotNull))
      .groupBy(col("band"))
      .agg(graft.functions.BoundedMinLongs(col("doc_id"), bandCap + 1)
        .as("ms"))
      .filter(size(col("ms")).between(2, bandCap))
      .select(explode(expr(
        """flatten(transform(ms, (a, i) ->
          |  transform(slice(ms, i + 2, size(ms) - i - 1), b ->
          |    struct(least(a, b) AS doc_id_a, greatest(a, b) AS doc_id_b))))"""
          .stripMargin)).as("p"))
      .select(col("p.doc_id_a"), col("p.doc_id_b"))
      .distinct()
    verify(family, cand, "doc_id_a", banded0, "doc_id_b", banded0)
      .select("doc_id_a", "doc_id_b", family.score)
  }

  private def tables(name: String, family: Family): Seq[String] =
    Seq(s"${name}_bands", name + family.table)

  /** Index `docs` (doc_id, text) under bucketed tables `<name>_bands` /
    * `<name><family.table>`. One kernel pass; rewrite = full refresh
    * (overwrite), matching how layout tables are compacted. */
  def write(spark: SparkSession, docs: DataFrame, name: String,
      family: Family, buckets: Int = 32): Unit = {
    // a managed-table LOCATION can outlive the catalog entry (a previous
    // session's warehouse dir) and then saveAsTable refuses even with
    // overwrite — clear both before writing (Tables.dropTableFast does
    // both without the per-statement SQL round trip)
    tables(name, family).foreach(Tables.dropTableFast(spark, _))
    val b = banded(docs, family)
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
    val payloadWrite = Future(Tables.writeBucketed(
      b.select(("doc_id" +: family.payload).map(col): _*)
        .repartition(buckets, col("doc_id")),
      name + family.table, "doc_id", buckets))
    Tables.writeBucketed(bandRows(b).repartition(buckets, col("band")),
      s"${name}_bands", "band", buckets)
    Await.result(payloadWrite, Duration.Inf)
  }

  /** Append an increment's bands + payload to an existing index — the
    * streaming-ingest growth path (NearDupIngest): bucket specs are
    * revalidated against the catalog entry, so the zero-exchange
    * index-side joins of [[matchIncrement]] keep holding as the index
    * grows. Compaction (many small bucket files → few, replay rows
    * deduped) is [[compact]], run on a file-count trigger. */
  def append(spark: SparkSession, docs: DataFrame, name: String,
      family: Family): Unit = {
    val b = banded(docs, family)
    val bandB = Tables.bucketsOf(spark, s"${name}_bands")
    val payB = Tables.bucketsOf(spark, name + family.table)
    Tables.appendBucketed(bandRows(b).repartition(bandB, col("band")),
      s"${name}_bands", "band", bandB)
    Tables.appendBucketed(
      b.select(("doc_id" +: family.payload).map(col): _*)
        .repartition(payB, col("doc_id")),
      name + family.table, "doc_id", payB)
    // an insert invalidates the WRITING session's relation cache only;
    // under foreachBatch the reader can be a different clone of the same
    // SharedState (stale file listing → silently missing index rows —
    // caught by NearDupIngestSpec's end-to-end test), so refresh here
    tables(name, family).foreach(spark.catalog.refreshTable)
  }

  /** True iff BOTH index tables exist: [[write]] commits them
    * concurrently, so a crash between the two commits must read as
    * "absent" (rebuild), not as a half-index (the IvfIndex.exists rule). */
  def exists(spark: SparkSession, name: String, family: Family): Boolean =
    tables(name, family).forall(spark.catalog.tableExists)

  /** Match an increment against the index: verified pairs (new_id, old_id,
    * score) with score ≥ [[Tau]]. Only the increment moves — both joins
    * read the index in bucket order.
    *
    * The cap counts DISTINCT doc_id per band, not rows as [[pairs]] does:
    * a crash-replayed append duplicates index rows, and a raw count would
    * falsely tip a healthy band near the cap into "hot" (silent recall
    * loss until compaction). The count's groupBy key IS the bucket key and
    * its dedup stage clusters on (band, doc_id), which HashPartitioning
    * (band) from the bucketed read already satisfies, so it stays
    * exchange-free (LshIndexSpec's plan assertion).
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
      family: Family, bandCap: Int = DefaultBandCap,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    val newBanded = banded(newDocs, family)
    val idx0 = spark.table(s"${name}_bands")
    val idx = excludeIds.fold(idx0)(ex => idx0.join(
      broadcast(ex.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
    val hot = idx.groupBy("band")
      .agg(countDistinct(col("doc_id")).as("count"))
      .filter(col("count") > bandCap).select("band")
    val cand = bandRows(newBanded).withColumnRenamed("doc_id", "new_id")
      .join(idx.join(hot, Seq("band"), "left_anti"), "band")
      .select(col("new_id"), col("doc_id").as("old_id"))
      .filter(col("new_id") =!= col("old_id"))
      .distinct()
    verify(family, cand, "old_id", spark.table(name + family.table),
      "new_id", newBanded)
      .select("new_id", "old_id", family.score)
  }

  /** Bucket-preserving compaction of an index (either family): coalesce
    * each bucket's per-append files and drop crash-replay-duplicated rows
    * without changing band semantics or bucket specs — see
    * [[graft.core.Tables.compactBucketed]]. The operational counterpart
    * of [[write]]'s full refresh: run it on a file-count trigger; run
    * `write` only to re-shingle or re-seed. */
  def compact(spark: SparkSession, name: String): Unit =
    rewrite(spark, name, identity)

  /** Delete documents from a persistent index — the right-to-be-
    * forgotten path a production dedup index needs (a takedown or
    * privacy delete must stop matching FUTURE increments, not wait for
    * the next full rebuild). Implemented as [[compact]]'s bucket-
    * preserving rewrite with an anti-join against the deletion set
    * folded into the same one-pass rewrite: bucket specs, band
    * semantics, and the zero-exchange probe reads are untouched; every
    * index table (bands + each family's payload table present) drops the
    * ids atomically per table via the same tmp-swap. The deletion set is
    * takedown-sized in practice; no broadcast hint, so AQE broadcasts
    * it while small and degrades to a shuffle anti-join — not an OOM —
    * if a mass delete outgrows it. Idempotent: re-removing absent ids
    * is a no-op rewrite.
    *
    * Atomicity contract: the tmp-swap is per TABLE, not per index — a
    * crash between the bands and payload rewrites leaves ids purged
    * from one table but present in another. MATCHING is already safe
    * then (candidates require a bands hit, rewritten first), but the
    * storage-purge guarantee holds only after a completed call: callers
    * owning a privacy deadline must retry to completion on failure
    * (idempotency makes the retry converge), as
    * [[graft.streaming.NearDupIngest.processDeletes]] does via its
    * _deleted marker discipline. */
  def remove(spark: SparkSession, name: String, ids: DataFrame): Unit = {
    val del = ids.select(col("doc_id")).distinct().localCheckpoint(true)
    rewrite(spark, name, _.join(del, Seq("doc_id"), "left_anti"))
  }

  /** [[Tables.compactBucketed]] over the band table and every family's
    * payload table that exists, each row set passed through `f`. */
  private def rewrite(spark: SparkSession, name: String,
      f: DataFrame => DataFrame): Unit = {
    Tables.compactBucketed(spark, s"${name}_bands", "band",
      Seq("band", "doc_id"), f)
    Families.map(name + _.table).filter(spark.catalog.tableExists)
      .foreach(Tables.compactBucketed(spark, _, "doc_id", Seq("doc_id"), f))
  }
}
