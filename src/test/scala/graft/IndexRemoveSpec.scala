package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, LshIndex}

/** Right-to-be-forgotten deletes from the persistent indexes: after
  * `remove(ids)` no future increment can match a deleted id, retained
  * matches are untouched, every index table really drops the rows (the
  * privacy guarantee is storage-level, not filter-level), bucket specs
  * survive so probe reads stay zero-Exchange, and the op is idempotent. */
class IndexRemoveSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("rm_wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.sources.bucketing.enabled", "true")
    s
  }

  test("LSH: removed doc_ids stop matching, retained matches unchanged, " +
    "all tables purged, idempotent, buckets intact") {
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val isNew = col("doc_id") % 5 === 0
    import spark.implicits._
    import org.apache.spark.sql.catalyst.TableIdentifier
    LshIndex.Families.foreach { fam =>
      val name = s"rm_${fam.score}_idx"
      def matches() = LshIndex.matchIncrement(spark, docs.filter(isNew),
          name, fam)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      LshIndex.write(spark, docs.filter(!isNew), name, fam, buckets = 4)
      val before = matches()
      assert(before.nonEmpty, s"${fam.score}: fixture must produce matches")
      // forget every old doc that matched an increment doc ending in 0
      val toForget = before.filter(_._1 % 10 == 0).map(_._2)
      assert(toForget.nonEmpty, fam.score)
      LshIndex.remove(spark, name, toForget.toSeq.toDF("doc_id"))
      val after = matches()
      assert(after == before.filterNot(p => toForget.contains(p._2)), fam.score)
      // storage-level purge: no trace of the ids in either table
      Seq(s"${name}_bands", name + fam.table).foreach { tbl =>
        assert(spark.table(tbl)
          .filter(col("doc_id").isin(toForget.toSeq: _*)).count() == 0, tbl)
      }
      // bucket spec survives the rewrite
      assert(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(s"${name}_bands"))
        .bucketSpec.exists(_.numBuckets == 4), fam.score)
      // idempotent: removing the same (now absent) ids changes nothing
      LshIndex.remove(spark, name, toForget.toSeq.toDF("doc_id"))
      assert(matches() == after, fam.score)
    }
  }

  test("streaming: a takedown between batches un-suppresses future " +
    "near-dups (forget everything -> next batch follows pure q80)") {
    import graft.streaming.NearDupIngest
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    Seq("rms_idx_bands", "rms_idx_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    NearDupIngest.ensureIndex(spark, "rms_idx", buckets = 4)
    val out = Files.createTempDirectory("rms_out").toString
    NearDupIngest.processBatch(spark, docs, 0L, "rms_idx", out)
    val kept0 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept0.size < docs.count(), "corpus must contain near-dups")
    // re-ingesting the same corpus under shifted ids: with history
    // intact EVERYTHING is a history dup
    val shifted = docs.select((col("doc_id") + 100000L).as("doc_id"),
      col("text"))
    NearDupIngest.processBatch(spark, shifted, 1L, "rms_idx", out)
    assert(spark.read.parquet(s"$out/batch=1").count() == 0)
    // takedown of the WHOLE recorded corpus (kept + dropped — the
    // indexes-everything contract means forgetting a cluster, not a doc)
    NearDupIngest.processDeletes(spark,
      docs.select("doc_id").unionAll(shifted.select("doc_id")),
      0L, "rms_idx", out)
    // the same content arrives again: nothing suppresses it — the batch
    // keep set is exactly the pure in-batch q80 rule
    val again = docs.select((col("doc_id") + 200000L).as("doc_id"),
      col("text"))
    NearDupIngest.processBatch(spark, again, 2L, "rms_idx", out)
    val kept2 = spark.read.parquet(s"$out/batch=2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == batchKeptIds(again))
    assert(kept2.nonEmpty)
  }

  /** The batch q80 keep rule (the NearDupIngestSpec reference). */
  private def batchKeptIds(d: org.apache.spark.sql.DataFrame): Set[Long] = {
    implicit val s: SparkSession = spark
    val pairs = LshIndex.pairs(d, LshIndex.SetMinHash)
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
    val drops = graft.operators.ConnectedComponents.runPropagation(pairs)
      .filter(col("node") =!= col("component"))
      .collect().map(_.getLong(0)).toSet
    d.select("doc_id").collect().map(_.getLong(0)).toSet -- drops
  }

  test("IVF: removed vec_ids stop matching, _cents frozen, idempotent") {
    val vecs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val isNew = col("vec_id") % 10 === 9
    IvfIndex.write(spark, vecs.filter(!isNew), "rm_ivf", k = 4)
    val inc = vecs.filter(isNew)
    val before = IvfIndex.matchIncrement(spark, inc, "rm_ivf", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.nonEmpty)
    val centsBefore = IvfIndex.centsFrame(spark, "rm_ivf").collect().toSeq
    val toForget = before.map(_._2).take(3)
    import spark.implicits._
    IvfIndex.remove(spark, "rm_ivf", toForget.toSeq.toDF("vec_id"))
    val after = IvfIndex.matchIncrement(spark, inc, "rm_ivf", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!after.exists(p => toForget.contains(p._2)))
    assert(spark.table("rm_ivf_cells")
      .filter(col("vec_id").isin(toForget.toSeq: _*)).count() == 0)
    // the frozen centroids are untouched by deletion
    assert(IvfIndex.centsFrame(spark, "rm_ivf").collect().toSeq
      == centsBefore)
    IvfIndex.remove(spark, "rm_ivf", toForget.toSeq.toDF("vec_id"))
    val again = IvfIndex.matchIncrement(spark, inc, "rm_ivf", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == after)
  }
}
