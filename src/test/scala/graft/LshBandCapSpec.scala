package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.LshIndex
import graft.queries.TextOps

/** The LSH band-frequency cap (SCALE.md dedup mitigation): a degenerate
  * band — hundreds of near-identical boilerplate docs hashing into one
  * bucket — is dropped from the quadratic band join; its members are
  * exact-dup clusters the md5 path already handles. Normal-size bands are
  * untouched, so verified pairs on a healthy corpus are identical. */
class LshBandCapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def skewedCorpus = {
    import spark.implicits._
    val boiler = (0 until 100).map(i =>
      (1000L + i, "all rights reserved contact us terms of service apply"))
    val pairs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta"))
    (boiler ++ pairs).toDF("doc_id", "text")
  }

  test("degenerate band dropped; healthy pairs survive") {
    val capped = LshIndex.pairs(skewedCorpus, LshIndex.SetMinHash)
      .select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L), (3L, 4L)))

    // without the cap the boilerplate cluster floods the join: C(100,2)
    val uncapped = LshIndex.pairs(skewedCorpus, LshIndex.SetMinHash,
      bandCap = 1 << 20)
      .select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 2 + 100 * 99 / 2)
    assert(capped.subsetOf(uncapped))

    // the dropped members ARE an exact-dup cluster — q25's md5 path
    // collapses them without any pairwise work
    val boilerHashes = skewedCorpus.filter(col("doc_id") >= 1000L)
      .select(md5(col("text"))).distinct().count()
    assert(boilerHashes == 1L)
  }

  test("healthy corpus: capped and uncapped pairs identical") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      val base = s"document number $i speaks about topic $i in original words $i"
      (i.toLong, if (i % 2 == 1) s"document number ${i - 1} speaks about " +
        s"topic ${i - 1} in original words ${i - 1}" else base)
    }.toDF("doc_id", "text")
    val a = LshIndex.pairs(docs, LshIndex.SetMinHash)
      .select("doc_id_a", "doc_id_b").collect().toSet
    val b = LshIndex.pairs(docs, LshIndex.SetMinHash, bandCap = 1 << 20)
      .select("doc_id_a", "doc_id_b").collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("simhash band cap: over-cap bands contribute no pairs") {
    // identical boilerplate → identical 64-bit sigs → all four band
    // buckets hold the whole cluster; over the cap every bucket is hot
    // and the cluster contributes ZERO pairs, while the exact-dup pairs
    // outside the cluster survive untouched
    val capped = TextOps.simhashPairs(skewedCorpus)
      .select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L), (3L, 4L)))

    // without the cap the boilerplate cluster floods the join: C(100,2)
    val uncapped = TextOps.simhashPairs(skewedCorpus, bandCap = 1 << 20)
      .select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 2 + 100 * 99 / 2)
    assert(capped.subsetOf(uncapped))
  }

  test("simhash healthy corpus: capped and uncapped pairs identical") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      val base = s"document number $i speaks about topic $i in original words $i"
      (i.toLong, if (i % 2 == 1) s"document number ${i - 1} speaks about " +
        s"topic ${i - 1} in original words ${i - 1}" else base)
    }.toDF("doc_id", "text")
    val a = TextOps.simhashPairs(docs)
      .select("doc_id_a", "doc_id_b").collect().toSet
    val b = TextOps.simhashPairs(docs, bandCap = 1 << 20)
      .select("doc_id_a", "doc_id_b").collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("a NULL doc_id in a band bucket does not count toward the cap") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    // every row shares both band buckets; cap = 2 non-null ids keeps the
    // bucket, 3 drops it, and the NULL row never counts or pairs
    def pairs(ids: Seq[Option[Long]], f: LshIndex.Family) =
      LshIndex.pairs(ids.map(i => (i, text)).toDF("doc_id", "text"), f,
          bandCap = 2)
        .select("doc_id_a", "doc_id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    LshIndex.Families.foreach { f =>
      assert(pairs(Seq(Some(1L), Some(2L), None), f) == Set((1L, 2L)), f.score)
      assert(pairs(Seq(Some(1L), Some(2L), Some(3L), None), f).isEmpty, f.score)
    }
  }
}
