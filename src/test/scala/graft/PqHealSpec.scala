package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex

/** The PQ family's growth path and its crash window. IvfIndex.append
  * encodes an increment against the FROZEN codebook when the index has
  * PQ codes, and IvfIndex.compact dedups the code tables in lockstep
  * with the cells. The append writes cells FIRST and codes second, so a
  * crash between the two leaves the appended vectors present in
  * `<name>_cells` but absent from `<name>_pqcodes` — a bounded, silent
  * recall loss at ADC serving time (the gapped vectors
  * simply never appear as candidates). r15 documented the gap as
  * "detectable"; nothing detected it. IvfIndex.pqHeal closes it:
  * anti-join the two tables, re-encode the missing vectors against the
  * FROZEN book, append their codes — idempotent, and run by the
  * streaming ingest's recovery pass on every (re)start (VecDupIngest
  * ADC mode).
  */
class PqHealSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }

  private val sf = "/root/testdata/sf0.001"

  test("a crash between the cells and codes appends is found and healed") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = e.filter(col("vec_id") % 10 < 6)
    val inc = e.filter(col("vec_id") % 10 === 6)
    val name = "pqheal_idx"
    graft.operators.IvfIndex.write(spark, base, name)
    IvfIndex.pqAttach(spark, name)
    // healthy state: one code row per cell row
    def cellsN = spark.table(s"${name}_cells").count()
    def codesN = spark.table(s"${name}_pqcodes").count()
    assert(cellsN == codesN)
    // simulate the crash: the cells append lands (the first half of
    // IvfIndex.append), the codes append never runs
    IvfIndex.appendCells(spark, inc, name)
    val gap = cellsN - codesN
    val incN = inc.count()
    assert(gap == incN, s"crash state not visible: gap $gap vs inc $incN")
    // recovery: heal re-encodes exactly the gapped vectors
    val healed = IvfIndex.pqHeal(spark, name)
    assert(healed == incN, s"healed $healed of $incN gapped vectors")
    assert(cellsN == codesN)
    // the healed codes are real: every appended vector now serves
    val healedIds = spark.table(s"${name}_pqcodes")
      .join(inc.select("vec_id"), Seq("vec_id"), "left_semi").count()
    assert(healedIds == incN)
    // idempotent: a second pass finds nothing
    assert(IvfIndex.pqHeal(spark, name) == 0L)
  }

  test("append on a PQ-attached index encodes the increment against " +
      "the frozen book") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val name = "pqappend_idx"
    IvfIndex.write(spark, e.filter(col("vec_id") % 10 < 6), name)
    IvfIndex.pqAttach(spark, name)
    val book = spark.table(s"${name}_pqbook").collect().toSeq
    val inc = e.filter(col("vec_id") % 10 === 6)
    IvfIndex.append(spark, inc, name)
    assert(IvfIndex.attached(spark, name, IvfIndex.Pq),
      "append must keep the PQ family")
    val cellsN = spark.table(s"${name}_cells").count()
    assert(cellsN == spark.table(s"${name}_pqcodes").count(),
      "every appended vector gets its code row")
    assert(spark.table(s"${name}_pqcodes")
      .join(inc.select("vec_id"), Seq("vec_id"), "left_semi").count() ==
      inc.count())
    assert(spark.table(s"${name}_pqbook").collect().toSeq == book,
      "append must not retrain the codebook")
  }

  test("compact dedups the PQ and SQ code tables in lockstep with the " +
      "cells") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val name = "pqcompact_idx"
    IvfIndex.write(spark, e.filter(col("vec_id") % 10 < 6), name)
    IvfIndex.pqAttach(spark, name)
    IvfIndex.sqAttach(spark, name)
    // replay duplicates: re-append a slice of every table's own rows
    for (t <- Seq("cells", "pqcodes", "sqcodes")) {
      val tbl = s"${name}_$t"
      val buckets = graft.core.Tables.bucketsOf(spark, tbl)
      graft.core.Tables.appendBucketed(
        spark.table(tbl).filter(col("vec_id") < 20).localCheckpoint(),
        tbl, "cell", buckets)
      spark.catalog.refreshTable(tbl)
    }
    val distinctN = spark.table(s"${name}_cells")
      .select("vec_id").distinct().count()
    assert(spark.table(s"${name}_pqcodes").count() > distinctN)
    IvfIndex.compact(spark, name)
    for (f <- Seq(IvfIndex.Pq, IvfIndex.Sq)) {
      assert(IvfIndex.attached(spark, name, f), s"compact dropped $f")
      val codes = IvfIndex.rows(spark, name, f)
      assert(codes.count() == distinctN, s"$f rows not deduped")
      assert(codes.select("vec_id").distinct().count() == distinctN)
    }
    assert(spark.table(s"${name}_cells").count() == distinctN)
  }
}
