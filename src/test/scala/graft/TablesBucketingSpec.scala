package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Bucketing = the cluster-scale co-located join (the prompt's "use
  * bucketing for co-located joins" rule, made checkable): two tables
  * bucketed on the join key plan a SortMergeJoin with NO Exchange on
  * either side, and values match the unbucketed join exactly. */
class TablesBucketingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("graft_warehouse").toString
    // NOTE: in the full suite this getOrCreate returns another suite's
    // session, whose (static) warehouse conf wins — so every table here is
    // dropped AND its leftover location cleared before writing
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.sources.bucketing.enabled", "true")
    s
  }

  private def freshTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (loc.exists()) rm(loc)
  }

  test("bucketed tables join with zero exchanges; results unchanged") {
    import spark.implicits._
    freshTable("b_orders")
    freshTable("b_items")
    val orders = (0L until 1000L).map(i => (i, s"o$i")).toDF("key", "o")
    val items = (0L until 3000L).map(i => (i % 1000L, s"i$i")).toDF("key", "v")
    Tables.writeBucketed(orders, "b_orders", "key", buckets = 8)
    Tables.writeBucketed(items, "b_items", "key", buckets = 8)

    val joined = spark.table("b_orders").join(spark.table("b_items"), "key")
    // force SMJ (no broadcast) so the co-location is what's being tested
    val smj = spark.table("b_orders").hint("merge")
      .join(spark.table("b_items"), "key")
    val plan = smj.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(500))
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle:\n${plan.take(800)}")

    // correctness: identical to the unbucketed join
    assert(joined.count() == 3000L)
    val expect = orders.join(items, "key")
      .select(sum(length(col("o"))), sum(length(col("v"))))
      .collect().head
    val got = joined
      .select(sum(length(col("o"))), sum(length(col("v"))))
      .collect().head
    assert(got == expect)
  }

  test("bucketed groupBy on the bucket key aggregates without exchange") {
    val agg = spark.table("b_items").groupBy("key").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed agg must not shuffle:\n${plan.take(800)}")
    assert(agg.count() == 1000L)
  }

  test("dropTableFast uncaches: a recreated table serves only its new " +
      "rows and is not cached") {
    import spark.implicits._
    val t = "graft_drop_cache_t"
    val base = Files.createTempDirectory("graft_drop_cache")
    val loc = base.resolve("t")
    Tables.dropTableFast(spark, t)
    (1 to 3).toDF("v").write.parquet(loc.toString)
    spark.catalog.createTable(t, loc.toString)
    spark.catalog.cacheTable(t)
    assert(spark.table(t).count() == 3L) // materializes the cache
    Tables.dropTableFast(spark, t)
    try {
      // new files land at the same location behind Spark's back (a
      // directory move, as an external producer would make), then the
      // table is recreated over it
      val next = base.resolve("next")
      (10 to 11).toDF("v").write.parquet(next.toString)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc.toFile)
      Files.move(next, loc)
      spark.catalog.createTable(t, loc.toString)
      assert(spark.table(t).as[Int].collect().sorted.toSeq == Seq(10, 11))
      assert(!spark.catalog.isCached(t))
    } finally Tables.dropTableFast(spark, t)
  }
}
