package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Table access layer over the driver-provided TESTDATA parquet dirs.
  *
  * All queries go through here so that, at cluster scale, the read path can be
  * swapped (bucketed tables, a metastore, Delta) without touching operators.
  * Filters/column pruning are left to Catalyst — callers `select`/`filter` on
  * the returned DataFrame and pushdown reaches the parquet scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table's DataFrame. `spark.read.parquet` resolves the schema
    * eagerly (a driver-side file listing and footer read, tens of ms per
    * call), so the analyzed plan is memoized per session, as a metastore
    * would serve it: every action still scans the parquet inputs, and the
    * testdata dirs are immutable, so a memoized listing cannot go stale. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionMemo.session(spark, s"load $dir/$name")(doLoad(spark, dir, name))

  private def doLoad(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    // events.ts arrives as parquet TIMESTAMP(NANOS) in some testdata
    // generations (Spark rejects it by default → read as epoch-nanos long)
    // and TIMESTAMP(MICROS) in others. Every operator consumes ts as
    // epoch-nanos BIGINT (matching the DuckDB oracle's epoch_ns(ts)), so
    // normalize HERE for any physical type, in ANY session, including the
    // driver-provided one — with tz-INDEPENDENT expressions only, so the
    // load never mutates the caller's session timeZone (an LTZ column is
    // already an instant; an NTZ wall clock is decomposed into
    // date/hour/minute/second fields, all tz-free, and re-assembled as
    // its UTC reading, ≡ DuckDB's epoch_ns of the same wall clock).
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampType}
      import org.apache.spark.sql.functions.expr
      df.schema("ts").dataType match {
        case LongType => df
        case TimestampType => // instant: no wall-clock interpretation
          df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
        case _ => // NTZ: read the wall clock as UTC, field-wise
          df.withColumn("ts", expr(
            "(unix_date(cast(ts as date)) * 86400000000L + " +
            "(hour(ts) * 3600L + minute(ts) * 60L) * 1000000L + " +
            "cast(date_part('SECOND', ts) * 1000000 as long)) * 1000L"))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Local-parallelism escape hatch, OFF for cluster plans.
    *
    * The TESTDATA tables arrive as a single parquet row group, so a
    * CPU-heavy per-row stage (shingling, cosine, quantization) would
    * otherwise pin to ONE task on local[32]. `spread` hash-repartitions on
    * the row key to use every core — but on a real multi-file/multi-HDFS-
    * block table that exchange would shuffle the full document/embedding
    * PAYLOAD for nothing (scan splits already give the parallelism), so it
    * is gated behind `graft.spreadLocal` (default true for the local bench;
    * set false in cluster submit conf → the call is a no-op and plans show
    * no payload Exchange). Correctness never depends on it.
    *
    * Kept as a bare `repartition(col)` (AQE may re-coalesce it on
    * small-byte stages — measured r6: forcing an explicit
    * defaultParallelism count regressed the text bench ~30%, the extra
    * task waves costing more than the parallelism won). */
  def spread(df: DataFrame, on: Column): DataFrame =
    if (df.sparkSession.conf.get("graft.spreadLocal", "true").toBoolean)
      df.repartition(on)
    else df

  /** DROP TABLE IF EXISTS + orphaned-location cleanup WITHOUT the SQL
    * round trip (r17, guide §5 — driver fixed costs): `spark.sql("DROP
    * TABLE IF EXISTS …")` pays parse + analysis + command dispatch per
    * statement, and the index-lifecycle queries issue up to 7 of them per
    * build (IvfIndex.write). This goes straight to the session catalog:
    * one exists probe, an uncache when anything is cached (the SQL
    * command's uncache step — a cached plan of the dropped table would
    * otherwise serve its old rows to a same-named table recreated at the
    * same location), a relation-cache refresh, and the drop (the
    * external catalog deletes a managed table's directory, exactly like
    * the SQL command). The manual location rm
    * covers a MANAGED location orphaned by a previous session's
    * warehouse, which would otherwise make the next saveAsTable refuse
    * even with overwrite (the LshIndex.write lesson). */
  def dropTableFast(spark: SparkSession, table: String): Unit = {
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val cat = spark.sessionState.catalog
    if (cat.tableExists(ident)) {
      if (!spark.sharedState.cacheManager.isEmpty)
        spark.catalog.uncacheTable(table)
      cat.refreshTable(ident)
      cat.dropTable(ident, ignoreIfNotExists = true, purge = false)
    }
    val loc = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
    if (loc.exists()) rmTree(loc)
  }

  /** Recursive best-effort delete of a local file or directory tree. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Bucketed materialization — the cluster-scale answer to repeated
    * joins/aggregations on one key (dedup fingerprints, xid, vec_id):
    * both sides written with `bucketBy(n, key)` are co-located by the
    * SAME hash partitioning at read time, so the join plans with ZERO
    * Exchange on either side (asserted in TablesBucketingSpec). This is
    * the "pre-shuffle once, join forever" trade: one write-time shuffle
    * amortized over every downstream consumer — at 100 TB the difference
    * between an ingest-time cost and an every-query cost. Requires a
    * saveAsTable target (bucket metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Append an increment to a bucketed table (same spec — Spark validates
    * it against the catalog entry and writes bucket-aligned files, so
    * index-side zero-exchange joins keep holding after appends). */
  def appendBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 32): Unit =
    df.write.mode("append")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** The bucket count of a table written by [[writeBucketed]]. It is the
    * table's property, read from the catalog, so an append or a rewrite
    * can never fork the spec; an unbucketed table is an error. */
  def bucketsOf(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(s"$table is not bucketed"))

  /** The warehouse name of a persistent index built per corpus dir:
    * `prefix` carries the index family and its logic version (bump it
    * when the index semantics change, or a stale index from an older
    * revision satisfies the build-if-missing check). */
  def dirKeyed(prefix: String, dir: String): String =
    prefix + dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Bucket-preserving compaction of a bucketed table: coalesce the
    * per-append file accumulation (each [[appendBucketed]] writes
    * `buckets` new files) down to one file per bucket and drop rows
    * duplicated by crash-replayed appends, WITHOUT changing the bucket
    * spec — downstream zero-exchange joins are untouched.
    *
    * Scale shape: the read is bucket-aligned (HashPartitioning(key)
    * straight off the files), `dropDuplicates(dedupKeys)` clusters on a
    * SUPERSET of the bucket key so it plans exchange-free, and the
    * bucketed rewrite re-uses the same hash — the whole compaction is a
    * read + in-place dedup + write with no shuffle at any scale. The
    * rewrite lands in a side table first and swaps in via catalog RENAME
    * (read-while-rewrite safe; a crash before the swap leaves the
    * original intact). */
  def compactBucketed(spark: SparkSession, table: String, key: String,
      dedupKeys: Seq[String],
      rewrite: DataFrame => DataFrame = identity): Unit = {
    val buckets = bucketsOf(spark, table)
    val tmp = s"${table}__compact"
    dropTableFast(spark, tmp)
    writeBucketed(rewrite(spark.table(table).dropDuplicates(dedupKeys)),
      tmp, key, buckets)
    // swap: drop the original, repoint tmp — direct catalog calls (the
    // dropTableFast rationale; renameTable moves the managed directory
    // exactly like ALTER TABLE … RENAME)
    val cat = spark.sessionState.catalog
    cat.refreshTable(org.apache.spark.sql.catalyst.TableIdentifier(table))
    cat.dropTable(org.apache.spark.sql.catalyst.TableIdentifier(table),
      ignoreIfNotExists = false, purge = false)
    cat.renameTable(org.apache.spark.sql.catalyst.TableIdentifier(tmp),
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    spark.catalog.refreshTable(table)
  }

  /** Configuration applied to every session we control (Bench/tests).
    * The driver's Verify builds its own session; queries must not depend on
    * these being set — they are performance, not correctness, knobs.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    spark
  }
}
