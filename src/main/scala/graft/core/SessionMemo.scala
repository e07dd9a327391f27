package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one memo for derived state: one map keyed by (scope, name), one
  * eviction rule, one [[clear]].
  *
  * A value's scope follows from what it is tied to:
  *  - **session scope** ([[session]]): values bound to one session, such
  *    as a `Tables.load` plan or a localCheckpointed frame. The scope is
  *    the session REFERENCE (identity, never a hash code that can collide
  *    across live sessions), and the entry lives while its SparkContext
  *    runs. A checkpointed frame survives `clearCache()` (Bench's block
  *    hygiene), since its blocks are pinned by the driver reference held
  *    here.
  *  - **warehouse scope** ([[row]]): the one-row dimension tables of the
  *    persistent indexes (`<idx>_cents`, `_pqbook`, `_sqbook`). The scope
  *    is `spark.sql.warehouse.dir`, so session clones (foreachBatch) share
  *    one entry, and the entry lives while its table exists: every index
  *    mutation drops these tables, so a dropped table can never serve its
  *    old row. Writers [[put]] the new row after the write.
  *
  * The eviction rule runs on every read: the entry hit is served only
  * while it is live, and is evicted otherwise. A session-scope hit costs
  * one map read and no catalog call; a warehouse-scope read adds one
  * table-exists probe. Entries of stopped sessions are also swept
  * whenever an entry is added, so dead checkpointed frames do not pin
  * memory.
  *
  * Builds run OUTSIDE the map (get, build, `putIfAbsent`; the first
  * writer wins): a build may itself read the memo (a suffix-rank build
  * calls `Tables.load`), and a nested `computeIfAbsent` on one
  * ConcurrentHashMap is not allowed. */
object SessionMemo {
  private type Key = (AnyRef, String)

  private val memo = new java.util.concurrent.ConcurrentHashMap[Key, AnyRef]()

  private def live(reader: SparkSession, key: Key): Boolean = key._1 match {
    case owner: SparkSession => !owner.sparkContext.isStopped
    case _ => reader.catalog.tableExists(key._2)
  }

  private def read[T <: AnyRef](reader: SparkSession, key: Key)(build: => T): T = {
    val hit = memo.get(key)
    if (hit != null && live(reader, key)) hit.asInstanceOf[T]
    else {
      if (hit != null) memo.remove(key, hit)
      val v = build
      memo.keySet.removeIf(k => k._1.isInstanceOf[SparkSession] && !live(reader, k))
      val won = memo.putIfAbsent(key, v)
      if (won == null) v else won.asInstanceOf[T]
    }
  }

  /** The session-scope value `name` of `s`, built on the first read. */
  def session[T <: AnyRef](s: SparkSession, name: String)(build: => T): T =
    read(s, (s, name))(build)

  /** Drops `s`'s value `name`, so the next read rebuilds it. */
  def forget(s: SparkSession, name: String): Unit = memo.remove((s, name))

  private def warehouse(s: SparkSession): String =
    s.conf.get("spark.sql.warehouse.dir")

  /** The single row of the one-row table `table`; a missing table fails
    * the read (and evicts any row cached for it). */
  def row(s: SparkSession, table: String): Row =
    read(s, (warehouse(s), table))(s.table(table).collect().head)

  /** Records `r` as `table`'s row, after its writer committed it. */
  def put(s: SparkSession, table: String, r: Row): Unit =
    memo.put((warehouse(s), table), r)

  /** [[row]] as a local one-row frame (a broadcastable dimension). */
  def frame(s: SparkSession, table: String): DataFrame = oneRow(s, row(s, table))

  /** A local one-row frame of `r`, typed by `r`'s own schema. */
  def oneRow(s: SparkSession, r: Row): DataFrame =
    s.createDataFrame(java.util.Collections.singletonList(r), r.schema)

  /** Drops every entry: the next read of anything rebuilds it. */
  def clear(): Unit = memo.clear()
}
