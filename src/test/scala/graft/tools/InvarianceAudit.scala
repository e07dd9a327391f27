package graft.tools

import org.apache.spark.sql.DataFrame

/** Determinism-under-partitioning audit: every SparkEntry query must
  * produce the SAME result set regardless of `spark.sql.shuffle.partitions`
  * — the cheapest local proxy for "will a 1000-executor run agree with the
  * 32-thread gate?". Any query whose canonical hash changes between
  * partition counts has an order/partitioning dependence (a nondeterminism
  * the DuckDB gate can't see, because Verify always runs one fixed conf).
  *
  * Canonical hash = the driver's check.py discipline: columns sorted by
  * name, every cell rendered to a string (floats via toString — a genuine
  * float instability would already fail the 6-dp rounding discipline),
  * rows sorted, md5 over the concatenation. Results collect at sf0.001
  * (dozens of KB).
  *
  * Run: sbt "Test/runMain graft.tools.InvarianceAudit [sfDir] [p1,p2,...]"
  * Exit code 1 on any violation; one line per query on stdout.
  */
object InvarianceAudit {
  def canonicalHash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.selectExpr(cols.map(c => s"CAST(`$c` AS STRING)"): _*)
      .collect()
      .map(_.toSeq.map(v => if (v == null) "\u0000NULL" else v.toString)
        .mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val parts = args.lift(1).getOrElse("5,32").split(",").map(_.trim.toInt)
    // optional 3rd arg: regex over query names (driver calls with <=2 args
    // -> full audit; the filter is for iterating on one query locally)
    val nameFilter = args.lift(2).map(_.r)
    def keep(n: String) = nameFilter.forall(_.findFirstIn(n).isDefined)
    val spark = graft.Bench.session(8)
    spark.sparkContext.setLogLevel("ERROR")
    graft.queries.CdcOps.ensureDsv2Feed(spark, sf)
    var bad = 0
    val audited = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => keep(kv._1))
    audited.foreach { case (name, fn) =>
      try {
        val hashes = parts.map { p =>
          spark.conf.set("spark.sql.shuffle.partitions", p.toString)
          // drop every memo entry (suffix ranks, BPE vocab, index rows)
          // BEFORE each hash: without this the second partition setting
          // hashes the SAME memoized frame the first one built, and the
          // audit is vacuous exactly for the memoized queries whose
          // rank/offset arithmetic it exists to cover (r14 finding #2).
          // Dir-keyed ON-DISK indexes (q143/q191/q216) intentionally
          // keep their build — their MATCH path is what re-audits, the
          // builds have their own unconditional gated queries.
          graft.core.SessionMemo.clear()
          canonicalHash(fn(spark, sf))
        }
        val ok = hashes.distinct.length == 1
        if (!ok) bad += 1
        println(s"INV $name ${if (ok) "ok" else s"VIOLATION ${hashes.mkString(" ")}"}")
      } catch {
        case e: Throwable =>
          bad += 1
          println(s"INV $name ERR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"INVARIANCE total=${audited.size} violations=$bad")
    // the committed artifact (r15 "what's wrong" #3: the audit result
    // lived only in a commit message; SCALE.md must quote something in
    // the tree). Unfiltered runs only — a local one-query iteration
    // must not overwrite the round's full-surface record (the Bench
    // filtered-run rule).
    if (nameFilter.isEmpty) {
      val bd = java.time.LocalDate.now().toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("INVARIANCE.json"),
        s"""{"total":${audited.size},"violations":$bad,""" +
          s""""partitions":[${parts.mkString(",")}],"sf":"$sf",""" +
          s""""date":"$bd"}""" + "\n")
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
