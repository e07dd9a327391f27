package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: regex over query names, for fast local subset runs
    // (the driver always calls with 2 args → full gate).
    val nameFilter = args.lift(2).map(_.r)
    def keep(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // own session, not Bench.session: correctness runs untuned, on
    // Spark's defaults
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(kv => keep(kv._1)))
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def oracleJson(
      keep: ((String, String)) => Boolean): String =
    SparkEntry.oracleSql.filter(keep)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}

/** Writes SparkEntry.oracleSql as JSON without running any query — the
  * cheap input to tools/bench_oracle.py (the DuckDB timing side of the
  * per-query ratio artifact in BENCH_FULL.json). */
object DumpOracles {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), Verify.oracleJson(_ => true))
}
