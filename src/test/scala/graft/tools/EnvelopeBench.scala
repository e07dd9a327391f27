package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{ChangeMessage, DbColumn, DbTable, Dictionary, Envelope,
  Materialize, ProtoEnvelope}

/** JSON-vs-protobuf envelope throughput — the reference's ONE published
  * comparative perf claim is that its JSON writer is ~2.5× faster than
  * its protobuf writer (documentation/user-manual/3.output-format.adoc:
  * 23-26, "JSON output format is faster ... about 2.5 times faster").
  * This tool measures the same comparison through OUR envelope paths
  * (the q40 JSON knob-matrix renderer vs the q48 OraProtoBuf wire
  * encoder) over the same materialized feed, and prints events/s, MB/s,
  * and the proto/json wall-clock ratio — pinned in BASELINE.md next to
  * the streaming yardstick; EnvelopeFuzzSpec et al. gate correctness,
  * EnvelopeSizeSpec pins the deterministic bytes-per-event sides of the
  * comparison.
  *
  * Run: sbt "Test/runMain graft.tools.EnvelopeBench [sfDir] [iters]"
  */
object EnvelopeBench {

  /** The q40/q48 message frame over the events table. */
  def messageFrame(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables.load(spark, dir, "events").selectExpr(
      "event_id AS cScn", "0L AS cIdx", "event_id AS scn", "1L AS seq",
      "CAST(user_id AS STRING) AS xid", "'c' AS op", "100L AS obj",
      "CAST(NULL AS STRING) AS rid",
      "CAST(NULL AS MAP<STRING,STRING>) AS before",
      "map('value', CAST(CAST(value AS DECIMAL(10,2)) AS STRING)) AS after",
      "CAST(NULL AS MAP<STRING,STRING>) AS attrs",
      "CAST(NULL AS STRING) AS ddlText",
      "-1L AS bScn", "0L AS tm",
      "1 AS thread", "-1L AS offset", "0L AS num")

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val s: SparkSession = spark
    val dict = Dictionary(Seq(DbTable(100L, 100L, "APP", "EVENTS",
      Seq(DbColumn("value", 1, numPk = 1)), tagType = "pk")))
    // materialize ONCE: the comparison is the two RENDER paths, not the
    // shared dictionary-join front end (which is identical in both)
    val mat = Materialize(messageFrame(spark, sf).as[ChangeMessage], dict)
      .localCheckpoint()
    val nEvents = mat.count()
    def run(label: String, render: => DataFrame): (Double, Long) = {
      def sizer(df: DataFrame): Long = {
        val payload =
          if (df.columns.contains("value_bin")) "value_bin" else "value"
        df.agg(sum(octet_length(col(payload))).cast("long")).head.getLong(0)
      }
      val bytes = sizer(render) // warm + size
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime(); sizer(render); (System.nanoTime() - t0) / 1e9
      }
      val best = times.min
      println(f"ENV $label best=$best%.3f s  ev/s=${nEvents / best}%.0f  " +
        f"MB/s=${bytes / best / 1e6}%.2f  bytes=$bytes")
      (best, bytes)
    }
    (1 to 2).foreach { round =>
      println(s"--- round $round over $nEvents events")
      val (tj, bj) = run("json ", Envelope.forSink(Envelope.toMessages(mat)))
      val (tp, bp) = run("proto", ProtoEnvelope.toMessages(mat))
      println(f"ENV ratio proto/json wall=${tp / tj}%.2f  " +
        f"json_bytes/event=${bj.toDouble / nEvents}%.1f  " +
        f"proto_bytes/event=${bp.toDouble / nEvents}%.1f")
    }
    spark.stop()
  }
}
