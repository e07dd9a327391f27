package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.cdc.{ChangeEvent, Op, TxnAssembly}
import graft.streaming.{CorpusIngest, Metrics}

/** Streaming state-scale soak for the CDC assembler: drives a synthetic
  * 1M-event feed (default 250k txns × 4 events) through
  * `TxnAssembly.assembleStream` on the RocksDB state provider, half the
  * transactions spanning a micro-batch boundary so keyed state is
  * genuinely exercised (not just created and dropped inside one batch).
  * Prints one JSON line with throughput and peak state numbers; the
  * figures are recorded in SCALE.md §streaming-soak.
  *
  * Run: sbt "Test/runMain graft.tools.StreamSoak [nTxns] [nBatches]"
  *
  * Yardstick parity: the reference reports redo MB/s
  * (/root/reference: Ctx metrics, BASELINE.md table); here the payload
  * estimate counts the generated column bytes so the MB/s figure is the
  * same "logical change volume per second" notion.
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val nTxns = args.headOption.map(_.toInt).getOrElse(250000)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    implicit val spark: SparkSession = graft.Bench.session(8)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    def ev(scn: Long, xid: String, op: String): ChangeEvent =
      ChangeEvent(scn, xid, op)
    val pad = "x" * 40
    def insEv(scn: Long, xid: String, j: Int): ChangeEvent =
      ev(scn, xid, Op.Ins).copy(obj = 1001L,
        after = Map("id" -> j.toString, "payload" -> s"$pad-$j"))
    var payloadBytes = 0L

    // txn j: BEGIN,INS,INS in batch (j % nBatches); commit distance is
    // SKEWED (r9 verdict ask #7) like a real OLTP mix — 50% commit in
    // the same batch, 40% one batch later, 9% four batches later, and
    // 1% are long-running stragglers that stay open until the final
    // drain batch. State must climb while stragglers accumulate and
    // still return to zero at the end; the per-batch curve below makes
    // the shape visible in the artifact, not just the peak.
    val perBatch = Array.fill(nBatches + 1)(
      scala.collection.mutable.ArrayBuffer.empty[ChangeEvent])
    (0 until nTxns).foreach { j =>
      val b = j % nBatches
      val xid = s"${j % 256}.${j >> 8}.$j"
      val scn0 = j.toLong * 10
      perBatch(b) += ev(scn0, xid, Op.Begin)
      perBatch(b) += insEv(scn0 + 1, xid, j)
      perBatch(b) += insEv(scn0 + 2, xid, j + 1)
      val dist = (j % 100) match {
        case k if k < 50 => 0 // same batch
        case k if k < 90 => 1 // next batch
        case k if k < 99 => 4 // medium straggler
        case _ => nBatches // open until the drain batch
      }
      val cb = math.min(b + dist, nBatches)
      perBatch(cb) += ev(scn0 + 3, xid, Op.Commit)
      payloadBytes += 4 * 48 + 2 * (50 + pad.length) // rough wire estimate
    }

    val collector = Metrics.attach(spark)
    val input = MemoryStream[ChangeEvent]
    val query = TxnAssembly.assembleStream(input.toDS())
      .writeStream.format("noop").outputMode("append").start()
    val t0 = System.nanoTime()
    perBatch.foreach { batch =>
      if (batch.nonEmpty) {
        input.addData(batch.toSeq)
        query.processAllAvailable()
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    query.stop()
    val snaps = collector.snapshots
    val inRows = snaps.map(_.inputRows).sum
    val peakStateRows = if (snaps.isEmpty) 0L else snaps.map(_.stateRows).max
    val peakStateMb = if (snaps.isEmpty) 0.0
      else snaps.map(_.stateBytes).max / 1e6
    val mb = payloadBytes / 1e6
    println(f"""{"soak":"assembleStream-rocksdb","txns":$nTxns,""" +
      f""""events":$inRows,"batches":${snaps.size},"secs":$secs%.1f,""" +
      f""""events_per_sec":${inRows / secs}%.0f,"mb":$mb%.1f,""" +
      f""""mb_per_sec":${mb / secs}%.2f,"peak_state_rows":$peakStateRows,""" +
      f""""peak_state_mb":$peakStateMb%.1f}""")
    // per-batch state curve: the climb-and-drain shape under the skewed
    // commit-distance mix (recorded as the SCALE.md curve table)
    println("[soak] batch curve (batch, in_rows, state_rows, state_mb, ms):")
    snaps.zipWithIndex.foreach { case (sn, i) =>
      println(f"[soak]   $i%3d ${sn.inputRows}%9d ${sn.stateRows}%9d " +
        f"${sn.stateBytes / 1e6}%8.1f ${sn.batchDurationMs}%7d")
    }
    // Prometheus-name-parity scrape of the same soak (the surface a
    // migrated dashboard reads): batch gauges + the txn-outcome counters
    val prom = new graft.streaming.Prometheus()
    prom.setServiceState("replicating")
    snaps.foreach(prom.observeBatch)
    prom.emitTransactions("commit", "out", nTxns.toLong)
    prom.emitBytesParsed(payloadBytes)
    println("[soak] prometheus scrape excerpt:")
    prom.render().linesIterator
      .filter(l => l.startsWith("transactions{") ||
        l.startsWith("memory_used_mb{type=\"transactions\"}") ||
        l.startsWith("bytes_parsed") || l.startsWith("checkpoint_lag"))
      .foreach(l => println("[soak]   " + l))
    Metrics.detach(spark, collector)

    // ---- CorpusIngest first-seen dedup soak -----------------------------
    // Same RocksDB session: nDocs documents, 20% exact duplicates of an
    // earlier doc (the re-crawl shape), arriving over nBatches batches.
    // State = one boolean per DISTINCT content hash — the claim to pin is
    // that state tracks DISTINCT content (80% here), not stream length,
    // and survivors equal the distinct count exactly.
    val nDocs = nTxns // same order of magnitude as the txn soak
    val body = "lorem ipsum dolor sit amet " * 8 // ~200 chars
    def doc(j: Int): CorpusIngest.Doc = {
      val content = if (j % 5 == 4) s"$body-${j - 4}" else s"$body-$j"
      CorpusIngest.Doc(j.toLong,
        java.security.MessageDigest.getInstance("MD5")
          .digest(content.getBytes("UTF-8")).map("%02x".format(_)).mkString,
        content)
    }
    val collector2 = Metrics.attach(spark)
    val input2 = MemoryStream[CorpusIngest.Doc]
    val query2 = CorpusIngest.firstSeen(input2.toDS())
      .writeStream.format("noop").outputMode("append").start()
    val t1 = System.nanoTime()
    (0 until nBatches).foreach { b =>
      input2.addData((b until nDocs by nBatches).map(doc))
      query2.processAllAvailable()
    }
    val secs2 = (System.nanoTime() - t1) / 1e9
    query2.stop()
    val snaps2 = collector2.snapshots
    val in2 = snaps2.map(_.inputRows).sum
    val finalStateRows = if (snaps2.isEmpty) 0L else snaps2.last.stateRows
    val stateMb2 = if (snaps2.isEmpty) 0.0
      else snaps2.map(_.stateBytes).max / 1e6
    val mb2 = nDocs.toLong * (body.length + 12) / 1e6
    println(f"""{"soak":"corpusIngest-rocksdb","docs":$in2,""" +
      f""""distinct_frac":0.8,"batches":${snaps2.size},"secs":$secs2%.1f,""" +
      f""""docs_per_sec":${in2 / secs2}%.0f,"mb":$mb2%.1f,""" +
      f""""mb_per_sec":${mb2 / secs2}%.2f,""" +
      f""""final_state_rows":$finalStateRows,"state_mb":$stateMb2%.1f}""")
    spark.stop()
  }
}
