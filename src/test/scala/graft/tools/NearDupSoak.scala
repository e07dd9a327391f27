package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.NearDupIngest

/** Throughput/state soak + tier-accuracy measurement for the streaming
  * near-dup tiers over a synthetic corpus with a controlled near-dup rate.
  *
  *   state tier (default): N docs in B micro-batches through
  *     `signatureVerdicts` on RocksDB state — the claim under test is
  *     FLAT per-batch cost as band-keeper state grows (point lookups,
  *     no index scan). Prints per-batch seconds + docs/s + verdicts.
  *
  *   macro tier (`macro` arg): smaller corpus through `processBatch` —
  *     the claim under test is the HONEST one: per-batch cost grows with
  *     the index (zero-Exchange scan, but O(index) IO), which is why this
  *     tier is for crawl-drop cadence, not per-second triggers.
  *
  *   recall mode (`recall` arg): BOTH tiers over the SAME corpus and
  *     batch shape, scored against generator ground truth — the r11
  *     verdict ask: the state tier's documented recall/precision
  *     concessions as measured numbers, not prose. The corpus has three
  *     classes: fresh (60%), true near-dups (20%: copy an earlier doc,
  *     replace 2 of 40 tokens → shingle-Jaccard ≈ 0.73, MUST drop), and
  *     borderline (20%: replace 5 of 40 → shingle-Jaccard ≈ 0.43, BELOW
  *     the 0.5 tau — a correct exact-verify tier must KEEP these; the
  *     state tier's signature estimate auto-passes once a band collides,
  *     so any borderline it flags is a measured precision concession).
  *
  * Seeded RNG → reproducible corpus.
  *
  * Run: sbt "Test/runMain graft.tools.NearDupSoak [nDocs] [nBatches] [mode] [simTau]"
  * (simTau applies to the state tier in recall mode; default 0.5.)
  */
object NearDupSoak {

  /** (docs, trueDupIds, borderlineIds): tokens from a 5k vocab, 40/doc. */
  def corpus(nDocs: Int): (Array[(Long, String)], Set[Long], Set[Long]) = {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 5000).map(i => s"tok$i").toArray
    val docs = new Array[(Long, String)](nDocs)
    val dups = Set.newBuilder[Long]
    val borderline = Set.newBuilder[Long]
    def mutate(srcIdx: Int, nReplace: Int): String = {
      val t = docs(srcIdx)._2.split(' ').clone()
      rnd.shuffle((t.indices).toList).take(nReplace)
        .foreach(p => t(p) = vocab(rnd.nextInt(vocab.length)))
      t.mkString(" ")
    }
    (0 until nDocs).foreach { i =>
      val roll = if (i == 0) 1.0 else rnd.nextDouble()
      docs(i) =
        if (roll < 0.2) { // true near-dup: j ≈ (38-6)/(38+6) ≈ 0.73
          dups += i.toLong
          (i.toLong, mutate(rnd.nextInt(i), 2))
        } else if (roll < 0.4) { // borderline: j ≈ (38-15)/(38+15) ≈ 0.43
          borderline += i.toLong
          (i.toLong, mutate(rnd.nextInt(i), 5))
        } else
          (i.toLong, Array.fill(40)(vocab(rnd.nextInt(vocab.length)))
            .mkString(" "))
    }
    (docs, dups.result(), borderline.result())
  }

  private def score(label: String, flagged: Set[Long], dups: Set[Long],
      borderline: Set[Long], n: Long): String = {
    val tp = (flagged & dups).size
    val recall = tp.toDouble / dups.size
    val precision = if (flagged.isEmpty) 1.0 else tp.toDouble / flagged.size
    val bFlag = (flagged & borderline).size.toDouble / borderline.size
    f""""$label":{"flagged":${flagged.size},"recall":$recall%.3f,""" +
      f""""precision":$precision%.3f,"borderline_flag_rate":$bFlag%.3f}"""
  }

  /** Corpus for the WEIGHTED-vs-shingle tier comparison (`weighted`
    * mode). Classes chosen to separate the two tiers' FEATURE SPACES —
    * token multiset (weighted) vs 3-gram shingle set (unweighted):
    *   - fresh (50%);
    *   - near-dup (20%): 2 of 40 tokens replaced — BOTH tiers must flag
    *     (weighted wj ≈ 38/42 ≈ 0.90; shingle j ≈ 0.73);
    *   - reorder (15%): same tokens, shuffled — the weighted tier's
    *     catch (wj = 1.0); shingles scatter (j ≈ 0) so the shingle tier
    *     structurally misses it;
    *   - tf-inflate (15%): copy + 10 tokens repeated ×6 (50 extra
    *     instances) — BOTH tiers must keep: weighted because
    *     wj = 40/90 ≈ 0.44 < 0.5 (the Σmin/Σmax robustness a set-of-
    *     tokens detector would not have), shingle because the appended
    *     runs break the 3-gram set. */
  def corpusW(nDocs: Int): (Array[(Long, String)], Set[Long], Set[Long],
      Set[Long]) = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 5000).map(i => s"tok$i").toArray
    val docs = new Array[(Long, String)](nDocs)
    val dups = Set.newBuilder[Long]
    val reorders = Set.newBuilder[Long]
    val inflates = Set.newBuilder[Long]
    (0 until nDocs).foreach { i =>
      val roll = if (i == 0) 1.0 else rnd.nextDouble()
      def src = docs(rnd.nextInt(i))._2.split(' ')
      docs(i) =
        if (roll < 0.2) {
          dups += i.toLong
          val t = src.clone()
          rnd.shuffle(t.indices.toList).take(2)
            .foreach(p => t(p) = vocab(rnd.nextInt(vocab.length)))
          (i.toLong, t.mkString(" "))
        } else if (roll < 0.35) {
          reorders += i.toLong
          (i.toLong, rnd.shuffle(src.toList).mkString(" "))
        } else if (roll < 0.5) {
          inflates += i.toLong
          val t = src
          val extra = rnd.shuffle(t.toList).take(10)
            .flatMap(tok => Seq.fill(5)(tok))
          (i.toLong, (t ++ extra).mkString(" "))
        } else
          (i.toLong, Array.fill(40)(vocab(rnd.nextInt(vocab.length)))
            .mkString(" "))
    }
    (docs, dups.result(), reorders.result(), inflates.result())
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(200000)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val mode = args.lift(2).getOrElse("state")
    val simTau = args.lift(3).map(_.toDouble).getOrElse(0.5)
    // own session, not Bench.session: spark.sql.warehouse.dir (a fresh temp
    // dir per run) is a static conf, fixed when the session is created
    implicit val spark: SparkSession = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("ndsoak_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    val (docs, dups, borderline) = corpus(nDocs)
    val perBatch = docs.grouped((nDocs + nBatches - 1) / nBatches).toArray

    /** state tier over perBatch → (flagged ids, per-batch seconds). */
    def runState(): (Set[Long], Array[Double]) = {
      val in = MemoryStream[(Long, String)]
      val q = NearDupIngest.signatureVerdicts(
        NearDupIngest.withSignatures(in.toDS().toDF("doc_id", "text")),
        simTau)
        .writeStream.format("memory").queryName("ndsoak")
        .outputMode("append").start()
      val times = perBatch.map { b =>
        val tb = System.nanoTime()
        in.addData(b.toSeq)
        q.processAllAvailable()
        (System.nanoTime() - tb) / 1e9
      }
      val flagged = spark.table("ndsoak").select("docId").distinct()
        .collect().map(_.getLong(0)).toSet
      q.stop()
      (flagged, times)
    }

    /** macro tier over perBatch → (dropped ids, per-batch seconds). */
    def runMacro(): (Set[Long], Array[Double]) = {
      NearDupIngest.ensureIndex(spark, "soak_idx")
      val out = java.nio.file.Files.createTempDirectory("ndsoak_out").toString
      val times = perBatch.zipWithIndex.map { case (b, i) =>
        val t0 = System.nanoTime()
        NearDupIngest.processBatch(spark, b.toSeq.toDF("doc_id", "text"),
          i.toLong, "soak_idx", out)
        (System.nanoTime() - t0) / 1e9
      }
      val kept = spark.read.parquet(s"$out/batch=*")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      (docs.map(_._1).toSet -- kept, times)
    }

    mode match {
      case "weighted" =>
        // weighted vs shingle macro tier over the SAME tf-discriminating
        // corpus (corpusW classes — see its doc)
        val (docsW, dupsW, reorders, inflates) = corpusW(nDocs)
        val perBatchW = docsW.grouped((nDocs + nBatches - 1) / nBatches)
          .toArray
        def runTier(family: graft.operators.LshIndex.Family)
            : (Set[Long], Array[Double]) = {
          val name = s"soak_${family.score}_idx"
          NearDupIngest.ensureIndex(spark, name, family = family)
          val out = java.nio.file.Files
            .createTempDirectory(s"ndsoak_${name}_out").toString
          val times = perBatchW.zipWithIndex.map { case (b, i) =>
            val t0 = System.nanoTime()
            NearDupIngest.processBatch(spark, b.toSeq.toDF("doc_id", "text"),
              i.toLong, name, out, family = family)
            (System.nanoTime() - t0) / 1e9
          }
          val kept = spark.read.parquet(s"$out/batch=*")
            .select("doc_id").collect().map(_.getLong(0)).toSet
          (docsW.map(_._1).toSet -- kept, times)
        }
        def scoreW(label: String, flagged: Set[Long],
            times: Array[Double]): String = {
          val recall = (flagged & dupsW).size.toDouble / dupsW.size
          val reorderRate = (flagged & reorders).size.toDouble / reorders.size
          val inflateRate = (flagged & inflates).size.toDouble / inflates.size
          f""""$label":{"flagged":${flagged.size},"dup_recall":$recall%.3f,""" +
            f""""reorder_flag_rate":$reorderRate%.3f,""" +
            f""""inflate_flag_rate":$inflateRate%.3f,""" +
            f""""total_s":${times.sum}%.1f}"""
        }
        val (wFlag, wTimes) = runTier(graft.operators.LshIndex.WeightedMinHash)
        val (uFlag, uTimes) = runTier(graft.operators.LshIndex.SetMinHash)
        println(s"""{"soak":"neardup-weighted","docs":$nDocs,""" +
          s""""batches":$nBatches,"true_dups":${dupsW.size},""" +
          s""""reorders":${reorders.size},"inflates":${inflates.size},""" +
          scoreW("weighted_tier", wFlag, wTimes) + "," +
          scoreW("shingle_tier", uFlag, uTimes) + "}")
      case "macro" =>
        val (dropped, times) = runMacro()
        println(f"""{"soak":"neardup-macro","docs":$nDocs,"batches":$nBatches,""" +
          f""""kept":${nDocs - dropped.size},"total_s":${times.sum}%.1f,""" +
          f""""docs_per_s":${nDocs / times.sum}%.0f,""" +
          s""""batch_s":[${times.map(t => f"$t%.2f").mkString(",")}]}""")
      case "recall" =>
        val (sFlag, sTimes) = runState()
        val (mDrop, mTimes) = runMacro()
        println(s"""{"soak":"neardup-recall","docs":$nDocs,""" +
          s""""batches":$nBatches,"sim_tau":$simTau,""" +
          s""""true_dups":${dups.size},""" +
          s""""borderline":${borderline.size},""" +
          score("state_tier", sFlag, dups, borderline, nDocs) + "," +
          score("macro_tier", mDrop, dups, borderline, nDocs) + "," +
          f""""state_total_s":${sTimes.sum}%.1f,""" +
          f""""macro_total_s":${mTimes.sum}%.1f}""")
      case _ =>
        val (flagged, times) = runState()
        val verdicts = spark.table("ndsoak").count()
        println(f"""{"soak":"neardup-state","docs":$nDocs,"batches":$nBatches,""" +
          f""""verdicts":$verdicts,"flagged_docs":${flagged.size},""" +
          f""""total_s":${times.sum}%.1f,"docs_per_s":${nDocs / times.sum}%.0f,""" +
          s""""batch_s":[${times.map(t => f"$t%.2f").mkString(",")}]}""")
    }
    spark.stop()
  }
}
