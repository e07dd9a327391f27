package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Probe the near-dup graphs the dedup-apply queries feed to
  * ConnectedComponents: edge count, propagation round trajectory
  * (changed-per-round), and wall time — the evidence base for the r16
  * round-reduction work. */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Bench.session()
    implicit val s: SparkSession = spark
    val docs = graft.core.Tables.load(spark, dir, "documents")

    val taskNs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            taskNs.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val info = s.stageInfo
          val ms = info.taskMetrics.executorRunTime
          if (ms > 500)
            println(f"    [stage ${info.stageId}%4d ${ms / 1e3}%7.2f task_s " +
              f"${info.numTasks}%4d tasks] ${info.name.take(80)}")
        }
      })
    // q186's real call shape: RAW pairs plan straight into runPropagation
    locally {
      val pairs = graft.operators.LshIndex.pairs(docs,
          graft.operators.LshIndex.WeightedMinHash)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      taskNs.set(0)
      val t0 = System.nanoTime()
      val n = graft.operators.ConnectedComponents.runPropagation(pairs).count()
      Thread.sleep(300)
      println(f"raw-pairs shipped runPropagation: $n labels, " +
        f"${(System.nanoTime()-t0)/1e9}%.2f s wall, ${taskNs.get/1e9}%.2f task_s")
    }

    for ((label, pairs) <- Seq(
      "lsh(q46/q80/q136/q211)" -> graft.operators.LshIndex.pairs(docs,
          graft.operators.LshIndex.SetMinHash)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst")),
      "weighted(q186)" -> graft.operators.LshIndex.pairs(docs,
          graft.operators.LshIndex.WeightedMinHash)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst")))) {
      val e = pairs.localCheckpoint(true)
      println(s"=== $label: ${e.count()} edges, " +
        s"${e.select(col("src")).union(e.select(col("dst"))).distinct().count()} nodes")
      locally {
        val t0 = System.nanoTime()
        val n = graft.operators.ConnectedComponents.runPropagation(e).count()
        println(f"  runPropagation (shipped): $n labels, ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
      // manual propagation trajectory WITH fused pointer-jump
      val sym = e.select(col("src").as("node"), col("dst").as("nbr"))
        .union(e.select(col("dst").as("node"), col("src").as("nbr")))
        .filter(col("node") =!= col("nbr")).localCheckpoint(true)
      var labels = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .withColumn("component", col("node")).localCheckpoint(true)
      var changed = 1L
      var round = 0
      val t0 = System.nanoTime()
      while (changed > 0 && round < 200) {
        val labEdges = labels.filter(col("component") =!= col("node"))
        val hop = sym
          .union(labEdges.select(col("node"), col("component").as("nbr")))
          .union(labEdges.select(col("component").as("node"),
            col("node").as("nbr")))
        val nbrMin = hop
          .join(labels.withColumnRenamed("node", "nbr"), "nbr")
          .groupBy("node").agg(min("component").as("nbr_min"))
        val next = labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"),
            least(col("component"),
              coalesce(col("nbr_min"), col("component"))).as("component"),
            (coalesce(col("nbr_min"), col("component")) < col("component"))
              .as("chg"))
          .localCheckpoint(true)
        changed = next.filter(col("chg")).count()
        labels = next.drop("chg")
        round += 1
        println(s"  round $round changed=$changed")
      }
      println(f"  propagation: $round rounds, ${(System.nanoTime()-t0)/1e9}%.2f s")
    }
    spark.stop()
  }
}
