package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star/small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14): converges in O(log n) rounds regardless of component
  * diameter, where plain min-label propagation needs O(diameter) rounds —
  * the difference between 5 and 500 shuffles on a 100 TB near-dup graph
  * with long chains.
  *
  * Each round shuffles only (node, node) long pairs; lineage is truncated
  * per round (`localCheckpoint`), so the plan stays O(1) deep.
  *
  *   - large-star(u): attach every strictly-larger neighbor of u to
  *     m = min(Γ(u) ∪ {u});
  *   - small-star(u): orient edges downward, attach every smaller-or-equal
  *     neighbor (and u itself) to m.
  *
  * Fixpoint = the edge set is a union of stars centered at component
  * minima; labels read directly off the star edges.
  */
object ConnectedComponents {

  private def symmetric(e: DataFrame): DataFrame =
    e.union(e.select(col("v").as("u"), col("u").as("v"))).distinct()

  /** min(Γ(u) ∪ {u}) per node of a symmetric edge list. */
  private def minNbr(sym: DataFrame): DataFrame =
    sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))

  private def largeStar(e: DataFrame): DataFrame = {
    val sym = symmetric(e)
    val mins = minNbr(sym)
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val mins = minNbr(dir)
    dir.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Min-label propagation with per-round pointer-jumping: each round is
    * one neighbor-min join plus one label-of-label join, so a component of
    * depth D converges in O(log D) rounds instead of O(D). FASTER than the
    * star algorithm when components are shallow — which LSH near-dup
    * graphs are (hub-and-spokes around boilerplate docs; measured 2×
    * faster at sf0.1) — and the jump keeps moderately deep graphs (q186's
    * weighted near-dup graph: 13 plain rounds → 4 jumped rounds) off the
    * escalation path entirely. Same contract as [[run]].
    *
    * Trip wire for adversarial depth: after `escalateAfter` unconverged
    * rounds the graph is CONTRACTED by the current labels (every node
    * collapses into its partial component's label-node) and the
    * O(log n) star algorithm finishes on the contracted edges — so a
    * long-chain graph costs `escalateAfter` cheap rounds plus the star's
    * logarithmic tail instead of O(diameter) shuffles, and the shallow
    * common case never pays the star's constant factor. Correctness of
    * the composition: a partial component's min node always labels
    * itself (labels only decrease toward the component min), so the
    * contracted graph's star labels ARE the true component minima, and
    * a label absent from the contracted edges (its partial component
    * has no edge out) is already final. */
  def runPropagation(edges: DataFrame, maxRounds: Int = 200,
      escalateAfter: Int = 20)(
      implicit spark: SparkSession): DataFrame = {
    // a zero bound would skip every round and hand back labels that were
    // never materialized (their edge RDD is released on the way out)
    require(escalateAfter >= 1 && maxRounds >= 1,
      s"runPropagation needs escalateAfter >= 1 and maxRounds >= 1, " +
        s"got $escalateAfter / $maxRounds")
    import spark.implicits._
    // The inner loop is the co-partitioned Pregel shape (GraphX's): the
    // adjacency is hash-partitioned by node ONCE, labels keep the SAME
    // partitioner through every round, so the adjacency⋈labels and
    // labels⋈nbrMin joins are NARROW — the only shuffle per round is the
    // neighbor-min reduceByKey (plus a labels-sized re-key for the jump
    // edges), and the whole round materializes as ONE job with ~3 stages.
    // The earlier declarative rounds paid a broadcast-build job plus AQE
    // stage-materialization jobs per round (measured: q186's 10 rounds =
    // 87 jobs at ~0.26 s/round); per-round latency is what an O(rounds)
    // fixpoint pays for, so the round itself is the thing to make cheap.
    // All arithmetic is min over longs — deterministic under any
    // partitioning or combiner order.
    // pin the edge list ONCE: every round reads the materialized RDD
    // instead of re-running the caller's pair-detection plan (the r16
    // finding: a sym.cache() was not substituted into per-round
    // subplans and q186 re-ran its verified-pairs pipeline every round)
    val e0 = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .as[(Long, Long)].rdd.localCheckpoint()
    // EAGER: sym, the label universe, and round 0 all branch off e0 — a
    // lazy checkpoint would let each branch re-run the caller's
    // pair-detection plan before the blocks exist (measured: 76 task-s
    // on q186, the same recompute class the DF version hit)
    val nEdges = e0.count()
    // Scale-ADAPTIVE round parallelism (guide §2: derive partitioning
    // from input size, don't inherit a constant): the pair graph is
    // metadata-sized (16-byte rows), and RDD stages have no AQE to
    // coalesce them — running every round at spark.sql.shuffle.partitions
    // turned each tiny round into an M×R block-fetch storm (measured
    // 2–6 task-s PER ROUND on q186's 20k-edge graph at 32 partitions;
    // the whole graph is 0.6 MB). One partition per ~1M edges, capped at
    // the session's shuffle parallelism so a 10^9-edge production graph
    // still uses the full configured width.
    val numParts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      nEdges / 1000000L + 1L)).toInt
    val part = new org.apache.spark.HashPartitioner(numParts)
    val sym = e0.flatMap { case (a, b) =>
        if (a == b) Iterator.empty else Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // node universe includes self-loop-only endpoints (same contract as
    // run); reduceByKey with the SAME partitioner keeps labels
    // co-partitioned with sym from round 0 on
    var labels = e0.flatMap { case (a, b) => Iterator((a, a), (b, b)) }
      .reduceByKey(part, (x, _) => x)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      if (round == escalateAfter) {
        // trip: contract by current labels, finish with the star variant
        // (the star algorithm stays declarative — it runs O(log n) rounds
        // on an ever-shrinking edge set, not the per-round hot path)
        val labDf = labels.toDF("node", "component")
        val symDf = sym.toDF("node", "nbr")
        val labN = labDf.select(col("node"), col("component").as("cu"))
        val labB = labDf.select(col("node").as("nbr"),
          col("component").as("cv"))
        val contracted = symDf.join(labN, "node").join(labB, "nbr")
          .select(col("cu").as("src"), col("cv").as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
        val star = run(contracted, maxRounds)
          .select(col("node").as("lab"), col("component").as("final"))
        sym.unpersist(blocking = false)
        e0.unpersist(blocking = false)
        return labDf.join(star, labDf("component") === star("lab"), "left")
          .select(labDf("node"),
            coalesce(col("final"), labDf("component")).as("component"))
      }
      // pointer-jump fused into the contribution flow (Shiloach–Vishkin
      // style): every edge (u → v) delivers label(u) to v, and per-round
      // jump edges (label(n) → n) deliver label(label(n)) to n, so
      // comp'(n) = min(comp(n), comp(Γ(n)), comp(comp(n))) — measured
      // 13 → 10 rounds on q186's weighted graph vs plain propagation.
      // (A sequential second jump and reverse label edges were both
      // measured and rejected in r16: fewer rounds but more wall, and
      // no round change, respectively.) Labels only ever decrease toward
      // the component min, and a zero-change round implies the plain
      // neighbor-min step was already at its fixpoint — same labels,
      // same gated output as the declarative formulation.
      val jumpEdges = labels.filter(nl => nl._2 != nl._1)
        .map { case (n, l) => (l, n) }
        .partitionBy(part)
      val nbrMin = sym.union(jumpEdges) // same partitioner → narrow union
        .join(labels) // co-partitioned → narrow
        .map { case (_, (dst, lab)) => (dst, lab) }
        .reduceByKey(part, math.min(_: Long, _: Long)) // the one real shuffle
      val chgAcc = spark.sparkContext.longAccumulator
      val next = labels.leftOuterJoin(nbrMin) // co-partitioned → narrow
        .mapValues { case (old, mn) =>
          val nw = math.min(old, mn.getOrElse(old))
          if (nw < old) chgAcc.add(1L)
          nw
        }
      next.localCheckpoint() // truncate lineage: O(1) plan per round
      next.count() // ONE job materializes the round; accumulator = changed
      // (an accumulator can over-count under task retry — worst case one
      // extra no-op round, never a wrong label)
      labels.unpersist(blocking = false)
      labels = next
      changed = chgAcc.value
      round += 1
    }
    // release the pinned edge blocks too (r16 ADVICE): streaming callers
    // invoke this per micro-batch, so leaving e0/sym to the ContextCleaner
    // accumulates MEMORY_AND_DISK blocks across batches. The FINAL labels
    // checkpoint stays persisted — the returned DataFrame reads it.
    sym.unpersist(blocking = false)
    e0.unpersist(blocking = false)
    labels.toDF("node", "component")
  }

  /** edges (src, dst) undirected, any orientation → (node, component)
    * where component = min reachable node id. Nodes appearing only as
    * isolated endpoints of self-loops (or not at all) are omitted —
    * callers union singletons back if they need them. */
  def run(edges: DataFrame, maxRounds: Int = 50)(
      implicit spark: SparkSession): DataFrame = {
    require(maxRounds >= 1, s"run needs maxRounds >= 1, got $maxRounds")
    val nodes = edges.select(col("src").cast("long").as("n"))
      .union(edges.select(col("dst").cast("long").as("n"))).distinct()
      .localCheckpoint(true)
    var e = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint(true)
    var round = 0
    var converged = e.isEmpty
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      // canonical comparison: both sets are deduped; equal size + empty
      // difference ⇒ fixpoint (next ⊆ star edges by construction)
      converged = next.count() == e.count() && next.except(e).isEmpty
      e = next
      round += 1
    }
    // stars: u → center (v); centers label themselves
    val labels = e.select(
        greatest(col("u"), col("v")).as("node"),
        least(col("u"), col("v")).as("component"))
      .groupBy("node").agg(min("component").as("component"))
    nodes
      .join(labels, col("n") === col("node"), "left")
      .select(col("n").as("node"),
        coalesce(col("component"), col("n")).as("component"))
  }
}
