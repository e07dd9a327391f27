package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import graft.operators.ConnectedComponents

/** large-star/small-star vs a union-find ground truth on fuzzed graphs:
  * correctness must hold for chains (worst diameter), stars, cliques,
  * multi-component mixes, duplicate/reversed edges, and self-loops.
  * `runPropagation` is checked on both of its paths: the one-task
  * union-find that every graph under 1M edges takes (two jobs, no
  * round), and the propagation rounds with their star escalation,
  * reached by a package-private edges-per-partition of 1. */
class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** One labelling call, run under its own job-group key: (labels, jobs
    * the call started, how many of them ran SQL). The propagation rounds
    * and the union-find are RDD jobs; the only SQL the operator runs
    * is the star variant the escalation trip hands the graph to, so a
    * nonzero SQL count means the trip fired. */
  private def traced(call: => DataFrame): (Map[Long, Long], Int, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.cc"
    val (jobs, sql) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) != null) {
          jobs.incrementAndGet()
          if (e.properties.getProperty("spark.sql.execution.id") != null)
            sql.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    val out = try {
      sc.setLocalProperty(key, "1")
      try call finally sc.setLocalProperty(key, null)
    } finally {
      Bridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    (labels(out), jobs.get, sql.get)
  }

  /** The rounds path: an edges-per-partition of 1 sends every non-empty
    * graph to the propagation rounds, which start from identity labels,
    * so round 0 changes a label on any graph with an edge between two
    * distinct nodes. */
  private def rounds(edges: Seq[(Long, Long)], maxRounds: Int = 200,
      escalateAfter: Int = 20): DataFrame = {
    import spark.implicits._
    ConnectedComponents.runPropagation(edges.toDF("src", "dst"),
      maxRounds, escalateAfter, edgesPerPart = 1L)(spark)
  }

  private def check(edges: Seq[(Long, Long)], label: String): Unit = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val want = unionFind(edges)
    val star = labels(ConnectedComponents.run(edges.toDF("src", "dst")))
    assert(star == want, s"$label (star): got=$star want=$want")
    val (uf, jobs, _) =
      traced(ConnectedComponents.runPropagation(edges.toDF("src", "dst")))
    assert(uf == want, s"$label (union-find): got=$uf want=$want")
    assert(jobs == 2, s"$label: the union-find path ran $jobs jobs")
    val roundsDf = rounds(edges)
    // the union-find path returns one partition; the rounds keep theirs
    assert(roundsDf.rdd.getNumPartitions > 1, s"$label: no rounds ran")
    val prop = labels(roundsDf)
    assert(prop == want, s"$label (propagation rounds): got=$prop want=$want")
  }

  test("chain (worst-case diameter), star, clique, two components") {
    check((1L to 40L).sliding(2).map(p => (p(1), p.head)).toSeq, "chain")
    check((2L to 20L).map(i => (1L, i)), "star")
    check((for (i <- 1L to 8L; j <- (i + 1) to 8L) yield (i, j)), "clique")
    check(Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 11L)), "two comps")
  }

  test("duplicates, reversed edges, self-loops") {
    check(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (3L, 4L)), "dups")
    // a self-loop-only endpoint stays in the node universe on both paths
    check(Seq((5L, 5L), (1L, 2L), (7L, 7L), (7L, 7L)), "self-loops")
  }

  test("a graph under 1M edges runs exactly 2 jobs and no propagation " +
      "round") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // a 200-node chain: min-label propagation needs rounds to cross it,
    // the union-find needs none
    val chain = (0L until 199L).map(i => (i + 1, i))
    val (got, jobs, sql) = traced(
      ConnectedComponents.runPropagation(chain.toDF("src", "dst")))
    assert(got == (0L to 199L).map(_ -> 0L).toMap)
    assert(jobs == 2 && sql == 0,
      s"runPropagation ran $jobs jobs ($sql SQL): expected the edge pin " +
        "and the union-find only")
  }

  test("star escalation trips on an adversarial chain and finishes exactly") {
    // 150-node chain (diameter 149) on the rounds path: pointer-jumped
    // propagation about doubles its reach per round, so it is still
    // unconverged at the trip after 5 rounds, and maxRounds=12 could not
    // finish it untripped
    val chain = (0L until 149L).map(i => (i, i + 1))
    val (got, _, sql) =
      traced(rounds(chain, maxRounds = 12, escalateAfter = 5))
    assert(sql > 0, "the star trip must fire on the adversarial chain")
    assert(got == (0L to 149L).map(_ -> 0L).toMap,
      "escalated propagation must finish the chain exactly")
    // mixed shape: a chain plus components that converge BEFORE the trip
    // (their labels are absent from the contracted edges — the coalesce
    // branch) plus a singleton-pair
    val mixed = chain ++ Seq((500L, 501L), (501L, 502L), (900L, 901L))
    val (got2, _, sql2) =
      traced(rounds(mixed, maxRounds = 12, escalateAfter = 5))
    assert(sql2 > 0, "the star trip must fire on the mixed graph")
    val want = (0L to 149L).map(_ -> 0L).toMap ++
      Map(500L -> 500L, 501L -> 500L, 502L -> 500L, 900L -> 900L,
        901L -> 900L)
    assert(got2 == want)
  }

  test("a zero round bound fails loudly instead of returning " +
      "unmaterialized labels") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    Seq(
      () => ConnectedComponents.run(edges, maxRounds = 0),
      () => ConnectedComponents.runPropagation(edges, maxRounds = 0),
      () => ConnectedComponents.runPropagation(edges, escalateAfter = 0)
    ).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(">= 1"), e.getMessage)
    }
    // the smallest legal trip wire trips after round 0 (which moves 2
    // and 3 off their own ids) and still returns the exact labels
    val (got, _, sql) =
      traced(rounds(Seq((1L, 2L), (2L, 3L)), escalateAfter = 1))
    assert(sql > 0, "the star trip must fire after round 0")
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("fuzz: 60 random graphs match union-find (escalation forced)") {
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { i =>
      val n = 2 + rnd.nextInt(30)
      val m = 1 + rnd.nextInt(40)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val want = unionFind(edges)
        val (got, _, sql) = traced(rounds(edges, escalateAfter = 1))
        assert(got == want, s"fuzz-esc#$i: got=$got want=$want")
        // every fuzz edge joins two distinct nodes, so round 0 changes a
        // label and the trip fires on every graph
        assert(sql > 0, s"fuzz-esc#$i: the star trip did not fire")
      }
    }
  }

  test("fuzz: 60 random graphs match union-find") {
    val rnd = new scala.util.Random(42)
    (1 to 60).foreach { i =>
      val n = 2 + rnd.nextInt(30)
      val m = 1 + rnd.nextInt(40)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) check(edges, s"fuzz#$i n=$n m=$m")
    }
  }
}
