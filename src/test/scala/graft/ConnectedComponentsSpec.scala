package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.operators.ConnectedComponents

/** large-star/small-star vs a union-find ground truth on fuzzed graphs:
  * correctness must hold for chains (worst diameter), stars, cliques,
  * multi-component mixes, duplicate/reversed edges, and self-loops. */
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

  private def check(edges: Seq[(Long, Long)], label: String): Unit = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val want = unionFind(edges)
    val star = ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == want, s"$label (star): got=$star want=$want")
    val prop = ConnectedComponents.runPropagation(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prop == want, s"$label (propagation): got=$prop want=$want")
  }

  test("chain (worst-case diameter), star, clique, two components") {
    check((1L to 40L).sliding(2).map(p => (p(1), p.head)).toSeq, "chain")
    check((2L to 20L).map(i => (1L, i)), "star")
    check((for (i <- 1L to 8L; j <- (i + 1) to 8L) yield (i, j)), "clique")
    check(Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 11L)), "two comps")
  }

  test("duplicates, reversed edges, self-loops") {
    check(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (3L, 4L)), "dups")
  }

  test("star escalation trips on an adversarial chain and finishes exactly") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // 150-node chain (diameter 149): propagation alone moves the min one
    // hop per round, so maxRounds=12 WITHOUT escalation could never
    // converge — exact labels prove the trip fired AND composed correctly
    val chain = (0L until 149L).map(i => (i, i + 1))
    val got = ConnectedComponents.runPropagation(chain.toDF("src", "dst"),
        maxRounds = 12, escalateAfter = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 149L).map(_ -> 0L).toMap,
      "escalated propagation must finish the chain exactly")
    // mixed shape: a chain plus components that converge BEFORE the trip
    // (their labels are absent from the contracted edges — the coalesce
    // branch) plus a singleton-pair
    val mixed = chain ++ Seq((500L, 501L), (501L, 502L), (900L, 901L))
    val got2 = ConnectedComponents.runPropagation(mixed.toDF("src", "dst"),
        maxRounds = 12, escalateAfter = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
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
    // the smallest legal trip wire still returns the exact labels
    assert(ConnectedComponents.runPropagation(edges, escalateAfter = 1)
        .as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("fuzz: 60 random graphs match union-find (escalation forced)") {
    val rnd = new scala.util.Random(7)
    implicit val s: SparkSession = spark
    import s.implicits._
    (1 to 20).foreach { i =>
      val n = 2 + rnd.nextInt(30)
      val m = 1 + rnd.nextInt(40)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val want = unionFind(edges)
        val got = ConnectedComponents.runPropagation(
            edges.toDF("src", "dst"), escalateAfter = 1)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"fuzz-esc#$i: got=$got want=$want")
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
