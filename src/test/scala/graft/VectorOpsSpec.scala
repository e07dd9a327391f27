package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import graft.queries.VectorOps

/** Semantic pins for the embedding pack beyond the DuckDB gate. */
class VectorOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("q91: matches a plain-Scala Lloyd iteration exactly (integer space)") {
    // Brute-force re-implementation: quantize → assign → floored-mean
    // update → assign, all in BIGINT arithmetic, ties to lowest cluster.
    val raw = graft.core.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    // Spark/DuckDB round() is half-AWAY-FROM-ZERO; Math.round is
    // floor(x+0.5) — they differ on negative .5 ties, so mirror Spark.
    val q = raw.map { case (id, v) =>
      id -> v.map(x => BigDecimal(x.toDouble * 1048576.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(cents: Map[Int, Array[Long]]) = q.map { case (id, v) =>
      id -> cents.toSeq.sortBy(_._1)
        .minBy { case (c, cent) => (d2(v, cent), c) }._1
    }.toMap
    val c0 = q.filter(_._1 < 8).map { case (id, v) => id.toInt -> v }.toMap
    val a1 = assign(c0)
    val c1 = a1.groupBy(_._2).map { case (c, members) =>
      val vs = members.keys.map(id => q(id.toInt)._2).toSeq
      c -> Array.tabulate(64) { d =>
        math.floor(vs.map(_(d)).sum.toDouble / vs.size).toLong
      }
    }
    val expected = assign(c1)
    val expectedDist = q.map { case (id, v) =>
      id -> c1.toSeq.sortBy(_._1)
        .map { case (_, cent) => d2(v, cent) }.min
    }.toMap

    val got = VectorOps.defs("q91_kmeans")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got.size == q.length)
    q.foreach { case (id, _) =>
      assert(got(id)._1 == expected(id), s"cluster mismatch for vec $id")
      assert(got(id)._2 == expectedDist(id), s"dist2 mismatch for vec $id")
    }
    // every seed cluster survives on this corpus (no empty-cluster drop)
    assert(got.values.map(_._1).toSet == (0 until 8).toSet)
  }

  test("q91: duplicate seed empties a cluster; later pass uses survivors") {
    import spark.implicits._
    // seeds 6 and 7 are identical → every point ties to the LOWER id (6),
    // cluster 7 gets no members, its centroid drops from the update, and
    // the second assignment runs over the surviving 7 centroids.
    val vecs: Seq[(Long, Array[Float])] =
      (0 until 6).map(i => i.toLong -> Array.tabulate(4)(d =>
        (10f * i + d))) ++
        Seq(6L -> Array(99f, 99f, 99f, 99f), 7L -> Array(99f, 99f, 99f, 99f)) ++
        (8 until 20).map(i => i.toLong -> Array.tabulate(4)(d =>
          (10f * (i % 6) + d + 0.25f)))
    val dir = java.nio.file.Files.createTempDirectory("q91edge").toString
    vecs.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = VectorOps.defs("q91_kmeans")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == vecs.size)
    assert(!got.values.exists(_ == 7), "cluster 7 must be empty")
    assert(got(6L) == 6 && got(7L) == 6) // the duplicate pair lands in 6
    // brute-force mirror with dynamic k
    val q = vecs.map { case (id, v) => id -> v.map(x =>
      BigDecimal(x.toDouble * 1048576.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong) }.toMap
    def d2(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(cents: Map[Int, Array[Long]]) = q.map { case (id, v) =>
      id -> cents.toSeq.sortBy(_._1)
        .minBy { case (c, cent) => (d2(v, cent), c) }._1
    }
    val a1 = assign((0 until 8).map(i => i -> q(i.toLong)).toMap)
    val c1 = a1.groupBy(_._2).map { case (c, ms) =>
      val vs = ms.keys.map(q).toSeq
      c -> Array.tabulate(4)(d =>
        math.floor(vs.map(_(d)).sum.toDouble / vs.size).toLong)
    }
    assert(got == assign(c1).map { case (k, v) => k -> v })
  }

  test("q104: matches a plain-Scala PQ pipeline exactly (integer space)") {
    val raw = graft.core.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    val q = raw.map { case (id, v) =>
      id -> v.map(x => BigDecimal(x.toDouble * 1048576.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }.toMap
    def sub(v: Array[Long], m: Int): Array[Long] =
      v.slice(m * 16, (m + 1) * 16)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(cents: Map[(Int, Int), Array[Long]]) =
      q.flatMap { case (id, v) => (0 until 4).map { m =>
        (id, m) -> cents.collect { case ((`m`, c), cent) => c -> cent }
          .toSeq.sortBy(_._1)
          .minBy { case (c, cent) => (d2(sub(v, m), cent), c) }._1
      }}
    val c0: Map[(Int, Int), Array[Long]] =
      (for (c <- 0 until 8; m <- 0 until 4)
        yield (m, c) -> sub(q(c.toLong), m)).toMap
    val a0 = assign(c0)
    // floor(sum/n) update — Math.floorDiv is the exact integer floor
    val c1 = a0.groupBy { case ((_, m), c) => (m, c) }
      .map { case ((m, c), members) =>
        val vs = members.keys.map { case (id, _) => sub(q(id), m) }.toSeq
        (m, c) -> Array.tabulate(16)(d =>
          Math.floorDiv(vs.map(_(d)).sum, vs.size.toLong))
      }
    val codes = assign(c1)
    val dtables = q.filter(_._1 < 10).map { case (qid, v) =>
      qid -> c1.map { case ((m, c), cent) => (m, c) -> d2(sub(v, m), cent) }
    }
    val expected = dtables.flatMap { case (qid, dt) =>
      q.keys.filter(_ != qid).toSeq
        .map { cid =>
          (cid, (0 until 4).map(m => dt((m, codes((cid, m))))).sum) }
        .sortBy { case (cid, d) => (d, cid) }.take(3).zipWithIndex
        .map { case ((cid, d), i) => (qid, cid, i + 1, d) }
    }.toSet

    val got = VectorOps.defs("q104_ann_pq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got == expected)
    assert(got.size == 30) // 10 queries × top-3
  }

  test("PqNative kernels == the Column-HOF reference formulation") {
    import org.apache.spark.sql.functions._
    import graft.functions.{Kernels, PqNative}
    val e = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1048576.0).cast("long")).as("q"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cluster"), col("q"))
      .select(explode(sequence(lit(0), lit(3))).as("m"), col("cluster"),
        slice(col("q"), col("m") * 16 + 1, lit(16)).as("cent"))
      .groupBy().agg(array_sort(collect_list(
        struct(col("m"), col("cluster"), col("cent")))).as("cents"))
    val both = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        Kernels.PqEncode(col("q"), col("cents"), PqNative.M,
          PqNative.SubDim).as("native"),
        VectorOps.pqEncodeRef(col("q"), col("cents")).as("ref"))
    assert(both.filter(col("native") =!= col("ref")).count() == 0)
    // AdcSum == the fold over a synthetic dtable derived from the packed
    // codebook (every (m, cluster) present exactly once)
    val withD = both.crossJoin(broadcast(cents))
      .withColumn("dtable", transform(col("cents"), cs => struct(
        cs.getField("m").as("m"), cs.getField("cluster").as("cluster"),
        (cs.getField("m").cast("long") * 1000 +
          cs.getField("cluster").cast("long")).as("d"))))
      .select(col("vec_id"),
        Kernels.AdcSum(col("native"), col("dtable"), PqNative.M).as("fast"),
        aggregate(sequence(lit(0), lit(3)), lit(0L), (acc, m) =>
          acc + element_at(filter(col("dtable"), tb =>
            tb.getField("m") === m &&
              tb.getField("cluster") === element_at(col("native"), m + 1)),
            1).getField("d")).as("slow"))
    assert(withD.filter(col("fast") =!= col("slow")).count() == 0)
    // NearestCent == the HOF argmin fold over a (cluster, cent) pack
    val kpack = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cluster"), col("q").as("cent"))
      .groupBy().agg(array_sort(collect_list(
        struct(col("cluster"), col("cent")))).as("kc"))
    val near = e.crossJoin(broadcast(kpack))
      .select(col("vec_id"),
        Kernels.NearestCent(col("q"), col("kc")).as("fast"),
        VectorOps.nearestRef(col("q"), col("kc")).as("ref"))
    assert(near.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("q92: chain structure — first of each cluster keeps, dups have prev") {
    val rows = VectorOps.defs("q92_semantic_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
    assert(rows.length == 500)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (_, ms) =>
      val sorted = ms.sortBy(_._1)
      // first member of the chain has no predecessor and is never a dup
      assert(sorted.head._3.isEmpty && sorted.head._4 == 0L)
      // every later member's prev_id is exactly the previous vec_id
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3.contains(a._1))
        case _ =>
      }
    }
    // the threshold is non-trivial on this corpus: some dups, not all
    val nDup = rows.count(_._4 == 1L)
    assert(nDup > 0 && nDup < rows.length)
  }

  test("q146: matches a plain-Scala 3-NN majority vote exactly") {
    val all = graft.core.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    // mirror the CosineSimilarity kernel: one fused loop, double accum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val seeds = all.filter(_._1 % 5 == 0)
    val expect = all.filter(_._1 % 5 != 0).map { case (id, emb, _) =>
      val top3 = seeds.map(s => (s._1, s._3, cos(emb, s._2)))
        .sortBy(s => (-s._3, s._1)).take(3)
      val (label, votes) = top3.groupBy(_._2).view
        .mapValues(_.length).toSeq
        .sortBy { case (l, n) => (-n, l) }.head
      (id, label, votes)
    }.toSet
    val got = VectorOps.defs("q146_label_propagation")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == expect)
    assert(got.size == all.length - seeds.length)
    got.foreach { case (_, _, v) => assert(v >= 1 && v <= 3) }
  }

  // ---- q205 moment pass: the native vec_moments aggregate ----------------

  /** Quantized (vec_id, q) frame from the fixture embeddings. */
  private def quantized(parts: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.core.Tables.load(spark, sf, "embeddings")
      .repartition(parts)
      .select(col("vec_id"), transform(col("embedding"),
        x => round(x.cast("double") * 1048576.0).cast("long")).as("q"))
  }

  test("vec_moments: equals driver-computed sums, partition-invariant") {
    import org.apache.spark.sql.functions.col
    val rows = quantized(1).collect()
      .map(r => r.getSeq[Long](1).toArray)
    val d = 64
    val expect = new Array[Long](1 + d + d * (d + 1) / 2)
    rows.foreach { q =>
      expect(0) += 1
      var k = 1 + d
      for (i <- 0 until d) {
        expect(1 + i) += q(i)
        for (j <- i until d) { expect(k) += q(i) * q(j); k += 1 }
      }
    }
    for (parts <- Seq(1, 7)) {
      val got = quantized(parts)
        .agg(graft.functions.VecMoments(col("q"), d).as("m"))
        .head().getSeq[Long](0).toArray
      assert(got.sameElements(expect), s"parts=$parts")
    }
  }

  test("vec_moments: null vectors are skipped, not counted") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq.fill(64)(2L))),
      (2L, None),
      (3L, Some(Seq.fill(64)(3L)))
    ).toDF("vec_id", "q")
    val got = df.agg(graft.functions.VecMoments(col("q"), 64).as("m"))
      .head().getSeq[Long](0)
    assert(got(0) == 2L, "count must skip the null row")
    assert(got(1) == 5L && got(64) == 5L, "sums over non-null rows only")
    assert(got(65) == 13L, "sum q0*q0 = 4 + 9")
  }

  test("pcaLoadings: empty frame returns zero means without NPE") {
    val empty = quantized(1).filter("vec_id < 0")
    val (ms, v) = VectorOps.pcaLoadings(empty)
    assert(ms.forall(_ == 0L) && v.forall(_ == 1048576L))
  }

  test("pcaScale: tier switch at the 2e6 moment-exactness boundary") {
    assert(VectorOps.pcaScale(0L) == 1048576L)
    assert(VectorOps.pcaScale(VectorOps.PcaTier1MaxRows) == 1048576L)
    assert(VectorOps.pcaScale(VectorOps.PcaTier1MaxRows + 1) == 16384L)
    // the boundary is arithmetic, not empirical: at 2^20 quantization and
    // the |x| <= 2 envelope, one second-moment cell sums n products each
    // <= (2*2^20)^2, so n just past the tier-1 threshold could exceed 2^63
    val cellBound = BigInt(VectorOps.PcaTier1MaxRows) *
      BigInt(2L * 1048576L).pow(2)
    assert(cellBound <= BigInt(Long.MaxValue),
      "tier-1 threshold must keep the worst-case cell in range")
    assert(cellBound * 4 > BigInt(Long.MaxValue),
      "threshold is within 4x of the exact envelope bound (not slack)")
    // tier 2 keeps the same envelope exact to n < 2^33 ≈ 8.59e9 rows
    assert((BigInt(2).pow(33) - 1) * BigInt(2L * 16384L).pow(2) <=
      BigInt(Long.MaxValue))
  }

  test("powerIterate: tier-1 path (g=1) is the exact unguarded loop") {
    val d = 64
    val sc = 1048576L
    val rnd = new scala.util.Random(42)
    // small symmetric matrix: guard must not engage
    val cs = new Array[Long](d * d)
    for (i <- 0 until d; j <- i until d) {
      val c = rnd.nextInt(1 << 20).toLong - (1 << 19)
      cs(i * d + j) = c; cs(j * d + i) = c
    }
    var v = Array.fill(d)(sc)
    for (_ <- 1 to 12) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => cs(i * d + j) * v(j)).sum)
      val dd = w.map(math.abs).max / sc + 1
      v = w.map(Math.floorDiv(_, dd))
    }
    assert(VectorOps.powerIterate(cs, d, sc).sameElements(v))
  }

  test("powerIterate: overflow guard keeps a near-MaxValue matrix exact") {
    val d = 64
    val sc = 1048576L
    val rnd = new scala.util.Random(7)
    // covariance entries near Long.MaxValue/2: d*max|cs|*sc would wrap
    // a Long by ~2^26 — the guard must pre-shrink
    val base = Long.MaxValue / 2
    val cs = new Array[Long](d * d)
    for (i <- 0 until d; j <- i until d) {
      val c = base - rnd.nextLong(base / 4)
      cs(i * d + j) = c; cs(j * d + i) = c
    }
    val got = VectorOps.powerIterate(cs, d, sc)
    // BigInt reference of the same renorm loop on the UNSCALED matrix —
    // cannot wrap; the guarded Long result must point the same way
    var v = Array.fill(d)(BigInt(sc))
    for (_ <- 1 to 12) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => BigInt(cs(i * d + j)) * v(j)).sum)
      val dd = w.map(_.abs).max / sc + 1
      v = w.map(x => (x - (((x % dd) + dd) % dd)) / dd)
    }
    def cosB(a: Array[Long], b: Array[BigInt]): Double = {
      val dot = (0 until d).map(i => BigInt(a(i)) * b(i)).sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot.toDouble / (na * nb)
    }
    assert(cosB(got, v) > 0.9999,
      s"guarded direction diverged: cos=${cosB(got, v)}")
    // and the UNGUARDED Long loop demonstrably wraps on this input
    var vu = Array.fill(d)(sc)
    val w1 = Array.tabulate(d)(i =>
      (0 until d).map(j => cs(i * d + j) * vu(j)).sum)
    assert(w1.exists(_ < 0L), "fixture must actually overflow unguarded")
  }
}
