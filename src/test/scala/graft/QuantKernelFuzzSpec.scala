package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded-random fuzz of the quantization kernels (Kernels.PqEncode/
  * AdcSum, Kernels.SqEncode/SqDist/SqBytes) against independent
  * plain-Scala mirrors — the TxnAssemblyPropSpec move for the vector
  * hot path. The gated fixtures exercise well-behaved corpora; this
  * drives the CodegenFallback loop bodies through the edges they never
  * see: values below/above the book range (both clamps), zero spans
  * (constant dimensions), zero/255 codes, empty-ish books (a subspace
  * with a single centroid), duplicate centroid distances (the
  * lowest-cluster tie rule), and magnitudes at the top of the
  * quantized grid (|v| ≤ 2^27, so every product in the distance sums
  * stays ≤ 2^54·d ≪ 2^63 — the documented overflow headroom). */
class QuantKernelFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }

  private val rnd = new java.util.Random(20260817L)
  private def rl(bound: Long): Long =
    (rnd.nextDouble() * 2 * bound).toLong - bound

  test("SqEncode/SqDist/SqBytes vs mirrors over 300 adversarial rows") {
    import spark.implicits._
    val d = 16
    // book: mix of normal, zero, and tiny spans; mins across the grid
    val mins = (0 until d).map {
      case j if j % 5 == 4 => 0L
      case _ => rl(1L << 27)
    }
    val spans = (0 until d).map {
      case j if j % 7 == 6 => 0L          // constant dimension
      case j if j % 7 == 5 => 1L          // 1-step span
      case _ => math.abs(rl(1L << 27)) + 1L
    }
    val vecs = (0 until 300).map { i =>
      (i.toLong, (0 until d).map { j =>
        rnd.nextInt(5) match {
          case 0 => mins(j) - math.abs(rl(1L << 20))      // below range
          case 1 => mins(j) + spans(j) + math.abs(rl(1L << 20)) // above
          case 2 => mins(j)                                // exactly min
          case 3 => mins(j) + spans(j)                     // exactly max
          case _ => mins(j) + (math.abs(rl(1L << 30)) % (spans(j) + 1))
        }
      })
    }
    def encode(v: Seq[Long]): Seq[Int] =
      (0 until d).map { j =>
        if (spans(j) <= 0L || v(j) <= mins(j)) 0
        else math.min(255L, (v(j) - mins(j)) * 255L / spans(j)).toInt
      }
    def dist(q: Seq[Long], c: Seq[Int]): Long =
      (0 until d).map { j =>
        val recon = mins(j) + c(j).toLong * spans(j) / 255L
        val diff = q(j) - recon
        diff * diff
      }.sum
    val bookDf = Seq(Tuple1((0 until d).map(j => (mins(j), spans(j)))))
      .toDF("raw")
      .select(transform(col("raw"), b => struct(b.getField("_1").as("mn"),
        b.getField("_2").as("sc"))).as("book"))
    // every query row scored against every vector's codes: the codes of
    // row i, the query values of row (i+7) mod n — a fixed derangement
    // so dist sees codes THAT ARE NOT the query's own
    val n = vecs.size
    val got = vecs.toDF("vec_id", "q")
      .crossJoin(broadcast(bookDf))
      .select(col("vec_id"),
        graft.functions.Kernels.SqBytes(
          graft.functions.Kernels.SqEncode(col("q"), col("book")))
          .as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == encode(v), s"SqEncode mismatch at row $id")
    }
    val qtDf = vecs.toDF("vec_id", "q")
      .crossJoin(broadcast(bookDf))
      .select(col("vec_id"),
        zip_with(col("q"), col("book"), (x, b) => struct(x.as("qv"),
          b.getField("mn").as("mn"), b.getField("sc").as("sc"))).as("qt"))
    val codesDf = vecs.map { case (id, v) =>
      ((id + 7) % n, encode(v).map(_.toByte).toArray) }
      .toDF("vec_id", "codes")
    val gotD = qtDf.join(codesDf, "vec_id")
      .select(col("vec_id"),
        graft.functions.Kernels.SqDist(col("codes"), col("qt")).as("sd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, q) =>
      val owner = vecs(((id - 7 + n) % n).toInt)._2
      assert(gotD(id) == dist(q, encode(owner)),
        s"SqDist mismatch at row $id")
    }
  }

  test("PqEncode/AdcSum vs mirrors incl. the lowest-cluster tie rule") {
    import spark.implicits._
    val m = 4; val subDim = 8; val d = m * subDim
    // per-subspace codebooks with DELIBERATE duplicate centroids (tie
    // fodder) and one subspace with a single centroid
    val book: Seq[(Int, Int, Seq[Long])] =
      (0 until m).flatMap { mi =>
        val nc = if (mi == 3) 1 else 4
        val cents = (0 until nc).map { ci =>
          if (ci == 2) (0 until subDim).map(j => (mi * 100 + j).toLong)
          else (0 until subDim).map(_ => rl(1L << 20))
        }
        // duplicate centroid 0 as centroid 3 where present → any vector
        // equidistant to both must code to the LOWER cluster id
        val withDup = cents.zipWithIndex.map {
          case (_, 3) => cents(0)
          case (c, _) => c
        }
        withDup.zipWithIndex.map { case (c, ci) => (mi, ci, c) }
      }
    def encode(q: Seq[Long]): Seq[Int] =
      (0 until m).map { mi =>
        val cands = book.filter(_._1 == mi)
        var best = Long.MaxValue; var bestC = -1
        cands.foreach { case (_, ci, cent) =>
          val dd = (0 until subDim).map { j =>
            val diff = q(mi * subDim + j) - cent(j); diff * diff }.sum
          if (dd < best) { best = dd; bestC = ci }
        }
        bestC
      }
    val vecs = (0 until 200).map { i =>
      (i.toLong, (0 until d).map { _ => rl(1L << 20) })
    } ++ book.filter(_._1 == 0).map { case (_, ci, cent) =>
      // exact-centroid rows: dist 0 to their own centroid (and its dup)
      (1000L + ci, cent ++ (subDim until d).map(_ => 0L))
    }
    val bookDf = Seq(Tuple1(book)).toDF("cents")
    val got = vecs.toDF("vec_id", "q")
      .crossJoin(broadcast(bookDf))
      .select(col("vec_id"), graft.functions.Kernels
        .PqEncode(col("q"), col("cents"), m, subDim).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == encode(v), s"PqEncode mismatch at row $id")
    }
    // AdcSum: random distance tables (incl. entries for codes the
    // candidate does NOT hold, which must not contribute)
    val dtable: Seq[(Int, Int, Long)] = (0 until m).flatMap(mi =>
      (0 until 4).map(ci => (mi, ci, math.abs(rl(1L << 40)))))
    def adc(codes: Seq[Int]): Long =
      dtable.collect { case (mi, ci, dd) if codes(mi) == ci => dd }.sum
    val dtDf = Seq(Tuple1(dtable)).toDF("dtable")
    val gotA = vecs.toDF("vec_id", "q")
      .crossJoin(broadcast(bookDf))
      .select(col("vec_id"), graft.functions.Kernels
        .PqEncode(col("q"), col("cents"), m, subDim).as("codes"))
      .crossJoin(broadcast(dtDf))
      .select(col("vec_id"), graft.functions.Kernels
        .AdcSum(col("codes"), col("dtable"), m).as("a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      assert(gotA(id) == adc(encode(v)), s"AdcSum mismatch at row $id")
    }
  }
}
