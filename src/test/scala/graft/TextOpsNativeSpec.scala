package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Flatten, Sequence}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.functions.Kernels
import graft.queries.TextOps

/** The native one-pass shingle/minhash kernels must produce EXACTLY the
  * output of the Column-API reference formulation (which is what the DuckDB
  * oracles restate) — set-equal shingles, equal minhash minima, on the real
  * documents table plus hand-picked edge cases. */
class TextOpsNativeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = {
    import spark.implicits._
    (Seq(
      "a b c d e",
      "one two three",
      "x y", // < 3 tokens → no shingles
      "", // empty text
      "a  b   c d", // runs of spaces → empty tokens dropped
      "t t t t t" // all-duplicate shingles → distinct collapses
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
      .union(graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select(col("doc_id") + 1000, col("text")))
  }

  test("shingles3 == slices/zip_with/array_distinct formulation (as sets)") {
    val both = docs.select(
      Kernels.Shingles3(col("text")).as("native"),
      TextOps.shinglesCol(TextOps.tokensCol).as("reference"))
      .select(array_sort(col("native")).as("n"),
        array_sort(col("reference")).as("r"))
    assert(both.filter(not(col("n") <=> col("r"))).count() == 0)
    // non-trivial: the corpus actually produces shingles
    assert(both.filter(size(col("n")) > 0).count() > 50)
  }

  test("tokenCount == size(graft_tokens(text))") {
    import spark.implicits._
    val edge = Seq(" ", "  lead", "trail  ", "é 中文  😀x", "\t tab\tsplit",
      "a\u00a0b c").zipWithIndex.map { case (t, i) => (i.toLong + 500, t) }
      .toDF("doc_id", "text")
    val both = docs.union(edge).select(col("doc_id"),
      TextOps.tokenCountCol.as("native"), size(TextOps.tokensCol).as("reference"))
    val bad = both.filter(not(col("native") <=> col("reference"))).collect()
    assert(bad.isEmpty, bad.mkString("; "))
    assert(both.filter(col("native") > 5).count() > 50) // non-trivial corpus
  }

  /** The most expressions matching `pick` one row meets on its way up
    * the plan: the matches in a node's expressions plus the most on any
    * input path, through adaptive query stages. */
  private def depth(p: SparkPlan)(pick: PartialFunction[Expression, Unit]): Int = {
    val own = p.expressions.map(_.collect(pick).size).sum
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    own + (kids.map(depth(_)(pick)) :+ 0).max
  }

  private def tokenizeDepth(p: SparkPlan): Int =
    depth(p) { case e if Kernels.Tokens.calledBy(e) => }

  test("q105/q115/q116/q118 tokenize each row once: the non-empty " +
      "filter counts tokens instead of re-running graft_tokens") {
    val bad = Seq("q105_bigram_novelty", "q115_paragraph_dedup",
        "q116_quality_classifier", "q118_chunk_overlap").flatMap { q =>
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      assert(df.collect().nonEmpty, q)
      val plan = df.queryExecution.executedPlan
      val depth = tokenizeDepth(plan)
      if (depth == 1) None
      else Some(s"$q: a row meets graft_tokens $depth times:\n$plan")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("q28/q29/q184/q185 run each band kernel once per row: the band " +
      "front end filters on the token count before the kernel projection") {
    val shingles: PartialFunction[Expression, Unit] = {
      case e if Kernels.Shingles3.calledBy(e) => }
    val tf: PartialFunction[Expression, Unit] = {
      case e if Kernels.TokenTf.calledBy(e) => }
    // the multiset expansion, not the pair expansion (no sequence)
    val expansion: PartialFunction[Expression, Unit] = {
      case f: Flatten if f.exists(_.isInstanceOf[Sequence]) => }
    val kernels = Seq(
      "q28_minhash_sig" -> Seq("shingles3" -> shingles),
      "q29_minhash_pairs" -> Seq("shingles3" -> shingles),
      "q59_simhash_pairs" -> Seq("shingles3" -> shingles),
      "q183_oph_minhash" -> Seq("shingles3" -> shingles),
      "q184_weighted_minhash" -> Seq("token_tf" -> tf, "expansion" -> expansion),
      "q185_weighted_pairs" -> Seq("token_tf" -> tf, "expansion" -> expansion))
    // q29/q185 run their kernels inside an eager localCheckpoint, so every
    // plan the query executes is inspected, not only the final one
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val bad = kernels.flatMap { case (q, ks) =>
        plans.clear()
        val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        assert(df.collect().nonEmpty, q)
        Bridge.drainListeners(spark.sparkContext)
        ks.flatMap { case (k, pick) =>
          val d = plans.asScala.map(depth(_)(pick)).max
          if (d == 1) None else Some(s"$q: a row meets $k $d times")
        }
      }
      assert(bad.isEmpty, bad.mkString("\n"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("minhashSig == 8x array_min(transform(md5)) formulation") {
    val base = docs.select(col("doc_id"),
      TextOps.shinglesCol(TextOps.tokensCol).as("sh"))
      .filter(size(col("sh")) > 0)
    val refs = (0 until TextOps.nSig).map(i =>
      TextOps.minhash(col("sh"), i).as(s"r$i"))
    val both = base.select(
      (Kernels.minhashSig(col("sh"), TextOps.nSig).as("sig") +: refs): _*)
    val mismatches = (0 until TextOps.nSig).map(i =>
      both.filter(not(element_at(col("sig"), i + 1) <=> col(s"r$i"))).count())
    assert(mismatches.forall(_ == 0), s"per-seed mismatches: $mismatches")
  }

  test("ophSig == densified one-permutation Column formulation") {
    val base = docs.select(col("doc_id"),
      TextOps.shinglesCol(TextOps.tokensCol).as("sh"))
      .filter(size(col("sh")) > 0)
    val both = base.select(
      Kernels.OphSig(col("sh"), TextOps.nSig).as("native"),
      TextOps.ophSigRef(col("sh"), TextOps.nSig).as("reference"))
    assert(both.filter(not(col("native") <=> col("reference"))).count() == 0)
    assert(both.count() > 50) // non-trivial corpus
  }

  test("ophSig: densification fills every slot; identical docs agree") {
    import spark.implicits._
    // one shingle → one occupied slot, 7 borrowed: all 8 defined and equal
    val one = Seq((1L, Seq("only one shingle"))).toDF("doc_id", "sh")
      .select(Kernels.OphSig(col("sh"), 8).as("sig"))
      .collect().head.getSeq[String](0)
    assert(one.length == 8 && one.toSet.size == 1)
    // same shingle set (any order) → same signature; disjoint → different
    val sigs = Seq(
      (1L, Seq("aa bb cc", "dd ee ff", "gg hh ii")),
      (2L, Seq("gg hh ii", "aa bb cc", "dd ee ff")),
      (3L, Seq("zz yy xx", "ww vv uu", "qq rr ss"))
    ).toDF("doc_id", "sh")
      .select(col("doc_id"), Kernels.OphSig(col("sh"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    // empty shingles → null signature (same contract as minhashSig)
    val nul = Seq((1L, Seq.empty[String])).toDF("doc_id", "sh")
      .select(Kernels.OphSig(col("sh"), 8).as("sig"))
      .collect().head
    assert(nul.isNullAt(0))
  }

  test("simhashBits == md5-nibble majority Column formulation") {
    val base = docs
      .select(col("doc_id"), TextOps.shinglesCol(TextOps.tokensCol).as("sh"))
      .filter(size(col("sh")) > 0)
    val ref = (1 to 32).map { p =>
      (size(filter(col("sh"), x => substring(md5(x), p, 1) >= "8")) * 2 >
        size(col("sh"))).cast("long") * lit(1L << (32 - p))
    }.reduce(_ + _)
    val both = base.select(
      Kernels.SimHashBits(col("sh"), 32).as("n"), ref.as("r"))
    assert(both.filter(col("n") =!= col("r")).count() == 0)
    assert(both.filter(col("n") =!= 0L).count() > 50) // non-trivial sigs
  }

  test("simhashBits 64-bit: hi half == the 32-bit sig, lo half == nibble-bit2 votes") {
    val base = docs
      .select(col("doc_id"), TextOps.shinglesCol(TextOps.tokensCol).as("sh"))
      .filter(size(col("sh")) > 0)
    // lo bit p (MSB first) votes bit 2 of md5 nibble p: hex char 4-7 / c-f
    val loRef = (1 to 32).map { p =>
      (size(filter(col("sh"), x => substring(md5(x), p, 1)
        .isin("4", "5", "6", "7", "c", "d", "e", "f"))) * 2 >
        size(col("sh"))).cast("long") * lit(1L << (32 - p))
    }.reduce(_ + _)
    val both = base.select(
      shiftright(Kernels.SimHashBits(col("sh"), 64), 32)
        .bitwiseAND(lit(0xffffffffL)).as("hi"),
      Kernels.SimHashBits(col("sh"), 64)
        .bitwiseAND(lit(0xffffffffL)).as("lo"),
      Kernels.SimHashBits(col("sh"), 32).as("sig32"),
      loRef.as("loRef"))
    assert(both.filter(col("hi") =!= col("sig32")).count() == 0)
    assert(both.filter(col("lo") =!= col("loRef")).count() == 0)
    assert(both.filter(col("lo") =!= 0L).count() > 50) // non-trivial lo half
  }

  test("tokenTf == groupBy(token).count over exploded tokens") {
    // the kernel's in-row (token, tf) runs must equal the shuffle it
    // deletes: explode(tokens) -> groupBy(doc_id, token).count
    val native = docs
      .select(col("doc_id"), explode(Kernels.TokenTf(col("text"))).as("p"))
      .select(col("doc_id"), col("p.token").as("token"),
        col("p.tf").cast("long").as("tf"))
    val reference = docs
      .select(col("doc_id"), explode(TextOps.tokensCol).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    assert(native.exceptAll(reference).count() == 0)
    assert(reference.exceptAll(native).count() == 0)
    // non-trivial: repeated tokens exist (tf > 1 somewhere)
    assert(native.filter(col("tf") > 1).count() > 0)
  }

  test("spanHashes(n) == md5 over array_distinct(chained zip_with grams)") {
    for (n <- Seq(2, 4, 8)) {
      // the retired Column formulation (q90/q84's pre-kernel shape), kept
      // here as the reference the kernel must match set-for-set
      val toks = TextOps.tokensCol
      val len = size(toks) - (n - 1)
      val joined = (2 to n).foldLeft(slice(toks, lit(1), len)) { (acc, k) =>
        zip_with(acc, slice(toks, lit(k), len),
          (a, b) => concat(a, lit(" "), b))
      }
      val grams = array_distinct(
        when(size(toks) >= n, joined).otherwise(array().cast("array<string>")))
      val both = docs.select(
        array_sort(Kernels.spanHashes(col("text"), n)).as("nat"),
        array_sort(transform(grams, g => md5(g))).as("ref"))
      assert(both.filter(not(col("nat") <=> col("ref"))).count() == 0,
        s"n=$n mismatch")
      assert(both.filter(size(col("nat")) > 0).count() > 50)
    }
  }

  test("spanHashes unicode fuzz: byte-level token scan == Column tokenizer") {
    // the kernel splits tokens on raw 0x20 bytes; multi-byte UTF-8 never
    // contains 0x20, but only ASCII corpora exercised that claim — fuzz
    // with multi-byte chars (2/3/4-byte sequences), runs of spaces, and
    // leading/trailing space
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "aå日🙂z €ß".toCharArray // includes 2-,3-,4-byte chars
    val docs = (0 until 200).map { i =>
      val len = rnd.nextInt(40)
      (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString)
    }.toDF("doc_id", "text")
    val n = 3
    val toks = TextOps.tokensCol
    val len3 = size(toks) - (n - 1)
    val joined = (2 to n).foldLeft(slice(toks, lit(1), len3)) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), len3), (a, b) => concat(a, lit(" "), b))
    }
    val grams = array_distinct(
      when(size(toks) >= n, joined).otherwise(array().cast("array<string>")))
    val both = docs.select(
      array_sort(Kernels.spanHashes(col("text"), n)).as("nat"),
      array_sort(transform(grams, g => md5(g))).as("ref"))
    assert(both.filter(not(col("nat") <=> col("ref"))).count() == 0)
    assert(both.filter(size(col("nat")) > 0).count() > 20) // non-trivial
  }

  test("graft.hash=xxhash64: spanHashes == xxhash64 over distinct grams") {
    spark.conf.set("graft.hash", "xxhash64")
    try {
      for (n <- Seq(2, 4)) {
        val toks = TextOps.tokensCol
        val len = size(toks) - (n - 1)
        val joined = (2 to n).foldLeft(slice(toks, lit(1), len)) { (acc, k) =>
          zip_with(acc, slice(toks, lit(k), len),
            (a, b) => concat(a, lit(" "), b))
        }
        val grams = array_distinct(
          when(size(toks) >= n, joined)
            .otherwise(array().cast("array<string>")))
        val both = docs.select(
          array_sort(Kernels.spanHashes(col("text"), n)).as("native"),
          array_sort(transform(grams, g => xxhash64(g))).as("reference"))
        assert(both.filter(not(col("native") <=> col("reference"))).count() == 0)
        assert(both.filter(size(col("native")) > 0).count() > 50)
      }
      // type flips to array<long> — the 4x-smaller production key
      val dt = docs.select(Kernels.spanHashes(col("text"), 4).as("h"))
        .schema("h").dataType
      assert(dt == org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))
    } finally spark.conf.set("graft.hash", "md5")
  }

  test("graft.hash=xxhash64: minhashSig == array_min(transform(xxhash64))") {
    spark.conf.set("graft.hash", "xxhash64")
    try {
      val base = docs.select(col("doc_id"),
        TextOps.shinglesCol(TextOps.tokensCol).as("sh"))
        .filter(size(col("sh")) > 0)
      val nSig = 8
      val refCols = (0 until nSig).map(i =>
        array_min(transform(col("sh"),
          s => xxhash64(concat(lit(i.toString + "|"), s)))).as(s"r$i"))
      val both = base.withColumn("sig",
        Kernels.minhashSig(col("sh"), nSig))
        .select((0 until nSig).map(i =>
          element_at(col("sig"), i + 1).as(s"n$i")) ++ refCols: _*)
      val mismatch = (0 until nSig).map(i =>
        both.filter(col(s"n$i") =!= col(s"r$i")).count()).sum
      assert(mismatch == 0)
      assert(both.count() > 50)
    } finally spark.conf.set("graft.hash", "md5")
  }

  test("minhashSig of empty shingle set is null") {
    import spark.implicits._
    val r = Seq(Tuple1(Seq.empty[String])).toDF("sh")
      .select(Kernels.minhashSig(col("sh"), 8).as("sig"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("tfIntersect == map_from_entries/aggregate HOF formulation") {
    // every ordered doc pair from the edge-case head of the corpus plus a
    // real-corpus sample: Σ min(tf) from the native kernel must equal the
    // interpreted map-lookup fold it replaced in the q185 verify
    val tf = docs.limit(40).select(col("doc_id"),
      Kernels.TokenTf(col("text")).as("tfs"))
    val pairs = tf.select(col("doc_id").as("a"), col("tfs").as("tf_a"))
      .crossJoin(tf.select(col("doc_id").as("b"), col("tfs").as("tf_b")))
      .filter(col("a") < col("b"))
    val both = pairs
      .withColumn("native",
        Kernels.TfIntersect(col("tf_a"), col("tf_b")))
      .withColumn("mb", map_from_entries(col("tf_b")))
      .withColumn("reference", aggregate(col("tf_a"), lit(0L), (acc, s) =>
        acc + least(s.getField("tf").cast("long"),
          coalesce(element_at(col("mb"), s.getField("token")), lit(0))
            .cast("long"))))
    assert(both.filter(col("native") =!= col("reference")).count() == 0)
    // non-trivial: some pairs actually share tokens, and asymmetric tf
    // pairs exercise the min (not just presence)
    assert(both.filter(col("native") > 0).count() > 5)
    assert(both.filter(col("native") =!= least(size(col("tf_a")),
      size(col("tf_b"))).cast("long")).filter(col("native") > 0).count() > 0)
  }
}
