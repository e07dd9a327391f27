package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Job budget of the curation path: the Spark jobs one run of a query
  * starts — its build `fn(spark, dir)` (eager side jobs: checkpoints,
  * collected artifacts, the components' edge pin and union-find) plus the
  * `collect` of its result — counted by [[Bench.Meter]] at sf0.001. At
  * this scale each job is mostly fixed scheduling cost, so a job added
  * here is a regression with a number on it. Allowances are the current
  * measured counts (AQE stage materializations included; a `[sql]` job
  * each), not aspirations: tightening one is a win, and an allowance may
  * only fall. */
class BuildJobBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private val lsh = "LSH verified pairs (band and shingle checkpoints " +
    "with their AQE stages: 6)"
  private val cc = "components edge pin + union-find (2)"
  // (query, (max jobs of build + collect, where they go))
  private val allowances: Map[String, (Int, String)] = Map(
    "q46_dedup_clusters"        -> (9, s"$lsh + $cc + the label collect (1)"),
    "q80_dedup_apply"           -> (12, s"$lsh + $cc + the anti-join's stages at collect (4)"),
    "q125_importance_resample"  -> (5, "DSIR bucket-count collect (3) + the top-k collect (2)"),
    "q136_curation_e2e"         -> (18, s"exact-dedup checkpoint (3) + $lsh + $cc + the near-dup anti-join into the quality checkpoint (4) + DSIR bucket-count collect (2) + the top-k/manifest collect (1)"),
    "q186_weighted_dedup_apply" -> (11, s"weighted verified pairs (5) + $cc + the anti-join's stages at collect (4)")
  )

  test("curation-path queries start no more jobs than their allowance") {
    // Tables.load is memoized per session: no row pays the one-time
    // parquet schema job, whichever suite loaded the table first
    core.Tables.load(spark, sf, "documents")
    val meter = new Bench.Meter(spark)
    try {
      allowances.keys.toSeq.sorted.foreach(q =>
        meter.time(q, 1, _.collect())(SparkEntry.queries(q)(spark, sf)))
      meter.drain()
      assert(meter.failed.isEmpty, meter.failed.mkString("; "))
      val jobs = allowances.keys.map(q => q -> meter.layers(q).jobs).toMap
      val over = allowances.toSeq.sortBy(_._1).collect {
        case (q, (max, _)) if jobs(q) > max => s"$q: ${jobs(q)} jobs > $max"
      }
      assert(over.isEmpty, over.mkString("; ") + s"\nmeasured: $jobs")
    } finally meter.close()
  }
}
