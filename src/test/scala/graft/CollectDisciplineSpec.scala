package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Driver-collect discipline (the r6 finding-2 gate): every `.collect()`
  * in main source must be a BOUNDED artifact — a 1-row scalar, a
  * fixed-size model (codebook, 256-bucket DSIR counts, 9 thresholds), or
  * a set semi-joined down to a bounded key space BEFORE collection. A
  * vocabulary-sized collect (Heaps'-law unbounded on a web corpus — the
  * r6 q55/q109/q134 defect) must never reappear.
  *
  * Enforced as a per-file allowlist with justifications: adding a
  * `.collect()` anywhere fails this spec until the new site is reviewed
  * and its bound written down here.
  */
class CollectDisciplineSpec extends AnyFunSuite {

  // file -> (allowed .collect() count, why each is bounded)
  private val allowed: Map[String, (Int, String)] = Map(
    "cdc/Dictionary.scala" -> (7,
      "dictionary bootstrap: catalog tables are schema-sized by design " +
        "(r11 adds the storage catalogs - partition maps, LOB segments, " +
        "and the LOB column-name resolve - all schema metadata, " +
        "#partitions + #lob-columns rows, never fact-sized)"),
    "examples/BatchReplay.scala" -> (1, "example printout, not an operator"),
    "examples/MigrateFromOlr.scala" -> (1,
      "example printout, not an operator"),
    "examples/ServeDemo.scala" -> (1,
      "demo feed materialized to drive the loopback servers, not an operator"),
    "queries/AnalyticsOps.scala" -> (1,
      "q151 per-partition token totals: <= spark.sql.shuffle.partitions " +
        "rows (a partition-count artifact for the distributed prefix-sum " +
        "offsets, never corpus-sized)"),
    "queries/CdcOps.scala" -> (2,
      "q103 ADAPTIVE_SCHEMA learn: one row per UNKNOWN obj (schema-sized, " +
        "the dictionary-bootstrap class); q172 rename stream: <= 100 rows " +
        "by two-sided filter (event_id % 97 = 0 AND < 9700)"),
    "queries/CurationOps.scala" -> (1,
      "q115 repeated-paragraph hash set: bounded by duplicated boilerplate"),
    "streaming/Pipeline.scala" -> (1,
      "streamWithEvolution per-batch system-DML fold: committed " +
        "dictionary-table rows only (a DDL touches a handful of catalog " +
        "rows - schema-sized, the dictionary-bootstrap class)"),
    "queries/SelectionOps.scala" -> (4,
      "q119 prunedTopK TakeOrdered collect (LmTopK-bounded at any " +
        "corpus, skewed-fixture spec-pinned) + q119 V scalar + q182 V " +
        "scalar (same 1-row agg; its KN maps reuse prunedTopK) + DSIR " +
        "256-bucket counts"),
    "queries/TextOps.scala" -> (3,
      "q101 KB-sized bloom-filter bytes (bounded by its 10k-item/80k-bit " +
        "build args) + q109 1-row N/avgdl scalar + q109 query-term df " +
        "rows (semi-joined to the <=10 query docs BEFORE collect)"),
    "queries/TrainOps.scala" -> (5,
      "q123 argmax 1-row + corpus-size scalar + q142 unigram vocab " +
        "(alphabet rows + a LIMIT-128 TakeOrdered — bounded by " +
        "construction at any corpus scale, unlike the q134 raw vocab) " +
        "+ q208 piece inventory (LIMIT-64 TakeOrdered, the BPE-codebook " +
        "class)"),
    "streaming/VecHealth.scala" -> (2,
      "fit's 1-row projection bounds + the <=16-row bin histogram " +
        "(binCounts — the metrics-model class, never corpus-sized)"),
    "streaming/CorpusHealth.scala" -> (1,
      "per-micro-batch health snapshot handed to the driver callback: " +
        "ONE row of 5 scalars (the metrics-sink class), never corpus-sized"),
    "operators/SuffixArray.scala" -> (1,
      "denseRankInPlace per-partition rank-class counts: <= " +
        "spark.sql.shuffle.partitions rows (the q151 distributed " +
        "prefix-sum offsets class, never corpus-sized)"),
    "operators/IvfIndex.scala" -> (5,
      "IVF build seed fetch: k rows via TakeOrdered (k*d values — the " +
        "same packed-centroid class as the k-means codebook), reused for " +
        "both the _cents write and the assignment broadcast; the Lloyd " +
        "refinement round's updated-centroid fetch (k rows of k*d cells " +
        "— the distributed agg reduces the corpus BEFORE the collect); " +
        "pqTrainCodebook's trained 32-row codebook (the production " +
        "ship-the-codebook artifact, shared with q104) and the 1-row " +
        "packed PQ book pqAttach persists; and sqAttach's 1-row packed " +
        "per-dim (min, span) book (d pairs, a dimension artifact reduced " +
        "distributed); the persisted books are read back through " +
        "core/SessionMemo.scala"),
    "core/SessionMemo.scala" -> (1,
      "the one read-through of a warehouse-scope one-row table (the " +
        "packed _cents, _pqbook and _sqbook rows): one row by construction")
  )

  test("main-source .collect() sites stay on the bounded allowlist") {
    val root = Paths.get("src/main/scala/graft")
    // match the method call directly — a filterNot on collect_list lines
    // would let `.agg(collect_list(x)).collect()` (exactly the class this
    // gate blocks) slip through on one line
    val collectCall = raw"\.collect\(\)".r
    val walk = Files.walk(root)
    val found =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .map { p =>
          root.relativize(p).toString ->
            collectCall.findAllIn(Files.readString(p)).length
        }
        .filter(_._2 > 0)
        .toMap
      finally walk.close()
    val over = found.collect {
      case (f, n) if n > allowed.get(f).map(_._1).getOrElse(0) =>
        s"$f: $n collects > allowed ${allowed.get(f).map(_._1).getOrElse(0)}" +
          " - review the new site's bound and update CollectDisciplineSpec"
    }
    assert(over.isEmpty, over.mkString("; "))
    // stale allowlist rows rot the gate: tighten when a collect is removed
    val stale = allowed.collect {
      case (f, (n, _)) if found.getOrElse(f, 0) < n =>
        s"$f: allowlist says $n but source has ${found.getOrElse(f, 0)}"
    }
    assert(stale.isEmpty, stale.mkString("; "))
  }

  test("no full-vocabulary broadcast hints in the token-join paths") {
    // the r6 q134 defect class: a broadcast() hint on a frame keyed by
    // corpus tokens bypasses autoBroadcastJoinThreshold and turns an
    // unbounded vocab into a forced driver/executor OOM at scale. Vocab
    // joins must stay hint-free (AQE decides) — named dimension frames
    // here are the greps that caught r6's offenders.
    for (f <- Seq("queries/TextOps.scala", "queries/TrainOps.scala")) {
      val src = Files.readString(Paths.get("src/main/scala/graft", f))
      assert(!src.contains("broadcast(vocab"),
        s"$f: broadcast hint on a vocabulary frame")
      assert(!src.contains("broadcast(dfDim"),
        s"$f: broadcast hint on the token-df frame")
    }
  }

  // file -> (allowed broadcast() hint count, why each hinted frame is
  // bounded by construction). The r7 advisor caught q167 broadcasting a
  // `vec_id % 25` anchor set — 4% of the corpus, linear in data volume —
  // in VectorOps, OUTSIDE the r6 lint's two-file scope. This gate makes
  // every forced broadcast in main source a reviewed decision: adding a
  // hint anywhere fails the suite until its bound is written down here.
  private val broadcastAllowed: Map[String, (Int, String)] = Map(
    "cdc/Materialize.scala" -> (1, "dictionary dim (schema-sized)"),
    "operators/IvfIndex.scala" -> (19,
      "IVF centroid codebook (k rows) at write/append/match sites, the " +
        "Lloyd-round assignment codebook (same k-row frame per " +
        "refinement pass), and the matchIncrement excludeIds anti side " +
        "(ingest-batch-sized: the replaying batch's own ids); the PQ " +
        "family: pqTrainCodebook's 1-row seed book, pqAttach's " +
        "residual cents, the 1-row book over every codes encode (attach " +
        "and the frozen-book append/heal), the probed-cell cents shared " +
        "by that append and the ADC query side, the query side's 1-row " +
        "book (codes are STORED, no candidate-side encode broadcast), " +
        "and adcScores' excludeIds " +
        "anti side (ingest-batch-sized — the replay-guard class); the " +
        "SQ family: sqAttach's 1-row book over its encode scan and " +
        "sqTopK's cents, book and query side (delta x nProbe rows); the " +
        "meta family: metaAttach's packed cents (k*d); and the " +
        "filtered serves (q230/q231): filteredAdcTopK's query side " +
        "(delta x nProbe rows + its label frame — batch-sized by " +
        "construction, broadcast EXPLICITLY because the label join " +
        "hides the size from the estimator) and filteredTopK's " +
        "pre-filter query set (the 10% delta, the q31 " +
        "queries-broadcast discipline)"),
    "operators/LshIndex.scala" -> (1,
      "matchIncrement's excludeIds anti side, one for both families " +
        "(ingest-batch-sized: the replaying batch's own doc_ids)"),
    "streaming/VecDupIngest.scala" -> (4,
      "the frozen centroid codebook (k rows) for in-batch cell pairing + " +
        "the bootstrap-deferral window's pending corpus and in-batch " +
        "all-pairs side (both < minSeed rows by the deferral invariant) " +
        "+ the ADC-mode exact-verify's new-embedding side (batch-sized: " +
        "the micro-batch's own vectors rejoined to the shortlist)"),
    "queries/AnalyticsOps.scala" -> (13,
      "1-row scalars (nDocs x4, n, mx-class), 9-row bounds/med/mad dims, " +
        "count-min `counters` <= 4096 cells, q166/q169 frequent-token " +
        "sets (<= 4*avg_doc_len tokens can clear df >= nd/4 since " +
        "sum(df) = nd*avglen - document-length-sized at any corpus)"),
    "queries/CdcOps.scala" -> (1, "1-row max-scn scalar"),
    "queries/PipelineOps.scala" -> (6,
      "bench eval split, per-source rates / maxw dims (source-count-sized), " +
        "q217's 5-row and q221's 3-row percentile-target literals"),
    "queries/QaOps.scala" -> (1, "bench eval split (fixed holdout)"),
    "queries/Relational.scala" -> (5,
      "TPC-H dims: nation/region/part-filter/customer-filter + 7-row " +
        "daily seasonality dim"),
    "queries/TextOps.scala" -> (6,
      "<=10-doc query side (qterms/qdata), df of query terms only, " +
        "KB bloom fp sets x2, stopword-sized freq set"),
    "queries/TrainOps.scala" -> (1,
      "q122 approx side: <= 10 queries * k (q199's per-round gradient " +
        "sums arrive as one (s0,s1,s2) triple per partition via " +
        "rdd.aggregate — partition-count-sized driver traffic, no " +
        "broadcast frames left; note the discipline scan below does not " +
        "count rdd.aggregate as a driver materialization)"),
    "queries/VectorOps.scala" -> (19,
      "query sets (vec_id < 10), packed codebooks (k*d), PQ codebooks, " +
        "k-means seeds, q143 delta assignments, q167 anchors (<= AnchorCap " +
        "by construction: vec_id % 25 = 0 AND vec_id < 25*AnchorCap), " +
        "q190 delta probe side (the 10% ingest increment — the q31 " +
        "brute-force discipline: history scans, queries broadcast), " +
        "q209's 10-query fingerprint probe + its 30-row approx top-k " +
        "(both query-set-sized), q210's 1-row bounds + 1-row totals, " +
        "q218 adding the in-cell-truth cents broadcast and the q31/q190 " +
        "brute-truth discipline, and q229's rerank query side (the 10% " +
        "delta — the q31/q190 queries-broadcast discipline); the PQ/SQ/" +
        "meta attach and serve hints live in operators/IvfIndex.scala")
  )

  test("every broadcast() hint in main source is a reviewed bounded frame") {
    val root = Paths.get("src/main/scala/graft")
    val hint = raw"(?<!sparkContext\.)broadcast\(".r
    val walk = Files.walk(root)
    val found =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .map { p =>
          // strip line comments so a `broadcast(` MENTION in prose
          // neither counts as a hint nor pads a file's allowance.
          // Only whole-comment lines are dropped: a naive `//.*$` strip
          // would also truncate string literals containing "//" (e.g.
          // "http://...") and silently eat a real hint after the literal.
          val src = Files.readAllLines(p).asScala
            .map(l => if (l.trim.startsWith("//")) "" else l)
            .mkString("\n")
          root.relativize(p).toString -> hint.findAllIn(src).length
        }
        .filter(_._2 > 0)
        .toMap
      finally walk.close()
    val over = found.collect {
      case (f, n) if n > broadcastAllowed.get(f).map(_._1).getOrElse(0) =>
        s"$f: $n broadcast hints > allowed " +
          s"${broadcastAllowed.get(f).map(_._1).getOrElse(0)}" +
          " - review the new frame's bound and update CollectDisciplineSpec"
    }
    assert(over.isEmpty, over.mkString("; "))
    val stale = broadcastAllowed.collect {
      case (f, (n, _)) if found.getOrElse(f, 0) < n =>
        s"$f: allowlist says $n but source has ${found.getOrElse(f, 0)}"
    }
    assert(stale.isEmpty, stale.mkString("; "))
  }
}
