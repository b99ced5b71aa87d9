package graft.ops

import graft.{SparkEntry, SparkSpec, Tables}

/** Fleet-wide physical-plan guard: NO query may plan a CartesianProduct,
  * and BroadcastNestedLoopJoin is allowed only where the build side is a
  * bounded literal (centroid codebooks, scalar totals) — the two shapes
  * that silently turn a refactor into an all-pairs scan at corpus scale.
  *
  * Constructing the DataFrames at sf0.001 executes the eager stages some
  * operators run at build time (checkpoints, Lloyd training, cluster
  * resolution) — that is the price of auditing the REAL executed shape
  * rather than a stand-in.
  */
object PlanGuardSpec {
  /** Shuffle (non-broadcast) Exchange nodes in a plan string — the
    * counting rule shared by the budget test and DumpExchangeBudgets.
    * Excludes ReusedExchange too: a reuse executes no new shuffle, and
    * counting it would misattribute a reused BroadcastExchange as a
    * shuffle in the budget diff. */
  def shuffleExchanges(plan: String): Int =
    "(?<!Broadcast)(?<!Reused)Exchange ".r.findAllIn(plan).size
}

class PlanGuardSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * every entry is a crossJoin against a BOUNDED broadcast side. */
  private val bnlAllowed: Map[String, String] = Map(
    "ann_topk" -> "query set × corpus: broadcast literal query vectors",
    "ann_ivf_topk" -> "16-centroid codebook cross (broadcast literal)",
    "ann_ivf_recall" -> "16-centroid codebook cross (broadcast literal)",
    "ann_ivf_sampled_recall" -> "16-centroid codebook cross (broadcast literal)",
    "domain_mix_weighted" -> "1-row weight-total cross (broadcast scalar)",
    "domain_mix_temperature" -> "1-row share-denominator cross (broadcast scalar)",
    "train_val_split_cluster" -> "1-row leak-count cross (broadcast scalar)",
    "sliding_window" -> "4-row pane-offset literal cross",
    "tpch_q15" -> "1-row max-revenue cross (broadcast scalar)",
    "heavy_hitters" -> "1-row token-total cross (broadcast scalar)",
    "tpch_q22" -> "1-row balance-average cross (broadcast scalar)",
    "tpch_q11" -> "1-row value-threshold cross (broadcast scalar)",
    "ann_lsh_pairs" -> "16-hyperplane literal projection cross",
    "ann_pq_topk" -> "10-query distance-table cross (broadcast literal)",
    "hard_negatives" -> "10-anchor embedding cross (broadcast literal)",
    "source_divergence" -> "V+1-bucket grid cross + 1-row corpus-total cross (broadcast bounded)",
    "ann_pq_recall" -> "10-query distance-table + ground-truth cross (broadcast literal)",
    "cosine_near_dup" -> "16-hyperplane literal projection cross",
    "decontaminate_semantic" -> "held benchmark embeddings × corpus: broadcast bounded held set",
  )

  /** Queries that are BY DESIGN one narrow map stage: the only exchange
    * their plan may contain is the final deterministic ORDER BY's range
    * exchange. A second exchange appearing here means someone introduced
    * a shuffle into a scan-shaped operator. */
  private val narrowQueries = Seq(
    "lang_id", "unigram_logprob", // LM trains in a bounded construction-time job; scoring is one narrow pass

    "token_count", "quality_score", "text_normalize", "doc_chunking",
    "frame_sample", "multimodal_features", "pii_scrub", "projection",
    "filter", "string_funcs", "decimal_arith", "winnow_fingerprint")

  test("narrow operators stay narrow: one exchange (the final sort) only") {
    val s = spark
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    narrowQueries.foreach { name =>
      val plan = SparkEntry.queries(name)(s, dir).queryExecution.executedPlan.toString
      val n = PlanGuardSpec.shuffleExchanges(plan)
      if (n > 1) offenders += s"$name: $n exchanges"
      graft.HarnessUtil.releaseAll(s)
    }
    assert(offenders.isEmpty, s"narrow-plan violations:\n  ${offenders.mkString("\n  ")}")
  }

  /** `Prims.scanFanout`'s own predicate on the sf0.001 documents scan
    * under the test session: true when the scan plans at most a third
    * as many partitions as the session has cores. */
  private lazy val documentsScanFansOut: Boolean =
    Tables.documents(spark, dir).queryExecution.toRdd.getNumPartitions * 3 <=
      spark.sparkContext.defaultParallelism

  /** FROZEN shuffle-exchange budget for EVERY query (initial executed
    * plan at sf0.001, counted by [[PlanGuardSpec.shuffleExchanges]]).
    * Any drift — a refactor sneaking in an extra Exchange, or an
    * improvement dropping one — fails with a diff; update the map
    * deliberately via `sbt "Test/runMain graft.ops.DumpExchangeBudgets"`
    * and justify the change in the commit. Complements the bench's
    * shuffle-BYTES column: a new exchange is caught here even when
    * sf0.1 wall-time hides it. */
  private lazy val exchangeBudget: Map[String, Int] = Map(
    "heavy_hitters" -> 3,
    "bpe_merges" -> 1, // merge rounds materialize at construction (vocab-table aggs + 1-row argmax collects); the returned 12-row merge table keeps its final sort only
    "bpe_apply" -> 2, // training at construction as above; encode is one codegen replace-chain projection (no vocab join) + per-doc agg exchange + final sort
    "bpe_token_histogram" -> 3, // vocab rebuild agg + token agg + final sort: rebuilt from the memoized chain per call — the old 2-exchange read of the trained FRAME dangled past harness cleanup (Bpe.trainedMemo)
    "unigram_logprob" -> 1,
    // LM scoring + two-phase rank range exchange
    "quality_buckets" -> 2,
    // word-count agg + rank range exchange feed a 1-row OLS rollup
    "zipf_slope" -> 1,
    // post-checkpoint label rollups (pair graph behind the barrier)
    "cluster_size_histogram" -> 1,
    // label⋈split checkpoint + cluster-stat agg + leak join + sort
    "split_leakage" -> 3,
    // corpus⋈labels checkpoint + leak-proof distinct agg + rollup + sort
    "train_val_split_cluster" -> 5,
    // candidate core + two source attaches + matrix agg + sort
    "source_overlap" -> 6,
    // per-source agg (2-phase) + the broadcast scalar + final sort
    "domain_mix_temperature" -> 4,
    // post-checkpoint audit joins: pair×shingle intersection (2 joins)
    // + sizes back-joins + final decile aggregation
    "minhash_calibration" -> 6,
    "ann_pq_topk" -> 2,
    "ann_pq_recall" -> 5,
    "hard_negatives" -> 2,
    "pattern_match" -> 2,
    "rfm_segments" -> 1, // three rank passes materialize at construction (globalRowNumber); the plan keeps the final sort only
    "multitouch_attribution" -> 2,
    "nb_classifier" -> 2,
    "source_divergence" -> 6, // one corpus agg; the rest are (sources × V+1)-cell marginals
    // r20: pagerank's three unrolled iterations are now IN the final plan
    // (the former per-iteration localCheckpoints hid their exchanges in
    // separate pre-executed jobs while paying a blocking job each — the
    // total shuffle work is unchanged, three barriers fewer; PrIters is a
    // constant so the unrolled depth is bounded, like the oracle's CTEs)
    "pagerank_docs" -> 12,
    "dedup_central_survivors" -> 15,
    "moving_avg" -> 2, // day aggregation + the date-range-bounded global window's single partition
    "ann_ivf_recall" -> 6,
    "ann_ivf_sampled_recall" -> 6,
    "ann_ivf_topk" -> 3,
    "ann_lsh_pairs" -> 4,
    "ann_topk" -> 2,
    "asof_attribution" -> 2,
    "cohort_retention" -> 5,
    "coprocess_merge" -> 2,
    "debounce" -> 2,
    "corpus_health" -> 7,
    "corpus_pack" -> 1,
    "corpus_shuffle" -> 1,
    "corpus_stats" -> 4,
    "cosine_near_dup" -> 4,
    "count_window_all" -> 2,
    "count_window_keyed" -> 2,
    "curate_manifest" -> 1,
    "date_funcs" -> 1,
    "decimal_arith" -> 1,
    // r20: +1 when the conditional post-scan fan-out (Prims.scanFanout)
    // fires on the gram stream; it parallelizes the otherwise-serial
    // explode on a few-row-group corpus file and is a no-op on parallel
    // scans, so the count follows the documents scan's planned splits
    "decontaminate" -> (if (documentsScanFansOut) 4 else 3),
    "decontaminate_bloom" -> 3,
    "decontaminate_semantic" -> 3,
    "dedup_clusters" -> 1,
    // image-dedup cluster report: small-graph gate resolves the pair
    // graph driver-side, leaving the one report aggregation exchange
    "phash_clusters" -> 1,
    "dedup_exact" -> 2,
    // r20: 7 → 4 — the banded near-probe now posexplodes the pinned
    // signature once instead of unioning four band projections of it
    "dedup_incremental" -> 4,
    "dedup_near_minhash" -> 5,
    "dedup_substring" -> 3,
    "dedup_survivors" -> 4,
    "doc_chunking" -> 1,
    "doc_fingerprint" -> 2,
    "doc_len_histogram" -> 2,
    "domain_mix" -> 1,
    "domain_mix_weighted" -> 4,
    "editdist_pairs" -> 1,
    "density_prune" -> 2, // cluster_id window exchange + final sort
    "embed_cluster_profile" -> 2,
    "enrich_dag" -> 5,
    "events_rollup" -> 2,
    "events_incremental_rollup" -> 2, // (type, day) agg + final sort
    "events_week_compare" -> 2, // (week, type) agg + final sort
    "events_day_slice" -> 3, // two-phase countDistinct expand + final sort
    "events_box_slice" -> 3, // same shape: countDistinct expand + final sort
    "events_user_lookup" -> 1, // pushed point filter + final time sort
    "events_window_funcs" -> 2,
    "events_cube" -> 2,
    "enrich_wide_row" -> 2,
    "filter" -> 1,
    "fold_cumsum" -> 2,
    "frame_sample" -> 1,
    "funnel" -> 2,
    "group_agg" -> 2,
    "interval_join" -> 1,
    "iterate_until" -> 1,
    "json_extract" -> 1,
    "lang_id" -> 1,
    "last_nonnull_merge" -> 2,
    "late_split" -> 2,
    "max_min" -> 2,
    "multimodal_features" -> 1,
    "ngram_counts" -> 1,
    "ngram_jaccard" -> 1,
    "pack_bins" -> 2,
    "pii_scrub" -> 1,
    "pipeline_clean" -> 4,
    "projection" -> 1,
    "quality_score" -> 1,
    "quantile_sketch_gate" -> 5,
    // r20: 5 → 3 — the 2-gram and 3-gram streams ride ONE tagged explode
    // r21: 3 -> 1 — per-doc run-length folds over each row's own sorted
    // gram arrays replace the corpus explode + (doc_id, g) count + per-doc
    // re-aggregation entirely; the final ORDER BY is the only exchange
    "repetition_score" -> 1,
    "rolling_sum" -> 2,
    "semantic_dedup" -> 9,
    "semantic_incremental" -> 8,
    "containment_pairs" -> 1,
    "events_pivot" -> 3,
    "inactive_customers" -> 1,
    "session_window" -> 2,
    "sessionize" -> 2,
    "top_parts_per_brand" -> 3,
    "side_output_split" -> 1,
    "simhash_dedup" -> 4,
    "simhash_hamming_pairs" -> 5,
    // the image twin of simhash_hamming_pairs: same banded-hamming core,
    // same 5 exchanges (band stats agg, bucket join both sides, distinct)
    "phash_near_dup" -> 5,
    // the banded core's 4 pre-sort exchanges + the two grid attaches'
    // shared key exchange + the decile aggregation
    "phash_calibration" -> 6,
    // same core over per-frame fingerprints + the doc-pair count rollup
    "frame_near_dup" -> 6,
    "sliding_window" -> 2,
    "source_cardinality" -> 3,
    "state_kinds" -> 4,
    "stratified_sample" -> 2,
    "string_funcs" -> 1,
    "text_normalize" -> 1,
    "tfidf_top_terms" -> 5,
    "token_count" -> 1,
    "tpch_q1" -> 2,
    // q2/q11/q16: derived-partsupp distinct (1) + part/supplier joins;
    // q2 adds the per-part window min; q11 the per-part sum + the
    // broadcast threshold; q16 the two-phase count-distinct
    "tpch_q2" -> 4,
    "tpch_q11" -> 6,
    "tpch_q16" -> 4,
    "tpch_q10" -> 1,
    "tpch_q12" -> 2,
    "tpch_q13" -> 3,
    "tpch_q14" -> 1,
    "tpch_q15" -> 4,
    "tpch_q17" -> 2,
    "tpch_q18" -> 1,
    "tpch_q19" -> 1,
    "tpch_q20" -> 5,
    "tpch_q21" -> 4,
    "tpch_q22" -> 3,
    "tpch_q3" -> 1,
    "tpch_q4" -> 2,
    "tpch_q5" -> 2,
    "tpch_q6" -> 1,
    "tpch_q7" -> 2,
    "tpch_q8" -> 4,
    "tpch_q9" -> 2,
    "train_val_split" -> 2,
    "trigger_evictor" -> 2,
    "tumbling_window" -> 2,
    "union_streams" -> 1,
    "user_journey" -> 3,
    "user_overlap" -> 7,
    "vocab_coverage" -> 3,
    "window_join" -> 1,
    "winnow_fingerprint" -> 1,
    "winnow_pairs" -> 5,
    "word_count" -> 2,
  )

  test("every query's shuffle-exchange count matches its frozen budget") {
    val s = spark
    val diffs = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(s, dir).queryExecution.executedPlan.toString
      val n = PlanGuardSpec.shuffleExchanges(plan)
      exchangeBudget.get(name) match {
        case None => diffs += s"$name: NO BUDGET (new query? record $n)"
        case Some(b) if b != n => diffs += s"$name: $n exchanges, budget $b"
        case _ =>
      }
      graft.HarnessUtil.releaseAll(s)
    }
    // a query removed from SparkEntry leaves a stale budget entry behind
    (exchangeBudget.keySet -- SparkEntry.queries.keySet)
      .foreach(k => diffs += s"$k: budget entry for a query that no longer exists")
    assert(diffs.isEmpty,
      "exchange-count drift (regenerate via Test/runMain graft.ops.DumpExchangeBudgets " +
        s"and justify):\n  ${diffs.mkString("\n  ")}")
  }

  test("every query has an oracle and every oracle has a query") {
    // the driver's correctness gate only checks queries present in BOTH
    // maps, so a forgotten oracle silently downgrades a query to
    // rows-only — pin full two-way coverage (a deliberately rows-only
    // op would be excluded here by name, with its reason)
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val noQuery = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(noOracle.isEmpty && noQuery.isEmpty,
      s"query/oracle drift: missing oracle for $noOracle; orphan oracle for $noQuery")
  }

  test("tpch_q3: date and segment filters reach the parquet scans") {
    val plan = SparkEntry.queries("tpch_q3")(spark, dir)
      .queryExecution.executedPlan.toString
    Seq("LessThan(o_orderdate", "GreaterThan(l_shipdate", "EqualTo(c_mktsegment,BUILDING)")
      .foreach(f => assert(plan.contains(f),
        s"filter not pushed to scan: $f\n${plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}"))
    graft.HarnessUtil.releaseAll(spark)
  }

  test("tpch_q6: all three predicates reach the lineitem scan; 4-column ReadSchema") {
    val qe = SparkEntry.queries("tpch_q6")(spark, dir).queryExecution
    // the executedPlan's one-line scan summary truncates PushedFilters;
    // formatted mode prints the full list
    val formatted = qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    Seq("GreaterThanOrEqual(l_shipdate", "GreaterThanOrEqual(l_discount,0.05)",
      "LessThanOrEqual(l_discount,0.07)", "LessThan(l_quantity,24.0)")
      .foreach(f => assert(formatted.contains(f),
        s"filter not pushed to scan: $f\n${formatted.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}"))
    // column pruning: the scan must read only the 4 referenced columns of 11
    val readSchema = formatted.linesIterator.filter(_.contains("ReadSchema")).mkString
    Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .foreach(c => assert(readSchema.contains(c), s"pruned too far: $c missing from $readSchema"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"),
      s"scan reads unreferenced columns: $readSchema")
    graft.HarnessUtil.releaseAll(spark)
  }

  test("tpch_q18: the HAVING aggregate broadcasts back; facts shuffle once") {
    val plan = SparkEntry.queries("tpch_q18")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"filtered aggregate should re-join as a broadcast build side:\n$plan")
    assert(PlanGuardSpec.shuffleExchanges(plan) == 1,
      "q18 must shuffle lineitem once (the orderkey aggregation), never the probe path")
    graft.HarnessUtil.releaseAll(spark)
  }

  test("tpch_q19: hoisted common bounds reach the lineitem scan") {
    // the disjunction itself can't push past the join (it references
    // p_brand/p_size), but the hand-hoisted common bounds must — a scan
    // that reads all of lineitem for a 0.1%-selective OR is the exact
    // failure mode this query exists to catch at 100 TB
    val qe = SparkEntry.queries("tpch_q19")(spark, dir).queryExecution
    val formatted = qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    Seq("EqualTo(l_returnflag,N)", "GreaterThanOrEqual(l_quantity,1.0)",
      "LessThanOrEqual(l_quantity,36.0)")
      .foreach(f => assert(formatted.contains(f),
        s"hoisted bound not pushed to scan: $f\n${formatted.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}"))
    graft.HarnessUtil.releaseAll(spark)
  }

  test("tpch_q21: one orderkey exchange feeds both the profile and the probe") {
    // the per-order supplier profile and the late-line probe share the
    // orderkey partitioning; supplier⋈nation rides as a broadcast — the
    // plan must never shuffle lineitem on anything but l_orderkey
    val plan = SparkEntry.queries("tpch_q21")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"supplier dim should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "the EXISTS/NOT-EXISTS reformulation must stay equi-join-only")
    graft.HarnessUtil.releaseAll(spark)
  }

  test("top_parts_per_brand: rank<=3 runs as partial+final WindowGroupLimit") {
    val plan = SparkEntry.queries("top_parts_per_brand")(spark, dir)
      .queryExecution.executedPlan.toString
    // the grouped top-k must prune per-partition heaps BEFORE the window
    // exchange (Partial) and again after (Final) — never sort whole groups
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial")
      && plan.contains("Final"),
      s"WindowGroupLimit not planned for the rank<=k filter:\n$plan")
    graft.HarnessUtil.releaseAll(spark)
  }

  test("no query plans a CartesianProduct; BNLJ only on bounded literal sides") {
    val s = spark
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(s, dir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnlAllowed.contains(name))
        offenders += s"$name: unallowlisted BroadcastNestedLoopJoin"
      graft.HarnessUtil.releaseAll(s)
    }
    assert(offenders.isEmpty, s"plan guard violations:\n  ${offenders.mkString("\n  ")}")
  }
}
