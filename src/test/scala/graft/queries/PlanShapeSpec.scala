package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the round-2 operators: the properties that
  * make them scale (pruning, join strategy, no cartesian) are checked
  * against `executedPlan`, not just inferred from results.
  */
class PlanShapeSpec extends AnyFunSuite {

  // GRAFT_PLANSPEC_MASTER (round 15): run the same plan fences under a
  // multi-JVM master (`local-cluster[2,2,4096]`, with the compiled classes
  // shipped via GRAFT_PLANSPEC_EXEC_CP) — plan SHAPE must not change when
  // executors become real processes, and this is the measured check.
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(sys.env.getOrElse("GRAFT_PLANSPEC_MASTER", "local[4]"))
      .appName("graft-planshape-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("GRAFT_PLANSPEC_EXEC_CP")
      .fold(b)(b.config("spark.executor.extraClassPath", _))
      .getOrCreate()
  }

  // Default: the smallest SF (plan shapes are size-class properties, not
  // size properties). Override with GRAFT_PLANSPEC_DIR to re-verify the
  // same shapes at a larger universe — round 14 runs this spec against
  // the synthetic sf1 dir RegimeBoundary's tpch probe builds
  // (/tmp/graft_regime_tpch10x) to confirm broadcast sides stay correct
  // when the dims grow 10x beyond bench scale.
  private val dir =
    sys.env.getOrElse("GRAFT_PLANSPEC_DIR", "/root/testdata/sf0.001")

  private def planOf(name: String): String = {
    val df = Catalog.queriesMap(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("write_partitioned read-back prunes to the single o_orderstatus partition") {
    val plan = planOf("write_partitioned")
    // Partition filter on the hive-style directory column; data-skipping
    // shows as a PartitionFilters entry on the scan, and the scan must not
    // carry a post-scan filter on o_orderstatus.
    assert(plan.contains("PartitionFilters"), s"expected partition filters in:\n$plan")
    assert(plan.contains("o_orderstatus"), "partition column in scan")
  }

  test("str_distance is an equi-join on generated neighbor keys, not a cartesian") {
    val plan = planOf("str_distance")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$plan")
  }

  test("sql_subqueries rewrites EXISTS to a semi join (no nested loop per row)") {
    val plan = planOf("sql_subqueries")
    assert(plan.toLowerCase.contains("semi"), s"expected semi join in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("join_full_outer keeps both sides shuffled (full outer cannot broadcast)") {
    val plan = planOf("join_full_outer")
    assert(plan.contains("FullOuter"), s"expected full outer join in:\n$plan")
  }

  test("agg_pivot plans a single aggregate without a driver-side distinct collect") {
    // With an explicit value list the pivot lowers to one aggregate; an
    // implicit pivot would first run a separate distinct job.
    val df = Catalog.queriesMap("agg_pivot")(spark, dir)
    val aggs = "HashAggregate".r.findAllIn(df.queryExecution.executedPlan.toString).length
    assert(aggs >= 2, "partial+final aggregate pair present")
  }

  test("join_bucketed joins with no Exchange on either side") {
    // At test scale Catalyst would broadcast the dim side (also
    // exchange-free, but not what bucketing is for) — disable broadcast to
    // exercise the big-big case the layout exists for.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Catalog.queriesMap("join_bucketed")(spark, dir)
      // The plan below the aggregation must contain the join with both
      // children exchange-free (bucketed layout satisfies the distribution).
      val plan = df.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected sort-merge join in:\n$plan")
      assert(!plan.substring(joinIdx).contains("Exchange"),
        s"join children must be exchange-free:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("tfidf top-k plans TakeOrderedAndProject, not a global window sort") {
    val plan = planOf("text_tfidf_search")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
  }

  test("bloom_join applies the native runtime filter at the fact scan, below the join") {
    val plan = planOf("bloom_join")
    // The native BloomFilterMightContain probe must sit in a Filter on the
    // lineitem side BEFORE the (broadcast) join — pre-shuffle row pruning
    // is the point — and no interpreted closure UDF may appear anywhere.
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    assert(joinIdx >= 0, s"expected broadcast join in:\n$plan")
    val factSide = plan.substring(joinIdx)
    assert(factSide.contains("might_contain") && factSide.contains("l_orderkey"),
      s"expected native bloom probe filter below the join in:\n$plan")
    assert(!plan.contains("UDF("), s"closure UDF leaked into bloom_join plan:\n$plan")
  }

  test("ngram_counts plans map-side partial aggregation and a top-k operator") {
    val plan = planOf("ngram_counts")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final aggregate in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected top-k operator in:\n$plan")
  }

  test("pack_sequences never plans a single-partition global window") {
    val plan = planOf("pack_sequences")
    // The doc-level cumsum window must carry a partition spec on the bucket
    // key (rendered as `], [part#N L], [doc_id ...` — partitionBy then
    // orderBy); only the tiny bucket-offset series may run unpartitioned.
    assert("\\], \\[part#\\d+L?\\], \\[doc_id".r.findFirstIn(plan).isDefined,
      s"expected bucket-partitioned doc window in:\n$plan")
  }

  test("token_cooccurrence emits pairs in place — no doc-token self-join") {
    val plan = planOf("token_cooccurrence")
    // The heavy vocabulary folds to one broadcast array row; pair
    // generation is a per-doc nested transform, so the only joins allowed
    // are broadcast (the vocab attach), never a shuffled self-join.
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"expected no shuffled self-join in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected top-k operator in:\n$plan")
  }

  test("join_skew_salted joins on (key, salt) with the salt range broadcast") {
    val plan = planOf("join_skew_salted")
    assert(plan.contains("__lsalt") || plan.contains("__rsalt"),
      s"expected salt keys in join in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("join_hint_shuffle_hash forces ShuffledHashJoin over the default strategy") {
    val plan = planOf("join_hint_shuffle_hash")
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash join in:\n$plan")
  }

  test("sample_hash_k plans a top-k operator, not a global sort") {
    val plan = planOf("sample_hash_k")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
  }

  test("gap_fill broadcasts the calendar spine (no shuffle of the spine join)") {
    val plan = planOf("gap_fill")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast spine join in:\n$plan")
  }

  test("multi_source_extract broadcasts both dimension joins — the fact side never shuffles for the join") {
    val plan = planOf("multi_source_extract")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts == 2, s"expected two broadcast dim joins, got $broadcasts in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"customer must not shuffle for dimension joins:\n$plan")
  }

  test("fanout_load re-read aggregates map-side (partial HashAggregate before the exchange)") {
    val plan = planOf("fanout_load")
    assert(plan.contains("HashAggregate"), s"expected hash aggregation in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("domain_mix broadcasts the per-source thresholds — the corpus never shuffles for the join") {
    val plan = planOf("domain_mix")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast threshold join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not sort-merge for the tiny threshold table:\n$plan")
  }

  test("TPC-H shapes: dims broadcast, no cartesian, Q3 limit becomes TakeOrdered") {
    val q3 = planOf("tpch_q3_top_orders")
    assert(q3.contains("TakeOrderedAndProject"),
      s"top-10 must run as TakeOrderedAndProject, not global sort:\n$q3")
    Seq("tpch_q3_top_orders", "tpch_q5_local_supplier",
      "tpch_q8_market_share", "tpch_q18_large_orders",
      "tpch_q10_returned_items", "tpch_q19_disjunctive",
      "tpch_q2_min_cost_supplier", "tpch_q9_product_profit",
      "tpch_q20_dominant_suppliers",
      "tpch_q21_waiting_suppliers").foreach { q =>
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: dimension joins must broadcast")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: no product joins:\n$p")
    }
    // Q12's ONLY join is lineitem ⋈ orders — fact ⋈ fact. At tiny SFs the
    // orders side broadcasts (below the 10 MB threshold); at the sf1-scale
    // universe (GRAFT_PLANSPEC_DIR) it correctly graduates to a shuffled
    // equi-join on the order key — broadcasting a fact table at scale
    // would be the bug. Assert the invariant that holds at EVERY size
    // class: an equi-join, never a product join.
    locally {
      val p = planOf("tpch_q12_ship_class")
      assert(p.contains("Join") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"q12: lineitem-orders must stay an equi-join at any scale:\n$p")
    }
    // Q21's top-100 must plan as a bounded TakeOrderedAndProject, and its
    // two correlated quantifiers must have decorrelated to ONE order-grain
    // aggregate (two HashAggregate levels for partial+final + the
    // supplier-grain count), never a per-row probe.
    val q21 = planOf("tpch_q21_waiting_suppliers")
    assert(q21.contains("TakeOrderedAndProject"),
      s"q21 top-100 must be TakeOrderedAndProject:\n$q21")
    // Q11/Q16's scalar-subquery totals ride back as 1-row broadcast joins;
    // the only nested-loop allowed is that bounded 1-row cross.
    Seq("tpch_q11_important_stock", "tpch_q16_supplier_part_count").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: unbounded cartesian:\n$p")
    }
  }

  test("sql_udf_scalar inlines the SQL-language UDF — no ScalaUDF/eval node survives resolution") {
    val plan = planOf("sql_udf_scalar")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"SQL UDF must inline into codegen'd expressions:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected hash aggregate in:\n$plan")
  }

  test("sql_recursive_cte plans the recursion as a bounded loop over the tiny spine — the fact aggregates once") {
    val plan = planOf("sql_recursive_cte")
    assert(plan.contains("UnionLoop") || plan.contains("Recursion") ||
      plan.contains("RecursiveRelation"),
      s"expected a recursive-loop operator in:\n$plan")
    // The month spine is 84 rows; the orders fact must reach its month
    // aggregate without a cartesian against the spine.
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("rfm_segmentation ranks via partitioned windows — no global ntile, no single-partition customer sort") {
    val plan = planOf("rfm_segmentation")
    // The three quartile rankings must run as distributedNtile's two-phase
    // shape: range-repartition + per-partition row_number windows keyed on
    // the synthetic _ntile_pid — never SQL ntile() over an unpartitioned
    // window (a single-partition sort of every customer). Since the
    // round-15 dual-execution fix the ranked phase (range exchange +
    // pid window) is materialized — the FINAL plan consumes it as a
    // checkpoint scan already carrying _ntile_pid/_ntile_lrn, so the
    // fence asserts those ranked columns flow from a scan, not from a
    // window in this plan.
    assert(!plan.contains("ntile("),
      s"global ntile window leaked into rfm plan:\n$plan")
    assert("Scan ExistingRDD\\[[^\\]]*_ntile_pid#\\d+".r.findFirstIn(plan).isDefined,
      s"expected the materialized pid-ranked scan in:\n$plan")
    // The only unpartitioned window allowed is the offsets prefix-sum over
    // the per-partition counts (≤ shuffle.partitions rows). Any
    // SinglePartition exchange must therefore sit directly above a
    // HashAggregate (the partition-count reduction), never above a raw
    // customer-level Sort/Exchange of the rfm table.
    val single = "Exchange SinglePartition".r.findAllMatchIn(plan).map(_.start).toList
    single.foreach { idx =>
      val below = plan.substring(idx, math.min(plan.length, idx + 400))
      assert(below.contains("HashAggregate") || below.contains("_ntile_pc"),
        s"SinglePartition exchange not over the tiny offsets aggregate:\n$below")
    }
  }

  test("mined near-dup pairs sort is range-partitioned, never a single-partition stage") {
    val plan = planOf("dedup_ngram_jaccard")
    // The τ=0.8 pair list (~3M rows at the dup-dense sf0.1) materializes
    // through orderBy(id_a, id_b) — which must plan as an Exchange
    // rangepartitioning + per-partition Sort (each reducer sorts its key
    // range in parallel), not a SinglePartition collapse.
    assert(plan.contains("rangepartitioning"),
      s"expected range-partitioned sort of mined pairs in:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"single-partition stage in mined-pairs plan:\n$plan")
  }

  test("doc_fingerprint hashes grams natively: no lambda, only the output sort's exchange") {
    val df = Catalog.queriesMap("doc_fingerprint")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Final Plan"), s"expected the executed adaptive plan:\n$plan")
    assert(plan.contains("char_gram_hashes"), s"expected the native kernel in:\n$plan")
    assert(!plan.contains("lambdafunction"), s"interpreted lambda in:\n$plan")
    val exchanges = "Exchange (\\w+)".r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exchanges == Set("rangepartitioning"), s"unexpected exchange in:\n$plan")
  }

  test("dedup_decontaminate prunes the train index by the eval prefix vocab via broadcast") {
    val plan = planOf("dedup_decontaminate")
    assert(plan.toLowerCase.contains("semi"),
      s"expected the broadcast LeftSemi vocab prune in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("join_interval_overlap joins on the hour bucket — no cartesian, no nested loop") {
    val plan = planOf("join_interval_overlap")
    assert(!plan.contains("CartesianProduct"),
      s"interval overlap fell back to a cartesian product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"interval overlap fell back to a nested loop:\n$plan")
    assert(plan.contains("bkt_"),
      s"expected the hour-bucket equi-join keys in:\n$plan")
  }

  test("events_active_users joins the exploded user-days to the spine by hash, not nested loop") {
    val plan = planOf("events_active_users")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"WAU band join fell back to a nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the broadcast day-spine equi-join in:\n$plan")
  }

  test("join_asof_nearest is pure window passes — no click×purchase join at any skew") {
    val plan = planOf("join_asof_nearest")
    assert(!plan.contains("Join"), s"nearest-asof planned a join:\n$plan")
    assert(plan.contains("Window"), s"expected the range-frame window passes in:\n$plan")
  }

  test("events_streaks needs no join: islands come from one window over user_id") {
    val plan = planOf("events_streaks")
    assert(!plan.contains("Join"), s"streaks planned a join:\n$plan")
    assert(plan.contains("Window"))
  }

  test("text_ngram_novelty stays on gram equi-joins — no cartesian anywhere") {
    val plan = planOf("text_ngram_novelty")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$plan")
  }

  test("window_bollinger is join-free: one shuffle family serves agg and window") {
    val plan = planOf("window_bollinger")
    assert(!plan.contains("Join"), s"bollinger planned a join:\n$plan")
    assert(plan.contains("Window"))
  }

  test("basket_repurchase joins facts on the shared key and broadcasts the part dim") {
    val plan = planOf("basket_repurchase")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the broadcast part-type dim join in:\n$plan")
  }

  test("orders_open_backlog never plans a cartesian — deltas join the spine by day") {
    val plan = planOf("orders_open_backlog")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("knn_blocked_topk candidates come from the label equi-join — never a cartesian") {
    val plan = planOf("knn_blocked_topk")
    assert(!plan.contains("CartesianProduct"), s"kNN fell back to a cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"kNN fell back to a nested loop:\n$plan")
  }

  test("similarity_batch_topk plans bounded heaps, not a window or global sort") {
    val plan = planOf("similarity_batch_topk")
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
      s"batch top-k lost the custom grouped-top-k operator:\n$plan")
    assert(!plan.contains("Window"),
      s"batch top-k fell back to a row_number window:\n$plan")
    // the scan side must shuffle only heap survivors: exactly one hash
    // exchange (partial heaps → final heaps), plus the display range sort
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange, got $hashExchanges:\n$plan")
  }

  test("window_time_weighted_avg reuses one user_id shuffle for window AND aggregate") {
    val plan = planOf("window_time_weighted_avg")
    assert(!plan.contains("Join"), s"TWA planned a join:\n$plan")
    // One hash exchange (user_id, feeding both the lead() window and the
    // groupBy) plus the final range sort — a second hash exchange means
    // Catalyst stopped reusing the partitioning.
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange, got $hashExchanges:\n$plan")
  }

  test("embedding_quantize is pure map-side — fold expressions, no agg node, no join") {
    val plan = planOf("embedding_quantize")
    assert(!plan.contains("Join"), s"quantize planned a join:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"per-vector folds must be expressions, not an aggregation:\n$plan")
  }

  test("join_dpp_pruned applies a dynamic-pruning PartitionFilter to the fact scan") {
    val plan = planOf("join_dpp_pruned")
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression PartitionFilter on the month-partitioned fact in:\n$plan")
  }

  test("miner verify evaluates the merge count once — never inside a join condition") {
    // The threshold predicate must run over the PROJECTED `inter` column;
    // if predicate pushdown inlines it into the join, the native merge
    // count evaluates 2-3x per candidate pair (the verify stage is the
    // miner's dominant CPU). The filter's barrier disjunct exists to stop
    // exactly that — this fences it.
    val plan = planOf("dedup_ngram_jaccard")
    val offending = plan.split("\n").filter(l =>
      l.contains("Join") && l.contains("sorted_intersect_count"))
    assert(offending.isEmpty,
      s"merge count pushed into a join condition:\n${offending.mkString("\n")}")
  }

  test("cached cluster labelings are materialized — reuse scans an RDD, not the mine") {
    // First call mines pairs + runs CC and checkpoints the label table;
    // any later consumer (dedup_keep_best, repeat cluster calls) must plan
    // against the materialized RDD. A lazy cache entry silently re-runs
    // the whole mine per consumer — the regression this fences.
    planOf("dedup_clusters")
    val reuse = planOf("dedup_clusters")
    assert(reuse.contains("Scan ExistingRDD"),
      s"expected reuse to scan the checkpointed label RDD in:\n$reuse")
    assert(!reuse.contains("Generate") && !reuse.contains("parquet"),
      s"cluster-label reuse re-plans the mine (lazy cache entry):\n$reuse")
  }

  test("histogram_equi_depth ranks without a single-partition global window") {
    // The decile assignment must be the two-phase distributedNtile: every
    // Window in the plan partitions by the synthetic partition id (or runs
    // over the cluster-sized offsets row set) — a bare `Window [ntile(...)
    // ORDER BY ...]` with no partition spec funnels the data through ONE
    // task and dies at scale.
    val plan = planOf("histogram_equi_depth")
    val globalNtile = plan.split("\n").filter(l =>
      l.contains("ntile(") && l.contains("Window"))
    assert(globalNtile.isEmpty,
      s"SQL ntile window present — expected two-phase ranking:\n${globalNtile.mkString("\n")}")
  }

  test("window_share_of_total broadcasts the dims and windows over the rollup only") {
    val plan = planOf("window_share_of_total")
    assert(plan.contains("BroadcastHashJoin"), s"dims should broadcast in:\n$plan")
    // The ratio window runs AFTER the groupBy: Window must sit above the
    // final aggregate, never over the raw fact rows.
    val idxWindow = plan.indexOf("Window")
    val idxAgg = plan.lastIndexOf("HashAggregate")
    assert(idxWindow >= 0 && idxWindow < idxAgg,
      s"window should apply to the aggregated rollup in:\n$plan")
  }

  test("events_anomaly_mad broadcasts the per-type medians back onto events") {
    val plan = planOf("events_anomaly_mad")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"both median joins (med, mad) should broadcast in:\n$plan")
  }

  test("fuzzy pair MINE joins on the block keys, not a cartesian") {
    // The graded queries consume the session-cached (localCheckpointed)
    // pair list, whose plan is a LogicalRDD leaf — fence the MINING plan
    // itself, in both regimes.
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))
    for (pigeonhole <- Seq(false, true)) {
      val plan = graft.queries.StatQueries
        .fuzzyNameVerifiedPairs(c, pigeonhole)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"cartesian (pigeonhole=$pigeonhole) in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested loop (pigeonhole=$pigeonhole) in:\n$plan")
      // levenshtein must be a post-join filter (block equi-keys drive the
      // join), visible as a join condition or filter — not a join strategy.
      assert(plan.contains("levenshtein"),
        s"levenshtein predicate missing (pigeonhole=$pigeonhole) in:\n$plan")
    }
  }

  test("typed_reducegroups partial-aggregates map-side (ReduceAggregator, not mapGroups)") {
    // reduceGroups must plan as a two-phase aggregate (partial before the
    // exchange, final after) — the property that distinguishes it from
    // mapGroups, which ships every row. Object aggregates render as
    // ObjectHashAggregate/SortAggregate pairs.
    val plan = planOf("typed_reducegroups")
    val aggs = "(ObjectHashAggregate|SortAggregate|HashAggregate)".r
      .findAllIn(plan).length
    assert(aggs >= 2, s"expected partial+final aggregate pair in:\n$plan")
    assert(!plan.contains("MapGroups"), s"mapGroups shape leaked into:\n$plan")
  }

  test("embedding_centroid_distances joins two reads of ONE materialized centroid table") {
    // Both join sides must scan the localCheckpoint RDD — a plan that
    // re-explodes the corpus per side doubles the data-sized work.
    val plan = planOf("embedding_centroid_distances")
    assert("Scan ExistingRDD".r.findAllIn(plan).length >= 2,
      s"expected both sides to read the checkpointed centroids in:\n$plan")
    assert(!plan.contains("Generate"),
      s"corpus posexplode re-ran inside the pair join:\n$plan")
  }

  test("dq_psi_drift finds the median boundary by selection, not a buffering percentile") {
    // The global-median boundary must come from the two-phase positional
    // selection (range partition + offsets + per-partition row_number) —
    // a percentile() aggregate would buffer every event time in one
    // aggregation buffer.
    val plan = planOf("dq_psi_drift")
    assert(!plan.contains("percentile"), s"buffering percentile in:\n$plan")
    assert(plan.contains("row_number"), s"positional selection missing in:\n$plan")
  }

  test("text_keyword_rank broadcasts the vocab-sized df table and windows per doc") {
    val plan = planOf("text_keyword_rank")
    assert(plan.contains("BroadcastHashJoin"), s"df join should broadcast in:\n$plan")
    assert(plan.contains("row_number"), s"per-doc ranking window in:\n$plan")
  }

  // join EXEC nodes (expression names like array_join must not trip this)
  private val joinExec =
    "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|CartesianProduct|BroadcastNestedLoopJoin)".r

  test("text_feature_hashing is join-free: explode + one (doc,bucket) aggregate") {
    val plan = planOf("text_feature_hashing")
    assert(joinExec.findFirstIn(plan).isEmpty, s"unexpected join in:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final aggregate pair in:\n$plan")
  }

  test("quality_gopher_rules is pure map-side: no join, no aggregate, only the output sort") {
    val plan = planOf("quality_gopher_rules")
    assert(joinExec.findFirstIn(plan).isEmpty, s"unexpected join in:\n$plan")
    assert(!plan.contains("HashAggregate"), s"unexpected aggregate in:\n$plan")
  }

  test("corpus_token_mixture plan math runs over the per-source aggregate, not documents") {
    // One data-sized aggregate (per-source token sums); the totals join is
    // a 1-row broadcast onto the bounded #sources frame — never a shuffle
    // of the corpus for plan arithmetic.
    val plan = planOf("corpus_token_mixture")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"totals must broadcast onto the per-source frame in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("typed_cogroup co-partitions both sides once — CoGroup with two exchanges, no join node") {
    val plan = planOf("typed_cogroup")
    assert(plan.contains("CoGroup"), s"expected CoGroup exec in:\n$plan")
    assert(!plan.toLowerCase.contains("sortmergejoin"),
      s"cogroup must not degrade to a row-multiplying join in:\n$plan")
  }

  test("text_rrf_fusion fuses two bounded top-k lists — TakeOrdered feeds the join, no corpus-sized shuffle join") {
    val plan = planOf("text_rrf_fusion")
    assert(plan.contains("TakeOrderedAndProject"),
      s"rankers must plan top-k, not global sorts, in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }
}
