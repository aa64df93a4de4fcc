package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump formatted physical plans for a representative set of
  * catalog queries into PLANS.md — the evidence trail that the shapes we
  * claim (pushdown, broadcasts, no cartesians, top-k operators, partition
  * pruning) are what Catalyst actually plans.
  */
object ExplainAll {

  private val picks: Seq[(String, String)] = Seq(
    "q1_agg" -> "Filter + projection pushed to the parquet scan; partial aggregation before the exchange.",
    "filter_predicate" -> "PushedFilters on both predicates; ReadSchema pruned to the projected columns.",
    "join_inner_equi" -> "Star join: both dimension sides BroadcastHashJoin, fact side never shuffles for the join.",
    "join_range" -> "Banded |a-b|<=w as equi-join on derived band keys: shuffle join, no cartesian/nested loop.",
    "join_asof" -> "Equi-join + argmax aggregation: partial (map-side) aggregate, no per-group sort.",
    "topk" -> "ORDER BY + LIMIT lowered to TakeOrderedAndProject (per-partition heaps, driver merges k rows).",
    "write_partitioned" -> "Read-back scan lists only the matching o_orderstatus partition (PartitionFilters, no row filter).",
    "sql_subqueries" -> "Scalar subquery becomes a one-row broadcast; EXISTS becomes a left-semi join.",
    "dedup_ngram_jaccard" -> "PPJoin: prefix-token equi-join candidates (narrow id rows), single-eval verify projection.",
    "dedup_incremental" -> "Split derive from the cached pair list: membership joins + the exact integer predicate over stored (inter, uni) counts — no intersection recount, no re-tokenization.",
    "similarity_topk_native" -> "Native codegen'd cosine expression inside WholeStageCodegen over the scan; top-k via TakeOrderedAndProject.",
    "join_bucketed" -> "Bucketed layout on both sides: sort-merge join with zero Exchange below the join.",
    "merge_upsert" -> "MERGE lowered to full-outer join + coalesce; both sides shuffle once on the key.",
    "dedup_keep_latest" -> "CDC compaction: associative max(struct) argmax, partial aggregation map-side, no window sort.",
    "bloom_join" -> "Explicit runtime filter: Bloom mightContain applied at the fact scan BEFORE the join shuffle.",
    "join_skew_salted" -> "Salted equi-join: small side replicated via broadcast salt range; shuffle keys on (orderkey, salt).",
    "ngram_counts" -> "explode + partial HashAggregate before the exchange; global top-20 via TakeOrderedAndProject.",
    "anomaly_zscore" -> "Per-type moments aggregated small, broadcast back; exact decimal predicate stays in codegen.",
    "pack_sequences" -> "Two-phase prefix sum: bucket-partitioned windows + a broadcast offset scan — no global single-partition window.",
    "agg_heavy_hitters" -> "Misra-Gries candidate pass (mapPartitions) feeds a broadcast semi-filter; the full-vocabulary groupBy never runs.",
    "tpch_q3_top_orders" -> "Fact-fact join on the order key; segment-filtered customer dim broadcasts; top-10 via TakeOrderedAndProject.",
    "tpch_q2_min_cost_supplier" -> "Correlated per-part MIN decorrelated: pair-grain aggregate joined back on (partkey, cost-quanta) equality; EU supplier info and the filtered part dim broadcast — the fact shuffles once on the pair grain.",
    "sql_recursive_cte" -> "WITH RECURSIVE month spine as a bounded UnionLoop (84 iterations, driver-tiny); the orders fact aggregates to month grain BEFORE the spine's broadcast left join.",
    "sql_udf_scalar" -> "SQL-language UDF inlined at resolution: the plan carries pure floor/cast expressions inside WholeStageCodegen — no ScalaUDF node, unlike a JVM udf().",
    "tpch_q21_waiting_suppliers" -> "EXISTS + NOT-EXISTS both decorrelated to ONE order-grain aggregate (distinct suppliers, distinct LATE suppliers) joined back to the late lines; single order-key shuffle, top-100 via TakeOrderedAndProject.",
    "tpch_q5_local_supplier" -> "Six-table snowflake: every dimension BroadcastHashJoin, facts shuffle once each, no cartesian.",
    "events_attribution" -> "As-of attribution as ONE running last(ignoreNulls) window per user — no join, single user_id shuffle.",
    "dedup_decontaminate" -> "Containment prefix candidates; train-side index pruned by broadcast LeftSemi on the eval prefix vocab before any shuffle.",
    "zorder_layout" -> "Rectangle predicate over the Morton-clustered layout: both filters pushed to the parquet scan of the curve-ordered files.",
    "similarity_pq_topk" -> "ADC scan: per-row code lookups against the broadcast distance table, TakeOrdered candidates, exact re-rank; since r13 the graded frame joins the exact twin for the overlap verdict (two bounded top-k branches into a tiny agg).",
    "join_dpp_pruned" -> "Dynamic partition pruning: the month-partitioned fact scan carries a dynamicpruning PartitionFilter fed by the filtered dim's broadcast — surviving partitions known only at runtime.",
    "bpe_encode" -> "Tokenizer apply: merge rules inlined as literals, encode is pure map-side work inside WholeStageCodegen; one data-sized exchange (the map-side-combinable per-document aggregate), then a small range exchange for the final sort of the one-row-per-doc result.",
    "join_interval_overlap" -> "Two-sided interval overlap: session intervals explode to spanned hour buckets, candidates equi-join on the bucket (lossless), exact overlap predicate + pair distinct — an equi-join on bkt (broadcast at this SF, sort-merge at scale), no cartesian, no nested loop.",
    "events_active_users" -> "Rolling 7-day WAU: distinct user-days explode map-side to their ≤7 window-end days, then a broadcast HASH join on the day spine — a BETWEEN band join would plan a nested loop over |days| per row.",
    "join_asof_nearest" -> "Nearest-event join as two RANGE-frame window passes over the unioned stream (backward max(struct), forward min(struct)) — one user_id shuffle, no click×purchase pair join at any skew.",
    "embedding_quantize" -> "int8 quantization entirely inside WholeStageCodegen: per-vector folds are expressions (no aggregation node, no join); the only exchange is the final range sort.",
    "orders_pareto" -> "Global revenue-ordered cumsum WITHOUT a single-partition window: range-partition by (rev desc, key), per-partition sums, ≤8-row offset scan broadcast back — the two-phase distributed prefix sum.",
    "graph_triangles" -> "Triangle census: DEGREE-ordered wedge orientation (per-key fan-out ≤ O(√m) under hub skew), checkpointed oriented list so AQE broadcasts the closing LeftSemi — every step an equi-join on vertex keys, no cartesian.",
    "similarity_batch_topk" -> "Batched ANN serving: one scan scores the broadcast query batch, PartialTopK bounded heaps → one hash exchange of k·|Q| survivors per partition → FinalTopK; no window, no global sort.",
    "similarity_pq_batch_topk" -> "Batched PQ serving: codes computed once inside the corpus scan, |Q| distance tables broadcast (BroadcastNestedLoop bounded by the fixed batch), PartialTopK/FinalTopK bounded heaps for BOTH the ADC shortlist and the exact re-rank — no window, no global sort, the raw-vector read confined to the shortlist join. Since r13 the graded frame joins the exact batch twin for the per-query overlap verdicts.",
    "embedding_top_pc" -> "PCA power iteration: per round one broadcast of the 64-dim v (a literal array), map-side quantized dots, one d-key aggregation — the d×d covariance never exists.",
    "histogram_equi_depth" -> "Equi-depth deciles via distributedNtile: range-repartition + per-partition rank + broadcast offsets — no single-partition ntile window anywhere in the plan.",
    "events_anomaly_mad" -> "Median/MAD robust gate: both per-type median tables broadcast back onto events; the outlier flag is a pure integer comparison inside codegen.",
    "join_fuzzy_blocked" -> "Two-regime record linkage over the session-cached pair mine: the regime is priced by the BLOCKED PAIR BUDGET sum n(n-1)/2 (not row count — see PLANS appendix, regime boundary): under 2e9 budgeted pairs candidates come from the (nation, segment) equi-join; above, the PartEnum pigeonhole piece-join bounds blocks. Levenshtein (threshold overload, banded DP) evaluates post-join as a filter — no cartesian, no nested loop (fence now in PlanShapeSpec over BOTH regimes' mining plans; the graded plan below is the cached derive).",
    "dedup_minhash_lsh" -> "MinHash-LSH at the auto-fit (bands, rows) split: ids-only band equi-join for candidates; the signature frame materializes once for its three consumers; the estimate filter is the native sig_agree_count lane counter (the interpreted zip_with chain dominated the pipeline at k=176). Since r13 the graded frame left-joins the LSH pairs onto the cached exact twin and aggregates to the one-row recall verdict.",
    "multimodal_image_pipeline" -> "Real codec chain: PNG encode -> decode -> NN-resize -> re-encode -> decode, every stage mapPartitions with per-partition ImageReader init over a WIDENED (round 16) scan; the remaining exchanges are the widen round-robin and the final range sort.",
    "ext_sql_topk" -> "Deployment packaging: pure SQL text on the extensions-conf session — injected native ws_distinct_tokens in the scan projection, injected TopKRewrite planning PartialTopK/FinalTopK per-group heaps instead of a full window sort.",
    "text_keyword_rank" -> "Keyword ranking: one WIDENED (round 16) tokenize/explode pass materialized; corpus df derives from the tf table and broadcasts; the top-3 window partitions by doc_id.",
    "typed_reducegroups" -> "Typed reduceGroups: ReduceAggregator plans a partial+final aggregate pair — map-side combine like the untyped rollup, unlike mapGroups which ships every row.",
    "basket_association_rules" -> "Association rules: distinct (order, type) materialized once; directed pairs from its self-join on the order key; per-type counts and the one-row total broadcast into the metric projection.",
    "stream_stream_left_join" -> "Left-outer stream-stream join: both sides watermarked, time-bound condition bounds click state; outer rows emit on watermark passage (flush-wave staged replay proves full emission).",
    "text_vocab_growth" -> "Vocab growth: widened (round 16) so the 13-gram explode parallelizes past a one-split scan; gram-keyed min (map-side partial) is the only data-sized shuffle; the cumulative window runs over report-grain buckets.",
    "typed_cogroup" -> "Typed groupwise merge: CoGroup exec over both sides' key exchanges — one co-partitioning shuffle each, per-key iterator logic, no row-multiplying join node.",
    "text_feature_hashing" -> "Hashing-trick featurization: join-free — bigram explode feeds a partial+final (doc, bucket) aggregate pair; the shuffle carries (id, bucket, count), never text.",
    "quality_gopher_rules" -> "Gopher hard gates: pure map-side integer projections over the scan; the only exchange is the output range sort.",
    "corpus_token_mixture" -> "Mixture planning: one data-sized per-source token aggregate; the totals are a 1-row broadcast onto the bounded #sources frame, so plan arithmetic never shuffles the corpus.",
    "text_rrf_fusion" -> "Reciprocal-rank fusion: both rankers plan TakeOrderedAndProject top-20s; the fusion join runs over two bounded lists, never corpus-sized sides.",
    "multimodal_audio_stats" -> "Real audio codec: WAV write + decode as back-to-back mapPartitions (provider lookup JVM-cached); the only exchange is the output sort.",
    "multimodal_video_frames" -> "Real multi-frame codec: animated-GIF sequence write then frame-directory decode, both mapPartitions with per-partition writer/reader init over a WIDENED (round 16) scan; one row fans out to N frame rows.",
    "text_zipf_alpha" -> "Zipf regression: token-count aggregate is the only data-sized work; top-100 ranking via TakeOrderedAndProject; the normal-equation fold runs on a 100-row frame.",
    "dedup_passage" -> "Passage dedup: one chunking pass, then digest-keyed frequency groupBy and digest equi-join back — 16-byte binary (unhex'd md5) shuffle keys, passage text never crosses an exchange.",
    "transpose_funcs" -> "Spark-4 TRANSPOSE: the flip runs on the bounded 5-row post-aggregate frame; the only data-sized work is the nation aggregate feeding it."
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession()
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for flagship queries\n\n")
    sb.append(s"Generated by `graft.ExplainAll` against `$sfDir`. Each section: the\n")
    sb.append("property the operator is designed around, then the plan proving it.\n")
    for ((name, why) <- picks) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // let AQE finalize so the plan shown is the executed one
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n$why\n\n```\n$plan```\n")
    }
    // Hand-authored measurement sections (e.g. the regime-boundary
    // evidence) live in PLANS_APPENDIX.md and survive regeneration.
    val appendix = Paths.get("PLANS_APPENDIX.md")
    if (Files.exists(appendix))
      sb.append("\n").append(Files.readString(appendix))
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"[explainall] wrote $out")
    spark.stop()
  }
}
