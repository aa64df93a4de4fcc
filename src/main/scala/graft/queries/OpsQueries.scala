package graft.queries

import graft.core._
import graft.ops.{SparkEnv, SparkOps}
import org.apache.spark.sql.functions._

/** Graded queries for the pipeline-shaped §2.2 rows that were previously
  * spec-only: multi-source extract, fan-out load, and explicit repartition.
  * Each runs THROUGH the Node/Reader algebra (the reference's composition
  * motifs — `/root/reference/docs/examples-spark.md:58-62,102-108`,
  * `/root/reference/README.md:51-54`) and lands on a deterministic,
  * oracle-checkable aggregate. The algebra wraps plan CONSTRUCTION only:
  * Catalyst still sees one logical plan per branch, so pushdown/pruning
  * cross node boundaries.
  */
object OpsQueries {

  def queries: Seq[QueryDef] = Seq(
    QueryDef(
      "multi_source_extract",
      // One extract node yields a Map of named tables (the reference's
      // multi-source motif); downstream the three relations join
      // star-style. nation/region are dimension-sized → broadcast, so the
      // only shuffle at 100 TB is customer's groupBy — and that is
      // map-side combinable.
      (s, dir) => {
        val env = SparkEnv(s, dir)
        val extract = SparkOps.scanTables("customer", "nation", "region").provide(env)
        val enrich = Transform[Map[String, org.apache.spark.sql.DataFrame],
          org.apache.spark.sql.DataFrame] { ts =>
          ts("customer")
            .join(broadcast(ts("nation")), col("c_nationkey") === col("n_nationkey"))
            .join(broadcast(ts("region")), col("n_regionkey") === col("r_regionkey"))
            .groupBy(col("r_name"))
            .agg(count(lit(1)).as("n_cust"),
              Tables.moneySum(col("c_acctbal")).as("total_acctbal"))
            .orderBy("r_name")
        }
        (extract ~> enrich).unsafeRun(())
      },
      Some("""
        SELECT r_name, count(*) AS n_cust,
               floor((sum(CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")
    ),
    QueryDef(
      "fanout_load",
      // Fan-out load (reference README motif: one transform feeding two
      // sinks via `&`): split lineitem on quantity, write each branch to
      // its own parquet sink, then re-read BOTH sinks and aggregate their
      // union — the oracle over the source table proves the two sinks
      // partition the input losslessly.
      (s, dir) => {
        val hi = SparkOps.scratch("graft_fanout_hi").toString
        val lo = SparkOps.scratch("graft_fanout_lo").toString
        val env = SparkEnv(s, dir)
        val extract = SparkOps.scanParquet("lineitem").provide(env)
        val hiBranch = SparkOps.where(col("l_quantity") > 25) ~> SparkOps.writeParquet(hi)
        val loBranch = SparkOps.where(col("l_quantity") <= 25) ~> SparkOps.writeParquet(lo)
        import scala.concurrent.ExecutionContext.Implicits.global
        // `&>` (concurrent fan-out), not `&`: the two sink writes are
        // independent jobs over disjoint outputs, so running them on two
        // driver threads lets the second job's tasks back-fill executors
        // idled by the first job's write tail (guide §2.6) — measured
        // ~2x on the two-sink wall at sf0.1. Both writes still complete
        // before the read-back below; output is unchanged.
        (extract ~> (hiBranch &> loBranch)).unsafeRun(())
        s.read.parquet(hi).unionByName(s.read.parquet(lo))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            Tables.moneySum(col("l_extendedprice")).as("total"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, count(*) AS n,
               floor((sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),
    QueryDef(
      "repartition",
      // Explicit repartition node ahead of the aggregation: co-locates
      // rows by the grouping key so the groupBy needs no further exchange
      // (the agg reuses the hash partitioning). Content is oracle-graded;
      // OpsQueriesSpec asserts the partition count and the reused
      // partitioning in the physical plan.
      (s, dir) => {
        val env = SparkEnv(s, dir)
        val pipeline =
          SparkOps.scanParquet("orders").provide(env) ~>
            SparkOps.repartitionBy(8, col("o_orderpriority")) ~>
            SparkOps.groupAgg(
              Seq(col("o_orderpriority")),
              Seq(count(lit(1)).as("n"),
                Tables.moneySum(col("o_totalprice")).as("total")))
        pipeline.unsafeRun(()).orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               floor((sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    ),
    QueryDef(
      "zorder_layout",
      // Z-order (Morton-curve) layout: write orders clustered by the
      // interleaved (o_custkey, o_totalprice) z-value, then answer a
      // rectangle predicate from the re-read layout. Correctness is graded
      // here (layout must be a lossless permutation); the data-skipping
      // property — every file covering a compact box in BOTH dimensions,
      // so footer min/max stats prune on either — is asserted per-file in
      // ZOrderSpec. At 100 TB this is the compaction-time layout step that
      // lets two independent predicate families skip most of the table.
      (s, dir) => {
        val laid = SparkOps.zorderWrite(
          Tables.read(s, dir, "orders"),
          "o_custkey", "o_totalprice", SparkOps.scratch("graft_zorder_orders").toString, nFiles = 16)
        laid.filter(col("o_custkey").between(100, 300) &&
            col("o_totalprice").between(20000, 60000))
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_custkey BETWEEN 100 AND 300
          AND o_totalprice BETWEEN 20000 AND 60000
        ORDER BY o_orderkey""")
    ),
    QueryDef(
      "compact_small_files",
      // Small-file compaction — the operational fix for fragmented
      // landing zones (a 100 TB table accreting thousands of
      // kilobyte-files per ingest hour turns every scan into a listing +
      // open-cost storm). A 64-way fragmented copy of events stages once
      // (mtime contract); the compaction pass rewrites it as FOUR
      // time-range-clustered files — repartitionByRange(ts) both bounds
      // the file count and gives each file a tight ts min/max footer, so
      // time predicates skip whole files after compaction (the 1-D
      // cousin of zorder_layout's 2-D clustering). A byte-targeted
      // production job swaps the explicit 4 for AQE's advisory partition
      // size; the plan shape is identical. The oracle proves the rewrite
      // is lossless (per-type counts + exact money) and that exactly 4
      // files came out (`input_file_name` distinct).
      (s, dir) => {
        val fragDir = SparkOps.scratch(s"graft_frag_events_${Integer.toHexString(dir.hashCode)}")
        val frag = SparkOps.stageOnce(java.nio.file.Paths.get(s"$dir/events.parquet"), fragDir) {
          Tables.events(s, dir).repartition(64)
            .write.mode("overwrite").parquet(fragDir.toString)
        }
        val compacted = SparkOps.scratch("graft_compacted_events").toString
        s.read.parquet(frag)
          .repartitionByRange(4, col("ts"))
          .write.mode("overwrite").parquet(compacted)
        val com = s.read.parquet(compacted)
        com.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), Tables.moneySum(col("value")).as("total"))
          .crossJoin(broadcast(com.select(input_file_name().as("f"))
            .agg(countDistinct(col("f")).cast("int").as("n_files"))))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n,
               floor((sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total,
               4 AS n_files
        FROM events GROUP BY event_type ORDER BY event_type""")
    ),
    QueryDef(
      "observed_write",
      // Single-pass sink metrics: the DQ aggregates ride the write's OWN
      // scan (`Dataset.observe` → writeParquetObserved), land in the trace
      // channel as gauges, and this query replays those gauge values as a
      // 1-row frame — so the oracle grades that the observed numbers EQUAL
      // what a dedicated aggregation pass computes, while the pipeline
      // paid zero extra jobs for them. Exact arithmetic only (long counts,
      // quantized money) so observation-vs-oracle is hash-stable.
      (s, dir) => {
        val out = SparkOps.scratch("graft_observed_write").toString
        val pipeline =
          Node[Unit, org.apache.spark.sql.DataFrame] { _ =>
            Tables.read(s, dir, "lineitem")
              .filter(col("l_quantity") >= 25)
          } ~> SparkOps.writeParquetObserved(out, "sink_dq",
            "n_rows" -> count(lit(1)),
            "n_returns" -> sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)),
            "qty_q" -> sum(floor(col("l_quantity") * 10000 + 0.5).cast("long")),
            "revenue" -> Tables.moneySum(
              col("l_extendedprice") * (lit(1) - col("l_discount"))))
        val trace = pipeline.unsafeRunTrace(())
        val g = trace.latestGauges
        s.range(1).select(
          lit(g("sink_dq.n_rows").toLong).as("n_rows"),
          lit(g("sink_dq.n_returns").toLong).as("n_returns"),
          lit(g("sink_dq.qty_q").toLong).as("qty_q"),
          lit(g("sink_dq.revenue")).as("revenue"))
      },
      Some("""
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returns,
               CAST(sum(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS qty_q,
               floor((sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS revenue
        FROM lineitem WHERE l_quantity >= 25""")
    ),
    QueryDef(
      "ext_sql_topk",
      // Deployment packaging proven end-to-end: this is PURE SQL TEXT on a
      // session whose ONLY access to graft's Catalyst surface is the
      // `spark.sql.extensions=graft.GraftExtensions` conf every harness
      // session sets (no register() call anywhere on this path) — the
      // injected native `ws_distinct_tokens` evaluates in the inner
      // projection, and the rank<=5 window-top-k pattern is what the
      // injected TopKRewrite/TopKStrategy plan as the bounded per-group
      // heap instead of a full partition sort (plan shape asserted in
      // GraftExtensionsSpec).
      (s, dir) => s.sql(s"""
        SELECT lang, doc_id, n_toks FROM (
          SELECT lang, doc_id, n_toks,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY n_toks DESC, doc_id) AS rn
          FROM (SELECT lang, doc_id,
                       size(ws_distinct_tokens(text)) AS n_toks
                FROM parquet.`$dir/documents.parquet`))
        WHERE rn <= 5
        ORDER BY lang, n_toks DESC, doc_id"""),
      Some("""
        WITH t AS (
          SELECT lang, doc_id,
                 CAST(len(list_distinct(list_filter(
                   string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS INT) AS n_toks
          FROM documents),
        r AS (
          SELECT lang, doc_id, n_toks,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY n_toks DESC, doc_id) AS rn
          FROM t)
        SELECT lang, doc_id, n_toks FROM r WHERE rn <= 5
        ORDER BY lang, n_toks DESC, doc_id""")
    )
  )
}
