package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytical operators beyond the round-1 set: reshaping (pivot/unpivot),
  * distribution statistics (exact percentiles, moments), richer window
  * analytics, batch sessionization, skew-salted aggregation, partitioned
  * writes, and a banded edit-distance similarity join.
  *
  * Scale posture notes are inline per query; the common themes:
  * pivot uses an explicit value list (no driver-side collect of distinct
  * keys), the salted aggregate demonstrates the two-stage skew pattern with
  * bit-exact results (long-quantized partial sums are associative), and the
  * edit-distance join is an equi-join on generated neighbor keys, never a
  * cross product.
  */
object AnalyticsQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  /** floor-trick rounding — bit-identical in Spark and DuckDB (see
    * Tables.moneySum).
    */
  private def q4(c: org.apache.spark.sql.Column) =
    floor(c * 10000 + 0.5) / 10000

  private val priorities = Seq(
    "1-URGENT" -> "p1_urgent",
    "2-HIGH" -> "p2_high",
    "3-MEDIUM" -> "p3_medium",
    "4-NOT SPECIFIED" -> "p4_not_specified",
    "5-LOW" -> "p5_low")

  def queries: Seq[QueryDef] = Seq(
    QueryDef(
      "agg_pivot",
      (s, dir) => {
        // Pivot with an EXPLICIT value list: the implicit form collects
        // distinct keys onto the driver first (an extra job + a driver
        // round-trip that has no place in a 100 TB plan). Explicit values
        // compile straight to one aggregate with five conditional sums.
        val p = t(s, dir, "orders")
          .groupBy(col("o_orderstatus"))
          .pivot("o_orderpriority", priorities.map(_._1))
          .agg(Tables.moneySum(col("o_totalprice")))
        priorities.foldLeft(p) { case (df, (v, a)) => df.withColumnRenamed(v, a) }
          .orderBy("o_orderstatus")
      },
      Some {
        val cols = priorities.map { case (v, a) =>
          s"""floor((sum(CASE WHEN o_orderpriority = '$v'
               THEN CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) END) + 50) / 100) / 100.0 AS $a"""
        }.mkString(",\n")
        s"""SELECT o_orderstatus, $cols
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      }
    ),
    QueryDef(
      "unpivot_melt",
      (s, dir) => {
        // Wide -> long reshaping (melt). Per-row operation: no shuffle,
        // output is |value columns| x |rows|, stays in one codegen stage.
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal"),
            col("c_nationkey").cast("double").as("c_nationkey"))
          .unpivot(
            Array(col("c_custkey")),
            Array(col("c_acctbal"), col("c_nationkey")),
            "metric", "value")
          .orderBy("c_custkey", "metric")
      },
      Some("""
        SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value FROM customer
        UNION ALL
        SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
        ORDER BY c_custkey, metric""")
    ),
    QueryDef(
      "transpose_funcs",
      (s, dir) => {
        // Long -> wide TRANSPOSE (Dataset.transpose, new in Spark 4): the
        // per-region metric frame flips so metrics become rows and
        // regions become columns — the report-pivot shape. Runs on the
        // bounded post-aggregate frame (5 rows in, 3 rows out); the only
        // data-sized work is the nation aggregate. Index values become
        // column names (r0..r4 — key literals, no spaces), every
        // transposed cell shares the BIGINT least-common type.
        t(s, dir, "nation")
          .groupBy(concat(lit("r"), col("n_regionkey")).as("rk"))
          .agg(count(lit(1)).cast("long").as("n_nations"),
            min(col("n_nationkey")).cast("long").as("min_nation"),
            max(col("n_nationkey")).cast("long").as("max_nation"))
          .transpose(col("rk"))
          .orderBy("key")
      },
      Some("""
        WITH m AS (
          SELECT n_regionkey, count(*) AS n_nations,
                 min(n_nationkey) AS min_nation, max(n_nationkey) AS max_nation
          FROM nation GROUP BY 1)
        SELECT 'n_nations' AS key,
               CAST(max(CASE WHEN n_regionkey = 0 THEN n_nations END) AS BIGINT) AS r0,
               CAST(max(CASE WHEN n_regionkey = 1 THEN n_nations END) AS BIGINT) AS r1,
               CAST(max(CASE WHEN n_regionkey = 2 THEN n_nations END) AS BIGINT) AS r2,
               CAST(max(CASE WHEN n_regionkey = 3 THEN n_nations END) AS BIGINT) AS r3,
               CAST(max(CASE WHEN n_regionkey = 4 THEN n_nations END) AS BIGINT) AS r4
        FROM m
        UNION ALL
        SELECT 'min_nation',
               CAST(max(CASE WHEN n_regionkey = 0 THEN min_nation END) AS BIGINT),
               CAST(max(CASE WHEN n_regionkey = 1 THEN min_nation END) AS BIGINT),
               CAST(max(CASE WHEN n_regionkey = 2 THEN min_nation END) AS BIGINT),
               CAST(max(CASE WHEN n_regionkey = 3 THEN min_nation END) AS BIGINT),
               CAST(max(CASE WHEN n_regionkey = 4 THEN min_nation END) AS BIGINT)
        FROM m
        UNION ALL
        SELECT 'max_nation',
               CAST(max(CASE WHEN n_regionkey = 0 THEN max_nation END) AS BIGINT),
               CAST(max(CASE WHEN n_regionkey = 1 THEN max_nation END) AS BIGINT),
               CAST(max(CASE WHEN n_regionkey = 2 THEN max_nation END) AS BIGINT),
               CAST(max(CASE WHEN n_regionkey = 3 THEN max_nation END) AS BIGINT),
               CAST(max(CASE WHEN n_regionkey = 4 THEN max_nation END) AS BIGINT)
        FROM m
        ORDER BY key""")
    ),
    QueryDef(
      "agg_listagg",
      (s, dir) => {
        // LISTAGG (new in Spark 4) — ordered string aggregation with
        // WITHIN GROUP, the SQL-standard report concatenation. DISTINCT
        // bounds the aggregation buffer to the segment domain (5 values)
        // regardless of group size, and the explicit ORDER BY makes the
        // string deterministic — an unordered listagg would be
        // partition-order-dependent and unoracleable.
        t(s, dir, "customer")
          .groupBy(col("c_nationkey"))
          .agg(
            expr("listagg(DISTINCT c_mktsegment, '|') WITHIN GROUP (ORDER BY c_mktsegment)")
              .as("segments"),
            count(lit(1)).as("n_customers"))
          .orderBy("c_nationkey")
      },
      Some("""
        SELECT c_nationkey,
               string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) AS segments,
               count(*) AS n_customers
        FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")
    ),
    QueryDef(
      "agg_percentile",
      (s, dir) =>
        // Exact interpolated percentiles per group. `percentile` holds the
        // group's values in memory — fine per-group at any scale when group
        // count is bounded; the unbounded-cardinality scale path is
        // approx_percentile (t-digest, mergeable partial aggs).
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            q4(expr("percentile(l_extendedprice, 0.25)")).as("p25"),
            q4(expr("percentile(l_extendedprice, 0.5)")).as("p50"),
            q4(expr("percentile(l_extendedprice, 0.75)")).as("p75"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               floor(quantile_cont(l_extendedprice, 0.25) * 10000 + 0.5) / 10000 AS p25,
               floor(quantile_cont(l_extendedprice, 0.5)  * 10000 + 0.5) / 10000 AS p50,
               floor(quantile_cont(l_extendedprice, 0.75) * 10000 + 0.5) / 10000 AS p75,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),
    QueryDef(
      "agg_approx_percentile",
      // The unbounded-cardinality scale path named above: approx_percentile
      // builds a mergeable quantile sketch per partition (bounded memory at
      // any group cardinality; map-side combinable) — Approx.approxPercentile.
      // Verdict frame: per group, the exact count (replayable) plus one
      // boolean per quantile asserting the sketch's GUARANTEED rank-error
      // band (accuracy=1000 ⇒ |rank(approx) − q·n| ≤ ⌈n/1000⌉ + 1), checked
      // in-engine by counting values <,≤ the approx value — the identical
      // band RecallSpec asserts numerically via sorted order statistics.
      (s, dir) => {
        val ap = Approx.approxPercentile(s, dir)
        val joined = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"))
          .join(broadcast(ap.drop("n")), Seq("l_returnflag"))
        val counted = joined.groupBy(col("l_returnflag")).agg(
          count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("p25"), 1L).otherwise(0L)).as("lt25"),
          sum(when(col("l_extendedprice") <= col("p25"), 1L).otherwise(0L)).as("le25"),
          sum(when(col("l_extendedprice") < col("p50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("l_extendedprice") <= col("p50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("l_extendedprice") < col("p75"), 1L).otherwise(0L)).as("lt75"),
          sum(when(col("l_extendedprice") <= col("p75"), 1L).otherwise(0L)).as("le75"))
        val slack = ceil(col("n") / 1000.0).cast("long") + 1L
        def ok(q: Double, lt: String, le: String) = {
          val r = floor(col("n") * q).cast("long")
          col(lt) <= r + slack && col(le) >= r - slack + 1L
        }
        counted.select(col("l_returnflag"), col("n"),
            ok(0.25, "lt25", "le25").as("p25_ok"),
            ok(0.5, "lt50", "le50").as("p50_ok"),
            ok(0.75, "lt75", "le75").as("p75_ok"),
            // rank_band is DEGENERATE (2 or 0, no intermediate 1): the
            // sketch's rank-error guarantee is near-tight on real data
            // (measured max deviation 0.69-0.76× of the ⌈n/1000⌉+1 bound
            // at all three SFs), so no tighter watch threshold exists
            // that corpus regeneration couldn't flip spuriously. The
            // column keeps the frame shape uniform across the 13
            // graduated queries.
            when(ok(0.25, "lt25", "le25") && ok(0.5, "lt50", "le50") &&
              ok(0.75, "lt75", "le75"), lit(2)).otherwise(lit(0))
              .as("rank_band"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, count(*) AS n,
               TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, 2 AS rank_band
        FROM lineitem GROUP BY 1 ORDER BY 1""")
    ),
    QueryDef(
      "agg_median_selection",
      // Exact per-group median WITHOUT per-group buffering: percentile()
      // (agg_percentile) materializes every group value in executor
      // memory — fine for bounded groups, fatal for unbounded ones. The
      // selection shape instead sorts WITHIN the group's partition
      // (spillable sort, no array) and picks the lower median by
      // POSITION: rn = (n+1) div 2 over a unique total order. Pure
      // integer position logic — no interpolation, no float math — so
      // both engines agree bit-for-bit. One l_returnflag shuffle serves
      // the count window and the ranked window.
      (s, dir) => {
        // Round-15 probe, deliberately NOT kept: collapsing to
        // per-(group, value) counts before the selection window
        // A/B-measured SLOWER at sf0.1 (1.34 vs 0.97 median-of-7) —
        // l_extendedprice is continuous, so nearly every value is
        // distinct and the "collapse" only added a 600k-key exchange.
        // The raw-row selection shape stays.
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"),
            col("l_orderkey"), col("l_linenumber"))
        val ranked = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        val whole = Window.partitionBy(col("l_returnflag"))
        li.withColumn("rn", row_number().over(ranked))
          .withColumn("cnt", count(lit(1)).over(whole))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("l_returnflag"), col("cnt").as("n"),
            col("l_extendedprice").as("median"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH r AS (
          SELECT l_returnflag, l_extendedprice,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
                 count(*) OVER (PARTITION BY l_returnflag) AS cnt
          FROM lineitem)
        SELECT l_returnflag, cnt AS n, l_extendedprice AS median
        FROM r WHERE rn = (cnt + 1) // 2
        ORDER BY l_returnflag""")
    ),
    QueryDef(
      "agg_stats",
      (s, dir) =>
        // Second-moment statistics; all are sum-of-products under the hood,
        // so partial (map-side) aggregation applies. Rounded because
        // floating accumulation order differs between engines (and between
        // Spark runs); the quantization absorbs last-ulp drift.
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            floor(stddev_samp(col("l_quantity")) * 1000000 + 0.5).cast("long").as("sd_qty_e6"),
            floor(corr(col("l_quantity"), col("l_extendedprice")) * 10000 + 0.5).cast("long").as("corr_e4"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               CAST(floor(stddev_samp(l_quantity) * 1000000 + 0.5) AS BIGINT) AS sd_qty_e6,
               CAST(floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5) AS BIGINT) AS corr_e4,
               min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),
    QueryDef(
      "window_ntile",
      (s, dir) => {
        // Distribution window functions. The ORDER BY includes the unique
        // o_orderkey so tied totalprices are totally ordered — without it
        // ntile/percent_rank are nondeterministic across engines AND runs.
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            ntile(4).over(w).as("quartile"),
            floor(percent_rank().over(w) * 1000000 + 0.5).cast("long").as("pr_e6"),
            floor(cume_dist().over(w) * 1000000 + 0.5).cast("long").as("cd_e6"))
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               ntile(4) OVER w AS quartile,
               CAST(floor(percent_rank() OVER w * 1000000 + 0.5) AS BIGINT) AS pr_e6,
               CAST(floor(cume_dist() OVER w * 1000000 + 0.5) AS BIGINT) AS cd_e6
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey""")
    ),
    QueryDef(
      "window_first_last",
      (s, dir) => {
        // Positional window values over an EXPLICIT full-partition frame:
        // last_value/nth_value default to the running frame (unbounded
        // preceding → current row), which silently yields the current row
        // — the full frame must be spelled out for "partition extremes".
        // Unique o_orderkey in the ordering keeps ties deterministic.
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            first(col("o_orderkey")).over(w).as("cheapest_key"),
            last(col("o_orderkey")).over(w).as("priciest_key"),
            nth_value(col("o_orderkey"), 3).over(w).as("third_cheapest_key"))
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               first_value(o_orderkey) OVER w AS cheapest_key,
               last_value(o_orderkey) OVER w AS priciest_key,
               nth_value(o_orderkey, 3) OVER w AS third_cheapest_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_orderkey""")
    ),
    QueryDef(
      "sessionize_batch",
      (s, dir) => {
        // Batch gaps-and-islands sessionization (30-min inactivity gap) —
        // the batch twin of stream_session: lag marks session starts, a
        // running sum numbers them. One shuffle on user_id; both windows
        // share the same partitioning so Catalyst plans a single Exchange.
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"))
          .withColumn("new_session",
            // within 30 min of the previous event -> same session (0);
            // larger gap or first event (NULL lag) -> new session (1)
            when(col("ts") < lag(col("ts"), 1).over(byUser) + expr("INTERVAL 30 MINUTES"), 0)
              .otherwise(1))
          .withColumn("sid", sum(col("new_session"))
            .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
          .select("user_id", "session_start", "n_events")
          .orderBy("user_id", "session_start")
      },
      Some("""
        WITH e AS (
          SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events),
        marked AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sessions AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked)
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        FROM sessions GROUP BY user_id, sid
        ORDER BY user_id, session_start""")
    ),
    QueryDef(
      "sessionize_session_window",
      // The same 30-min sessionization through Spark's NATIVE batch
      // session_window operator (the engine's merging-session-window
      // aggregate, not a window-function rewrite) — one groupBy, no lag/
      // running-sum chain. Same-session rule is identical (next event
      // strictly inside prev + gap), so it shares the gaps-and-islands
      // oracle with sessionize_batch.
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"), col("n_events"))
          .orderBy("user_id", "session_start"),
      Some("""
        WITH e AS (
          SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events),
        marked AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sessions AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked)
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        FROM sessions GROUP BY user_id, sid
        ORDER BY user_id, session_start""")
    ),
    QueryDef(
      "variant_funcs",
      // Spark 4 VARIANT surface: parse_json into the binary semi-
      // structured type, typed path extraction with variant_get — the
      // open-schema ingestion path that replaces string-JSON reparsing
      // per access. Missing paths yield NULL, not errors.
      (s, dir) =>
        Tables.events(s, dir)
          .select(col("event_id"),
            expr("variant_get(parse_json(props), '$.k', 'int')").as("k_val"),
            expr("variant_get(parse_json(props), '$.missing', 'int')")
              .as("missing_val"))
          .orderBy("event_id"),
      Some("""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
               CAST(json_extract_string(props, '$.missing') AS INTEGER)
                 AS missing_val
        FROM events ORDER BY event_id""")
    ),
    QueryDef(
      "agg_skew_salted",
      (s, dir) => {
        // Two-stage skew-salted aggregation: stage 1 spreads each hot group
        // key over 16 salt buckets (pre-shuffle cardinality x16, but no
        // single reducer owns a hot key); stage 2 re-aggregates the 16
        // partials. Bit-exact because the quantized partial sums are longs
        // (associative) — the pattern a 100 TB job uses when one key owns
        // 10% of the data. AQE's skew handling covers joins; aggregation
        // skew still wants this.
        val quanta = floor(col("l_extendedprice") * 10000 + 0.5).cast("long")
        t(s, dir, "lineitem")
          .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
          .groupBy(col("l_returnflag"), col("salt"))
          .agg(sum(quanta).as("part_sum"), count(lit(1)).as("part_n"))
          .groupBy(col("l_returnflag"))
          .agg(
            (floor((sum(col("part_sum")) + 50) / 100) / 100.0).as("total_price"),
            sum(col("part_n")).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag,
               floor((sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total_price,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),
    QueryDef(
      "write_partitioned",
      (s, dir) => {
        // Hive-style partitioned sink + partition-pruned scan: the read
        // back filters on the partition column, so only the o_orderstatus=F
        // directory is listed — the other partitions are never opened
        // (PartitionFilters in the scan node, zero data skipped rows).
        val tmp = graft.ops.SparkOps.scratch("graft_part_orders").toString
        t(s, dir, "orders")
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("o_orderstatus") === "F")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), Tables.moneySum(col("o_totalprice")).as("total"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               floor((sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    ),
    QueryDef(
      "write_table_v2",
      (s, dir) => {
        // DataFrameWriterV2 — the catalog-table sink surface
        // (writeTo(...).using(...).create()): the modern V2 API a
        // lakehouse deployment swaps for path writes. The session catalog
        // supports CTAS but not atomic RTAS, so rerun idempotence is an
        // explicit DROP; the read-back resolves by TABLE NAME through the
        // catalog, proving the metadata round-trip, and aggregates the
        // managed copy. Like the other sink queries (write_parquet,
        // write_partitioned) the write executes when the harness builds
        // the query — once per Verify/Bench run, never concurrently.
        // The identifier pins the DEFAULT database explicitly so the
        // managed location is <warehouse>/graft_supplier_v2 regardless of
        // the session's current database — the same path the stale-
        // location cleanup below clears.
        s.sql("DROP TABLE IF EXISTS default.graft_supplier_v2")
        // a fresh session's in-memory catalog forgets the table but the
        // managed LOCATION persists on disk — clear it or CTAS refuses
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "graft_supplier_v2")
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
        t(s, dir, "supplier")
          .writeTo("default.graft_supplier_v2").using("parquet").create()
        s.table("default.graft_supplier_v2")
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), Tables.moneySum(col("s_acctbal")).as("total_bal"))
          .orderBy("s_nationkey")
      },
      Some("""
        SELECT s_nationkey, count(*) AS n,
               floor((sum(CAST(floor(s_acctbal * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total_bal
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")
    ),
    QueryDef(
      "join_dpp_pruned",
      // DYNAMIC partition pruning — the scan-reduction mechanism static
      // pruning can't provide: the fact's surviving partitions are only
      // known after filtering the DIM side (here: months restricted by a
      // year+quarter predicate the planner can't fold into month values),
      // so Catalyst injects the dim's join keys as a runtime
      // PartitionFilter on the fact scan (reusing the broadcast). At
      // 100 TB a date-partitioned fact joined to a filtered calendar dim
      // reads 3 months of files, not 84 — without the query author ever
      // repeating the filter on the fact side. PlanShapeSpec fences the
      // dynamicpruning expression in the scan. The month-partitioned
      // copy of orders stages once per dataset dir (mtime-checked), the
      // same staging contract as the streaming replay dirs.
      (s, dir) => {
        val tmp = graft.ops.SparkOps.scratch(
          s"graft_dpp_orders_${Integer.toHexString(dir.hashCode)}")
        val staged = graft.ops.SparkOps.stageOnce(
          java.nio.file.Paths.get(s"$dir/orders.parquet"), tmp) {
          t(s, dir, "orders")
            .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
            .write.mode("overwrite").partitionBy("o_month").parquet(tmp.toString)
        }
        val fact = s.read.parquet(staged)
        val dim = t(s, dir, "orders")
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("d_month"),
            year(col("o_orderdate")).as("y"), quarter(col("o_orderdate")).as("q"))
          .distinct()
          .filter(col("y") === 1996 && col("q") === 1)
        fact.join(broadcast(dim), col("o_month") === col("d_month"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            Tables.moneySum(col("o_totalprice")).as("total"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               floor((sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total
        FROM orders WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) = 1
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    ),
    QueryDef(
      "agg_mode",
      (s, dir) =>
        // Modal value per group with DETERMINISTIC ties: two-level
        // aggregate + max(struct(count, value)) argmax. Built-in mode()
        // breaks ties arbitrarily (and differently across engines), so it
        // cannot be graded — and shouldn't be used in reproducible
        // pipelines either. Both aggregates are associative: map-side
        // partials all the way.
        t(s, dir, "orders")
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("o_orderstatus"))
          .agg(max(struct(col("cnt"), col("o_orderpriority"))).as("b"))
          .select(col("o_orderstatus"),
            col("b.o_orderpriority").as("mode_priority"),
            col("b.cnt").as("mode_count"))
          .orderBy("o_orderstatus"),
      Some("""
        WITH c AS (
          SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
          FROM orders GROUP BY 1, 2),
        r AS (
          SELECT o_orderstatus, o_orderpriority, cnt,
                 row_number() OVER (PARTITION BY o_orderstatus
                   ORDER BY cnt DESC, o_orderpriority DESC) AS rn
          FROM c)
        SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
        FROM r WHERE rn = 1 ORDER BY o_orderstatus""")
    ),
    QueryDef(
      "agg_collect",
      (s, dir) =>
        // Ordered collection aggregate: collect_list has nondeterministic
        // arrival order, so sort the collected array before joining — the
        // only reproducible way to build delimited lists in a distributed
        // engine.
        t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(
            concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
            count(lit(1)).as("n"))
          .orderBy("r_name"),
      Some("""
        SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
               count(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")
    ),
    QueryDef(
      "join_full_outer",
      (s, dir) => {
        // Full-outer join of two filtered sides chosen so both null
        // shapes occur (customers with no big order; big-order customers
        // outside the low-balance set). Shuffled hash/SMJ — full outer
        // can't broadcast, so both sides partition on the key.
        val lowBal = t(s, dir, "customer")
          .filter(col("c_acctbal") < 0)
          .select(col("c_custkey"), col("c_acctbal"))
        val bigOrders = t(s, dir, "orders")
          .filter(col("o_totalprice") > 450000)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_big"))
        lowBal.join(bigOrders, lowBal("c_custkey") === bigOrders("o_custkey"), "full_outer")
          .select(
            coalesce(lowBal("c_custkey"), bigOrders("o_custkey")).as("custkey"),
            col("c_acctbal"), col("n_big"))
          .orderBy("custkey")
      },
      Some("""
        SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, c.c_acctbal, o.n_big
        FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal < 0) c
        FULL JOIN (SELECT o_custkey, count(*) AS n_big FROM orders
                   WHERE o_totalprice > 450000 GROUP BY o_custkey) o
          ON c.c_custkey = o.o_custkey
        ORDER BY custkey""")
    ),
    QueryDef(
      "scan_orc",
      (s, dir) => {
        // Round-trip through the ORC source (the second columnar format
        // production lakes carry besides parquet).
        val tmp = graft.ops.SparkOps.scratch("graft_orc_nation").toString
        val src = t(s, dir, "nation")
        src.coalesce(1).write.mode("overwrite").orc(tmp)
        s.read.schema(src.schema).orc(tmp).orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")
    ),
    QueryDef(
      "sample_hash_k",
      // Reproducible fixed-size "random" sample: order by a cryptographic
      // hash of the stable key and take k — unlike rand()/TABLESAMPLE the
      // selection is identical across runs, engines, partitionings and
      // retries (a training-data pipeline requirement: the eval split must
      // not drift between cluster runs). Executes as TakeOrderedAndProject
      // on the hash — per-partition heaps of k, no global sort. md5 is the
      // portable hash here; xxhash64 is the cheaper Spark-side choice when
      // cross-engine replay isn't needed.
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            md5(col("o_orderkey").cast("string")).as("h"))
          .orderBy("h", "o_orderkey")
          .limit(1000)
          .select("o_orderkey", "o_totalprice"),
      Some("""
        SELECT o_orderkey, o_totalprice FROM (
          SELECT o_orderkey, o_totalprice,
                 md5(CAST(o_orderkey AS VARCHAR)) AS h
          FROM orders ORDER BY h, o_orderkey LIMIT 1000)
        ORDER BY o_orderkey""")
    ),
    QueryDef(
      "union_evolve",
      // Schema-evolution-tolerant append: two generations of the same feed
      // with different column sets union by NAME with missing columns
      // null-filled (`unionByName(allowMissingColumns = true)`) — the
      // positional UNION would mis-align or reject. This is how a lake
      // ingests a feed across a schema migration without rewriting history.
      (s, dir) => {
        val gen1 = t(s, dir, "orders")
          .filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
        val gen2 = t(s, dir, "orders")
          .filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderpriority"))
        gen1.unionByName(gen2, allowMissingColumns = true)
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, NULL, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
        ORDER BY o_orderkey""")
    ),
    QueryDef(
      "join_hint_shuffle_hash",
      // Join-strategy hint surface: SHUFFLE_HASH forces a shuffled hash
      // join where Catalyst's cost model would pick broadcast or SMJ — the
      // escape hatch when statistics mislead (e.g. a filter the optimizer
      // can't estimate leaves a "big" side actually small enough to hash).
      // Semantics are unchanged; only the physical strategy moves, which
      // PlanShapeSpec asserts.
      (s, dir) => {
        val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        val o = t(s, dir, "orders").hint("SHUFFLE_HASH")
          .select(col("o_orderkey"), col("o_orderpriority"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            Tables.moneySum(col("l_quantity")).as("qty"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               floor((sum(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    ),
    QueryDef(
      "rfm_segmentation",
      // RFM customer segmentation: per-customer recency/frequency/monetary
      // extremes (map-side-combinable aggregates over orders), then
      // quartile codes over a TOTAL order (metric, custkey) so equal
      // metrics land deterministically. Quartiles come from
      // SparkOps.distributedNtile — a two-phase distributed ranking
      // (range-repartition, parallel within-partition row_number,
      // broadcast partition offsets), never a single-partition global
      // window: at billions of customers each of the three rankings stays
      // a fully parallel sort, bit-identical to SQL ntile.
      (s, dir) => {
        val o = t(s, dir, "orders")
        val anchor = o.agg(max(to_date(col("o_orderdate"))).as("anchor"))
        val rfm = o.groupBy(col("o_custkey"))
          .agg(max(to_date(col("o_orderdate"))).as("last_d"),
            count(lit(1)).as("f"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("m_cents"))
          .crossJoin(broadcast(anchor))
          .select(col("o_custkey"),
            datediff(col("anchor"), col("last_d")).as("r"),
            col("f"), col("m_cents"))
        // The three quartile codings are INDEPENDENT rankings of the same
        // per-customer frame — run them on three driver threads over
        // NARROW (custkey, metric) projections instead of folding them
        // sequentially over the full frame (guide §2.6: each phase's
        // range-sample/offsets/join actions overlap the others'; §2.3:
        // each range exchange now carries one metric, not all three), and
        // join the three code columns back on the customer key. Same
        // distributedNtile per phase, so codes are unchanged.
        val rfmM = {
          import graft.ops.SparkOps.Materialize
          rfm.materialized
        }
        import scala.concurrent.{Await, Future, blocking}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val phases = Seq[(String, String, Seq[org.apache.spark.sql.Column])](
          ("r_q", "r", Seq(col("r"), col("o_custkey"))),
          ("f_q", "f", Seq(col("f").desc, col("o_custkey"))),
          ("m_q", "m_cents", Seq(col("m_cents").desc, col("o_custkey"))))
        // blocking{}: each phase runs Spark ACTIONS (range-sample +
        // offsets collect) on the shared global pool — mark them blocking
        // so the pool grows past its core-count cap instead of
        // serializing phases behind each other's parked threads when many
        // queries share the pool (ADVICE r15).
        val coded = Await.result(Future.sequence(phases.map {
          case (name, metric, ord) => Future { blocking {
            graft.ops.SparkOps.distributedNtile(
              rfmM.select(col("o_custkey"), col(metric)), 4, name, ord: _*)
              .select(col("o_custkey"), col(name))
          } }
        }), Duration.Inf).reduce(_.join(_, "o_custkey"))
        coded
          .groupBy("r_q", "f_q", "m_q")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("r_q", "f_q", "m_q")
      },
      Some("""
        WITH a AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
        rfm AS (
          SELECT o_custkey,
                 datediff('day', max(CAST(o_orderdate AS DATE)), (SELECT anchor FROM a)) AS r,
                 count(*) AS f,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m_cents
          FROM orders GROUP BY o_custkey),
        q AS (
          SELECT CAST(ntile(4) OVER (ORDER BY r, o_custkey) AS INTEGER) AS r_q,
                 CAST(ntile(4) OVER (ORDER BY f DESC, o_custkey) AS INTEGER) AS f_q,
                 CAST(ntile(4) OVER (ORDER BY m_cents DESC, o_custkey) AS INTEGER) AS m_q
          FROM rfm)
        SELECT r_q, f_q, m_q, count(*) AS n_customers
        FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")
    ),
    QueryDef(
      "dq_referential_integrity",
      // FK orphan audit across the star schema — the DQ gate that
      // catches broken ingestion before a join silently drops rows:
      // each relationship is ONE left-anti join (shuffle on the key,
      // dims broadcast when small) counting children without a parent,
      // unioned into a (relationship, orphans, children) report.
      (s, dir) => {
        def audit(rel: String, child: DataFrame, key: String,
            parent: DataFrame, pkey: String) = {
          val orphans = child.join(parent,
            child(key) === parent(pkey), "left_anti")
          child.agg(count(lit(1)).as("n_children"))
            .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
            .select(lit(rel).as("relationship"), col("n_orphans"),
              col("n_children"))
        }
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
        Seq(
          audit("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
          audit("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
          audit("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"))
          .reduce(_ unionByName _)
          .orderBy("relationship")
      },
      Some("""
        SELECT 'customer.c_nationkey->nation' AS relationship,
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                  WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans,
               (SELECT count(*) FROM customer) AS n_children
        UNION ALL
        SELECT 'lineitem.l_orderkey->orders',
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey)),
               (SELECT count(*) FROM lineitem)
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey)),
               (SELECT count(*) FROM orders)
        ORDER BY relationship""")
    ),
    QueryDef(
      "dq_k_anonymity",
      // k-anonymity audit over the (nation, segment) quasi-identifier
      // pair — the privacy gate a PII-bearing corpus runs before
      // release: every equivalence class below k would re-identify its
      // members and must be suppressed or generalized. One group-by pass
      // (map-side combinable) then a one-row reduction; the report is
      // the class count, the below-k class count, the rows those classes
      // expose, and the smallest class size.
      (s, dir) => {
        val k = 5
        t(s, dir, "customer")
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_classes"),
            sum(when(col("n") < k, 1L).otherwise(0L)).as("classes_below_k"),
            sum(when(col("n") < k, col("n")).otherwise(0L)).as("rows_exposed"),
            min(col("n")).as("min_class_size"))
      },
      Some("""
        WITH g AS (
          SELECT c_nationkey, c_mktsegment, count(*) AS n
          FROM customer GROUP BY 1, 2)
        SELECT count(*) AS n_classes,
               CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS classes_below_k,
               CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                 AS rows_exposed,
               min(n) AS min_class_size
        FROM g""")
    ),
    QueryDef(
      "dq_checks",
      // Deequ-style expectation suite: five named row-level rules checked
      // in ONE pass (one aggregate of conditional sums — never one job per
      // rule), then unpivoted to a (rule, violations, rows) report via
      // explode of uniformly-named structs.
      (s, dir) => {
        val rules = Seq(
          "discount_in_range" -> (col("l_discount") >= 0 && col("l_discount") <= 0.1),
          "price_positive" -> (col("l_extendedprice") > 0),
          "qty_in_range" -> (col("l_quantity") >= 1 && col("l_quantity") <= 50),
          "returnflag_valid" -> col("l_returnflag").isin("A", "N", "R"),
          "shipdate_present" -> col("l_shipdate").isNotNull)
        val aggs = rules.map { case (n, c) =>
          sum(when(!c, 1L).otherwise(0L)).as(n)
        } :+ count(lit(1)).as("n_rows")
        t(s, dir, "lineitem")
          .agg(aggs.head, aggs.tail: _*)
          .select(explode(expr(
            "array(" + rules.map { case (n, _) =>
              s"struct('$n' AS rule, $n AS n_violations)"
            }.mkString(",") + ")")).as("x"), col("n_rows"))
          .select(col("x.rule").as("rule"),
            col("x.n_violations").as("n_violations"), col("n_rows"))
          .orderBy("rule")
      },
      Some {
        val rules = Seq(
          "discount_in_range" -> "NOT (l_discount >= 0 AND l_discount <= 0.1)",
          "price_positive" -> "NOT (l_extendedprice > 0)",
          "qty_in_range" -> "NOT (l_quantity >= 1 AND l_quantity <= 50)",
          "returnflag_valid" -> "l_returnflag NOT IN ('A', 'N', 'R')",
          "shipdate_present" -> "l_shipdate IS NULL")
        val sums = rules.map { case (n, p) =>
          s"CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS $n"
        }.mkString(", ")
        val arms = rules.map { case (n, _) =>
          s"SELECT '$n' AS rule, $n AS n_violations, n_rows FROM s"
        }.mkString(" UNION ALL ")
        s"WITH s AS (SELECT count(*) AS n_rows, $sums FROM lineitem) $arms ORDER BY rule"
      }
    ),
    QueryDef(
      "join_null_safe",
      // Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
      // each other instead of silently dropping — the semantics ETL key
      // reconciliation needs when "unknown" is itself a join key. Executes
      // as an ordinary hash join on the null-safe key (still an equi-join;
      // no fallback to nested loops).
      (s, dir) => {
        val l = t(s, dir, "orders")
          .groupBy(nullif(col("o_orderstatus"), lit("O")).as("k"))
          .agg(count(lit(1)).as("n_l"))
        val r = t(s, dir, "orders")
          .groupBy(nullif(col("o_orderstatus"), lit("P")).as("k"))
          .agg(count(lit(1)).as("n_r"))
        l.join(r, l("k") <=> r("k"))
          .select(coalesce(l("k"), lit("NULL_KEY")).as("k"),
            col("n_l"), col("n_r"))
          .orderBy("k")
      },
      Some("""
        WITH l AS (SELECT nullif(o_orderstatus, 'O') AS k, count(*) AS n_l
                   FROM orders GROUP BY 1),
        r AS (SELECT nullif(o_orderstatus, 'P') AS k, count(*) AS n_r
              FROM orders GROUP BY 1)
        SELECT coalesce(l.k, 'NULL_KEY') AS k, n_l, n_r
        FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
        ORDER BY k""")
    ),
    QueryDef(
      "scan_text",
      // Raw-text source with schema-on-read: write delimited lines, read
      // them back as a one-column `value` scan, parse with split + casts.
      // The parse is ordinary codegen'd projection — the pattern for any
      // line-oriented format Spark lacks a connector for (logs, WARC
      // headers, custom exports); at scale the text scan splits by line
      // ranges exactly like CSV.
      (s, dir) => {
        val tmp = graft.ops.SparkOps.scratch("graft_text_region").toString
        t(s, dir, "region")
          .select(concat_ws("|", col("r_regionkey"), col("r_name")).as("value"))
          .coalesce(1).write.mode("overwrite").text(tmp)
        s.read.text(tmp)
          .select(split(col("value"), "\\|").as("p"))
          .select(col("p").getItem(0).cast("int").as("r_regionkey"),
            col("p").getItem(1).as("r_name"))
          .orderBy("r_regionkey")
      },
      Some("SELECT * FROM region ORDER BY r_regionkey")
    ),
    QueryDef(
      "scan_xml",
      // Round-trip through Spark 4's built-in XML source (rowTag records,
      // explicit schema — inference over XML costs a full extra pass).
      (s, dir) => {
        val tmp = graft.ops.SparkOps.scratch("graft_xml_nation").toString
        val src = t(s, dir, "nation")
        src.coalesce(1).write.format("xml").option("rowTag", "nation")
          .mode("overwrite").save(tmp)
        s.read.schema(src.schema).format("xml").option("rowTag", "nation")
          .load(tmp).orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")
    ),
    QueryDef(
      "sql_subqueries",
      (s, dir) => {
        // The spark.sql entry point with a scalar subquery + a correlated
        // EXISTS — Catalyst rewrites the scalar subquery to a broadcast
        // one-row join and the EXISTS to a left-semi join; nothing here is
        // driver-side. Predicates compare exact types (timestamps/ints)
        // only, so the oracle agrees bit-for-bit.
        t(s, dir, "orders").createOrReplaceTempView("orders_v")
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""
          SELECT o_orderpriority, count(*) AS n
          FROM orders_v
          WHERE o_orderdate >= (SELECT max(o_orderdate) - INTERVAL 30 DAY FROM orders_v)
            AND EXISTS (SELECT 1 FROM lineitem_v
                        WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_orderdate >= (SELECT max(o_orderdate) - INTERVAL 30 DAY FROM orders)
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    ),
    QueryDef(
      "sql_recursive_cte",
      (s, dir) => {
        // Spark 4's WITH RECURSIVE (SPARK-24497): the calendar month spine
        // is generated by the recursion itself (84 iterations, driver-tiny)
        // and the fact left-joins onto it so order-free months surface as
        // zero rows — the gap-filled-report shape expressed purely in SQL
        // text. The fact side aggregates to month grain BEFORE the spine
        // join, so at 100 TB the recursion never touches fact cardinality.
        t(s, dir, "orders").createOrReplaceTempView("orders_v")
        s.sql("""
          WITH RECURSIVE months(m) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT m + INTERVAL '1' MONTH FROM months
            WHERE m < DATE '2001-12-01'
          ),
          oc AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
                   count(*) AS n,
                   sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS tot_e4
            FROM orders_v GROUP BY 1
          )
          SELECT CAST(m AS DATE) AS month,
                 coalesce(n, 0L) AS n_orders,
                 coalesce(tot_e4, 0L) AS total_e4
          FROM months LEFT JOIN oc ON CAST(m AS DATE) = om
          ORDER BY month""")
      },
      Some("""
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
          WHERE m < DATE '2001-12-01'
        ),
        oc AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
                 count(*) AS n,
                 sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS tot_e4
          FROM orders GROUP BY 1
        )
        SELECT m AS month,
               CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
               CAST(coalesce(tot_e4, 0) AS BIGINT) AS total_e4
        FROM months LEFT JOIN oc ON m = om
        ORDER BY month""")
    ),
    QueryDef(
      "sql_recursive_hierarchy",
      (s, dir) => {
        // Recursion with real data flow (the spine query above recurses
        // over 84 generated rows; this one pushes the WHOLE part table
        // through every iteration): each part walks the implicit binary
        // tree k -> k div 2 to the root, and the report is nodes-per-depth
        // with the ancestor-key checksum — the hierarchy-rollup shape
        // (org charts, category trees) in pure SQL text. Depth is bounded
        // by log2(max key) so the loop terminates in ~20 iterations
        // regardless of SF; each iteration is a map-side projection of the
        // previous level (no join in the recursive step), so at 100 TB the
        // working set never exceeds one level of the frontier.
        //
        // Spark's infinite-recursion guard (spark.sql.cteRecursionRowLimit,
        // default 1M) counts every row the loop ACCUMULATES — parts × depth
        // — which crosses 1M at sf1 (200k parts × ~27 levels) even though
        // the recursion is structurally bounded at ≤64 levels for any
        // int64 key. Found by the round-15 sf1 oracle gate. Size the guard
        // from that structural bound instead of letting it cap scale; the
        // level guard (cteRecursionLevelLimit=100) still backstops runaway
        // recursion.
        val partsV = t(s, dir, "part")
        partsV.createOrReplaceTempView("part_v")
        s.conf.set("spark.sql.cteRecursionRowLimit",
          math.max(1000000L, partsV.count() * 64).toString)
        s.sql("""
          WITH RECURSIVE walk(k, d) AS (
            SELECT p_partkey, 0 FROM part_v
            UNION ALL
            SELECT k div 2, d + 1 FROM walk WHERE k > 0
          )
          SELECT d AS depth, count(*) AS n_nodes,
                 sum(k) AS key_checksum
          FROM walk GROUP BY d ORDER BY d""")
      },
      Some("""
        WITH RECURSIVE walk(k, d) AS (
          SELECT p_partkey, 0 FROM part
          UNION ALL
          SELECT k // 2, d + 1 FROM walk WHERE k > 0
        )
        SELECT d AS depth, CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(k) AS BIGINT) AS key_checksum
        FROM walk GROUP BY d ORDER BY d""")
    ),
    QueryDef(
      "sql_pipe_syntax",
      (s, dir) => {
        // Spark 4's SQL pipe syntax (SPARK-49555): the same declarative
        // plan as a chained |> flow — WHERE prunes at the scan, EXTEND
        // derives the cent quanta once, AGGREGATE partial-combines
        // map-side. Pipe order IS evaluation order, so the derived column
        // exists before the aggregate references it; Catalyst plans it
        // identically to the nested-SQL equivalent the oracle runs.
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""
          FROM lineitem_v
          |> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1999-01-01'
          |> EXTEND CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
               AS BIGINT) AS rev_q
          |> AGGREGATE count(*) AS n_lines, sum(rev_q) AS rev_e4
             GROUP BY l_returnflag, l_linestatus
          |> ORDER BY l_returnflag, l_linestatus""")
      },
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS rev_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1999-01-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    ),
    QueryDef(
      "sql_udf_scalar",
      (s, dir) => {
        // Spark 4's SQL-language scalar UDF (CREATE FUNCTION ... RETURN
        // expr): the body is INLINED into the plan at resolution — unlike
        // a JVM udf() it stays inside WholeStageCodegen and keeps filter
        // pushdown eligibility. CREATE OR REPLACE keeps the entry
        // idempotent across the shared bench/verify session.
        t(s, dir, "customer").createOrReplaceTempView("customer_v")
        s.sql("""
          CREATE OR REPLACE TEMPORARY FUNCTION money_e4(x DOUBLE)
          RETURNS BIGINT RETURN CAST(floor(x * 10000 + 0.5) AS BIGINT)""")
        s.sql("""
          SELECT c_mktsegment, count(*) AS n_cust,
                 sum(money_e4(c_acctbal)) AS bal_e4
          FROM customer_v
          WHERE money_e4(c_acctbal) > 0
          GROUP BY c_mktsegment
          ORDER BY c_mktsegment""")
      },
      Some("""
        SELECT c_mktsegment, count(*) AS n_cust,
               CAST(sum(CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS bal_e4
        FROM customer
        WHERE CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT) > 0
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")
    ),
    QueryDef(
      "window_range_frame",
      (s, dir) => {
        // RANGE-framed window: per-customer rolling 30-day order total.
        // The frame is value-based (peer days included regardless of row
        // order), so results are deterministic even with same-day ties;
        // sums run over long-quantized cents — exact in any engine.
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_num"))
          .rangeBetween(-30, Window.currentRow)
        t(s, dir, "orders")
          .withColumn("day_num",
            datediff(col("o_orderdate"), to_date(lit("1970-01-01"))))
          .withColumn("rolling_e4",
            sum(floor(col("o_totalprice") * 10000 + 0.5).cast("long")).over(w))
          .select("o_orderkey", "o_custkey", "day_num", "rolling_e4")
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey,
               datediff('day', DATE '1970-01-01', o_orderdate) AS day_num,
               CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_e4
        FROM orders ORDER BY o_orderkey""")
    ),
    QueryDef(
      "join_bucketed",
      (s, dir) => {
        // Bucketed tables co-locate both sides on the join key at WRITE
        // time: the join plans with zero Exchange on either side (asserted
        // in PlanShapeSpec) — at 100 TB this converts the recurring
        // join shuffle into a one-time layout cost, the single biggest
        // lever for repeated fact-dim joins.
        // A fresh session's in-memory catalog forgets managed tables while
        // their warehouse directories survive — drop both before writing.
        def reset(table: String): Unit = {
          s.sql(s"DROP TABLE IF EXISTS $table")
          val wh = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir"))
          val dir = java.nio.file.Paths.get(
            if (wh.getScheme == "file") java.nio.file.Paths.get(wh).toString
            else wh.getPath).resolve(table)
          if (java.nio.file.Files.exists(dir)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
          }
        }
        // The two bucketed writes are independent jobs over different
        // tables — overlap them on two driver threads so the second
        // write's tasks back-fill the first's commit/tail idle (guide
        // §2.6); each thread does its own reset first. Both complete
        // before the join below reads the tables.
        import scala.concurrent.{Await, Future, blocking}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        // blocking{}: the writes are blocking Spark actions on the shared
        // global pool (ADVICE r15) — let the pool grow instead of
        // starving other queries' futures under the concurrent bench.
        val writes = Seq(
          Future { blocking {
            reset("graft_orders_bucketed")
            t(s, dir, "orders").write.mode("overwrite")
              .bucketBy(8, "o_custkey").sortBy("o_custkey")
              .saveAsTable("graft_orders_bucketed")
          } },
          Future { blocking {
            reset("graft_customer_bucketed")
            t(s, dir, "customer").write.mode("overwrite")
              .bucketBy(8, "c_custkey").sortBy("c_custkey")
              .saveAsTable("graft_customer_bucketed")
          } })
        Await.result(Future.sequence(writes), Duration.Inf)
        s.table("graft_customer_bucketed")
          .join(s.table("graft_orders_bucketed"),
            col("c_custkey") === col("o_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            Tables.moneySum(col("o_totalprice")).as("total"))
          .orderBy("c_nationkey")
      },
      Some("""
        SELECT c_nationkey, count(*) AS n_orders,
               floor((sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_nationkey ORDER BY c_nationkey""")
    ),
    QueryDef(
      "merge_upsert",
      (s, dir) => {
        // MERGE / upsert without a table format: full-outer join target ×
        // changeset, coalesce source-wins. The join shuffles both sides on
        // the key — the same shape Delta/Iceberg MERGE lowers to; with a
        // sorted/bucketed target the shuffle drops to the changeset side
        // only. Changeset here: +100.00 balance for every 10th customer
        // (updates) and re-keyed clones of custkey<50 (inserts).
        val tgt = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val updates = tgt.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + 100.0).as("c_acctbal"))
        val inserts = tgt.filter(col("c_custkey") < 50)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            concat(col("c_name"), lit("_new")).as("c_name"), col("c_acctbal"))
        val src = updates.unionByName(inserts)
          .select(col("c_custkey").as("k"), col("c_name").as("src_name"),
            col("c_acctbal").as("src_bal"))
        tgt.join(src, col("c_custkey") === col("k"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("k")).as("custkey"),
            coalesce(col("src_name"), col("c_name")).as("name"),
            coalesce(col("src_bal"), col("c_acctbal")).as("acctbal"))
          .orderBy("custkey")
      },
      Some("""
        WITH tgt AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        src AS (
          SELECT c_custkey AS k, c_name AS src_name, c_acctbal + 100.0 AS src_bal
          FROM tgt WHERE c_custkey % 10 = 0
          UNION ALL
          SELECT c_custkey + 1000000, c_name || '_new', c_acctbal
          FROM tgt WHERE c_custkey < 50)
        SELECT coalesce(t.c_custkey, s.k) AS custkey,
               coalesce(s.src_name, t.c_name) AS name,
               coalesce(s.src_bal, t.c_acctbal) AS acctbal
        FROM tgt t FULL JOIN src s ON t.c_custkey = s.k
        ORDER BY custkey""")
    ),
    QueryDef(
      "dedup_keep_latest",
      (s, dir) =>
        // CDC-style dedup: latest record per key, via the associative
        // max(struct(ts, tiebreak)) argmax — map-side partials, no window
        // sort; the canonical "compact a change stream to current state"
        // operator.
        t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("b"),
            count(lit(1)).as("n_orders"))
          .select(col("o_custkey"), col("b.o_orderkey").as("last_orderkey"),
            col("b.o_orderdate").as("last_orderdate"), col("n_orders"))
          .orderBy("o_custkey"),
      Some("""
        WITH r AS (
          SELECT o_custkey, o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
                 count(*) OVER (PARTITION BY o_custkey) AS n_orders
          FROM orders)
        SELECT o_custkey, o_orderkey AS last_orderkey,
               o_orderdate AS last_orderdate, n_orders
        FROM r WHERE rn = 1 ORDER BY o_custkey""")
    ),
    QueryDef(
      "dq_profile",
      (s, dir) => {
        // Column profiling in ONE pass over the table (null + distinct
        // counts per column computed in a single aggregate, then unpivoted
        // to rows) — profiling 100 TB must not scan once per column.
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        val aggs = cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          countDistinct(col(c)).as(s"${c}_distinct"))) :+
          count(lit(1)).as("n_rows")
        val one = t(s, dir, "orders").agg(aggs.head, aggs.tail: _*)
        val entries = cols.map(c => struct(
          lit(c).as("column_name"),
          col(s"${c}_nulls").cast("long").as("n_nulls"),
          col(s"${c}_distinct").cast("long").as("n_distinct")))
        one.select(explode(array(entries: _*)).as("p"), col("n_rows"))
          .select(col("p.column_name").as("column_name"), col("n_rows"),
            col("p.n_nulls").as("n_nulls"), col("p.n_distinct").as("n_distinct"))
          .orderBy("column_name")
      },
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        cols.map(c => s"""
          SELECT '$c' AS column_name, count(*) AS n_rows,
                 CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                 count(DISTINCT $c) AS n_distinct
          FROM orders""").mkString(" UNION ALL ") + " ORDER BY column_name"
      }
    ),
    QueryDef(
      "bloom_join",
      // Explicit runtime-filter join: build a Bloom filter over the
      // selective side's keys (BloomFilterAggregate — a mergeable sketch,
      // built distributed, only the ~240 KB bitset reaches the driver),
      // push a native `BloomFilterMightContain` probe down the fact scan,
      // then finish with the exact equi-join that removes the false
      // positives. These are the same expressions Spark's own
      // InjectRuntimeFilter plants when stats warrant; stated explicitly
      // here because at 100 TB the pre-filter drops ~80% of the fact
      // shuffle for a 20%-selective dimension predicate — and the native
      // probe stays inside the scan's whole-stage codegen (a closure UDF
      // would evaluate interpreted per fact row). Result is bit-identical
      // to the plain join — the oracle IS the plain join.
      (s, dir) => {
        graft.functions.BloomFunctions.registerAgg(s)
        val urgent = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val bytes = urgent
          .agg(expr("graft_bloom_agg(o_orderkey, 200000)").as("bf"))
          .head.getAs[Array[Byte]]("bf")
        val probe = graft.functions.BloomFunctions.registerProbeUnique(s, bytes)
        t(s, dir, "lineitem")
          .filter(expr(s"$probe(l_orderkey)"))
          .join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            Tables.moneySum(col("l_extendedprice")).as("total"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l.l_returnflag, count(*) AS n,
               floor((sum(CAST(floor(l.l_extendedprice * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY l.l_returnflag ORDER BY l.l_returnflag""")
    ),
    QueryDef(
      "join_skew_salted",
      // The join twin of agg_skew_salted: lineitem⋈orders through
      // SparkOps.saltedEquiJoin — the small side replicated across 8 salt
      // values, the fact side salted deterministically by line number, the
      // shuffle keyed on (orderkey, salt) so a hot order spreads over 8
      // reducers. Equality with the plain join is the graded check.
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("l_discount"))
        val ords = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        graft.ops.SparkOps.saltedEquiJoin(
            li, ords,
            (l, r) => l("l_orderkey") === r("o_orderkey"),
            col("l_linenumber"), 8)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            Tables.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o.o_orderpriority, count(*) AS n,
               floor((sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority ORDER BY o_orderpriority""")
    ),
    QueryDef(
      "str_distance",
      (s, dir) => {
        // Banded edit-distance join: each part compares against keys
        // key+1..key+2 via an equi-join on generated neighbor ids — the
        // standard trick that turns a bounded non-equi band into a shuffle
        // join (never a cartesian). Levenshtein is exact integer DP in both
        // engines.
        val p = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
        val probes = p.select(
          explode(expr("array(p_partkey + 1, p_partkey + 2)")).as("nbr_key"),
          col("p_partkey").as("key_a"), col("p_name").as("name_a"))
        probes.join(
            p.select(col("p_partkey").as("nbr_key"), col("p_name").as("name_b")),
            "nbr_key")
          .select(col("key_a"), col("nbr_key").as("key_b"),
            levenshtein(col("name_a"), col("name_b")).as("edit_dist"))
          .orderBy("key_a", "key_b")
      },
      Some("""
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
               levenshtein(a.p_name, b.p_name) AS edit_dist
        FROM part a JOIN part b
          ON b.p_partkey BETWEEN a.p_partkey + 1 AND a.p_partkey + 2
        ORDER BY key_a, key_b""")
    )
  )
}
