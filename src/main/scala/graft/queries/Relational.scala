package graft.queries

import graft.core._
import graft.ops.{SparkEnv, SparkOps => O}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator queries (SURVEY.md §2.2: sources, projection/filter,
  * joins, aggregation, windows, sort/limit, set ops).
  *
  * Scale posture: dimension sides (`region`, `nation`, `part`, `supplier`)
  * are broadcast explicitly; fact-side aggregations rely on partial
  * (map-side) aggregation; every non-equi join is realized as an equi join
  * on derived band keys so it shuffles instead of nested-looping.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  def queries: Seq[QueryDef] = Seq(
    // ----------------------------------------------------------- flagship
    QueryDef(
      "q1_agg",
      (s, dir) => q1(s, dir),
      Some("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               floor((sum(CAST(floor((l_extendedprice) * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS sum_base_price,
               floor((sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS sum_disc_price,
               floor((sum(CAST(floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    ),
    // ------------------------------------------------------------ sources
    QueryDef(
      "scan_parquet",
      (s, dir) => t(s, dir, "region").orderBy("r_regionkey"),
      Some("SELECT * FROM region ORDER BY r_regionkey")
    ),
    QueryDef(
      "scan_csv",
      (s, dir) => {
        // Round-trip through the CSV source: parquet -> csv -> read back.
        val tmp = O.scratch("graft_csv_nation").toString
        val src = t(s, dir, "nation")
        src.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
        s.read.schema(src.schema).option("header", "true").csv(tmp)
          .orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")
    ),
    QueryDef(
      "scan_csv_malformed",
      (s, dir) => {
        // Robust ingestion: PERMISSIVE mode quarantines unparseable rows
        // into a corrupt-record column instead of failing the job — at
        // 100 TB some rows ARE broken, and a pipeline that dies on row
        // 3 billion is not a pipeline. A crafted file mixes well-formed
        // rows with type-garbage and arity-garbage; output = clean-row
        // aggregate + quarantine count.
        val tmp = O.scratch("graft_csv_malformed").toString
        val f = new java.io.File(tmp)
        f.mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(tmp, "rows.csv"),
          Seq("id,amount", "1,10.5", "2,oops", "3,30.25", "not,a,row,at,all",
            "4,2.25").mkString("\n"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("amount",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("_bad",
            org.apache.spark.sql.types.StringType)))
        val df = s.read.schema(schema)
          .option("header", "true")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .csv(tmp)
          // cache first: the corrupt-record column cannot be filtered
          // directly off the scan (Spark requires the full parse result)
          .cache()
        df.count()
        df.agg(
          count(when(col("_bad").isNull, 1)).as("n_clean"),
          count(col("_bad")).as("n_quarantined"),
          Tables.moneySum(when(col("_bad").isNull, col("amount"))).as("clean_total"))
      },
      Some("""
        SELECT CAST(3 AS BIGINT) AS n_clean, CAST(2 AS BIGINT) AS n_quarantined,
               CAST(43.0 AS DOUBLE) AS clean_total""")
    ),
    QueryDef(
      "scan_csv_gzip",
      // Compressed-source round-trip: the CSV codec path (gzip per-file
      // compression; splittability is the documented tradeoff — gz files
      // read whole-file, so at scale the writer sizes files to partition
      // targets or uses a splittable codec).
      (s, dir) => {
        val tmp = O.scratch(s"graft_csv_gz_nation_${Integer.toHexString(dir.hashCode)}").toString
        val src = t(s, dir, "nation")
        src.coalesce(1).write.mode("overwrite")
          .option("header", "true").option("compression", "gzip").csv(tmp)
        s.read.schema(src.schema).option("header", "true").csv(tmp)
          .orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")
    ),
    QueryDef(
      "scan_json",
      (s, dir) => {
        val tmp = O.scratch(s"graft_json_region_${Integer.toHexString(dir.hashCode)}").toString
        val src = t(s, dir, "region")
        src.coalesce(1).write.mode("overwrite").json(tmp)
        s.read.schema(src.schema).json(tmp).orderBy("r_regionkey")
      },
      Some("SELECT * FROM region ORDER BY r_regionkey")
    ),
    // --------------------------------------------------- projection/filter
    QueryDef(
      "filter_predicate",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
        ORDER BY l_orderkey, l_linenumber""")
    ),
    QueryDef(
      "project_select",
      (s, dir) =>
        t(s, dir, "part").select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_uc"),
          length(col("p_name")).as("name_len"),
          round(col("p_retailprice") * 1.1, 2).as("bumped_price")
        ).orderBy("p_partkey"),
      Some("""
        SELECT p_partkey, upper(p_brand) AS brand_uc, length(p_name) AS name_len,
               round(p_retailprice * 1.1, 2) AS bumped_price
        FROM part ORDER BY p_partkey""")
    ),
    // -------------------------------------------------------------- joins
    QueryDef(
      "join_inner_equi",
      (s, dir) => {
        // 3-way star join; both dims broadcast (always dimension-sized).
        val c = t(s, dir, "customer")
        val n = broadcast(t(s, dir, "nation"))
        val r = broadcast(t(s, dir, "region"))
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
            Tables.moneySum(col("c_acctbal")).as("total_acctbal"))
          .orderBy("r_name", "n_name")
      },
      Some("""
        SELECT r_name, n_name, count(*) AS n_customers,
               floor((sum(CAST(floor((c_acctbal) * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")
    ),
    QueryDef(
      "join_broadcast",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = broadcast(t(s, dir, "part"))
        li.join(p, li("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(Tables.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
          .orderBy("p_brand")
      },
      Some("""
        SELECT p_brand, floor((sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand""")
    ),
    QueryDef(
      "join_left",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey""")
    ),
    QueryDef(
      "join_semi",
      (s, dir) => {
        val sup = t(s, dir, "supplier")
        val li = t(s, dir, "lineitem")
        sup.join(li, sup("s_suppkey") === li("l_suppkey"), "left_semi")
          .select("s_suppkey", "s_name")
          .orderBy("s_suppkey")
      },
      Some("""
        SELECT s_suppkey, s_name FROM supplier
        WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
        ORDER BY s_suppkey""")
    ),
    QueryDef(
      "join_anti",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey""")
    ),
    QueryDef(
      "join_asof",
      (s, dir) => {
        // As-of join: latest order (by o_orderdate) of the matching customer
        // at or before each event's timestamp. Realized as equi join on the
        // key + argmax aggregation: max(struct(date, key)) is associative,
        // so Catalyst runs a partial (map-side) aggregate before the
        // shuffle — no per-group sort, no window state. At scale this beats
        // the window-rank formulation on both shuffle volume and memory.
        val e = Tables.events(s, dir)
        val o = t(s, dir, "orders")
        e.join(o, o("o_custkey") === e("user_id") && o("o_orderdate") <= e("ts"))
          .groupBy(col("event_id"), col("user_id"))
          .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
          .select(col("event_id"), col("user_id"),
            col("best.o_orderkey").as("o_orderkey"),
            col("best.o_orderdate").as("o_orderdate"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, user_id, o_orderkey, o_orderdate FROM (
          SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                 row_number() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          FROM events e JOIN orders o
            ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) s
        WHERE rn = 1 ORDER BY event_id""")
    ),
    QueryDef(
      "join_asof_tolerance",
      // Feature-store point-in-time discipline: as-of join with a max
      // staleness TTL — a feature older than 30 days at serving time is
      // training-serving skew, so it must surface as NULL, not a stale
      // match. Same associative argmax shape as join_asof with the
      // tolerance folded into the join predicate; the trailing left join
      // keeps every event row (the matched side is one row per event, so
      // it re-joins on the event_id key only).
      (s, dir) => {
        val e = Tables.events(s, dir)
        val o = t(s, dir, "orders")
        val matched = e.join(o,
            o("o_custkey") === e("user_id") && o("o_orderdate") <= e("ts") &&
              o("o_orderdate") >= e("ts") - expr("INTERVAL 30 DAYS"))
          .groupBy(col("event_id"))
          .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
          .select(col("event_id"), col("best.o_orderkey").as("o_orderkey"),
            col("best.o_orderdate").as("o_orderdate"))
        e.select(col("event_id"), col("user_id"))
          .join(matched, Seq("event_id"), "left")
          .select(col("event_id"), col("user_id"), col("o_orderkey"),
            col("o_orderdate"))
          .orderBy("event_id")
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts
          FROM events),
        m AS (
          SELECT e.event_id, o.o_orderkey, o.o_orderdate,
                 row_number() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          FROM e JOIN orders o
            ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
           AND o.o_orderdate >= e.ts - INTERVAL 30 DAY)
        SELECT e.event_id, e.user_id, m.o_orderkey, m.o_orderdate
        FROM e LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (event_id)
        ORDER BY e.event_id""")
    ),
    QueryDef(
      "join_range",
      (s, dir) => {
        // Range join |c_acctbal - s_acctbal| <= 100, realized as an equi
        // join on derived band keys (width = range) with 3-way candidate
        // expansion — shuffle-able and skew-safe at any scale, unlike a
        // broadcast nested loop.
        val c = t(s, dir, "customer")
        val sup = t(s, dir, "supplier")
        val width = 100.0
        val cb = c.withColumn(
          "band",
          explode(array(
            floor(col("c_acctbal") / width) - 1,
            floor(col("c_acctbal") / width),
            floor(col("c_acctbal") / width) + 1
          ))
        )
        val sb = sup.withColumn("band", floor(col("s_acctbal") / width))
        cb.join(sb, "band")
          .filter(abs(col("c_acctbal") - col("s_acctbal")) <= width)
          .groupBy(col("c_custkey"))
          .agg(count(lit(1)).as("n_close_suppliers"))
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey, count(*) AS n_close_suppliers
        FROM customer JOIN supplier ON abs(c_acctbal - s_acctbal) <= 100
        GROUP BY c_custkey ORDER BY c_custkey""")
    ),
    // -------------------------------------------------------- aggregation
    QueryDef(
      "agg_groupby_count",
      (s, dir) =>
        t(s, dir, "orders").groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n")).orderBy("o_orderpriority"),
      Some("""
        SELECT o_orderpriority, count(*) AS n
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    ),
    QueryDef(
      "agg_sum_keyed",
      (s, dir) =>
        t(s, dir, "lineitem").groupBy(col("l_suppkey")).agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty")
        ).orderBy("l_suppkey"),
      Some("""
        SELECT l_suppkey, round(sum(l_quantity), 2) AS sum_qty,
               round(avg(l_quantity), 4) AS avg_qty,
               min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""")
    ),
    QueryDef(
      "agg_distinct",
      (s, dir) =>
        t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_suppliers")
        ).orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_suppliers
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),
    QueryDef(
      "agg_approx_distinct",
      // HLL sketch (Approx.approxDistinct, rsd=0.01) — the 100 TB path for
      // COUNT(DISTINCT) — graded as a deterministic verdict frame: Spark
      // runs the sketch AND the exact twin, emits the exact counts plus
      // "estimate within 5% of exact" booleans (5σ of the configured rsd);
      // DuckDB replays the exact counts + literal TRUE. RecallSpec keeps
      // the numeric relative-error floor on the raw estimates.
      (s, dir) =>
        t(s, dir, "lineitem").agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
          .crossJoin(broadcast(Approx.approxDistinct(s, dir)))
          .select(col("exact_parts"), col("exact_orders"),
            (abs(col("approx_parts").cast("double") /
              col("exact_parts") - 1) <= Approx.ApproxDistinctRelTol)
              .as("parts_within_5pct"),
            (abs(col("approx_orders").cast("double") /
              col("exact_orders") - 1) <= Approx.ApproxDistinctRelTol)
              .as("orders_within_5pct"),
            // accuracy bands (round 14): 2 = rel err within the 3σ watch
            // tolerance (ApproxDistinctWatchTol = 0.03 = 3σ of rsd 0.01),
            // 1 = within the graded 5σ tolerance — estimator drift is
            // driver-visible before the grade boolean flips
            Approx.errorBand(
              abs(col("approx_parts").cast("double") / col("exact_parts") - 1),
              lit(Approx.ApproxDistinctWatchTol),
              lit(Approx.ApproxDistinctRelTol)).as("parts_band"),
            Approx.errorBand(
              abs(col("approx_orders").cast("double") / col("exact_orders") - 1),
              lit(Approx.ApproxDistinctWatchTol),
              lit(Approx.ApproxDistinctRelTol)).as("orders_band")),
      Some("""
        SELECT count(DISTINCT l_partkey) AS exact_parts,
               count(DISTINCT l_orderkey) AS exact_orders,
               TRUE AS parts_within_5pct, TRUE AS orders_within_5pct,
               2 AS parts_band, 2 AS orders_band
        FROM lineitem""")
    ),
    QueryDef(
      "agg_hll_merge",
      // Sketch REAGGREGATION — the property that makes sketches the 100 TB
      // rollup currency: per-nation HLL sketches of distinct customers
      // (Datasketches hll_sketch_agg) merge LOSSLESSLY to region grain via
      // hll_union_agg, with no second scan of the fact data
      // (Approx.hllMergeByRegion). Verdict frame: exact per-region
      // distinct counts (replayable) + "merged estimate within tolerance"
      // (lgK=14 ⇒ rse ≈ 0.8%; 5σ = 4%, with a small-count floor of 3 —
      // the same band RecallSpec floors numerically).
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = broadcast(t(s, dir, "nation"))
        val exact = c.join(n, c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_regionkey"))
          .agg(countDistinct(col("c_custkey")).as("exact_customers"))
        exact.join(Approx.hllMergeByRegion(s, dir), Seq("n_regionkey"))
          .select(col("n_regionkey"), col("exact_customers"),
            (abs(col("approx_customers").cast("double") -
              col("exact_customers")) <=
              greatest(lit(Approx.HllMergeAbsFloor),
                col("exact_customers") * Approx.HllMergeRelTol))
              .as("within_tol"),
            // band: 2 = within the ~3σ watch tolerance (HllMergeWatchTol
            // = 0.025 ≈ 3σ of the 0.8% estimator σ; measured max rel err
            // 0.0089 at sf0.1), 1 = within the graded 5σ band
            Approx.errorBand(
              abs(col("approx_customers").cast("double") -
                col("exact_customers")),
              greatest(lit(Approx.HllMergeWatchAbs),
                col("exact_customers") * Approx.HllMergeWatchTol),
              greatest(lit(Approx.HllMergeAbsFloor),
                col("exact_customers") * Approx.HllMergeRelTol))
              .as("tol_band"))
          .orderBy("n_regionkey")
      },
      Some("""
        SELECT n_regionkey, count(DISTINCT c_custkey) AS exact_customers,
               TRUE AS within_tol, 2 AS tol_band
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_regionkey ORDER BY n_regionkey""")
    ),
    QueryDef(
      "agg_cms_freq",
      // The frequency-sketch sibling of agg_hll_merge: per-nation
      // Count-Min sketches of the market-segment stream, probed for every
      // segment (Approx.cmsEstimates; fixed seed 42 ⇒ deterministic).
      // Verdict frame over the observed (nation, segment) cells: exact
      // counts (replayable) + the CMS one-sided guarantee as a boolean —
      // never under-estimates, over-estimate ≤ max(1, ⌈ε·N⌉) — the same
      // band RecallSpec asserts per probe.
      (s, dir) => {
        val c = t(s, dir, "customer")
        val exact = c.groupBy(col("c_nationkey"), col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("exact_n"))
        val slack = c.agg(
          greatest(lit(1L), ceil(count(lit(1)) * Approx.CmsEps).cast("long"))
            .as("slack"))
        exact.join(Approx.cmsEstimates(s, dir), Seq("c_nationkey", "seg"))
          .crossJoin(broadcast(slack))
          .select(col("c_nationkey"), col("seg"), col("exact_n"),
            (col("est_n") >= col("exact_n") &&
              col("est_n") <= col("exact_n") + col("slack")).as("cms_ok"),
            // band: 2 = over-estimate ≤ 1 count (measured 0 at all SFs —
            // an inflated depth-5 minimum needs a 5-row collision),
            // 1 = within the format's ⌈ε·N⌉ slack. Under-estimation is
            // impossible for CMS, so a negative excess is band 0 (it
            // would mean the sketch itself is broken).
            when(col("est_n") < col("exact_n"), lit(0)).otherwise(
              Approx.errorBand(
                (col("est_n") - col("exact_n")).cast("double"),
                lit(Approx.CmsWatchSlack.toDouble),
                col("slack").cast("double"))).as("cms_band"))
          .orderBy("c_nationkey", "seg")
      },
      Some("""
        SELECT c_nationkey, c_mktsegment AS seg, count(*) AS exact_n,
               TRUE AS cms_ok, 2 AS cms_band
        FROM customer GROUP BY 1, 2 ORDER BY 1, 2""")
    ),
    QueryDef(
      "agg_rollup",
      (s, dir) =>
        t(s, dir, "lineitem").rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some("""
        SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
    ),
    QueryDef(
      "agg_cube",
      (s, dir) =>
        t(s, dir, "orders").cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            Tables.moneySum(col("o_totalprice")).as("total"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first),
      Some("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               floor((sum(CAST(floor((o_totalprice) * 10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0 AS total
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    ),
    QueryDef(
      "agg_grouping_sets",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
    ),
    QueryDef(
      "null_case_funcs",
      // NULL semantics + conditional expressions: left join produces NULLs,
      // coalesce/nullif/case classify them.
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(max(col("o_totalprice")).as("max_price"))
          .select(
            col("c_custkey"),
            coalesce(col("max_price"), lit(0.0)).as("price_or_zero"),
            col("max_price").isNull.as("never_ordered"),
            when(col("max_price") > 200000, "big")
              .when(col("max_price") > 50000, "mid")
              .otherwise("small").as("bucket"),
            nullif(col("c_custkey") % 2, lit(0)).as("odd_or_null")
          )
          .orderBy("c_custkey")
      },
      Some("""
        WITH m AS (
          SELECT c_custkey, max(o_totalprice) AS max_price
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
        SELECT c_custkey,
               coalesce(max_price, 0.0) AS price_or_zero,
               max_price IS NULL AS never_ordered,
               CASE WHEN max_price > 200000 THEN 'big'
                    WHEN max_price > 50000 THEN 'mid'
                    ELSE 'small' END AS bucket,
               nullif(c_custkey % 2, 0) AS odd_or_null
        FROM m ORDER BY c_custkey""")
    ),
    QueryDef(
      "topk",
      (s, dir) =>
        t(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy(col("c_acctbal").desc, col("c_custkey"), col("c_name"))
          .limit(10),
      Some("""
        SELECT c_custkey, c_name, c_acctbal FROM customer
        ORDER BY c_acctbal DESC, c_custkey, c_name LIMIT 10""")
    ),
    // ------------------------------------------------------------ windows
    QueryDef(
      "window_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
        t(s, dir, "part")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("p_brand", "p_partkey", "p_retailprice", "rn")
          .orderBy("p_brand", "rn")
      },
      Some("""
        SELECT p_brand, p_partkey, p_retailprice, rn FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey) AS rn
          FROM part) s
        WHERE rn <= 3 ORDER BY p_brand, rn""")
    ),
    QueryDef(
      "window_analytic",
      (s, dir) => {
        // NOTE: (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // data; l_quantity completes the order so tied rows are
        // interchangeable (identical keys => identical lag/running output).
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"))
        t(s, dir, "lineitem")
          .withColumn("running_qty",
            round(sum(col("l_quantity")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
          .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
          .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity",
            "running_qty", "prev_qty")
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      },
      Some("""
        SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
               round(sum(l_quantity) OVER (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty,
               lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity) AS prev_qty
        FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""")
    ),
    QueryDef(
      "topk_per_group_native",
      // Grouped top-k through the custom operator (graft.plans.TopKPerGroup):
      // partial bounded heaps -> hash shuffle on the group key -> final
      // heaps. Same rows as the window_rank formulation, no full sort.
      (s, dir) =>
        graft.plans.TopKPerGroup(
          t(s, dir, "part").select("p_brand", "p_partkey", "p_retailprice"),
          k = 3,
          groupCols = Seq("p_brand"),
          orderCols = Seq("p_retailprice" -> true, "p_partkey" -> false)
        ).orderBy(col("p_brand"), col("p_retailprice").desc, col("p_partkey")),
      Some("""
        SELECT p_brand, p_partkey, p_retailprice FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey) AS rn
          FROM part) s
        WHERE rn <= 3 ORDER BY p_brand, p_retailprice DESC, p_partkey""")
    ),
    // --------------------------------------------------------- sort/limit
    QueryDef(
      "sort_limit",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber"))
          .limit(20),
      Some("""
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""")
    ),
    // ------------------------------------------------------------ set ops
    QueryDef(
      "union_all",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        val low = o.filter(col("o_orderpriority") === "5-LOW")
        urgent.unionByName(low)
          .select("o_orderkey", "o_orderpriority")
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_orderpriority FROM (
          SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
          UNION ALL
          SELECT * FROM orders WHERE o_orderpriority = '5-LOW') s
        ORDER BY o_orderkey""")
    ),
    QueryDef(
      "intersect_keys",
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
          .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey""")
    ),
    QueryDef(
      "except_keys",
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
          .except(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey""")
    ),
    QueryDef(
      "set_ops_multiset",
      // Multiset set ops — exceptAll/intersectAll preserve duplicate
      // COUNTS (bag semantics), where except/intersect collapse to
      // distinct. Both lower to aggregate+generate plans (no
      // sort-merge-distinct), summarized per key with an op tag.
      (s, dir) => {
        val l = t(s, dir, "orders").select(col("o_orderstatus"))
        val r = t(s, dir, "orders")
          .filter(col("o_totalprice") > 150000)
          .select(col("o_orderstatus"))
        val ex = l.exceptAll(r).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
        val in = l.intersectAll(r).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
        ex.unionByName(in).orderBy("op", "o_orderstatus")
      },
      Some("""
        WITH l AS (SELECT o_orderstatus FROM orders),
        r AS (SELECT o_orderstatus FROM orders WHERE o_totalprice > 150000),
        ex AS (SELECT o_orderstatus FROM l EXCEPT ALL SELECT o_orderstatus FROM r),
        i AS (SELECT o_orderstatus FROM l INTERSECT ALL SELECT o_orderstatus FROM r)
        SELECT o_orderstatus, count(*) AS n, 'except_all' AS op
        FROM ex GROUP BY 1
        UNION ALL
        SELECT o_orderstatus, count(*) AS n, 'intersect_all' AS op
        FROM i GROUP BY 1
        ORDER BY op, o_orderstatus""")
    ),
    QueryDef(
      "join_lateral_topk",
      // SQL LATERAL (correlated subquery join): each customer's single
      // top order — the per-row top-1 expressed in the SQL surface.
      // Catalyst decorrelates the LATERAL into a ranked join (no
      // per-row re-execution); the same semantics the DataFrame side
      // expresses as topk_per_group_native.
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders_lat")
        t(s, dir, "customer").createOrReplaceTempView("customer_lat")
        s.sql("""
          SELECT c.c_custkey, t.o_orderkey, t.cents
          FROM customer_lat c,
          LATERAL (SELECT o_orderkey,
                          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                   FROM orders_lat o
                   WHERE o.o_custkey = c.c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
          WHERE c.c_custkey <= 100
          ORDER BY c_custkey""")
      },
      Some("""
        SELECT c.c_custkey, t.o_orderkey, t.cents
        FROM customer c,
        LATERAL (SELECT o_orderkey,
                        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        WHERE c.c_custkey <= 100
        ORDER BY c_custkey""")
    ),
    QueryDef(
      "scan_binaryfile",
      // binaryFile source — the ingestion path for opaque media blobs
      // (the multimodal family's upstream). Twenty documents stage as
      // individual .txt files once (mtime-cached like the streaming
      // dirs); the source lists the directory in parallel and yields
      // (path, modificationTime, length, content). Output proves both
      // the listing and the byte-exact content read.
      (s, dir) => {
        import java.nio.file.{Files, Paths}
        val hash = Integer.toHexString(dir.hashCode)
        val target = O.scratch(s"graft_binfiles_$hash")
        O.stageOnce(Paths.get(s"$dir/documents.parquet"), target) {
          Files.createDirectories(target)
          t(s, dir, "documents").filter(col("doc_id") < 20)
            .select(col("doc_id"), col("text")).collect()
            .foreach { row =>
              Files.write(target.resolve(f"doc_${row.getLong(0)}%04d.txt"),
                row.getString(1).getBytes("UTF-8"))
            }
        }
        s.read.format("binaryFile").load(s"$target/*.txt")
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.txt", 1).cast("long")
              .as("doc_id"),
            col("length").as("n_bytes"),
            md5(col("content")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS digest
        FROM documents WHERE doc_id < 20 ORDER BY doc_id""")
    ),
    // --------------------------------------------------------- scalar fns
    QueryDef(
      "str_funcs",
      (s, dir) =>
        t(s, dir, "part").select(
          col("p_partkey"),
          upper(col("p_name")).as("name_uc"),
          lower(col("p_type")).as("type_lc"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type_head"),
          concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_brand"), "Brand#", "B").as("brand_short"),
          trim(col("p_name")).as("name_trim")
        ).orderBy("p_partkey"),
      Some("""
        SELECT p_partkey, upper(p_name) AS name_uc, lower(p_type) AS type_lc,
               length(p_name) AS name_len, substr(p_type, 1, 5) AS type_head,
               p_brand || '/' || p_type AS brand_type,
               replace(p_brand, 'Brand#', 'B') AS brand_short,
               trim(p_name) AS name_trim
        FROM part ORDER BY p_partkey""")
    ),
    QueryDef(
      "math_funcs",
      (s, dir) =>
        t(s, dir, "lineitem").select(
          col("l_orderkey"),
          col("l_linenumber"),
          // floor(x*100 + 0.5)/100 instead of round(): identical double ops
          // in every engine, immune to rounding-mode differences at .005.
          (floor(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax")) * 100 + 0.5) / 100).as("charge"),
          abs(col("l_quantity") - 25).as("qty_dev"),
          ceil(col("l_discount") * 100).as("disc_pct_ceil"),
          floor(col("l_tax") * 100).as("tax_pct_floor"),
          (col("l_orderkey") % 7).as("okey_mod7")
        ).orderBy("l_orderkey", "l_linenumber"),
      Some("""
        SELECT l_orderkey, l_linenumber,
               floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100 AS charge,
               abs(l_quantity - 25) AS qty_dev,
               CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
               CAST(floor(l_tax * 100) AS BIGINT) AS tax_pct_floor,
               l_orderkey % 7 AS okey_mod7
        FROM lineitem ORDER BY l_orderkey, l_linenumber""")
    )
  )

  /** Flagship pipeline, expressed through the algebra: scan ~> filter ~>
    * aggregate as three composable nodes (TPC-H Q1 shape, the reference's
    * extract→transform→aggregate Spark motif
    * `/root/reference/docs/examples-spark.md:19-41`).
    */
  def q1(s: SparkSession, dir: String): DataFrame = {
    val scan = O.scanParquet("lineitem")
    val beforeCutoff = O.where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    val aggregate: Transform[DataFrame, DataFrame] = Node { df =>
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          Tables.moneySum(col("l_extendedprice")).as("sum_base_price"),
          Tables.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          Tables.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus")
    }
    val pipeline = (scan ~> beforeCutoff ~> aggregate)
      .lineageName("q1_agg")
      .lineageInputs("lineitem")
    pipeline.provide(SparkEnv(s, dir)).unsafeRun(())
  }
}
