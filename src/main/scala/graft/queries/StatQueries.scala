package graft.queries

import graft.ops.SparkOps.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.SparkOps

/** Distribution / robust-statistics / curation-audit operators added in
  * round 8: equi-depth histograms (distributed ntile), ratio-to-report
  * window shares, cohort LTV curves, time-constrained funnels, MAD-based
  * robust outlier flagging, blocking-based fuzzy entity matching,
  * incremental partial-aggregate merge, embedding-norm corpus QA, and
  * deterministic per-document keyword ranking.
  *
  * All oracles follow the cross-engine determinism rules (see
  * Tables.moneySum and the repo float-rules): money in integer cent
  * quanta, thresholds as pure integer comparisons, doubles only in a
  * final projection with identical op order on both engines.
  */
object StatQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * 100 + 0.5).cast("long")

  /** Per-nation counts of lev≤2 name pairs within (nation, segment) —
    * both regimes exact (see join_fuzzy_blocked's doc; public so the
    * regime-equality and random-corruption specs can force each path).
    *
    * Pigeonhole geometry is defined by the PROBE's length La (pieces of
    * length La div 3 at positions i·(La div 3)); the index side cannot
    * know La, so it extracts pieces for every plausible probe length
    * L = its own length + dl, dl ∈ [−2, 2] (lev≤2 bounds the length gap),
    * each at shifts sh ∈ [−2, 2] (insertions/deletions before a piece
    * displace its image by at most the edit count). Probes shorter than 9
    * have sub-3-char pieces whose matches explode; those names route
    * through a direct quadratic pool (both sides ≤ 10 chars), and the
    * pigeonhole keeps only pairs whose longer name is ≥ 11 — the two
    * pools partition the pair space by greatest length, so nothing is
    * counted twice and nothing is lost (a <9 name can only pair with a
    * ≤ 10 name under lev≤2).
    */
  def fuzzyNamePairs(c: DataFrame, pigeonhole: Boolean): DataFrame =
    fuzzyNameVerifiedPairs(c, pigeonhole)
      .groupBy(col("nk").as("c_nationkey"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("c_nationkey")

  /** Regime criterion for the fuzzy-match family: the BLOCKED PAIR BUDGET
    * Σ n_b·(n_b−1)/2 over (nation, segment) blocks — what the quadratic
    * path actually evaluates — NOT total row count. Measured at 250k rows
    * across 125 healthy 2k-row blocks (250M pairs): quadratic verifies in
    * 4.8 s while the pigeonhole path pays 50.4 s of piece-enumeration for
    * the identical pair set (regime_boundary.json) — a row-count switch
    * would have picked the slow path. The pigeonhole exists for when
    * BLOCKS explode (its candidate volume tracks piece-key cardinality,
    * not block size²); ~2e9 budgeted pairs ≈ 40 s of banded-lev verify at
    * 32 cores is where the curves cross. One tiny aggregate job (block
    * counts) prices the decision, and both regimes stay exact.
    */
  private[queries] val FuzzyPairBudget = 2000000000L
  private[queries] def fuzzyRegime(c: DataFrame): (Boolean, Long) = {
    val row = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      // coalesce: sum() over an empty frame is null — an empty corpus is a
      // (quadratic, 0) decision, not an NPE
      .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0L))
        .cast("long").as("budget"),
        coalesce(sum(col("n")), lit(0L)).cast("long").as("rows"))
      .head()
    (row.getLong(0) > FuzzyPairBudget, row.getLong(1))
  }

  /** Session-scoped cache of the MATERIALIZED fuzzy pair list (+ regime
    * decision and exact row count), keyed like the DedupOps mining caches
    * (session UUID + corpus plan hash — valid while source files are
    * immutable). The verified lev≤2 pair list is the expensive shared
    * artifact of the ER family: the blocked-pair rollup and the
    * cluster-histogram query both consume the same edges, so whichever
    * runs first pays the one mine — the same mine-once/derive-many
    * contract as the text near-dup family.
    */
  private val fuzzyPairsCache =
    new graft.ops.BoundedMemo[(String, Int), (DataFrame, Boolean, Long)]("er.fuzzyPairs")

  // honor the clearMiningCaches contract (stale-read fence on overwrite)
  graft.ops.SparkOps.registerCacheClearHook { sid =>
    fuzzyPairsCache.clearIf(_._1 == sid)
  }

  private[queries] def fuzzyPairsCached(c: DataFrame): (DataFrame, Boolean, Long) = {
    val key = (graft.ops.SparkOps.sessionId(c.sparkSession),
      c.queryExecution.logical.semanticHash())
    // compute-outside-the-lock (BoundedMemo contract): the mine runs
    // full Spark jobs; a lost race just drops the loser's frame reference
    fuzzyPairsCache.memoize(key)({
      val (pigeonhole, n) = fuzzyRegime(c)
      val pairs = fuzzyNameVerifiedPairs(c, pigeonhole).materialized
      (pairs, pigeonhole, n)
    })(_ => ())
  }

  /** The verified pair list behind [[fuzzyNamePairs]] — the edge set an
    * entity-resolution clustering consumes.
    */
  def fuzzyNameVerifiedPairs(c0: DataFrame, pigeonhole: Boolean): DataFrame = {
    // widen (round 16): with the dim-sized input scanning as ONE split and
    // the block self-join broadcasting one side, candidate generation AND
    // the banded-lev verify all ran on a single task — A/B 3.51 -> 1.84 s
    // (median of 5). Applied inside the build (fuzzyPairsCached keys on
    // the caller's plan), identity when the scan is already wide.
    val c = graft.ops.SparkOps.widen(c0)
    def quadratic(in: DataFrame) = {
      val a = in.toDF("key_a", "name_a", "nk", "seg")
      val b = in.toDF("key_b", "name_b", "nk", "seg")
      a.join(b, Seq("nk", "seg"))
        .filter(col("key_a") < col("key_b"))
        .select("nk", "key_a", "key_b", "name_a", "name_b")
    }
    val candidates =
      if (!pigeonhole) quadratic(c)
      else {
        val shortPairs = quadratic(c.filter(length(col("c_name")) <= 10))
        val probes = c.filter(length(col("c_name")) >= 9)
          .select(col("c_custkey").as("key_a"),
            col("c_name").as("name_a"), col("c_nationkey").as("nk"),
            col("c_mktsegment").as("seg"),
            explode(expr(
              """transform(sequence(0, 2), i ->
                   struct(i AS idx,
                     substring(c_name, 1 + i * (length(c_name) div 3),
                       length(c_name) div 3) AS piece))""")).as("p"))
          .select(col("key_a"), col("name_a"), col("nk"), col("seg"),
            col("p.idx").as("idx"), col("p.piece").as("piece"))
        val shifted = c.select(col("c_custkey").as("key_b"),
            col("c_name").as("name_b"), col("c_nationkey").as("nk"),
            col("c_mktsegment").as("seg"),
            explode(expr(
              """flatten(flatten(transform(sequence(-2, 2), dl ->
                   transform(sequence(0, 2), i ->
                     transform(sequence(-2, 2), sh ->
                       struct(i AS idx,
                         substring(c_name,
                           1 + i * ((length(c_name) + dl) div 3) + sh,
                           (length(c_name) + dl) div 3) AS piece))))))"""))
              .as("p"))
          .select(col("key_b"), col("name_b"), col("nk"), col("seg"),
            col("p.idx").as("idx"), col("p.piece").as("piece"))
        val longPairs = probes.join(shifted, Seq("nk", "seg", "idx", "piece"))
          .filter(col("key_a") < col("key_b") &&
            greatest(length(col("name_a")), length(col("name_b"))) >= 11)
          .select("nk", "key_a", "key_b", "name_a", "name_b")
          .distinct()
        shortPairs.unionByName(longPairs)
      }
    candidates.filter(levenshtein(col("name_a"), col("name_b"), 2) >= 0)
      .select("nk", "key_a", "key_b")
  }

  def queries: Seq[QueryDef] = Seq(
    QueryDef(
      "histogram_equi_depth",
      // Equi-DEPTH (quantile) histogram of order value — the complement of
      // agg_histogram's equi-width buckets. The global decile assignment is
      // SparkOps.distributedNtile: range-repartition + per-partition rank +
      // broadcast offsets, never a single-partition global window. The
      // oracle runs plain ntile(10) over the same TOTAL order (cents,
      // orderkey) — equality proves the two-phase ranking reproduces SQL
      // ntile bucket-for-bucket.
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), cents(col("o_totalprice")).as("cts"))
        SparkOps.distributedNtile(o, 10, "bucket", col("cts"), col("o_orderkey"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n"),
            (min(col("cts")) / 100.0).as("lo"),
            (max(col("cts")) / 100.0).as("hi"))
          .orderBy("bucket")
      },
      Some("""
        WITH c AS (SELECT o_orderkey,
                          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cts
                   FROM orders),
        b AS (SELECT cts, ntile(10) OVER (ORDER BY cts, o_orderkey) AS bucket
              FROM c)
        SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n,
               min(cts) / 100.0 AS lo, max(cts) / 100.0 AS hi
        FROM b GROUP BY bucket ORDER BY bucket""")
    ),
    QueryDef(
      "window_share_of_total",
      // Ratio-to-report: each nation's share of its region's revenue. The
      // share is a window sum over the ALREADY-AGGREGATED nation rollup
      // (≤25 rows), so the window is trivially small no matter the fact
      // table size; dims broadcast into the fact join. Cent-quanta longs
      // divide as doubles only in the final projection.
      (s, dir) => {
        val rev = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
        rev
          .withColumn("region_c", sum(col("rev_c")).over(Window.partitionBy(col("r_name"))))
          .select(col("r_name"), col("n_name"), col("rev_c"),
            round(col("rev_c") / col("region_c"), 6).as("share"))
          .orderBy("r_name", "n_name")
      },
      Some("""
        WITH rev AS (
          SELECT r_name, n_name,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS rev_c
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2)
        SELECT r_name, n_name, rev_c,
               round(rev_c / CAST(sum(rev_c) OVER (PARTITION BY r_name)
                 AS BIGINT), 6) AS share
        FROM rev ORDER BY r_name, n_name""")
    ),
    QueryDef(
      "cohort_ltv_curve",
      // Cumulative revenue per acquisition cohort by month age — the LTV
      // curve behind retention_cohort's counts. The cumsum window runs per
      // cohort over month-grain ages (≤ ~90 rows per cohort), exact long
      // cents; the only big shuffle is the first-order groupBy on custkey,
      // which the revenue join reuses (same key, one exchange).
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_custkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("om"),
          cents(col("o_totalprice")).as("cts"))
        val first = o.groupBy("o_custkey").agg(min(col("om")).as("cohort"))
        o.join(first, "o_custkey")
          .groupBy(col("cohort"),
            months_between(col("om"), col("cohort")).cast("int").as("age"))
          .agg(count(lit(1)).as("n_orders"), sum(col("cts")).as("rev_c"))
          .withColumn("cum_rev_c", sum(col("rev_c")).over(
            Window.partitionBy(col("cohort")).orderBy(col("age"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .select(col("cohort"), col("age"), col("n_orders"), col("cum_rev_c"))
          .orderBy("cohort", "age")
      },
      Some("""
        WITH o AS (
          SELECT o_custkey,
                 CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cts
          FROM orders),
        f AS (SELECT o_custkey, min(om) AS cohort FROM o GROUP BY 1),
        g AS (SELECT cohort, date_diff('month', cohort, om) AS age,
                     count(*) AS n_orders,
                     CAST(sum(cts) AS BIGINT) AS rev_c
              FROM o JOIN f USING (o_custkey) GROUP BY 1, 2)
        SELECT cohort, CAST(age AS INTEGER) AS age, n_orders,
               CAST(sum(rev_c) OVER (PARTITION BY cohort ORDER BY age
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_c
        FROM g ORDER BY cohort, age""")
    ),
    QueryDef(
      "events_funnel_windowed",
      // Time-constrained funnel: each stage must land within 7 days of the
      // previous stage's first hit (the attribution-window variant of
      // events_funnel). Same scale shape: every join keys on user_id, the
      // shrinking stage tables broadcast.
      (s, dir) => {
        val e = Tables.events(s, dir).select("user_id", "event_type", "ts")
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts").as("signup_ts"))
        val s2 = e.filter(col("event_type") === "click")
          .join(broadcast(s1), "user_id")
          .filter(col("ts") >= col("signup_ts") &&
            col("ts") <= col("signup_ts") + expr("INTERVAL 7 DAYS"))
          .groupBy("user_id").agg(min("ts").as("click_ts"))
        val s3 = e.filter(col("event_type") === "purchase")
          .join(broadcast(s2), "user_id")
          .filter(col("ts") >= col("click_ts") &&
            col("ts") <= col("click_ts") + expr("INTERVAL 7 DAYS"))
          .groupBy("user_id").agg(min("ts").as("purchase_ts"))
        Seq(("1_signup", s1), ("2_click_7d", s2), ("3_purchase_7d", s3))
          .map { case (stage, df) =>
            df.agg(count(lit(1)).as("n_users"))
              .select(lit(stage).as("stage"), col("n_users"))
          }
          .reduce(_ unionByName _)
          .orderBy("stage")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type, make_timestamp(epoch_ns(ts) // 1000) AS ts
          FROM events),
        s1 AS (SELECT user_id, min(ts) AS signup_ts FROM e
               WHERE event_type = 'signup' GROUP BY user_id),
        s2 AS (SELECT e.user_id, min(e.ts) AS click_ts
               FROM e JOIN s1 USING (user_id)
               WHERE event_type = 'click' AND e.ts >= s1.signup_ts
                 AND e.ts <= s1.signup_ts + INTERVAL 7 DAY
               GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, min(e.ts) AS purchase_ts
               FROM e JOIN s2 USING (user_id)
               WHERE event_type = 'purchase' AND e.ts >= s2.click_ts
                 AND e.ts <= s2.click_ts + INTERVAL 7 DAY
               GROUP BY e.user_id)
        SELECT '1_signup' AS stage, count(*) AS n_users FROM s1
        UNION ALL SELECT '2_click_7d', count(*) FROM s2
        UNION ALL SELECT '3_purchase_7d', count(*) FROM s3
        ORDER BY stage""")
    ),
    QueryDef(
      "events_funnel_unordered",
      // Set-completion (unordered adoption) funnel: how many users have
      // done ANY k of the three key actions, irrespective of order — the
      // feature-adoption counterpart of the ordered events_funnel. One
      // distinct + one groupBy; the cumulative "at least k" view derives
      // from the tiny k-histogram.
      (s, dir) => {
        val depth = Tables.events(s, dir)
          .filter(col("event_type").isin("signup", "click", "purchase"))
          .select("user_id", "event_type").distinct()
          .groupBy("user_id").agg(count(lit(1)).as("k"))
          .groupBy("k").agg(count(lit(1)).as("n_users"))
        depth
          .withColumn("n_users_at_least", sum(col("n_users")).over(
            Window.orderBy(col("k").desc)
              .rowsBetween(Window.unboundedPreceding, 0)))
          .orderBy("k")
      },
      Some("""
        WITH d AS (
          SELECT user_id, count(DISTINCT event_type) AS k
          FROM events
          WHERE event_type IN ('signup', 'click', 'purchase')
          GROUP BY 1),
        h AS (SELECT k, count(*) AS n_users FROM d GROUP BY 1)
        SELECT k, n_users,
               CAST(sum(n_users) OVER (ORDER BY k DESC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_users_at_least
        FROM h ORDER BY k""")
    ),
    QueryDef(
      "events_anomaly_mad",
      // Robust outlier flagging: |v − median| > 3·1.4826·MAD per event
      // type — the median/MAD twin of anomaly_zscore (robust to the very
      // outliers a mean/stddev gate absorbs). Medians run on exact cent
      // quanta doubled so the even-count midpoint stays integral; the flag
      // is the pure integer comparison dev2·20000 > mad22·44478
      // (⇔ |v−med| > 4.4478·MAD), so no accumulated float ever decides a
      // boundary row. Per-type medians broadcast back onto the events.
      // percentile() here buffers per GROUP (5 bounded types — fine); for
      // unbounded groups swap in the sort-based positional selection of
      // agg_median_selection / dq_psi_drift's boundary.
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("event_type"), cents(col("value")).as("vc"))
        val med = e.groupBy("event_type")
          .agg(expr("cast(2 * percentile(vc, 0.5D) as bigint)").as("m2"))
        val dev = e.join(broadcast(med), "event_type")
          .withColumn("dev2", abs(col("vc") * 2 - col("m2")))
        val mad = dev.groupBy("event_type")
          .agg(expr("cast(2 * percentile(dev2, 0.5D) as bigint)").as("mad22"))
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("dev2") * 20000 > col("mad22") * 44478, 1L)
              .otherwise(0L)).as("n_out"),
            min(col("m2")).as("med_c2"),
            min(col("mad22")).as("mad_c22"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (SELECT event_type,
                          CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
                   FROM events),
        med AS (SELECT event_type,
                       CAST(2 * quantile_cont(vc, 0.5) AS BIGINT) AS m2
                FROM e GROUP BY 1),
        dev AS (SELECT e.event_type, abs(vc * 2 - m2) AS dev2, m2
                FROM e JOIN med USING (event_type)),
        mad AS (SELECT event_type,
                       CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad22
                FROM dev GROUP BY 1)
        SELECT event_type, count(*) AS n,
               CAST(sum(CASE WHEN dev2 * 20000 > mad22 * 44478
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
               min(m2) AS med_c2, min(mad22) AS mad_c22
        FROM dev JOIN mad USING (event_type)
        GROUP BY event_type ORDER BY event_type""")
    ),
    QueryDef(
      "join_fuzzy_blocked",
      // Fuzzy entity matching, TWO-REGIME (the pagerank/ccViaForest
      // precedent — both regimes exact, so the switch is invisible in
      // results):
      //  * small blocks → direct per-(nation, segment)-block quadratic
      //    with the bounded-threshold levenshtein (banded DP, early-exit
      //    at distance > 2; −1 beyond the bound ⇒ ≥0 ⇔ ≤2). Cheapest
      //    while block sizes are modest — no candidate machinery.
      //  * big table → PIGEONHOLE candidate generation (PartEnum-style):
      //    split each name into 3 contiguous pieces; ≤2 edits damage at
      //    most 2 of them, so some piece of `a` appears VERBATIM in `b`
      //    at the same index shifted ±2 by earlier ins/dels (piece 0
      //    never shifts — nothing precedes it). Candidates become an
      //    EQUI-join on (nation, segment, piece_idx, piece) — high-
      //    cardinality keys whose blocks stay bounded as the table grows,
      //    where the bare (nation, segment) quadratic explodes linearly
      //    with data. distinct-before-verify stops multi-piece double
      //    counting; the exact lev filter kills the spurious candidates
      //    Spark's negative-index substring semantics can produce.
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_mktsegment"))
        fuzzyPairsCached(c)._1
          .groupBy(col("nk").as("c_nationkey"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("c_nationkey")
      },
      Some("""
        SELECT a.c_nationkey AS c_nationkey, count(*) AS n_pairs
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
         AND levenshtein(a.c_name, b.c_name) <= 2
        GROUP BY 1 ORDER BY 1""")
    ),
    QueryDef(
      "er_fuzzy_clusters",
      // Entity resolution end-to-end: the verified fuzzy pair list
      // (join_fuzzy_blocked's edge set) feeds connected components →
      // cluster-size histogram — "how many distinct entities hide behind
      // these near-identical names". Same CC machinery as the text
      // near-dup family (min-label propagation, pointer jumping); the
      // oracle walks the identical lev-pair graph with a recursive CTE.
      (s, dir) => {
        import graft.ops.GraphOps
        val c = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_mktsegment"))
        // The cached mine prices the regime once AND yields the exact row
        // count — the CC sizeHint gets the TRUE vertex bound for free
        // (|V| ≤ |customer|; an understated hint would force the
        // small-graph forest path on an arbitrarily large pair graph).
        val (cached, _, n) = fuzzyPairsCached(c)
        val pairs = cached.select(col("key_a"), col("key_b"))
        val verts = pairs.select(col("key_a").as("id"))
          .unionByName(pairs.select(col("key_b").as("id"))).distinct()
        GraphOps.connectedComponents(verts,
            pairs.toDF("src", "dst"), sizeHint = Some(n))
          .groupBy(col("label")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
          .orderBy("sz")
      },
      Some("""
        WITH RECURSIVE lp AS (
          SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
          FROM customer a JOIN customer b
            ON a.c_nationkey = b.c_nationkey
           AND a.c_mktsegment = b.c_mktsegment
           AND a.c_custkey < b.c_custkey
           AND levenshtein(a.c_name, b.c_name) <= 2),
        e2 AS (SELECT id_a AS a, id_b AS b FROM lp
               UNION ALL SELECT id_b, id_a FROM lp),
        verts AS (SELECT DISTINCT a AS node FROM e2),
        walk(node, label) AS (
          SELECT node, node FROM verts
          UNION
          SELECT e2.b, walk.label FROM walk JOIN e2 ON e2.a = walk.node),
        comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node),
        szs AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1)
        SELECT sz, count(*) AS n_clusters
        FROM szs GROUP BY 1 ORDER BY sz""")
    ),
    QueryDef(
      "agg_incremental_merge",
      // Incremental warehouse pattern: two batch windows aggregate to
      // per-key PARTIAL states (count, long-cent sum), the partials union
      // and re-aggregate — the algebraic-merge shape that lets a daily job
      // fold yesterday's materialized state with today's delta instead of
      // rescanning history. Equality with the oracle's full-history
      // aggregate is the mergeability proof (long sums are associative).
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_custkey"), col("o_orderdate"),
          cents(col("o_totalprice")).as("cts"))
        val cut = lit("1996-01-01").cast("date")
        def partial(df: DataFrame) = df.groupBy("o_custkey")
          .agg(count(lit(1)).as("n"), sum(col("cts")).as("rev_c"))
        partial(o.filter(col("o_orderdate") < cut))
          .unionByName(partial(o.filter(col("o_orderdate") >= cut)))
          .groupBy("o_custkey")
          .agg(sum(col("n")).as("n_orders"), sum(col("rev_c")).as("rev_c"))
          .orderBy("o_custkey")
      },
      Some("""
        SELECT o_custkey, count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS rev_c
        FROM orders GROUP BY o_custkey ORDER BY o_custkey""")
    ),
    QueryDef(
      "embedding_norm_profile",
      // Corpus QA for embeddings: per-label histogram of L2 norms (0.1-wide
      // buckets) — the drift/outlier profile a training pipeline checks
      // before ANN indexing. The fold runs left-to-right with identical
      // IEEE ops in both engines (see float-rules), so the bucket edge is
      // decided on bit-identical doubles.
      (s, dir) => {
        val norm = sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")))
        t(s, dir, "embeddings")
          .select(col("label"), floor(norm * 10).cast("long").as("bucket"))
          .groupBy("label", "bucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("label", "bucket")
      },
      Some("""
        WITH n AS (
          SELECT label,
                 CAST(floor(sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 10)
                   AS BIGINT) AS bucket
          FROM embeddings)
        SELECT label, bucket, count(*) AS n
        FROM n GROUP BY 1, 2 ORDER BY label, bucket""")
    ),
    QueryDef(
      "text_keyword_rank",
      // Per-document keyword extraction, float-free: terms rank by
      // (tf DESC, df ASC, term ASC) — exactly the tf·idf ordering for a
      // fixed tf (higher df ⇒ lower idf) without a cross-engine ln().
      // df computes over the WHOLE corpus (one shuffle on term, vocab-
      // sized result broadcasts); the per-doc top-3 window partitions by
      // doc_id, so no global sort. Output limited to doc_id < 50.
      (s, dir) => {
        // widen (round 16): the regex tokenize is the per-row-heavy stage
        // and the corpus scans as one split — A/B 1.89 -> 1.18 s (median
        // of 5, one warm session); identity when the scan is wide.
        val toks = graft.ops.SparkOps.widen(t(s, dir, "documents")).select(
          col("doc_id"),
          explode(expr(
            "filter(split(lower(text), '\\\\s+'), t -> t rlike '^[a-z]{3,}$')"))
            .as("term"))
        // tf is consumed twice (df derives from it + the ranked filter);
        // materialize once so the explode+shuffle doesn't run per branch.
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .materialized
        // tf holds one row per (doc, term) — so document frequency is a
        // plain count per term, no second tokenize/explode pass.
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("term").asc)
        tf.filter(col("doc_id") < 50)
          .join(broadcast(df), "term")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"))
          .orderBy("doc_id", "rnk")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                   x -> regexp_full_match(x, '[a-z]{3,}'))) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        r AS (SELECT doc_id, term, tf, df,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY tf DESC, df ASC, term ASC) AS rnk
              FROM tf JOIN df USING (term) WHERE doc_id < 50)
        SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tf, df
        FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""")
    ),
    QueryDef(
      "events_seasonality",
      // Hour-of-day seasonality profile per event type — the batch shape
      // behind capacity planning and anomaly baselines. 24×5 output rows;
      // one partial-aggregated shuffle. Average forms from exact long cents
      // with double division only in the final projection.
      (s, dir) =>
        Tables.events(s, dir)
          .select(hour(col("ts")).as("hod"), col("event_type"),
            cents(col("value")).as("vc"))
          .groupBy("hod", "event_type")
          .agg(
            count(lit(1)).as("n"),
            round(sum(col("vc")).cast("double") / count(lit(1)).cast("double"), 4)
              .as("avg_cents"))
          .orderBy("hod", "event_type"),
      Some("""
        WITH e AS (
          SELECT extract(hour FROM make_timestamp(epoch_ns(ts) // 1000)) AS hod,
                 event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
          FROM events)
        SELECT CAST(hod AS INTEGER) AS hod, event_type, count(*) AS n,
               round(CAST(sum(vc) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
                 AS avg_cents
        FROM e GROUP BY 1, 2 ORDER BY hod, event_type""")
    ),
    QueryDef(
      "window_yoy_growth",
      // Year-over-year growth per calendar month: the monthly rollup
      // self-joins on month − 12 (gap-safe — a missing month yields the −1
      // sentinel, where lag(12) would silently compare the wrong month).
      // The rollup is calendar-bounded (≤ ~84 rows at ANY fact size), so
      // the self-join broadcasts; the only data-sized work is the month
      // groupBy. Growth is one long/long→double division, −1 when no
      // prior-year month exists.
      (s, dir) => {
        val m = t(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
          .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
        val prev = m.select(add_months(col("m"), 12).as("m"),
          col("rev_c").as("prev_rev_c"))
        m.join(broadcast(prev), Seq("m"), "left_outer")
          .select(col("m"), col("rev_c"),
            coalesce(col("prev_rev_c"), lit(-1L)).as("prev_rev_c"),
            when(col("prev_rev_c").isNull, lit(-1.0))
              .otherwise(round(col("rev_c") / col("prev_rev_c"), 6)).as("growth"))
          .orderBy("m")
      },
      Some("""
        WITH m AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS rev_c
          FROM orders GROUP BY 1)
        SELECT m.m, m.rev_c,
               coalesce(p.rev_c, -1) AS prev_rev_c,
               CASE WHEN p.rev_c IS NULL THEN -1.0
                    ELSE round(m.rev_c / p.rev_c, 6) END AS growth
        FROM m LEFT JOIN m p ON p.m + INTERVAL 12 MONTH = m.m
        ORDER BY m.m""")
    ),
    QueryDef(
      "scan_merge_schema",
      // Schema-evolution scan: two parquet generations with different
      // column sets (an old write without o_orderpriority, a new one with
      // it) read back through mergeSchema — the source-level twin of
      // union_evolve (which merges at the plan level). Columns missing in a
      // generation surface as NULLs; the aggregate proves both the merged
      // schema and the null semantics.
      (s, dir) => {
        val tmp = SparkOps.scratch(s"graft_merge_schema_${Integer.toHexString(dir.hashCode)}").toString
        val o = t(s, dir, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"))
          .write.mode("overwrite").parquet(s"$tmp/gen=0")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$tmp/gen=1")
        s.read.option("mergeSchema", "true").parquet(tmp)
          .groupBy(col("o_orderstatus"),
            coalesce(col("o_orderpriority"), lit("<missing>")).as("prio"))
          .agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus", "prio")
      },
      Some("""
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 2 = 0 THEN '<missing>'
                    ELSE o_orderpriority END AS prio,
               count(*) AS n
        FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, prio""")
    ),
    QueryDef(
      "snapshot_diff",
      // Lakehouse time travel: two materialized snapshot versions of a
      // per-customer rollup (v0 = history before the cut, v1 = full) and
      // the row-level diff between them — the audit that answers "what did
      // this batch change". Versions write as real parquet snapshots and
      // re-read (nothing diffs in memory); the diff is a single full-outer
      // join on the key. Snapshot tables are key-grain (not fact-grain), so
      // the join shuffles the small rollups only.
      (s, dir) => {
        val tmp = SparkOps.scratch(s"graft_snapshots_${Integer.toHexString(dir.hashCode)}").toString
        val o = t(s, dir, "orders").select(
          col("o_custkey"), col("o_orderdate"),
          cents(col("o_totalprice")).as("cts"))
        val cut = lit("1997-01-01").cast("date")
        def rollup(df: DataFrame) = df.groupBy("o_custkey")
          .agg(count(lit(1)).as("n"), sum(col("cts")).as("rev_c"))
        rollup(o.filter(col("o_orderdate") < cut))
          .write.mode("overwrite").parquet(s"$tmp/v=0")
        rollup(o).write.mode("overwrite").parquet(s"$tmp/v=1")
        val v0 = s.read.parquet(s"$tmp/v=0")
          .select(col("o_custkey"), col("n").as("n_v0"), col("rev_c").as("rev_v0"))
        val v1 = s.read.parquet(s"$tmp/v=1")
          .select(col("o_custkey"), col("n").as("n_v1"), col("rev_c").as("rev_v1"))
        v1.join(v0, Seq("o_custkey"), "left_outer")
          .select(col("o_custkey"),
            coalesce(col("n_v0"), lit(0L)).as("n_v0"), col("n_v1"),
            (col("rev_v1") - coalesce(col("rev_v0"), lit(0L))).as("delta_rev_c"),
            when(col("n_v0").isNull, lit("added"))
              .when(col("n_v1") > col("n_v0"), lit("changed"))
              .otherwise(lit("unchanged")).as("status"))
          .orderBy("o_custkey")
      },
      Some("""
        WITH o AS (
          SELECT o_custkey, o_orderdate,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cts
          FROM orders),
        d AS (
          SELECT o_custkey,
                 CAST(sum(CASE WHEN o_orderdate < DATE '1997-01-01'
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_v0,
                 count(*) AS n_v1,
                 CAST(sum(CASE WHEN o_orderdate >= DATE '1997-01-01'
                          THEN cts ELSE 0 END) AS BIGINT) AS delta_rev_c
          FROM o GROUP BY 1)
        SELECT o_custkey, n_v0, n_v1, delta_rev_c,
               CASE WHEN n_v0 = 0 THEN 'added'
                    WHEN n_v1 > n_v0 THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM d ORDER BY o_custkey""")
    ),
    QueryDef(
      "events_peak_detection",
      // Local-maxima detection on the daily series: a day is a peak when
      // its total strictly exceeds BOTH neighbors (lag/lead over the
      // per-type day series — calendar-bounded rows, exact long cents).
      // The classic changepoint/alerting primitive next to zscore/CUSUM.
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(cents(col("value"))).as("tot_c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        daily
          .withColumn("prev_c", lag(col("tot_c"), 1).over(w))
          .withColumn("next_c", lead(col("tot_c"), 1).over(w))
          .filter(col("prev_c").isNotNull && col("next_c").isNotNull &&
            col("tot_c") > col("prev_c") && col("tot_c") > col("next_c"))
          .select(col("event_type"), col("day"), col("tot_c"),
            (col("tot_c") - col("prev_c")).as("rise_c"),
            (col("tot_c") - col("next_c")).as("fall_c"))
          .orderBy("event_type", "day")
      },
      Some("""
        WITH daily AS (
          SELECT event_type,
                 date_trunc('day', make_timestamp(epoch_ns(ts) // 1000)) AS day,
                 CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS tot_c
          FROM events GROUP BY 1, 2),
        x AS (
          SELECT event_type, day, tot_c,
                 lag(tot_c) OVER (PARTITION BY event_type ORDER BY day) AS prev_c,
                 lead(tot_c) OVER (PARTITION BY event_type ORDER BY day) AS next_c
          FROM daily)
        SELECT event_type, day, tot_c,
               tot_c - prev_c AS rise_c, tot_c - next_c AS fall_c
        FROM x
        WHERE prev_c IS NOT NULL AND next_c IS NOT NULL
          AND tot_c > prev_c AND tot_c > next_c
        ORDER BY event_type, day""")
    ),
    QueryDef(
      "text_vocab_growth",
      // Heaps'-law vocabulary growth at character-13-gram grain (the
      // corpus's word vocabulary is tiny, so grams carry the curve): new
      // distinct grams contributed per 10-doc bucket and the cumulative
      // vocabulary — the corpus-scaling curve behind tokenizer sizing and
      // data-mixing plans. First occurrence = min doc_id per gram (one
      // gram-keyed shuffle with map-side partial min; the 100 TB path
      // ships xxhash64 digests, same plan); the cumulative sum runs over
      // REPORT-grain buckets (fixed count, not data-sized), so the window
      // is bounded at any corpus size.
      (s, dir) => {
        // widen (round 16): the corpus snapshot scans as ONE sub-4MB split,
        // which serialized the whole 13-gram explode + partial-min on a
        // single task (A/B: 1.9-3.2 s single-task vs 0.3-0.6 s widened at
        // 32 cores); identity when the scan is already wide (SparkOps.widen).
        val first = graft.ops.SparkOps.widen(t(s, dir, "documents")
            .filter(length(col("text")) >= 13))
          .select(col("doc_id"),
            explode(expr(
              "transform(sequence(1, length(text) - 12), i -> substr(text, i, 13))"))
              .as("tok"))
          .groupBy("tok")
          .agg(min(col("doc_id")).as("first_doc"))
        val buckets = first
          .groupBy((col("first_doc") / 10).cast("long").as("bucket"))
          .agg(count(lit(1)).as("new_toks"))
        buckets
          .withColumn("cum_vocab", sum(col("new_toks")).over(
            Window.orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .orderBy("bucket")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, length(text) - 11),
                   i -> substr(text, i, 13))) AS tok
          FROM documents WHERE length(text) >= 13),
        first AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY 1),
        nb AS (SELECT first_doc // 10 AS bucket, count(*) AS new_toks
               FROM first GROUP BY 1)
        SELECT bucket, new_toks,
               CAST(sum(new_toks) OVER (ORDER BY bucket
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
        FROM nb ORDER BY bucket""")
    ),
    QueryDef(
      "events_stickiness",
      // DAU/MAU stickiness per month — the engagement ratio next to
      // events_active_users' rolling WAU. All counting stays integer
      // (distinct user-days once, then three exact aggregates); the only
      // division is the final ratio. The distinct is the one data-sized
      // shuffle; everything after is month-grain.
      (s, dir) => {
        val ud = Tables.events(s, dir)
          .select(col("user_id"),
            date_trunc("day", col("ts")).as("day"),
            date_trunc("month", col("ts")).cast("date").as("month"))
          .distinct()
        val dau = ud.groupBy("month", "day").agg(count(lit(1)).as("dau"))
          .groupBy("month")
          .agg(sum(col("dau")).as("sum_dau"), count(lit(1)).as("n_days"))
        val mau = ud.select("month", "user_id").distinct()
          .groupBy("month").agg(count(lit(1)).as("mau"))
        dau.join(mau, "month")
          .select(col("month"), col("sum_dau"), col("n_days"), col("mau"),
            round(col("sum_dau").cast("double") /
              (col("n_days") * col("mau")).cast("double"), 6).as("stickiness"))
          .orderBy("month")
      },
      Some("""
        WITH ud AS (
          SELECT DISTINCT user_id,
                 date_trunc('day', make_timestamp(epoch_ns(ts) // 1000)) AS day,
                 CAST(date_trunc('month', make_timestamp(epoch_ns(ts) // 1000))
                   AS DATE) AS month
          FROM events),
        dau AS (
          SELECT month, CAST(sum(dau) AS BIGINT) AS sum_dau,
                 count(*) AS n_days
          FROM (SELECT month, day, count(*) AS dau FROM ud GROUP BY 1, 2)
          GROUP BY 1),
        mau AS (
          SELECT month, count(*) AS mau
          FROM (SELECT DISTINCT month, user_id FROM ud) GROUP BY 1)
        SELECT month, sum_dau, n_days, mau,
               round(CAST(sum_dau AS DOUBLE) /
                 CAST(n_days * mau AS DOUBLE), 6) AS stickiness
        FROM dau JOIN mau USING (month) ORDER BY month""")
    ),
    QueryDef(
      "window_drawdown",
      // Maximum drawdown per year of the cumulative daily revenue series —
      // running max minus running sum, the risk metric shape (same pattern
      // as inventory shortfall / SLA debt). The windows run over the DAY
      // rollup — calendar-bounded (~2.4k rows at ANY fact size, like the
      // gap-fill spine), so the unpartitioned window is bounded by time,
      // not data; the only data-sized step is the day groupBy.
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").as("day"))
          .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
        val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
        daily
          .withColumn("cum_c", sum(col("rev_c")).over(w))
          .withColumn("peak_c", max(col("cum_c")).over(w))
          .withColumn("dd_c", col("peak_c") - col("cum_c"))
          .groupBy(year(col("day")).as("yr"))
          .agg(count(lit(1)).as("n_days"), max(col("dd_c")).as("max_drawdown_c"))
          .orderBy("yr")
      },
      Some("""
        WITH daily AS (
          SELECT o_orderdate AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS rev_c
          FROM orders GROUP BY 1),
        x AS (
          SELECT day, rev_c,
                 CAST(sum(rev_c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cum_c
          FROM daily),
        y AS (
          SELECT day,
                 CAST(max(cum_c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) - cum_c AS dd_c
          FROM x)
        SELECT CAST(year(day) AS INTEGER) AS yr, count(*) AS n_days,
               max(dd_c) AS max_drawdown_c
        FROM y GROUP BY 1 ORDER BY yr""")
    ),
    QueryDef(
      "events_burst_histogram",
      // Burst profile for abuse/bot detection: each user's maximum
      // events-per-minute, histogrammed — the rate-limit calibration view.
      // Two keyed aggregations (user×minute, then user), both partial
      // map-side; no window, no join.
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("m"))
          .agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(max(col("n")).as("max_per_min"))
          .groupBy("max_per_min")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("max_per_min"),
      Some("""
        WITH um AS (
          SELECT user_id,
                 date_trunc('minute', make_timestamp(epoch_ns(ts) // 1000)) AS m,
                 count(*) AS n
          FROM events GROUP BY 1, 2),
        mx AS (SELECT user_id, CAST(max(n) AS BIGINT) AS max_per_min
               FROM um GROUP BY 1)
        SELECT max_per_min, count(*) AS n_users
        FROM mx GROUP BY 1 ORDER BY max_per_min""")
    ),
    QueryDef(
      "customers_growth_curve",
      // New-customer acquisition curve: first-order month per customer →
      // monthly new customers + cumulative base (the growth-accounting
      // twin of text_vocab_growth's first-occurrence shape). One custkey
      // shuffle for the min; the cumulative window runs over the
      // calendar-bounded month rollup.
      (s, dir) => {
        val firstM = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(min(date_trunc("month", col("o_orderdate")).cast("date")).as("m"))
        firstM.groupBy("m").agg(count(lit(1)).as("new_customers"))
          .withColumn("cum_customers", sum(col("new_customers")).over(
            Window.orderBy(col("m"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .orderBy("m")
      },
      Some("""
        WITH f AS (
          SELECT o_custkey,
                 min(CAST(date_trunc('month', o_orderdate) AS DATE)) AS m
          FROM orders GROUP BY 1),
        nm AS (SELECT m, count(*) AS new_customers FROM f GROUP BY 1)
        SELECT m, new_customers,
               CAST(sum(new_customers) OVER (ORDER BY m
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_customers
        FROM nm ORDER BY m""")
    ),
    QueryDef(
      "events_autocorr",
      // Lag-k autocorrelation (k = 1, 7) of the daily revenue series — the
      // seasonality/persistence diagnostic behind forecasting and anomaly
      // baselines. The series is the calendar-bounded day rollup; each lag
      // pairs by an exact date join (gap-safe, like window_yoy_growth).
      // Pearson over the paired (x, y) forms from exact long-cent
      // component sums, cast to double ONLY in the final formula with
      // identical op order both engines; 1e-6 quantized output. Headroom:
      // Σx² in long cents holds to ~3e9 cents/day over 2.4k days; a
      // larger warehouse scales the quanta to dollars (corr is
      // scale-invariant) before this query.
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(sum(cents(col("value"))).as("v"))
          .materialized
        val lags = Seq(1, 7).map { k =>
          val lead = daily.select(date_add(col("day"), k).as("day"),
            col("v").as("x"))
          lead.join(daily.select(col("day"), col("v").as("y")), "day")
            .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
              sum(col("y")).as("sy"),
              sum(col("x") * col("x")).as("sxx"),
              sum(col("y") * col("y")).as("syy"),
              sum(col("x") * col("y")).as("sxy"))
            .select(lit(k).as("lag"),
              col("n"),
              floor(
                ((col("n").cast("double") * col("sxy").cast("double") -
                  col("sx").cast("double") * col("sy").cast("double")) /
                  (sqrt(col("n").cast("double") * col("sxx").cast("double") -
                    col("sx").cast("double") * col("sx").cast("double")) *
                   sqrt(col("n").cast("double") * col("syy").cast("double") -
                    col("sy").cast("double") * col("sy").cast("double"))))
                  * 1000000 + 0.5).cast("long").as("corr_e6"))
        }
        lags.reduce(_ unionByName _).orderBy("lag")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(date_trunc('day', make_timestamp(epoch_ns(ts) // 1000))
                   AS DATE) AS day,
                 CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS v
          FROM events GROUP BY 1),
        p AS (
          SELECT k.lag AS lag, a.v AS x, b.v AS y
          FROM (VALUES (1), (7)) k(lag)
          JOIN daily a ON TRUE
          JOIN daily b ON b.day = a.day + CAST(k.lag AS INTEGER)),
        c AS (
          SELECT lag, count(*) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM p GROUP BY 1)
        SELECT CAST(lag AS INTEGER) AS lag, n,
               CAST(floor(
                 ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                   CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                    CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                 * 1000000 + 0.5) AS BIGINT) AS corr_e6
        FROM c ORDER BY lag""")
    ),
    QueryDef(
      "dq_psi_drift",
      // Population Stability Index between the first and second half of
      // the event stream, per event type over 10 value-decile-ish buckets
      // (fixed $50 bands) — THE model-monitoring drift metric. Each PSI
      // term (p−q)·ln(p/q) evaluates on exact integer counts with the
      // ln result quantized to a 1e-9 long per term (the entropy
      // precedent), so the cross-bucket sum is order-independent.
      // Laplace-smoothed (+1 per bucket) so empty buckets stay defined.
      (s, dir) => {
        // Boundary = 2× the median event time, exactly integral (truncate-
        // vs-round cast divergence would otherwise shift the boundary 1 µs)
        // — found by TWO-PHASE positional selection over (us, event_id)
        // (the conversion-lag shape: range-partition, ≤8-row offset scan,
        // per-partition ranks), NOT the buffering percentile() aggregate,
        // which holds every value of the group in memory.
        val ev = Tables.events(s, dir)
          .select(unix_micros(col("ts")).as("us"), col("event_id"))
        val parts = ev.repartitionByRange(8, col("us"), col("event_id"))
          .withColumn("pid", spark_partition_id())
        val offsets = parts.groupBy("pid").agg(count(lit(1)).as("pn"))
          .select(col("pid"),
            coalesce(sum(col("pn")).over(Window.orderBy("pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"),
            sum(col("pn")).over(Window.orderBy("pid")
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
              .as("nn"))
        val mid = parts.join(broadcast(offsets), "pid")
          .withColumn("rn", col("off") + row_number().over(
            Window.partitionBy("pid").orderBy(col("us"), col("event_id"))))
          .filter(col("rn") === expr("(nn + 1) div 2") ||
            col("rn") === expr("(nn + 2) div 2"))
          .agg(sum(col("us") *
            when(expr("(nn + 1) div 2 = (nn + 2) div 2"), 2L).otherwise(1L))
            .as("m2"))
        val bucketed = Tables.events(s, dir)
          .crossJoin(broadcast(mid))
          .select(col("event_type"),
            when(unix_micros(col("ts")) * 2 <= col("m2"), "a").otherwise("b").as("half"),
            least(floor(col("value") / 50).cast("long"), lit(9L)).as("bucket"))
          .groupBy("event_type", "bucket")
          .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("na"),
            sum(when(col("half") === "b", 1L).otherwise(0L)).as("nb"))
        val tot = bucketed.groupBy("event_type")
          .agg(sum(col("na") + 1).as("ta"), sum(col("nb") + 1).as("tb"))
        bucketed.join(broadcast(tot), "event_type")
          .withColumn("term_e9", floor(
            ((col("na") + 1).cast("double") / col("ta").cast("double") -
             (col("nb") + 1).cast("double") / col("tb").cast("double")) *
            log(((col("na") + 1).cast("double") / col("ta").cast("double")) /
                ((col("nb") + 1).cast("double") / col("tb").cast("double")))
            * 1e9 + 0.5).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_buckets"),
            round(sum(col("term_e9")).cast("double") / 1e9, 6).as("psi"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_type, epoch_us(make_timestamp(epoch_ns(ts) // 1000)) AS us,
                 value
          FROM events),
        mid AS (SELECT CAST(2 * quantile_cont(us, 0.5) AS BIGINT) AS m2 FROM e),
        b AS (
          SELECT event_type,
                 CASE WHEN us * 2 <= m2 THEN 'a' ELSE 'b' END AS half,
                 least(CAST(floor(value / 50) AS BIGINT), 9) AS bucket
          FROM e, mid),
        g AS (
          SELECT event_type, bucket,
                 CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                 CAST(sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb
          FROM b GROUP BY 1, 2),
        t AS (SELECT event_type, CAST(sum(na + 1) AS BIGINT) AS ta,
                     CAST(sum(nb + 1) AS BIGINT) AS tb
              FROM g GROUP BY 1),
        terms AS (
          SELECT g.event_type,
                 CAST(floor(
                   (CAST(na + 1 AS DOUBLE) / CAST(ta AS DOUBLE) -
                    CAST(nb + 1 AS DOUBLE) / CAST(tb AS DOUBLE)) *
                   ln((CAST(na + 1 AS DOUBLE) / CAST(ta AS DOUBLE)) /
                      (CAST(nb + 1 AS DOUBLE) / CAST(tb AS DOUBLE)))
                   * 1e9 + 0.5) AS BIGINT) AS term_e9
          FROM g JOIN t USING (event_type))
        SELECT event_type, count(*) AS n_buckets,
               round(CAST(sum(term_e9) AS DOUBLE) / 1e9, 6) AS psi
        FROM terms GROUP BY event_type ORDER BY event_type""")
    ),
    QueryDef(
      "dq_right_to_forget",
      // Deletion-propagation audit (GDPR right-to-forget shape): given a
      // deletion list, report per-table rows purged and PROVE the
      // post-purge tables are clean (remaining = 0 via anti-join counts).
      // The deletion list broadcasts; each table is one semi-count +
      // one anti-recount — no shuffles of the facts.
      (s, dir) => {
        val doomed = t(s, dir, "customer")
          .filter(col("c_custkey") <= 10).select(col("c_custkey").as("k"))
        val custPurge = t(s, dir, "customer")
          .join(broadcast(doomed), col("c_custkey") === col("k"), "left_semi")
        val ordPurge = t(s, dir, "orders")
          .join(broadcast(doomed), col("o_custkey") === col("k"), "left_semi")
        val custClean = t(s, dir, "customer")
          .join(broadcast(doomed), col("c_custkey") === col("k"), "left_anti")
          .join(broadcast(doomed), col("c_custkey") === col("k"), "left_semi")
        val ordClean = t(s, dir, "orders")
          .join(broadcast(doomed), col("o_custkey") === col("k"), "left_anti")
          .join(broadcast(doomed), col("o_custkey") === col("k"), "left_semi")
        Seq(("customer", custPurge, custClean), ("orders", ordPurge, ordClean))
          .map { case (name, purged, leak) =>
            purged.agg(count(lit(1)).as("n_purged"))
              .crossJoin(leak.agg(count(lit(1)).as("n_leaked")))
              .select(lit(name).as("table_name"), col("n_purged"), col("n_leaked"))
          }
          .reduce(_ unionByName _)
          .orderBy("table_name")
      },
      Some("""
        SELECT 'customer' AS table_name,
               (SELECT count(*) FROM customer WHERE c_custkey <= 10) AS n_purged,
               CAST(0 AS BIGINT) AS n_leaked
        UNION ALL
        SELECT 'orders',
               (SELECT count(*) FROM orders WHERE o_custkey <= 10),
               CAST(0 AS BIGINT)
        ORDER BY table_name""")
    )
  )
}
