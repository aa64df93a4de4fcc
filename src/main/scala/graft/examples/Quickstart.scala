package graft.examples

import graft.core._
import graft.ops.{DedupOps, SparkEnv, SparkOps => O, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The README quickstart, as real code: scan → quality gate → exact dedup
  * → near-dup removal → uniform domain mixture → hash-sharded sink, each
  * stage a [[graft.core.Node]] so the whole thing composes with `~>`,
  * carries trace counters, and renders lineage. ExamplesSpec runs
  * [[curate]] end-to-end on the sf0.001 fixtures — if the README snippet
  * drifts from what compiles, that spec breaks.
  *
  * The Spark side stays declarative: every stage contributes to ONE
  * logical plan per action, Catalyst sees through the Node boundaries,
  * and the only materializations are the ones the pipeline asks for
  * (counters + the sharded write).
  */
object Quickstart {

  /** Run the curation pipeline; returns the trace (result = per-shard
    * summary read back from the sink).
    */
  def curate(spark: SparkSession, dir: String, out: String): Trace[DataFrame] = {

    // --- quickstart snippet (mirrored in README.md) --------------------
    val scan = O.scanParquet("documents")

    val qualityGate: Transform[DataFrame, DataFrame] = Node { docs =>
      docs.join(TextOps.qualityScore(docs).select("doc_id", "quality"), "doc_id")
        .filter(col("quality") >= 0.3)
    }

    val dedup: Transform[DataFrame, DataFrame] = Node { docs =>
      // exact first (digest groupBy — shuffles hashes, not text), then
      // MinHash-LSH near-dups: drop the higher id of every mined pair
      val exact = docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      val kept = docs.join(exact.select("doc_id"), "doc_id")
      val losers = DedupOps.minhashLsh(kept.select("doc_id", "text"), threshold = 0.9)
        .select(col("id_b").as("doc_id")).distinct()
      Tel.addCounter("near_dup_docs_dropped", losers.count())
      kept.join(losers, Seq("doc_id"), "left_anti")
    }

    val mixture: Transform[DataFrame, DataFrame] =
      Node(TextOps.domainMixUniform(_, stratumCol = "source"))

    val shard: Transform[DataFrame, DataFrame] = Node { docs =>
      docs.withColumn("shard", pmod(xxhash64(col("doc_id")), lit(8)).cast("int"))
    }

    val sink = O.writeParquet(out, partitionBy = Seq("shard"))

    val summary: Transform[DataFrame, DataFrame] = Node { _ =>
      SparkSession.active.read.parquet(out)
        .groupBy("shard").agg(count(lit(1)).as("n_docs"))
        .orderBy("shard")
    }

    val pipeline = (scan ~> qualityGate ~> dedup ~> mixture ~> shard
      ~> (sink >> summary)).lineageName("quickstart-curate")
    // --------------------------------------------------------------------

    pipeline.provide(SparkEnv(spark, dir)).unsafeRunTrace(())
  }

  /** Warehouse companion to [[curate]]: pure SQL TEXT through the algebra.
    * The report is TPC-H Q3's shape written with Spark-4 SQL surface
    * features — a SQL-language UDF (`CREATE FUNCTION ... RETURN expr`,
    * inlined into codegen at resolution) for the cent-quanta money math —
    * wrapped in a Node with an `ensure` gate, so SQL-first teams get the
    * same composition, validation, trace, and lineage story as the
    * DataFrame API. ExamplesSpec runs it end-to-end and cross-checks the
    * revenue against the DataFrame-API twin.
    */
  def warehouseReport(spark: SparkSession, dir: String): Trace[DataFrame] = {
    val register: Node[Unit, Unit] = Node { _ =>
      // Suffixed view names (same convention as the graded queries'
      // `_v` views): registering bare `customer`/`orders`/`lineitem`
      // session-global views would silently clobber — or be clobbered
      // by — a user's own views of those names in a shared session.
      Seq("customer", "orders", "lineitem").foreach(t =>
        spark.read.parquet(s"$dir/$t.parquet")
          .createOrReplaceTempView(s"${t}_wr"))
      spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION money_e4(x DOUBLE)
        RETURNS BIGINT RETURN CAST(floor(x * 10000 + 0.5) AS BIGINT)""")
      ()
    }
    val report: Node[Unit, DataFrame] = Node { _ =>
      spark.sql("""
        SELECT l_orderkey, o_orderdate,
               CAST(floor((sum(money_e4(l_extendedprice * (1 - l_discount))) + 50) / 100)
                 AS DOUBLE) / 100.0 AS revenue
        FROM lineitem_wr
        JOIN orders_wr   ON l_orderkey = o_orderkey
        JOIN customer_wr ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10""")
    }
    val gate = report.ensure(output = Seq(
      df => if (df.count() <= 10) None else Some("top-10 report overflow")))
    ((register ~> gate).lineageName("warehouse-report"))
      .unsafeRunTrace(())
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()
    val out = O.scratch("graft_quickstart_out").toString
    val trace = curate(spark, dir, out)
    trace.result.show(10, truncate = false)
    println(s"[quickstart] counters: ${trace.counterTotals}")
    println(s"[quickstart] sharded corpus at: $out (scratch, removed at exit)")
    spark.stop()
  }
}
