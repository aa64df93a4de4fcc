package graft.queries

import graft.core._
import graft.ops.{SparkEnv, SparkOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the pipeline-shaped graded queries: the properties the oracle
  * can't see — physical partition counts, exchange reuse, and the
  * late-data drop actually dropping the late wave.
  */
class OpsQueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
    .master("local[4]")
    .appName("graft-opsqueries-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("repartition node yields the requested partition count") {
    val env = SparkEnv(spark, dir)
    val repartitioned =
      (SparkOps.scanParquet("orders").provide(env) ~>
        SparkOps.repartitionBy(8, col("o_orderpriority"))).unsafeRun(())
    assert(repartitioned.rdd.getNumPartitions == 8)
  }

  test("repartition query's aggregation reuses the repartition exchange") {
    // Repartition on the grouping key then groupBy the same key: the agg
    // must reuse the hash partitioning — exactly ONE exchange in the plan.
    val env = SparkEnv(spark, dir)
    val pipeline =
      SparkOps.scanParquet("orders").provide(env) ~>
        SparkOps.repartitionBy(8, col("o_orderpriority")) ~>
        SparkOps.groupAgg(
          Seq(col("o_orderpriority")),
          Seq(count(lit(1)).as("n")))
    val plan = pipeline.unsafeRun(()).queryExecution.executedPlan.toString
    val exchanges = "(?i)exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one exchange (the explicit repartition), got $exchanges in:\n$plan")
  }

  test("fanout_load sinks partition the source losslessly") {
    val run = Catalog.queriesMap("fanout_load")
    run(spark, dir) // stages both sinks
    val hi = spark.read.parquet(SparkOps.scratch("graft_fanout_hi").toString).count()
    val lo = spark.read.parquet(SparkOps.scratch("graft_fanout_lo").toString).count()
    val src = spark.read.parquet(s"$dir/lineitem.parquet").count()
    assert(hi + lo == src, s"hi=$hi lo=$lo src=$src")
    assert(hi > 0 && lo > 0)
  }

  test("stream_late_drop emits closed non-click windows only — late clicks dropped") {
    val result = Catalog.queriesMap("stream_late_drop")(spark, dir).cache()
    val ev = Tables.events(spark, dir)
    val cutoff = ev.filter(col("event_type") =!= "click")
      .agg(max(col("ts"))).head.getTimestamp(0)
    val expected = ev.filter(col("event_type") =!= "click")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .filter(col("window.end") <= timestamp_seconds(lit(cutoff.getTime / 1000.0 - 3600)))
      .select(col("window.start").as("window_start"), col("n"))
    val got = result.select(col("window_start"), col("n"))
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0,
      "streamed late-drop result must equal the batch non-click aggregate below the watermark cutoff")
    // And the drop is observable: a run that did NOT drop clicks would
    // count every event; assert at least one window differs from the
    // all-events aggregate.
    val withClicks = ev.groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_all"))
      .select(col("window.start").as("window_start"), col("n_all"))
    val joined = result.join(withClicks, "window_start")
    assert(joined.filter(col("n") < col("n_all")).count() > 0,
      "expected click contributions to be missing from emitted windows")
    result.unpersist()
  }
}
