package graft.ops

import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the prebuilt DataFrame nodes: DQ gates, observability,
  * multi-source extract, fan-out load through the algebra.
  */
class SparkOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
    .master("local[4]")
    .appName("graft-sparkops-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("ensureRows passes a holding invariant and fails a violated one") {
    val s = spark
    import s.implicits._
    val df = Seq(1, 2, 3).toDF("v")
    val ok = SparkOps.ensureRows(col("v") > 0, "v positive")
    assert(ok.unsafeRun(df).count() == 3)
    val bad = SparkOps.ensureRows(col("v") > 2, "v > 2")
    val ex = intercept[ValidationException](bad.unsafeRun(df))
    assert(ex.getMessage.contains("v > 2"))
  }

  test("countTo records the row count into the Trace as a counter") {
    val s = spark
    import s.implicits._
    val df = Seq(1, 2, 3, 4).toDF("v")
    val pipeline = Node[Unit, org.apache.spark.sql.DataFrame](_ => df) ~>
      SparkOps.countTo("rows_seen")
    val trace = pipeline.unsafeRunTrace(())
    assert(trace.counterTotals == Map("rows_seen" -> 4L))
  }

  test("scanTables reads a named map of tables in one extract node") {
    val env = SparkEnv(spark, dir)
    val tables = SparkOps.scanTables("region", "nation").provide(env).unsafeRun(())
    assert(tables.keySet == Set("region", "nation"))
    assert(tables("region").count() == 5)
    assert(tables("nation").count() == 25)
  }

  test("writeParquetObserved: metrics ride the write's single job into the trace") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, -5.0)).toDF("id", "v")
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_obs_spec"
    // Count Spark jobs across the pipeline: the DQ metrics must NOT cost
    // a second action — one write job (plus zero metric jobs) is the
    // whole point of observe() vs a separate aggregate. Jobs are counted
    // by a unique job group so queued events from other suites on the
    // shared context can never leak into the count.
    val group = s"graft-obs-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet()
        }
        ()
      }
    }
    s.sparkContext.addSparkListener(listener)
    s.sparkContext.setJobGroup(group, "observed-write spec")
    try {
      val pipeline = Node[Unit, org.apache.spark.sql.DataFrame](_ => df) ~>
        SparkOps.writeParquetObserved(out, "dq",
          "n_rows" -> count(lit(1)),
          "n_neg" -> sum(when(col("v") < 0, 1L).otherwise(0L)))
      val trace = pipeline.unsafeRunTrace(())
      // Listener delivery is async; wait for the (blocking) action's job
      // event to arrive, then a settle window to catch any extra job.
      val deadline = System.nanoTime() + 30000000000L
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
      assert(trace.latestGauges.get("dq.n_rows").contains(3.0))
      assert(trace.latestGauges.get("dq.n_neg").contains(1.0))
      assert(jobs.get() == 1,
        s"observed write must cost exactly the write job, saw ${jobs.get()}")
      s.sparkContext.clearJobGroup()
      assert(s.read.parquet(out).count() == 3)
    } finally {
      s.sparkContext.clearJobGroup()
      s.sparkContext.removeSparkListener(listener)
    }
  }

  test("stageOnce: writes once per source generation, restages on source mtime bump") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val base = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_stageonce_spec_${System.nanoTime()}")
    Files.createDirectories(base)
    val src = base.resolve("src.parquet")
    Files.write(src, Array[Byte](1, 2, 3))
    val target = base.resolve("staged")
    var writes = 0
    def stage(): String = SparkOps.stageOnce(src, target) {
      Files.createDirectories(target); writes += 1; ()
    }
    stage(); stage()
    assert(writes == 1, "second call with an unchanged source must not rewrite")
    // A regenerated source (newer mtime than the marker) must restage —
    // this is the contract that makes a testdata regeneration invalidate
    // every staged replay/layout dir instead of silently replaying stale
    // data. Bump just past the marker (a future-dated source would keep
    // restaging forever — correctly, but that's not this assertion).
    val marker = target.resolve("_STAGED")
    Files.setLastModifiedTime(src,
      FileTime.fromMillis(Files.getLastModifiedTime(marker).toMillis + 1))
    stage()
    assert(writes == 2, "a newer source generation must restage")
    stage()
    assert(writes == 2, "restaged marker is current again")
  }

  test("scratch: a foreign staged dir at the old shared tmpdir path is never read") {
    import java.nio.file.{Files, Paths}
    // What another JVM staged before scratch roots existed: a fresh
    // `_STAGED` marker over one row that is not this dataset's orders.
    val foreign = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_dpp_orders_${Integer.toHexString(dir.hashCode)}")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    try {
      orders.limit(1).withColumn("o_month", lit("1996-01"))
        .write.mode("overwrite").partitionBy("o_month").parquet(foreign.toString)
      Files.createFile(foreign.resolve("_STAGED"))
      val got = graft.queries.Catalog.queriesMap("join_dpp_pruned")(spark, dir).collect()
      val want = orders
        .filter(year(col("o_orderdate")) === 1996 && quarter(col("o_orderdate")) === 1)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          graft.queries.Tables.moneySum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority").collect()
      assert(got.toSeq == want.toSeq)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(foreign.toFile)
  }

  test("scratch: one root per java.io.tmpdir value, created under it") {
    import java.nio.file.{Files, Paths}
    val saved = System.getProperty("java.io.tmpdir")
    val other = Files.createTempDirectory("graft_scratch_spec")
    try {
      val a = SparkOps.scratch("x")
      assert(a.getParent.getParent == Paths.get(saved))
      assert(SparkOps.scratch("y").getParent == a.getParent, "same tmpdir, same root")
      System.setProperty("java.io.tmpdir", other.toString)
      val b = SparkOps.scratch("x")
      assert(b.getParent.getParent == other, "new tmpdir, root under it")
      assert(b.getParent.getFileName.toString.startsWith("graft-"))
      System.setProperty("java.io.tmpdir", saved)
      assert(SparkOps.scratch("x") == a, "switching back reuses the first root")
    } finally {
      System.setProperty("java.io.tmpdir", saved)
      org.apache.commons.io.FileUtils.deleteQuietly(other.toFile)
    }
  }

  test("fan-out load: one source, two sinks via & then >>") {
    val env = SparkEnv(spark, dir)
    val tmpA = s"${System.getProperty("java.io.tmpdir")}/graft_fan_a"
    val tmpB = s"${System.getProperty("java.io.tmpdir")}/graft_fan_b"
    val pipeline = SparkOps.scanParquet("region") ~>
      (SparkOps.writeParquet(tmpA) & SparkOps.writeParquet(tmpB))
    pipeline.provide(env).unsafeRun(())
    assert(spark.read.parquet(tmpA).count() == 5)
    assert(spark.read.parquet(tmpB).count() == 5)
  }

  test("saltedSumCount equals direct aggregation (skew-spread only)") {
    val s = spark
    import s.implicits._
    // one pathologically hot key + a normal tail
    val df = ((1 to 10000).map(_ => ("hot", 1.0)) ++
      (1 to 100).map(i => (s"k$i", i.toDouble))).toDF("k", "v")
    val salted = SparkOps.saltedSumCount(Seq(col("k")), col("v"), saltBuckets = 8)
      .unsafeRun(df)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val direct = df.groupBy("k")
      .agg(sum($"v").as("sum"), count(lit(1)).as("count"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("saltedEquiJoin equals the plain equi-join (hot key spread)") {
    val s = spark
    import s.implicits._
    // hot key 1 carries 5000 of 5100 big-side rows
    val big = ((1 to 5000).map(i => (1L, i)) ++
      (1 to 100).map(i => (i.toLong + 1, i))).toDF("k", "line")
    val small = (1L to 101L).map(k => (k, s"dim$k")).toDF("dk", "attr")
    val salted = SparkOps.saltedEquiJoin(
        big, small, (l, r) => l("k") === r("dk"), col("line"), 8)
      .select("k", "line", "attr")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val plain = big.join(small, $"k" === $"dk")
      .select("k", "line", "attr")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(salted.size == 5100)
  }

  test("bucketed tables join without an exchange") {
    val env = SparkEnv(spark, dir)
    val nation = SparkOps.scanParquet("nation").provide(env).unsafeRun(())
    val customer = SparkOps.scanParquet("customer").provide(env).unsafeRun(())
    SparkOps.writeBucketed("b_nation", 4, Seq("n_nationkey")).unsafeRun(nation)
    SparkOps.writeBucketed("b_customer", 4, Seq("c_nationkey")).unsafeRun(customer)
    // force a shuffle-based join so the assertion is about bucketing, not
    // the broadcast threshold
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_customer")
        .join(spark.table("b_nation"),
          col("c_nationkey") === col("n_nationkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // both sides pre-bucketed on the join key: no repartitioning exchange
      assert(!plan.contains("Exchange hashpartitioning"), s"unexpected exchange:\n$plan")
      assert(joined.count() == customer.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("join node composes over a fan-out of two scans") {
    val env = SparkEnv(spark, dir)
    val pipeline =
      (SparkOps.scanParquet("nation") & SparkOps.scanParquet("region")) ~>
        SparkOps.joinOn((l, r) => l("n_regionkey") === r("r_regionkey"),
          broadcastRight = true)
    val joined = pipeline.provide(env).unsafeRun(())
    assert(joined.count() == 25)
    assert(joined.columns.contains("r_name"))
  }

  test("graft.checkpoint.dir switches materialize to a reliable checkpoint " +
      "with identical mining output") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def pairs(): Seq[(Long, Long, Int)] =
      DedupOps.simhashPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val local = pairs() // default path: localCheckpoint
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    spark.conf.set("graft.checkpoint.dir", ckDir)
    try {
      val durable = pairs() // reliable-checkpoint path
      assert(durable == local,
        "simhashPairs must be bit-identical under graft.checkpoint.dir")
      // the reliable path must actually have written checkpoint files
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles()).exists(_.exists(anyFile))
      assert(anyFile(new java.io.File(ckDir)),
        s"no checkpoint data written under $ckDir — reliable path not taken")
    } finally {
      spark.conf.unset("graft.checkpoint.dir")
    }
  }
}
