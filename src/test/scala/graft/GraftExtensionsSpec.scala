package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The deployment path: a session built with
  * `withExtensions(new GraftExtensions)` must expose every native function
  * to plain SQL text and apply the window-top-k rewrite — with no per-query
  * `register` calls anywhere.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private def withExtendedSession[A](f: SparkSession => A): A = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master("local[2]")
      .appName("graft-extensions-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("injected functions are callable from plain SQL, no register calls") {
    withExtendedSession { s =>
      val toks = s.sql("SELECT ws_distinct_tokens('b a b') AS t")
        .head.getSeq[String](0).toSet
      assert(toks == Set("a", "b"))
      val cos = s.sql(
        """SELECT cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
          |                  CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c""".stripMargin)
        .head.getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-9)
      val sig = s.sql("SELECT minhash_sig(array('a','b'), 8) AS sig")
        .head.getSeq[Long](0)
      assert(sig.length == 8)
      assert(s.sql("SELECT simhash64(array('a','b')) AS h").head.get(0) != null)
      assert(s.sql("SELECT char_gram_hashes('abcdefghij') AS g").head.getSeq[Long](0) ==
        Seq(628658458L, 58359503L, 488060555L))
      val bands = s.sql(
        """SELECT srp_bands(CAST(array(0.5, -0.25) AS ARRAY<FLOAT>), 4, 8) AS b""")
        .head.getSeq[Long](0)
      assert(bands.length == 4)
      val inter = s.sql(
        "SELECT sorted_intersect_count(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS n")
        .head.getInt(0)
      assert(inter == 2)
    }
  }

  test("window top-k rewrite fires on SQL text queries at session scope") {
    withExtendedSession { s =>
      import s.implicits._
      Seq((1, "a", 10), (1, "b", 20), (2, "c", 30)).toDF("g", "v", "x")
        .createOrReplaceTempView("t")
      val q = s.sql(
        """SELECT g, v FROM (
          |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY x DESC) AS rn
          |  FROM t) WHERE rn <= 1""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
        s"expected the injected rewrite to plan the per-group heap operators:\n$plan")
      assert(q.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
        Set((1, "b"), (2, "c")))
    }
  }

  test("graded ext_sql_topk runs on the conf-injected session: native " +
      "function resolves and the heap operator plans") {
    withExtendedSession { s =>
      val df = graft.queries.Catalog.queriesMap("ext_sql_topk")(
        s, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
        s"registry SQL-text query must plan the per-group heap:\n$plan")
      val rows = df.collect()
      assert(rows.length == 25, s"5 langs x top-5, got ${rows.length}")
      assert(rows.map(_.getInt(2)).forall(_ > 0))
    }
  }
}
