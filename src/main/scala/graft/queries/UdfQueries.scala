package graft.queries

import graft.functions.Udfs
import org.apache.spark.sql.functions._

/** UDF-surface queries (scalar UDF / typed Aggregator UDAF / UDTF shape)
  * plus the parquet sink round-trip.
  */
object UdfQueries {

  def queries: Seq[QueryDef] = Seq(
    QueryDef(
      "udf_scalar",
      (s, dir) =>
        Tables.read(s, dir, "part")
          .select(col("p_partkey"), Udfs.slugify(col("p_name")).as("slug"))
          .orderBy("p_partkey"),
      Some("""
        SELECT p_partkey,
               regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g'),
                              '^-|-$', '', 'g') AS slug
        FROM part ORDER BY p_partkey""")
    ),
    QueryDef(
      "udaf_geomean",
      (s, dir) =>
        Tables.read(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg((floor(Udfs.geometricMean(col("l_quantity")) * 10000 + 0.5) / 10000)
            .as("geo_mean_qty"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               floor(exp(avg(ln(l_quantity))) * 10000 + 0.5) / 10000 AS geo_mean_qty
        FROM lineitem WHERE l_quantity > 0
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),
    QueryDef(
      "udtf_explode",
      (s, dir) =>
        Tables.read(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), Udfs.explodeTokens(col("text")))
          .toDF("doc_id", "pos", "tok")
          .orderBy("doc_id", "pos"),
      Some("""
        SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok
        FROM (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                                     t -> t <> '') AS toks
          FROM documents WHERE doc_id < 50)
        ORDER BY doc_id, pos""")
    ),
    QueryDef(
      "write_parquet",
      // Sink round-trip: filter -> write (overwrite) -> re-read -> aggregate.
      (s, dir) => {
        val tmp = graft.ops.SparkOps.scratch("graft_sink_lineitem").toString
        Tables.read(s, dir, "lineitem")
          .filter(col("l_quantity") > 40)
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, count(*) AS n FROM lineitem
        WHERE l_quantity > 40 GROUP BY l_returnflag ORDER BY l_returnflag""")
    )
  )
}
