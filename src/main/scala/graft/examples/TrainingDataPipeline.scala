package graft.examples

import graft.core._
import graft.ops.SparkOps.Materialize
import graft.ops.{DedupOps, SparkEnv, SparkOps => O, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end showcase: a realistic LLM training-data curation pipeline
  * assembled from the algebra + operator library —
  *
  *   scan → token/quality annotation → language ID → quality gate →
  *   exact dedup → near-dup pair mining (MinHash-LSH) → per-language
  *   corpus stats → parquet sink
  *
  * with validation (`ensure`), trace counters, and lineage rendering.
  * Run: `sbt "runMain graft.examples.TrainingDataPipeline [sfDir]"`.
  */
object TrainingDataPipeline {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()

    val out = O.scratch("graft_curated_corpus").toString

    // ----- composable stages ------------------------------------------
    val scan = O.scanParquet("documents")
      .lineageName("scan-documents").lineageInputs("documents.parquet")

    val annotate: Transform[DataFrame, DataFrame] = Node { docs =>
      Tel.addCounter("docs_in", docs.count())
      docs
        .join(TextOps.tokenCounts(docs), "doc_id")
        .join(TextOps.qualityScore(docs).select("doc_id", "quality"), "doc_id")
        .join(TextOps.langId(docs).select("doc_id", "pred_lang"), "doc_id")
    }

    val qualityGate: Transform[DataFrame, DataFrame] =
      O.where(col("quality") >= 0.3) ~>
        O.ensureRows(col("n_ws_tokens") > 0, "no empty documents post-gate")

    val dedupExact: Transform[DataFrame, DataFrame] = Node { docs =>
      val keep = docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      Tel.addCounter("docs_exact_deduped", keep.count())
      docs.join(keep, "doc_id")
    }

    val markNearDups: Transform[DataFrame, DataFrame] = Node { docs =>
      // mine near-dup pairs, drop the higher doc_id of every pair
      val pairs = DedupOps.minhashLsh(docs.select("doc_id", "text"), threshold = 0.9)
      val losers = pairs.select(col("id_b").as("doc_id")).distinct()
      Tel.addCounter("near_dup_pairs", pairs.count())
      docs.join(losers, Seq("doc_id"), "left_anti")
    }

    val decontaminate: Transform[DataFrame, DataFrame] = Node { docs =>
      // hold out every 10th doc as the eval set, then remove (a) the eval
      // docs themselves and (b) every surviving train doc that CONTAINS an
      // eval doc's token set (benchmark leakage that Jaccard mining above
      // misses when the train doc is much larger than the eval doc)
      val isEval = col("doc_id") % 10 === 0
      // materialize once: the telemetry count and the anti-join below would
      // otherwise each re-run the containment mining (the pipeline's most
      // expensive stage)
      val hits = DedupOps.containmentBest(
        docs.select("doc_id", "text"), isEval, !isEval, threshold = 0.95)
        .materialized
      Tel.addCounter("contaminated_train_docs", hits.count())
      docs.filter(!isEval)
        .join(hits.select(col("matched_doc").as("doc_id")), Seq("doc_id"), "left_anti")
    }

    val summarize: Transform[DataFrame, DataFrame] = Node { docs =>
      docs.groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("quality")), 3).as("avg_quality"),
          sum(col("n_bpe_tokens")).as("total_tokens"))
        .orderBy(col("pred_lang"))
    }

    val sink = O.writeParquet(out)
      .lineageName("write-curated").lineageOutputs(out)

    val pipeline = (scan
      ~> annotate
      ~> qualityGate
      ~> dedupExact
      ~> markNearDups
      ~> decontaminate
      ~> (sink >> summarize))
      .lineageName("curate-corpus")

    // ----- run with trace ---------------------------------------------
    val trace = pipeline.provide(SparkEnv(spark, dir)).unsafeRunTrace(())
    println("[pipeline] per-language summary:")
    trace.result.show(10, truncate = false)
    println(s"[pipeline] counters: ${trace.counterTotals}")
    println(s"[pipeline] elapsed: ${trace.timeElapsedMillis} ms")
    println(s"[pipeline] curated corpus at: $out (scratch, removed at exit)")
    println("[pipeline] lineage (mermaid):")
    println(pipeline.toMermaid)

    spark.stop()
  }
}
