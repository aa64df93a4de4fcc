package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Regime-boundary evidence harness: runs the two-regime operators ABOVE
  * their switch points at realistic size and records wall times plus
  * cross-regime output equality — the measurement PLANS.md's "regime
  * boundary" section reports. One-off by design (not part of Verify/Bench):
  * corpora are synthesized to /tmp at 10× the grading scale or above the
  * documented thresholds.
  *
  * Scaling constructions are chosen so the TRUE result structure scales
  * linearly and is known by construction:
  *
  *  - 10× documents: 10 replicas of the sf corpus with every token
  *    suffixed by a replica tag — a bijective token rename per replica, so
  *    each replica preserves the original pairwise Jaccard structure
  *    exactly while replicas share ZERO tokens (10 disjoint domains: true
  *    pairs, candidate buckets, and mining cost all scale ×10, never ×100).
  *  - 250k fuzzy names (> the 200k pigeonhole switch): planted lev≤2 trios
  *    inside (nation, segment) blocks; both the quadratic and pigeonhole
  *    regimes run on the SAME frame and must emit identical pair sets.
  *  - ~11M directed edges (> the 8M single-task PageRank bound): both the
  *    single-task LongMap loop and the join-per-round regime run 5
  *    iterations and must be bit-identical (integer-quanta ranks).
  *
  * Usage: `runMain graft.RegimeBoundary [sfDir] [outPath]`
  */
object RegimeBoundary {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Staleness signature of a source parquet dir: its path plus every
    * member file's (name, size, mtime). A regenerated testdata dir or a
    * different sfDir changes the signature, so the /tmp 10x caches rebuild
    * instead of silently mixing corpora — the same freshness contract the
    * NOFOLLOW symlink guard enforces for the dim-table links beside them.
    */
  private def sourceSig(srcParquet: String): String = {
    val p = Paths.get(srcParquet)
    // testdata tables are single parquet FILES; Spark-written caches are
    // directories — sign whichever shape the source has
    val listing =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try {
          val it = s.iterator()
          val b = Seq.newBuilder[String]
          while (it.hasNext) {
            val f = it.next()
            b += s"${f.getFileName}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}"
          }
          b.result().sorted.mkString("|")
        } finally s.close()
      } else
        s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    s"$srcParquet#${java.util.UUID.nameUUIDFromBytes(listing.getBytes("UTF-8"))}"
  }

  /** True iff cacheParquetDir was written from exactly this source (stamp
    * files start with '.' so Spark's hidden-file filter never reads them
    * as data). */
  private def cacheFresh(cacheParquetDir: String, srcParquetDir: String): Boolean =
    Files.exists(Paths.get(cacheParquetDir, "_SUCCESS")) &&
      Files.exists(Paths.get(cacheParquetDir, ".source_stamp")) &&
      Files.readString(Paths.get(cacheParquetDir, ".source_stamp")) == sourceSig(srcParquetDir)

  private def writeStamp(cacheParquetDir: String, srcParquetDir: String): Unit =
    Files.writeString(Paths.get(cacheParquetDir, ".source_stamp"), sourceSig(srcParquetDir))

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1).getOrElse("regime_boundary.json")
    val spark = GraftSession()
    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // MERGE semantics (round 15): preload the existing artifact so a
    // filtered run (SPARK_GRAFT_REGIME_ONLY=...) overwrites only the
    // probes it ran — required for the probes that must run in their OWN
    // JVM (wave100rocks holds a second 10M-event wave; two waves in one
    // heap is the exhaustion case the wave100 comment documents) and for
    // graft.FaultProbe, which contributes its key from a separate
    // local-cluster JVM.
    if (Files.exists(Paths.get(outPath))) try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val tree = mapper.readTree(Files.readString(Paths.get(outPath)))
      val it = tree.fields()
      while (it.hasNext) {
        val e = it.next()
        results += e.getKey -> e.getValue.toString
      }
      println(s"[regime] merged ${results.size} existing entries from $outPath")
    } catch { case e: Throwable =>
      println(s"[regime] existing $outPath unparseable, starting fresh: $e")
    }
    // Optional comma-separated probe filter for local iteration
    // (mining,bpe,curation,ann,triangles,fuzzy,pagerank,wave); the full
    // artifact run sets no filter.
    val only = sys.env.get("SPARK_GRAFT_REGIME_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(key: String): Boolean = only.forall(_.contains(key))
    // explicit-only probes: excluded from the unfiltered full run, which
    // would otherwise co-locate them with a conflicting probe in one JVM
    def wantExplicit(key: String): Boolean = only.exists(_.contains(key))

    // ---------------------------------------------- 10x document corpus
    val docs10xPath = graft.ops.SparkOps.scratch("graft_regime_docs10x").toString
    if (!cacheFresh(docs10xPath, s"$sfDir/documents.parquet")) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val replicas = (0 until 10).map { r =>
        base.select(
          (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          // bijective per-replica token rename: suffix every token with xR
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"x$r"))), " ").as("text"))
      }
      replicas.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(docs10xPath)
      writeStamp(docs10xPath, s"$sfDir/documents.parquet")
    }
    val docs10x = spark.read.parquet(docs10xPath)
    val n10x = docs10x.count()
    println(s"[regime] 10x corpus: $n10x docs")

    if (want("mining")) {
      def med3(xs: Seq[Double]): Double = xs.sorted.apply(1)
      def arr(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ", ", "]")
      // Top-3 mining probes at the 100×-grading scale as MEDIAN-OF-3
      // (round-13): the single-shot walls of earlier rounds sample the
      // box's bimodal state once; medians make the recorded number the
      // engine's. The exact mine memoizes per corpus, so its cache is
      // cleared before each iteration (the LAST iteration leaves the
      // τ=0.8 cache primed for the derive probe below — same order the
      // graded registry pays).
      var nPairs = 0L
      val tMines = (1 to 3).map { _ =>
        graft.ops.DedupOps.clearCaches(spark)
        val (n, t) = timed(
          graft.ops.DedupOps.ngramJaccardCached(docs10x, threshold = 0.8).count())
        nPairs = n
        t
      }
      val tMine = med3(tMines)
      results += "mine_ppjoin_10x" ->
        s"""{"docs": $n10x, "pairs": $nPairs, "wall_s": ${f"$tMine%.1f"}, "walls_s": ${arr(tMines)}, "protocol": "median_of_3"}"""
      println(s"[regime] PPJoin exact mine 10x: $nPairs pairs in ${f"$tMine%.1f"}s ${arr(tMines)}")
      var nLsh = 0L
      val tLshs = (1 to 3).map { _ =>
        val (n, t) = timed(
          graft.ops.DedupOps.minhashLshAuto(docs10x, threshold = 0.8).count())
        nLsh = n
        t
      }
      val tLsh = med3(tLshs)
      results += "minhash_lsh_10x" ->
        s"""{"docs": $n10x, "pairs": $nLsh, "wall_s": ${f"$tLsh%.1f"}, "walls_s": ${arr(tLshs)}, "protocol": "median_of_3"}"""
      println(s"[regime] MinHash-LSH 10x: $nLsh pairs in ${f"$tLsh%.1f"}s ${arr(tLshs)}")
      var nSh = 0L
      val tShs = (1 to 3).map { _ =>
        val (n, t) = timed(
          graft.ops.DedupOps.simhashPairs(docs10x, maxHamming = 3).count())
        nSh = n
        t
      }
      val tSh = med3(tShs)
      results += "simhash_10x" ->
        s"""{"docs": $n10x, "pairs": $nSh, "wall_s": ${f"$tSh%.1f"}, "walls_s": ${arr(tShs)}, "protocol": "median_of_3"}"""
      println(s"[regime] SimHash 10x: $nSh pairs in ${f"$tSh%.1f"}s ${arr(tShs)}")
      // The first call pays the DERIVE + connected-components over the
      // primed τ=0.8 mine — exactly what the graded registry pays; later
      // calls read the session cluster cache. Record both, labeled, so
      // the artifact separates compute from memo reads (a median over
      // the three would launder memo reads into the derive cost).
      val (nCl, tCl) = timed(
        graft.ops.GraphOps.dedupClusters(docs10x, threshold = 0.95).count())
      val tClMemos = (1 to 2).map { _ =>
        timed(graft.ops.GraphOps
          .dedupClusters(docs10x, threshold = 0.95).count())._2
      }
      results += "dedup_clusters_10x" ->
        s"""{"docs": $n10x, "rows": $nCl, "wall_s": ${f"$tCl%.1f"}, "memo_walls_s": ${arr(tClMemos)}}"""
      println(s"[regime] clusters (tau 0.95, derive+CC) 10x: $nCl rows in " +
        s"${f"$tCl%.1f"}s, memo reads ${arr(tClMemos)}")
    }

    // ----------------------- BPE distributed regime: incremental vs full
    // The round-13 incremental pair-count maintenance vs the previous
    // full-re-explode-per-step loop, A/B on the SAME 10x vocabulary with
    // the driver regime bypassed (this probe is exactly the >2M-type
    // path). Identical merge sequences asserted; walls recorded.
    if (want("bpe")) try {
      val k = 40
      // The synthetic corpus has only ~300 token types — far below the
      // 2M-type driver bound this regime exists for. Scale the TYPE count
      // into distributed territory by salting each occurrence with a
      // numeric suffix in [0, 30000) (~300 × 30000 possible types,
      // realistic long-tail counts), keeping characters in [a-z0-9] so
      // the merge alphabet is the trainer's own.
      val vocabDf = docs10x
        .select(col("doc_id"), posexplode(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")))
        .select(concat(col("col"),
          pmod(xxhash64(col("doc_id"), col("pos")), lit(30000))
            .cast("string")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val nTypes = vocabDf.count()
      val (inc, tInc) = timed(graft.ops.TextOps.trainMergesDistributed(vocabDf, k))
      // the pre-r13 shape: re-explode the whole vocabulary every step
      // (same bpeSpaced/bpeApplyMerge primitives, so the sequences must
      // be identical — only the pair-count maintenance differs)
      val (full, tFull) = timed {
        var vocab = vocabDf
          .select(graft.ops.TextOps.bpeSpaced(col("word")).as("ws"), col("n"))
          .localCheckpoint(true)
        val out = Seq.newBuilder[(Int, String, String, Long)]
        var exhausted = false
        for (step <- 1 to k if !exhausted) {
          val top = vocab
            .select(col("n"), split(trim(col("ws")), " ").as("l"))
            .filter(size(col("l")) >= 2)
            .select(col("n"), explode(expr(
              "transform(sequence(0, size(l) - 2), j -> struct(l[j] AS a, l[j + 1] AS b))"))
              .as("pr"))
            .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
            .agg(sum(col("n")).as("cnt"))
            .orderBy(col("cnt").desc, col("a"), col("b"))
            .limit(1).collect()
          if (top.isEmpty) exhausted = true // same early stop as the trainer
          else {
            val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
            out += ((step, a, b, cnt))
            vocab = vocab
              .withColumn("ws", graft.ops.TextOps.bpeApplyMerge(col("ws"), a, b))
              .localCheckpoint(true)
          }
        }
        out.result()
      }
      val same = inc == full
      results += "bpe_distributed_10x" ->
        s"""{"vocab_types": $nTypes, "k": $k, "incremental_wall_s": ${f"$tInc%.1f"}, "full_reexplode_wall_s": ${f"$tFull%.1f"}, "same_merges": $same}"""
      println(s"[regime] BPE distributed 10x ($nTypes types, k=$k): " +
        s"incremental ${f"$tInc%.1f"}s vs full re-explode ${f"$tFull%.1f"}s same=$same")
    } catch { case e: Throwable =>
      results += "bpe_distributed_10x" -> s"""{"error": "${e.getClass.getName}"}"""
      println(s"[regime] BPE probe failed: $e")
    }

    // ------------------------------- composite curation pipeline at 10x
    // Individual operators carry their own 10x rows; this proves the
    // COMPOSITE (clean -> quality gate -> exact dedup -> chunk accounting
    // -> per-lang stats through the Node algebra, ONE Catalyst plan —
    // the graded `pipeline_curation` code path itself, run against a 10x
    // documents table) keeps the per-operator scale properties when the
    // stages compose: no re-shuffle blowup or lost pushdown at the `~>`
    // seams. Median-of-3 wall + an order-independent output hash (the
    // rollup is per-lang, so the hash pins plan-equivalence across runs).
    if (want("curation")) {
      val fullPath =
        graft.ops.SparkOps.scratch("graft_regime_docs10x_full").toString
      if (!Files.exists(Paths.get(fullPath, "documents.parquet", "_SUCCESS"))) {
        val base = spark.read.parquet(s"$sfDir/documents.parquet")
        val replicas = (0 until 10).map { r =>
          base
            .withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
            .withColumn("text", array_join(transform(split(col("text"), " "),
              t => concat(t, lit(s"x$r"))), " "))
        }
        replicas.reduce(_ unionByName _)
          .repartition(32).write.mode("overwrite")
          .parquet(s"$fullPath/documents.parquet")
      }
      val nFull = spark.read.parquet(s"$fullPath/documents.parquet").count()
      val runQ = graft.queries.Catalog.queriesMap("pipeline_curation")
      var rows: Array[org.apache.spark.sql.Row] = Array.empty
      val walls = (1 to 3).map { _ =>
        val (r, t) = timed(runQ(spark, fullPath).collect())
        rows = r
        t
      }
      val wall = walls.sorted.apply(1)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
      val hash = md.digest().map("%02x".format(_)).mkString
      val chunks = rows.map(r => r.getLong(r.fieldIndex("total_chunks"))).sum
      def arr(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ", ", "]")
      results += "pipeline_curation_10x" ->
        s"""{"docs": $nFull, "wall_s": ${f"$wall%.1f"}, "walls_s": ${arr(walls)},
           | "protocol": "median_of_3", "out_rows": ${rows.length},
           | "total_chunks": $chunks, "output_md5": "$hash"}"""
          .stripMargin.replace("\n", "")
      println(s"[regime] pipeline_curation 10x: $nFull docs -> ${rows.length} " +
        s"lang rows / $chunks chunks in ${f"$wall%.1f"}s ${arr(walls)} md5=$hash")
    }

    // ------------------------------------------- 10x embeddings (ANN)
    if (want("ann")) {
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val emb10x = (0 until 10).map { r =>
        base.select(
          (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
          // deterministic per-replica perturbation: rotate one dimension
          transform(col("embedding"), (x, i) =>
            when(i === r, x * lit(0.5f) + lit(0.1f * r)).otherwise(x))
            .as("embedding"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val nEmb = emb10x.count()
      def med3(xs: Seq[Double]): Double = xs.sorted.apply(1)
      def arr3(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ", ", "]")
      var nSrp = 0L
      val tSrps = (1 to 3).map { _ =>
        graft.ops.DedupOps.clearCaches(spark)
        val (n, t) = timed(
          graft.ops.DedupOps.cosineLshPairsAuto(emb10x, threshold = 0.3).count())
        nSrp = n
        t
      }
      val tSrp = med3(tSrps)
      results += "srp_lsh_10x" ->
        s"""{"vecs": $nEmb, "pairs": $nSrp, "wall_s": ${f"$tSrp%.1f"}, "walls_s": ${arr3(tSrps)}, "protocol": "median_of_3"}"""
      println(s"[regime] SRP-LSH pairs 10x: $nSrp in ${f"$tSrp%.1f"}s ${arr3(tSrps)} ($nEmb vecs)")
      var nIvf = 0L
      val tIvfs = (1 to 3).map { _ =>
        val (n, t) = timed(
          graft.ops.SimilarityOps.ivfTopK(emb10x, queryId = 0, k = 10).count())
        nIvf = n
        t
      }
      val tIvf = med3(tIvfs)
      results += "ivf_topk_10x" ->
        s"""{"vecs": $nEmb, "rows": $nIvf, "wall_s": ${f"$tIvf%.1f"}, "walls_s": ${arr3(tIvfs)}, "protocol": "median_of_3"}"""
      println(s"[regime] IVF top-k 10x: ${f"$tIvf%.1f"}s ${arr3(tIvfs)}")

      // ANN recall AT the 10x boundary — auto-fit happens where fitting
      // matters, so the graded floors must hold here too, not just at sf
      def ids(df: DataFrame): Set[Long] =
        df.select("vec_id").collect().map(_.getLong(0)).toSet
      val exactTop = ids(
        graft.ops.SimilarityOps.bruteForceTopK(emb10x, queryId = 0, k = 10))
      val (bands, bits) =
        graft.ops.DedupOps.autoBandConfig(emb10x, threshold = 0.3, targetRecall = 0.95)
      // batched serving at 10x: mean per-query overlap vs the exact batch
      val exactBatch = graft.ops.SimilarityOps.batchTopK(emb10x, 0L to 7L, 10)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(_._2).toSet }
      val ivfBatch = graft.ops.SimilarityOps.ivfBatchTopK(emb10x, 0L to 7L, 10)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(_._2).toSet }
      val batchMean = exactBatch.keys.toSeq.sorted
        .map(q => (ivfBatch.getOrElse(q, Set.empty[Long]) & exactBatch(q)).size / 10.0)
      val scores = (Seq(
        "banded" -> ids(graft.ops.SimilarityOps
          .lshTopKBanded(emb10x, queryId = 0, k = 10, bands, bits)),
        "multiprobe" -> ids(graft.ops.SimilarityOps
          .lshTopK(emb10x, queryId = 0, k = 10)),
        "ivf" -> ids(graft.ops.SimilarityOps.ivfTopK(emb10x, queryId = 0, k = 10)),
        "pq" -> ids(graft.ops.SimilarityOps.pqTopK(emb10x, queryId = 0, k = 10)))
        .map { case (n, got) => n -> (got & exactTop).size / 10.0 }) :+
        ("ivf_batch_mean" -> batchMean.sum / batchMean.size)
      results += "ann_recall_10x" ->
        scores.map { case (n, r) => s""""$n": $r""" }
          .mkString(s"""{"vecs": $nEmb, """, ", ", "}")
      println(s"[regime] ANN recall@10 at 10x: " +
        scores.map { case (n, r) => s"$n=$r" }.mkString(" "))

      // ANN recall AT the 100x grading scale (round 15): the banded and
      // IVF serving tiers re-fit their geometry on the corpus (band/bit
      // auto-config, sqrt(n) centroid sizing), so the recall floors are
      // pinned where the mining families already probe — 200k vectors —
      // not just at 10x. Same construction, 100 replicas (perturbed
      // dimension r % 64 keeps the rotation inside the embedding).
      val emb100x = (0 until 100).map { r =>
        base.select(
          (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === r % 64, x * lit(0.5f) + lit(0.1f * (r % 64)))
              .otherwise(x)).as("embedding"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val nEmb100 = emb100x.count()
      val exactTop100 = ids(
        graft.ops.SimilarityOps.bruteForceTopK(emb100x, queryId = 0, k = 10))
      val (bands100, bits100) =
        graft.ops.DedupOps.autoBandConfig(emb100x, threshold = 0.3, targetRecall = 0.95)
      val scores100 = Seq(
        "banded" -> ids(graft.ops.SimilarityOps
          .lshTopKBanded(emb100x, queryId = 0, k = 10, bands100, bits100)),
        "ivf" -> ids(graft.ops.SimilarityOps.ivfTopK(emb100x, queryId = 0, k = 10)))
        .map { case (n, got) => n -> (got & exactTop100).size / 10.0 }
      results += "ann_recall_100x" ->
        (scores100.map { case (n, r) => s""""$n": $r""" } ++ Seq(
          s""""floor_banded": ${graft.queries.Approx.LshTopKBandedFloor}""",
          s""""floor_ivf": ${graft.queries.Approx.IvfTopKFloor}"""))
          .mkString(s"""{"vecs": $nEmb100, """, ", ", "}")
      println(s"[regime] ANN recall@10 at 100x ($nEmb100 vecs): " +
        scores100.map { case (n, r) => s"$n=$r" }.mkString(" "))
    }

    // ---------------- triangle census under degree-ordered orientation
    // Threat model: one boilerplate mega-family = a hub whose id-order
    // wedge fan-out is O(c^2) on a single join key. 5k-spoke star (hub at
    // the LOWEST id — the a<b worst case) + a 40-clique overlay so the
    // count is non-trivial: true triangles = C(40,3) + C(40,2).
    if (want("triangles")) {
      val spokes = spark.range(1, 5001).select(lit(0L).as("a"), col("id").as("b"))
      val clique = spark.range(1, 41).select(col("id").as("a"))
        .crossJoin(spark.range(1, 41).select(col("id").as("b")))
        .filter(col("a") < col("b"))
      val edges = spokes.unionByName(clique).localCheckpoint(true)
      val expected = 40L * 39 * 38 / 6 + 40L * 39 / 2
      // wedge populations per orientation, derived from out-degrees
      def wedgesOf(oriented: DataFrame): (Long, Long) = {
        val r = oriented.groupBy("src").agg(count(lit(1)).as("d"))
          .select(expr("d * (d - 1) DIV 2").as("w"))
          .agg(sum("w"), max("w")).head
        (r.getLong(0), r.getLong(1))
      }
      val (wId, wIdMax) = wedgesOf(edges.select(col("a").as("src")))
      val deg = edges.select(col("a").as("v"))
        .unionByName(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val wd = edges
        .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val (wDeg, wDegMax) = wedgesOf(
        wd.select(when(aFirst, col("a")).otherwise(col("b")).as("src")))
      // both censuses, timed — id-order pays the 12.5M-wedge skewed key
      val (nIdOrder, tIdOrder) = timed {
        val w = edges.join(edges.select(col("a").as("b2"), col("b").as("c")),
            col("b") === col("b2")).select("a", "b", "c")
        w.join(edges.select(col("a").as("ta"), col("b").as("tc")),
            col("a") === col("ta") && col("c") === col("tc"), "left_semi")
          .count()
      }
      val (nOriented, tOriented) = timed(
        graft.ops.GraphOps.triangleCountOriented(edges).head.getLong(0))
      results += "triangles_star_5k" ->
        (s"""{"edges": 5780, "true_triangles": $expected, """ +
          s""""id_order": {"wedges": $wId, "max_wedges_one_key": $wIdMax, "n": $nIdOrder, "wall_s": ${f"$tIdOrder%.1f"}}, """ +
          s""""degree_order": {"wedges": $wDeg, "max_wedges_one_key": $wDegMax, "n": $nOriented, "wall_s": ${f"$tOriented%.1f"}}, """ +
          s""""identical": ${nIdOrder == nOriented && nOriented == expected}}""")
      println(s"[regime] triangles star5k: id-order wedges=$wId (max/key $wIdMax) " +
        s"${f"$tIdOrder%.1f"}s vs degree-order wedges=$wDeg (max/key $wDegMax) " +
        s"${f"$tOriented%.1f"}s — counts $nIdOrder/$nOriented (true $expected)")
    }

    // ------------------------------- fuzzy-match regimes at 250k names
    if (want("fuzzy")) {
      val n = 250000L
      val names = spark.range(n).select(
        col("id").as("c_custkey"),
        // planted trio: ids 3g/3g+1/3g+2 share a base name within 2 edits
        when(col("id") % 3 === 0,
          concat(lit("customer "), lpad((col("id") / 3).cast("string"), 9, "0")))
          .when(col("id") % 3 === 1,
            concat(lit("customer "),
              lpad((col("id") / 3).cast("string"), 9, "0"), lit("x")))
          .otherwise(
            concat(lit("custome "), lpad((col("id") / 3).cast("string"), 9, "0")))
          .as("c_name"),
        ((col("id") / 3) % 25).cast("int").as("c_nationkey"),
        concat(lit("SEG"), ((col("id") / 75) % 5).cast("string")).as("c_mktsegment"))
        .localCheckpoint(true)
      def med3(xs: Seq[Double]): Double = xs.sorted.apply(1)
      def arr3(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ", ", "]")
      // median-of-3 per regime, fuzzy pair cache cleared per iteration so
      // every run pays the mine, not a memo read
      var quadPairs: DataFrame = null
      val tQuads = (1 to 3).map { _ =>
        graft.ops.DedupOps.clearCaches(spark)
        val (df, t) = timed {
          graft.queries.StatQueries
            .fuzzyNameVerifiedPairs(names, pigeonhole = false)
            .localCheckpoint(true)
        }
        quadPairs = df
        t
      }
      val tQuad = med3(tQuads)
      val nQuad = quadPairs.count()
      var pigPairs: DataFrame = null
      val tPigs = (1 to 3).map { _ =>
        graft.ops.DedupOps.clearCaches(spark)
        val (df, t) = timed {
          graft.queries.StatQueries
            .fuzzyNameVerifiedPairs(names, pigeonhole = true)
            .localCheckpoint(true)
        }
        pigPairs = df
        t
      }
      val tPig = med3(tPigs)
      val nPig = pigPairs.count()
      val diff = quadPairs.unionByName(pigPairs)
        .groupBy("nk", "key_a", "key_b").agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 2).count()
      results += "fuzzy_250k" ->
        s"""{"rows": $n, "quad_pairs": $nQuad, "quad_wall_s": ${f"$tQuad%.1f"},
           | "quad_walls_s": ${arr3(tQuads)},
           | "pigeonhole_pairs": $nPig, "pigeonhole_wall_s": ${f"$tPig%.1f"},
           | "pigeonhole_walls_s": ${arr3(tPigs)}, "protocol": "median_of_3",
           | "pair_set_equal": ${diff == 0 && nQuad == nPig}}""".stripMargin.replace("\n", "")
      println(s"[regime] fuzzy 250k: quad=$nQuad (${f"$tQuad%.1f"}s) " +
        s"pigeonhole=$nPig (${f"$tPig%.1f"}s) equal=${diff == 0 && nQuad == nPig}")
    }

    // -------------------------------- PageRank regimes at ~11M directed
    if (want("pagerank")) {
      val pairs = spark.range(12000000L).select(
        pmod(xxhash64(col("id")), lit(1000000L)).as("id_a"),
        pmod(xxhash64(col("id") + 7777777L), lit(1000000L)).as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .localCheckpoint(true)
      val nDirected = pairs.count() * 2
      // Median-of-3 per regime (interleaved to spread box noise evenly):
      // single runs of this row have flipped sign between rounds on the
      // shared box, and a regime threshold must not hang off one sample.
      // The threshold itself is NOT justified by local wall-clock — see
      // pagerankQuantized's scaladoc: single-task is a driver-course
      // single-core/memory bound at true scale whatever a local box says.
      var lastSingle: DataFrame = null
      var lastJoin: DataFrame = null
      val (tSingles, tJoins) = (1 to 3).map { _ =>
        val (prSingle, tS) = timed {
          graft.ops.GraphOps
            .pagerankQuantized(pairs, iterations = 5, smallEdgeThreshold = Long.MaxValue)
            .localCheckpoint(true)
        }
        prSingle.count()
        val (prJoin, tJ) = timed {
          graft.ops.GraphOps
            .pagerankQuantized(pairs, iterations = 5, smallEdgeThreshold = 0L)
            .localCheckpoint(true)
        }
        prJoin.count()
        lastSingle = prSingle; lastJoin = prJoin
        (tS, tJ)
      }.unzip
      def med3(xs: Seq[Double]): Double = xs.sorted.apply(1)
      val (tSingle, tJoin) = (med3(tSingles), med3(tJoins))
      val nSingle = lastSingle.count()
      val nJoin = lastJoin.count()
      val identical = lastSingle.unionByName(lastJoin)
        .groupBy(lastSingle.columns.map(col): _*).agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 2).count() == 0 && nSingle == nJoin
      def arr(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ", ", "]")
      results += "pagerank_11m" ->
        s"""{"directed_edges": $nDirected, "single_task_wall_s": ${f"$tSingle%.1f"},
           | "join_rounds_wall_s": ${f"$tJoin%.1f"},
           | "single_task_walls_s": ${arr(tSingles)}, "join_rounds_walls_s": ${arr(tJoins)},
           | "protocol": "median_of_3_interleaved", "vertices": $nSingle,
           | "bit_identical": $identical}""".stripMargin.replace("\n", "")
      println(s"[regime] pagerank ${nDirected} directed: single=${f"$tSingle%.1f"}s " +
        s"${arr(tSingles)} join=${f"$tJoin%.1f"}s ${arr(tJoins)} identical=$identical")
    }

    // ------------------------- streaming replay wave at the 10x boundary
    // The 20-query graded family as ONE memoized wave over a 10x events
    // table (1M rows = 100x the grading scale): proves the wave shape —
    // 16 concurrent memory-sink replays + 4 overlapped bespoke loops —
    // holds when the replayed volume scales, not just at sf0.1. Probe
    // records the wave wall and a content checksum of one member.
    if (want("wave")) try {
      val ev10xDir = graft.ops.SparkOps.scratch("graft_regime_events10x").toString
      // the wave's stream-static members read dim tables from the same
      // dir — link the sf tables in beside the 10x events
      Files.createDirectories(Paths.get(ev10xDir))
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        val link = Paths.get(ev10xDir, s"$t.parquet")
        val target = Paths.get(s"$sfDir/$t.parquet")
        // NOFOLLOW: a dangling link (regenerated testdata) reads as
        // absent under plain exists() but still blocks createSymbolicLink;
        // a stale link to a DIFFERENT sfDir would silently mix corpora.
        if (Files.isSymbolicLink(link) && Files.readSymbolicLink(link) != target)
          Files.delete(link)
        if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          Files.createSymbolicLink(link, target)
      }
      if (!cacheFresh(s"$ev10xDir/events.parquet", s"$sfDir/events.parquet")) {
        val base = spark.read.parquet(s"$sfDir/events.parquet")
        (0 until 10).map { r =>
          base.select(
            (col("event_id") + lit(r * 100000000L)).as("event_id"),
            col("ts"),
            (col("user_id") + lit(r * 10000000L)).as("user_id"),
            col("event_type"), col("value"), col("props"))
        }.reduce(_ unionByName _)
          .repartition(32).write.mode("overwrite")
          .parquet(s"$ev10xDir/events.parquet")
        writeStamp(s"$ev10xDir/events.parquet", s"$sfDir/events.parquet")
      }
      val nEv = spark.read.parquet(s"$ev10xDir/events.parquet").count()
      // median-of-3 waves, each in a FRESH session — the family memo is
      // session-keyed, so a new session re-runs the whole wave instead of
      // reading the memo (the bespoke members stage idempotently)
      var tumblingRows = 0
      var lastSess = spark
      val waveWalls = (1 to 3).map { _ =>
        val sess = spark.newSession()
        lastSess = sess
        val (tumbling, tWaveQ) = timed(
          graft.streaming.StreamingOps
            .familyResult(sess, ev10xDir, "stream_tumbling_agg").collect())
        tumblingRows = tumbling.length
        graft.streaming.StreamingOps
          .familyWaveWall(sess, ev10xDir).getOrElse(tWaveQ)
      }
      def med3w(xs: Seq[Double]): Double = xs.sorted.apply(1)
      def arrw(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ", ", "]")
      val waveWall = med3w(waveWalls)
      val (nTopk, tMemo) = timed(
        graft.streaming.StreamingOps
          .familyResult(lastSess, ev10xDir, "stream_topk").count())
      results += "streaming_wave_10x" ->
        s"""{"events": $nEv, "wave_wall_s": ${f"$waveWall%.1f"}, "wave_walls_s": ${arrw(waveWalls)}, "protocol": "median_of_3", "members_n": ${graft.streaming.StreamingOps.familyMemberNames.size}, "tumbling_rows": $tumblingRows, "memo_read_s": ${f"$tMemo%.2f"}, "memo_rows": $nTopk}"""
      println(s"[regime] streaming wave 10x: $nEv events, wave ${f"$waveWall%.1f"}s " +
        s"${arrw(waveWalls)}, memo read ${f"$tMemo%.2f"}s")
    } catch { case e: Throwable =>
      results += "streaming_wave_10x" -> s"""{"error": "${e.getClass.getName}: ${String.valueOf(e.getMessage).replace('"', ' ').take(160)}"}"""
      println(s"[regime] streaming wave probe failed: $e")
    }

    // --------------------------- streaming wave at 100x (round 14): 10M
    // events through the full 20-member wave, with state-store sizing
    // captured from the engines' own progress metrics — the evidence that
    // the streaming posture survives two orders of magnitude, the same
    // way mining has mine_ppjoin_10x. RocksDB members report SST bytes
    // (state on local disk, working set in memory — the 100 TB backend).
    // Stage the 100x events dir (symlinked dims + 100-replica events
    // parquet); shared by the HDFS-provider and RocksDB-provider waves,
    // each of which runs in its OWN JVM — the stamp-checked cache is the
    // cross-JVM handoff, so either probe can run first.
    def stage100xEvents(): String = {
      val ev100xDir = graft.ops.SparkOps.scratch("graft_regime_events100x").toString
      Files.createDirectories(Paths.get(ev100xDir))
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        val link = Paths.get(ev100xDir, s"$t.parquet")
        val target = Paths.get(s"$sfDir/$t.parquet")
        if (Files.isSymbolicLink(link) && Files.readSymbolicLink(link) != target)
          Files.delete(link)
        if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          Files.createSymbolicLink(link, target)
      }
      if (!cacheFresh(s"$ev100xDir/events.parquet", s"$sfDir/events.parquet")) {
        val base = spark.read.parquet(s"$sfDir/events.parquet")
        (0 until 100).map { r =>
          base.select(
            (col("event_id") + lit(r * 100000000L)).as("event_id"),
            col("ts"),
            (col("user_id") + lit(r * 10000000L)).as("user_id"),
            col("event_type"), col("value"), col("props"))
        }.reduce(_ unionByName _)
          .repartition(64).write.mode("overwrite")
          .parquet(s"$ev100xDir/events.parquet")
        writeStamp(s"$ev100xDir/events.parquet", s"$sfDir/events.parquet")
      }
      ev100xDir
    }

    if (want("wave100")) try {
      val ev100xDir = stage100xEvents()
      val nEv = spark.read.parquet(s"$ev100xDir/events.parquet").count()
      // SINGLE wave by necessity, not oversight: the 10x probe medians
      // over fresh-session re-runs, but at 10M events each wave holds
      // ~2.9 GB of keyed state plus its memory-sink tables PER SESSION —
      // a third concurrent-session replay exhausted the 24 GB heap and
      // shut the context down when this was tried as median-of-3
      // (2026-08-16). One wall per JVM; cross-run spread is recorded in
      // PLANS_APPENDIX from the separate artifact runs (153-228 s).
      val (tumbling, tWaveQ) = timed(
        graft.streaming.StreamingOps
          .familyResult(spark, ev100xDir, "stream_tumbling_agg").collect())
      val waveWall = graft.streaming.StreamingOps
        .familyWaveWall(spark, ev100xDir).getOrElse(tWaveQ)
      // state sizing from the last progress of every wave member: total
      // keyed-state rows, peak provider memory, and RocksDB SST bytes
      var stateRows = 0L; var stateMemMax = 0L; var sstBytes = 0L
      graft.streaming.StreamingOps.familyMemberNames.foreach { m =>
        graft.streaming.StreamingOps.progressFor(m).lastOption.foreach { p =>
          p.stateOperators.foreach { so =>
            stateRows += so.numRowsTotal
            stateMemMax = math.max(stateMemMax, so.memoryUsedBytes)
            val it = so.customMetrics.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              if (e.getKey.toLowerCase.contains("sstfile")) sstBytes += e.getValue
            }
          }
        }
      }
      results += "streaming_wave_100x" ->
        (s"""{"events": $nEv, "wave_wall_s": ${f"$waveWall%.1f"}, """ +
          s""""protocol": "single_wave_per_jvm_memory_bound", """ +
          s""""members_n": ${graft.streaming.StreamingOps.familyMemberNames.size}, """ +
          s""""tumbling_rows": ${tumbling.length}, "state_rows_total": $stateRows, """ +
          s""""state_mem_max_bytes": $stateMemMax, "rocksdb_sst_bytes": $sstBytes}""")
      println(s"[regime] streaming wave 100x: $nEv events, wave ${f"$waveWall%.1f"}s, " +
        s"state rows $stateRows, peak state mem $stateMemMax B, SST $sstBytes B")
    } catch { case e: Throwable =>
      results += "streaming_wave_100x" -> s"""{"error": "${e.getClass.getName}: ${String.valueOf(e.getMessage).replace('"', ' ').take(160)}"}"""
      println(s"[regime] streaming wave 100x probe failed: $e")
    }

    // ------------- streaming wave at 100x, WHOLE wave on RocksDB (r15):
    // the configuration a high-cardinality 100 TB deployment actually
    // runs — keyed state in RocksDB (local SSD SSTs + block cache), not
    // on-heap HashMaps. EXPLICIT-ONLY (`SPARK_GRAFT_REGIME_ONLY=
    // wave100rocks`, own JVM): a second 10M-event wave beside the HDFS
    // one is the documented heap-exhaustion case. Records provider
    // memory vs SST bytes next to the HDFS entry's 2.9 GB on-heap peak.
    if (wantExplicit("wave100rocks")) try {
      val ev100xDir = stage100xEvents()
      val nEv = spark.read.parquet(s"$ev100xDir/events.parquet").count()
      System.setProperty("graft.stream.stateProvider", "rocksdb")
      try {
        val heapBefore = {
          System.gc()
          Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
        }
        val (tumbling, tWaveQ) = timed(
          graft.streaming.StreamingOps
            .familyResult(spark, ev100xDir, "stream_tumbling_agg").collect())
        val waveWall = graft.streaming.StreamingOps
          .familyWaveWall(spark, ev100xDir).getOrElse(tWaveQ)
        val heapAfter =
          Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
        var stateRows = 0L; var stateMemMax = 0L; var sstBytes = 0L
        graft.streaming.StreamingOps.familyMemberNames.foreach { m =>
          graft.streaming.StreamingOps.progressFor(m).lastOption.foreach { p =>
            p.stateOperators.foreach { so =>
              stateRows += so.numRowsTotal
              stateMemMax = math.max(stateMemMax, so.memoryUsedBytes)
              val it = so.customMetrics.entrySet().iterator()
              while (it.hasNext) {
                val e = it.next()
                if (e.getKey.toLowerCase.contains("sstfile")) sstBytes += e.getValue
              }
            }
          }
        }
        results += "streaming_wave_100x_rocksdb" ->
          (s"""{"events": $nEv, "wave_wall_s": ${f"$waveWall%.1f"}, """ +
            s""""protocol": "single_wave_per_jvm_memory_bound", """ +
            s""""members_n": ${graft.streaming.StreamingOps.familyMemberNames.size}, """ +
            s""""tumbling_rows": ${tumbling.length}, "state_rows_total": $stateRows, """ +
            s""""state_mem_max_bytes": $stateMemMax, "rocksdb_sst_bytes": $sstBytes, """ +
            s""""jvm_heap_used_before": $heapBefore, "jvm_heap_used_after": $heapAfter}""")
        println(s"[regime] streaming wave 100x RocksDB: $nEv events, " +
          s"wave ${f"$waveWall%.1f"}s, state rows $stateRows, provider mem " +
          s"$stateMemMax B, SST $sstBytes B, heap $heapBefore -> $heapAfter B")
      } finally System.clearProperty("graft.stream.stateProvider")
    } catch { case e: Throwable =>
      results += "streaming_wave_100x_rocksdb" -> s"""{"error": "${e.getClass.getName}: ${String.valueOf(e.getMessage).replace('"', ' ').take(160)}"}"""
      println(s"[regime] streaming wave 100x rocksdb probe failed: $e")
    }

    // ------------------------------------ TPC-H at 10x bench scale (sf1)
    // Round 14: the 22-query warehouse suite gets the same scale evidence
    // as mining/ANN/streaming. The synthetic sf1 universe is 10 disjoint
    // replicas of the sf0.1 tables — every scaling key (custkey, suppkey,
    // partkey, orderkey) is offset per replica so each replica preserves
    // the original join structure exactly and replicas never join across,
    // while nation/region stay shared (they are constant in TPC-H).
    // Result sizes and costs scale ×10 by construction; broadcast-side
    // choices are re-checked by running PlanShapeSpec against this dir
    // (GRAFT_PLANSPEC_DIR env override).
    if (want("tpch")) try {
      val tpchDir = graft.ops.SparkOps.scratch("graft_regime_tpch10x").toString
      Files.createDirectories(Paths.get(tpchDir))
      Seq("region", "nation", "events", "documents", "embeddings").foreach { t =>
        val link = Paths.get(tpchDir, s"$t.parquet")
        val target = Paths.get(s"$sfDir/$t.parquet")
        if (Files.isSymbolicLink(link) && Files.readSymbolicLink(link) != target)
          Files.delete(link)
        if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          Files.createSymbolicLink(link, target)
      }
      val CK = 10000000L; val SK = 1000000L; val PK = 10000000L; val OK = 1000000000L
      val scaled: Seq[(String, Map[String, Long])] = Seq(
        "customer" -> Map("c_custkey" -> CK),
        "supplier" -> Map("s_suppkey" -> SK),
        "part" -> Map("p_partkey" -> PK),
        "orders" -> Map("o_orderkey" -> OK, "o_custkey" -> CK),
        "lineitem" -> Map("l_orderkey" -> OK, "l_partkey" -> PK,
          "l_suppkey" -> SK))
      scaled.foreach { case (t, keyOffsets) =>
        if (!cacheFresh(s"$tpchDir/$t.parquet", s"$sfDir/$t.parquet")) {
          val base = spark.read.parquet(s"$sfDir/$t.parquet")
          (0 until 10).map { r =>
            keyOffsets.foldLeft(base) { case (d, (c, off)) =>
              d.withColumn(c, col(c) + lit(r * off))
            }
          }.reduce(_ unionByName _)
            .repartition(32).write.mode("overwrite")
            .parquet(s"$tpchDir/$t.parquet")
          writeStamp(s"$tpchDir/$t.parquet", s"$sfDir/$t.parquet")
        }
      }
      val nLi = spark.read.parquet(s"$tpchDir/lineitem.parquet").count()
      println(s"[regime] tpch 10x universe: $nLi lineitem rows")
      def med3(xs: Seq[Double]): Double = xs.sorted.apply(1)
      // q1_agg IS TPC-H Q1 (the flagship query keeps its round-1 name)
      val tpchQueries = ("q1_agg" +: graft.queries.Catalog.all.map(_.name)
        .filter(_.startsWith("tpch_"))).distinct
      val walls = tpchQueries.map { q =>
        val ts = (1 to 3).map { _ =>
          val (_, t) = timed(
            graft.queries.Catalog.queriesMap(q)(spark, tpchDir).count())
          t
        }
        q -> med3(ts)
      }
      val total = walls.map(_._2).sum
      val wallsJson = walls
        .map { case (q, t) => s""""$q": ${f"$t%.2f"}""" }.mkString(", ")
      results += "tpch_10x" ->
        (s"""{"lineitem_rows": $nLi, "queries_n": ${walls.size}, """ +
          s""""total_median_s": ${f"$total%.1f"}, "protocol": "median_of_3", """ +
          s""""walls_s": {$wallsJson}}""")
      println(s"[regime] tpch 10x: ${walls.size} queries, " +
        s"median total ${f"$total%.1f"}s")
    } catch { case e: Throwable =>
      results += "tpch_10x" -> s"""{"error": "${e.getClass.getName}: ${String.valueOf(e.getMessage).replace('"', ' ').take(160)}"}"""
      println(s"[regime] tpch 10x probe failed: $e")
    }

    val json = results.map { case (k, v) => s""""$k": $v""" }
      .mkString("{\n  ", ",\n  ", "\n}")
    Files.writeString(Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
