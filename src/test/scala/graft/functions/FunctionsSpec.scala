package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
    .master("local[4]")
    .appName("graft-fn-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("native cosine_sim matches the composed zip_with form exactly") {
    val s = spark
    import s.implicits._
    CosineSimilarity.register(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(0.5f, 0.5f), Array(0.5f, 0.5f))
    ).toDF("a", "b")
    val both = df.select(
      expr("cosine_sim(a, b)").as("native"),
      (aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x) /
        (sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))) *
          sqrt(aggregate(col("b"), lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))))
        .as("composed")
    ).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // known value: identical direction -> 1.0
    assert(math.abs(both(2).getDouble(0) - 1.0) < 1e-12)
    // zero-vector guard: native defines 0.0 instead of dividing by zero
    val zero = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
      .select(expr("cosine_sim(a, b)")).collect()(0).getDouble(0)
    assert(zero == 0.0)
  }

  test("cosine_sim stays in whole-stage codegen (no CodegenFallback)") {
    val s = spark
    import s.implicits._
    CosineSimilarity.register(spark)
    // Non-local source so ConvertToLocalRelation can't pre-fold the project
    val df = spark.range(100).select(
      array(col("id").cast("float"), (col("id") + 1).cast("float")).as("a"),
      array((col("id") + 2).cast("float"), col("id").cast("float")).as("b"))
    val planned = df.select(expr("cosine_sim(a, b)"))
    // "*(n)" prefixes mark WholeStageCodegen spans in the plan rendering
    assert(planned.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(planned.collect().length == 100)
  }

  test("type check rejects non-float arrays") {
    val s = spark
    import s.implicits._
    CosineSimilarity.register(spark)
    val df = Seq((Array(1.0, 2.0), Array(2.0, 1.0))).toDF("a", "b")
    val ex = intercept[Exception](df.select(expr("cosine_sim(a, b)")).collect())
    assert(ex.getMessage.contains("array<float>"))
  }

  test("native ws_distinct_tokens is bit-identical to the SQL composition") {
    DistinctTokens.register(spark)
    // real corpus + synthetic edge cases (leading/trailing/mixed whitespace,
    // repeats, empties, case folding)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(org.apache.spark.sql.functions.col("text"))
    val s = spark
    import s.implicits._
    val edges = Seq("  A  b\ta ", "", "one", "x\n\ny X x", "\t").toDF("text")
    Seq(corpus, edges).foreach { df =>
      val both = df.select(
        expr("ws_distinct_tokens(text)").as("native"),
        expr("array_distinct(filter(split(lower(text), '\\\\s+'), t -> t <> ''))")
          .as("hof")
      ).collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"token arrays must match exactly: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("native minhash_sig is bit-identical to the HoF composition") {
    val s = spark
    import s.implicits._
    MinHashSignature.register(spark)
    val df = Seq(
      Tuple1(Array("alpha", "beta", "gamma")),
      Tuple1(Array("one")),
      Tuple1(Array("x", "y", "z", "w", "v"))
    ).toDF("toks")
    val k = 16
    val both = df.select(
      expr(s"minhash_sig(toks, $k)").as("native"),
      // double-hash construction: token byte-hashed once, then k long mixes
      expr(s"transform(sequence(0, ${k - 1}), j -> array_min(transform(toks, t -> xxhash64(j, xxhash64(t)))))")
        .as("hof")
    ).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "signatures must match exactly")
    }
  }

  test("native sig_agree_count is bit-identical to the zip_with composition") {
    val s = spark
    import s.implicits._
    SigAgreeCount.register(spark)
    val df = Seq(
      (Array[java.lang.Long](1L, 2L, 3L, 4L), Array[java.lang.Long](1L, 9L, 3L, 4L)),
      (Array[java.lang.Long](1L, null, 3L), Array[java.lang.Long](1L, null, 3L)),
      (Array[java.lang.Long](5L), Array[java.lang.Long](5L, 6L, 7L))
    ).toDF("a", "b")
    val both = df.select(
      expr("sig_agree_count(a, b)").as("native"),
      expr("size(filter(zip_with(a, b, (x, y) -> x = y), m -> m))").as("hof"))
      .collect()
    both.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"native=${r.getInt(0)} hof=${r.getInt(1)}"))
    // null lanes never agree; shorter array's padding never agrees
    assert(both(1).getInt(0) == 2)
    assert(both(2).getInt(0) == 1)
  }

  test("native simhash64 is bit-identical to the HoF composition") {
    val s = spark
    import s.implicits._
    SimHash64.register(spark)
    val df = Seq(
      Tuple1(Array("alpha", "beta", "gamma", "delta")),
      Tuple1(Array("one")),
      Tuple1(Array("x", "y", "z", "w", "v", "u", "t"))
    ).toDF("toks")
    // token hash = lower 64 bits of md5, little-endian (bytes 8..15 of the
    // digest) — DuckDB's md5_number_lower, assembled here from the hex text
    val both = df.select(
      expr("simhash64(toks)").as("native"),
      expr(
        """aggregate(sequence(0, 63), cast(0 as bigint),
             (acc, i) -> acc | (cast(CASE WHEN
                 aggregate(transform(toks, t ->
                     aggregate(sequence(0, 7), cast(0 as bigint), (a, j) ->
                       a | shiftleft(cast(conv(substr(md5(t), 17 + 2*j, 2), 16, 10) as bigint), 8*j))),
                   0, (s, h) ->
                   s + CASE WHEN (shiftright(h, i) & 1) = 1 THEN 1 ELSE -1 END)
                 > 0 THEN 1 ELSE 0 END as bigint) << i))""").as("hof")
    ).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native char_gram_hashes is bit-identical to the substr/ascii lambda") {
    val s = spark
    import s.implicits._
    CharGramHashes.register(spark)
    // Reference: the substr/ascii lambda composition the DuckDB oracle
    // mirrors. It is only defined from 8 code points up (a shorter string's
    // sequence descends), so shorter strings expect the empty array.
    val pows = Seq(27512614111L, 887503681L, 28629151L, 923521L, 29791L, 961L, 31L, 1L)
    val terms = pows.zipWithIndex
      .map { case (p, j) => s"ascii(substr(text, p + $j, 1)) * cast($p as bigint)" }
      .mkString(" + ")
    val lambda =
      s"""CASE WHEN length(text) < 8 THEN cast(array() as array<bigint>)
          ELSE transform(sequence(1, length(text) - 7), p -> ($terms) % 1000000007) END"""
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edgeTexts = Seq[String]("abcdefg", "abcdefgh", "abcdefghi", "          ",
      " \t\n \t\n  ", null, "café au lait", "ab😀cdefghij",
      "é😀é😀é😀é😀é")
    val edges = edgeTexts.toDF("text")
    // Scala-side reference over code points, independent of both engines
    def reference(t: String): Seq[Long] = {
      val cps = t.codePoints().toArray.map(_.toLong)
      cps.indices.dropRight(7).map(p =>
        (0 until 8).map(j => cps(p + j) * pows(j)).sum % 1000000007L)
    }
    var grams = 0L
    Seq(corpus, edges).foreach { df =>
      val rows = df.select(col("text"),
        expr("char_gram_hashes(text)").as("native"), expr(lambda).as("hof")).collect()
      rows.foreach { r =>
        val native = Option(r.getSeq[Long](1))
        assert(native == Option(r.getSeq[Long](2)),
          s"gram arrays must match element by element for ${r.getString(0)}")
        assert(native == Option(r.getString(0)).map(reference))
        grams += native.fold(0)(_.length)
      }
    }
    assert(grams > 100000L, s"corpus compared too few grams: $grams")
    val byText = edges.select(col("text"), expr("char_gram_hashes(text)")).collect()
      .map(r => Option(r.getString(0)) -> Option(r.getSeq[Long](1))).toMap
    assert(byText(Some("abcdefg")) == Some(Seq.empty))
    assert(byText(Some("abcdefgh")).get.length == 1)
    assert(byText(Some("abcdefghi")).get.length == 2)
    assert(byText(None).isEmpty)
    // U+1F600 counts as ONE code point (value 128512): 11 code points, 4 grams
    assert(byText(Some("ab😀cdefghij")).get.length == 4)
    assert(byText(Some("ab😀cdefghij")).get.head ==
      (97L * pows(0) + 98L * pows(1) + 128512L * pows(2) + 99L * pows(3) +
        100L * pows(4) + 101L * pows(5) + 102L * pows(6) + 103L) % 1000000007L)
  }

  test("slugify UDF and GeometricMean aggregator") {
    val s = spark
    import s.implicits._
    assert(Udfs.slugifyFn("Hello, World! 42") == "hello-world-42")
    val out = Seq(2.0, 8.0).toDF("x")
      .agg(Udfs.geometricMean(col("x"))).collect()(0).getDouble(0)
    assert(math.abs(out - 4.0) < 1e-12) // sqrt(2*8) = 4
  }

  test("graft_bloom_agg validates arity with a named error, not NoSuchElement") {
    BloomFunctions.registerAgg(spark)
    val e = intercept[Exception](spark.sql("SELECT graft_bloom_agg()").collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("graft_bloom_agg")),
      s"error must name the function: $e")
    assert(!e.isInstanceOf[NoSuchElementException])
  }

  test("bloom probe rejects wrong arity and unique names don't collide") {
    val bytes = spark.range(100)
      .selectExpr("id").createOrReplaceTempView("bloom_src")
    BloomFunctions.registerAgg(spark)
    val ser = spark.sql("SELECT graft_bloom_agg(id, 100) AS bf FROM bloom_src")
      .head.getAs[Array[Byte]]("bf")
    val n1 = BloomFunctions.registerProbeUnique(spark, ser)
    val n2 = BloomFunctions.registerProbeUnique(spark, ser)
    assert(n1 != n2, "each registration must get its own name")
    assert(spark.sql(s"SELECT $n1(42L) AND $n2(42L)").head.getBoolean(0))
    val e = intercept[Exception](spark.sql(s"SELECT $n1(1L, 2L)").collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains(n1)))
  }
}
