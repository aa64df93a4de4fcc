package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Unit specs for the training-data pipeline operators on crafted inputs
  * with hand-computable expectations.
  */
class PipelineOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def docsDf(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("ngramJaccard finds the duplicated pair with exact score") {
    val df = DedupOps.ngramJaccard(
      docsDf(
        1L -> "the quick brown fox",
        2L -> "the quick brown fox jumps", // J(1,2) = 4/5 = 0.8
        3L -> "entirely different words here"
      ),
      threshold = 0.5
    )
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 2L, 0.8)))
  }

  test("minhashLsh surfaces identical docs with estimated jaccard 1.0") {
    val out = DedupOps.minhashLsh(
      docsDf(
        1L -> "alpha beta gamma delta epsilon zeta",
        2L -> "alpha beta gamma delta epsilon zeta",
        3L -> "one two three four five six"
      ),
      threshold = 0.9
    ).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(out(0).getDouble(2) == 1.0) // identical signatures -> estimate 1.0
  }

  test("simhash of identical docs is identical; pairs report hamming 0") {
    val sh = DedupOps.simhash(docsDf(1L -> "a b c d", 2L -> "a b c d"))
      .collect().map(_.getLong(1))
    assert(sh(0) == sh(1))
    val pairs = DedupOps.simhashPairs(
      docsDf(1L -> "a b c d", 2L -> "a b c d", 3L -> "x y z w q r s t"),
      maxHamming = 0
    ).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      == Seq((1L, 2L, 0)))
  }

  test("cosine exact near-dup flags identical vectors") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = DedupOps.cosineNearDupExact(emb, maxId = 10, threshold = 0.99)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      == Seq((0L, 1L, 1.0)))
  }

  test("brute-force topk ranks by cosine; lsh topk is a subset superset-checked") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 50).map { i =>
      val v = Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)
      (i.toLong, v)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val exact = SimilarityOps.bruteForceTopK(emb, 0, 5).collect()
    assert(exact.length == 5)
    val scores = exact.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse), "must be ranked desc")
    val approx = SimilarityOps.lshTopK(emb, 0, 5, nBits = 2).collect()
    assert(approx.nonEmpty)
    // every approx hit must carry its true cosine (same scoring expression)
    val exactAll = SimilarityOps.bruteForceTopK(emb, 0, 49).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    approx.foreach(r => assert(exactAll(r.getLong(0)) == r.getDouble(1)))
  }

  test("ivf topk scores candidates with true cosines from probed cells") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.cos(i * 3 + j).toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val approx = SimilarityOps.ivfTopK(emb, 0, 5, nCentroids = 8, nProbe = 3).collect()
    assert(approx.nonEmpty && approx.length <= 5)
    val exactAll = SimilarityOps.bruteForceTopK(emb, 0, 59).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    approx.foreach(r => assert(exactAll(r.getLong(0)) == r.getDouble(1)))
    val scores = approx.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("ivf_top_cells native router matches a driver argmax with lowest-cid ties") {
    val s = spark
    import s.implicits._
    val centroids = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0)) // dup cell: tie case
    val vecs = Seq(
      (0L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.7f, 0.0f)), // ties cells 2 and 3 -> lowest cid first
      (2L, Array(0.2f, 0.5f, 0.4f, 0.0f)))
    val emb = vecs.toDF("vec_id", "embedding")
    val fn = graft.functions.IvfTopCells.registerUnique(s, centroids)
    val got = emb.selectExpr("vec_id", s"$fn(embedding, 2) as cells")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def expected(v: Array[Float]): Seq[Long] =
      centroids.zipWithIndex
        .map { case (c, i) => (c.zip(v).map { case (a, b) => a * b.toDouble }.sum, i.toLong) }
        .sortBy { case (dot, cid) => (-dot, cid) }.take(2).map(_._2)
    vecs.foreach { case (id, v) =>
      assert(got(id) == expected(v), s"vec $id routed to ${got(id)}")
    }
  }

  test("multimodal decode stub: checksum and byte count from real bytes") {
    val bytes = "hello".getBytes("UTF-8")
    val d = MultimodalOps.decodeStub(bytes)
    assert(d.n_bytes == 5)
    assert(d.checksum == bytes.map(_ & 0xff).sum.toLong)
    assert(d.feature.length == 4)
    assert(d.feature(0) == (bytes(0) & 0xff) / 256.0f)
  }

  test("real PNG codec: decode reports true raster dims, not stub constants") {
    val s = spark
    import s.implicits._
    // genuine 5x3 PNG, pixel (x,y) = RGB(200, x, y), encoded with ImageIO
    val img = new java.awt.image.BufferedImage(
      5, 3, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 3; x <- 0 until 5) img.setRGB(x, y, (200 << 16) | (x << 8) | y)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val media = Seq(MediaRow(7L, baos.toByteArray, "png")).toDS()

    val st = MultimodalOps.decodeImages(media).collect()(0)
    assert(st.width == 5 && st.height == 3, "decoded dims must come from the raster")
    assert(st.channels == 3)
    // sum R+G+B = 15*200 + 3*(0+1+2+3+4) + 5*(0+1+2)
    assert(st.pixel_sum == 15L * 200 + 3 * 10 + 5 * 3)

    // NN resize to 2x2 samples src pixels (0,0),(2,0),(0,1),(2,1)
    val rs = MultimodalOps.decodeImages(
      MultimodalOps.resizeImages(media, side = 2)).collect()(0)
    assert(rs.width == 2 && rs.height == 2 && rs.channels == 3)
    assert(rs.pixel_sum == 4L * 200 + (0 + 2 + 0 + 2) + (0 + 0 + 1 + 1))
  }

  test("real WAV codec: stats come from the decoded RIFF header and PCM body") {
    val s = spark
    import s.implicits._
    // genuine stereo WAV, 4 frames, samples [(10,-10),(20,-20),(30,-30),(40,-40)]
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val pcm = new Array[Byte](16)
    val vals = Seq(10, -10, 20, -20, 30, -30, 40, -40)
    vals.zipWithIndex.foreach { case (v, k) =>
      pcm(2 * k) = (v & 0xff).toByte; pcm(2 * k + 1) = ((v >> 8) & 0xff).toByte
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 4L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray

    val st = MultimodalOps.decodeAudio(Seq(MediaRow(3L, wav, "wav")).toDS()).collect()(0)
    assert(st.sample_rate == 8000 && st.channels == 2, "format must be header-parsed")
    assert(st.n_frames == 4L)
    assert(st.sample_sum == 0L) // pairs cancel

    // tampering one PCM byte must change the decoded sum — proves the body
    // is actually read, not synthesized from metadata
    val tampered = wav.clone()
    tampered(tampered.length - 2) = (tampered(tampered.length - 2) ^ 0x01).toByte
    val st2 = MultimodalOps.decodeAudio(Seq(MediaRow(3L, tampered, "wav")).toDS()).collect()(0)
    assert(st2.sample_sum != 0L)

    // the synthesized table round-trips: decode(wavTable) fields are the
    // closed forms the oracle replays
    val dir = "/root/testdata/sf0.001"
    val one = MultimodalOps.decodeAudio(
      MultimodalOps.wavTable(s, dir).filter(_.doc_id == 5L)).collect()(0)
    assert(one.channels == 2 && one.n_frames == 21L && one.sample_rate == 8000)
  }

  test("real GIF codec: frame directory and per-frame rasters are decoded, not synthesized") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    // doc 4: 3 frames (2 + 4%3), w = 8+4%16 = 12, h = 8+28%16 = 20
    val media = MultimodalOps.gifTable(s, dir).filter(_.doc_id == 4L)
    val frames = MultimodalOps.decodeFrames(media)
      .collect().sortBy(_.frame_idx)
    assert(frames.length == 3, "getNumImages must walk the real frame directory")
    assert(frames.forall(f => f.width == 12 && f.height == 20))
    // frame sums must differ across frames (the 13·k term) — a decoder
    // returning the first frame thrice would fail here
    assert(frames.map(_.gray_sum).distinct.length == 3)
    val expected = (0 until 3).map { k =>
      (for (y <- 0 until 20; x <- 0 until 12)
        yield ((4L + 13L * k + x + 3L * y) % 256L)).sum
    }
    assert(frames.map(_.gray_sum).toSeq == expected,
      "lossless indexed-gray GIF round-trip must reproduce exact pixel sums")
  }

  test("multimodal resize normalizes payload size; frame sampling chunks it") {
    val s = spark
    import s.implicits._
    val media = Seq(MediaRow(1L, "abcdefghij".getBytes("UTF-8"), "txt")).toDS()
    val resized = MultimodalOps.resizeStub(media, targetBytes = 4).collect()
    assert(resized(0).media.length == 4)
    assert(new String(resized(0).media) == "abcd")
    val frames = MultimodalOps.frameSample(media, frameBytes = 4, stride = 3).collect()
    // offsets 0, 3, 6 for a 10-byte payload with 4-byte frames
    assert(frames.map(f => (f.frame_idx, new String(f.frame))).toSeq ==
      Seq((0, "abcd"), (1, "defg"), (2, "ghij")))
  }

  test("langId prefers the language whose stopwords dominate") {
    val out = TextOps.langId(docsDf(
      1L -> "the cat and the dog of the house",
      2L -> "el perro y la casa de la ciudad que",
      3L -> "der hund und die katze ist nicht da"
    )).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "de")
  }

  test("quality score is bounded and monotone in stopword ratio") {
    val df = TextOps.qualityScore(docsDf(
      1L -> "the of and to in is it a",     // all stopwords
      2L -> "zzz, qqq! xxx www yyy vvv"     // none, some punctuation
    ))
    val out = df.select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(out(1L) > out(2L))
    val punct = df.select("doc_id", "punct_ratio").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(punct(1L) == 0.0)
    assert(punct(2L) > 0.0 && punct(2L) < 1.0)
  }

  test("fingerprint is deterministic and shift-sensitive") {
    def fp(texts: (Long, String)*): Map[Long, (Long, Long)] =
      TextOps.fingerprint(docsDf(texts: _*)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // "abcdefghij" has gram hashes [628658458, 58359503, 488060555]
    val out = fp(1L -> "abcdefghij", 2L -> "abcdefghik", 3L -> "abcdefgzij",
      4L -> "abcdefghij abcdefghij", 5L -> "abcdefg")
    assert(out(1L) == (58359503L, 3L))
    assert(fp(1L -> "abcdefghij") == Map(1L -> (58359503L, 3L)))
    // editing the last char only moves the last gram, not the minimum
    assert(out(2L) == (58359503L, 3L))
    // 'h' sits in all three windows: editing it moves the minimum
    assert(out(3L) == (58360061L, 3L))
    // 14 grams, the first three repeat at the end
    assert(out(4L) == (58359503L, 11L))
    // under 8 chars there is no gram, so no row
    assert(!out.contains(5L))
  }

  test("chunking produces overlapping windows with a short tail") {
    // 10 tokens, window 4, stride 3 -> starts 0,3,6,9 per ceil((10-4)/3)=2 -> 3 windows? verify
    val out = TextOps.chunkDocuments(
      docsDf(1L -> "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      windowTokens = 4, strideTokens = 3
    ).collect().map(r => (r.getInt(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (0, "t1 t2 t3 t4"),
      (1, "t4 t5 t6 t7"),
      (2, "t7 t8 t9 t10")))
    // shorter than one window -> single chunk with everything
    val short = TextOps.chunkDocuments(docsDf(2L -> "a b"), 4, 3).collect()
    assert(short.length == 1 && short(0).getString(2) == "a b")
  }

  test("deterministic split is stable and respects bucket percentages") {
    val s = spark
    import s.implicits._
    val df = (0L until 1000L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val split = TextOps.deterministicSplit(df, "doc_id", valPct = 5, testPct = 5)
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("val") == 50 && counts("test") == 50 && counts("train") == 900)
    // stability: same assignment on recompute
    val again = TextOps.deterministicSplit(df, "doc_id", 5, 5)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again(3L) == "val" && again(7L) == "test" && again(42L) == "train")
  }

  test("token counts: BPE-ish regex splits punctuation and digits") {
    val out = TextOps.tokenCounts(docsDf(1L -> "hello, world 42!")).collect()(0)
    assert(out.getInt(1) == 3) // ws tokens: "hello,», "world", "42!"
    assert(out.getInt(2) == 5) // hello , world 42 !
  }
}
