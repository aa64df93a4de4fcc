package graft.ops

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cache contract end-to-end: mining caches key on the logical plan,
  * so overwriting a corpus path and re-reading WOULD serve stale artifacts
  * — and the clearMiningCaches node makes stale reads impossible.
  */
class CacheInvalidationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
    .master("local[4]")
    .appName("graft-cache-invalidation-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val snapshot =
    s"${System.getProperty("java.io.tmpdir")}/graft_cache_inval_corpus"

  /** Overwrite the corpus path OUT-OF-BAND (staging write + file move, the
    * way an external writer or another session replaces a snapshot).
    * Same-session `df.write` triggers Spark's own `refreshByPath`
    * invalidation; an external replacement does not — that is exactly the
    * stale-read hazard the clearMiningCaches contract exists for.
    */
  private def writeCorpus(texts: Seq[String]): Unit = {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val staging = snapshot + "_staging"
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .coalesce(1)
      .write.mode("overwrite").parquet(staging)
    val dst = Paths.get(snapshot)
    if (Files.exists(dst)) {
      Files.walk(dst).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    Files.createDirectories(dst)
    Files.list(Paths.get(staging)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.move(p, dst.resolve(p.getFileName),
        StandardCopyOption.REPLACE_EXISTING))
  }

  private def corpus: DataFrame = spark.read.parquet(snapshot)

  test("overwrite without clear serves stale pairs; clearMiningCaches node fixes it") {
    // Snapshot 1: two identical docs → one pair at J = 1.
    writeCorpus(Seq("alpha beta gamma", "alpha beta gamma", "unrelated text here"))
    val first = DedupOps.ngramJaccardCached(corpus, threshold = 0.9).collect()
    assert(first.length == 1 && first.head.getLong(0) == 0L && first.head.getLong(1) == 1L)

    // Snapshot 2 overwrites the SAME path with three identical docs
    // (pairs (0,1),(0,2),(1,2)). Same path ⇒ same logical plan ⇒ same
    // cache key: without invalidation the stale single-pair list returns.
    writeCorpus(Seq("delta epsilon zeta", "delta epsilon zeta", "delta epsilon zeta"))
    val stale = DedupOps.ngramJaccardCached(corpus, threshold = 0.9).collect()
    assert(stale.length == 1, "without clearing, the cached (stale) pair list is served")

    // The pipeline shape: overwrite → clearMiningCaches → re-mine.
    val pipeline = Node[Unit, DataFrame](_ => corpus) ~>
      SparkOps.clearMiningCaches ~>
      Node((df: DataFrame) => DedupOps.ngramJaccardCached(df, threshold = 0.9))
    val fresh = pipeline.unsafeRun(())
    assert(fresh.count() == 3, "after clearMiningCaches the new snapshot is mined")
  }

  test("schema memo invalidates on in-place part-file rewrite (dir mtime unchanged)") {
    // Round-16 fence for the VERDICT r15 #3 gap: a parquet DIRECTORY whose
    // part file is rewritten IN PLACE (same file name, directory mtime
    // pinned back) must still serve the NEW schema — the memo keys on the
    // max part-file mtime + summed length, not the directory entry.
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(
      s"${System.getProperty("java.io.tmpdir")}/graft_schema_memo_dir")
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    Files.createDirectories(dir)
    val partName = "part-00000.parquet"
    def stagePart(df: DataFrame): java.nio.file.Path = {
      val staging = dir.toString + "_staging"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      Files.list(Paths.get(staging)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    }
    Files.move(stagePart(Seq((1L, 2L)).toDF("a", "b")), dir.resolve(partName),
      StandardCopyOption.REPLACE_EXISTING)
    val dirMtime = Files.getLastModifiedTime(dir)
    val sch1 = graft.queries.Tables.readPath(spark, dir.toString).schema
    assert(sch1.fieldNames.toSet == Set("a", "b"))

    // In-place rewrite: SAME part name, WIDER schema, directory mtime
    // pinned back to its pre-rewrite value (the case a (-1)-length
    // dir-mtime key could not see). Ensure the part mtime moves even on
    // coarse filesystem timestamps.
    Thread.sleep(1100)
    val newPart = stagePart(Seq((1L, 2L, "x")).toDF("a", "b", "c"))
    Files.move(newPart, dir.resolve(partName),
      StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dir, dirMtime)
    assert(Files.getLastModifiedTime(dir) == dirMtime)
    val sch2 = graft.queries.Tables.readPath(spark, dir.toString).schema
    assert(sch2.fieldNames.toSet == Set("a", "b", "c"),
      "in-place part rewrite must invalidate the schema memo")
  }

  test("schema memo invalidates on a part rewrite inside a partition subdirectory") {
    // A partitioned layout keeps its part files under key=val/ directories:
    // the memo key walks them, so an in-place rewrite there (every
    // directory mtime pinned back) still serves the NEW schema.
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(
      s"${System.getProperty("java.io.tmpdir")}/graft_schema_memo_partitioned")
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val partDir = dir.resolve("key=1")
    Files.createDirectories(partDir)
    val part = partDir.resolve("part-00000.parquet")
    def writePart(df: DataFrame): Unit = {
      val staging = dir.toString + "_staging"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val staged = Files.list(Paths.get(staging)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      Files.move(staged, part, StandardCopyOption.REPLACE_EXISTING)
    }
    writePart(Seq((1L, 2L)).toDF("a", "b"))
    val mtimes: Seq[(Path, java.nio.file.attribute.FileTime)] =
      Seq(dir, partDir).map(d => d -> Files.getLastModifiedTime(d))
    val sch1 = graft.queries.Tables.readPath(spark, dir.toString).schema
    assert(sch1.fieldNames.toSet == Set("a", "b", "key"))

    Thread.sleep(1100)
    writePart(Seq((1L, 2L, "x")).toDF("a", "b", "c"))
    mtimes.foreach { case (d, t) => Files.setLastModifiedTime(d, t) }
    val sch2 = graft.queries.Tables.readPath(spark, dir.toString).schema
    assert(sch2.fieldNames.toSet == Set("a", "b", "c", "key"),
      "a part rewrite under key=val/ must invalidate the schema memo")
  }
}
