package perfbench

import graft.core._
import graft.ops.SparkOps
import graft.queries.{Catalog, QueryDef}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.PrintWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM side: builds the session, runs the named catalog
  * queries in the given order, materialises every result in full and
  * records per-query timings, row counts and content hashes. `run.py`
  * starts it once per run and scores what it writes.
  *
  * Arguments are `key=value`:
  *  - `sf`, `queries` (file, one query name a line), `out` (directory),
  *    `scratch` (the run's private scratch root), `cores`;
  *  - `passes`: how many passes over the queries to measure, each in a
  *    fresh session with its own tmpdir;
  *  - `pipeline=collect|etl`: `collect` returns every row to the Spark driver the
  *    way a user receives it, final ordering included; `etl` runs the query
  *    as an `Extract ~> Load` pipeline through `unsafeRunTrace`, with Load
  *    being `SparkOps.writeParquet` into the pass's output directory;
  *  - `trace=0|1`: with 1 the run makes three passes whatever `passes`
  *    says: untraced, traced (the listeners of [[Probes]] installed), and
  *    untraced again, so the traced pass can be compared with an untraced
  *    pass equally far from JVM start;
  *  - `dump` (optional): write each collected result to `<dump>/<name>`
  *    as parquet, for the oracle check that certifies expected values.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val sf = o("sf")
    val names = Files.readAllLines(Paths.get(o("queries")), UTF_8).toArray.map(_.toString.trim).filter(_.nonEmpty).toSeq
    val out = Paths.get(o("out"))
    val scratch = Paths.get(o("scratch"))
    val cores = o("cores").toInt
    val traced = o.getOrElse("trace", "0") == "1"
    val nPasses = if (traced) 3 else o.getOrElse("passes", "1").toInt
    val etl = o.getOrElse("pipeline", "collect") == "etl"
    val dump = o.get("dump")
    Files.createDirectories(out)

    // set-up counts from JVM start: class loading, SparkContext, warm-up
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val spark = session(sf, cores, scratch)
    warmUp(spark, sf)
    val setupS = (System.nanoTime() - t0) / 1e9

    val catalog: Map[String, QueryDef] = Catalog.all.map(q => q.name -> q).toMap
    val records = new PrintWriter(Files.newBufferedWriter(out.resolve("records.jsonl"), UTF_8))
    val passes = mutable.ArrayBuffer.empty[String]
    (0 until nPasses).foreach { pass =>
      // each pass is a fresh session (cold mining caches, its own wave)
      // reading and staging under its own tmpdir
      val sess = if (pass == 0) spark else spark.newSession()
      val passDir = scratch.resolve(s"pass$pass")
      val tmp = Files.createDirectories(passDir.resolve("tmp"))
      System.setProperty("java.io.tmpdir", tmp.toString)
      val probes = if (traced && pass == 1) Some(install(sess)) else None
      val p = new Pass(sess, sf, catalog, passDir, etl, probes, dump, pass, records)
      val start = System.nanoTime()
      names.foreach(p.runOne)
      val wall = (System.nanoTime() - start - p.checkNs) / 1e9
      probes.foreach(pr => uninstall(sess, pr))
      val files = countFiles(passDir.resolve("out"))
      passes += Json.obj(
        "pass" -> pass, "traced" -> probes.isDefined, "wall_s" -> wall, "write_files" -> files,
        "peak_rss_mb" -> peakRssMb(),
        "stage_skews" -> probes.map(_.takeStageSkews()).getOrElse(Nil),
        "batch_ms" -> probes.map(_.takeBatchMs()).getOrElse(Nil))
    }
    records.close()

    val summary = Json.obj(
      "setup_s" -> setupS, "passes" -> Json.Raw(passes.mkString("[", ",", "]")), "cores" -> cores)
    Files.writeString(out.resolve("run.json"), summary)
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
  }

  def session(sf: String, cores: Int, scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Files.createDirectories(scratch.resolve("local")).toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", scratch.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** JIT, codegen, parquet footers and the streaming engine's first start,
    * which would otherwise land on whichever query runs first.
    */
  private def warmUp(spark: SparkSession, sf: String): Unit = {
    spark.range(1000000).selectExpr("sum(id) s").collect()
    spark.read.parquet(s"$sf/lineitem.parquet").groupBy("l_returnflag").count().collect()
    val sq = spark.readStream.format("rate").load()
      .groupBy("value").count()
      .writeStream.format("memory").queryName("perfbench_warmup")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    sq.awaitTermination(30000)
    sq.stop()
  }

  private def install(sess: SparkSession): Probes = {
    val p = new Probes
    sess.sparkContext.addSparkListener(p)
    sess.listenerManager.register(p.actions)
    sess.streams.addListener(p.streams)
    org.apache.spark.ListenerDrain(sess.sparkContext)
    p
  }

  private def uninstall(sess: SparkSession, p: Probes): Unit = {
    org.apache.spark.ListenerDrain(sess.sparkContext)
    sess.sparkContext.removeSparkListener(p)
    sess.listenerManager.unregister(p.actions)
    sess.streams.removeListener(p.streams)
  }

  private def countFiles(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else { val s = Files.walk(dir); try s.filter(Files.isRegularFile(_)).count() finally s.close() }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)

  /** One pass over the workload's queries in one session. */
  final class Pass(sess: SparkSession, sf: String, catalog: Map[String, QueryDef], dir: Path,
      etl: Boolean, probes: Option[Probes], dump: Option[String], pass: Int, records: PrintWriter) {
    /** time spent checking results, which the pass wall leaves out */
    var checkNs = 0L

    private def drained(): Map[String, Double] = probes.fold(Map.empty[String, Double]) { p =>
      org.apache.spark.ListenerDrain(sess.sparkContext)
      p.snapshot()
    }

    def runOne(name: String): Unit = {
      sess.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
      val before = drained()
      var buildS = 0.0
      var afterBuild = before
      var layers = Seq.empty[(String, Any)]
      var result: Option[(org.apache.spark.sql.types.StructType, Iterator[Row])] = None
      val check0 = checkNs
      val t0 = System.nanoTime()
      val outcome: Either[Throwable, Unit] = try {
        val q = catalog.getOrElse(name, throw new NoSuchElementException(s"no catalog query named $name"))
        if (etl) {
          val path = dir.resolve("out").resolve(name).toString
          val extract = Extract[Unit, DataFrame] { _ =>
            Tel.withSpan("extract") { q.run(sess, sf) }
          }
          val load = Load[DataFrame, DataFrame] { df =>
            buildS = (System.nanoTime() - t0) / 1e9
            afterBuild = drained()
            Tel.withSpan("load") { SparkOps.writeParquet(path)(df) }
          }
          val p0 = System.nanoTime()
          val tr = (extract ~> load).unsafeRunTrace(())
          val pipeS = (System.nanoTime() - p0) / 1e9
          def spanS(n: String) = tr.spans.filter(_.name == n).map(_.durationNanos).sum / 1e9
          val (ex, ld) = (spanS("extract"), spanS("load"))
          layers = Seq("core.extract_s" -> ex, "core.load_s" -> ld, "core.self_s" -> (pipeS - ex - ld))
          val c0 = System.nanoTime()
          val back = sess.read.parquet(path)
          result = Some(back.schema -> back.collect().iterator)
          checkNs += System.nanoTime() - c0
        } else {
          val df = q.run(sess, sf)
          buildS = (System.nanoTime() - t0) / 1e9
          afterBuild = drained()
          val rows = df.collect()
          result = Some(df.schema -> rows.iterator)
          dump.foreach { d =>
            val c0 = System.nanoTime()
            sess.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
            checkNs += System.nanoTime() - c0
          }
        }
        Right(())
      } catch { case e: Throwable => Left(e) }
      val seconds = (System.nanoTime() - t0 - (checkNs - check0)) / 1e9
      val after = drained()
      val c0 = System.nanoTime()
      val (rows, hash) = result.map { case (schema, it) => Canon.hash(schema, it) }.getOrElse((-1L, ""))
      checkNs += System.nanoTime() - c0
      outcome.left.foreach(e => System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}"))
      val traced = probes.map { p =>
        Json.obj(
          "build" -> Json.Raw(Json.map(Probes.delta(afterBuild, before))),
          "action" -> Json.Raw(Json.map(Probes.delta(after, afterBuild))),
          "core" -> Json.Raw(Json.obj(layers: _*)))
      }
      records.println(Json.obj(
        "pass" -> pass, "name" -> name, "ok" -> outcome.isRight,
        "error" -> outcome.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}").orNull,
        "seconds" -> seconds, "build_s" -> buildS, "rows" -> rows, "hash" -> hash,
        "layers" -> traced.map(Json.Raw(_)).orNull))
      records.flush()
    }
  }
}

/** Minimal JSON writer for the harness's records (no extra dependency). */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def map(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1): _*)
}

/** Prints one JSON line per catalog query — name, module, oracle SQL — in
  * catalog order, for certification and for building workloads by module.
  */
object CatalogList {
  import graft.queries._
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.queries, "AnalyticsQueries" -> AnalyticsQueries.queries,
    "WarehouseQueries" -> WarehouseQueries.queries, "StatQueries" -> StatQueries.queries,
    "TextQueries" -> TextQueries.queries, "VectorQueries" -> VectorQueries.queries,
    "EventQueries" -> EventQueries.queries, "PipelineQueries" -> PipelineQueries.queries,
    "UdfQueries" -> UdfQueries.queries, "TypedQueries" -> TypedQueries.queries,
    "StreamingQueries" -> StreamingQueries.queries, "OpsQueries" -> OpsQueries.queries)

  def main(args: Array[String]): Unit = {
    val listed = modules.flatMap { case (m, qs) => qs.map(q => (q.name, m, q.oracle)) }
    require(listed.map(_._1) == Catalog.all.map(_.name), "module list out of step with Catalog.all")
    listed.foreach { case (n, m, sql) => println(Json.obj("name" -> n, "module" -> m, "oracle" -> sql.orNull)) }
  }
}
