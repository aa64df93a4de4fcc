package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's mains build a session: [[GraftExtensions]] on,
  * UTC session time zone, UI off, one shuffle partition per core, log
  * level WARN.
  *
  * Environment (each optional):
  *  - `SPARK_GRAFT_CPUS`: core count, default this machine's processors;
  *  - `SPARK_GRAFT_MASTER`: master URL, default `local[<cpus>]` (or the
  *    caller's `defaultMaster`). `local-cluster[2,2,4096]` runs the catalog
  *    under real executor processes;
  *  - `SPARK_GRAFT_EXECUTOR_CLASSPATH` / `SPARK_GRAFT_EXECUTOR_MEM`:
  *    `spark.executor.extraClassPath` / `spark.executor.memory`, needed
  *    when executors are separate JVMs that must load the library classes.
  */
object GraftSession {

  private def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def apply(defaultMaster: String = s"local[$cpus]"): SparkSession = {
    val builder = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", defaultMaster))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = Seq(
      "SPARK_GRAFT_EXECUTOR_CLASSPATH" -> "spark.executor.extraClassPath",
      "SPARK_GRAFT_EXECUTOR_MEM" -> "spark.executor.memory"
    ).foldLeft(builder) { case (b, (env, conf)) =>
      sys.env.get(env).fold(b)(b.config(conf, _))
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
