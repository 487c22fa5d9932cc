package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared bootstrap for the profiling mains — one definition of the
  * measurement session (local[SPARK_GRAFT_CPUS], matched shuffle
  * partitions, UTC, no UI, periodic GC), so a config change cannot
  * silently leave one tool measuring a differently-configured session.
  */
object ToolSession {
  def session(extraConf: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
    val spark = extraConf.foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
