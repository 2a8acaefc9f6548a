package graft.tools

import org.apache.spark.sql.SparkSession

/** The local session the command-line mains run on: `local[cpus]` with
  * `partitions` shuffle partitions, UTC session time zone, no UI, and
  * Spark's own logging at `logLevel`. */
object LocalSession {
  def apply(appName: String, cpus: Int = 4, partitions: Int = 4,
            logLevel: String = "ERROR"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
