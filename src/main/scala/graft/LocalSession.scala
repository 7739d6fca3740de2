package graft

import org.apache.spark.sql.SparkSession

/** The local session `Integrate`, `Verify`, `BenchExtra` and the test
  * suites run in: `cpus` shuffle partitions, UTC session time, no web UI,
  * WARN logging. `Bench` keeps its own builder, frozen with its timings.
  */
object LocalSession {
  def apply(appName: String, cpus: String,
      master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
