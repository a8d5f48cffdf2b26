package graft.tools

import org.apache.spark.sql.SparkSession

/** Session setup shared by the dev harness mains: `local[cpus]` with
  * shuffle partitions = cpus, UTC session time zone, no UI and WARN
  * logging. `extraConf` entries are applied last, so a harness can add
  * or override a setting (SkewBench disables broadcast joins). */
object Kit {
  def session(cpus: String, extraConf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
