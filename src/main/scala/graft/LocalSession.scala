package graft

import org.apache.spark.sql.SparkSession

/** The local session every main and the specs run on: `local[cores]`,
  * `cores` shuffle partitions, UTC session time (the DuckDB oracle
  * compare reads timestamps in UTC), no UI and WARN logging. Returns
  * the running session if the JVM already has one.
  */
object LocalSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
