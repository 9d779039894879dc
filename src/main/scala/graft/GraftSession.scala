package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main and the test suite run on:
  * `local[cpus]` with as many shuffle partitions, the graft extensions,
  * UTC session time and no UI. `confs` are extra builder settings
  * (SparkContext-level ones must be set before the context exists).
  */
object GraftSession {
  def local(cpus: String, logLevel: String, confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
