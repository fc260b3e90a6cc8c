package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder of the repo's mains. */
object LocalSpark {

  /** `local[cores]` with `cores` shuffle partitions and the UI off, then
    * `confs` in order (a later entry overrides an earlier one, the
    * defaults included), then `logLevel`.
    */
  def session(cores: Int, logLevel: String,
              confs: (String, Any)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v.toString) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
