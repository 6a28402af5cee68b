package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's session: the settings `graft.Bench` uses (shuffle
  * partitions = cores, UTC, UI off), with Spark's scratch in the run's own
  * `java.io.tmpdir` so a run's leftovers can be measured and removed.
  */
object Session {
  def settings(cores: Int): Seq[(String, String)] = {
    val tmp = System.getProperty("java.io.tmpdir")
    Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> tmp,
      "spark.sql.warehouse.dir" -> s"$tmp/warehouse")
  }

  def build(cores: Int): SparkSession = {
    val b = SparkSession.builder()
    settings(cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Stops the active session so the next [[build]] starts a fresh one. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
