package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session of every driver main (`Bench`, `Verify`,
  * `Scaling`, `Probe`) and of the test suite: `local[cores]`,
  * `shufflePartitions` shuffle partitions with AQE on, UTC session time,
  * no UI, and a fresh warehouse directory per run.
  * `Main` is the one entry point that does not call it: its session comes
  * from the ambient spark-submit config. */
object LocalSession {
  def apply(cores: Int): SparkSession = apply(cores, cores)

  def apply(cores: Int, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_warehouse",
        java.util.UUID.randomUUID().toString).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
