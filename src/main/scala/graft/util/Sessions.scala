package graft.util

import org.apache.spark.sql.SparkSession

/** The one session factory of graft's mains (CLI, Verify, BenchExtra,
  * Explain), so their settings cannot drift apart. AQE splits skewed
  * sort-merge join partitions (the exact tier's size joins); the 2-minute
  * periodic GC lets ContextCleaner free dead broadcast and shuffle handles
  * within a run (Spark's default is 30 min). Bench and Scaling keep their
  * own builders: they are the measuring stick. */
object Sessions {
  def create(master: String, shufflePartitions: String, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
