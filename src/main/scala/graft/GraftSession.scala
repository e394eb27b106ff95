package graft

import org.apache.spark.sql.SparkSession

/** The one session factory, with the engine's standard tuning.
  *
  * Designed for a large cluster (AQE on: runtime coalesce, skew-join
  * splitting, dynamic broadcast); tested on local[N]. On local mode the
  * shuffle-partition count is pinned to the core count instead of the
  * 200 default. Every driver main starts its session through [[local]]:
  * cores from SPARK_GRAFT_CPUS, else every available processor; log
  * level WARN.
  */
object GraftSession {
  def local(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = tune(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
