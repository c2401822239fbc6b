package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder the engine's mains share:
  * `local[cores]` (default `SPARK_GRAFT_CPUS`, else 4), one shuffle
  * partition per core, AQE on, UTC session time zone, no UI, WARN
  * logging. `extra` holds a main's own settings and overrides these
  * (applied last).
  */
object GraftSession {
  def apply(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      extra: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = base.config(extra).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
