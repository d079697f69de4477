package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (`Bench`, `Verify`, the
  * tools) and the test session build through it, so they all measure
  * the same engine configuration.
  */
object GraftSession {

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * AQE on, the graft function table and rules
    * ([[graft.functions.GraftExtensions]]) and no UI. `cpus` defaults to
    * `SPARK_GRAFT_CPUS`, else 4. Callers add their own settings
    * (warehouse dir, app name) before `getOrCreate()`.
    */
  def builder(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet uses TIMESTAMP(NANOS); see graft.Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
