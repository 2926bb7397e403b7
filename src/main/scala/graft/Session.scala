package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine builds a SparkSession. Every main and the
  * test suites start from this builder and add only their app name and
  * log level:
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - UTC session time zone and AQE on;
  *  - `nanosAsLong`, so TIMESTAMP(NANOS) parquet reads as a long that
  *    [[Tables.load]] converts;
  *  - no UI;
  *  - [[GraftExtensions]], so every custom function resolves by name.
  *
  * Sessions built elsewhere get the same functions from
  * `--conf spark.sql.extensions=graft.GraftExtensions` or from
  * [[GraftExtensions.install]]. */
object Session {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
}
