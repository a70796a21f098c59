package graft

import org.apache.spark.sql.SparkSession

/** The local session the mains (Bench, BenchOne, Verify, Explain) run
  * on: `cpus` task slots and as many shuffle partitions, UTC, no UI.
  * ANSI mode is pinned rather than inherited from Spark's default, so
  * an integer overflow (the long integer-cents sums in CoreQueries)
  * raises ARITHMETIC_OVERFLOW instead of wrapping. */
object LocalSession {
  def apply(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "true")
    .getOrCreate()
}
