package graft

import org.apache.spark.sql.SparkSession
import graft.sources.LocalFs

/** The local session the mains (Bench, BenchOne, Verify, Explain) run
  * on: `cpus` task slots and as many shuffle partitions, UTC, no UI.
  * ANSI mode is pinned rather than inherited from Spark's default, so
  * an integer overflow (the long integer-cents sums in CoreQueries)
  * raises ARITHMETIC_OVERFLOW instead of wrapping. Hadoop's `file:`
  * classes are [[LocalFs]]'s from the start, so every local write of the
  * session (query outputs, checkpoints) runs without a child process per
  * file; the FileSystem cache is left on, since its first `file:` entry
  * is built from this conf. */
object LocalSession {
  def apply(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "true")
    .config(Seq(LocalFs.fileSystemKey, LocalFs.contextKey)
      .map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap)
    .getOrCreate()
}
