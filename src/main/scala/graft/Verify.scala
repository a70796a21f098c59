package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare, and
  * failures.json: one {query, exception, message} record per query that
  * threw (an empty list when none did). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated name prefixes (local iteration only;
    // the driver always calls with 2 args = full dump)
    val only = args.drop(2).headOption.map(_.split(",").toSeq)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Writes the selected queries' results, oracle_sql.json and
    * failures.json under `outDir`. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
                          only: Option[Seq[String]]): Unit = {
    def selected(name: String) = only.forall(_.exists(name.startsWith))
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries.filter(kv => selected(kv._1)).toSeq
    val failures = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(Map("query" -> name, "exception" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage)).asJava)
      }
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json.writeValueAsString(SparkEntry.oracleSql.filter(kv => selected(kv._1)).asJava))
    Files.writeString(Paths.get(s"$outDir/failures.json"), json.writeValueAsString(failures.asJava))
  }
}
