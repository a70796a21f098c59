package graft

/** Plan-audit tool: prints the physical plan of the named queries.
  *
  * Usage: runMain graft.Explain <queryName> [more...]
  * Env:
  *   SPARK_GRAFT_EXPLAIN_MODE=formatted|simple   (default simple)
  *   SPARK_GRAFT_EXPLAIN_OUT=<dir>  write one <dir>/<query>.txt per query
  *                                  instead of stdout (plans/rN deliverable)
  *   SPARK_GRAFT_SF_DIR             data dir (default /root/testdata/sf0.01)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <queryName> [more...]")
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "simple") match {
      case "formatted" => org.apache.spark.sql.execution.FormattedMode
      case _           => org.apache.spark.sql.execution.SimpleMode
    }
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_OUT")
    outDir.foreach(p => new java.io.File(p).mkdirs())
    for (name <- args) {
      val plan = SparkEntry.query(name)(spark, d)
        .queryExecution.explainString(mode)
      outDir match {
        case Some(dir) =>
          val w = new java.io.PrintWriter(s"$dir/$name.txt")
          try w.println(plan) finally w.close()
          println(s"[explain] wrote $dir/$name.txt")
        case None =>
          println(s"===== $name =====")
          println(plan)
      }
    }
    spark.stop()
  }
}
