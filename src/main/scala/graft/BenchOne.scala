package graft

/** Targeted re-timer for bench triage: times the named queries (cold +
  * three steady passes) with exactly [[Bench]]'s measurement discipline
  * (noop-sink materialization, entry-query warmup, same session conf) so
  * a single suspicious number from a full run can be re-measured on a
  * quiet box in seconds instead of re-running the whole suite. Usage:
  *
  *   sbt -batch "runMain graft.BenchOne rag_retrieve rag_retrieve_indexed"
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_CPUS (default 32 — triage wants the bench box shape).
  * Output: one BENCHONE line per query; not part of the driver contract.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // per-run shuffle-write volume (r16): the instant plan-vs-host
    // discriminator — volume is deterministic across runs while time
    // carries the host multiplier, so a triage session reads shuf_mb
    // first and only then argues about seconds
    val tally = new Bench.ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    try { materialize(SparkEntry.entry(spark)) } catch { case _: Throwable => () }
    // args may repeat — "q control q control q" interleaves a suspect
    // with its control for a repeated-median measurement on one window
    args.foreach { q =>
      val fn = SparkEntry.query(q)
      def t(): Double = {
        val t0 = System.nanoTime()
        materialize(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val cold = t()
      val b0 = tally.drain()
      val s = Seq(t(), t(), t())
      val shufMb = (tally.drain() - b0).toDouble / 3e6 // per-steady-run MB
      // post-AQE join-strategy fingerprint (Bench.planFingerprint): a
      // triage re-time must distinguish "same plan, so contention" from
      // "a broadcast fell off" — times alone can't (the r10 lesson)
      val fp = Bench.planFingerprint(fn(spark, sfDir))
      println(f"BENCHONE $q%s cold=$cold%.3f steady_min=${s.min}%.3f " +
        s"steady=${s.map(x => f"$x%.3f").mkString("[", ",", "]")} " +
        f"shuf_mb=$shufMb%.3f plan=$fp")
    }
    spark.stop()
  }
}
