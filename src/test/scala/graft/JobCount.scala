package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches, for specs that pin "this read
  * runs no job" or "this read runs exactly one". */
object JobCount {

  /** Spark jobs `body` launches on this thread, counted by job group. A
    * flush job in a second group is awaited, so every earlier job-start
    * event has reached the listener when the count is read. */
  def jobsIn[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(s"$group-flush") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-flush"), "listener never saw the flush job")
      (out, seen.toArray.count(_ == group))
    } finally sc.removeSparkListener(l)
  }
}
