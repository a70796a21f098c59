package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `parent` is 0 for an op's root span; `op` ties every
  * span of one benchmark operation together. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder around the benchmark's calls into each layer.
  * Off (a plain call-through) unless `enabled`; spans are written out once,
  * when the run ends. The current span id and op id travel to Spark as
  * thread-local properties, so the listeners can parent job spans and
  * charge task counters to the op that caused them. */
object Trace {
  @volatile var enabled = false
  val OpProp = "bench.op"
  val SpanProp = "bench.span"

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val currentOp = new ThreadLocal[Long] { override def initialValue() = -1L }

  /** Offset that maps epoch milliseconds (Spark event times) to nanoTime. */
  val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def record(s: Span): Unit = spans.add(s)
  def nextId(): Long = ids.incrementAndGet()
  def all: Seq[Span] = spans.asScala.toSeq

  /** Root span of one op; every span and Spark job inside it carries `op`. */
  def op[T](sc: SparkContext, opId: Long, name: String)(body: => T): T = {
    if (!enabled) return body
    currentOp.set(opId)
    sc.setLocalProperty(OpProp, opId.toString)
    try span(sc, name)(body)
    finally { sc.setLocalProperty(OpProp, null); currentOp.set(-1L) }
  }

  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId()
    val parents = stack.get()
    val t0 = System.nanoTime()
    stack.set(id :: parents)
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(parents)
      sc.setLocalProperty(SpanProp, parents.headOption.map(_.toString).orNull)
      record(Span(id, parents.headOption.getOrElse(0L), currentOp.get(), name, t0, t1))
    }
  }

  /** A span opened on a thread the benchmark does not own (a streaming
    * query's), under an explicit parent and op. */
  def child[T](sc: SparkContext, parent: Long, opId: Long, name: String)(body: => T): T = {
    val id = nextId()
    val saved = (sc.getLocalProperty(OpProp), sc.getLocalProperty(SpanProp))
    sc.setLocalProperty(OpProp, opId.toString)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      record(Span(id, parent, opId, name, t0, System.nanoTime()))
      sc.setLocalProperty(OpProp, saved._1)
      sc.setLocalProperty(SpanProp, saved._2)
    }
  }

  def writeTsv(path: String): Unit = {
    val sb = new StringBuilder("id\tparent\top\tname\tstart_ns\tend_ns\n")
    all.sortBy(_.id).foreach(s =>
      sb.append(s"${s.id}\t${s.parent}\t${s.op}\t${s.name}\t${s.startNs}\t${s.endNs}\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Engine counters per op, from the scheduler's own events. Streaming jobs
  * run on the query's thread, so they are charged through `batchOp`
  * (micro-batch id → op) and parented to that op's root span. */
final class EngineListener(batchOp: Long => Option[(Long, Long)]) extends SparkListener {
  final class OpStats {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var schedMs = 0L
  }
  val perOp = mutable.Map[Long, OpStats]()
  val jobsPerBatch = mutable.Map[(String, Long), Long]()
  private val stageOp = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, (Long, Long, Long)]() // job -> (op, parent, startMs)

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = prop(e.properties, "streaming.sql.batchId").map(_.toLong)
    val query = prop(e.properties, "sql.streaming.queryId")
    for (b <- batch; q <- query) jobsPerBatch((q, b)) = jobsPerBatch.getOrElse((q, b), 0L) + 1
    val opAndParent: Option[(Long, Long)] =
      prop(e.properties, Trace.OpProp).map(o =>
        (o.toLong, prop(e.properties, Trace.SpanProp).map(_.toLong).getOrElse(0L)))
        .orElse(batch.flatMap(batchOp))
    opAndParent.foreach { case (op, parent) =>
      val st = perOp.getOrElseUpdate(op, new OpStats)
      st.jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
      jobStart(e.jobId) = (op, parent, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, parent, t0) =>
      Trace.record(Span(Trace.nextId(), parent, op, "engine.job",
        t0 * 1000000L + Trace.epochToNano, e.time * 1000000L + Trace.epochToNano))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val st = perOp.getOrElseUpdate(op, new OpStats)
      val m = e.taskMetrics
      st.tasks += 1
      if (m != null) {
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      }
    }
  }
}

/** Planning time from each action's QueryPlanningTracker, the scan
  * counters (partitions, files, rows) of the plans that actually ran, and
  * their range-partitioned exchanges (each runs a sampling job first). */
final class PlanListener extends QueryExecutionListener
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  var actions = 0L
  var planMs = 0L
  var scanPartitions = 0L
  var scanFiles = 0L
  var scanRows = 0L
  var scans = 0L
  var rangeExchanges = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    actions += 1
    planMs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    foreach(qe.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        scans += 1
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        scanFiles += m("numFiles")
        scanPartitions += m("numPartitions")
        scanRows += m("numOutputRows")
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] =>
        rangeExchanges += 1
      case _ =>
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-micro-batch progress reports (the Structured Streaming paper's
  * observability surface), kept by query name. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The listeners of one traced run, registered together. */
final class Listeners(spark: SparkSession, batchOp: Long => Option[(Long, Long)]) {
  val engine = new EngineListener(batchOp)
  val plan = new PlanListener
  val streams = new ProgressListener
  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(plan)
  spark.streams.addListener(streams)

  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)

  def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(plan)
    spark.streams.removeListener(streams)
  }
}
