package graft.bench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `run.py` generates the inputs, launches one
  * JVM per run with
  *
  *   --workload serve|ingest|analytics --in DIR --out DIR --work DIR
  *   --cpus N --trace 0|1 --warm N --measure N
  *
  * and checks everything this process writes to --out:
  *   result.json      set-up times, peak RSS, per-phase wall time, counters
  *   ops.tsv          one line per op: phase, op id, kind, latency ns, answer
  *   results/         analytics only: each distinct query result, encoded
  *   oracle_sql.json  analytics only: the oracle SQL of the listed queries
  *   spans.tsv, engine.tsv, streams.tsv   traced runs only
  *
  * Counts, not wall-clock windows, bound warm-up and measurement, so every
  * run of a seed times the same operations. A traced run first repeats the
  * untraced measurement, then measures again with tracing on; the ratio of
  * the two throughputs is the tracing overhead. */
object Main {
  final case class Args(workload: String, in: String, out: String, work: String,
                        cpus: Int, trace: Boolean, warm: Int, measure: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("in"), need("out"), need("work"), need("cpus").toInt,
      need("trace") == "1", need("warm").toInt, need("measure").toInt)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"marketbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      // one micro-batch per ingest cycle: state eviction rides the next
      // data batch instead of an extra batch racing the next cycle
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.ui.enabled", "false")
      // loopback only: the run needs no resolvable host name or open port
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set (VmHWM) of this JVM in kB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    Files.createDirectories(Paths.get(a.work))
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val res = new Result
    res.put("session_s", sessionS)
    try {
      a.workload match {
        case "serve" => new Serve(spark, a, res).run()
        case "ingest" => new Ingest(spark, a, res).run()
        case "analytics" => new Analytics(spark, a, res).run()
        case w => sys.error(s"unknown workload $w")
      }
      res.put("peak_rss_kb", peakRssKb())
      res.writeOps(s"${a.out}/ops.tsv")
      if (a.trace) Trace.writeTsv(s"${a.out}/spans.tsv")
      Files.writeString(Paths.get(s"${a.out}/result.json"), res.json)
    } finally spark.stop()
  }
}

/** What one run reports back: scalar fields for result.json and the op log.
  * Ops may be recorded from several client threads. */
final class Result {
  private val fields = scala.collection.mutable.LinkedHashMap[String, Any]()
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def put(k: String, v: Any): Unit = synchronized { fields(k) = v }

  /** One op's outcome; `answer` is the summary run.py checks (no tabs). */
  def op(phase: String, id: Long, kind: String, latNs: Long, answer: String): Unit =
    ops.add(s"$phase\t$id\t$kind\t$latNs\t${answer.replace('\t', ' ').replace('\n', ' ')}")

  def writeOps(path: String): Unit = {
    val sb = new StringBuilder("phase\top\tkind\tlat_ns\tanswer\n")
    ops.forEach(l => sb.append(l).append('\n'))
    Files.writeString(Paths.get(path), sb.toString)
  }

  def json: String = synchronized { Result.render(fields.toMap) }
}

object Result {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
