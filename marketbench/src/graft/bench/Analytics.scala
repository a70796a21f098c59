package graft.bench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.SparkEntry

/** analytics: one client runs a fixed list of SparkEntry.queries over the
  * generated tables, `warm` warm-up passes then `measure` timed passes. Every
  * result is collected and encoded exactly (doubles as their round-trip
  * decimal strings); each distinct encoding is written out once, and
  * run.py compares it with the DuckDB oracle's result for the same SQL. */
final class Analytics(spark: SparkSession, a: Main.Args, res: Result) {
  private val sc = spark.sparkContext
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def run(): Unit = {
    val names = Io.readLines(s"${a.in}/queries.txt").map(_.trim)
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
    // set-up: resolve every table (listing + footer schema), three times
    val dir = a.in
    val reps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
      (System.nanoTime() - t0) / 1e9
    }
    res.put("setup_reps_s", reps)
    res.put("input_rows", tables.map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum)
    val oracle = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, sys.error(s"no oracle SQL for $n")))
    Files.writeString(Paths.get(s"${a.out}/oracle_sql.json"), Result.render(oracle.toMap))
    Files.createDirectories(Paths.get(s"${a.out}/results"))

    val written = scala.collection.mutable.Set[String]()
    def pass(phase: String, p: Int): Unit = names.zipWithIndex.foreach { case (n, qi) =>
      val id = p * 1000L + qi
      val t0 = System.nanoTime()
      val out: Either[String, (Array[Row], StructType)] =
        try Right(Trace.op(sc, id, "analytics.query")(Trace.span(sc, s"queries.$n") {
          val df = SparkEntry.queries(n)(spark, dir)
          (df.collect(), df.schema)
        }))
        catch { case e: Throwable => Left(s"ERROR ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val lat = System.nanoTime() - t0
      val ans = out.fold(identity, { case (rows, schema) =>
        val body = rows.map(r => encode(r, schema)).mkString("\n")
        val d = digest(body)
        if (written.add(s"$n-$d")) {
          val header = Result.render(schema.fields.map(_.name).toSeq)
          Files.writeString(Paths.get(s"${a.out}/results/$n-$d.jsonl"), header + "\n" + body)
        }
        d
      })
      res.op(phase, id, n, lat, ans)
    }
    (0 until a.warm).foreach(p => pass("warm", p))
    def phase(name: String, from: Int): Unit = {
      val t0 = System.nanoTime()
      (from until from + a.measure).foreach(p => pass(name, p))
      res.put(s"${name}_wall_s", (System.nanoTime() - t0) / 1e9)
      res.put(s"${name}_units", a.measure * names.size)
    }
    // the engine's own disk writes here are shuffle files and spills
    val disk = new DiskWriteListener
    sc.addSparkListener(disk)
    phase("plain", a.warm)
    org.apache.spark.BenchAccess.drainListeners(sc)
    sc.removeSparkListener(disk)
    res.put("disk_bytes_per_pass", disk.bytes.get.toDouble / a.measure)
    if (a.trace) {
      val l = new Listeners(spark, _ => None)
      Trace.enabled = true
      phase("traced", a.warm + a.measure)
      Trace.enabled = false
      Layers.write(a, res, l)
      l.remove()
      phase("plain2", a.warm + 2 * a.measure)
    }
  }

  private final class DiskWriteListener extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m =>
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.diskBytesSpilled))
  }

  private def digest(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** One row as a JSON array with exact, typed encodings: S: strings, D:/F:
    * round-trip floating strings, N: decimals, T: epoch micros, DT: epoch days. */
  private def encode(r: Row, schema: StructType): String =
    schema.fields.indices.map(i => enc(r.get(i), schema.fields(i).dataType)).mkString("[", ",", "]")

  private def enc(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "null"
    case (d: Double, _) => Result.quote("D:" + java.lang.Double.toString(d))
    case (f: Float, _) => Result.quote("F:" + java.lang.Float.toString(f))
    case (d: java.math.BigDecimal, _) => Result.quote("N:" + d.toPlainString)
    case (d: scala.math.BigDecimal, _) => Result.quote("N:" + d.bigDecimal.toPlainString)
    case (ts: java.sql.Timestamp, _) =>
      Result.quote("T:" + (Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000))
    case (ts: java.time.LocalDateTime, _) =>
      val i = ts.toInstant(java.time.ZoneOffset.UTC)
      Result.quote("T:" + (i.getEpochSecond * 1000000L + i.getNano / 1000))
    case (ts: java.time.Instant, _) => Result.quote("T:" + (ts.getEpochSecond * 1000000L + ts.getNano / 1000))
    case (d: java.sql.Date, _) => Result.quote("DT:" + d.toLocalDate.toEpochDay)
    case (d: java.time.LocalDate, _) => Result.quote("DT:" + d.toEpochDay)
    case (s: String, _) => Result.quote("S:" + s)
    case (b: Boolean, _) => b.toString
    case (n: Byte, _) => n.toString
    case (n: Short, _) => n.toString
    case (n: Int, _) => n.toString
    case (n: Long, _) => n.toString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(enc(_, et)).mkString("[", ",", "]")
    case (r: Row, st: StructType) => encode(r, st)
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => "[" + enc(k, kt) + "," + enc(x, vt) + "]" }.sorted.mkString("[", ",", "]")
    case (b: Array[Byte], _) => Result.quote("B:" + b.map("%02x".format(_)).mkString)
    case (x, _) => Result.quote("?:" + x.toString)
  }
}
