package graft.bench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** File and format helpers shared by the workloads. */
object Io {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def readLines(path: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq.filter(_.nonEmpty)

  /** A flat JSON object → its fields as strings. */
  def parseFlat(line: String): Map[String, String] =
    mapper.readValue(line, classOf[java.util.Map[String, Object]]).asScala
      .map { case (k, v) => k -> String.valueOf(v) }.toMap

  def readJson(path: String): Map[String, String] = parseFlat(Files.readString(Paths.get(path)))

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  /** Bytes of every file under `dir`. */
  def treeBytes(dir: String): Long = files(dir).map(Files.size).sum

  /** Parquet data files under `dir`. */
  def dataFiles(dir: String): Int = files(dir).count(_.getFileName.toString.endsWith(".parquet"))

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def secs(t: java.sql.Timestamp): Long = Math.floorDiv(t.getTime, 1000L)
  def cents(x: Double): Long = Math.round(x * 100)
}

/** Per-layer counters a traced run hands to run.py. */
object Layers {
  /** engine.tsv: one line of scheduler counters per op; result.json: the
    * planning and scan totals. */
  def write(a: Main.Args, res: Result, l: Listeners): Unit = {
    l.drain()
    val sb = new StringBuilder("op\tjobs\ttasks\trun_ms\tgc_ms\tshuffle_bytes\tspill_bytes\tsched_ms\n")
    l.engine.synchronized {
      l.engine.perOp.toSeq.sortBy(_._1).foreach { case (op, s) =>
        sb.append(s"$op\t${s.jobs}\t${s.tasks}\t${s.runMs}\t${s.gcMs}\t${s.shuffleBytes}\t" +
          s"${s.spillBytes}\t${s.schedMs}\n")
      }
    }
    Files.writeString(Paths.get(s"${a.out}/engine.tsv"), sb.toString)
    val p = l.plan
    p.synchronized {
      res.put("plan", Map("actions" -> p.actions, "plan_ms" -> p.planMs, "scans" -> p.scans,
        "scan_partitions" -> p.scanPartitions, "scan_files" -> p.scanFiles,
        "scan_rows" -> p.scanRows, "range_exchanges" -> p.rangeExchanges))
    }
  }
}
