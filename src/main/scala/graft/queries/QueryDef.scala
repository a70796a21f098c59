package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query, declared once: its registry name, its Spark implementation
  * over (session, data dir), and the DuckDB SQL twin the oracle grades it
  * against. Each query pack exposes its queries as one `Seq[QueryDef]`;
  * [[graft.SparkEntry]] builds the registry from them. */
final case class QueryDef(name: String, run: QueryDef.Q, oracleSql: String)

object QueryDef {
  type Q = (SparkSession, String) => DataFrame

  /** Name-keyed registry over `defs`. A repeated name fails loudly: a
    * plain `Map ++` would let a later pack silently shadow an earlier
    * pack's query of the same name. */
  def registry(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }
}
