package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * W1 latest-per-key — the reference's core read shape
    * (api/main.py:248-320) as a single-shuffle max(struct) aggregation. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.w1LatestEventPerUser(spark, "/root/testdata/sf0.001")
  /** Every query, declared once per pack; a repeated name fails here. */
  private lazy val registry: Map[String, QueryDef] = QueryDef.registry(
    CoreQueries.queries ++ InventoryQueries.queries ++ InventoryQueries2.queries ++
      SteamQueries.queries ++ WireQueries.queries ++ TrainingQueries.queries ++
      SimilarityQueries.queries ++ TextQueries.queries ++ MultimodalQueries.queries ++
      SequenceQueries.queries ++ SearchQueries.queries ++ GraphQueries.queries ++
      DataQualityQueries.queries ++ TimeSeriesQueries.queries ++ JourneyQueries.queries)
  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, d) => n -> d.run }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, d) => n -> d.oracleSql }
  /** `queries(name)`, failing loudly on an unknown name. */
  def query(name: String): (SparkSession, String) => DataFrame =
    queries.getOrElse(name,
      sys.error(s"unknown query '$name' — not in SparkEntry.queries"))
}
