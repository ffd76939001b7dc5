package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Both maps derive from the one catalog, [[Queries.catalog]].
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_groupby_stats")(spark, "/root/testdata/sf0.001")

  private val builders = Queries.catalog.map(q => q.name -> q.build).toMap
  private val oracles = Queries.catalog.collect {
    case Query(name, _, Oracle.Sql(text)) => name -> text
  }.toMap

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = builders

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracles
}
