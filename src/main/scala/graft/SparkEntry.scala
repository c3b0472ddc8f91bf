package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full survey slice — fixture derivation → Silver transform
    * (scrubs, likert scoring, recodes, Is_Invalid) → valid split →
    * 6-demographic representation rollup (SURVEY.md §7 "minimum
    * end-to-end slice"). */
  def entry(spark: SparkSession): DataFrame = {
    import graft.etl._
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val silver = Silver.transform(
      SurveyFixture.fromOrders(orders), SurveyConfig.kingston)
    val (valid, _) = Gold.validSplit(silver)
    Gold.rollup(valid, SurveyConfig.kingston)
  }
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++ graft.queries.Functions.queries ++
      graft.queries.Sinks.queries ++ graft.queries.LlmOps.queries ++
      graft.queries.EtlQueries.queries ++ graft.queries.Analytics.queries ++
      graft.queries.TimeSeriesQueries.queries ++ graft.queries.Extended.queries ++
      graft.queries.CurationOps.queries ++ graft.queries.StreamingQueries.queries
  /** The queries whose names the regex `filter` finds (`findFirstIn`, so
    * anchor it to pick exact names), or all of them, sorted by name:
    * `queries` is a hash map, and iterating it unordered let *which*
    * query inherits a contaminated session vary between JVMs (r7/r9).
    * Throws when nothing matches, so a mistyped filter cannot pass as
    * an empty run. */
  def select(filter: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val re = filter.map(_.r)
    val picked = queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => re.forall(_.findFirstIn(name).isDefined) }
    require(picked.nonEmpty, s"query filter matched nothing: ${filter.getOrElse("")}")
    picked
  }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracleSql ++ graft.queries.Functions.oracleSql ++
      graft.queries.Sinks.oracleSql ++ graft.queries.LlmOps.oracleSql ++
      graft.queries.EtlQueries.oracleSql ++ graft.queries.Analytics.oracleSql ++
      graft.queries.TimeSeriesQueries.oracleSql ++ graft.queries.Extended.oracleSql ++
      graft.queries.CurationOps.oracleSql ++ graft.queries.StreamingQueries.oracleSql
}
