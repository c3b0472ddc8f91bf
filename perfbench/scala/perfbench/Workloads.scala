package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.etl.{Bronze, CensusMerge, Export, Gold, Silver, SurveyConfig, SurveyFixture}
import graft.queries.Tables
import graft.sources.TableSink

/** One step of a pass: `build` returns the step's DataFrame (the query
  * closure or the etl call), `sink` consumes its full result. `check`
  * names the oracle query the step's output is compared against. Without
  * a `checkFrame` the sink's own output, as the last warm pass left it,
  * is compared; with one, that frame is written by the untimed check
  * pass. */
final case class Step(
    name: String,
    build: () => DataFrame,
    sink: DataFrame => Unit,
    check: Option[String] = None,
    checkFrame: Option[() => DataFrame] = None)

object Workloads {

  /** One pass of the driver-floor queries, the dedup and similarity
    * operators with their codegen kernels, and a micro-batch stream. */
  val QueryMix: Seq[String] = Seq(
    "f24_string_battery", "w2_row_number",
    "dd_minhash_neardup", "sim_topk_ivf_trained", "st_window_counts")

  /** The table the set-up's first scan reads. */
  def firstTable(workload: String): String = workload match {
    case "survey_medallion" => "orders"
    case "query_mix"        => "lineitem"
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def checkDir(work: String): String = s"$work/check"

  /** A query's result is consumed by writing it, in order, where the
    * oracle compare reads it; every query step is checked. */
  private def queryStep(s: SparkSession, input: String, work: String)(name: String): Step = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query: $name"))
    require(SparkEntry.oracleSql.contains(name), s"query $name has no oracle")
    Step(name, () => fn(s, input),
      _.write.mode("overwrite").parquet(s"${checkDir(work)}/$name"), Some(name))
  }

  /** A sink whose failure is swallowed by design (TableSink prints and
    * returns false) must still count as a failed step here. */
  private def table(name: String)(df: DataFrame): Unit =
    if (!TableSink.writeTableEscaped(df, name))
      throw new IllegalStateException(s"TableSink write of $name failed")

  /** The reference's five-task job: extract -> transform -> roll_up ->
    * merge_census -> write_to_volume, each task materializing its output
    * as the reference does (tables, then single-file JSON + CSV). */
  private def survey(s: SparkSession, input: String, work: String): Seq[Step] = {
    val cfg = SurveyConfig.kingston
    val exportDir = s"$work/volume"
    def restored(t: String) = TableSink.readTableRestored(s, t)
    // merge_census keeps its own row order, which a table read-back does
    // not, so its check re-runs the merge over the stored tables
    def census() = CensusMerge.merge(
      SurveyFixture.censusFromFixtures(Tables.nation(s, input)),
      restored("gold_kingston_rollup"), restored("silver_responses"), cfg)
    Seq(
      Step("extract", () => {
        // the generated responses arrive as one online extract; the
        // offline extract of this survey is empty
        val online = SurveyFixture.fromOrders(Tables.orders(s, input))
        Bronze.ingest(online, online.limit(0), cfg)
      }, table("bronze_responses")),
      Step("transform", () => Silver.transform(restored("bronze_responses"), cfg),
        table("silver_responses"), Some("etl_silver_flags"),
        Some(() => restored("silver_responses").select(
          col("Response ID").as("resp_id"), col("Is_Invalid").as("is_invalid"),
          col("Gender").as("gender"), col("Age").as("age"),
          col("Race/Ethnicity").as("race"), col("Household Income").as("income"),
          col("Survey Language").as("language"), col("CM Name").as("cm"))
          .orderBy("resp_id"))),
      Step("roll_up", () => {
        val (valid, _) = Gold.validSplit(restored("silver_responses"))
        Gold.rollup(valid, cfg)
      }, table("gold_kingston_rollup"), Some("etl_rollup"),
        Some(() => restored("gold_kingston_rollup").select(
          col("Demographic").as("demographic"), col("Category").as("category"),
          col("# of Survey Responses").as("n_responses"),
          col("% of Survey Responses").as("pct_responses"),
          col("Total Responses").as("total_responses"))
          .orderBy("demographic", "category"))),
      Step("merge_census", census,
        table("gold_kingston_census"), Some("etl_census_merge"),
        Some(() => census().select(
          col("Demographic").as("demographic"), col("Category").as("category"),
          col("# of Survey Responses").as("n_responses"),
          col("% of Population (Census)").as("census_pct"),
          col("% of Survey Responses").as("survey_pct"),
          col("% Difference").as("pct_diff"),
          col("Representation Status").as("rep_status"),
          col("Additional Responses Needed").as("additional_needed"),
          col("Total Responses").as("total_responses"),
          col("Data Last Updated").as("last_updated")))),
      Step("write_to_volume", () => null, _ => {
        val exported = Export.exportAll(s, "kingston", exportDir)
        if (exported.size != 2)
          throw new IllegalStateException(s"exported ${exported.size} gold tables, expected 2")
      }))
  }

  def steps(workload: String, s: SparkSession, input: String, work: String): Seq[Step] =
    workload match {
      case "survey_medallion"  => survey(s, input, work)
      case "query_mix"         => QueryMix.map(queryStep(s, input, work))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
}
