package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.operators.ColumnOps

/** Silver transform (ref transform_alchemer_data.py:13-235): scrubbing,
  * type casts, likert scoring, categorical recodes, validity flag.
  *
  * Differences from the reference, by design:
  *  - The likert Python UDF becomes a native map-literal lookup
  *    (ref utils.py:159-181) — stays inside whole-stage codegen.
  *  - The ~40 stacked withColumn Projects collapse into a few selects.
  *  - Casts that the reference relies on returning null for junk input
  *    use try_cast (Spark 4 defaults to ANSI mode, which would throw).
  *  - Each recode applies only when its column exists, mirroring the
  *    reference's per-column try/except tolerance (transform_alchemer_data
  *    .py:28-33) uniformly, so the transform composes on partial schemas.
  */
object Silver {

  private val TimestampFmt = "MM/dd/yyyy h:mm:ss a"

  def transform(bronze: DataFrame, cfg: SurveyConfig): DataFrame = {
    val steps: Seq[DataFrame => DataFrame] = Seq(
      repairHeaderMojibake,
      scrubStringValues,
      nullPhraseScrub(_, cfg),
      nanScrub,
      timestamps,
      likertScores(_, cfg),
      recodes,
      validityFlag,
      dropConfigured(_, cfg))
    steps.foldLeft(bronze)((df, step) => step(df))
  }

  /** ref transform_alchemer_data.py:13-14 */
  private def repairHeaderMojibake(df: DataFrame): DataFrame =
    ColumnOps.normalizeHeaders(df)

  /** Mojibake repair across every string column in one projection
    * (ref transform_alchemer_data.py:20-23). Both patterns are literal,
    * so StringReplace/StringTranslate (plain UTF8String scans inside
    * whole-stage codegen) replace the reference's regex calls — same
    * result, no regex engine in the hot path. At 100 TB this scrub runs
    * on every string cell; it must cost like memcmp, not like a matcher. */
  private def scrubStringValues(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == StringType)
        translate(replace(col(f.name), lit("â€™"), lit("'")), "Ã", "i")
          .as(f.name)
      else col(f.name)
    }.toSeq: _*)

  /** Null-phrase scrubber over configured open-text columns
    * (ref transform_alchemer_data.py:28-33, utils.py:184-187). */
  private def nullPhraseScrub(df: DataFrame, cfg: SurveyConfig): DataFrame = {
    val present = cfg.openTextFields.filter(df.columns.contains)
    if (present.isEmpty) return df
    // ONE withColumns, not a per-column withColumn fold: every chained
    // withColumn re-analyzes the whole plan beneath it, and this
    // pipeline's construction cost was ~45% of etl_census_merge's wall
    // at gate scale (ConstructProbe, §5 driver). The scrubs are
    // independent per-column rewrites, so batching them is semantics-
    // preserving by construction.
    df.withColumns(present.map { c =>
      val normalized = trim(regexp_replace(lower(col(c)), "[^\\w\\s]", ""))
      c -> when(normalized.isin(cfg.nullPhrases: _*), lit(null))
        .otherwise(col(c))
    }.toMap)
  }

  /** Literal "nan" → null over every column in one projection
    * (ref transform_alchemer_data.py:38-39). */
  private def nanScrub(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == StringType)
        when(col(f.name) === "nan", lit(null)).otherwise(col(f.name)).as(f.name)
      else col(f.name)
    }.toSeq: _*)

  /** Timestamp casts + duration columns (ref transform_alchemer_data.py:44-56).
    *
    * CONTRACT (the deliberate divergence from the reference, SURVEY
    * §2.7/F14): the reference flips the session-wide
    * `spark.sql.legacy.timeParserPolicy=LEGACY`
    * (transform_alchemer_data.py:44), whose SimpleDateFormat parser is
    * LENIENT — out-of-range fields coerce by rollover ("02/30/2021"
    * parses as March 2nd). This stage uses `try_to_timestamp` instead:
    * identical results on every well-formed `MM/dd/yyyy h:mm:ss a`
    * value, but malformed or out-of-range input yields NULL (and a null
    * Time Difference) rather than a silently rolled-over timestamp or an
    * ANSI error. Null-on-malformed is the honest pipeline behavior — a
    * rolled-over date is a data bug hidden, not handled — and keeping
    * the conf session-default means no OTHER query's parsing semantics
    * change underneath it. Pinned by SurveyPipelineSpec ("timestamps:
    * lenient-parse corners"). */
  private def timestamps(df: DataFrame): DataFrame = {
    if (!df.columns.contains("Time Started") ||
      !df.columns.contains("Survey Date Submitted")) df
    else {
      // two batched projections instead of four chained withColumns
      // (§5 driver-side analysis cost — see nullPhraseScrub): stage 1
      // casts, stage 2 derives both difference columns from the casts
      val diff = unix_timestamp(col("Survey Date Submitted")) -
        unix_timestamp(col("Time Started"))
      df.withColumns(Map(
        "Time Started" ->
          expr(s"try_to_timestamp(`Time Started`, '$TimestampFmt')"),
        "Survey Date Submitted" ->
          expr(s"try_to_timestamp(`Survey Date Submitted`, '$TimestampFmt')")))
        .withColumns(Map(
          "Time Difference" -> diff,
          "Time Difference (Minutes)" -> round(diff / 60)))
    }
  }

  /** Likert scoring as a native map lookup (replaces the Python UDF,
    * ref utils.py:159-181, applied transform_alchemer_data.py:62-75):
    * unknown or null responses score 0, matching mapping.get(x, 0). */
  private def likertScores(df: DataFrame, cfg: SurveyConfig): DataFrame = {
    val present = cfg.likertColumns.filter(df.columns.contains)
    if (present.isEmpty) return df
    val mapLit = map(SurveyConfig.LikertMapping.toSeq
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val scored = df.withColumns(present.map { c =>
      c -> coalesce(element_at(mapLit, col(c)), lit(0))
    }.toMap)
    // per-domain means + grand mean in ONE batched projection (all read
    // only the stage-1 scores — §5 driver-side analysis cost, see
    // nullPhraseScrub; ref transform_alchemer_data.py:67-75)
    val domains = cfg.likertColumnsDict
      .filter { case (_, cols) => cols.forall(scored.columns.contains) }
      .map { case (scoreCol, cols) =>
        scoreCol -> round(cols.map(col).reduce(_ + _) / lit(cols.size), 2)
      }
    val grand =
      if (present.size == cfg.likertColumns.size)
        Seq("5DW Score: Everything" ->
          round(present.map(col).reduce(_ + _) / lit(present.size), 2))
      else Nil
    // ListMap appends the columns in the config's declaration order; a
    // Map past four entries is a HashMap, whose order is arbitrary
    val all = domains ++ grand
    if (all.isEmpty) scored
    else scored.withColumns(scala.collection.immutable.ListMap(all: _*))
  }

  /** Categorical recodes (ref transform_alchemer_data.py:80-196) as ONE
    * batched projection (§5 driver-side analysis cost, see
    * nullPhraseScrub). Every recode reads only PRE-recode columns — the
    * single cross-column reader, Race/Ethnicity, reads the original
    * "Hispanic or Latinx" value, which the sequential form also did
    * (the Race recode ran before the prefer-not batch recoded it) — so
    * batching preserves the chained semantics exactly. */
  private def recodes(df0: DataFrame): DataFrame = {
    val has = df0.columns.toSet
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    // Race/Ethnicity with Hispanic override (80-90)
    if (has("Race/Ethnicity") && has("Hispanic or Latinx"))
      out("Race/Ethnicity") =
        when(col("Hispanic or Latinx") === "Yes", "Hispanic or Latinx")
          .otherwise(
            when(col("Race/Ethnicity") === "Some other race (please write it in here)", "Other race")
              .when(col("Race/Ethnicity") === "I prefer not to answer this question", "Unknown")
              .when(col("Race/Ethnicity").isNull, "Unknown")
              .otherwise(col("Race/Ethnicity")))
    // Gender (95-104)
    if (has("Gender"))
      out("Gender") =
        when(col("Gender").isNull || col("Gender") === "Prefer not to say", "Unknown")
          .when(col("Gender") === "Write In", "Other")
          .otherwise(col("Gender"))
    // CM Name blank → Unknown (112-119)
    if (has("CM Name"))
      out("CM Name") =
        when(col("CM Name").isNull || trim(col("CM Name")) === "", "Unknown")
          .otherwise(col("CM Name"))
    // Current living situation (124-132)
    if (has("Current living situation"))
      out("Current living situation") =
        when(col("Current living situation").isNull ||
          trim(col("Current living situation")) === "" ||
          col("Current living situation") === "Prefer not to say", "Unknown")
          .otherwise(col("Current living situation"))
    // prefer-not-to-answer batch (137-148)
    val preferNot = Seq(
      "How many years lived in Kingston",
      "Why are you interested in this project?",
      "In a typical month, how difficult is it for your household to pay for usual household expenses?",
      "Hispanic or Latinx")
    preferNot.filter(has).foreach { c =>
      out(c) =
        when(col(c).isNull || trim(col(c)) === "" ||
          col(c) === "I prefer not to answer this question", "Unknown")
          .otherwise(col(c))
    }
    // zip truncation (153-162)
    if (has("IP Address - Zip Code"))
      out("IP Address - Zip Code") =
        when(col("IP Address - Zip Code").isNull ||
          expr("try_cast(substring(`IP Address - Zip Code`, 1, 5) AS int)") === 0,
          "Unknown")
          .otherwise(col("IP Address - Zip Code").substr(1, 5))
    // Age bands (167-178); the reference compares the raw (string) column
    // numerically — non-ANSI casts junk to null, here made explicit
    if (has("Age")) {
      val age = expr("try_cast(`Age` AS double)")
      out("Age") =
        when(age <= 0, "Unknown")
          .when(age < 10, "Less than 10 years old")
          .when(age < 18, "10 to 17 years old")
          .when(age < 30, "18 to 29 years old")
          .when(age < 45, "30 to 44 years old")
          .when(age < 60, "45 to 59 years old")
          .when(age < 75, "60 to 74 years old")
          .when(age < 120, "75 years and older")
          .otherwise("Unknown")
    }
    // Household Income collapse (183-196)
    if (has("Household Income"))
      out("Household Income") =
        when(col("Household Income").isNull ||
          col("Household Income") === "I prefer not to answer this question", "Unknown")
          .when(col("Household Income") === "Less than $20,000" ||
            col("Household Income") === "$20,000 to $49,999", "Less than $50,000")
          .otherwise(col("Household Income"))
    if (out.isEmpty) df0 else df0.withColumns(out.toMap)
  }

  /** Is_Invalid 7-branch precedence chain (ref transform_alchemer_data
    * .py:201-224). Branch ORDER is semantics: a null "Survey Completed?"
    * fails every equality/inequality branch null-safely and falls through.
    */
  private def validityFlag(df: DataFrame): DataFrame = {
    val needed = Seq("Alchemer Admin Comments", "Survey Completed?",
      "Survey Link Used", "IP Address - Country")
    if (!needed.forall(df.columns.contains)) return df
    df.withColumn("Is_Invalid",
      when(upper(col("Alchemer Admin Comments")) === "OK" ||
        upper(col("Alchemer Admin Comments")) === "VALID", "Valid")
        .when(col("Survey Completed?") === "Partial",
          "Survey status is partially completed")
        .when(col("Survey Completed?") === "Disqualified",
          "Disqualified in Alchemer")
        .when(col("Survey Completed?") =!= "Complete",
          concat(lit("Survey status is "), col("Survey Completed?")))
        .when(col("Survey Link Used") === "Test link" ||
          col("Survey Link Used") === "Test",
          "Survey was submitted via test link")
        .when(col("IP Address - Country") =!= "United States",
          "IP address outside USA")
        .otherwise("Valid"))
  }

  /** ref transform_alchemer_data.py:229-230 */
  private def dropConfigured(df: DataFrame, cfg: SurveyConfig): DataFrame =
    df.drop(cfg.colsToDelete :+ "Time Difference": _*)
}
