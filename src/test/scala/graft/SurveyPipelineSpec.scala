package graft

import graft.etl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

class SurveyPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SurveyConfig.kingston.copy(
    openTextFields = Seq("Comments"),
    colsToDelete = Seq("Scratch"))

  private def surveyRow(
      id: String, completed: String = "Complete", admin: String = null,
      link: String = "Live link", country: String = "United States",
      gender: String = "Male", age: String = "35", hispanic: String = "No",
      race: String = "White", income: String = "$50,000 to $99,999",
      language: String = "English", cm: String = "CM A",
      comments: String = null, safety: String = "No change") =
    (id, completed, admin, link, country, gender, age, hispanic, race,
      income, language, cm, comments, safety)

  private def toDf(rows: Seq[(String, String, String, String, String, String,
      String, String, String, String, String, String, String, String)]) =
    rows.toDF("Response ID", "Survey Completed?", "Alchemer Admin Comments",
      "Survey Link Used", "IP Address - Country", "Gender", "Age",
      "Hispanic or Latinx", "Race/Ethnicity", "Household Income",
      "Survey Language", "CM Name", "Comments", "Safety: Impact my safety")

  private def silverOf(rows: Seq[(String, String, String, String, String,
      String, String, String, String, String, String, String, String, String)]) =
    Silver.transform(toDf(rows), cfg)

  private def flag(rows: (String, String, String, String, String, String,
      String, String, String, String, String, String, String, String)*): Seq[(String, String)] =
    silverOf(rows).select("Response ID", "Is_Invalid").as[(String, String)]
      .collect().toSeq.sortBy(_._1)

  test("Is_Invalid precedence: admin override beats Partial; branch order holds") {
    val flags = flag(
      surveyRow("1", completed = "Partial", admin = "ok"), // override wins
      surveyRow("2", completed = "Partial"),
      surveyRow("3", completed = "Disqualified"),
      surveyRow("4", completed = "Abandoned"),
      surveyRow("5", link = "Test link"),
      surveyRow("6", country = "Canada"),
      surveyRow("7"))
    assert(flags == Seq(
      "1" -> "Valid",
      "2" -> "Survey status is partially completed",
      "3" -> "Disqualified in Alchemer",
      "4" -> "Survey status is Abandoned",
      "5" -> "Survey was submitted via test link",
      "6" -> "IP address outside USA",
      "7" -> "Valid"))
  }

  test("null Survey Completed? falls through to later branches null-safely") {
    val flags = flag(surveyRow("1", completed = null, country = "Mexico"))
    assert(flags == Seq("1" -> "IP address outside USA"))
  }

  test("age bands cover boundaries; junk and out-of-range become Unknown") {
    val in = Seq("-1", "0", "1", "9", "10", "17", "18", "29", "30", "44",
      "45", "59", "60", "74", "75", "119", "120", "abc", null)
    val df = silverOf(in.zipWithIndex.map { case (a, i) =>
      surveyRow(s"r$i", age = a)
    })
    val out = df.select("Response ID", "Age").as[(String, String)].collect()
      .toMap
    assert(out("r0") == "Unknown" && out("r1") == "Unknown")
    assert(out("r2") == "Less than 10 years old")
    assert(out("r3") == "Less than 10 years old")
    assert(out("r4") == "10 to 17 years old" && out("r5") == "10 to 17 years old")
    assert(out("r6") == "18 to 29 years old" && out("r7") == "18 to 29 years old")
    assert(out("r8") == "30 to 44 years old" && out("r9") == "30 to 44 years old")
    assert(out("r10") == "45 to 59 years old" && out("r11") == "45 to 59 years old")
    assert(out("r12") == "60 to 74 years old" && out("r13") == "60 to 74 years old")
    assert(out("r14") == "75 years and older" && out("r15") == "75 years and older")
    assert(out("r16") == "Unknown") // 120 overflows the last band
    assert(out("r17") == "Unknown") // junk casts to null
    assert(out("r18") == "Unknown") // null age
  }

  test("likert scoring: vocabulary maps, unknown and null default to 0") {
    val df = silverOf(Seq(
      surveyRow("1", safety = "A lot better"),
      surveyRow("2", safety = "A little worse"),
      surveyRow("3", safety = "Not on the scale"),
      surveyRow("4", safety = null)))
    val out = df.select(col("Response ID"), col("Safety: Impact my safety"))
      .as[(String, Int)].collect().toMap
    assert(out == Map("1" -> 2, "2" -> -1, "3" -> 0, "4" -> 0))
    // single-column domain mean equals the score itself
    val score = df.select(col("Response ID"), col("5DW Score: Safety"))
      .as[(String, Double)].collect().toMap
    assert(score("1") == 2.0)
  }

  test("null-phrase scrub nulls configured phrases but NOT bare 'not really' (typo preserved)") {
    val df = silverOf(Seq(
      surveyRow("1", comments = "No thanks!"), // punct stripped then matched
      surveyRow("2", comments = "not really"), // NOT in list due to concat typo
      surveyRow("3", comments = "nada mas que agregarnot really"),
      surveyRow("4", comments = "substantive answer")))
    val out = df.select(col("Response ID"), col("Comments"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("1") == null)
    assert(out("2") == "not really")
    assert(out("3") == null)
    assert(out("4") == "substantive answer")
  }

  test("LEGACY-only timestamp formats parse to null — strict-but-safe, pinned") {
    // The reference sets spark.sql.legacy.timeParserPolicy=LEGACY
    // (ref transform_alchemer_data.py:44-50), so SimpleDateFormat leniency
    // accepts one-digit month/day ("2/1/2026 …") and even ROLLS impossible
    // dates ("13/45/2026" → 1/14/2027). This engine keeps Spark's strict
    // parser behind try_to_timestamp: well-formed input parses, LEGACY-only
    // input becomes NULL — never an ANSI error, never a silently rolled
    // date. That divergence is deliberate (a rolled date is a data bug
    // masked; a null is visible downstream) and pinned by this test.
    val df = Seq(
      ("1", "02/01/2026 4:30:00 PM", "02/01/2026 5:00:00 PM"), // strict-ok
      ("2", "2/1/2026 4:30:00 PM", "2/1/2026 5:00:00 PM"),     // LEGACY-only
      ("3", "13/45/2026 4:30:00 PM", "13/45/2026 5:00:00 PM")  // LEGACY rolls
    ).toDF("Response ID", "Time Started", "Survey Date Submitted")
    val out = Silver.transform(df, cfg)
      .select("Response ID", "Time Started", "Survey Date Submitted",
        "Time Difference (Minutes)")
      .collect().sortBy(_.getString(0))
    assert(!out(0).isNullAt(1) && !out(0).isNullAt(2))
    assert(out(0).getDouble(3) == 30.0)
    for (i <- Seq(1, 2); c <- Seq(1, 2, 3))
      assert(out(i).isNullAt(c), s"row ${i + 1} col $c should be null")
  }

  test("configured columns are dropped; Time Difference never survives") {
    val df = silverOf(Seq(surveyRow("1"))).columns
    assert(!df.contains("Scratch") && !df.contains("Time Difference"))
  }

  test("timestamps: lenient-parse corners — the documented try_to_timestamp " +
    "contract (malformed/out-of-range -> null, never LEGACY rollover)") {
    val ts = Seq(
      // well-formed 12-hour AM/PM: parses, 30.5 min difference
      ("1", "01/15/2021 1:05:00 PM", "01/15/2021 1:35:30 PM"),
      // out-of-range day: LEGACY's SimpleDateFormat would roll 02/30 to
      // Mar 2 and produce a difference of 0; the contract yields NULL
      ("2", "02/30/2021 1:05:00 PM", "03/02/2021 1:05:00 PM"),
      // outright garbage: NULL, not an ANSI error
      ("3", "not a timestamp", "01/15/2021 2:00:00 PM"),
      ("4", null, null)
    ).toDF("Response ID", "Time Started", "Survey Date Submitted")
    val out = Silver.transform(
      toDf(Seq(surveyRow("1"), surveyRow("2"), surveyRow("3"), surveyRow("4")))
        .join(ts, "Response ID"), cfg)
    assert(out.schema("Time Started").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val rows = out.select(col("Response ID"),
        date_format(col("Time Started"), "yyyy-MM-dd HH:mm:ss").as("st"),
        col("Time Difference (Minutes)").cast("string").as("mins"))
      .as[(String, String, String)].collect().sortBy(_._1)
    assert(rows(0) == ("1", "2021-01-15 13:05:00", "31.0")) // round(30.5)
    assert(rows(1)._2 == null && rows(1)._3 == null,
      "out-of-range date must be null, not rolled over")
    assert(rows(2)._2 == null && rows(2)._3 == null)
    assert(rows(3)._2 == null && rows(3)._3 == null)
  }

  test("bronze ingest: offline ids prefixed, union-by-common-columns") {
    val online = Seq(("1", "Male", "x")).toDF("Response ID", "Gender", "OnlineOnly")
    val offline = Seq(("7", "Female")).toDF("Response ID", "Gender")
    val bronze = Bronze.ingest(online, offline, cfg.copy(colsToRename = Map.empty))
    val rows = bronze.orderBy("Response ID").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("Response ID") == "1")
    assert(rows(1).getAs[String]("Response ID") == "Offline #7")
    assert(rows(1).getAs[String]("OnlineOnly") == null)
  }

  test("rollup: Unknown excluded from totals, % formatted, blank total for Unknown") {
    val df = silverOf(Seq(
      surveyRow("1", gender = "Male"),
      surveyRow("2", gender = "Male"),
      surveyRow("3", gender = "Female"),
      surveyRow("4", gender = "Prefer not to say"))) // → Unknown
    val (valid, _) = Gold.validSplit(df)
    val roll = Gold.processDemographic(valid, "Gender", "Gender")
    val byCat = roll.collect().map(r =>
      r.getAs[String]("Category") -> r).toMap
    assert(byCat("Male").getAs[Long]("# of Survey Responses") == 2L)
    assert(byCat("Male").getAs[String]("Total Responses") == "3")
    assert(byCat("Male").getAs[String]("% of Survey Responses") == "66.67%")
    assert(byCat("Unknown").getAs[String]("Total Responses") == "")
    assert(byCat("Unknown").getAs[String]("% of Survey Responses") == "33.33%")
  }

  test("silver composes on partial schemas: absent columns skip their recodes") {
    // only three survey columns present — every other recode/validity step
    // must no-op instead of failing on missing columns (the reference's
    // per-column try/except tolerance, Silver.whenPresent)
    val partial = Seq(("1", "17", "Prefer not to say"))
      .toDF("Response ID", "Age", "Gender")
    val out = Silver.transform(partial, SurveyConfig.kingston)
    val r = out.select("Age", "Gender").collect().head
    assert(r.getString(0) === "10 to 17 years old")
    assert(r.getString(1) === "Unknown")
    assert(!out.columns.contains("Is_Invalid")) // validity inputs absent
  }

  test("5DW score columns append in the config's declaration order") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val kingston = SurveyConfig.kingston
    val likert = kingston.likertColumns
    val row = spark.createDataFrame(
      java.util.List.of(Row.fromSeq("1" +: likert.map(_ => "A little better"))),
      StructType(("Response ID" +: likert).map(StructField(_, StringType))))
    val out = Silver.transform(row, kingston)
    val expected = kingston.likertColumnsDict.map(_._1) :+ "5DW Score: Everything"
    assert(out.columns.filter(_.startsWith("5DW Score: ")).toSeq == expected)
    assert(out.select(expected.map(col): _*).head().toSeq.forall(_ == 1.0))
  }

  test("export discovers and writes city tables as single json+csv files") {
    val dir = java.nio.file.Files.createTempDirectory("gold").toString
    Seq(("Gender", "Male", 2L)).toDF("Demographic", "Category", "n")
      .createOrReplaceTempView("gold_kingston_representation_check")
    val written = Export.exportAll(spark, "kingston", dir)
    assert(written.contains("gold_kingston_representation_check"))
    assert(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(
      dir, "gold_kingston_representation_check.json")))
    assert(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(
      dir, "gold_kingston_representation_check.csv")))
  }
}
