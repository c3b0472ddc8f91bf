package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.Artifacts
import graft.etl.{Bronze, Export, Gold, Silver, SurveyConfig, SurveyFixture}
import graft.sources.TableSink

/** End-to-end survey-pipeline queries (SURVEY.md §2.10): the synthetic
  * survey frame (SurveyFixture) flows through the real Silver transform and
  * Gold rollup, and the DuckDB oracle replays the identical semantics in
  * SQL — recode chains, Is_Invalid precedence, windowed totals, %.2f%%
  * formatting. Output columns are aliased snake_case so parquet/oracle
  * column naming stays friction-free.
  */
object EtlQueries {
  import Tables._

  /** The silver chain is expression-heavy (~10 µs/row of recodes, scrubs,
    * timestamp parses). The local fixtures are single-row-group parquet —
    * one scan split — so without an explicit exchange the whole chain runs
    * on one core. Repartitioning the RAW orders rows (cheap, narrow) before
    * the chain spreads the per-row work across the machine; on a real
    * cluster with many input splits the exchange is a no-op cost-wise
    * relative to the work it balances. */
  private def silver(s: SparkSession, d: String): DataFrame =
    Silver.transform(
      SurveyFixture.fromOrders(
        orders(s, d).repartition(s.sparkContext.defaultParallelism)
          // pushdown BARRIER (always-true, nondeterministic): without it
          // PushDownPredicates moves the Is_Invalid validity filter of
          // validSplit through the round-robin exchange into the scan
          // stage — and the local fixture scan is ONE split, so the
          // whole validity CASE chain ran on one core (profiled 0.5 s
          // single-task job under etl_rollup/etl_census_merge). A
          // deterministic filter cannot be reordered below a
          // nondeterministic one, so the validity filter stays above
          // the exchange and evaluates at full width; the barrier
          // itself is one long-compare per row. On a many-split cluster
          // scan this is cost-neutral: the filter is equally parallel
          // on either side of the exchange.
          .filter(monotonically_increasing_id() >= 0)),
      SurveyConfig.kingston)

  /** The gold stages only read the 6 demographics + validity flag + submit
    * date. Deliberately NOT persisted: caching this projection would
    * materialize all 8 columns eagerly and put an InMemoryRelation pruning
    * barrier under every consumer, while the unpersisted plan lets Catalyst
    * prune each consumer down to exactly the silver expressions it needs
    * (the rollup reads the 6 demographics + flag; the max-date stamp reads
    * one timestamp column). Measured at sf0.1 the pruned recompute beats
    * the cache — and at 100 TB a cache of the full projection would spill
    * where the pruned scans stream. */
  private def goldBase(s: SparkSession, d: String): DataFrame =
    silver(s, d).select(
      (SurveyConfig.kingston.demographics.map(_._1) ++
        Seq("Is_Invalid", "Survey Date Submitted")).map(col): _*)

  /** Checked-in survey CSV fixtures (FIXTURES.md §B). The bronze stage is
    * driven by files, not the sf parquet dir; resolving from the process
    * working directory (with an env override) keeps both the Spark read
    * and the DuckDB oracle — built in the same process — portable across
    * checkouts. */
  private val FixtureDir = sys.env.getOrElse("SPARK_GRAFT_FIXTURES",
    s"${sys.props("user.dir")}/src/test/resources/fixtures")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bronze ingest (ref extract_alchemer_data.py:8-58): union-by-name of
    // the online/offline CSV extracts with "Offline #" id prefixing and
    // the validated Q5: Gender -> Gender rename. all-string read so the
    // DuckDB oracle (read_csv all_varchar) sees identical types.
    "etl_bronze" -> ((s, _) => {
      def read(name: String) =
        s.read.option("header", "true").csv(s"$FixtureDir/$name")
      // config fetched at STAGE start, never memoized across stages
      // (ref utils.py:43-46 re-reads its spreadsheets per task;
      // ConfigSourceSpec pins that a mid-pipeline edit is observed)
      graft.etl.ConfigSource.stage(s, FixtureDir)(cfg =>
        Bronze.ingest(read("survey_online.csv"), read("survey_offline.csv"), cfg))
        .select(
          col("Response ID").as("resp_id"),
          col("Time Started").as("time_started"), // online-only: null-padded
          col("Survey Completed?").as("completed"),
          col("Survey Link Used").as("link"),
          col("Alchemer Admin Comments").as("admin"),
          col("IP Address - Country").as("country"),
          col("Age").as("age"),
          col("Gender").as("gender"), // renamed from "Q5: Gender"
          col("Race/Ethnicity").as("race"),
          col("Household Income").as("income"),
          col("Survey Language").as("language"),
          col("CM Name").as("cm"),
          col("Internal Notes").as("internal_notes")) // online-only
        .orderBy("resp_id")
    }),

    // Completeness profile over the bronze frame — the first data-quality
    // report a pipeline runs after ingest: per-column null counts in ONE
    // pass (a single aggregate row unpivoted to long form). The bronze
    // union null-pads the one-sided columns (Time Started and Internal
    // Notes exist only online), so the profile has real signal, not
    // all-zeros. At 100 TB this is one scan with map-side partials —
    // the profiling shape that replaces N per-column jobs.
    "qa_null_profile" -> ((s, _) => {
      def read(name: String) =
        s.read.option("header", "true").csv(s"$FixtureDir/$name")
      val bronze = graft.etl.ConfigSource.stage(s, FixtureDir)(cfg =>
        Bronze.ingest(read("survey_online.csv"), read("survey_offline.csv"), cfg))
      val cols = Seq("Response ID", "Time Started", "Survey Completed?",
        "Survey Link Used", "Alchemer Admin Comments", "IP Address - Country",
        "Age", "Gender", "Race/Ethnicity", "Household Income",
        "Survey Language", "CM Name", "Internal Notes")
      bronze
        .agg(count(lit(1)).as("__n"),
          cols.map(c => sum(when(col(s"`$c`").isNull, 1L).otherwise(0L))
            .as(c)): _*)
        .select(col("__n").as("n_rows"), explode(array(
          cols.map(c => struct(lit(c).as("col_name"),
            col(s"`$c`").as("n_nulls"))): _*)).as("p"))
        .select(col("p.col_name").as("col_name"), col("n_rows"),
          col("p.n_nulls").as("n_nulls"))
        .orderBy("col_name")
    }),

    // Volume-export pipeline (ref write_to_volume.py:7-16), composed end
    // to end: stage two catalog tables carrying the city marker, let
    // Export DISCOVER them from the catalog and write single-file
    // json+csv, then read the exported CSV bytes back — so catalog
    // introspection, the name filter, and the sink artifacts are all on
    // the oracle's hash path, not just the individual sinks.
    "etl_export" -> ((s, d) => {
      val dir = Artifacts.runDir(s, "etl_export")
      // Idempotence across SESSIONS: a previous run's warehouse dir
      // would fail a bare saveAsTable with LOCATION_ALREADY_EXISTS
      // (swallowed by TableSink, per reference semantics) — purge first.
      Seq("graft_gexpo_nation", "graft_gexpo_region")
        .foreach(TableSink.dropPurge(s, _))
      TableSink.writeTable(
        nation(s, d).select(col("n_nationkey").as("key"), col("n_name").as("name")),
        "graft_gexpo_nation")
      TableSink.writeTable(
        region(s, d).select(col("r_regionkey").as("key"), col("r_name").as("name")),
        "graft_gexpo_region")
      val exported = Export.exportAll(s, "gexpo", dir)
      // fail HERE with the cause, not later with empty.reduceLeft:
      // TableSink swallows write errors by design, so a missing table
      // means the sink printed a diagnostic worth reading
      require(exported.size == 2,
        s"etl_export: expected 2 discovered tables, got ${exported.size} — " +
          "a TableSink write failed (see its stderr diagnostic)")
      val schema = StructType(Seq(
        StructField("key", IntegerType), StructField("name", StringType)))
      exported.sorted
        .map(t => s.read.schema(schema).option("header", "true")
          .csv(s"$dir/$t.csv").withColumn("tbl", lit(t)))
        .reduce(_ unionByName _)
        .select("tbl", "key", "name")
        .orderBy("tbl", "key")
    }),

    // Silver recodes + Is_Invalid precedence over every branch
    "etl_silver_flags" -> ((s, d) =>
      silver(s, d).select(
        col("Response ID").as("resp_id"),
        col("Is_Invalid").as("is_invalid"),
        col("Gender").as("gender"),
        col("Age").as("age"),
        col("Race/Ethnicity").as("race"),
        col("Household Income").as("income"),
        col("Survey Language").as("language"),
        col("CM Name").as("cm"))
        .orderBy("resp_id")),

    // The flagship slice: valid filter → 6-demographic rollup → union
    "etl_rollup" -> ((s, d) => {
      val (valid, _) = Gold.validSplit(goldBase(s, d))
      Gold.rollup(valid, SurveyConfig.kingston).select(
        col("Demographic").as("demographic"),
        col("Category").as("category"),
        col("# of Survey Responses").as("n_responses"),
        col("% of Survey Responses").as("pct_responses"),
        col("Total Responses").as("total_responses"))
        .orderBy("demographic", "category")
    }),

    // Full census merge: outer join + window fills + representation CASE +
    // %-string round-trips + final within-demographic ordering
    "etl_census_merge" -> ((s, d) => {
      val base = goldBase(s, d)
      val (valid, _) = Gold.validSplit(base)
      val roll = Gold.rollup(valid, SurveyConfig.kingston)
      val census = SurveyFixture.censusFromFixtures(nation(s, d))
      graft.etl.CensusMerge.merge(census, roll, base, SurveyConfig.kingston)
        .select(
          col("Demographic").as("demographic"),
          col("Category").as("category"),
          col("# of Survey Responses").as("n_responses"),
          col("% of Population (Census)").as("census_pct"),
          col("% of Survey Responses").as("survey_pct"),
          col("% Difference").as("pct_diff"),
          col("Representation Status").as("rep_status"),
          col("Additional Responses Needed").as("additional_needed"),
          col("Total Responses").as("total_responses"),
          col("Data Last Updated").as("last_updated"))
    }),

    // SCD Type-2 upsert — the MERGE-shaped dimension maintenance the
    // reference delegates to its table format's MERGE INTO (ref
    // utils.py:139 table properties), re-expressed as one deterministic
    // full-outer merge: a change set derived from orders (every 7th
    // customer's balance restated to its order total, effective at its
    // last order date) plus 3 planted brand-new keys, applied against the
    // customer dimension with full version history.
    "etl_scd2_upsert" -> ((s, d) => {
      val upd = orders(s, d).filter(col("o_custkey") % 7 === 0)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(round(sum("o_totalprice"), 2).as("c_acctbal"),
          date_format(max("o_orderdate"), "yyyy-MM-dd").as("eff_date"))
      val inserts = customer(s, d).filter(col("c_custkey") <= 3)
        .select((col("c_custkey") + 9000000).as("c_custkey"),
          round(col("c_acctbal") * 2, 2).as("c_acctbal"),
          lit("1999-01-01").as("eff_date"))
      graft.operators.Scd.scd2(
        customer(s, d).select("c_custkey", "c_name", "c_acctbal"),
        upd.unionByName(inserts), "c_custkey",
        carryCols = Seq("c_name"), trackCols = Seq("c_acctbal"),
        effDateCol = "eff_date", initDate = "1992-01-01")
        // is_current tie-break: a changed key whose eff_date equals
        // initDate ties on (key, valid_from) — legal at other SFs, and
        // the driver compare is row-order sensitive.
        .orderBy("c_custkey", "valid_from", "is_current")
    }),

    // SCD2 CHAIN — three yearly change sets folded into one full version
    // history in a single pass (Scd.applyTaggedBatches): batch N restates
    // every 7th customer's balance to its year-N order total, effective
    // at its last order date that year; batch 2 additionally lands 3
    // brand-new keys. All three yearly batches come from ONE
    // (year, custkey)-grouped scan of orders — the batch index is the
    // year's offset as a column — where per-year `batchFor` frames would
    // re-scan the fact table three times (r7 verdict item). Yearly eff
    // dates are distinct per key by construction, so the chain is
    // deterministic; the oracle replays it as a LEAD window over the
    // unioned versions.
    "etl_scd2_chain" -> ((s, d) => {
      val yearly = orders(s, d)
        .filter(col("o_custkey") % 7 === 0 &&
          year(col("o_orderdate")).between(1996, 1998))
        .groupBy(year(col("o_orderdate")).as("__yr"),
          col("o_custkey").as("c_custkey"))
        .agg(round(sum("o_totalprice"), 2).as("c_acctbal"),
          date_format(max("o_orderdate"), "yyyy-MM-dd").as("eff_date"))
        .select(col("c_custkey"), col("c_acctbal"), col("eff_date"),
          (col("__yr") - 1996).as("batch"))
      val inserts = customer(s, d).filter(col("c_custkey") <= 3)
        .select((col("c_custkey") + 9000000).as("c_custkey"),
          round(col("c_acctbal") * 2, 2).as("c_acctbal"),
          lit("1994-06-30").as("eff_date"), lit(1).as("batch"))
      graft.operators.Scd.applyTaggedBatches(
        customer(s, d).select("c_custkey", "c_name", "c_acctbal"),
        yearly.unionByName(inserts),
        "c_custkey", carryCols = Seq("c_name"), trackCols = Seq("c_acctbal"),
        effDateCol = "eff_date", batchCol = "batch", initDate = "1992-01-01")
        .orderBy("c_custkey", "valid_from")
    }),

    // CDC snapshot diff — the day's delta a warehouse ships downstream
    // instead of re-publishing the table: the "new" snapshot drops every
    // 13th key (deletes), shifts every surviving 11th key's balance by
    // +100.50 (updates; an exact-2dp shift so no cross-engine rounding
    // boundary exists), and lands 3 brand-new keys (inserts). Unchanged
    // keys never leave the join.
    "etl_cdc_diff" -> ((s, d) => {
      val old = customer(s, d).select("c_custkey", "c_acctbal")
      val neu = customer(s, d).filter(col("c_custkey") % 13 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 11 === 0, col("c_acctbal") + 100.5)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
        .unionByName(customer(s, d).filter(col("c_custkey") <= 3)
          .select((col("c_custkey") + 9000000).as("c_custkey"),
            round(col("c_acctbal") * 2, 2).as("c_acctbal")))
      graft.operators.Cdc.snapshotDiff(old, neu, "c_custkey", Seq("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // Incremental aggregation — materialized-view maintenance done the
    // way 100 TB pipelines must: per-day PARTIAL aggregates persist to
    // parquet in exact integer cents (associative, so the merge is
    // bit-stable regardless of partition order — double partials would
    // drift with reduction order), and the monthly rollup re-aggregates
    // the ~2.4k partial rows instead of rescanning the fact table. The
    // oracle aggregates the raw table directly: partial-then-merge must
    // equal single-pass exactly.
    "etl_incr_agg" -> ((s, d) => {
      val out = Artifacts.runDir(s, "incr_agg")
      orders(s, d).select(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("month", "day")
        .agg(sum("cents").as("cents"), count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .groupBy("month")
        .agg((sum("cents") / 100.0).as("revenue"), sum("n").as("n_orders"))
        .orderBy("month")
    }),

    // General MERGE INTO: one change set carrying updates (every 7th
    // key: +100 balance), deletes (every 13th key), and inserts (every
    // 11th key re-landed under a new id) applied to the customer table
    // in ONE full-outer-join pass — the Delta-style upsert the
    // reference's notebooks hand-roll with pandas concat/dedup.
    "etl_merge" -> ((s, d) => {
      val cust = customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val changes = cust
        .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 13 === 0)
        .select(col("c_custkey"), col("c_name"),
          // exact IEEE shift, no rounding boundary (the etl_cdc_diff trick)
          (col("c_acctbal") + 100).as("c_acctbal"),
          col("c_mktsegment"),
          (col("c_custkey") % 13 === 0).as("is_delete"))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .select((col("c_custkey") + 9000000).as("c_custkey"), col("c_name"),
            col("c_acctbal"), col("c_mktsegment"),
            lit(false).as("is_delete")))
      graft.operators.Merge.mergeInto(cust, changes, "c_custkey",
        Seq("c_name", "c_acctbal", "c_mktsegment"), col("s.is_delete"))
        .orderBy("c_custkey")
    })
  )

  /** Shared oracle CTEs: the fixture derivation and silver recodes in SQL. */
  private val silverCte =
    """WITH survey AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS resp_id,
      |    CASE WHEN o_orderstatus = 'F' THEN 'Complete'
      |         WHEN o_orderstatus = 'O' THEN 'Partial'
      |         ELSE 'Disqualified' END AS completed,
      |    CASE WHEN o_orderkey % 53 = 0 THEN 'ok' END AS admin,
      |    CASE WHEN o_custkey % 97 = 0 THEN 'Test link' ELSE 'Live link' END AS link,
      |    CASE WHEN o_custkey % 31 = 0 THEN 'Canada' ELSE 'United States' END AS country,
      |    CASE WHEN o_orderkey % 7 = 0 THEN 'Prefer not to say'
      |         WHEN o_orderkey % 7 = 1 THEN 'Write In'
      |         WHEN o_orderkey % 7 = 2 THEN 'Male'
      |         WHEN o_orderkey % 7 = 3 THEN 'Female'
      |         WHEN o_orderkey % 7 = 4 THEN 'Non-binary' END AS gender_raw,
      |    o_orderkey % 140 - 10 AS age_raw,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'Yes' ELSE 'No' END AS hisp,
      |    CASE WHEN o_orderkey % 6 = 0 THEN 'Some other race (please write it in here)'
      |         WHEN o_orderkey % 6 = 1 THEN 'I prefer not to answer this question'
      |         WHEN o_orderkey % 6 = 2 THEN 'White'
      |         WHEN o_orderkey % 6 = 3 THEN 'Black or African American' END AS race_raw,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 'Less than $20,000'
      |         WHEN o_orderkey % 4 = 1 THEN '$20,000 to $49,999'
      |         WHEN o_orderkey % 4 = 2 THEN '$50,000 to $99,999'
      |         ELSE 'I prefer not to answer this question' END AS income_raw,
      |    CASE WHEN o_custkey % 3 = 0 THEN 'English' ELSE 'Spanish' END AS language,
      |    CASE WHEN o_custkey % 11 = 0 THEN ''
      |         WHEN o_custkey % 11 = 1 THEN NULL
      |         ELSE 'CM ' || CAST(o_custkey % 4 AS VARCHAR) END AS cm_raw
      |  FROM orders
      |), silver AS (
      |  SELECT resp_id,
      |    CASE WHEN upper(admin) IN ('OK', 'VALID') THEN 'Valid'
      |         WHEN completed = 'Partial' THEN 'Survey status is partially completed'
      |         WHEN completed = 'Disqualified' THEN 'Disqualified in Alchemer'
      |         WHEN completed <> 'Complete' THEN 'Survey status is ' || completed
      |         WHEN link IN ('Test link', 'Test') THEN 'Survey was submitted via test link'
      |         WHEN country <> 'United States' THEN 'IP address outside USA'
      |         ELSE 'Valid' END AS is_invalid,
      |    CASE WHEN gender_raw IS NULL OR gender_raw = 'Prefer not to say' THEN 'Unknown'
      |         WHEN gender_raw = 'Write In' THEN 'Other' ELSE gender_raw END AS gender,
      |    CASE WHEN age_raw <= 0 THEN 'Unknown'
      |         WHEN age_raw < 10 THEN 'Less than 10 years old'
      |         WHEN age_raw < 18 THEN '10 to 17 years old'
      |         WHEN age_raw < 30 THEN '18 to 29 years old'
      |         WHEN age_raw < 45 THEN '30 to 44 years old'
      |         WHEN age_raw < 60 THEN '45 to 59 years old'
      |         WHEN age_raw < 75 THEN '60 to 74 years old'
      |         WHEN age_raw < 120 THEN '75 years and older'
      |         ELSE 'Unknown' END AS age,
      |    CASE WHEN hisp = 'Yes' THEN 'Hispanic or Latinx'
      |         WHEN race_raw = 'Some other race (please write it in here)' THEN 'Other race'
      |         WHEN race_raw = 'I prefer not to answer this question' THEN 'Unknown'
      |         WHEN race_raw IS NULL THEN 'Unknown' ELSE race_raw END AS race,
      |    CASE WHEN income_raw IS NULL OR income_raw = 'I prefer not to answer this question' THEN 'Unknown'
      |         WHEN income_raw IN ('Less than $20,000', '$20,000 to $49,999') THEN 'Less than $50,000'
      |         ELSE income_raw END AS income,
      |    language,
      |    CASE WHEN cm_raw IS NULL OR trim(cm_raw) = '' THEN 'Unknown' ELSE cm_raw END AS cm
      |  FROM survey
      |)""".stripMargin.replaceAll("\\s+", " ")

  private def rollupBlock(demName: String, catExpr: String): String =
    s"(SELECT '$demName' AS demographic, category, n_responses, " +
      "printf('%.2f%%', n_responses / total_excl * 100) AS pct_responses, " +
      "CASE WHEN category <> 'Unknown' THEN CAST(total_excl AS VARCHAR) ELSE '' END AS total_responses " +
      "FROM (SELECT category, n_responses, " +
      "sum(CASE WHEN category <> 'Unknown' THEN n_responses END) OVER () AS total_excl " +
      s"FROM (SELECT $catExpr AS category, count(*) AS n_responses " +
      "FROM silver WHERE is_invalid = 'Valid' GROUP BY 1) g) t)"

  private val rollupUnion: String =
    Seq("Gender" -> "gender", "Age" -> "age", "Race/Ethnicity" -> "race",
      "Household Income" -> "income", "Language" -> "language",
      "CM Name" -> "cm")
      .map { case (n, c) => rollupBlock(n, c) }.mkString(" UNION ALL ")

  private val censusMergeSql: String =
    silverCte +
      """, census AS (
        |  SELECT CASE WHEN n_nationkey % 2 = 0 THEN 'Language' ELSE 'Gender' END AS c_dem,
        |    CASE WHEN n_nationkey = 0 THEN 'English' WHEN n_nationkey = 2 THEN 'Spanish'
        |         WHEN n_nationkey = 4 THEN 'French' WHEN n_nationkey = 6 THEN 'Unknown'
        |         WHEN n_nationkey = 1 THEN 'Male' WHEN n_nationkey = 3 THEN 'Female'
        |         WHEN n_nationkey = 5 THEN 'Other' ELSE 'Unknown' END AS c_cat,
        |    CAST((n_nationkey + 1) * 10 AS VARCHAR) || '%' AS census_pct_raw,
        |    CAST(CASE WHEN n_nationkey % 3 = 0 THEN n_nationkey END AS INTEGER) AS display_order
        |  FROM nation WHERE n_nationkey < 8
        |), rollup_t AS (SELECT * FROM (""".stripMargin + rollupUnion + """) u
        |), joined AS (
        |  SELECT c.c_dem, c.c_cat, c.census_pct_raw, c.display_order,
        |    r.demographic AS r_dem, r.category AS r_cat,
        |    r.n_responses AS n_resp, r.pct_responses AS pct_resp,
        |    r.total_responses AS total_resp
        |  FROM census c FULL OUTER JOIN rollup_t r
        |    ON c.c_dem = r.demographic AND c.c_cat = r.category
        |), f1 AS (
        |  SELECT c_dem, c_cat, census_pct_raw, display_order, r_dem, r_cat,
        |    CASE WHEN r_dem IS NULL AND r_cat IS NULL THEN
        |      first_value(total_resp IGNORE NULLS) OVER (PARTITION BY c_dem ORDER BY c_cat ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    ELSE total_resp END AS total_f,
        |    CASE WHEN r_dem IS NULL AND r_cat IS NULL THEN 0 ELSE n_resp END AS n_resp_f,
        |    CASE WHEN r_dem IS NULL AND r_cat IS NULL THEN '0' ELSE pct_resp END AS pct_f,
        |    COALESCE(r_dem, c_dem) AS rd2, COALESCE(r_cat, c_cat) AS rc2
        |  FROM joined
        |), f2 AS (
        |  SELECT COALESCE(c_dem, rd2) AS dem, COALESCE(c_cat, rc2) AS cat,
        |    CASE WHEN c_dem IS NULL AND c_cat IS NULL THEN NULL ELSE census_pct_raw END AS census_pct2,
        |    display_order, total_f, n_resp_f, pct_f
        |  FROM f1
        |), f3 AS (
        |  SELECT dem, cat, display_order, total_f, n_resp_f,
        |    try_cast(replace(census_pct2, '%', '') AS FLOAT) AS census_pct_fl,
        |    try_cast(replace(pct_f, '%', '') AS FLOAT) AS survey_pct_fl
        |  FROM f2
        |), f4 AS (
        |  SELECT *, CASE WHEN census_pct_fl IS NOT NULL AND survey_pct_fl IS NOT NULL
        |    THEN survey_pct_fl - census_pct_fl END AS diff FROM f3
        |), f5 AS (
        |  SELECT *, CASE WHEN diff < -5.0 THEN 'Under-Represented'
        |    WHEN diff > 5.0 THEN 'Over-Represented'
        |    WHEN diff > -5.0 AND diff < 5.0 THEN 'Looks Good' END AS rep_status FROM f4
        |), f6 AS (
        |  SELECT *, round(round(CASE WHEN rep_status IN ('Under-Represented', 'Over-Represented')
        |    THEN round(abs(diff * try_cast(total_f AS DOUBLE) / 100)) END / 10) * 10) AS additional
        |  FROM f5
        |)
        |SELECT dem AS demographic, cat AS category, n_resp_f AS n_responses,
        |  CAST(round(census_pct_fl, 1) AS VARCHAR) || '%' AS census_pct,
        |  CAST(round(survey_pct_fl, 1) AS VARCHAR) || '%' AS survey_pct,
        |  CAST(round(diff, 1) AS VARCHAR) || '%' AS pct_diff,
        |  rep_status, additional AS additional_needed, total_f AS total_responses,
        |  (SELECT strftime(max(o_orderdate + INTERVAL 25 MINUTE), '%m/%d/%Y') FROM orders) AS last_updated
        |FROM f6 ORDER BY demographic, display_order NULLS LAST, category""".stripMargin

  /** Bronze oracle: DuckDB replays the union-by-name + "Offline #" prefix
    * over the same checked-in CSVs (all_varchar ≡ Spark's no-inferSchema
    * all-string read; empty CSV fields are NULL in both engines). */
  private val bronzeCte: String =
    s"""WITH online AS (
      |  SELECT * FROM read_csv('$FixtureDir/survey_online.csv', header=true, all_varchar=true)
      |), offline AS (
      |  SELECT * REPLACE ('Offline #' || "Response ID" AS "Response ID")
      |  FROM read_csv('$FixtureDir/survey_offline.csv', header=true, all_varchar=true)
      |), merged AS (
      |  SELECT * FROM online UNION ALL BY NAME SELECT * FROM offline
      |)""".stripMargin.replaceAll("\\s+", " ")

  private val bronzeSql: String =
    (bronzeCte +
      """ SELECT "Response ID" AS resp_id, "Time Started" AS time_started,
      |  "Survey Completed?" AS completed, "Survey Link Used" AS link,
      |  "Alchemer Admin Comments" AS admin, "IP Address - Country" AS country,
      |  "Age" AS age, "Q5: Gender" AS gender, "Race/Ethnicity" AS race,
      |  "Household Income" AS income, "Survey Language" AS language,
      |  "CM Name" AS cm, "Internal Notes" AS internal_notes
      |FROM merged ORDER BY resp_id""".stripMargin).replaceAll("\\s+", " ")

  // per-column null counts over the same merged frame; the profile names
  // the RENAMED column (Gender) while counting the raw one (Q5: Gender),
  // matching Bronze.ingest's output contract
  private val nullProfileSql: String = {
    val cols = Seq(
      "Response ID", "Time Started", "Survey Completed?", "Survey Link Used",
      "Alchemer Admin Comments", "IP Address - Country", "Age", "Gender",
      "Race/Ethnicity", "Household Income", "Survey Language", "CM Name",
      "Internal Notes")
    val arms = cols.map { c =>
      val src = if (c == "Gender") "Q5: Gender" else c
      s"""SELECT '$c' AS col_name, count(*) AS n_rows, """ +
        s"""CAST(sum(CASE WHEN "$src" IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls FROM merged"""
    }
    bronzeCte + " " + arms.mkString(" UNION ALL ") + " ORDER BY col_name"
  }

  def oracleSql: Map[String, String] = Map(
    "etl_bronze" -> bronzeSql,
    "qa_null_profile" -> nullProfileSql,
    "etl_export" ->
      ("SELECT 'graft_gexpo_nation' AS tbl, n_nationkey AS key, n_name AS name FROM nation " +
        "UNION ALL " +
        "SELECT 'graft_gexpo_region' AS tbl, r_regionkey AS key, r_name AS name FROM region " +
        "ORDER BY tbl, key"),
    "etl_census_merge" -> censusMergeSql.replaceAll("\\s+", " "),
    "etl_silver_flags" ->
      (silverCte +
        " SELECT resp_id, is_invalid, gender, age, race, income, language, cm FROM silver ORDER BY resp_id"),
    "etl_rollup" ->
      (silverCte + " SELECT * FROM (" +
        Seq("Gender" -> "gender", "Age" -> "age", "Race/Ethnicity" -> "race",
          "Household Income" -> "income", "Language" -> "language",
          "CM Name" -> "cm")
          .map { case (n, c) => rollupBlock(n, c) }.mkString(" UNION ALL ") +
        ") ORDER BY demographic, category"),
    // closed = every pre-existing version (valid_to stamped when a change
    // set row matched); fresh = the new current version per changed or
    // inserted key, carry columns riding in from the target (null for
    // brand-new keys)
    "etl_scd2_upsert" ->
      ("WITH upd0 AS (SELECT o_custkey AS c_custkey, round(sum(o_totalprice), 2) AS c_acctbal, " +
        "strftime(max(o_orderdate), '%Y-%m-%d') AS eff_date FROM orders WHERE o_custkey % 7 = 0 GROUP BY 1), " +
        "ins AS (SELECT c_custkey + 9000000 AS c_custkey, round(c_acctbal * 2, 2) AS c_acctbal, " +
        "'1999-01-01' AS eff_date FROM customer WHERE c_custkey <= 3), " +
        "upd AS (SELECT * FROM upd0 UNION ALL SELECT * FROM ins), " +
        "closed AS (SELECT c.c_custkey, c.c_name, c.c_acctbal, '1992-01-01' AS valid_from, " +
        "u.eff_date AS valid_to, u.c_custkey IS NULL AS is_current " +
        "FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey), " +
        "fresh AS (SELECT u.c_custkey, c.c_name, u.c_acctbal, u.eff_date AS valid_from, " +
        "CAST(NULL AS VARCHAR) AS valid_to, true AS is_current " +
        "FROM upd u LEFT JOIN customer c ON c.c_custkey = u.c_custkey) " +
        "SELECT * FROM closed UNION ALL SELECT * FROM fresh ORDER BY c_custkey, valid_from, is_current"),
    // every version (initial state + each yearly restatement) unions into
    // one frame; LEAD over eff date per key closes each version
    "etl_scd2_chain" ->
      ("WITH b AS (" +
        "SELECT o_custkey AS c_custkey, round(sum(o_totalprice), 2) AS c_acctbal, " +
        "strftime(max(o_orderdate), '%Y-%m-%d') AS eff_date " +
        "FROM orders WHERE o_custkey % 7 = 0 AND year(o_orderdate) IN (1996, 1997, 1998) " +
        "GROUP BY o_custkey, year(o_orderdate)), " +
        "ins AS (SELECT c_custkey + 9000000 AS c_custkey, round(c_acctbal * 2, 2) AS c_acctbal, " +
        "'1994-06-30' AS eff_date FROM customer WHERE c_custkey <= 3), " +
        "upd AS (SELECT * FROM b UNION ALL SELECT * FROM ins), " +
        "vers AS (" +
        "SELECT c_custkey, c_name, c_acctbal, '1992-01-01' AS eff_date FROM customer " +
        "UNION ALL " +
        "SELECT u.c_custkey, c.c_name, u.c_acctbal, u.eff_date " +
        "FROM upd u LEFT JOIN customer c ON c.c_custkey = u.c_custkey), " +
        "chain AS (SELECT c_custkey, c_name, c_acctbal, eff_date AS valid_from, " +
        "lead(eff_date) OVER (PARTITION BY c_custkey ORDER BY eff_date) AS valid_to FROM vers) " +
        "SELECT c_custkey, c_name, c_acctbal, valid_from, valid_to, " +
        "valid_to IS NULL AS is_current FROM chain ORDER BY c_custkey, valid_from"),
    "etl_cdc_diff" ->
      ("WITH o AS (SELECT c_custkey, c_acctbal FROM customer), " +
        "n AS (SELECT c_custkey, CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 100.5 " +
        "ELSE c_acctbal END AS c_acctbal FROM customer WHERE c_custkey % 13 <> 0 " +
        "UNION ALL SELECT c_custkey + 9000000, round(c_acctbal * 2, 2) " +
        "FROM customer WHERE c_custkey <= 3), " +
        "j AS (SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey, " +
        "o.c_acctbal AS old_c_acctbal, n.c_acctbal AS new_c_acctbal, " +
        "o.c_custkey IS NOT NULL AS in_o, n.c_custkey IS NOT NULL AS in_n " +
        "FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey) " +
        "SELECT CASE WHEN NOT in_o THEN 'I' WHEN NOT in_n THEN 'D' " +
        "WHEN old_c_acctbal IS DISTINCT FROM new_c_acctbal THEN 'U' END AS op, " +
        "c_custkey, old_c_acctbal, new_c_acctbal FROM j " +
        "WHERE (NOT in_o) OR (NOT in_n) OR (old_c_acctbal IS DISTINCT FROM new_c_acctbal) " +
        "ORDER BY c_custkey"),
    // partial-then-merge must equal the single-pass aggregate exactly:
    // integer-cents partials are associative
    "etl_incr_agg" ->
      ("SELECT strftime(o_orderdate, '%Y-%m') AS month, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue, " +
        "count(*) AS n_orders FROM orders GROUP BY 1 ORDER BY month"),
    // MERGE replay: matched rows take source values (update) unless the
    // delete flag fires; source-only rows insert; target-only rows carry
    "etl_merge" ->
      ("WITH t AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer), " +
        "src AS (SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal, c_mktsegment, " +
        "c_custkey % 13 = 0 AS is_delete FROM customer " +
        "WHERE c_custkey % 7 = 0 OR c_custkey % 13 = 0 " +
        "UNION ALL SELECT c_custkey + 9000000, c_name, c_acctbal, c_mktsegment, FALSE " +
        "FROM customer WHERE c_custkey % 11 = 0), " +
        "j AS (SELECT t.c_custkey AS tk, s.c_custkey AS sk, " +
        "t.c_name AS tn, s.c_name AS sn, t.c_acctbal AS tb, s.c_acctbal AS sb, " +
        "t.c_mktsegment AS tm, s.c_mktsegment AS sm, s.is_delete AS del " +
        "FROM t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey) " +
        "SELECT coalesce(sk, tk) AS c_custkey, " +
        "CASE WHEN sk IS NOT NULL THEN sn ELSE tn END AS c_name, " +
        "CASE WHEN sk IS NOT NULL THEN sb ELSE tb END AS c_acctbal, " +
        "CASE WHEN sk IS NOT NULL THEN sm ELSE tm END AS c_mktsegment " +
        "FROM j WHERE NOT (tk IS NOT NULL AND sk IS NOT NULL AND coalesce(del, FALSE)) " +
        "ORDER BY c_custkey")
  )
}
