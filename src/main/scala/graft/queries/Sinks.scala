package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Artifacts
import graft.sources.SingleFileSink

/** Source/sink round-trips S1/S5/S6/S7 (SURVEY.md §2.1): each query writes
  * through the engine sink under test into the session's run directory
  * (`Artifacts.runDir`), reads the artifact back, and returns it for the
  * DuckDB oracle compare — so the sink's on-disk bytes, not just the
  * in-memory plan, are what gets verified. Read-back schemas are explicit
  * where inference would widen or narrow types (CSV int32 vs int64).
  */
object Sinks {
  import Tables._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 — CSV source with header + inferSchema (ref extract_alchemer_data.py:8-9)
    "s1_csv_roundtrip" -> ((s, d) => {
      val out = Artifacts.runDir(s, "s1_dir")
      region(s, d).coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(out)
      s.read.option("header", "true").option("inferSchema", "true").csv(out)
        .orderBy("r_regionkey")
    }),

    // S5 — overwrite-mode table sink (ref utils.py:124-142). Parquet stands
    // in for Delta; overwrite + schema-on-write semantics are what matter.
    "s5_parquet_sink" -> ((s, d) => {
      val out = Artifacts.runDir(s, "s5_dir")
      orders(s, d).filter(col("o_custkey") < 100)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("o_orderkey")
    }),

    // S6 — single-file JSON export with part-file move (ref utils.py:226-252)
    "s6_json_single_file" -> ((s, d) => {
      val dest = Artifacts.runDir(s, "s6.json")
      SingleFileSink.json(
        nation(s, d).select("n_nationkey", "n_name"), dest)
      s.read.schema(StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType)))).json(dest)
        .orderBy("n_nationkey")
    }),

    // S8 — schema evolution on read: two parquet generations with
    // different column sets union under mergeSchema (the late-added
    // column is null for old files) — how a long-lived table absorbs
    // schema growth without rewriting history.
    "s8_schema_merge" -> ((s, d) => {
      val out = Artifacts.runDir(s, "s8_dir")
      val r = region(s, d)
      r.select("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(s"$out/gen=1")
      r.select(col("r_regionkey"), col("r_name"),
        length(col("r_name")).cast("long").as("name_len"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$out/gen=1", s"$out/gen=2")
        .select("r_regionkey", "r_name", "name_len")
        .orderBy(col("r_regionkey"), col("name_len").asc_nulls_first)
    }),

    // S9 — hive-style partitioned write + partition-pruned read: the
    // status filter on readback prunes to ONE directory (PartitionFilters
    // in the scan, pinned by PlanSpec) — the layout that turns a 100 TB
    // scan into a directory listing.
    "s9_partition_prune" -> ((s, d) => {
      val out = Artifacts.runDir(s, "s9_dir")
      orders(s, d).filter(col("o_custkey") < 200)
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // S11 — DYNAMIC partition overwrite: the idempotent-backfill
    // primitive. Static overwrite mode would truncate the whole table
    // before writing; dynamic mode replaces ONLY the partitions the
    // incoming frame touches. Here the full table lands first, then a
    // corrected 'F' slice (prices re-stamped) overwrites just that
    // partition — 'O' and 'P' survive untouched, which is exactly what
    // re-running a failed daily backfill must do at 100 TB. The oracle
    // states the post-backfill table directly.
    "s11_dynamic_overwrite" -> ((s, d) => {
      val out = Artifacts.runDir(s, "s11_dyn")
      val base = orders(s, d).filter(col("o_custkey") < 200)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      // the writer option, not the session conf: Spark reads it first,
      // and the session stays as the caller left it
      base.filter(col("o_orderstatus") === "F")
        .withColumn("price_cents", col("price_cents") + 7L)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "price_cents")
        .orderBy("o_orderkey")
    }),

    // S10 — z-order layout round-trip: lineitem rewritten along the
    // Morton curve of (l_orderkey, l_partkey), read back through a range
    // filter on the SECOND dimension — the one a linear sort can't skip
    // on. The result is layout-independent (that's the point: z-order
    // changes WHERE rows sit, never WHAT they are), so the oracle is the
    // plain filter; the skipping selectivity itself is measured in
    // ZOrderSpec against a linear layout.
    "s10_zorder" -> ((s, d) => {
      val out = Artifacts.runDir(s, "s10_zorder")
      graft.sources.ZOrder.writeZOrdered(
        lineitem(s, d).select(
          "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"),
        "l_orderkey", "l_partkey", out)
      s.read.parquet(out)
        .filter(col("l_partkey").between(500, 600))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_partkey")
    }),

    // S11 — TIME TRAVEL over the versioned swap sink: two overwrites land
    // as immutable v<N> directories with the catalog view repointing
    // (TableSink.overwriteViaSwap); reading the PREVIOUS version's path
    // alongside the current view proves old versions stay intact after
    // the swap — the read-side contract that makes overwrite-while-read
    // safe and gives bounded time travel on plain parquet.
    "s11_time_travel" -> ((s, d) => {
      val base = Artifacts.runDir(s, "s11_tt")
      val r = region(s, d).select("r_regionkey", "r_name")
      val vPrev = graft.sources.TableSink.overwriteViaSwap(
        r, "graft_tt_region", base)
      graft.sources.TableSink.overwriteViaSwap(
        r.filter(col("r_regionkey") < 2), "graft_tt_region", base)
      val current = s.table("graft_tt_region").withColumn("src", lit("current"))
      val travel = s.read.parquet(s"$base/graft_tt_region/v$vPrev")
        .withColumn("src", lit("prev"))
      current.unionByName(travel)
        .select("src", "r_regionkey", "r_name")
        .orderBy("src", "r_regionkey")
    }),

    // S12 — PERMISSIVE JSON-lines ingest with corrupt-record capture: a
    // staged jsonl drop where every 7th line is malformed; bad lines
    // surface in _corrupt_record with null data columns instead of
    // failing the job — the ingest posture a 100 TB crawl feed needs
    // (FAILFAST on petabyte inputs means one bad byte kills the run).
    "s12_corrupt_json" -> ((s, d) => {
      val dir = Artifacts.runDir(s, "s12_jsonl")
      nation(s, d).select(
        when(col("n_nationkey") % 7 === 0,
          concat(lit("{corrupt "), col("n_name")))
          .otherwise(to_json(struct(col("n_nationkey"), col("n_name"))))
          .as("value"))
        .coalesce(1).write.mode("overwrite").text(dir)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("_corrupt_record", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
        .select(col("n_nationkey").as("n_key"), col("n_name").as("n_nm"),
          col("_corrupt_record").as("corrupt_raw"))
        .orderBy(col("n_key").asc_nulls_last, col("corrupt_raw"))
    }),

    // S13 — compression codec matrix: the same frame written snappy
    // (scan-speed default), zstd (cold-storage ratio), and gzip (legacy
    // interop), each read back through the codec's decode path. At
    // 100 TB codec choice is a first-class knob (storage cost vs scan
    // CPU); this pins that every tier round-trips bit-identically.
    "s13_codec" -> ((s, d) => {
      val base = Artifacts.runDir(s, "s13_codec")
      val src = supplier(s, d).select("s_suppkey", "s_name", "s_acctbal")
      Seq("snappy", "zstd", "gzip").map { c =>
        src.write.mode("overwrite").option("compression", c).parquet(s"$base/$c")
        s.read.parquet(s"$base/$c").withColumn("codec", lit(c))
      }.reduce(_ unionByName _)
        .orderBy("codec", "s_suppkey")
    }),

    // S14 — ORC source/sink round-trip (extension): the other columnar
    // format Spark ships natively (orc-core on the classpath, no extra
    // dependency). Same bytes-on-disk discipline as S1/S5: write ORC
    // with zstd, read the artifact back, and let the oracle compare
    // against the parquet ground truth — proving the engine round-trips
    // decimals, dates and strings through a second columnar codec path.
    "s14_orc_roundtrip" -> ((s, d) => {
      val out = Artifacts.runDir(s, "s14_orc")
      orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate")
        .filter(col("o_orderkey") % 7 === 0)
        .write.mode("overwrite").option("compression", "zstd").orc(out)
      s.read.orc(out).orderBy("o_orderkey")
    }),

    // S17 — parquet BLOOM FILTER write option: the row-group-skipping
    // knob for point lookups on high-cardinality, unsorted columns —
    // min/max stats are useless there (every row group spans the whole
    // key range) but a bloom probe skips row groups that cannot contain
    // the key. At 100 TB this turns needle-in-haystack id lookups from a
    // full scan into footer reads + a handful of row groups. The result
    // is layout-independent (skipping changes what is READ, never what
    // matches) so the oracle is the plain filter; that the filter bytes
    // actually land in the footer and answer membership is pinned in
    // ParquetBloomSpec.
    "s17_parquet_bloom" -> ((s, d) => {
      val out = Artifacts.runDir(s, "s17_bloom")
      lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
        // bloom filters only materialize for non-dictionary chunks (a
        // complete dictionary already answers membership exactly); at
        // real scale l_partkey's ndv overflows the dict page on its own —
        // on the small fixture, opt the column out to exercise the path
        .option("parquet.enable.dictionary#l_partkey", "false")
        .parquet(out)
      s.read.parquet(out)
        .filter(col("l_partkey").isin(17, 500, 1031))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_partkey")
    }),

    // S15 — special-character column names PERSISTED: the reference's
    // whole reason for `delta.columnMapping.mode=name` (ref utils.py:139)
    // is survey columns like `Race/Ethnicity` / `% of Survey Responses`
    // (ref merge_census.py:98-100) that parquet field-name rules reject.
    // The engine's parquet-native answer is the reversible escape at the
    // TableSink boundary: write escaped, read restored, verbatim names
    // round-trip through a real saveAsTable with no sidecar mapping.
    "s15_special_colnames" -> ((s, d) => {
      graft.sources.TableSink.dropPurge(s, "graft_s15_census")
      val verbatim = nation(s, d).select(
        col("n_nationkey").as("Nation Key"),
        col("n_name").as("Race/Ethnicity"),
        (col("n_nationkey") % 2 === 0).as("Survey Completed?"),
        round(col("n_nationkey") * lit(100.0) / 25, 2)
          .as("% of Survey Responses"))
      graft.sources.TableSink.writeTableEscaped(verbatim, "graft_s15_census")
      graft.sources.TableSink.readTableRestored(s, "graft_s15_census")
        .orderBy("Nation Key")
    }),

    // S16 — SQL-string front door: the reference drives everything through
    // `%sql` / spark.sql over registered tables (ref
    // rollup_alchemer_data.py:52-56). Views.registerAll + one pure-SQL
    // rollup proves the whole path — view registration, SQL parse,
    // execution over the same parquet — on the oracle gate.
    "s16_sql_entry" -> ((s, d) => {
      Views.registerAll(s, d)
      s.sql("""
        SELECT r.r_name AS region_name,
               count(DISTINCT n.n_nationkey) AS n_nations,
               count(*) AS n_customers,
               round(sum(c.c_acctbal), 2) AS total_acctbal
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY r.r_name
        ORDER BY r.r_name""")
    }),

    // S7 — single-file CSV export with header (ref write_to_volume.py:15-16)
    "s7_csv_single_file" -> ((s, d) => {
      val dest = Artifacts.runDir(s, "s7.csv")
      SingleFileSink.csv(
        supplier(s, d).select("s_suppkey", "s_name"), dest)
      s.read.schema(StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType))))
        .option("header", "true").csv(dest)
        .orderBy("s_suppkey")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "s1_csv_roundtrip" ->
      "SELECT * FROM region ORDER BY r_regionkey",
    "s5_parquet_sink" ->
      "SELECT * FROM orders WHERE o_custkey < 100 ORDER BY o_orderkey",
    "s6_json_single_file" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",
    "s7_csv_single_file" ->
      "SELECT s_suppkey, s_name FROM supplier ORDER BY s_suppkey",
    "s9_partition_prune" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
        "FROM orders WHERE o_custkey < 200 AND o_orderstatus = 'F' ORDER BY o_orderkey"),
    // the post-backfill state: F prices re-stamped (+7), other
    // partitions untouched
    "s11_dynamic_overwrite" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) + " +
        "CASE WHEN o_orderstatus = 'F' THEN 7 ELSE 0 END AS price_cents " +
        "FROM orders WHERE o_custkey < 200 ORDER BY o_orderkey"),
    "s8_schema_merge" ->
      ("SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS name_len FROM region " +
        "UNION ALL " +
        "SELECT r_regionkey, r_name, CAST(length(r_name) AS BIGINT) FROM region " +
        "ORDER BY r_regionkey, name_len NULLS FIRST"),
    "s10_zorder" ->
      ("SELECT l_partkey, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem WHERE l_partkey BETWEEN 500 AND 600 " +
        "GROUP BY l_partkey ORDER BY l_partkey"),
    "s11_time_travel" ->
      ("SELECT 'current' AS src, r_regionkey, r_name FROM region WHERE r_regionkey < 2 " +
        "UNION ALL SELECT 'prev', r_regionkey, r_name FROM region " +
        "ORDER BY src, r_regionkey"),
    "s12_corrupt_json" ->
      ("SELECT CASE WHEN n_nationkey % 7 = 0 THEN NULL ELSE n_nationkey END AS n_key, " +
        "CASE WHEN n_nationkey % 7 = 0 THEN NULL ELSE n_name END AS n_nm, " +
        "CASE WHEN n_nationkey % 7 = 0 THEN '{corrupt ' || n_name END AS corrupt_raw " +
        "FROM nation ORDER BY n_key ASC NULLS LAST, corrupt_raw"),
    "s13_codec" ->
      ("SELECT codec, s_suppkey, s_name, s_acctbal FROM " +
        "(SELECT unnest(['snappy', 'zstd', 'gzip']) AS codec), supplier " +
        "ORDER BY codec, s_suppkey"),
    "s14_orc_roundtrip" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderdate FROM orders WHERE o_orderkey % 7 = 0 " +
        "ORDER BY o_orderkey"),
    "s17_parquet_bloom" ->
      ("SELECT l_partkey, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem WHERE l_partkey IN (17, 500, 1031) " +
        "GROUP BY l_partkey ORDER BY l_partkey"),
    "s15_special_colnames" ->
      ("SELECT n_nationkey AS \"Nation Key\", n_name AS \"Race/Ethnicity\", " +
        "n_nationkey % 2 = 0 AS \"Survey Completed?\", " +
        "round(n_nationkey * 100.0 / 25, 2) AS \"% of Survey Responses\" " +
        "FROM nation ORDER BY \"Nation Key\""),
    "s16_sql_entry" ->
      ("SELECT r.r_name AS region_name, " +
        "count(DISTINCT n.n_nationkey) AS n_nations, " +
        "count(*) AS n_customers, " +
        "round(sum(c.c_acctbal), 2) AS total_acctbal " +
        "FROM region r " +
        "JOIN nation n ON n.n_regionkey = r.r_regionkey " +
        "JOIN customer c ON c.c_nationkey = n.n_nationkey " +
        "GROUP BY r.r_name ORDER BY r.r_name")
  )
}
