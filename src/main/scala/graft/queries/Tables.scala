package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet fixture-table access for the query battery.
  *
  * All `SparkEntry.queries` entries read the driver-generated tables
  * (TESTDATA.md) through these helpers so scans stay uniform: plain
  * `spark.read.parquet` — Catalyst handles column pruning and predicate
  * pushdown into the parquet reader (verify with
  * `df.explain("formatted")`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, d: String): DataFrame    = t(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = t(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = t(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = t(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = t(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = t(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = t(spark, d, "lineitem")
  /** The events fixture's `ts` encoding has varied across testdata
    * generations — TIMESTAMP(NANOS) (readable only as long via the
    * legacy conf), plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ), or
    * session-zoned TIMESTAMP. Normalize all three to TimestampType so
    * downstream operators see one type. Sessions run with
    * `spark.sql.session.timeZone=UTC`, so the NTZ→LTZ cast re-tags the
    * same micros value the oracle's naive `epoch_us(ts)` sees. */
  def events(spark: SparkSession, d: String): DataFrame = {
    val (path, schema) = rawEvents(spark, d)
    normalizeEventTs(spark.read.schema(schema).parquet(path))
  }

  /** The events fixture's path and RAW schema (`ts` as stored), for
    * readers that need it up front, like a file stream. The one setter of
    * the nanos conf: query code, since callers bring their own sessions. */
  def rawEvents(spark: SparkSession, d: String): (String, StructType) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$d/events.parquet"
    (path, spark.read.parquet(path).schema)
  }

  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      // legacy nanos-as-long: integral division — int64 nanos exceed
      // double's 2^53 mantissa, a float divide would corrupt timestamps
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      // fail AT the normalization boundary: a passthrough of a fourth
      // encoding (int32, string, …) would surface later as an opaque
      // watermark/window type error far from the cause (the r8 failure
      // mode, just one hop further downstream)
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported parquet encoding $other " +
          "(expected int64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = t(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = t(spark, d, "embeddings")
}
