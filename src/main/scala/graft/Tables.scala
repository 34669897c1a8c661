package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables.
  *
  * Scale posture: plain `spark.read.parquet` keeps the scan fully
  * declarative so Catalyst pushes filters/projections into the parquet
  * reader (verified in specs via the explain plan). At cluster scale the
  * same call reads a partitioned directory tree; nothing here assumes a
  * single file.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Internal contract for `events.ts`: long epoch-NANOS, whatever the
    * parquet layout ships. Known layouts: parquet TIMESTAMP(NANOS) read
    * as BIGINT under `nanosAsLong` (early driver data, ScaleGen
    * round-trips), and timestamp[us] read as TIMESTAMP / TIMESTAMP_NTZ
    * (current driver data). Normalizing HERE — at the read boundary,
    * the reference's validate-at-startup posture (config.py:26-47)
    * applied to data — keeps every consumer's `ts div 1e9` arithmetic
    * on one type instead of scattering per-site casts. The NTZ→TZ cast
    * is exact: every entry point pins spark.sql.session.timeZone=UTC,
    * so the stored micros pass through unchanged. */
  def tsToNanos(dt: DataType, ts: Column): Column = dt match {
    case TimestampType    => unix_micros(ts) * 1000L
    case TimestampNTZType => unix_micros(ts.cast(TimestampType)) * 1000L
    case LongType         => ts
    case other => throw new IllegalArgumentException(
      s"events.ts: unsupported type $other (expected TIMESTAMP/TIMESTAMP_NTZ/BIGINT-nanos)")
  }

  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType != LongType =>
        df.withColumn("ts", tsToNanos(f.dataType, col("ts")))
      case _ => df
    }

  /** events with the raw on-disk schema — streaming readers need this
    * as their source schema (a normalized LongType `ts` would not match
    * the parquet timestamp column); they then apply [[normalizeEventTs]]
    * on the stream itself. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = t(s, d, "events")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = normalizeEventTs(t(s, d, "events"))
  /** [[events]] over its raw `schema`, already read: no inference job. */
  def events(s: SparkSession, d: String, schema: StructType): DataFrame =
    normalizeEventTs(s.read.schema(schema).parquet(s"$d/events.parquet"))
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
