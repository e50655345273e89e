package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * Design note for 100 TB: every loader returns a plain parquet scan so
  * Catalyst predicate pushdown / column pruning reach the file source; no
  * caching or collect here. The `events` fact table is the stand-in for the
  * reference's `eventlog-*` index (SURVEY.md §1.2) — at scale it would be
  * written partitioned by `year/month(ts)` so the mandatory date-range
  * filter (reference `metricselasticsearch.py:1115-1123`) prunes partitions.
  */
/** Typed event record — the ingest-validation edge (SURVEY §1.4/§7.1:
  * `Dataset[ReadEvent]` at the edge; `DataFrame` for aggregation plans). */
case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The events fact table. The on-disk `ts` physical type has drifted
    * across test-data generations (nanosecond TIMESTAMP_NS early on, plain
    * microsecond timestamp now), so the loader is SCHEMA-ADAPTIVE rather
    * than pinned to one layout:
    *
    *  - `ts` surfaces as `LongType` (TIMESTAMP_NS under the legacy
    *    `nanosAsLong` conf, or a raw INT64 nanos column): rebuild a
    *    microsecond TimestampType via integer division — `/` would
    *    round-trip through double and lose sub-µs precision on
    *    1.7e18-scale nanos. Matches DuckDB's TIMESTAMP_NS→TIMESTAMP
    *    coercion, so oracle comparisons line up exactly.
    *  - anything else (TIMESTAMP_NTZ from µs-no-tz parquet, or already
    *    TimestampType): cast to TIMESTAMP. The NTZ→TIMESTAMP cast is
    *    value-identical under the pinned UTC session timezone and is
    *    REQUIRED — `unix_micros` (Sessionize) and streaming watermarks
    *    reject TIMESTAMP_NTZ inputs.
    *
    * KNOWN SIDE EFFECT: `nanosAsLong` is a session-wide conf consulted at
    * both schema resolution and scan execution, so it cannot be scoped to
    * this one (lazy) read — after the first `events` call, any OTHER
    * TIMESTAMP_NS parquet source in the session would also surface as
    * long. No such source exists in this engine (every table loads through
    * this object and only `events` may carry nanos); production ingest
    * lands through the bronze writer, which stores microseconds.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // harmless for µs data; required to even resolve a TIMESTAMP_NS schema
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    val tsCol = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts DIV 1000"))
      case _                                   => col("ts").cast("timestamp")
    }
    raw.withColumn("ts", tsCol)
  }

  /** Typed edge: schema-validated events. `.as[Event]` fails analysis on
    * any column/type drift — the schema-on-write guarantee the reference
    * gets from its ES index template (`elastic_notes.rst:216-250`). */
  def eventsTyped(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[Event] = {
    import spark.implicits._
    events(spark, dir).as[Event]
  }
}
