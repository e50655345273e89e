package graft.reports

import graft.operators.Sessionize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Incrementally-maintained sessionization state — the Spark answer to the
  * reference's incremental batch sessionizer (`metricselasticsearch.py:
  * 1015-1072`), which tags only NEW events each run by carrying
  * `live_sessions` state. Deterministic recompute replaces its repair
  * protocol, but a naive recompute re-sorts all history every run; this
  * job bounds each run to the days whose events actually changed.
  *
  * Two-phase split that uses `Sessionize.withSessionSeqSplit`'s two
  * phases with the day as the bucket (exactness requires gap ≤ 1 day), so
  * the maintained view and the full recompute run the same code:
  *
  *  1. LOCAL: `Sessionize.withGapSeq` per (user, day), materialized as a
  *     parquet table partitioned by day. A per-day fingerprint — the day's
  *     bronze file listing, or an event digest over any other source —
  *     decides on the driver which day partitions to rebuild, and only
  *     those days' events reach the window: a daily incremental run
  *     touches the new day (and any late-data days), never the history.
  *  2. GLOBAL: `Sessionize.mergeBuckets` renumbers from the per-(user, day)
  *     summary — one row per user-day, O(users × days), tiny — recomputed
  *     in full each run (offsets downstream of a changed day shift
  *     anyway). [[read]] applies it lazily, so the expensive per-event
  *     state is never rewritten for a renumber.
  */
object SessionGold {

  /** Rebuild changed day-partitions of the local-session table, delete
    * vanished days, refresh the (tiny) state — all via the shared
    * [[GoldTables.incrementalOverwrite]] protocol, which filters the events
    * to the changed days before the per-(user, day) window runs. On a bare
    * bronze scan the day is bronze's `event_date` partition column — the
    * same `to_date(ts)` under a UTC session zone, which the bronze writer
    * stamps it with — so the days' fingerprints come from the partition
    * listing and the filter prunes whole directories. Returns (rebuilt,
    * skipped, removed) day counts. */
  def build(spark: SparkSession, events: DataFrame, gapSeconds: Long,
            localPath: String, statePath: String): (Long, Long, Long) = {
    require(gapSeconds <= 86400L, "split-by-day needs gap <= 1 day")
    val listed = events.columns.contains("event_date") &&
      events.schema("event_date").dataType == DateType &&
      GoldTables.listing(events, "event_date").isDefined && utcSession(spark)
    val byDay = events.withColumn("event_day",
      if (listed) col("event_date") else to_date(col("ts")))
    GoldTables.incrementalOverwrite(spark, byDay, "event_day",
      localPath, s"$statePath/days",
      rows => Sessionize.withGapSeq(rows,
        Seq(col("user_id"), col("event_day")), col("ts"), col("event_id"),
        gapSeconds, "local_seq"))
  }

  /** The session time zone is UTC (any zone fixed at offset zero), under
    * which `to_date(ts)` is the UTC day. */
  private def utcSession(spark: SparkSession): Boolean = {
    val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
      spark.conf.get("spark.sql.session.timeZone"))
    zone.getRules.isFixedOffset &&
      zone.getRules.getOffset(java.time.Instant.EPOCH) == java.time.ZoneOffset.UTC
  }

  /** Globally-numbered sessions from the materialized local table: the
    * join against per-event rows is the only data-sized work, and it reads
    * the cached partitions untouched. */
  def read(spark: SparkSession, localPath: String,
           gapSeconds: Long): DataFrame =
    Sessionize.mergeBuckets(spark.read.parquet(localPath), col("user_id"),
      col("event_day"), col("ts"), "local_seq", gapSeconds)
}
