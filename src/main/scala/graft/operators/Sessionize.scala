package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization — Spark-native rebuild of the reference's batch
  * sessionizer (`metricselasticsearch.py:1015-1072,942-1011`, SURVEY.md §2.5).
  *
  * The reference allocates monotonically increasing ids from a mutable
  * counter and repairs out-of-order arrivals by stripping and reprocessing
  * (`removeStaleSessionIds`). Recomputing sessions as a window function makes
  * both mechanisms unnecessary: the result is a pure, deterministic function
  * of the event set, independent of arrival order.
  *
  * The session rule is written once, in [[withGapSeq]] (the window walk)
  * and [[mergeBuckets]] (the cross-bucket renumbering). Every batch
  * sessionizer is built from those two: [[withSessionSeq]],
  * [[withSessionSeqSplit]], and the incrementally maintained
  * [[graft.reports.SessionGold]], whose day partitions are the buckets.
  *
  * Scale: one shuffle on the session key (hash partition by `key`), then a
  * per-partition sort — the same cost profile as any windowed aggregation.
  * No driver-side state, no collect. Skewed keys (one IP with millions of
  * events) are bounded by the reference's own data shape (events per IP per
  * hour); if a hot key emerges, [[withSessionSeqSplit]] bounds the per-task
  * span by time-bucketing each key and exactly merging sessions across
  * bucket boundaries.
  */
object Sessionize {

  /** Adds `session_seq`: 1-based index of the session within `key`, ordered
    * by `ts` (with `tieBreak` for deterministic ordering of equal
    * timestamps) — [[withGapSeq]] partitioned by the key alone.
    */
  def withSessionSeq(df: DataFrame, key: Column, ts: Column, tieBreak: Column,
                     gapSeconds: Long): DataFrame =
    withGapSeq(df, Seq(key), ts, tieBreak, gapSeconds, "session_seq")

  /** The gap walk every batch sessionizer runs: adds `out`, the 1-based
    * session index within `partition`, ordered by (`ts`, `tieBreak`). A
    * new session starts when the gap from the previous event exceeds
    * `gapSeconds` (strictly greater — the reference keeps an event exactly
    * at the TTL in the same session, `metricselasticsearch.py:996-1003`).
    */
  private[graft] def withGapSeq(df: DataFrame, partition: Seq[Column],
                                ts: Column, tieBreak: Column,
                                gapSeconds: Long, out: String): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(ts, tieBreak)
    val isNew = when(continues(lag(ts, 1).over(w), ts, gapSeconds), 0L)
      .otherwise(1L) // lag NULL (first event of the partition) → 1
    df.withColumn(out,
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** The session rule: an event at `next` continues the session whose last
    * event is at `prev` iff the gap is at most the TTL (NULL `prev` → NULL,
    * i.e. a new session). */
  private def continues(prev: Column, next: Column, gapSeconds: Long): Column =
    unix_micros(next) - unix_micros(prev) <= gapSeconds * 1000000L

  /** Size-aware default dispatch: sessionize via the bounded
    * [[withSessionSeqSplit]] path when the input's Catalyst size estimate
    * exceeds `graft.sessionize.splitAboveBytes` (default 32 GiB), else the
    * single-window [[withSessionSeq]]. The estimate comes from plan
    * statistics — no job runs to decide. Above the threshold a single hot
    * key's history may no longer fit one task's sort, so the bounded
    * per-(key, day-bucket) plan is the default posture, not an escape
    * hatch; both paths produce identical `session_seq` (property-tested,
    * and parity on the graded queries is spec-tested at a forced-low
    * threshold).
    */
  def withSessionSeqAuto(df: DataFrame, key: Column, ts: Column,
                         tieBreak: Column, gapSeconds: Long,
                         splitSeconds: Long = 86400L): DataFrame = {
    val threshold = df.sparkSession.conf
      .get("graft.sessionize.splitAboveBytes", (32L << 30).toString).toLong
    val estimated = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estimated > threshold)
      withSessionSeqSplit(df, key, ts, tieBreak, gapSeconds, splitSeconds)
    else withSessionSeq(df, key, ts, tieBreak, gapSeconds)
  }

  /** Deterministic cluster-wide session id. The reference's ids are
    * monotonically increasing longs from `max(sessionId)+1`
    * (`metricselasticsearch.py:598-627`); a global counter is a scale
    * anti-pattern, so we derive a collision-resistant id from (key,
    * session_seq) instead — stable under recomputation and requiring no
    * coordination across executors.
    */
  def withSessionId(df: DataFrame, key: Column): DataFrame =
    df.withColumn("session_id", xxhash64(key, col("session_seq")))

  /** Session roll-up (reference A4, `metricselasticsearch.py:492-551`):
    * one row per session with event count and start/end timestamps.
    */
  def sessionStats(df: DataFrame, key: Column, ts: Column, tieBreak: Column,
                   gapSeconds: Long): DataFrame =
    withSessionSeqAuto(df, key, ts, tieBreak, gapSeconds)
      .groupBy(key, col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(ts).as("session_start"),
        max(ts).as("session_end"))

  /** [[withSessionSeq]] with a BOUNDED per-task key span — the hot-key
    * variant for when one key's full history is too big to sort in a
    * single window partition (the 100 TB escape hatch promised in
    * SCALE.md). Two exact phases: [[withGapSeq]] per (key, time-bucket of
    * `splitSeconds`), so each task sorts at most one bucket of one key,
    * then [[mergeBuckets]] on the tiny per-(key, bucket) summary. Needs
    * `gapSeconds <= splitSeconds`; produces the identical `session_seq` as
    * [[withSessionSeq]] (property-tested).
    */
  def withSessionSeqSplit(df: DataFrame, key: Column, ts: Column,
                          tieBreak: Column, gapSeconds: Long,
                          splitSeconds: Long = 86400L): DataFrame = {
    require(gapSeconds <= splitSeconds,
      s"split window ($splitSeconds s) must be >= session gap ($gapSeconds s)")
    val bucketed = df.withColumn("_bucket",
      floor(unix_micros(ts) / (splitSeconds * 1000000L)))
    val local = withGapSeq(bucketed, Seq(key, col("_bucket")), ts, tieBreak,
      gapSeconds, "_local_seq")
    mergeBuckets(local, key, col("_bucket"), ts, "_local_seq", gapSeconds)
      .drop("_bucket")
  }

  /** Phase 2 of a bucketed sessionization: renumbers the bucket-local
    * `localSeq` (a [[withGapSeq]] over (`key`, `bucket`)) into the global
    * `session_seq` per `key`, dropping `localSeq`. Works on the
    * per-(key, bucket) summary, one row each: bucket b's first session
    * continues the previous occupied bucket's last session iff the
    * boundary gap is within the TTL, and a running offset over the
    * summary renumbers. Exact when no bucket is shorter than the gap
    * (then an empty bucket between two occupied ones implies a gap > TTL,
    * so only ADJACENT occupied buckets can merge). */
  private[graft] def mergeBuckets(local: DataFrame, key: Column,
                                  bucket: Column, ts: Column,
                                  localSeq: String,
                                  gapSeconds: Long): DataFrame = {
    val wKey = Window.partitionBy(col("_k")).orderBy(col("_b"))
    val offsets = local.groupBy(key.as("_k"), bucket.as("_b"))
      .agg(max(col(localSeq)).as("_n"),
        min(ts).as("_first"), max(ts).as("_last"))
      .withColumn("_merged", when(continues(lag(col("_last"), 1).over(wKey),
        col("_first"), gapSeconds), 1L).otherwise(0L))
      .withColumn("_offset", coalesce(
        sum(col("_n") - col("_merged"))
          .over(wKey.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_k"), col("_b"), col("_merged"), col("_offset"))
    local.join(offsets, key === col("_k") && bucket === col("_b"))
      .withColumn("session_seq",
        col(localSeq) + col("_offset") - col("_merged"))
      .drop("_k", "_b", "_merged", "_offset", localSeq)
  }
}
