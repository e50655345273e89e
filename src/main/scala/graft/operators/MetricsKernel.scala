package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The core aggregation kernel of the metrics engine — the Spark rebuild of
  * the reference's composite aggregation + date histogram + pivot +
  * zero-fill post-processing (SURVEY.md §2.4: A1–A3, A7, A12–A14).
  *
  * In the reference each of these steps is a separate system: ES composite
  * aggregations server-side (`metricsreader.py:229-294`), then three
  * near-identical 220-line Python pivot/zero-fill routines client-side
  * (`metricsreader.py:1596-2262`). Here the whole pipeline is one declarative
  * plan: Catalyst fuses filter→project→partial-agg into a single
  * whole-stage-codegen'd scan stage, and the only shuffle is the final
  * group-by exchange. Distinct counts are the one genuinely expensive step
  * (they force a per-(group,key) expansion); the reference uses ES
  * `cardinality` (HLL) — we expose both exact `countDistinct` (for the
  * oracle) and `approx_count_distinct` (HLL++, the 100 TB path).
  */
object MetricsKernel {

  /** A1/A3: composite group-by over a time bucket + dimensions, counting
    * distinct `idCol` per bucket. `unit` ∈ month|day|year — mirrors the
    * reference's groupBy dispatch (`metricsreader.py:711-721`).
    */
  def compositeAgg(df: DataFrame, ts: Column, unit: String, dims: Seq[Column],
                   idCol: Column, approx: Boolean = false): DataFrame = {
    val period = periodOf(ts, unit).as("period")
    val cnt = if (approx) approx_count_distinct(idCol) else countDistinct(idCol)
    df.groupBy(period +: dims: _*)
      .agg(cnt.as("unique_count"), count(lit(1)).as("total_count"))
  }

  /** Time bucket formatted as a sortable string — the engine's canonical
    * period key (the reference returns epoch-millis bucket keys and
    * reformats client-side, `metricsreader.py:334,1051`).
    */
  def periodOf(ts: Column, unit: String): Column = unit match {
    case "month" => date_format(ts, "yyyy-MM")
    case "day"   => date_format(ts, "yyyy-MM-dd")
    case "year"  => date_format(ts, "yyyy")
    case u => throw new IllegalArgumentException(s"unknown unit: $u")
  }

  /** A12: the date spine — one row per period between `start`/`end`
    * (inclusive, ISO dates), as (period), the engine's one spine builder.
    * It replaces the reference's per-month Python loops
    * (`metricsreader.py:1023-1033,1743-1753`), including their
    * skipped-partial-month bug, which we correct (SURVEY.md §7.4.6): start
    * is truncated to its unit boundary, since stepping from a mid-unit
    * start (e.g. Jan 20 monthly) would miss the final period whenever
    * end's day-of-unit is earlier than start's. So every date in
    * [start, end] has its period on the spine. Typed columns (never string
    * interpolation): start/end come from user-controlled request JSON.
    * One row exploded needs one partition: a default-parallelism range
    * would schedule a task per core, all but one of them empty.
    */
  def periodSpine(spark: org.apache.spark.sql.SparkSession, start: String,
                  end: String, unit: String): DataFrame = {
    val step = unit match {
      case "month" => "interval 1 month"
      case "day"   => "interval 1 day"
      case "year"  => "interval 1 year"
      case u => throw new IllegalArgumentException(s"unknown unit: $u")
    }
    spark.range(0, 1, 1, 1).select(explode(sequence(
      date_trunc(unit, to_date(lit(start))).cast("date"),
      to_date(lit(end)), expr(step))).as("d"))
      .select(periodOf(col("d"), unit).as("period"))
  }

  /** A12 for input that is already aggregated: left-joins `agg` to the
    * [[periodSpine]], zero-filling the periods it lacks. A caller that
    * still holds the raw rows should instead union the spine rows into
    * them before its one aggregation (as [[graft.api.MetricsApi]] does),
    * which needs no join. The spine is tiny (#periods rows) so the join
    * broadcasts.
    */
  def zeroFillSpine(agg: DataFrame, spark: org.apache.spark.sql.SparkSession,
                    start: String, end: String, unit: String,
                    countCols: Seq[String]): DataFrame = {
    val joined = periodSpine(spark, start, end, unit)
      .join(agg, Seq("period"), "left")
    countCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0L)))
    }
  }

  /** A13: pivot a type column into per-type count columns (the reference's
    * DATA→downloads / METADATA→views dispatch, `metricsreader.py:333-343`).
    * `typeMap` gives (type value → output column); explicit values keep the
    * plan a single pass (no extra distinct-values job) and the schema stable.
    */
  def pivotCounts(df: DataFrame, groupCols: Seq[Column], typeCol: Column,
                  typeMap: Seq[(String, String)], valueExpr: Column): DataFrame = {
    val aggs = typeMap.map { case (tv, out) =>
      sum(when(typeCol === tv, valueExpr).otherwise(lit(0L))).as(out)
    }
    df.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A7: COUNTER unique/total investigations & requests over sessionized
    * events (`metricsreporter.py:141-308`). `requests` covers the DATA-like
    * types; every event counts toward investigations. `dims` adds report
    * dimensions (node, country) — the single definition of the COUNTER
    * aggregate, shared with the report job so semantics cannot drift.
    */
  def counterMetrics(sessionized: DataFrame, period: Column, sessionKey: Column,
                     typeCol: Column, requestTypes: Seq[String],
                     dims: Seq[Column] = Nil): DataFrame = {
    val isReq = typeCol.isin(requestTypes: _*)
    sessionized.groupBy(period.as("period") +: dims: _*)
      .agg(
        countDistinct(sessionKey).as("unique_investigations"),
        count(lit(1)).as("total_investigations"),
        countDistinct(when(isReq, sessionKey)).as("unique_requests"),
        sum(when(isReq, 1L).otherwise(0L)).as("total_requests"))
  }

  /** Ordered funnel: per user, the timestamp at which each stage of
    * `stages` was first reached, where stage k counts only strictly after
    * stage k−1's timestamp (greedy first-match — standard funnel
    * semantics). One shuffle on the user key, then a within-row fold over
    * the user's time-sorted events; per-key state is `stages.length`
    * timestamps, so the operator scales wherever per-user event counts
    * do. Returns (user_id, stage_ts: array<long> — element k is the
    * micros timestamp of stage k, null if never reached). */
  def funnelStates(events: DataFrame, user: Column, tsMicros: Column,
      stageCol: Column, stages: Seq[String]): DataFrame = {
    val n = stages.length
    require(n >= 1, "funnel needs at least one stage")
    val k = (array_position(
      lit(stages.toArray), stageCol) - 1).cast("int").as("k")
    val empty = transform(sequence(lit(0), lit(n - 1)),
      _ => lit(null).cast("long"))
    val step = (acc: Column, e: Column) =>
      transform(sequence(lit(0), lit(n - 1)), j => {
        val cur = element_at(acc, j + 1)
        val hit = cur.isNull && e.getField("k") === j &&
          // branch guards element_at(acc, 0): CaseWhen evaluates lazily
          when(j === 0, lit(true)).otherwise(
            element_at(acc, j).isNotNull &&
              e.getField("us") > element_at(acc, j))
        when(hit, e.getField("us")).otherwise(cur)
      })
    events.filter(stageCol.isin(stages: _*))
      .select(user.as("user_id"), tsMicros.as("us"), k)
      .groupBy(col("user_id"))
      .agg(aggregate(array_sort(collect_list(struct(col("us"), col("k")))),
        empty, step).as("stage_ts"))
  }

  /** Funnel conversion counts: one row — total users plus how many
    * reached each stage in order. */
  def funnelCounts(events: DataFrame, user: Column, tsMicros: Column,
      stageCol: Column, stages: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_users") +:
      stages.zipWithIndex.map { case (st, i) =>
        count(element_at(col("stage_ts"), i + 1)).as(s"n_$st")
      }
    funnelStates(events, user, tsMicros, stageCol, stages)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** RFM segmentation (per-user recency/frequency/monetary quartiles →
    * segment populations) with a parity/scale conformance switch, same
    * discipline as [[Joins.idMatchJoin]]:
    *
    *  - `"parity"`: quartiles via `ntile(4)` over the per-user aggregate —
    *    the equal-population cut, replayable in ANSI SQL so the oracle can
    *    grade it exactly. The three ntile windows are UNPARTITIONED: every
    *    user funnels through one task per window. Fine at oracle scale, a
    *    straggler by construction at billions of users.
    *  - `"scale"` (default): quartile THRESHOLDS via one
    *    `approx_percentile([0.25, 0.5, 0.75])` aggregate per dimension,
    *    broadcast back as threshold compares — ZERO unpartitioned windows
    *    anywhere in the plan (PlanSpec-pinned). Population balance is
    *    approximate under ties (a tied run of values lands wholly in one
    *    quartile), which is the correct segmentation semantics at scale.
    *
    * The modes agree exactly when quartile boundaries are untied and the
    * user count divides by 4 (OperatorsSpec pins this on constructed
    * data); on tied data they differ only in which side of a boundary a
    * tied run lands.
    *
    * In BOTH modes the global "now" anchor (max last_ts) is a broadcast
    * one-row frame, not an unpartitioned window — result-identical and
    * shuffle-free either way.
    *
    * Output: (r_quartile, f_quartile, m_quartile, n_users, segment_value).
    */
  def rfmSegments(events: DataFrame, user: Column, ts: Column,
                  value: Column, mode: String = "scale"): DataFrame = {
    val perUser = events
      .groupBy(user.as("user_id"))
      .agg(max(ts).as("last_ts"),
        count(lit(1)).as("frequency"),
        sum(value.cast("decimal(18,6)")).as("monetary"))
    val gmax = perUser.agg(max(col("last_ts")).as("gmax"))
    val withRec = perUser.crossJoin(broadcast(gmax))
      .withColumn("recency_us",
        unix_micros(col("gmax")) - unix_micros(col("last_ts")))
    val seg = mode match {
      case "parity" =>
        withRec
          .withColumn("r_quartile", ntile(4).over(
            Window.orderBy(col("recency_us"), col("user_id"))))
          .withColumn("f_quartile", ntile(4).over(
            Window.orderBy(col("frequency").desc, col("user_id"))))
          .withColumn("m_quartile", ntile(4).over(
            Window.orderBy(col("monetary").desc, col("user_id"))))
      case "scale" =>
        val qs = array(lit(0.25), lit(0.5), lit(0.75))
        val th = withRec.agg(
          percentile_approx(col("recency_us"), qs, lit(10000)).as("r_th"),
          percentile_approx(col("frequency"), qs, lit(10000)).as("f_th"),
          percentile_approx(col("monetary").cast("double"), qs,
            lit(10000)).as("m_th"))
        // ascending dimension (small recency = best): v <= p25 → 1, …
        def ascQ(v: Column, t: Column): Column =
          when(v <= t.getItem(0), 1).when(v <= t.getItem(1), 2)
            .when(v <= t.getItem(2), 3).otherwise(4)
        // descending dimension (large frequency/monetary = best):
        // v > p75 → 1, … — strict compares so untied boundaries match
        // parity's ntile cut exactly
        def descQ(v: Column, t: Column): Column =
          when(v > t.getItem(2), 1).when(v > t.getItem(1), 2)
            .when(v > t.getItem(0), 3).otherwise(4)
        withRec.crossJoin(broadcast(th))
          .withColumn("r_quartile", ascQ(col("recency_us"), col("r_th")))
          .withColumn("f_quartile", descQ(col("frequency"), col("f_th")))
          .withColumn("m_quartile",
            descQ(col("monetary").cast("double"), col("m_th")))
      case other => throw new IllegalArgumentException(
        s"rfmSegments mode must be parity|scale, got $other")
    }
    seg.groupBy(col("r_quartile"), col("f_quartile"), col("m_quartile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("monetary")).cast("double").as("segment_value"))
  }

  /** A1/A7 cohort-overlap via KMV sketches: per-(dims, period) distinct
    * sketches over a pre-hashed member id, then union + INTERSECTION
    * cardinality estimates between each cohort and its successor period.
    * This is the set-operation question the reference's HLL cardinality
    * (`metricsreader.py:229-294`) cannot answer — "how many unique
    * users/sessions did periods P and P+1 share?" — and inclusion–
    * exclusion over HLLs explodes the error exactly when the overlap is
    * small. KMV sketches intersect natively (Beyer et al., SIGMOD'07);
    * see [[graft.plans.KmvSketchAgg]].
    *
    * Scale shape: one partial-agg exchange builds every cohort sketch
    * (≤ 8k bytes of state per cohort per map task — no distinct-shuffle
    * of raw members), then a self-join on the cohort key over the tiny
    * sketch table (#dims × #periods rows — broadcastable; AQE picks
    * broadcast from the post-agg size). Estimates are plain column
    * arithmetic, exact below saturation.
    *
    * @param dims       named cohort dimensions (alias them — names carry
    *                   to the output and the self-join key)
    * @param period     numeric period column; cohorts pair with period+1
    * @param memberHash pre-hashed LONG member id (compose with
    *                   [[graft.operators.Dedup.hash60]] for an
    *                   SQL-replayable sketch, `xxhash64` for production)
    * @return dims…, period, uniq_a, uniq_b, uniq_union, uniq_overlap
    */
  def kmvCohortOverlap(df: DataFrame, dims: Seq[Column], period: Column,
                       memberHash: Column, k: Int): DataFrame = {
    val sk = df.groupBy(dims :+ period.cast("long").as("period"): _*)
      .agg(Sketches.kmvSketch(memberHash, k).as("sk"))
    val dimNames = sk.columns.filterNot(Set("period", "sk")).toSeq
    val next = sk.select(
      dimNames.map(col) ++ Seq((col("period") - 1).as("period"),
        col("sk").as("sk_next")): _*)
    sk.join(next, dimNames :+ "period")
      .select(dimNames.map(col) ++ Seq(
        col("period"),
        Sketches.kmvEstimate(col("sk"), k).as("uniq_a"),
        Sketches.kmvEstimate(col("sk_next"), k).as("uniq_b"),
        Sketches.kmvEstimate(
          Sketches.kmvUnion(col("sk"), col("sk_next"), k), k).as("uniq_union"),
        Sketches.kmvIntersectEstimate(col("sk"), col("sk_next"), k)
          .as("uniq_overlap")): _*)
  }

  /** Period-over-period RETENTION / CHURN via KMV set differences — the
    * companion of [[kmvCohortOverlap]] asked with the product question's
    * words: of period P's unique members, how many came back in P+1
    * (`retained`), how many did not (`churned`), and how many of P+1's
    * members are new (`fresh`)? Same one-exchange sketch build and tiny
    * self-join; `retained + churned` reconstructs `uniq_a` and
    * `fresh + retained` reconstructs `uniq_b` exactly below saturation
    * (and within floor-rounding at it), since all three estimates scale
    * the same union sketch. HLLs cannot answer any of the three.
    *
    * @return dims…, period, uniq_a, uniq_b, retained, churned, fresh
    */
  def kmvRetention(df: DataFrame, dims: Seq[Column], period: Column,
                   memberHash: Column, k: Int): DataFrame = {
    val sk = df.groupBy(dims :+ period.cast("long").as("period"): _*)
      .agg(Sketches.kmvSketch(memberHash, k).as("sk"))
    val dimNames = sk.columns.filterNot(Set("period", "sk")).toSeq
    val next = sk.select(
      dimNames.map(col) ++ Seq((col("period") - 1).as("period"),
        col("sk").as("sk_next")): _*)
    sk.join(next, dimNames :+ "period")
      .select(dimNames.map(col) ++ Seq(
        col("period"),
        Sketches.kmvEstimate(col("sk"), k).as("uniq_a"),
        Sketches.kmvEstimate(col("sk_next"), k).as("uniq_b"),
        Sketches.kmvIntersectEstimate(col("sk"), col("sk_next"), k)
          .as("retained"),
        Sketches.kmvDiffEstimate(col("sk"), col("sk_next"), k)
          .as("churned"),
        Sketches.kmvDiffEstimate(col("sk_next"), col("sk"), k)
          .as("fresh")): _*)
  }

  /** WEIGHTED retention/churn from pair sketches — [[kmvRetention]]
    * asked in revenue terms: of period P's cents, how much came from
    * members who churned (`churned_cents` — P-side weights of P∖P+1),
    * how much of P+1's cents is from new members (`fresh_cents`), and
    * how much did members active in BOTH spend across the two periods
    * (`shared_cents`)? Below saturation the weighted partition is
    * exact: `cents_a + cents_b = churned + fresh + shared`. One
    * pair-sketch exchange + the same tiny self-join; no plain aggregate
    * answers any of the three without re-joining raw events.
    *
    * @param weight LONG weight per row (cents, tokens — longs keep
    *               partial sums associative for hash-exact replay)
    * @return dims…, period, cents_a, cents_b, shared_cents,
    *         churned_cents, fresh_cents
    */
  def kmvWeightedRetention(df: DataFrame, dims: Seq[Column],
                           period: Column, memberHash: Column,
                           weight: Column, k: Int): DataFrame = {
    val sk = df.groupBy(dims :+ period.cast("long").as("period"): _*)
      .agg(Sketches.kmvPairSketch(memberHash, weight, k).as("sk"))
    val dimNames = sk.columns.filterNot(Set("period", "sk")).toSeq
    val next = sk.select(
      dimNames.map(col) ++ Seq((col("period") - 1).as("period"),
        col("sk").as("sk_next")): _*)
    sk.join(next, dimNames :+ "period")
      .select(dimNames.map(col) ++ Seq(
        col("period"),
        Sketches.kmvWeightEstimate(col("sk"), k).as("cents_a"),
        Sketches.kmvWeightEstimate(col("sk_next"), k).as("cents_b"),
        Sketches.kmvPairIntersectWeight(col("sk"), col("sk_next"), k)
          .as("shared_cents"),
        Sketches.kmvPairDiffWeight(col("sk"), col("sk_next"), k)
          .as("churned_cents"),
        Sketches.kmvPairDiffWeight(col("sk_next"), col("sk"), k)
          .as("fresh_cents")): _*)
  }
}
