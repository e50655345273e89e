package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.operators.MetricsKernel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `MetricsRequest` filter clause (`metricsreader.py:108-161`):
  * interpretAs ∈ list | range. */
case class MetricsFilter(filterType: String, values: Seq[String],
                         interpretAs: String)

/** The reference's request model (`LandingPageQueryRequest.json:1-20`). */
case class MetricsRequest(metrics: Seq[String], filterBy: Seq[MetricsFilter],
                          groupBy: Seq[String])

/** The query-language surface of the engine: a JSON `MetricsRequest` is
  * interpreted into one declarative DataFrame plan (SURVEY.md §3.1-3.2).
  * The reference hand-builds ES DSL per (filterType, interpretAs) pair and
  * post-processes in three near-identical 220-line Python routines
  * (`metricsreader.py:1596-2262`); here the dispatch produces a single
  * parameterized plan — filter → pivot-agg → zero-fill — and Catalyst
  * handles the rest.
  */
object MetricsApi {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def parse(json: String): MetricsRequest =
    mapper.readValue(json, classOf[MetricsRequest])

  /** Metric name → event_type value (the reference's DATA→downloads /
    * METADATA→views dispatch, `metricsreader.py:333-343`). */
  private val MetricTypes = Map(
    "views" -> "view", "downloads" -> "purchase", "clicks" -> "click",
    "signups" -> "signup", "errors" -> "error")

  private val Units = Set("month", "day", "year")

  /** Interpret a request into a long-format result over the events table:
    * one row per period (zero-filled across the requested range) with one
    * column per requested metric. The catalog/package path returns the
    * per-entity summary shape instead (`getSummaryMetricsPerCatalog`,
    * `metricsreader.py:134-137`). */
  def interpret(spark: SparkSession, dir: String, req: MetricsRequest): DataFrame = {
    // validate up front (mirrors the unsupported-filter/groupBy branches):
    // an unknown metric would otherwise be silently dropped from the pivot
    // but still zero-fill-coalesced -> AnalysisException deep in the plan
    val unknown = req.metrics.filterNot(MetricTypes.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unsupported metrics: ${unknown.mkString(", ")} " +
          s"(supported: ${MetricTypes.keys.toSeq.sorted.mkString(", ")})")
    if (req.metrics.isEmpty)
      throw new IllegalArgumentException("metrics must be non-empty")

    // resolved once per (session, dir): no listing or schema-inference
    // job per request
    val events = IdentifierDim.events(spark, dir)
    // the engine's bronze layout (Ingest.writeBronze) is partitioned by
    // event_date; the flat layout of the generated tables has none
    val datePartitioned = events.columns.contains("event_date")

    // catalog/package selects the per-entity response SHAPE; every other
    // filter still applies — silently ignoring a time range would serve
    // inflated all-time counts
    val (catalogFilters, otherFilters) =
      req.filterBy.partition(f => Set("catalog", "package")(f.filterType))

    val filtered = otherFilters.foldLeft(events) { (df, f) =>
      (f.filterType, f.interpretAs) match {
        case ("dataset", "list") =>
          // J4: expand requested ids to their identifier families through
          // the materialized identifiers dimension, then keep any family
          // member via a broadcast semi-join (`metricsreader.py:1259-1343`)
          // — the fact scan is filtered by a BroadcastHashJoin, exactly the
          // plan a 1000-executor run needs (no modulo shortcut). The member
          // frame reads only the checkpointed dim and the request's ids, so
          // the fact table is scanned once and nothing shuffles.
          val members = IdentifierDim.familyMembers(spark, dir,
            f.values.map(parseLong("dataset", _)))
          df.join(broadcast(members), Seq("user_id"), "left_semi")
        case ("user" | "group", "list") => // group = list of user subjects
          // numeric ids filter natively (In-filter reaches the parquet
          // scan); a string-side cast on the column would block pushdown
          val numeric = f.values.flatMap(v => scala.util.Try(v.toLong).toOption)
          if (numeric.length == f.values.length)
            df.filter(IdentifierDim.inIds(col("user_id"), numeric))
          else df.filter(col("user_id").cast("string").isin(f.values: _*))
        case ("eventType", "list") =>
          df.filter(col("event_type").isin(f.values: _*))
        case ("repository", "list") =>
          // F3: node filter, skipped for the CN aggregate node
          // (`metricsreader.py:745-751`). Membership comes from the
          // materialized node dimension via a broadcast semi-join (J6) —
          // the fact side is filtered by a BroadcastHashJoin, not an
          // array-lookup expression.
          val nodes = f.values.filterNot(_ == "urn:node:CN")
          if (nodes.isEmpty) df
          else {
            val members = IdentifierDim.nodeDim(spark, dir)
              .filter(col("node_id").isin(nodes: _*)).select(col("user_id"))
            df.join(broadcast(members), Seq("user_id"), "left_semi")
          }
        case ("time" | "month" | "day" | "year", "range") =>
          // the reference names the range filter after the period unit and
          // sends %m/%d/%Y dates (`metricsreader.py:702-709`); accept both
          if (f.values.length < 2)
            throw new IllegalArgumentException(
              s"${f.filterType} range filter needs [start, end], " +
                s"got ${f.values.length} value(s)")
          val Seq(a, b) = f.values.take(2).map(isoDate)
          val (lo, hi) = (to_date(lit(a)), to_date(lit(b)))
          // event_date = to_date(ts) under the pinned UTC zone, so the
          // partition bounds select exactly the rows the ts bounds keep:
          // the scan skips every other day's files, and the bounds stay
          // out of the generated code (ts literals would be compiled into
          // it, one class per range)
          df.filter(if (datePartitioned) col("event_date").between(lo, hi)
            else col("ts") >= lo && col("ts") < date_add(hi, 1))
        case ("portal", "list") =>
          // F4: portal membership via the flattened portalIdentifier[]
          // dimension, broadcast semi-joined against the fact side
          // (`metricsreader.py:1449-1453`)
          val members = IdentifierDim.portalMembers(spark, dir,
            f.values.map(v => parseLong("portal", v.stripPrefix("portal-"))))
          df.join(broadcast(members), Seq("user_id"), "left_semi")
        case ("query", "query") =>
          // interpretAs=query: the portal collection-query filter
          // (`metricsreader.py:151-156`) — a field:value boolean expression
          df.filter(QueryStringFilter.compile(f.values.head))
        case other =>
          throw new IllegalArgumentException(s"unsupported filter: $other")
      }
    }

    catalogFilters match {
      case Seq(f) => return catalogSummary(filtered, f.values, req.metrics)
      case Seq() =>
      case _ => throw new IllegalArgumentException(
        "at most one catalog/package filter is supported")
    }

    val unit = req.groupBy.map(_.stripSuffix("s")).find(Units.contains)
      .getOrElse("month")
    // geo dimension (`metricsreader.py:786-796`): attributed through the
    // broadcast node dim, same plan shape as the repository filter
    val wantsCountry = req.groupBy.contains("country")
    val attributed =
      if (wantsCountry)
        filtered.join(broadcast(IdentifierDim.nodeDim(spark, dir)
          .select(col("user_id"), col("country"))), Seq("user_id"))
      else filtered
    val dims = req.groupBy.filterNot(g => Units.contains(g.stripSuffix("s"))).map {
      case "eventType" => col("event_type")
      case "user" => col("user_id")
      case "country" => col("country")
      case g => throw new IllegalArgumentException(s"unsupported groupBy: $g")
    }

    val typeMap = req.metrics.flatMap(m => MetricTypes.get(m).map(_ -> m))
    val agg = MetricsKernel.pivotCounts(attributed,
      MetricsKernel.periodOf(col("ts"), unit).as("period") +: dims,
      col("event_type"), typeMap, lit(1L))

    // zero-fill over the requested range (only for the plain time series —
    // extra dims would need a spine × dim-domain cross join)
    req.filterBy.find(f => f.interpretAs == "range" &&
      Set("time", "month", "day", "year")(f.filterType)) match {
      case Some(f) if dims.isEmpty =>
        MetricsKernel.zeroFillSpine(agg, spark, isoDate(f.values.head),
          isoDate(f.values(1)), unit, req.metrics)
      case _ => agg
    }
  }

  /** Numeric id parse with a request-level error instead of a raw
    * NumberFormatException from deep inside the plan builder. */
  private def parseLong(filterType: String, v: String): Long =
    try v.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$filterType filter value '$v' is not a numeric id")
    }

  /** Accepts ISO (yyyy-MM-dd) or the reference's %m/%d/%Y. */
  private def isoDate(v: String): String =
    if (v.contains("/")) {
      val Array(m, d, y) = v.split("/")
      f"$y-${m.toInt}%02d-${d.toInt}%02d"
    } else v

  /** A15 response shape: one row per catalog entity with distinct-event
    * usage counts per requested metric. */
  private def catalogSummary(events: DataFrame, ids: Seq[String],
                             metrics: Seq[String]): DataFrame = {
    val aggs = metrics.flatMap(m => MetricTypes.get(m).map { t =>
      countDistinct(when(col("event_type") === t, col("event_id"))).as(m)
    })
    events.filter(IdentifierDim.inIds(col("user_id"),
        ids.map(parseLong("catalog", _))))
      .groupBy(col("user_id").as("entity"))
      .agg(aggs.head, aggs.tail: _*)
  }

  def interpretJson(spark: SparkSession, dir: String, json: String): DataFrame =
    interpret(spark, dir, parse(json))

  /** The reference's `/metrics/filters` catalog route (`app.py:29-31`):
    * the filter types the interpreter accepts together with their
    * enumerable value domains — (filter_type, value) rows served from the
    * materialized dimensions (node/portal) plus the event-type domain.
    * Unbounded-domain filter types (dataset/user ids, time ranges) are
    * validated by the interpreter rather than enumerated, like the
    * reference's catalog. Domains are dimension-table-sized (a handful of
    * rows each), so the whole catalog is one distinct over the union of
    * the four sources — the filter types are disjoint, so that is the same
    * row set as a distinct per source, in one aggregation instead of four.
    * The catalog depends only on the data, so it is built once per
    * (session, dir) and held on the driver ([[IdentifierDim.collected]]),
    * with the dims' lifecycle: a request reads the local rows without a
    * Spark job, and files appended to the directory show after
    * `IdentifierDim.invalidate`. */
  def filtersCatalog(spark: SparkSession, dir: String): DataFrame =
    IdentifierDim.collected(spark, dir, "filters") {
      val node = IdentifierDim.nodeDim(spark, dir)
      IdentifierDim.events(spark, dir)
        .select(lit("eventType").as("filter_type"),
          col("event_type").as("value"))
        .unionByName(node.select(lit("repository").as("filter_type"),
          col("node_id").as("value")))
        .unionByName(node.select(lit("country").as("filter_type"),
          col("country").as("value")))
        .unionByName(IdentifierDim.portalDim(spark, dir)
          .select(lit("portal").as("filter_type"),
            concat(lit("portal-"), col("portal_id").cast("string"))
              .as("value")))
        .distinct()
    }

  /** The reference's column-oriented response shape: one row of parallel
    * arrays ordered by period, plus the `resultDetails` totals
    * (`metricsreader.py:315-323,1609-1615,1810-1814`). The totals fold the
    * collected count arrays (null for no period, as `sum` gives), so the
    * object-hash aggregation holds `collect_list` alone and compiles fewer
    * projections per request. */
  def columnarResponse(longDf: DataFrame, metrics: Seq[String]): DataFrame = {
    val ordered = sort_array(collect_list(struct(
      col("period") +: metrics.map(col): _*))).as("r")
    val totals = metrics.map { m =>
      val counts = filter(col(s"r.$m"), _.isNotNull)
      when(size(counts) > 0,
        aggregate(counts, lit(0L), (acc, x) => acc + x)).as(s"total_$m")
    }
    val arrays = col("r.period").as("periods") +:
      (metrics.map(m => col(s"r.$m").as(m)) ++ totals)
    longDf.agg(ordered).select(arrays: _*)
  }
}
