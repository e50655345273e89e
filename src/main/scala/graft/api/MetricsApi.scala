package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.operators.MetricsKernel
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

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
  * (`metricsreader.py:1596-2262`). Here a request is split the same way,
  * between the driver and one distributed step:
  *
  *  - id lists (dataset families, repository and portal members) are
  *    resolved on the driver from [[IdentifierDim]]'s membership indexes
  *    and filter the fact scan as one `InSet`, as the reference sends a
  *    resolved `terms` filter;
  *  - zero-fill is folded into the one aggregation: the period spine's
  *    rows are unioned into the filtered events with a null `event_type`,
  *    so they add their periods with 0 counts and need no join;
  *  - [[columnarResponse]] collects that long result (periods × metrics
  *    rows at most) and assembles the parallel arrays on the driver, as
  *    the reference does client-side.
  *
  * A request then runs one grouped count: its shuffle-map job and its
  * result job. Only a `country` groupBy adds a job, for its broadcast join
  * to the node dim. [[interpret]] itself stays a lazy
  * plan and launches no job once the session's dims are built.
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
          // the identifiers dimension's driver index, then keep any family
          // member (`metricsreader.py:1259-1343`) — the resolved id list is
          // the reference's `terms` filter, not a modulo shortcut
          df.filter(IdentifierDim.inIds(col("user_id"),
            IdentifierDim.familyMembers(spark, dir,
              f.values.map(parseLong("dataset", _)))))
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
          // (`metricsreader.py:745-751`). Membership comes from the node
          // dimension's driver index (J6) as a resolved id list, not an
          // array-lookup expression on the fact side.
          val nodes = f.values.filterNot(_ == "urn:node:CN")
          if (nodes.isEmpty) df
          else df.filter(IdentifierDim.inIds(col("user_id"),
            IdentifierDim.nodeMembers(spark, dir, nodes)))
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
          // dimension's driver index (`metricsreader.py:1449-1453`)
          df.filter(IdentifierDim.inIds(col("user_id"),
            IdentifierDim.portalMembers(spark, dir, f.values.map(v =>
              parseLong("portal", v.stripPrefix("portal-"))))))
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
    val period = MetricsKernel.periodOf(col("ts"), unit).as("period")

    // zero-fill over the requested range (only for the plain time series —
    // extra dims would need a spine × dim-domain cross join), folded into
    // the one aggregation: a spine row's null event_type matches no metric,
    // so it adds its period with 0 counts. Exact, because the range filter
    // keeps events within [start, end], whose periods all lie on the spine.
    req.filterBy.find(f => f.interpretAs == "range" &&
      Set("time", "month", "day", "year")(f.filterType)) match {
      case Some(f) if dims.isEmpty =>
        val spine = MetricsKernel.periodSpine(spark, isoDate(f.values.head),
          isoDate(f.values(1)), unit)
          .select(col("period"), lit(null).cast("string").as("event_type"))
        MetricsKernel.pivotCounts(
          attributed.select(period, col("event_type")).unionByName(spine),
          Seq(col("period")), col("event_type"), typeMap, lit(1L))
      case _ =>
        MetricsKernel.pivotCounts(attributed, period +: dims,
          col("event_type"), typeMap, lit(1L))
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
    * usage counts per requested metric — per entity and metric type t,
    * `countDistinct(when(event_type = t, event_id))`, planned in one
    * exchange: above a single `user_id` repartition, one row per
    * (entity, event_id) carries a 0/1 flag per metric (1 when some row of
    * that event_id has type t; never for a null event_id, which
    * `countDistinct` skips), and the flags are summed per entity. An
    * entity whose event_ids are all null keeps its row of zeros. */
  private def catalogSummary(events: DataFrame, ids: Seq[String],
                             metrics: Seq[String]): DataFrame = {
    val flags = metrics.map { m =>
      max(when(col("event_type") === MetricTypes(m) &&
        col("event_id").isNotNull, 1L).otherwise(0L)).as(m)
    }
    val sums = metrics.map(m => sum(col(m)).as(m))
    events.filter(IdentifierDim.inIds(col("user_id"),
        ids.map(parseLong("catalog", _))))
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("event_id"))
      .agg(flags.head, flags.tail: _*)
      .groupBy(col("user_id"))
      .agg(sums.head, sums.tail: _*)
      .withColumnRenamed("user_id", "entity")
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
    * (`metricsreader.py:315-323,1609-1615,1810-1814`), assembled on the
    * driver as the reference assembles it client-side. Collects `longDf`
    * (one row per period, so periods × metrics values), orders its rows
    * as `sort_array` orders structs — Spark's interpreted ordering,
    * ascending, nulls first, field by field — and returns the response as
    * a local relation: `periods` array, one array per metric, then
    * `total_<metric>` bigint per metric, the sum of its non-null counts,
    * or null when there are none (as `sum` gives). Reading the result runs
    * no Spark job; the collect here runs `longDf`'s. */
  def columnarResponse(longDf: DataFrame, metrics: Seq[String]): DataFrame = {
    val long = longDf.select(col("period") +: metrics.map(col): _*)
    val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(long.schema)
    val rows = long.collect()
      .sortBy(toCatalyst)(TypeUtils.getInterpretedOrdering(long.schema))
    val arrays = long.schema.fields.indices.map(i => rows.map(_.get(i)).toSeq)
    val totals = arrays.tail.map { counts =>
      val present = counts.filter(_ != null)
      if (present.isEmpty) null
      else present.map(_.asInstanceOf[Number].longValue).sum
    }
    def arrayOf(name: String, f: StructField) =
      StructField(name, ArrayType(f.dataType, f.nullable), nullable = false)
    val fields = long.schema.fields.toSeq
    val schema = StructType(arrayOf("periods", fields.head) +:
      (fields.tail.map(f => arrayOf(f.name, f)) ++
        metrics.map(m => StructField(s"total_$m", LongType))))
    longDf.sparkSession.createDataFrame(
      java.util.List.of(Row.fromSeq(arrays ++ totals)), schema)
  }
}
