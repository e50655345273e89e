package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.api.{IdentifierDim, MetricsApi}
import graft.operators.{Dedup, Enrich, Sessionize}
import graft.reports.{CounterReport, GoldTables, SessionGold}
import graft.sources.Ingest

/** Drives the engine's public functions for one workload and writes the raw
  * measurements (operation latencies, spans, per-span Spark work, output
  * facts for the checker) as JSON. Usage: `Harness <config.json> <out.json>`;
  * `perfbench/run.py` writes the config and turns the output into metrics.
  *
  * Every timed call materializes its full result: API responses are
  * collected, builds and reports write their real output, and the `noop`
  * sink is used only for reads whose result nothing writes. No timed call
  * uses `count()`, which lets Catalyst prune the work a user waits for. */
object Harness {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val result = new Harness(cfg).run()
    mapper.writeValue(new File(args(1)), result)
  }
}

final class Harness(cfg: JsonNode) {
  private val workload = cfg.get("workload").asText
  private val seconds = cfg.get("seconds").asDouble
  private val traced = cfg.get("trace").asBoolean
  private val work = cfg.get("work").asText
  private val setupReps = cfg.get("setup_reps").asInt
  private val GapSeconds = 3600L
  private val MinPasses = 3

  private def str(key: String): String = cfg.get(key).asText
  private def strs(node: JsonNode): Seq[String] =
    node.elements().asScala.map(_.asText).toSeq

  // ---- session ------------------------------------------------------------

  private val sessionT0 = System.nanoTime()
  private val spark: SparkSession = SparkSession.builder()
    .master(s"local[${cfg.get("cores").asInt}]")
    .config("spark.sql.shuffle.partitions", cfg.get("cores").asInt.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  spark.range(1).collect()
  private val sessionStartS = (System.nanoTime() - sessionT0) / 1e9
  private val sc = spark.sparkContext

  private val attribution = new JobAttribution
  private def setTracing(on: Boolean): Unit =
    if (on != Trace.on) {
      org.apache.spark.PerfbenchListenerDrain.drain(sc)
      if (on) sc.addSparkListener(attribution)
      else sc.removeSparkListener(attribution)
      Trace.on = on
    }

  private def span[T](name: String)(body: => T): T = Trace.span(sc, name)(body)

  // ---- bookkeeping ----------------------------------------------------------

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val facts = mutable.LinkedHashMap.empty[String, Any]
  private val reqIds = new AtomicLong(0)
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private var measureS = 0.0
  private val rowsReturnedTraced = new AtomicLong(0)

  private def fail(what: String, e: Throwable): Unit = failures.synchronized {
    failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
  }

  /** Run one operation, recording its latency and whether it threw; the
    * result is returned for bookkeeping outside the timed region. */
  private def op[T](kind: String, items: Long)(body: => T): Option[T] = {
    val req = reqIds.incrementAndGet()
    val t0 = System.nanoTime()
    val result =
      try Some(Trace.withRequest(req)(span(s"op.$kind")(body)))
      catch { case e: Throwable => fail(s"$kind #$req", e); None }
    val ms = (System.nanoTime() - t0) / 1e6
    ops.synchronized {
      ops += Map("kind" -> kind, "req" -> req, "lat_ms" -> ms,
        "items" -> items, "traced" -> Trace.on, "ok" -> result.isDefined)
    }
    result
  }

  /** Time one set-up repetition; the reported set-up time is the session
    * start plus the median repetition. */
  private def setup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    setupS += (System.nanoTime() - t0) / 1e9
  }

  /** The measured phase: one untraced block, or, when tracing, alternating
    * untraced/traced blocks so the tracing overhead is measured in-run. */
  private def measure(block: Long => Unit): Unit = {
    val plan = if (traced) Seq(false, true, false, true) else Seq(false)
    Trace.phase = "op"
    plan.foreach { on =>
      setTracing(on)
      val t0 = System.nanoTime()
      block(t0 + (seconds / plan.length * 1e9).toLong)
      measureS += (System.nanoTime() - t0) / 1e9
    }
    setTracing(false)
  }

  // ---- files ----------------------------------------------------------------

  private def rm(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) Files.walk(f.toPath).iterator().asScala.toSeq.reverse
      .foreach(x => Files.deleteIfExists(x))
  }

  private def dataFiles(dir: String): Seq[Path] = {
    val f = new File(dir)
    if (!f.exists()) Nil
    else Files.walk(f.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }.toSeq
  }

  private def bytesUnder(dirs: Seq[String]): Long =
    dirs.flatMap(dataFiles).map(p => Files.size(p)).sum

  /** Release the checkpoint blocks behind a locally checkpointed frame —
    * the caller owns frames the engine returns checkpointed. */
  private def release(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
      case _ => ()
    }

  /** Storage still pinned by cached or checkpointed RDDs: after a GC lets
    * Spark's context cleaner drop blocks of unreachable frames, read once
    * the asynchronous removals have settled (two equal readings 200 ms
    * apart, at most 5 s). */
  private def cachedBytes: Long = {
    System.gc()
    def now = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    var (prev, cur, tries) = (-1L, now, 0)
    while (cur != prev && tries < 25) {
      Thread.sleep(200)
      prev = cur
      cur = now
      tries += 1
    }
    cur
  }

  // ---- shared service-path pieces -----------------------------------------

  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("ip", StringType), StructField("ua", StringType),
    StructField("request", StringType)))
  private lazy val schemaSource =
    spark.createDataFrame(sc.emptyRDD[Row], rawSchema)

  private def enrich(good: DataFrame): DataFrame = {
    val cidrs = strs(cfg.get("robot_cidrs"))
    good
      .withColumn("tags", Enrich.tags(Seq(
        "robot" -> col("ua").rlike(Enrich.RobotUaPattern),
        "machine" -> col("ua").rlike(Enrich.MachineUaPattern),
        "robot_ip" -> Enrich.ipInCidrs(col("ip"), cidrs))))
      .withColumn("session_key",
        Enrich.sessionKey(col("ip"), col("ua"), col("ts")))
      .withColumn("is_search", Enrich.searchEvent(col("request"), "/cn/v2/query"))
  }

  /** Raw JSONL -> quarantine split -> enrich -> bronze at `dir/events.parquet`
    * (where `Tables.events` and the API read it). Returns the quarantine. */
  private def ingestBronze(dir: String): DataFrame = {
    val (good, quarantined) = span("ingest.parse")(
      Ingest.readJsonlWithQuarantine(spark, str("events_dir"), schemaSource))
    val enriched = span("enrich")(enrich(good))
    span("ingest.write")(Ingest.writeBronze(enriched, s"$dir/events.parquet"))
    release(good)
    quarantined
  }

  // ---- API requests -----------------------------------------------------------

  /** A generated request; `key` names its expected answer for the checker. */
  private final case class Request(key: String, kind: String, json: String,
                                   columnar: Seq[String])

  private def request(n: JsonNode): Request =
    Request(n.get("key").asText, n.get("kind").asText,
      Option(n.get("json")).map(_.asText).orNull,
      Option(n.get("columnar")).map(strs).getOrElse(Nil))

  private def respond(dir: String, r: Request): DataFrame = r.kind match {
    case "filters" => MetricsApi.filtersCatalog(spark, dir)
    case _ =>
      val long = MetricsApi.interpretJson(spark, dir, r.json)
      if (r.columnar.nonEmpty) MetricsApi.columnarResponse(long, r.columnar)
      else long
  }

  /** First response per request key, plus counts of later responses to
    * the same key and of those that differ from it. */
  private val responses = mutable.LinkedHashMap.empty[String, Seq[String]]
  private val responseRepeats = new AtomicLong(0)
  private val responseMismatch = new AtomicLong(0)
  private val planPrints = mutable.LinkedHashMap.empty[String, String]

  /** Interpret, execute and collect one request: what a client waits for. */
  private def answer(dir: String, r: Request): (DataFrame, Array[Row]) = {
    val df = span("api.plan")(respond(dir, r))
    (df, span("api.exec")(df.collect()))
  }

  private def record(r: Request, answered: (DataFrame, Array[Row])): Unit = {
    val (df, rows) = answered
    if (Trace.on) rowsReturnedTraced.addAndGet(rows.length)
    val json = rows.map(_.json).sorted.toSeq
    responses.synchronized {
      responses.get(r.key) match {
        case Some(first) =>
          responseRepeats.incrementAndGet()
          if (first != json) responseMismatch.incrementAndGet()
        case None => responses(r.key) = json
      }
      if (!planPrints.contains(r.kind)) {
        val plan = df.queryExecution.executedPlan.toString
          .replaceAll("#\\d+", "").replaceAll("plan_id=\\d+", "")
        planPrints(r.kind) = java.security.MessageDigest.getInstance("MD5")
          .digest(plan.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
    }
  }

  // ---- workloads ----------------------------------------------------------------

  def run(): Map[String, Any] = {
    if (traced) setTracing(true)
    Trace.phase = "setup"
    workload match {
      case "api_serve" => apiServe()
      case "corpus_dedup" => corpusDedup()
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    org.apache.spark.PerfbenchListenerDrain.drain(sc)
    val out = Map(
      "session_start_s" -> sessionStartS,
      "setup_s" -> setupS.toSeq,
      "warmup_s" -> warmupS,
      "measure_s" -> measureS,
      "ops" -> ops.toSeq,
      "failures" -> failures.toSeq,
      "facts" -> (facts.toMap + ("rows_returned_traced" -> rowsReturnedTraced.get)),
      "responses" -> responses.toMap,
      "response_repeats" -> responseRepeats.get,
      "response_mismatch" -> responseMismatch.get,
      "plan_fingerprints" -> planPrints.toMap,
      "spans" -> Trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "req" -> s.req, "phase" -> s.phase,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "failed" -> s.failed)),
      "span_work" -> attribution.result.map { case (k, w) => k.toString -> w.toMap },
      "spark_conf" -> (sc.getConf.getAll.toMap ++ spark.conf.getAll),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq,
      "spark_version" -> spark.version)
    spark.stop()
    out
  }

  /** Passes of the workload's unit operation after set-up, so the measured
    * operations run on warm code; their time is part of the reported set-up
    * time. */
  private var warmupS = 0.0
  private def warmup(body: => Unit): Unit = {
    Trace.phase = "warmup"
    val t0 = System.nanoTime()
    try body catch { case e: Throwable => fail("warm-up", e) }
    warmupS = (System.nanoTime() - t0) / 1e9
  }

  /** The cold full service build: raw JSONL -> quarantine split -> enrich
    * -> bronze -> sessions -> session gold -> gold -> node dim -> COUNTER
    * flat metrics -> SUSHI reports, into `dir`. Returns the quarantine. */
  private def fullBuild(dir: String): DataFrame = {
    val quarantined = ingestBronze(dir)
    val bronze = Tables.events(spark, dir)
    span("sessionize") {
      Sessionize.withSessionId(Sessionize.withSessionSeqAuto(bronze,
        col("user_id"), col("ts"), col("event_id"), GapSeconds), col("user_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .write.mode("overwrite").parquet(s"$dir/sessions")
    }
    val sg = span("session_gold.build")(SessionGold.build(spark, bronze,
      GapSeconds, s"$dir/session_local", s"$dir/session_state"))
    val g = span("gold.refresh")(GoldTables.incrementalBuild(spark, bronze,
      "event_date", s"$dir/gold", s"$dir/gold_state"))
    val nodeDim = span("identifier_dim.build")(IdentifierDim.nodeDim(spark, dir))
    span("report.flat")(CounterReport.flatMetrics(
      bronze.filter(size(col("tags")) === 0), nodeDim, GapSeconds,
      Seq("purchase")).write.mode("overwrite").parquet(s"$dir/flat"))
    val sushi = span("report.sushi")(CounterReport.sushiReports(
      spark.read.parquet(s"$dir/flat"), "2024-02-01"))
    span("report.write")(CounterReport.writeReports(sushi, s"$dir/reports"))
    facts("refresh_counts") = Seq((sg.productIterator ++ g.productIterator).toSeq)
    quarantined
  }

  /** Set-up builds the full service state from raw JSONL (repeated; the
    * median repetition is reported) plus the family/portal dims; then a
    * closed loop of `clients` threads serves requests, each sending its
    * next request only after collecting the last. */
  private def apiServe(): Unit = {
    var dir = ""
    var quarantined: DataFrame = null
    (1 to setupReps).foreach { rep =>
      if (quarantined != null) release(quarantined)
      IdentifierDim.invalidate(spark)
      rm(dir)
      dir = s"$work/state$rep"
      setup {
        quarantined = fullBuild(dir)
        span("identifier_dim.build") {
          IdentifierDim.familyDim(spark, dir)
          IdentifierDim.portalDim(spark, dir)
        }
      }
    }
    val streams = cfg.get("requests").elements().asScala
      .map(_.elements().asScala.map(request).toIndexedSeq).toIndexedSeq
    val next = Array.fill(streams.length)(0)
    /** The closed loop: each client thread sends the next request of its
      * stream only after collecting the last, while `more(client)` holds. */
    def serve(more: Int => Boolean)(send: Request => Unit): Unit = {
      val threads = streams.indices.map { c =>
        new Thread(() => {
          while (more(c)) {
            val r = streams(c)(next(c) % streams(c).length)
            next(c) += 1
            send(r)
          }
        }, s"client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    // the clients answer the whole cycle once, so every measured request
    // repeats one whose code is compiled
    val warm = cfg.get("warmup_per_client").asInt
    warmup(serve(next(_) < warm) { r =>
      try record(r, answer(dir, r))
      catch { case e: Throwable => fail(s"warm-up ${r.kind}", e) }
    })
    measure { deadline =>
      serve(_ => System.nanoTime() < deadline) { r =>
        op(s"api.${r.kind}", 1)(answer(dir, r)).foreach(record(r, _))
      }
    }
    facts("cached_bytes") = cachedBytes
    val b = Tables.events(spark, dir)
      .agg(count(lit(1)), countDistinct(col("event_id")),
        sum(when(size(col("tags")) > 0, 1L).otherwise(0L))).head()
    facts("bronze_rows") = b.getLong(0)
    facts("bronze_ids") = b.getLong(1)
    facts("robot_rows") = b.getLong(2)
    facts("quarantined") = quarantined.collect().length.toLong
    facts("reports") = spark.read.text(s"$dir/reports").collect().length.toLong
    facts("bronze_files") = dataFiles(s"$dir/events.parquet").length.toLong
    facts("stored_bytes") = bytesUnder(Seq("events.parquet", "sessions",
      "session_local", "session_state", "gold", "gold_state").map(d => s"$dir/$d"))
  }

  /** The training-data dedup chain over a cached corpus: exact-substring
    * coverage, exact-substring trim, near-duplicate components, each
    * written as a table. */
  private def corpusDedup(): Unit = {
    var corpus: DataFrame = null
    var pass = 0
    def nextDir(): String = {
      pass += 1
      rm(s"$work/pass${pass - 1}")
      s"$work/pass$pass"
    }
    def chain(dir: String): Unit = {
      span("dedup.exact_substr")(Dedup.exactSubstrCoverage(corpus,
        col("doc_id"), col("text"), minLen = 25)
        .write.mode("overwrite").parquet(s"$dir/coverage"))
      span("dedup.trim")(Dedup.exactSubstrTrim(corpus, col("doc_id"),
        col("text"), minLen = 25)
        .write.mode("overwrite").parquet(s"$dir/trim"))
      span("dedup.minhash")(Dedup.nearDupComponents(corpus, col("doc_id"),
        col("text")).write.mode("overwrite").parquet(s"$dir/components"))
    }
    (1 to setupReps).foreach { _ =>
      if (corpus != null) corpus.unpersist(blocking = true)
      setup {
        corpus = spark.read.parquet(str("corpus")).select("doc_id", "text").cache()
        corpus.write.format("noop").mode("overwrite").save()
      }
    }
    warmup { chain(nextDir()); chain(nextDir()) }
    val tokens = cfg.get("corpus_tokens").asLong
    var dir = ""
    // at least MinPasses in all, so every run's p95 (the slowest pass) is
    // taken over the same number of passes
    val first = ops.length
    measure { deadline =>
      do { dir = nextDir(); op("dedup", tokens)(chain(dir)) }
      while (System.nanoTime() < deadline || ops.length - first < MinPasses)
    }
    facts("cached_bytes") = cachedBytes
    facts("coverage_dir") = s"$dir/coverage"
    facts("trim_dir") = s"$dir/trim"
    facts("components_dir") = s"$dir/components"
    facts("stored_bytes") = bytesUnder(Seq("coverage", "trim", "components")
      .map(d => s"$dir/$d"))
  }
}
