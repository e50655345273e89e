package graft

import java.nio.file.Files

import graft.operators.Sessionize
import graft.reports.{CounterReport, GoldTables, SessionGold}
import graft.sources.Ingest
import org.apache.spark.sql.functions._

class IngestReportSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft_test").toString

  test("bronze write dedups by id and partitions by event_date") {
    val out = tmpDir() + "/bronze"
    val events = Tables.events(spark, testDataDir)
    val doubled = events.union(events) // simulate at-least-once delivery
    Ingest.writeBronze(doubled, out)
    val back = Ingest.readBronze(spark, out)
    assert(back.count() == events.count())
    // partition dirs exist per day
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("event_date="))
    assert(dirs.length > 1)
  }

  test("scratch buildOnce latches success, retries failures from a clean dir") {
    import graft.queries.Scratch
    val base = Scratch.dir("spec_retry", java.util.UUID.randomUUID().toString)
    var calls = 0
    // attempt 1 fails after dirtying the dir
    intercept[RuntimeException](Scratch.buildOnce(base) {
      calls += 1
      new java.io.File(base).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(base, "partial.txt"), "leftover")
      sys.error("transient failure")
    })
    // attempt 2 must re-run AND start from a clean directory
    Scratch.buildOnce(base) {
      calls += 1
      assert(!new java.io.File(base, "partial.txt").exists(),
        "retry must not see the failed attempt's leftovers")
    }
    // attempt 3 is a cache hit — the success latched
    Scratch.buildOnce(base) { calls += 1 }
    assert(calls == 2)
  }

  test("citation staging contract validates conforming and rejects drifted frames") {
    import graft.sources.CitationStaging
    val good = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      CitationStaging.schema)
    CitationStaging.validate(good) // conforming: no throw
    // extra connector-side columns are allowed
    CitationStaging.validate(good.withColumn("harvested_at", lit("2026-01-01")))
    // a missing key column and a wrong type are both reported, together
    val bad = good.drop("target_id")
      .withColumn("year_of_publishing", lit("2020")) // string, not int
    val e = intercept[IllegalArgumentException](CitationStaging.validate(bad))
    assert(e.getMessage.contains("missing column: target_id"))
    assert(e.getMessage.contains("year_of_publishing"))
  }

  test("date filter on bronze prunes partitions at planning time") {
    val out = tmpDir() + "/bronze"
    Ingest.writeBronze(Tables.events(spark, testDataDir), out)
    val plan = Ingest.readBronze(spark, out)
      .filter(col("event_date") === "2024-01-05")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"))
    // pruned scan reads one partition's files only
    val scanned = Ingest.readBronze(spark, out)
      .filter(col("event_date") === "2024-01-05").count()
    val total = Ingest.readBronze(spark, out).count()
    assert(scanned > 0 && scanned < total)
  }

  test("api time ranges prune bronze event_date partitions") {
    import graft.api.{MetricsApi, MetricsFilter, MetricsRequest}
    val dir = tmpDir()
    Ingest.writeBronze(Tables.events(spark, testDataDir), s"$dir/events.parquet")
    val req = MetricsRequest(Seq("views", "downloads"),
      Seq(MetricsFilter("time", Seq("2024-01-05", "2024-01-10"), "range")),
      Seq("day"))
    val df = MetricsApi.interpret(spark, dir, req)
    // the bounds would otherwise be cut from the plan string
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val plan = try df.queryExecution.executedPlan.toString
      finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    val partitionFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(partitionFilters.contains(">= 2024-01-05") &&
      partitionFilters.contains("<= 2024-01-10"),
      s"range bounds not in the partition filters:\n$plan")
    // same answer as the flat layout, which filters on ts alone
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    assert(rows(df) == rows(MetricsApi.interpret(spark, testDataDir, req)))
    // the bounds live only in the partition filters, not in the generated
    // code: another range of the same width compiles to the same classes
    val other = req.copy(filterBy =
      Seq(MetricsFilter("time", Seq("2024-01-08", "2024-01-13"), "range")))
    assert(generatedCode(df) ==
      generatedCode(MetricsApi.interpret(spark, dir, other)))
  }

  test("streaming JSONL ingest is resumable and exactly-once") {
    val base = tmpDir()
    val src = s"$base/src"; val out = s"$base/out"; val cp = s"$base/cp"
    new java.io.File(src).mkdirs()
    val events = Tables.events(spark, testDataDir).limit(500)
    events.coalesce(1).write.json(s"$src/batch1")
    // move jsonl files into the watched dir
    new java.io.File(s"$src/batch1").listFiles()
      .filter(_.getName.endsWith(".json"))
      .foreach(f => f.renameTo(new java.io.File(src, f.getName)))
    val schemaSrc = Tables.events(spark, testDataDir)
    Ingest.streamJsonlToBronze(spark, src, schemaSrc, out, cp)
    val n1 = spark.read.parquet(out).count()
    assert(n1 == 500)
    // re-run with no new data: checkpoint resume, no duplicates
    Ingest.streamJsonlToBronze(spark, src, schemaSrc, out, cp)
    assert(spark.read.parquet(out).count() == n1)
  }

  test("sushi reports are valid JSON with header and performance") {
    val flat = CounterReport.flatMetrics(
      Tables.events(spark, testDataDir),
      graft.api.IdentifierDim.nodeDim(spark, testDataDir),
      3600L, Seq("purchase", "click"))
    val reports = CounterReport.sushiReports(flat, created = "2026-01-01")
    val row = reports.head()
    val json = row.getString(2)
    val parsed = spark.range(1).select(
      from_json(lit(json), schema_of_json(lit(json))).as("r"))
      .select("r.report_header.report_id", "r.total_investigations").head()
    assert(parsed.getString(0) == "DSR")
    assert(parsed.getLong(1) > 0)
    // one report per node × month
    assert(reports.select("node_id").distinct().count() == 5)
  }

  test("gold incremental build skips unchanged groups on rebuild") {
    val base = tmpDir()
    val events = Tables.events(spark, testDataDir)
      .withColumn("node_id", CounterReport.nodeOf(col("user_id")))
    val (b1, s1, r1) = GoldTables.incrementalBuild(spark, events, "node_id",
      s"$base/gold", s"$base/state")
    assert(b1 == 5 && s1 == 0 && r1 == 0) // first run builds all 5 node groups
    val (b2, s2, r2) = GoldTables.incrementalBuild(spark, events, "node_id",
      s"$base/gold", s"$base/state")
    assert(b2 == 0 && s2 == 5 && r2 == 0) // unchanged input: everything skipped
    val gold = spark.read.parquet(s"$base/gold")
    assert(gold.count() > 0)
    assert(gold.columns.contains("n_unique"))
  }

  test("bronze compaction merges small files without changing rows") {
    val base = tmpDir()
    val events = Tables.events(spark, testDataDir)
    // simulate micro-batch accretion: many tiny files per partition
    events.repartition(24).withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").parquet(s"$base/bronze")
    def files() = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/bronze"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val before = files()
    val rowsBefore = spark.read.parquet(s"$base/bronze").count()
    Ingest.compactBronze(spark, s"$base/bronze", targetRecordsPerFile = 100000L)
    assert(files() < before / 4) // one file per partition now
    val after = spark.read.parquet(s"$base/bronze")
    assert(after.count() == rowsBefore)
    // identical content, not just counts
    assert(after.select("event_id").except(
      events.select("event_id")).isEmpty)
  }

  test("malformed JSONL lines quarantine instead of corrupting the batch") {
    val dir = tmpDir()
    Files.writeString(java.nio.file.Paths.get(s"$dir/events.jsonl"),
      """{"event_id": 1, "user_id": 10, "ts": "2024-01-01T00:00:00", "event_type": "view", "value": 1.5, "props": "{}"}
        |this line is not json at all
        |{"event_id": 2, "user_id": 11, "ts": "2024-01-01T00:01:00", "event_type": "click", "value": 2.0, "props": "{}"}
        |{"event_id": 3, "bad json": truncated
        |""".stripMargin)
    val (good, quarantined) = Ingest.readJsonlWithQuarantine(spark, dir,
      Tables.events(spark, testDataDir))
    assert(good.select("event_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L))
    val bad = quarantined.collect().map(_.getString(0))
    assert(bad.length == 2) // nothing silently lost
    assert(bad.exists(_.contains("not json")))
    assert(bad.exists(_.contains("truncated"))) // raw line kept for replay
  }

  test("streaming quarantine ingest splits malformed lines from bronze") {
    val dir = tmpDir()
    val out = tmpDir()
    Files.writeString(java.nio.file.Paths.get(s"$dir/events.jsonl"),
      """{"event_id": 5, "user_id": 10, "ts": "2024-01-01T00:00:00", "event_type": "view", "value": 1.0, "props": "{}"}
        |garbage line
        |{"event_id": 6, "user_id": 11, "ts": "2024-01-02T00:00:00", "event_type": "click", "value": 2.0, "props": "{}"}
        |""".stripMargin)
    Ingest.streamJsonlToBronzeWithQuarantine(spark, dir,
      Tables.events(spark, testDataDir),
      s"$out/bronze", s"$out/quarantine", s"$out/ckpt")
    val bronze = spark.read.parquet(s"$out/bronze")
    assert(bronze.select("event_id").collect().map(_.getLong(0)).toSet
      == Set(5L, 6L))
    assert(bronze.columns.contains("event_date")) // partitioned layout kept
    val bad = spark.read.text(s"$out/quarantine").collect().map(_.getString(0))
    assert(bad.toSeq == Seq("garbage line")) // raw line preserved for replay
  }

  test("incremental session gold: late day rebuilds one partition, matches full recompute") {
    val base = tmpDir()
    val events = Tables.events(spark, testDataDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val days = events.select(to_date(col("ts")).as("d")).distinct().count()
    // initial build: every day materializes
    val (b1, s1, r1) = SessionGold.build(spark, events, 3600L,
      s"$base/local", s"$base/state")
    assert(b1 == days && s1 == 0 && r1 == 0)
    // a late event lands on the LAST day only
    val lastTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    val late = spark.sql(
      s"SELECT 999999999L AS event_id, 1L AS user_id, " +
        s"timestamp'$lastTs' - INTERVAL 1 MINUTE AS ts")
    val updated = events.unionByName(late)
    val (b2, s2, r2) = SessionGold.build(spark, updated, 3600L,
      s"$base/local", s"$base/state")
    assert(b2 == 1 && s2 == days - 1 && r2 == 0) // only the touched day rebuilt
    // the served assignments equal a from-scratch single-window recompute
    val served = SessionGold.read(spark, s"$base/local", 3600L)
      .select("event_id", "session_seq")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Sessionize.withSessionSeq(updated,
      col("user_id"), col("ts"), col("event_id"), 3600L)
      .select("event_id", "session_seq")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served == full)
    // a whole day of events disappears (bad-data backfill): its partition
    // must be deleted, not served as ghost sessions that skew offsets
    val firstDay = events.select(to_date(col("ts")).as("d"))
      .agg(min(col("d"))).head().getDate(0)
    val shrunk = updated.filter(to_date(col("ts")) =!= lit(firstDay))
    val (b3, s3, r3) = SessionGold.build(spark, shrunk, 3600L,
      s"$base/local", s"$base/state")
    assert(b3 == 0 && s3 == days - 1 && r3 == 1)
    val servedShrunk = SessionGold.read(spark, s"$base/local", 3600L)
      .select("event_id", "session_seq")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullShrunk = Sessionize.withSessionSeq(shrunk,
      col("user_id"), col("ts"), col("event_id"), 3600L)
      .select("event_id", "session_seq")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(servedShrunk == fullShrunk)
  }

  test("gold incremental build deletes partitions of vanished groups") {
    val base = tmpDir()
    val events = Tables.events(spark, testDataDir)
      .withColumn("node_id", CounterReport.nodeOf(col("user_id")))
    GoldTables.incrementalBuild(spark, events, "node_id",
      s"$base/gold", s"$base/state")
    val keep = events.select("node_id").distinct()
      .orderBy("node_id").limit(1).head().getString(0)
    // one group disappears from the input entirely
    val shrunk = events.filter(col("node_id") === keep)
    val (b, s, r) = GoldTables.incrementalBuild(spark, shrunk, "node_id",
      s"$base/gold", s"$base/state")
    assert(b == 0 && s == 1 && r == 4) // survivor unchanged, 4 groups removed
    val gold = spark.read.parquet(s"$base/gold")
    assert(gold.select("node_id").distinct().collect().map(_.getString(0)).toSeq
      == Seq(keep)) // stale partitions gone, not silently served
    // state reflects the shrunk domain: a third identical run is a no-op
    assert(GoldTables.incrementalBuild(spark, shrunk, "node_id",
      s"$base/gold", s"$base/state") == ((0L, 1L, 0L)))
  }
}
