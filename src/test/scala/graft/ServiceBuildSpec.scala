package graft

import java.nio.file.Files

import graft.api.{IdentifierDim, MetricsApi, MetricsFilter, MetricsRequest}
import graft.operators.Joins
import graft.reports.{GoldTables, SessionGold}
import graft.sources.Ingest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The service build's bookkeeping: the incremental refresh protocol
  * against a cold rebuild, its job and row budgets, and the identifier
  * dims in both regimes. */
class ServiceBuildSpec extends SparkSpec {

  private val Gap = 1800L
  private val Days = 14
  private val PerDay = 200

  private def tmpDir(): String =
    Files.createTempDirectory("graft_build").toString

  /** `PerDay` events on each of `days` (day 0 = 2024-03-01), event ids
    * from `firstId`, users -20..179. */
  private def dayEvents(days: Seq[Int], firstId: Long): DataFrame =
    spark.range(days.length.toLong * PerDay).select(
      (col("id") + firstId).as("event_id"),
      timestamp_seconds(lit(1709251200L) +
        element_at(array(days.map(d => lit(d * 86400L)): _*),
          (col("id") / PerDay).cast("int") + 1) +
        col("id") * 7919 % 86400).as("ts"),
      (col("id") * 37 % 200 - 20).as("user_id"),
      element_at(array(Seq("view", "purchase", "click", "signup", "error")
        .map(lit): _*), (col("id") % 5 + 1).cast("int")).as("event_type"))

  /** A directory whose events table is a 14-day bronze. */
  private def bronzeDir(): String = {
    val dir = tmpDir()
    Ingest.writeBronze(dayEvents(0 until Days, 0L), s"$dir/events.parquet")
    dir
  }

  /** Append `events` to the bronze of `dir`, as a later ingest batch does. */
  private def append(dir: String, events: DataFrame): Unit =
    events.withColumn("event_date", to_date(col("ts")))
      .write.mode("append").partitionBy("event_date")
      .parquet(s"$dir/events.parquet")

  /** Refresh the session gold and gold tables under `out` from the bronze
    * of `dir`: from the bare scan (listing fingerprints), or from a derived
    * frame (scanning fingerprints). Returns both tables' counts. */
  private def refresh(dir: String, out: String, listed: Boolean)
      : ((Long, Long, Long), (Long, Long, Long)) = {
    val bronze = Tables.events(spark, dir)
    val src = if (listed) bronze else bronze.repartition(3)
    assert(GoldTables.listing(src, "event_date").isDefined == listed)
    (SessionGold.build(spark, src, Gap, s"$out/session_local",
      s"$out/session_state"),
      GoldTables.incrementalBuild(spark, src, "event_date", s"$out/gold",
        s"$out/gold_state"))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().sortBy(_.toString).toSeq

  /** Every request shape the service answers, over the events of `dir`. */
  private def responses(s: SparkSession, dir: String): Seq[DataFrame] = {
    val range = MetricsFilter("time", Seq("2024-03-02", "2024-03-14"), "range")
    def interpret(groupBy: Seq[String], filters: MetricsFilter*) =
      MetricsApi.interpret(s, dir,
        MetricsRequest(Seq("views", "downloads"), filters, groupBy))
    Seq(
      MetricsApi.columnarResponse(interpret(Seq("day"),
        MetricsFilter("user", Seq("1", "2", "5", "8"), "list"), range),
        Seq("views", "downloads")),
      interpret(Seq("month"), MetricsFilter("dataset", Seq("3", "7"), "list"),
        range),
      interpret(Seq("day"),
        MetricsFilter("repository", Seq("urn:node:B"), "list"), range),
      interpret(Seq("month"), MetricsFilter("portal", Seq("portal-2"), "list"),
        MetricsFilter("query", Seq("-event_type:err* AND (event_type:view OR " +
          "event_type:click)"), "query")),
      interpret(Seq(), MetricsFilter("catalog", Seq("1", "2", "3"), "list")),
      interpret(Seq("months", "country"),
        MetricsFilter("user", Seq("1", "2", "3", "4", "5", "6"), "list"),
        MetricsFilter("month", Seq("03/02/2024", "03/14/2024"), "range")),
      MetricsApi.filtersCatalog(s, dir))
  }

  /** The refreshed tables and every response shape over `inc` equal a
    * cold rebuild from a freshly written copy of its bronze. */
  private def assertColdEqual(inc: String, listed: Boolean, step: String): Unit = {
    val cold = tmpDir()
    Ingest.writeBronze(Tables.events(spark, inc).drop("event_date"),
      s"$cold/events.parquet")
    refresh(cold, cold, listed)
    def same(a: DataFrame, b: DataFrame, what: String): Unit = {
      assert(a.schema == b.schema, s"$step: $what schema")
      assert(rows(a) == rows(b), s"$step: $what rows")
    }
    same(SessionGold.read(spark, s"$inc/session_local", Gap),
      SessionGold.read(spark, s"$cold/session_local", Gap), "session gold")
    same(spark.read.parquet(s"$inc/gold"), spark.read.parquet(s"$cold/gold"),
      "gold")
    val (si, sc) = (spark.newSession(), spark.newSession())
    try responses(si, inc).zip(responses(sc, cold)).zipWithIndex.foreach {
      case ((a, b), i) => same(a, b, s"response shape $i")
    } finally {
      IdentifierDim.invalidate(si)
      IdentifierDim.invalidate(sc)
    }
  }

  for (listed <- Seq(true, false)) {
    val mode = if (listed) "listing" else "scanning"
    test(s"refreshes equal a cold rebuild: append, late data, removal ($mode fingerprints)") {
      val dir = bronzeDir()
      assert(refresh(dir, dir, listed) == (((14L, 0L, 0L), (14L, 0L, 0L))))
      // append one day
      append(dir, dayEvents(Seq(Days), 100000L))
      assert(refresh(dir, dir, listed) == (((1L, 14L, 0L), (1L, 14L, 0L))))
      assertColdEqual(dir, listed, "append")
      // late data lands on an old day
      append(dir, dayEvents(Seq(3), 200000L).limit(40))
      assert(refresh(dir, dir, listed) == (((1L, 14L, 0L), (1L, 14L, 0L))))
      assertColdEqual(dir, listed, "late data")
      // a whole day is removed from bronze
      val first = new java.io.File(s"$dir/events.parquet/event_date=2024-03-01")
      org.apache.commons.io.FileUtils.deleteDirectory(first)
      assert(refresh(dir, dir, listed) == (((0L, 14L, 1L), (0L, 14L, 1L))))
      assertColdEqual(dir, listed, "removal")
      // unchanged input: a no-op
      assert(refresh(dir, dir, listed) == (((0L, 14L, 0L), (0L, 14L, 0L))))
    }
  }

  test("an unreadable refresh state stops the build, naming its path") {
    val dir = bronzeDir()
    val bronze = Tables.events(spark, dir)
    val out = tmpDir()
    for ((statePath, build) <- Seq[(String, () => Any)](
        s"$out/gold_state" -> (() => GoldTables.incrementalBuild(spark,
          bronze, "event_date", s"$out/gold", s"$out/gold_state")),
        s"$out/session_state/days" -> (() => SessionGold.build(spark,
          bronze, Gap, s"$out/session_local", s"$out/session_state")))) {
      Files.createDirectories(java.nio.file.Paths.get(statePath).getParent)
      Files.writeString(java.nio.file.Paths.get(statePath), "not a parquet file")
      val e = intercept[IllegalStateException](build())
      assert(e.getMessage.contains(statePath), e.getMessage)
    }
  }

  /** (jobs, records read, seconds) of `body`, counted by a job group of
    * its own so jobs of anything else on the context do not count. */
  private def measured(body: => Unit): (Int, Long, Double) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = "spec-budget-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val read = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          read.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.TestListenerDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.get, read.get, (System.nanoTime() - t0) / 1e9)
  }

  test("a cold build and a one-day refresh stay within their job and row budgets") {
    val dir = bronzeDir()
    val bronzeRows = Days.toLong * PerDay
    val tables = Seq[(String, (DataFrame, String) => Unit)](
      "session_gold" -> ((b, out) => SessionGold.build(spark, b, Gap,
        s"$out/session_local", s"$out/session_state")),
      "gold" -> ((b, out) => GoldTables.incrementalBuild(spark, b,
        "event_date", s"$out/gold", s"$out/gold_state")))
    for ((name, build) <- tables) {
      val bronze = Tables.events(spark, dir)
      val (jobs, read, s) = measured(build(bronze, dir))
      println(f"cold_build $name: $read records read of $bronzeRows in " +
        f"bronze, $jobs jobs, $s%.2f s")
      assert(jobs <= 5, s"cold $name ran $jobs jobs")
      assert(read <= bronzeRows, s"cold $name read $read records")
    }
    append(dir, dayEvents(Seq(Days), 100000L))
    for ((name, build) <- tables) {
      val bronze = Tables.events(spark, dir)
      val (jobs, read, s) = measured(build(bronze, dir))
      println(f"daily_increment $name: $read records read of " +
        f"${bronzeRows + PerDay} in bronze, $jobs jobs, $s%.2f s")
      assert(read <= bronzeRows * 2 / Days,
        s"one-day refresh of $name read $read records")
      assert(jobs <= 5, s"one-day refresh of $name ran $jobs jobs")
    }
    val s = spark.newSession()
    try {
      val (jobs, _, _) = measured {
        IdentifierDim.nodeDim(s, dir)
        IdentifierDim.familyDim(s, dir)
        IdentifierDim.portalDim(s, dir)
      }
      println(s"cold_build identifier dims: $jobs jobs")
      assert(jobs <= 4, s"the three dims ran $jobs jobs")
    } finally IdentifierDim.invalidate(s)
  }

  /** Events over a scrambled id set: ids 0, 50, …, 13000 form one chain
    * 260 links deep (deeper than the family resolve's maxDepth of 200),
    * the rest of -20..13000 is thinned by a hash so other chains break at
    * absent parents, and one event has a null id. */
  private def scrambledDir(): String = {
    val dir = tmpDir()
    val ids = spark.range(-20, 13001)
      .filter(col("id") % 50 === 0 || pmod(xxhash64(col("id")), lit(3)) === 0)
    ids.select(col("id").as("event_id"), timestamp_seconds(lit(1709251200L)).as("ts"),
        col("id").as("user_id"), lit("view").as("event_type"))
      .union(spark.range(1).select(lit(-1L).as("event_id"),
        timestamp_seconds(lit(1709251200L)).as("ts"),
        lit(null).cast("long").as("user_id"), lit("view").as("event_type")))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("driver-built dims equal the Spark-built dims row for row") {
    val dir = scrambledDir()
    val (driver, dist) = (spark.newSession(), spark.newSession())
    try {
      val viaSpark = IdentifierDim.withCeiling(0L)(Seq(
        IdentifierDim.familyDim(dist, dir), IdentifierDim.nodeDim(dist, dir),
        IdentifierDim.portalDim(dist, dir)))
      val onDriver = Seq(IdentifierDim.familyDim(driver, dir),
        IdentifierDim.nodeDim(driver, dir), IdentifierDim.portalDim(driver, dir))
      for ((a, b) <- onDriver.zip(viaSpark)) {
        assert(a.schema == b.schema)
        assert(rows(a) == rows(b))
      }
      // the 260-deep chain resolves to its head
      assert(IdentifierDim.familyMembers(driver, dir, Seq(13000L)).size == 261)
      assert(IdentifierDim.familyMembers(driver, dir, Seq(13000L)) ==
        IdentifierDim.familyMembers(dist, dir, Seq(13000L)))
    } finally {
      IdentifierDim.invalidate(driver)
      IdentifierDim.invalidate(dist)
    }
  }

  test("driver-built dims pin no blocks, and a warm session interprets jobless") {
    val dir = scrambledDir()
    val s = spark.newSession()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val request = MetricsRequest(Seq("views"),
      Seq(MetricsFilter("dataset", Seq("3", "57"), "list")), Seq("month"))
    try {
      IdentifierDim.nodeDim(s, dir)
      IdentifierDim.familyDim(s, dir)
      IdentifierDim.portalDim(s, dir)
      MetricsApi.interpret(s, dir, request)
      val jobs = measured(MetricsApi.interpret(s, dir, request))._1
      assert(jobs == 0, s"a warm interpret ran $jobs jobs")
    } finally IdentifierDim.invalidate(s)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("the driver root walk resolves and fails as pointer jumping does") {
    import spark.implicits._
    // maxDepth 2, one jump per round: chains shorter than 8 links settle
    def viaSpark(edges: Seq[(Long, Option[Long])]): Either[String, Map[Long, Long]] =
      try Right(Joins.resolveRoots(edges.toDF("child", "parent"), maxDepth = 2,
          edgesCoverAllNodes = true, jumpsPerRound = 1)
        .as[(Long, Long)].collect().toMap)
      catch { case e: IllegalStateException => Left(e.getMessage) }
    def onDriver(edges: Seq[(Long, Option[Long])]): Either[String, Map[Long, Long]] =
      try Right(Joins.resolveRootsOnDriver(edges.toMap, maxDepth = 2,
        jumpsPerRound = 1))
      catch { case e: IllegalStateException => Left(e.getMessage) }
    def chain(links: Int) = (0 to links).map(i =>
      i.toLong -> Option.when(i > 0)(i - 1L))
    val cases = Seq(
      "7 links" -> chain(7),
      "8 links" -> chain(8),
      "absent parent" -> Seq(10L -> Some(5L), 11L -> Some(10L), 3L -> None),
      "cycle" -> Seq(1L -> Some(2L), 2L -> Some(1L), 3L -> None))
    for ((name, edges) <- cases) {
      val want = viaSpark(edges)
      assert(onDriver(edges) == want, name)
      assert(want.isLeft == Set("8 links", "cycle").contains(name), name)
    }
  }
}
