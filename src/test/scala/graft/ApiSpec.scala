package graft

import graft.api.{MetricsApi, MetricsFilter, MetricsRequest}
import graft.operators.MetricsKernel
import graft.sources.Ingest
import org.apache.spark.sql.functions._

class ApiSpec extends SparkSpec {

  /** Spark jobs `body` launches, tagged by a job group of its own so jobs
    * of anything else running on the context do not count. */
  private def jobsLaunched(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "spec-jobs-" + java.util.UUID.randomUUID()
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.TestListenerDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** A fresh directory holding `events` as its events table. */
  private def eventsDir(events: org.apache.spark.sql.DataFrame,
                        partitioned: Boolean = false): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_api").toString
    if (partitioned) Ingest.writeBronze(events, s"$dir/events.parquet")
    else events.write.parquet(s"$dir/events.parquet")
    dir
  }

  /** 3,000 events over users -20..179 from 2023-12-01 to early 2025, so
    * families ({f, f+50, …}), nodes and portals hold several members,
    * negative ids included, and every period unit spans several periods. */
  private def spreadEvents(): org.apache.spark.sql.DataFrame =
    spark.range(3000).select(col("id").as("event_id"),
      timestamp_seconds(lit(1701388800L) + col("id") * 7919 % (430 * 86400))
        .as("ts"),
      (col("id") * 37 % 200 - 20).as("user_id"),
      element_at(array(Seq("view", "purchase", "click", "signup", "error")
        .map(lit): _*), (col("id") % 5 + 1).cast("int")).as("event_type"))

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("parse round-trips the reference request shape") {
    val req = MetricsApi.parse(
      """{"metrics": ["views"],
        |"filterBy": [{"filterType": "user", "values": ["1"],
        |              "interpretAs": "list"}],
        |"groupBy": ["month"]}""".stripMargin)
    assert(req == MetricsRequest(Seq("views"),
      Seq(MetricsFilter("user", Seq("1"), "list")), Seq("month")))
  }

  test("identifier-dim cache is per-session and releases blocks on invalidate") {
    import graft.api.IdentifierDim
    import org.apache.spark.sql.DataFrame
    // track the cached entries' own checkpoint RDD ids — global persisted
    // counts would race with other suites running in parallel
    def ckptIds(df: DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
    def pinned(id: Int) = spark.sparkContext.getPersistentRDDs.contains(id)
    val s2 = spark.newSession()
    val s3 = spark.newSession()
    val name = "spec-" + java.util.UUID.randomUUID().toString.take(8)
    val d2 = IdentifierDim.materialized(s2, testDataDir, name) {
      s2.range(100).toDF("user_id")
    }
    val ids2 = ckptIds(d2)
    assert(ids2.nonEmpty && ids2.forall(pinned),
      "dim build should pin checkpoint blocks")
    // same session+dir+name: cache hit returns the same materialization
    assert(IdentifierDim.materialized(s2, testDataDir, name) {
      s2.range(100).toDF("user_id")
    } eq d2)
    // another session builds its OWN entry (keyed by session, not hashCode)
    val d3 = IdentifierDim.materialized(s3, testDataDir, name) {
      s3.range(100).toDF("user_id")
    }
    val ids3 = ckptIds(d3)
    assert(ids3.nonEmpty && ids3.intersect(ids2).isEmpty,
      "second session must not share the first session's entry")
    // invalidate releases s2's blocks and leaves s3's pinned
    IdentifierDim.invalidate(s2)
    assert(ids2.forall(!pinned(_)), "invalidate must unpersist the blocks")
    assert(ids3.forall(pinned), "other sessions' entries must survive")
    // s2 rebuilds fresh on next request instead of serving the evicted plan
    val d2b = IdentifierDim.materialized(s2, testDataDir, name) {
      s2.range(100).toDF("user_id")
    }
    assert(!(d2b eq d2))
  }

  test("interpret zero-fills the requested range") {
    val req = MetricsRequest(Seq("views", "downloads"),
      Seq(MetricsFilter("time", Seq("2024-01-01", "2024-03-31"), "range")),
      Seq("month"))
    val rows = MetricsApi.interpret(spark, testDataDir, req)
      .orderBy("period").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("2024-01", "2024-02", "2024-03"))
    val jan = rows(0)
    assert(jan.getLong(1) > 0) // events exist in January
    assert(rows(1).getLong(1) == 0 && rows(2).getLong(2) == 0) // zero-filled
  }

  test("columnarResponse emits parallel arrays ordered by period plus totals") {
    val req = MetricsRequest(Seq("views"),
      Seq(MetricsFilter("time", Seq("2024-01-01", "2024-02-29"), "range")),
      Seq("month"))
    val long = MetricsApi.interpret(spark, testDataDir, req)
    val row = MetricsApi.columnarResponse(long, Seq("views")).head()
    assert(row.getSeq[String](0) == Seq("2024-01", "2024-02"))
    assert(row.getSeq[Long](1).length == 2)
    assert(row.getSeq[Long](1)(1) == 0L)
    assert(row.getLong(2) == row.getSeq[Long](1).sum) // resultDetails total
  }

  test("range filters accept the reference's MM/DD/YYYY format") {
    val iso = MetricsApi.interpret(spark, testDataDir, MetricsRequest(
      Seq("views"),
      Seq(MetricsFilter("time", Seq("2024-01-05", "2024-01-10"), "range")),
      Seq("day"))).collect().map(_.toString).sorted
    val usFmt = MetricsApi.interpret(spark, testDataDir, MetricsRequest(
      Seq("views"),
      Seq(MetricsFilter("month", Seq("01/05/2024", "01/10/2024"), "range")),
      Seq("days"))).collect().map(_.toString).sorted
    assert(iso.sameElements(usFmt))
  }

  test("group filter is an alias of the user-list path") {
    def run(ft: String) = MetricsApi.interpret(spark, testDataDir,
      MetricsRequest(Seq("views"),
        Seq(MetricsFilter(ft, Seq("1", "2", "3"), "list")), Seq("month")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run("group") == run("user"))
  }

  test("unsupported dispatch fails loudly, like the reference's 400s") {
    intercept[IllegalArgumentException] {
      MetricsApi.interpret(spark, testDataDir, MetricsRequest(Seq("views"),
        Seq(MetricsFilter("nope", Seq(), "list")), Seq("month")))
    }
  }

  test("unknown or empty metrics fail up front, not mid-plan") {
    val e = intercept[IllegalArgumentException] {
      MetricsApi.interpret(spark, testDataDir,
        MetricsRequest(Seq("views", "citations"),
          Seq(MetricsFilter("month", Seq("2024-01-01", "2024-03-31"), "range")),
          Seq("month")))
    }
    assert(e.getMessage.contains("citations"))
    intercept[IllegalArgumentException] {
      MetricsApi.interpret(spark, testDataDir,
        MetricsRequest(Seq(), Seq(), Seq("month")))
    }
    // the catalog path validates too (aggs.head would otherwise throw)
    intercept[IllegalArgumentException] {
      MetricsApi.interpret(spark, testDataDir,
        MetricsRequest(Seq("nope"),
          Seq(MetricsFilter("catalog", Seq("1", "2"), "list")), Seq()))
    }
  }

  test("zeroFillSpine covers partial trailing periods (reference bug fixed)") {
    // the reference's day-step loop drops the final partial month
    // (`metricsreader.py:1029-1030`); ours must include it
    import spark.implicits._
    val agg = Seq(("2024-01", 5L)).toDF("period", "n")
    val res = MetricsKernel.zeroFillSpine(agg, spark,
      "2024-01-15", "2024-03-20", "month", Seq("n"))
      .orderBy("period").collect()
    assert(res.map(_.getString(0)).toSeq == Seq("2024-01", "2024-02", "2024-03"))
  }

  test("zeroFillSpine keeps the final period when end's day precedes start's") {
    // stepping from Jan 20 would land Feb 20 then overshoot Mar 10,
    // silently dropping March's aggregates — start must truncate to the
    // unit boundary
    import spark.implicits._
    val agg = Seq(("2024-03", 7L)).toDF("period", "n")
    val res = MetricsKernel.zeroFillSpine(agg, spark,
      "2024-01-20", "2024-03-10", "month", Seq("n"))
      .orderBy("period").collect()
    assert(res.map(_.getString(0)).toSeq == Seq("2024-01", "2024-02", "2024-03"))
    assert(res.last.getLong(1) == 7L) // March data survives, not zero-filled
    intercept[IllegalArgumentException] {
      MetricsKernel.zeroFillSpine(agg, spark, "2024-01-01", "2024-02-01",
        "week", Seq("n"))
    }
  }

  test("catalog summaries honor the other filters in the request") {
    def counts(filters: Seq[MetricsFilter]) =
      MetricsApi.interpret(spark, testDataDir,
        MetricsRequest(Seq("views"), filters, Seq()))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allTime = counts(Seq(MetricsFilter("catalog", Seq("1", "2"), "list")))
    val windowed = counts(Seq(
      MetricsFilter("catalog", Seq("1", "2"), "list"),
      MetricsFilter("time", Seq("2024-01-01", "2024-01-07"), "range")))
    // the range filter must constrain the summary, not be silently dropped
    assert(windowed.forall { case (k, v) => v <= allTime(k) })
    assert(windowed != allTime)
  }

  test("malformed filter values fail as request errors, not internal exceptions") {
    intercept[IllegalArgumentException] { // range with one bound
      MetricsApi.interpret(spark, testDataDir, MetricsRequest(Seq("views"),
        Seq(MetricsFilter("time", Seq("2024-01-01"), "range")), Seq("month")))
    }
    intercept[IllegalArgumentException] { // non-numeric synthetic id
      MetricsApi.interpret(spark, testDataDir, MetricsRequest(Seq("views"),
        Seq(MetricsFilter("dataset", Seq("doi:10.5/abc"), "list")),
        Seq("month")))
    }
    intercept[IllegalArgumentException] { // non-numeric catalog id
      MetricsApi.interpret(spark, testDataDir, MetricsRequest(Seq("views"),
        Seq(MetricsFilter("catalog", Seq("not-an-id"), "list")), Seq()))
    }
  }

  test("familyMembers matches the resolve-then-anti-join formulation") {
    import graft.api.IdentifierDim
    // ids 0..149 form families {f, f+50, f+100} (the u−50 chains)
    val dir = java.nio.file.Files.createTempDirectory("graft_api").toString
    spark.range(150).select(col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("id")).as("ts"),
        col("id").as("user_id"), lit("view").as("event_type"))
      .write.parquet(s"$dir/events.parquet")
    val s = spark.newSession()
    import s.implicits._
    try {
      val dim = IdentifierDim.familyDim(s, dir)
      // two ids from one family, one from another, one absent from the dim
      val ids = Seq(3L, 103L, 7L, 1000L)
      // the earlier formulation: resolve families with a distinct, join
      // them back, and add the ids the dim lacks through an anti-join
      val requested = dim.filter(col("user_id").isin(ids: _*))
        .select(col("family_id")).distinct()
      val old = dim.join(broadcast(requested), Seq("family_id"))
        .select(col("user_id"))
        .union(ids.toDF("user_id").join(dim, Seq("user_id"), "left_anti"))
      def set(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.getLong(0)).toSet
      val got = IdentifierDim.familyMembers(s, dir, ids)
      assert(got == Set(3L, 53L, 103L, 7L, 57L, 107L, 1000L))
      assert(got == set(old))
    } finally IdentifierDim.invalidate(s)
  }

  test("a warm (session, dir) interprets without launching a Spark job") {
    import graft.api.IdentifierDim
    val s = spark.newSession()
    def requests(): Unit = {
      MetricsApi.interpret(s, testDataDir, MetricsRequest(Seq("views"),
        Seq(MetricsFilter("dataset", Seq("3", "57"), "list"),
          MetricsFilter("time", Seq("2024-01-01", "2024-02-29"), "range")),
        Seq("month")))
      MetricsApi.interpret(s, testDataDir, MetricsRequest(Seq("views"),
        Seq(MetricsFilter("repository", Seq("urn:node:B"), "list")),
        Seq("month")))
      MetricsApi.interpret(s, testDataDir, MetricsRequest(Seq("views"),
        Seq(MetricsFilter("portal", Seq("portal-2"), "list")), Seq("month")))
      MetricsApi.filtersCatalog(s, testDataDir)
    }
    try {
      // cold: listing, schema inference and the dim builds run jobs
      assert(jobsLaunched(requests()) > 0)
      assert(jobsLaunched(requests()) == 0,
        "planning a request on a warm session must not run Spark jobs")
    } finally IdentifierDim.invalidate(s)
  }

  test("each session resolves its own events relation") {
    import graft.api.IdentifierDim
    val s2 = spark.newSession()
    val s3 = spark.newSession()
    try {
      val e2 = IdentifierDim.events(s2, testDataDir)
      assert(IdentifierDim.events(s2, testDataDir) eq e2)
      var e3: org.apache.spark.sql.DataFrame = null
      assert(jobsLaunched { e3 = IdentifierDim.events(s3, testDataDir) } > 0,
        "a second session must run its own resolution")
      assert(!(e3 eq e2) && (e3.sparkSession eq s3))
    } finally {
      IdentifierDim.invalidate(s2)
      IdentifierDim.invalidate(s3)
    }
  }

  test("files added to the directory become visible after invalidate") {
    import graft.api.IdentifierDim
    val dir = java.nio.file.Files.createTempDirectory("graft_api").toString
    val path = s"$dir/events.parquet"
    val src = Tables.events(spark, testDataDir)
    src.limit(100).write.parquet(path)
    val s = spark.newSession()
    try {
      val n0 = IdentifierDim.events(s, dir).count()
      src.limit(10).write.mode("append").parquet(path)
      // the resolved listing is fixed until invalidate (documented)
      assert(IdentifierDim.events(s, dir).count() == n0)
      IdentifierDim.invalidate(s)
      assert(IdentifierDim.events(s, dir).count() == n0 + 10)
    } finally IdentifierDim.invalidate(s)
  }

  test("requests that differ only in their ids compile to the same code") {
    // id lists reach the generated code as a set reference, not as
    // literals: each shape compiles once, so a serving loop's classes fit
    // Spark's codegen cache
    def code(filter: MetricsFilter) = generatedCode(MetricsApi.interpret(
      spark, testDataDir, MetricsRequest(Seq("views"), Seq(filter),
        if (filter.filterType == "catalog") Seq() else Seq("month"))))
    for ((kind, a, b) <- Seq(
        ("dataset", Seq("3", "57"), Seq("4", "58")),
        ("portal", Seq("portal-2"), Seq("portal-3")),
        ("catalog", Seq("1", "2", "3"), Seq("4", "5", "6")))) {
      val first = code(MetricsFilter(kind, a, "list"))
      assert(first.nonEmpty)
      assert(first == code(MetricsFilter(kind, b, "list")),
        s"$kind: generated code depends on the requested ids")
    }
  }

  test("the filters catalog is built once per (session, dir), read jobless") {
    import graft.api.IdentifierDim
    val s = spark.newSession()
    try {
      val first = MetricsApi.filtersCatalog(s, testDataDir)
      assert(MetricsApi.filtersCatalog(s, testDataDir) eq first)
      var types = Set.empty[String]
      assert(jobsLaunched {
        types = first.collect().map(_.getString(0)).toSet
      } == 0, "reading the held catalog must not run a Spark job")
      assert(types == Set("eventType", "repository", "country", "portal"))
    } finally IdentifierDim.invalidate(s)
  }

  test("columnarResponse totals are null for an empty result, as sum is") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("period", "views")
    val row = MetricsApi.columnarResponse(empty, Seq("views")).head()
    assert(row.getSeq[String](0).isEmpty)
    assert(row.isNullAt(2))
  }

  test("columnarResponse equals the sort_array/aggregate formulation") {
    import spark.implicits._
    // the earlier plan-side assembly, kept here as the reference
    def reference(longDf: org.apache.spark.sql.DataFrame, metrics: Seq[String]) = {
      val ordered = sort_array(collect_list(struct(
        col("period") +: metrics.map(col): _*))).as("r")
      val totals = metrics.map { m =>
        val counts = filter(col(s"r.$m"), _.isNotNull)
        when(size(counts) > 0,
          aggregate(counts, lit(0L), (acc, x) => acc + x)).as(s"total_$m")
      }
      longDf.agg(ordered).select(col("r.period").as("periods") +:
        (metrics.map(m => col(s"r.$m").as(m)) ++ totals): _*)
    }
    val metrics = Seq("views", "downloads")
    val inputs = Seq(
      Seq[(String, java.lang.Long, java.lang.Long)](("2024-02", 3L, null),
        ("2024-01", 1L, 2L), (null, 5L, 0L), ("2024-01", 0L, 7L),
        ("2023-12", null, null)),
      Seq[(String, java.lang.Long, java.lang.Long)](("2024-03", null, 4L)),
      Seq.empty[(String, java.lang.Long, java.lang.Long)])
    for (in <- inputs) {
      val long = in.toDF("period", "views", "downloads")
      val got = MetricsApi.columnarResponse(long, metrics)
      val want = reference(long, metrics)
      assert(got.schema == want.schema)
      assert(got.collect().map(_.json).toSeq == want.collect().map(_.json).toSeq)
    }
  }

  test("zero-fill folded into the aggregation equals the spine left-join") {
    import graft.api.IdentifierDim
    val events = spreadEvents()
    val metrics = Seq("views", "downloads")
    val cases = Seq( // (unit, start, end, extra filters)
      ("day", "2024-01-05", "2024-01-20", Nil),
      ("month", "2024-01-20", "2024-03-10", Nil), // mid-unit, end day < start day
      ("month", "2023-11-15", "2025-03-02", Nil),
      ("year", "2023-06-15", "2025-02-01", Nil),
      ("day", "2030-01-01", "2030-01-05", Nil), // no event in range
      ("month", "2024-02-01", "2024-04-30", // every event filtered out
        Seq(MetricsFilter("user", Seq("100000"), "list"))),
      ("day", "2024-06-28", "2024-07-03",
        Seq(MetricsFilter("user", Seq("3", "17", "-5"), "list"))))
    for (partitioned <- Seq(false, true)) {
      val dir = eventsDir(events, partitioned)
      val s = spark.newSession()
      try {
        for ((unit, a, b, extra) <- cases) {
          val req = MetricsRequest(metrics,
            MetricsFilter("time", Seq(a, b), "range") +: extra, Seq(unit))
          // the earlier form: aggregate the filtered events, then left-join
          // the aggregate to the spine
          val users = extra.flatMap(_.values.map(_.toLong))
          val inRange = Tables.events(s, dir).filter(col("ts") >=
            to_date(lit(a)) && col("ts") < date_add(to_date(lit(b)), 1))
          val filtered =
            if (users.isEmpty) inRange
            else inRange.filter(col("user_id").isin(users: _*))
          val agg = MetricsKernel.pivotCounts(filtered,
            Seq(MetricsKernel.periodOf(col("ts"), unit).as("period")),
            col("event_type"), Seq("view" -> "views", "purchase" -> "downloads"),
            lit(1L))
          val want = MetricsKernel.zeroFillSpine(agg, s, a, b, unit, metrics)
          val got = MetricsApi.interpret(s, dir, req)
          assert(got.columns.toSeq == want.columns.toSeq)
          assert(sortedRows(got) == sortedRows(want),
            s"$unit $a..$b $extra (partitioned: $partitioned)")
        }
      } finally IdentifierDim.invalidate(s)
    }
  }

  test("driver-resolved members filter as the broadcast semi-joins did") {
    import graft.api.IdentifierDim
    val dir = eventsDir(spreadEvents())
    val s = spark.newSession()
    import s.implicits._
    try {
      val events = IdentifierDim.events(s, dir)
      val family = IdentifierDim.familyDim(s, dir)
      val node = IdentifierDim.nodeDim(s, dir)
      val portal = IdentifierDim.portalDim(s, dir)
      // the earlier member frames, each broadcast semi-joined to the events
      def familyFrame(ids: Seq[Long]) =
        family.join(broadcast(family.filter(col("user_id").isin(ids: _*))
          .select(col("family_id"))), Seq("family_id"), "left_semi")
          .select(col("user_id")).union(ids.toDF("user_id"))
      def nodeFrame(nodes: Seq[String]) =
        node.filter(col("node_id").isin(nodes: _*)).select(col("user_id"))
      def portalFrame(portals: Seq[Long]) =
        portal.filter(col("portal_id").isin(portals.map(p => ((p % 7) + 7) % 7): _*))
          .select(col("user_id"))
      def semi(members: org.apache.spark.sql.DataFrame) =
        events.join(broadcast(members), Seq("user_id"), "left_semi")
      val cases = Seq( // (filter, the earlier filtered events)
        MetricsFilter("dataset", Seq("3", "103", "57", "-7", "100000"), "list") ->
          semi(familyFrame(Seq(3L, 103L, 57L, -7L, 100000L))),
        MetricsFilter("dataset", Seq("100000"), "list") ->
          semi(familyFrame(Seq(100000L))),
        MetricsFilter("repository", Seq("urn:node:B", "urn:node:CN"), "list") ->
          semi(nodeFrame(Seq("urn:node:B"))),
        MetricsFilter("repository", Seq("urn:node:CN"), "list") -> events,
        MetricsFilter("repository", Seq("urn:node:Z"), "list") ->
          semi(nodeFrame(Seq("urn:node:Z"))),
        MetricsFilter("portal", Seq("portal-2", "portal--3"), "list") ->
          semi(portalFrame(Seq(2L, -3L))),
        MetricsFilter("portal", Seq(s"portal-${Long.MaxValue}", "portal-16"),
          "list") -> semi(portalFrame(Seq(Long.MaxValue, 16L))))
      for ((f, old) <- cases) {
        // per (month, user) counts, so a wrong member shows as its own row
        val got = MetricsApi.interpret(s, dir,
          MetricsRequest(Seq("views", "downloads"), Seq(f), Seq("month", "user")))
        val want = MetricsKernel.pivotCounts(old,
          Seq(MetricsKernel.periodOf(col("ts"), "month").as("period"),
            col("user_id")), col("event_type"),
          Seq("view" -> "views", "purchase" -> "downloads"), lit(1L))
        assert(sortedRows(got) == sortedRows(want), f.toString)
      }
    } finally IdentifierDim.invalidate(s)
  }

  test("ids appended to the directory reach the member indexes after invalidate") {
    import graft.api.IdentifierDim
    def rows(from: Long, to: Long) = spark.range(from, to)
      .select(col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("id")).as("ts"),
        col("id").as("user_id"), lit("view").as("event_type"))
    val dir = eventsDir(rows(0, 150))
    val s = spark.newSession()
    def views() = MetricsApi.interpret(s, dir, MetricsRequest(Seq("views"),
      Seq(MetricsFilter("dataset", Seq("3"), "list")), Seq("month")))
      .collect().map(_.getLong(1)).sum
    try {
      assert(IdentifierDim.familyMembers(s, dir, Seq(3L)) == Set(3L, 53L, 103L))
      assert(views() == 3)
      rows(150, 200).write.mode("append").parquet(s"$dir/events.parquet")
      // the indexes, like the resolved listing, are fixed until invalidate
      assert(IdentifierDim.familyMembers(s, dir, Seq(3L)) == Set(3L, 53L, 103L))
      assert(!IdentifierDim.portalMembers(s, dir, Seq(3L)).contains(157L))
      IdentifierDim.invalidate(s)
      assert(IdentifierDim.familyMembers(s, dir, Seq(3L)) ==
        Set(3L, 53L, 103L, 153L))
      assert(IdentifierDim.portalMembers(s, dir, Seq(3L)).contains(157L))
      assert(IdentifierDim.nodeMembers(s, dir, Seq("urn:node:D")).contains(153L))
      assert(views() == 4)
    } finally IdentifierDim.invalidate(s)
  }

  test("catalog summaries equal the countDistinct formulation") {
    import graft.api.IdentifierDim
    import spark.implicits._
    val dir = eventsDir(Seq[(java.lang.Long, Long, String)](
      (10L, 1L, "view"), (10L, 1L, "view"), (11L, 1L, "view"),
      (11L, 1L, "purchase"), (null, 1L, "view"), (null, 1L, "purchase"),
      (12L, 1L, "click"), (null, 2L, "view"), (20L, 3L, "purchase"),
      (21L, 3L, "purchase"), (20L, 3L, "purchase"), (5L, 4L, "view"),
      (30L, 5L, null), (10L, 6L, "view"))
      .toDF("event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_seconds(lit(1704067200L))))
    val s = spark.newSession()
    try {
      val metrics = Seq("views", "downloads", "clicks")
      val ids = Seq("1", "2", "3", "5", "6", "99")
      // the earlier form, which plans an Expand and two exchanges
      def distinct(t: String) =
        countDistinct(when(col("event_type") === t, col("event_id")))
      val want = IdentifierDim.events(s, dir)
        .filter(col("user_id").isin(ids.map(_.toLong): _*))
        .groupBy(col("user_id").as("entity"))
        .agg(distinct("view").as("views"), distinct("purchase").as("downloads"),
          distinct("click").as("clicks"))
      val got = MetricsApi.interpret(s, dir, MetricsRequest(metrics,
        Seq(MetricsFilter("catalog", ids, "list")), Seq()))
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(sortedRows(got) == sortedRows(want))
      assert(sortedRows(got) == Seq("1|2|1|1", "2|0|0|0", "3|0|2|0", "5|0|0|0",
        "6|1|0|0"))
    } finally IdentifierDim.invalidate(s)
  }

  test("a warm session answers each request shape within its job budget") {
    import graft.api.IdentifierDim
    val s = spark.newSession()
    val range = MetricsFilter("time", Seq("2024-01-03", "2024-01-20"), "range")
    def interpret(groupBy: Seq[String], filters: MetricsFilter*) =
      MetricsApi.interpret(s, testDataDir,
        MetricsRequest(Seq("views", "downloads"), filters, groupBy))
    // (shape, job budget, request): interpret plus collect, as the
    // benchmark's clients send them
    val shapes = Seq[(String, Int, () => Unit)](
      ("landing", 2, () => MetricsApi.columnarResponse(interpret(Seq("day"),
        MetricsFilter("user", Seq("1", "2", "5", "8"), "list"), range),
        Seq("views", "downloads")).collect()),
      ("dataset", 2, () => interpret(Seq("month"),
        MetricsFilter("dataset", Seq("3", "7"), "list"), range).collect()),
      ("repository", 2, () => interpret(Seq("day"),
        MetricsFilter("repository", Seq("urn:node:B"), "list"), range).collect()),
      ("portal", 2, () => interpret(Seq("month"),
        MetricsFilter("portal", Seq("portal-2"), "list"),
        MetricsFilter("query", Seq("-event_type:err* AND (event_type:view OR " +
          "event_type:click OR event_type:\"purchase\")"), "query")).collect()),
      ("catalog", 2, () => interpret(Seq(),
        MetricsFilter("catalog", Seq("1", "2", "3", "4", "5"), "list")).collect()),
      ("user_charts", 3, () => interpret(Seq("months", "country"),
        MetricsFilter("user", Seq("1", "2", "3", "4", "5", "6"), "list"),
        MetricsFilter("month", Seq("01/03/2024", "01/20/2024"), "range")).collect()),
      ("filters", 0, () => MetricsApi.filtersCatalog(s, testDataDir).collect()))
    try {
      shapes.foreach(_._3()) // cold: the dims and their indexes are built
      for ((shape, budget, send) <- shapes) {
        val jobs = jobsLaunched(send())
        assert(jobs <= budget, s"$shape ran $jobs Spark jobs (budget $budget)")
      }
    } finally IdentifierDim.invalidate(s)
  }
}
