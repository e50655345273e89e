package graft

import graft.api.{MetricsApi, MetricsFilter, MetricsRequest}
import graft.operators.MetricsKernel
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
      val got = set(IdentifierDim.familyMembers(s, dir, ids))
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
}
