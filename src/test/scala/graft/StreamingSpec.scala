package graft

import java.sql.Timestamp

import graft.operators.Sessionize
import graft.streaming.{SessionEvent, StreamingSessionize}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private def ev(user: Long, sec: Long, id: Long) =
    SessionEvent(user, Timestamp.from(java.time.Instant.ofEpochSecond(sec)), id)

  private val base = 1700000000L
  private val fixture = Seq(
    ev(1, base, 1), ev(1, base + 100, 2), ev(1, base + 5000, 3),
    ev(2, base + 50, 4), ev(2, base + 4000, 5), ev(2, base + 4100, 6),
    ev(3, base + 10, 7))

  test("statefulSessionize matches the batch window sessionizer") {
    import spark.implicits._
    val input = MemoryStream[SessionEvent](spark)
    // two micro-batches split mid-stream: state must carry across
    val (b1, b2) = fixture.splitAt(4)
    val out = StreamingSessionize.statefulSessionize(
      input.toDS(), gapSeconds = 3600L)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sessions")
      .select("user_id", "event_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    val batch = Sessionize.withSessionSeq(
      fixture.toDF(), col("user_id"), col("ts"), col("event_id"), 3600L)
      .select("user_id", "event_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    assert(streamed == batch)
  }

  test("stream-stream interval join matches the batch join across micro-batch splits") {
    import graft.streaming.StreamJoins
    import spark.implicits._
    val purchases = Seq(ev(1, base + 200, 100), ev(2, base + 4200, 101),
      ev(3, base + 9000, 102))
    val clicks = fixture
    val pIn = MemoryStream[SessionEvent](spark)
    val cIn = MemoryStream[SessionEvent](spark)
    val out = StreamJoins.intervalJoin(pIn.toDS().toDF(), cIn.toDS().toDF(),
      windowSeconds = 300L, watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("sjoin")
      .outputMode("append").start()
    // interleave the sides across micro-batches: join state must buffer
    val (c1, c2) = clicks.splitAt(3)
    cIn.addData(c1); q.processAllAvailable()
    pIn.addData(purchases.take(2)); q.processAllAvailable()
    cIn.addData(c2); pIn.addData(purchases.drop(2)); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sjoin")
      .select("user_id", "event_id", "r_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = StreamJoins.intervalJoin(purchases.toDF(), clicks.toDF(),
      windowSeconds = 300L, watermarkDelay = "1 hour")
      .select("user_id", "event_id", "r_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    // sanity: user 1's purchase at +200 attributes to clicks at +0/+100,
    // NOT the one at +5000
    assert(batch.contains((1L, 100L, 1L)) && batch.contains((1L, 100L, 2L)))
    assert(!batch.exists(t => t._1 == 1L && t._3 == 3L))
  }

  test("left-outer interval join emits unmatched rows once the watermark passes") {
    // "purchases with NO preceding click" — the outer attribution shape.
    // Unmatched left rows may only emit after the watermark proves no
    // matching right row can still arrive (state eviction), so the test
    // pushes both sides' watermarks far past the fixture before asserting.
    import graft.streaming.StreamJoins
    import spark.implicits._
    val pIn = MemoryStream[SessionEvent](spark)
    val cIn = MemoryStream[SessionEvent](spark)
    val out = StreamJoins.intervalJoin(pIn.toDS().toDF(), cIn.toDS().toDF(),
      windowSeconds = 300L, watermarkDelay = "10 minutes",
      joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("louter")
      .outputMode("append").start()
    // user 1's purchase has a click in-window; user 2's has none
    pIn.addData(Seq(ev(1, base + 200, 100), ev(2, base + 200, 101)))
    cIn.addData(Seq(ev(1, base + 100, 1)))
    q.processAllAvailable()
    // watermark-advancing rows on BOTH sides (far future), then drain
    pIn.addData(Seq(ev(99, base + 900000, 900)))
    cIn.addData(Seq(ev(99, base + 900000, 901)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("louter")
      .filter(col("user_id") < 10)
      .select(col("user_id"), col("event_id"), col("r_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    assert(got == Set((1L, 100L, Some(1L)), (2L, 101L, None)))
  }

  test("sessionWindowStats (batch mode) matches gap-based sessionStats") {
    import spark.implicits._
    val df = fixture.toDF()
    val viaWindow = StreamingSessionize.sessionWindowStats(df, 3600L)
      .select("user_id", "n_events", "session_start", "session_end")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2), r.getTimestamp(3))).toSet
    val viaGaps = Sessionize.sessionStats(df, col("user_id"), col("ts"),
      col("event_id"), 3600L)
      .select("user_id", "n_events", "session_start", "session_end")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2), r.getTimestamp(3))).toSet
    assert(viaWindow == viaGaps)
  }

  test("late event within watermark merges two sessions (native out-of-order repair)") {
    // the reference repairs out-of-order arrivals by stripping session ids
    // and reprocessing (`metricselasticsearch.py:887-931`); session_window
    // + watermark does the merge natively: two sessions 2h apart become ONE
    // when a late bridging event lands between them
    import spark.implicits._
    val input = MemoryStream[SessionEvent](spark)
    val out = StreamingSessionize.sessionWindowStats(
      input.toDS().toDF(), gapSeconds = 3600L, watermark = Some("4 hours"))
    val q = out.writeStream.format("memory").queryName("merged")
      .outputMode("append").start()
    // batch 1: two separate sessions for user 9 (gap 100min > TTL)
    input.addData(Seq(ev(9, base, 1), ev(9, base + 6000, 2)))
    q.processAllAvailable()
    // batch 2: LATE bridging event at +50min (within TTL of both
    // neighbors), then a far-future event that pushes the watermark past
    // everything so final sessions emit
    input.addData(Seq(ev(9, base + 3000, 3), ev(9, base + 900000, 4)))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("merged")
      .filter(col("session_start") < java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(base + 800000)))
      .collect().map(r => (r.getLong(1),
        r.getTimestamp(2).toInstant.getEpochSecond,
        r.getTimestamp(3).toInstant.getEpochSecond))
    // ONE merged session covering all three events — no repair protocol
    assert(sessions.toSeq == Seq((3L, base, base + 6000)))
  }

  test("streaming tumbling-window counts match the batch date histogram") {
    import spark.implicits._
    val input = MemoryStream[SessionEvent](spark)
    val agg = input.toDS()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("day"), col("user_id"), col("n"))
    val q = agg.writeStream.format("memory").queryName("daily")
      .outputMode("complete").start()
    input.addData(fixture); q.processAllAvailable(); q.stop()

    val streamed = spark.table("daily").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = fixture.toDF()
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("day"), col("user_id"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("statefulSessionize with watermark evicts idle state (EventTimeTimeout)") {
    import spark.implicits._
    val input = MemoryStream[SessionEvent](spark)
    val out = StreamingSessionize.statefulSessionize(
      input.toDS(), gapSeconds = 3600L, watermark = Some("1 hour"))
    val q = out.writeStream.format("memory").queryName("evicted")
      .outputMode("append").start()
    // batch 1: user 1 opens session 1
    input.addData(Seq(ev(1, base, 1))); q.processAllAvailable()
    // batch 2: another key far in the future pushes the watermark well past
    // user 1's (lastTs + gap) -> user 1's state times out and is removed
    input.addData(Seq(ev(2, base + 500000, 2))); q.processAllAvailable()
    // batch 3: user 1 returns after eviction — session_seq restarts at 1
    // (the documented post-eviction contract: without the timeout this
    // would be seq 2, and state would grow with every key ever seen)
    input.addData(Seq(ev(1, base + 600000, 3))); q.processAllAvailable()
    q.stop()
    val seqs = spark.table("evicted")
      .select("event_id", "session_seq")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seqs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("end-to-end lifecycle: stream ingest -> enrich -> sessionize -> agg matches batch") {
    // the reference's full pipeline (§3.4): events land incrementally, get
    // enriched, sessionized, and aggregated — here the same four stages run
    // once through Structured Streaming and once as a batch plan over
    // identical rows, and must agree exactly
    import spark.implicits._
    val events = Tables.events(spark, testDataDir).limit(3000)
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[SessionEvent].collect().toSeq

    def enrichThenCount(sessions: org.apache.spark.sql.DataFrame) = sessions
      .withColumn("suspect", col("user_id") % 97 === 0) // enrich: tag column
      .groupBy(col("suspect"), col("session_seq"))
      .agg(count(lit(1)).as("n"))

    val input = MemoryStream[SessionEvent](spark)
    val streamed = StreamingSessionize.statefulSessionize(input.toDS(), 3600L)
      .toDF()
    val q = enrichThenCount(streamed)
      .writeStream.format("memory").queryName("lifecycle")
      .outputMode("complete").start()
    val (b1, b2) = events.splitAt(events.size / 2)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()

    val viaStream = spark.table("lifecycle").collect()
      .map(r => (r.getBoolean(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaBatch = enrichThenCount(Sessionize.withSessionSeq(
      events.toDF(), col("user_id"), col("ts"), col("event_id"), 3600L))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaStream == viaBatch)
  }

  test("statefulSessionize in a single batch matches batch semantics on events table") {
    import spark.implicits._
    val events = Tables.events(spark, testDataDir).limit(2000)
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[SessionEvent]
    val input = MemoryStream[SessionEvent](spark)
    val out = StreamingSessionize.statefulSessionize(input.toDS(), 3600L)
    val q = out.writeStream.format("memory").queryName("sessions2")
      .outputMode("append").start()
    input.addData(events.collect().toSeq); q.processAllAvailable(); q.stop()

    val streamed = spark.table("sessions2")
      .select("user_id", "event_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Sessionize.withSessionSeq(
      Tables.events(spark, testDataDir).limit(2000),
      col("user_id"), col("ts"), col("event_id"), 3600L)
      .select("user_id", "event_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("streaming dedup suppresses duplicate keys across micro-batches") {
    import graft.streaming.StreamDedup
    import spark.implicits._
    val input = MemoryStream[SessionEvent](spark)
    val out = StreamDedup.dedupStream(input.toDS().toDF(),
      Seq("event_id"), watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    // batch 1 emits 1,2,3; batch 2 replays 2 (MUST be suppressed by the
    // state store, not an in-batch distinct) and introduces 4
    input.addData(Seq(ev(1, base, 1), ev(1, base + 10, 2), ev(2, base + 20, 3)))
    q.processAllAvailable()
    input.addData(Seq(ev(1, base + 10, 2), ev(3, base + 30, 4)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup").select("event_id").collect()
      .map(_.getLong(0)).toSeq
    assert(got.sorted == Seq(1L, 2L, 3L, 4L))
    assert(got.length == 4) // each key exactly once — no double emission
  }

  test("streaming MERGE fold: per-batch dedup, delete, and version chain") {
    import graft.streaming.StreamMerge
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streammerge").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    def put(name: String, body: String, mtime: Long): Unit = {
      val f = new java.io.File(src, name)
      java.nio.file.Files.writeString(f.toPath, body)
      f.setLastModified(mtime); ()
    }
    // batch 1: k=1 changed twice (in-batch latest-wins), k=2 inserted;
    // batch 2 (strictly later mtime): k=1 updated again, k=2 DELETED,
    // k=3 inserted — the fold must thread state across both versions
    put("a.json",
      """{"k":1,"seq":1,"op":"U","v":"a1"}
        |{"k":1,"seq":2,"op":"U","v":"a2"}
        |{"k":2,"seq":1,"op":"U","v":"b1"}
        |""".stripMargin, 1700000000000L)
    put("b.json",
      """{"k":1,"seq":3,"op":"U","v":"a3"}
        |{"k":2,"seq":2,"op":"D","v":"-"}
        |{"k":3,"seq":1,"op":"U","v":"c1"}
        |""".stripMargin, 1700000002000L)
    val schemaDf = Seq((1L, 1L, "U", "x")).toDF("k", "seq", "op", "v")
    val finalPath = StreamMerge.streamMergeGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", key = "k", seqCol = "seq", opCol = "op",
      changesOf = b => b.select(col("k"), col("seq"), col("op"), col("v")))
    val got = spark.read.parquet(finalPath)
      .select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a3", 3L -> "c1"))
    // copy-on-write protocol: each batch wrote its OWN version dir
    assert(new java.io.File(s"$dir/gold/v0").exists())
    assert(finalPath != s"$dir/gold/v0")
    // restart with a surviving checkpoint and no new files: every batch
    // is already committed, so zero folds run — the gold pointer must
    // RECOVER from the newest version dir, not report "no batches" (and
    // a fold after recovery must start from the recovered base, which
    // the version guard makes order-safe; r8 ADVICE)
    val recovered = StreamMerge.streamMergeGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", key = "k", seqCol = "seq", opCol = "op",
      changesOf = b => b.select(col("k"), col("seq"), col("op"), col("v")))
    assert(recovered == finalPath)
    // a STALE replay file folded after restart is a no-op under the guard
    put("c.json", """{"k":1,"seq":2,"op":"U","v":"STALE"}
                    |""".stripMargin, 1700000004000L)
    val after = StreamMerge.streamMergeGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", key = "k", seqCol = "seq", opCol = "op",
      changesOf = b => b.select(col("k"), col("seq"), col("op"), col("v")))
    val after2 = spark.read.parquet(after).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after2 == Map(1L -> "a3", 3L -> "c1"))
  }

  test("streaming KMV fold is bit-identical to a one-shot sketch and recovers") {
    import graft.operators.{Dedup, Sketches}
    import graft.streaming.StreamSketch
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamkmv").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    def put(name: String, rows: Seq[(String, Long)], mtime: Long): Unit = {
      val f = new java.io.File(src, name)
      java.nio.file.Files.writeString(f.toPath,
        rows.map { case (g, u) => s"""{"g":"$g","u":$u}""" }
          .mkString("", "\n", "\n"))
      f.setLastModified(mtime); ()
    }
    // cohort "a": 10 distinct users (saturates k=4, estimator branch);
    // cohort "b": 2 users (unsaturated, exact branch). Users repeat
    // ACROSS batches and cohorts straddle every batch — the adversarial
    // split for a distinct sketch fold.
    put("x.json", Seq("a" -> 1L, "a" -> 2L, "a" -> 3L, "b" -> 1L),
      1700000000000L)
    put("y.json", Seq("a" -> 3L, "a" -> 4L, "a" -> 5L, "a" -> 6L,
      "b" -> 1L, "b" -> 2L), 1700000002000L)
    put("z.json", Seq("a" -> 7L, "a" -> 8L, "a" -> 9L, "a" -> 10L,
      "a" -> 1L, "b" -> 2L), 1700000004000L)
    val schemaDf = Seq(("a", 1L)).toDF("g", "u")
    val k = 4
    val sketchOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      b => b.groupBy(col("g"))
        .agg(Sketches.kmvSketch(Dedup.hash60(col("u").cast("string")), k)
          .as("sk"))
    val finalPath = StreamSketch.streamKmvGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", k, sketchOf)
    def sketches(path: String): Map[String, Seq[Long]] =
      spark.read.parquet(path).select("g", "sk").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val folded = sketches(finalPath)
    val allRows = Seq("a" -> 1L, "a" -> 2L, "a" -> 3L, "a" -> 4L,
      "a" -> 5L, "a" -> 6L, "a" -> 7L, "a" -> 8L, "a" -> 9L, "a" -> 10L,
      "b" -> 1L, "b" -> 2L)
    val direct = sketchOf(allRows.toDF("g", "u")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // the graded property: lossless rollup makes the fold EXACT —
    // bit-identical sketch arrays, not just close estimates
    assert(folded == direct)
    assert(folded("a").length == k)  // saturated cohort holds exactly k
    assert(folded("b").length == 2)  // unsaturated cohort stays exact
    // each batch wrote its own copy-on-write version dir
    assert(new java.io.File(s"$dir/gold/v0").exists())
    assert(finalPath != s"$dir/gold/v0")
    // restart with the surviving checkpoint and no new files: zero folds
    // run, the pointer must recover from the newest _SUCCESS version
    val recovered = StreamSketch.streamKmvGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", k, sketchOf)
    assert(recovered == finalPath)
    assert(sketches(recovered) == direct)
    // a late file folded after restart starts from the recovered base:
    // replayed users are absorbed, one new user shifts only cohort "b"
    put("w.json", Seq("a" -> 1L, "b" -> 3L), 1700000006000L)
    val after = StreamSketch.streamKmvGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", k, sketchOf)
    val expected = sketchOf((allRows :+ ("b" -> 3L)).toDF("g", "u"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sketches(after) == expected)
  }

  test("streaming weighted pair-sketch fold is bit-identical to one-shot") {
    import graft.operators.{Dedup, Sketches}
    import graft.streaming.StreamSketch
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamkmvp").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    def put(name: String, rows: Seq[(String, Long, Long)], mtime: Long): Unit = {
      val f = new java.io.File(src, name)
      java.nio.file.Files.writeString(f.toPath,
        rows.map { case (g, u, w) => s"""{"g":"$g","u":$u,"w":$w}""" }
          .mkString("", "\n", "\n"))
      f.setLastModified(mtime); ()
    }
    // cohort "a": 10 members saturate k=4, and members 1 and 3 split
    // their weight ACROSS batches — the sums must assemble through the
    // fold while eviction churns the partials; cohort "b" stays exact
    val b1 = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 5L),
      ("b", 1L, 7L))
    val b2 = Seq(("a", 3L, 25L), ("a", 4L, 40L), ("a", 5L, 50L),
      ("a", 6L, 60L), ("b", 1L, 3L), ("b", 2L, 9L))
    val b3 = Seq(("a", 7L, 70L), ("a", 8L, 80L), ("a", 9L, 90L),
      ("a", 10L, 100L), ("a", 1L, 1L), ("b", 2L, 1L))
    put("x.json", b1, 1700000000000L)
    put("y.json", b2, 1700000002000L)
    put("z.json", b3, 1700000004000L)
    val schemaDf = Seq(("a", 1L, 1L)).toDF("g", "u", "w")
    val k = 4
    val sketchOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      b => b.groupBy(col("g"))
        .agg(Sketches.kmvPairSketch(Dedup.hash60(col("u").cast("string")),
          col("w"), k).as("sk"))
    val finalPath = StreamSketch.streamKmvPairGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", k, sketchOf)
    def sketches(df: org.apache.spark.sql.DataFrame): Map[String, Seq[(Long, Long)]] =
      df.select(col("g"), col("sk")).as[(String, Seq[(Long, Long)])]
        .collect().toMap
    val folded = sketches(spark.read.parquet(finalPath))
    val direct = sketches(sketchOf((b1 ++ b2 ++ b3).toDF("g", "u", "w")))
    assert(folded == direct,
      "pair fold must be bit-identical to the one-shot sketch")
    assert(folded("a").length == k)
    // cohort "b" is unsaturated: complete member sums, assembled across
    // batches (member 1: 7+3, member 2: 9+1)
    val bSums = folded("b").map(_._2).sorted
    assert(bSums == Seq(10L, 10L), s"got $bSums")
  }

  test("streaming top-k fold appends per-period summaries; merge equals batch rollup") {
    import graft.operators.Sketches
    import graft.streaming.StreamSketch
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamtopk").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    def put(name: String, rows: Seq[(Long, String)], mtime: Long): Unit = {
      val f = new java.io.File(src, name)
      java.nio.file.Files.writeString(f.toPath,
        rows.map { case (p, t) => s"""{"p":$p,"t":"$t"}""" }
          .mkString("", "\n", "\n"))
      f.setLastModified(mtime); ()
    }
    // one file per CONTENT-derived period (the operator's contract):
    // period 1 has a rank-3 term so its epsilon is nonzero, period 2
    // tracks everything (epsilon 0) — both truncation branches fold
    val p1 = Seq(1L -> "x", 1L -> "x", 1L -> "x", 1L -> "y", 1L -> "y",
      1L -> "z")
    val p2 = Seq(2L -> "y", 2L -> "y", 2L -> "y", 2L -> "y", 2L -> "w")
    put("x.json", p1, 1700000000000L)
    put("y.json", p2, 1700000002000L)
    val schemaDf = Seq((1L, "x")).toDF("p", "t")
    val summarize: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      b => Sketches.topkSummaries(b, col("p"), col("t"), k = 2)
    val finalPath = StreamSketch.streamTopkGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", summarize)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val gold = spark.read.parquet(finalPath)
    // append-only fold: the gold IS the per-period summaries, exactly
    val direct = summarize((p1 ++ p2).toDF("p", "t"))
    assert(rows(gold) == rows(direct))
    assert(rows(gold) == Set((1L, "x", 3L, 1L), (1L, "y", 2L, 1L),
      (2L, "y", 4L, 0L), (2L, "w", 1L, 0L)))
    // read-time merge over streamed gold == batch rollup, bounds included
    def merged(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      Sketches.topkMerge(df, k = 2).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(merged(gold) == merged(direct))
    assert(merged(gold) == Seq(("y", 6L, 6L), ("x", 3L, 3L)))
    // a late file with a NEW period appends from the recovered base
    put("z.json", Seq(3L -> "x", 3L -> "x"), 1700000004000L)
    val after = StreamSketch.streamTopkGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", summarize)
    assert(rows(spark.read.parquet(after)) ==
      rows(summarize((p1 ++ p2 ++ Seq(3L -> "x", 3L -> "x")).toDF("p", "t"))))
  }

  test("streaming histogram fold equals the one-shot histogram, then keeps folding") {
    import graft.operators.Sketches
    import graft.streaming.StreamSketch
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamhist").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    def put(name: String, rows: Seq[(String, Double)], mtime: Long): Unit = {
      val f = new java.io.File(src, name)
      java.nio.file.Files.writeString(f.toPath,
        rows.map { case (g, v) => s"""{"g":"$g","v":$v}""" }
          .mkString("", "\n", "\n"))
      f.setLastModified(mtime); ()
    }
    // values straddle bin edges and the clamp bins; cohorts straddle
    // batches — counts must ADD across the fold, never re-bin
    val b1 = Seq("a" -> 1.0, "a" -> 9.9, "a" -> 10.0, "b" -> -3.0)
    val b2 = Seq("a" -> 10.0, "a" -> 25.0, "b" -> 99.0, "b" -> 1000.0)
    val b3 = Seq("a" -> 29.999, "b" -> 0.0, "b" -> 30.0)
    put("x.json", b1, 1700000000000L)
    put("y.json", b2, 1700000002000L)
    put("z.json", b3, 1700000004000L)
    val schemaDf = Seq(("a", 1.0)).toDF("g", "v")
    val summarize: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      b => Sketches.histSummaries(b, col("g"), col("v"),
        lo = 0L, width = 10L, bins = 3)
    val finalPath = StreamSketch.streamHistGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", summarize)
    def hist(path: String): Map[(String, Long), Long] =
      spark.read.parquet(path).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = summarize((b1 ++ b2 ++ b3).toDF("g", "v")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(hist(finalPath) == direct,
      "fold must be bit-identical to the batch-free histogram")
    // a late file keeps folding from the recovered base
    put("w.json", Seq("a" -> 5.0), 1700000006000L)
    val after = StreamSketch.streamHistGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", summarize)
    val expect = summarize((b1 ++ b2 ++ b3 :+ ("a" -> 5.0)).toDF("g", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(hist(after) == expect)
  }

  test("transformWithState sessionizer matches flatMapGroupsWithState row-exactly") {
    import graft.streaming.{SessionEvent, StreamingSessionize}
    import spark.implicits._
    // same per-key walk, two state APIs: the successor API must tag
    // every event with the identical session_seq, including state
    // carried ACROSS micro-batches and the <= gap boundary tie. The
    // split respects per-key TIME order (the documented upstream
    // contract both stateful paths share — cross-batch ordering comes
    // from the source); the boundary-tie event lands in batch 2, so
    // the merge decision runs against CARRIED state
    val base = 1700000000000L
    val evs = Seq(
      // user 1: three events, second exactly gap after first (merges
      // under <=), third far later (new session)
      (1L, base, 1L), (1L, base + 3600000L, 2L), (1L, base + 99999000L, 3L),
      (2L, base + 5000L, 4L), (2L, base + 10000L, 5L),
      (2L, base + 88888000L, 6L))
    val dir = java.nio.file.Files.createTempDirectory("tws").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    def put(name: String, rows: Seq[(Long, Long, Long)], mtime: Long): Unit = {
      val f = new java.io.File(src, name)
      java.nio.file.Files.writeString(f.toPath, rows.map { case (u, t, id) =>
        s"""{"user_id":$u,"ts":"${new java.sql.Timestamp(t)}","event_id":$id}"""
      }.mkString("", "\n", "\n"))
      f.setLastModified(mtime); ()
    }
    put("a.json", evs.filter(e => Set(1L, 4L, 5L)(e._3)), 1700000000000L)
    put("b.json", evs.filter(e => Set(2L, 3L, 6L)(e._3)), 1700000002000L)
    val schemaDf = Seq((1L, new java.sql.Timestamp(base), 1L))
      .toDF("user_id", "ts", "event_id")
    StreamingSessionize.streamStatefulTwsToParquet(spark, src, schemaDf,
      s"$dir/tws_out", s"$dir/tws_cp", gapSeconds = 3600)
    // provider restored after the tWS run: the fMGWS twin runs on the
    // default store
    assert(!spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").exists(
      _.contains("RocksDB")))
    StreamingSessionize.streamStatefulToParquet(spark, src, schemaDf,
      s"$dir/fm_out", s"$dir/fm_cp", gapSeconds = 3600)
    def tags(p: String) = spark.read.parquet(p)
      .select("user_id", "event_id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val tws = tags(s"$dir/tws_out")
    val fm = tags(s"$dir/fm_out")
    assert(tws == fm, s"$tws vs $fm")
    assert(tws((1L, 2L)) == tws((1L, 1L)), "<= gap boundary must merge")
    assert(tws((1L, 3L)) == tws((1L, 1L)) + 1L)
  }

  test("SessionizeProcessor dedup flag: off tags a replay as flatMapGroupsWithState does, on suppresses it") {
    import graft.streaming.StreamingSessionize
    import spark.implicits._
    // e3 opens session 2, then a later batch replays e2: the session walk
    // without dedup tags the replay against the carried state (seq 2, its
    // old ts is within the gap of lastTs); with dedup it emits nothing
    val base = 1700000000000L
    val evs = Map(1L -> (1L, base, 1L), 2L -> (1L, base + 1000L, 2L),
      3L -> (1L, base + 3600000L + 2000L, 3L), 4L -> (2L, base + 500L, 4L))
    val dir = java.nio.file.Files.createTempDirectory("twsflag").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    def put(name: String, rows: Seq[(Long, Long, Long)], mtime: Long): Unit = {
      val f = new java.io.File(src, name)
      java.nio.file.Files.writeString(f.toPath, rows.map { case (u, t, id) =>
        s"""{"user_id":$u,"ts":"${new java.sql.Timestamp(t)}","event_id":$id}"""
      }.mkString("", "\n", "\n"))
      f.setLastModified(mtime); ()
    }
    put("a.json", Seq(evs(1L), evs(2L), evs(3L), evs(4L)), 1700000000000L)
    put("b.json", Seq(evs(2L)), 1700000002000L) // replay in a later batch
    val schemaDf = Seq((1L, new java.sql.Timestamp(base), 1L))
      .toDF("user_id", "ts", "event_id")
    def rows(p: String) = spark.read.parquet(p)
      .select("user_id", "event_id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    StreamingSessionize.streamStatefulTwsToParquet(spark, src, schemaDf,
      s"$dir/off", s"$dir/off_cp", gapSeconds = 3600)
    StreamingSessionize.streamStatefulTwsToParquet(spark, src, schemaDf,
      s"$dir/on", s"$dir/on_cp", gapSeconds = 3600, dedup = true)
    // the same one-file-per-batch split the transformWithState runs read
    StreamingSessionize.streamStatefulToParquet(spark, src, schemaDf,
      s"$dir/fm", s"$dir/fm_cp", gapSeconds = 3600,
      readOptions = Map("maxFilesPerTrigger" -> "1"))
    val first = Seq((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 1L))
    assert(rows(s"$dir/off") == rows(s"$dir/fm"))
    assert(rows(s"$dir/off") == (first :+ ((1L, 2L, 2L))).sorted)
    assert(rows(s"$dir/on") == first)
  }

  test("TTL'd seen-slot: inside-horizon replay suppressed, past-horizon replay re-admitted against SURVIVING session state") {
    import graft.streaming.StreamingSessionize
    import spark.implicits._
    // user 1 walks TWO sessions in batch 1 (e3 is > gap after e2), so
    // the re-admitted replay of e2 can distinguish state outcomes: if
    // the session ValueState survived the TTL wait, e2' is tagged with
    // the CURRENT seq (2, old ts <= lastTs merges into the live
    // session); if the value slot had expired along with the seen map,
    // the walk would restart and tag it 1. The inside-horizon replay in
    // batch 2 must emit nothing at all.
    val base = 1700000000000L
    val gapMs = 3600000L
    val evs = Map(
      1L -> (1L, base, 1L), 2L -> (1L, base + 1000L, 2L),
      3L -> (1L, base + gapMs + 2000L, 3L), // > gap after e2: session 2
      4L -> (1L, base + gapMs + 8000000L, 4L)) // > gap after e2': session 3
    val dir = java.nio.file.Files.createTempDirectory("twsttl").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    def put(name: String, rows: Seq[(Long, Long, Long)], mtime: Long): Unit = {
      val f = new java.io.File(src, name)
      java.nio.file.Files.writeString(f.toPath, rows.map { case (u, t, id) =>
        s"""{"user_id":$u,"ts":"${new java.sql.Timestamp(t)}","event_id":$id}"""
      }.mkString("", "\n", "\n"))
      f.setLastModified(mtime); ()
    }
    put("a.json", Seq(evs(1L), evs(2L), evs(3L)), 1700000000000L)
    put("b.json", Seq(evs(2L)), 1700000002000L) // replay INSIDE horizon
    val schemaDf = Seq((1L, new java.sql.Timestamp(base), 1L))
      .toDF("user_id", "ts", "event_id")
    val ttl = java.time.Duration.ofSeconds(15)
    StreamingSessionize.streamStatefulTwsToParquet(spark, src, schemaDf,
      s"$dir/out", s"$dir/cp", gapSeconds = 3600, dedup = true,
      dedupTtl = Some(ttl))
    def rows() = spark.read.parquet(s"$dir/out")
      .select("event_id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(rows() == Seq((1L, 1L), (2L, 1L), (3L, 2L)),
      s"inside-horizon replay must be suppressed: ${rows()}")
    Thread.sleep(ttl.toMillis + 1500L) // walk past the replay horizon
    put("c.json", Seq(evs(2L), evs(4L)), 1700000004000L)
    // resume from the same checkpoint: the seen entries (written in
    // batch 1, before the sleep) have expired; the session slot has not
    StreamingSessionize.streamStatefulTwsToParquet(spark, src, schemaDf,
      s"$dir/out", s"$dir/cp", gapSeconds = 3600, dedup = true,
      dedupTtl = Some(ttl))
    assert(rows() == Seq((1L, 1L), (2L, 1L), (2L, 2L), (3L, 2L), (4L, 3L)),
      s"past-horizon replay must re-admit against carried state: ${rows()}")
  }

  test("streaming CDC registry fold is bit-identical to one-shot; replay is exactly-once") {
    import graft.operators.Dedup
    import graft.streaming.StreamDedup
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamcdc").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    def put(name: String, rows: Seq[(Long, String)], mtime: Long): Unit = {
      val f = new java.io.File(src, name)
      java.nio.file.Files.writeString(f.toPath,
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("", "\n", "\n"))
      f.setLastModified(mtime); ()
    }
    // the CLONE (doc 2) arrives a batch BEFORE its source (doc 1): the
    // min-rep fold must still converge to rep=1 for every shared chunk —
    // order-freedom is the whole point of the lossless merge
    val d1 = "the quick brown fox jumps over the lazy dog repeatedly"
    put("x.json", Seq(2L -> d1, 3L -> "completely unrelated content here"),
      1700000000000L)
    put("y.json", Seq(1L -> d1), 1700000002000L)
    val schemaDf = Seq((1L, "x")).toDF("doc_id", "text")
    def registry(path: String): Map[String, Long] =
      spark.read.parquet(path).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val finalPath = StreamDedup.streamCdcRegistryGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", divisor = 64)
    val folded = registry(finalPath)
    def oneShot(rows: Seq[(Long, String)]): Map[String, Long] =
      Dedup.byteCdcRegistry(Dedup.byteCdcChunks(rows.toDF("doc_id", "text"),
          col("doc_id"), col("text"), divisor = 64), minChunkLen = 16)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = oneShot(Seq(1L -> d1, 2L -> d1,
      3L -> "completely unrelated content here"))
    assert(folded == direct, s"$folded vs $direct")
    // the later-arriving source won the rep for every shared chunk
    assert(folded.values.toSet.contains(1L) && !folded.values.toSet.contains(2L))
    // exactly-once: wipe the checkpoint so every batch replays with its
    // original batchId — committed versions must be adopted, not re-merged
    def rmrf(d: java.io.File): Unit = {
      Option(d.listFiles).foreach(_.foreach(rmrf)); d.delete(); ()
    }
    rmrf(new java.io.File(s"$dir/cp"))
    val replayed = StreamDedup.streamCdcRegistryGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", divisor = 64)
    assert(replayed == finalPath && registry(replayed) == direct)
    // and the fold keeps going: an even-smaller doc id takes over the rep
    put("z.json", Seq(0L -> d1), 1700000004000L)
    val after = StreamDedup.streamCdcRegistryGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", divisor = 64)
    val expected = oneShot(Seq(0L -> d1, 1L -> d1, 2L -> d1,
      3L -> "completely unrelated content here"))
    assert(registry(after) == expected)
    assert(!expected.values.toSet.contains(1L))
  }

  test("streaming IVF-PQ generations match the bulk append bit-exactly; replay is exactly-once") {
    import graft.operators.Vectors
    import graft.streaming.StreamVectors
    val emb = Tables.embeddings(spark, testDataDir)
    val base = emb.filter(col("vec_id") < 30)
    val delta = emb.filter(col("vec_id") >= 30)
    val (coarse, books) =
      Vectors.ivfPqModel(base, numClusters = 4, m = 8, pqK = 8, dim = 64)
    val dir = java.nio.file.Files.createTempDirectory("sivfpq").toString
    // bulk truth: base + delta appended under the frozen model
    Vectors.ivfPqWriteIndex(base, s"$dir/bulk", coarse, books, dim = 64)
    Vectors.ivfPqAppendToIndex(delta, s"$dir/bulk", coarse, books, dim = 64)
    // streaming twin: base as gen=base, delta in two micro-batches
    Vectors.ivfPqWriteIndex(base, s"$dir/idx/gen=base", coarse, books,
      dim = 64)
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    def stage(name: String, df: org.apache.spark.sql.DataFrame,
              mtime: Long): Unit = {
      df.coalesce(1).write.mode("overwrite").json(s"$dir/st_$name")
      new java.io.File(s"$dir/st_$name").listFiles()
        .filter(_.getName.endsWith(".json")).foreach { f =>
          val moved = new java.io.File(src, name + ".json")
          java.nio.file.Files.move(f.toPath, moved.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          moved.setLastModified(mtime); ()
        }
    }
    stage("a", delta.filter(col("vec_id") % 2 === 0), 1700000000000L)
    stage("b", delta.filter(col("vec_id") % 2 === 1), 1700000002000L)
    val gens = StreamVectors.streamIvfPqGold(spark, src, emb, s"$dir/idx",
      s"$dir/cp", coarse, books, dim = 64)
    assert(gens.size == 2, s"expected 2 stream generations, got $gens")
    def serve(path: String) =
      Vectors.ivfPqTopKFromIndex(spark, path, emb.filter(col("vec_id") < 5),
          coarse, books, k = 3, nprobe = 2, dim = 64)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
    val bulk = serve(s"$dir/bulk")
    assert(serve(s"$dir/idx") == bulk,
      "streamed generations must serve bit-identically to the bulk append")
    // exactly-once: wipe the checkpoint so both batches replay with their
    // original batchIds — complete generations must be ADOPTED, not
    // re-coded into duplicate rows (a duplicate neighbor would occupy two
    // ranks of a served top-k)
    def rmrf2(d: java.io.File): Unit = {
      Option(d.listFiles).foreach(_.foreach(rmrf2)); d.delete(); ()
    }
    val nRows = spark.read.parquet(s"$dir/idx").count()
    rmrf2(new java.io.File(s"$dir/cp"))
    val replayed = StreamVectors.streamIvfPqGold(spark, src, emb,
      s"$dir/idx", s"$dir/cp", coarse, books, dim = 64)
    assert(replayed == gens)
    assert(spark.read.parquet(s"$dir/idx").count() == nRows,
      "replay must not duplicate index rows")
    assert(serve(s"$dir/idx") == bulk)
  }

  test("streamFoldGold replay is exactly-once: a committed batch version is adopted, not re-merged") {
    import graft.operators.Sketches
    import graft.streaming.StreamSketch
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamreplay").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    val f = new java.io.File(src, "x.json")
    java.nio.file.Files.writeString(f.toPath,
      Seq("""{"g":"a","v":1.0}""", """{"g":"a","v":5.0}""",
        """{"g":"b","v":7.0}""").mkString("", "\n", "\n"))
    f.setLastModified(1700000000000L)
    val schemaDf = Seq(("a", 1.0)).toDF("g", "v")
    val summarize: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      b => Sketches.histSummaries(b, col("g"), col("v"),
        lo = 0L, width = 10L, bins = 3)
    def hist(path: String): Map[(String, Long), Long] =
      spark.read.parquet(path).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val first = StreamSketch.streamHistGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", summarize)
    val exact = hist(first)
    // simulate the at-least-once crash window: v0 committed (_SUCCESS
    // present) but the checkpoint never recorded batch 0 — delete the
    // checkpoint so the SAME batch replays with the SAME batchId
    // against a `current` recovered from that very v0. A non-idempotent
    // fold would merge v0 with batch 0 again and double every count.
    def rmrf(d: java.io.File): Unit = {
      Option(d.listFiles).foreach(_.foreach(rmrf)); d.delete(); ()
    }
    rmrf(new java.io.File(s"$dir/cp"))
    val replayed = StreamSketch.streamHistGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", summarize)
    assert(replayed == first, "replay must adopt the committed version")
    assert(hist(replayed) == exact,
      s"replayed fold double-counted: ${hist(replayed)} vs $exact")
    // and the fold keeps going from there: a later file still merges
    val g = new java.io.File(src, "y.json")
    java.nio.file.Files.writeString(g.toPath, "{\"g\":\"b\",\"v\":8.0}\n")
    g.setLastModified(1700000002000L)
    val after = StreamSketch.streamHistGold(spark, src, schemaDf,
      s"$dir/gold", s"$dir/cp", summarize)
    assert(hist(after) == exact.updated(("b", 0L),
      exact.getOrElse(("b", 0L), 0L) + 1L))
  }
}
