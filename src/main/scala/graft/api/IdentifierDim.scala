package graft.api

import graft.Tables
import graft.operators.Joins
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._

/** Materialized identifier dimensions for the request interpreter — the
  * Spark analogue of the reference's `identifiers-2` index built by its
  * sysmeta sync job (`es_sysmeta_sync.py:159-286`) and consumed by the
  * dataset-family expansion (`metricsreader.py:1259-1343`, J4) and the
  * portal membership filter (`metricsreader.py:1449-1453`, F4).
  *
  * The family dimension is NOT a modulo formula at query time: it is the
  * output of the J2 chain-root resolve ([[Joins.resolveRoots]]) over the
  * synthetic obsolescence graph (identifier u obsoletes u−50, so chain
  * heads are 0..49 — the same family partition the driver's oracle
  * expresses as `user_id % 50`, but here it EMERGES from the graph walk,
  * exactly as the reference's families are obsolescence chains resolved to
  * their head PID). Queries consume it as a broadcast dimension join.
  *
  * Scale: in production this dimension comes from the (small) metadata
  * store, not the fact table; it is built once per sync cycle and is tiny
  * relative to events (one row per identifier). Here it is derived from
  * the fact table's distinct user ids — the only id source in the driver
  * tables — built once per (session, sfDir) and pinned as checkpoint
  * blocks, so every interpreted request reuses it without re-running the
  * build. Real version chains are short (the reference caps resolution at
  * depth 20, `pid_resolution.py:236`); the synthetic u−50 chains grow with
  * the id domain, which pointer jumping absorbs in O(log depth) rounds.
  *
  * The same per-(session, dir) cache also holds the resolved events
  * relation ([[events]]): the partition listing and parquet schema
  * inference run once, not on every request. Only the handle is kept (no
  * cache, no checkpoint), so it pins no blocks; but its file listing is
  * fixed at resolution, so files appended to the directory stay invisible
  * to the API until [[invalidate]].
  */
object IdentifierDim {

  /** Built dims — and the resolved events relation — keyed by (session
    * UUID, table dir, name): the materialized-dimension analogue of the
    * reference's sync-job output.
    * The session UUID is stable and never reused (unlike identityHashCode,
    * which can collide after a session is GC'd and would then serve another
    * session's plan).
    *
    * Lifecycle: an entry lives until [[invalidate]] (call it on session
    * close) or until its SparkContext stops ([[sweep]] then drops it).
    * GC-based eviction is deliberately NOT offered: a cached Dataset
    * strongly references its owning session, so a session with live cache
    * entries is never collectable — sessions on a long-lived shared context
    * must be invalidated explicitly. */
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), (SparkSession, DataFrame)]

  /** Stable unique id per session: minted once per session object and held
    * weakly, so a GC'd session's id is never reused (identityHashCode can
    * be), and id-minting itself never pins sessions. */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private def sessionKey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  private def cached(spark: SparkSession, dir: String, which: String,
                     pin: Boolean = true)
                    (build: => DataFrame): DataFrame = {
    sweep()
    val key = (sessionKey(spark), dir, which)
    cache.get(key) match {
      case Some((_, df)) => df
      case None =>
        // TrieMap.getOrElseUpdate can run the thunk in two racing threads
        // and silently drop one result — whose checkpoint blocks would pin
        // the block manager forever. Build outside the map, then let
        // putIfAbsent decide; the loser unpersists its own build.
        val built = if (pin) build.localCheckpoint() else build
        cache.putIfAbsent(key, (spark, built)) match {
          case Some((_, winner)) => release(built); winner
          case None => built
        }
    }
  }

  /** General materialized-dimension hook for other modules: build once per
    * (session, dir), pin as checkpoint blocks, serve to every consumer —
    * the engine-wide analogue of the reference's sync-job outputs. Entries
    * share this cache's lifecycle (sweep/invalidate). */
  def materialized(spark: SparkSession, dir: String, name: String)
                  (build: => DataFrame): DataFrame =
    cached(spark, dir, s"ext:$name")(build)

  /** Like [[materialized]], for a result small enough to hold on the
    * driver: built once per (session, dir) and kept as a local relation,
    * so reading it runs no Spark job and pins no blocks. */
  def collected(spark: SparkSession, dir: String, name: String)
               (build: => DataFrame): DataFrame =
    cached(spark, dir, s"local:$name", pin = false) {
      val df = build
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*),
        df.schema)
    }

  /** The events fact table ([[Tables.events]]) as resolved once per
    * (session, dir): every later request plans against this handle instead
    * of re-listing the partition directories and re-running the parquet
    * schema-inference job. Unpinned — a plain scan whose plan re-optimizes
    * per request; [[invalidate]] drops it so the next call re-lists. */
  def events(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "events", pin = false)(Tables.events(spark, dir))

  /** Release the local-checkpoint blocks a cached dim pins in the block
    * manager ([[Joins.unpersistLocalCheckpoint]]; the unpinned handles have
    * nothing to release). Best-effort: on a stopped context unpersist
    * throws (swallowed) — the blocks died with the executors already. */
  private def release(df: DataFrame): Unit =
    try Joins.unpersistLocalCheckpoint(df) catch { case _: Throwable => () }

  /** Drop cache entries whose SparkContext has stopped (their blocks died
    * with it). Runs on every build, so the map is bounded by entries of
    * LIVE contexts instead of growing for the JVM lifetime. */
  def sweep(): Unit =
    cache.foreach { case (k, (s, _)) =>
      if (s.sparkContext.isStopped) cache.remove(k)
    }

  /** Explicit eviction for one session (call on session close, or after
    * files land in a table dir): removes its entries, unpersists their
    * checkpoint blocks, and drops the resolved events relations so the next
    * request re-lists the directory. */
  def invalidate(spark: SparkSession): Unit = {
    val key = sessionKey(spark)
    cache.keys.filter(_._1 == key).foreach { k =>
      cache.remove(k).foreach { case (_, df) => release(df) }
    }
  }

  /** Synthetic obsolescence edges over the identifier domain: u obsoletes
    * u−50 (null parent ⇒ chain head). Every id appears as a child, so the
    * root resolve can skip node discovery. */
  private def versionEdges(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(col("user_id").as("child")).distinct()
      .withColumn("parent", when(col("child") >= 50, col("child") - 50))

  /** (user_id, family_id): each identifier mapped to its obsolescence-chain
    * head by pointer jumping (J2). maxDepth 200 guarantees convergence to
    * depth 3124 (growth 5^rounds); the resolve exits early as soon as all
    * chains settle. */
  def familyDim(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "family") {
      Joins.resolveRoots(versionEdges(spark, dir), maxDepth = 200,
        edgesCoverAllNodes = true, jumpsPerRound = 4)
        .select(col("node").as("user_id"), col("root").as("family_id"))
    }

  /** (user_id, portal_id) membership pairs — the flattened form of the
    * reference's `portalIdentifier[]` arrays (synthetic membership: portal
    * p holds ids ≡ p mod 7; production loads the real membership rows). */
  def portalDim(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "portal") {
      events(spark, dir).select(col("user_id")).distinct()
        .withColumn("portal_id", pmod(col("user_id"), lit(7)))
    }

  /** All identifiers in the families of the requested ids: the dim rows
    * whose family is one of the requested ids' families, plus the requested
    * ids themselves. Ids absent from the dimension thus pass through as
    * singleton members — the reference falls back to filtering by the raw
    * PID when the identifiers index has no entry for it — and an id present
    * in the dim is already its own family's member (every dim row has a
    * non-null root), so the union adds no id outside the families. The
    * result may repeat ids; it feeds a semi-join, which ignores that.
    *
    * The families come from an [[inIds]] filter on the checkpointed dim,
    * the members from one broadcast left-semi join against it, and the ids
    * are a local relation with exact stats: the plan reads no fact table
    * and needs no shuffle and no `distinct`. */
  def familyMembers(spark: SparkSession, dir: String,
                    ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    val dim = familyDim(spark, dir)
    val requested = ids.toDF("user_id")
    val families = dim.filter(inIds(col("user_id"), ids))
      .select(col("family_id"))
    dim.join(broadcast(families), Seq("family_id"), "left_semi")
      .select(col("user_id"))
      .union(requested)
  }

  /** (user_id, node_id, country) attribution dimension — the reference's
    * node dictionary join (J6, `metricsreporter.py:678-703`) plus the geo
    * attribution its events carry. The CONTENT is synthetic (driver tables
    * have no node/geo columns; the formulas live in
    * [[graft.reports.CounterReport.nodeOf]]/`countryOf`), but the SHAPE is
    * the production one: a small dimension built once per sync cycle,
    * checkpointed, and broadcast-joined into the report/API paths — at
    * 1000 executors the node dim is a broadcast join, never a
    * constant-folded array lookup on the fact side. */
  def nodeDim(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "node") {
      events(spark, dir).select(col("user_id")).distinct()
        .withColumn("node_id",
          graft.reports.CounterReport.nodeOf(col("user_id")))
        .withColumn("country",
          graft.reports.CounterReport.countryOf(col("user_id")))
    }

  /** All member identifiers of the requested portals. */
  def portalMembers(spark: SparkSession, dir: String,
                    portals: Seq[Long]): DataFrame =
    portalDim(spark, dir)
      .filter(inIds(col("portal_id"), portals.map(p => ((p % 7) + 7) % 7)))
      .select(col("user_id"))

  /** `c IN (ids)` as Spark's set-valued `InSet`, the form the optimizer
    * itself gives lists longer than ten values. A short `isin` list stays
    * an `In`, whose values are compiled into the generated code as
    * literals, so each id list would need a class of its own; `InSet`
    * holds its values as a reference, so every request of a shape shares
    * one class in Spark's codegen cache (100 entries by default) instead
    * of evicting the others'. It still reaches the parquet scan as an
    * `In` pushdown. */
  private[api] def inIds(c: Column, ids: Seq[Long]): Column =
    GraftShims.column(InSet(GraftShims.expression(c), ids.toSet[Any]))
}
