package graft.reports

import scala.util.control.NonFatal

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, InSet}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Gold-layer materialized aggregates (SURVEY.md A8/§2.9): the Spark
  * analogue of the reference's Postgres ROLLUP materialized views
  * (`02-metrics-materialized-views.sql`) plus its portal-hash change
  * detection (`es_eventlog_sync.py:469-547`).
  *
  * Spark has no automatic view routing, so gold tables are scheduled jobs.
  * The build is incremental: a per-group input fingerprint decides which
  * groups changed, and dynamic partition overwrite replaces ONLY those
  * partitions — at 100 TB a daily gold refresh touches the handful of
  * groups with new events instead of rewriting the table.
  */
object GoldTables {

  /** The landing-page rollup view shape (A8): period rollup × event_type
    * with subtotal rows. */
  def rollupView(events: DataFrame): DataFrame =
    events
      .withColumn("y", year(col("ts")))
      .withColumn("m", month(col("ts")))
      .rollup(col("y"), col("m"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_unique"))

  /** Flat per-group gold aggregate, partitioned by `groupCol` on disk. */
  def goldAgg(events: DataFrame, groupCol: String): DataFrame =
    events.groupBy(col(groupCol),
      date_format(col("ts"), "yyyy-MM").as("period"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_unique"))

  /** Per-group input fingerprint for change detection (the role of the
    * reference's portal hash, `es_eventlog_sync.py:469-547`). Equal
    * fingerprint ⇒ group unchanged ⇒ skip rebuild.
    *
    * NOT the reference's md5-of-sorted-ids (that shape survives only for
    * bounded groups — see the graded `a16_group_fingerprint`): gold groups
    * here are nodes/portals whose member sets grow with the fact table, and
    * `collect_list` would hold billions of ids in one aggregation buffer at
    * 100 TB. Instead: member count plus two independently-salted SUMS of
    * per-row 64-bit hashes — order-insensitive, constant memory per group,
    * map-side combinable, and multiplicity-sensitive (an XOR would cancel
    * paired duplicates with probability 1; sums accumulate them). Sums are
    * decimal(38,0): ANSI mode would throw on long overflow, and 38 digits
    * absorbs any realistic row count times 2^63. */
  def fingerprints(events: DataFrame, groupCol: String): DataFrame =
    events.groupBy(col(groupCol))
      .agg(concat_ws("|",
        count(lit(1)),
        sum(xxhash64(col("event_id")).cast("decimal(38,0)")),
        sum(xxhash64(col("event_id"), lit(0x9e3779b97f4a7c15L))
          .cast("decimal(38,0)")))
        .as("fingerprint"))

  /** Incremental gold build: recompute only groups whose fingerprint
    * changed since the last run. Returns (rebuilt, skipped, removed). */
  def incrementalBuild(spark: SparkSession, events: DataFrame,
                       groupCol: String, goldPath: String,
                       statePath: String): (Long, Long, Long) =
    incrementalOverwrite(spark, events, groupCol, goldPath, statePath,
      rows => goldAgg(rows, groupCol))

  /** The shared incremental-partition protocol (used by gold aggregates
    * here and by [[SessionGold]]), decided on the driver: take a
    * fingerprint per group of `source`, diff it against the prior state,
    * dynamic-partition-overwrite ONLY the changed groups with
    * `writeRows(rows of the changed groups)`, DELETE partitions of groups
    * that vanished from the input (dynamic overwrite alone would serve
    * them stale forever), and rewrite the state on any change.
    *
    * Fingerprints come from one of two places:
    *
    *  - When `groupCol` is (an alias of) a partition column of a bare file
    *    scan — bronze's `event_date` — each group's fingerprint is a
    *    128-bit digest of the (path, length, modification time) of its
    *    files, taken from the scan's own partition listing ([[listing]]).
    *    That runs no job and reads no row, and the state stays one short
    *    string per group. Any rewrite of a group's files reads as a
    *    change: safe, and it costs only that group's rebuild. It assumes
    *    every partition directory holds a row, as every partitioned Spark
    *    write leaves it.
    *  - Any other group column (`node_id`) keeps the scanning fingerprint
    *    ([[fingerprints]]), collected in one aggregate.
    *
    * The (group, fresh, prior) rows are then on the driver, which splits
    * them into changed, skipped and vanished keys — safe because the group
    * domain (nodes/portals/days) is small even at 100 TB of events. The
    * source is filtered by the changed keys before `writeRows` sees it, so
    * every window or aggregate in it runs over the changed groups only;
    * on a listed partition column the filter is an `InSet` partition
    * filter and the scan reads only those directories. The state is a
    * small text file, one `<partition directory>\t<fingerprint>` line per
    * group, read and written on the driver from the collected
    * fingerprints: no Spark job, no re-aggregation. A missing state is the
    * first run; a state that exists but cannot be read stops the build
    * (reading it as the first run would never delete the partitions of
    * groups that vanished since). A group is its output partition
    * directory, so null and empty keys, which share the writer's default
    * partition directory, are one group. Returns (rebuilt, skipped,
    * removed) group counts. */
  def incrementalOverwrite(spark: SparkSession, source: DataFrame,
                           groupCol: String, path: String, statePath: String,
                           writeRows: DataFrame => DataFrame): (Long, Long, Long) = {
    val keyType = source.schema(groupCol).dataType
    val fresh: Map[Any, String] = listing(source, groupCol)
      .map(_.map { case (k, files) => k -> digest(files) })
      .getOrElse(fingerprints(source, groupCol).collect()
        .map(r => r.get(0) -> r.getString(1)).toMap)
    // a group is the output partition directory its key lands in: null and
    // empty keys share the default one, so they are rebuilt together
    val byDir = fresh.groupBy { case (k, _) => partitionDir(groupCol, k) }
    val freshState =
      byDir.map { case (d, g) => d -> g.values.toSeq.sorted.mkString(",") }
    val conf = spark.sparkContext.hadoopConfiguration
    val stateFile = new Path(statePath)
    val stateFs = stateFile.getFileSystem(conf)
    val prior = readState(stateFs, stateFile)
    val changed =
      freshState.keys.filterNot(d => prior.get(d).contains(freshState(d)))
    val vanished = prior.keys.filterNot(freshState.contains)
    val nSkipped = freshState.size - changed.size
    if (changed.nonEmpty) {
      val rows = if (nSkipped == 0) source
        else source.where(
          keyIn(col(groupCol), keyType, changed.flatMap(byDir(_).keys)))
      writeRows(rows)
        .write.mode("overwrite")
        // per-write option — a session-conf mutation would silently change
        // every later overwrite in the session to dynamic semantics
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(groupCol)
        .parquet(path)
    }
    if (vanished.nonEmpty) {
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      vanished.foreach(d => fs.delete(new Path(root, d), true))
    }
    if (changed.nonEmpty || vanished.nonEmpty)
      writeState(stateFs, stateFile, freshState)
    (changed.size.toLong, nSkipped.toLong, vanished.size.toLong)
  }

  /** The partition directory the parquet writer files key `k` of `groupCol`
    * under, escaped as it escapes it (':' -> '%3A'); null and empty keys
    * land in the default partition directory. */
  private def partitionDir(groupCol: String, k: Any): String =
    ExternalCatalogUtils.getPartitionPathString(groupCol,
      Option(k).map(String.valueOf).filter(_.nonEmpty)
        .getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME))

  /** The prior (partition directory → fingerprint) state, read on the
    * driver: one `<directory>\t<fingerprint>` line per group (an escaped
    * directory name holds no tab or newline). Empty when the file does not
    * exist, which is the first run. */
  private def readState(fs: FileSystem, stateFile: Path): Map[String, String] = {
    def unreadable(why: String, cause: Throwable = null) =
      new IllegalStateException(s"refresh state at $stateFile exists but " +
        s"cannot be read ($why); delete it to rebuild every group", cause)
    if (!fs.exists(stateFile)) Map.empty
    else {
      val text =
        try {
          val in = fs.open(stateFile)
          try new String(in.readAllBytes(), UTF_8) finally in.close()
        } catch { case NonFatal(e) => throw unreadable(e.toString, e) }
      text.split("\n").iterator.filter(_.nonEmpty).map(_.split("\t", -1))
        .map {
          case Array(dir, fp) if dir.contains("=") && fp.nonEmpty => dir -> fp
          case _ => throw unreadable("not a <directory>\\t<fingerprint> line")
        }.toMap
    }
  }

  /** Replace the state file with `state`, written beside it and then moved
    * over it: a write that fails leaves the prior state in place, never a
    * torn file (a stop between the delete and the move leaves none, and
    * the next run rebuilds every group). */
  private def writeState(fs: FileSystem, stateFile: Path,
                         state: Map[String, String]): Unit = {
    val tmp = new Path(stateFile.getParent, s".${stateFile.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(state.toSeq.sorted.map { case (d, fp) => s"$d\t$fp\n" }
      .mkString.getBytes(UTF_8))
    finally out.close()
    if (fs.exists(stateFile)) fs.delete(stateFile, true)
    if (!fs.rename(tmp, stateFile))
      throw new java.io.IOException(s"cannot move $tmp to $stateFile")
  }

  /** `c IN keys` as a set-valued `InSet`, `keys` in their external (Row)
    * form; a null key matches null groups, as the partition writer files
    * them together. */
  private def keyIn(c: Column, keyType: DataType, keys: Iterable[Any]): Column = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(keyType)
    val in = GraftShims.column(InSet(GraftShims.expression(c),
      keys.filter(_ != null).map(toCatalyst).toSet))
    if (keys.exists(_ == null)) in || c.isNull else in
  }

  /** The files behind each value of `groupCol`, when `source` is a bare
    * file scan (projections only, no filter) and `groupCol` is one of its
    * partition columns, or an alias of one; None otherwise. Read from the
    * relation's own file index: no job, and the same listing the scan
    * reads. */
  private[graft] def listing(source: DataFrame, groupCol: String)
      : Option[Map[Any, Seq[FileStatus]]] =
    source.queryExecution.optimizedPlan match {
      case PhysicalOperation(projects, Nil, rel: LogicalRelation) =>
        rel.relation match {
          case fsRel: HadoopFsRelation =>
            val parts = fsRel.partitionSchema
            projects.find(_.name == groupCol).collect {
              case a: AttributeReference => a
              case Alias(a: AttributeReference, _) => a
            }.filter(a => rel.output.exists(_.semanticEquals(a)) &&
              parts.fieldNames.contains(a.name))
              .map { a =>
                val i = parts.fieldIndex(a.name)
                val toScala = CatalystTypeConverters
                  .createToScalaConverter(parts(i).dataType)
                fsRel.location.listFiles(Nil, Nil)
                  .groupBy(d => toScala(d.values.get(i, parts(i).dataType)))
                  .map { case (k, dirs) => k -> dirs.flatMap(_.files.map(_.fileStatus)) }
              }
          case _ => None
        }
      case _ => None
    }

  /** Fixed-width (32 hex digit) digest of a file set's (path, length,
    * modification time), independent of listing order. */
  private def digest(files: Seq[FileStatus]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n")
      .sorted.foreach(l => md.update(l.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
