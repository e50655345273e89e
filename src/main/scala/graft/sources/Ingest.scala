package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Bronze-layer ingest (SURVEY.md §2.1 S2/S3): the Spark rebuild of the
  * reference's rotating-JSONL sink + restart/recovery scan
  * (`eventprocessor.py:217-240,244-367`).
  *
  * Layout: parquet partitioned by `event_date`. At 100 TB the mandatory
  * date-range predicate of every metrics query (reference
  * `metricselasticsearch.py:1115-1123`) then prunes partitions at planning
  * time — the Spark analogue of the reference's time-sharded `eventlog-*`
  * indexes. A predicate on `ts` alone does not prune (the partition column
  * is derived, and Spark does not infer one from the other), so a reader
  * must bound `event_date` instead: [[graft.api.MetricsApi]] turns a
  * range over this layout into `event_date BETWEEN a AND b`, which is
  * exact because `event_date` = `to_date(ts)` under the pinned UTC zone.
  * Dedup-by-id replaces the tail-trimming recovery logic: writes are
  * idempotent, so at-least-once upstream delivery is safe.
  */
object Ingest {

  /** Batch bronze write: dedup by id, stamp the partition column, write
    * partitioned. `dropDuplicates` is the one shuffle; everything else is
    * per-partition. */
  def writeBronze(events: DataFrame, outPath: String): Unit =
    events.dropDuplicates("event_id")
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(outPath)

  def readBronze(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compact a bronze table's small files — the operational follow-up to
    * incremental/streaming ingest, which accretes one file per micro-batch
    * per partition (the reference's analogue is its 1 GB log rotation,
    * `eventprocessor.py:14-17`). Rewrites each date partition into
    * ~`targetRecordsPerFile`-row files via dynamic partition overwrite;
    * optionally only partitions matching `predicate` (e.g. yesterday) so a
    * scheduled compactor never rewrites the whole table. Rows are
    * sorted within files by (user_id, ts) so row-group min/max stats can
    * skip on the hot filter columns. */
  def compactBronze(spark: SparkSession, path: String,
                    targetRecordsPerFile: Long,
                    predicate: Option[org.apache.spark.sql.Column] = None,
                    resetStreamingSinkLog: Boolean = false): Unit = {
    // a file-sink-managed table lists its files in _spark_metadata;
    // rewriting files underneath that log corrupts every later read
    // (missing compacted files, dangling deleted ones). Refuse unless the
    // caller opts into resetting the log — after which batch listings are
    // authoritative and a resumed stream starts a fresh sink log (its
    // SOURCE offsets live in the query checkpoint and are unaffected).
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sinkLog = new org.apache.hadoop.fs.Path(root, "_spark_metadata")
    if (fs.exists(sinkLog)) {
      require(resetStreamingSinkLog,
        s"$path is managed by a streaming file sink (_spark_metadata); " +
          "stop the stream and pass resetStreamingSinkLog=true to compact")
      fs.delete(sinkLog, true)
    }
    val all = spark.read.parquet(path)
    val slice = predicate.fold(all)(all.filter)
      // materialize before overwriting the path being read (write-temp-and-
      // swap in production; the slice is one day's partitions, bounded)
      .localCheckpoint()
    slice
      .repartition(col("event_date"))
      .sortWithinPartitions(col("event_date"), col("user_id"), col("ts"))
      .write.mode("overwrite")
      // per-write option — mutating the session conf would silently turn
      // every later overwrite in the session into a dynamic one
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .partitionBy("event_date")
      .parquet(path)
  }

  /** JSONL read with a dead-letter split — the reference's
    * `_jsonparsefailure` quarantine (`metricselasticsearch.py:964-976`
    * stamps failed docs sessionId=-1 instead of dropping them). PERMISSIVE
    * parsing routes malformed lines to a corrupt-record column; returns
    * (good rows, quarantined raw lines). The quarantine side keeps the
    * verbatim input line for replay after a parser fix — nothing is
    * silently lost, and the good-path schema stays clean.
    */
  def readJsonlWithQuarantine(spark: SparkSession, srcDir: String,
                              schemaSource: DataFrame): (DataFrame, DataFrame) = {
    val schema = schemaSource.schema
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val raw = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(srcDir)
      .cache() // PERMISSIVE corrupt-column reads require a materialized scan
    // materialize both splits, then release the cached full scan — the
    // returned frames own their data and don't pin the input in storage
    val good = raw.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
      .localCheckpoint()
    val quarantined = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
      .localCheckpoint()
    raw.unpersist()
    (good, quarantined)
  }

  /** Streaming ingest: JSONL directory → bronze parquet, checkpointed —
    * the reference's filebeat→logstash→ES leg as one Structured Streaming
    * job. Restart recovery (reference `getLastLinesFromFile`/`trimLogEntries`)
    * is the checkpoint: re-running resumes from committed offsets, and
    * `dropDuplicatesWithinWatermark` absorbs the overlap the reference had
    * to trim by hand (second-precision timestamp overlap, S3).
    *
    * Malformed lines are DROPPED at parse (`DROPMALFORMED`) — under the
    * default PERMISSIVE mode they would become all-null rows whose null
    * ids collapse in the dedup and land in the null date partition. Use
    * [[streamJsonlToBronzeWithQuarantine]] when the raw lines must be
    * kept for replay.
    */
  def streamJsonlToBronze(spark: SparkSession, srcDir: String,
                          schemaSource: DataFrame, outPath: String,
                          checkpoint: String,
                          readOptions: Map[String, String] = Map.empty): Unit = {
    val stream = spark.readStream
      .schema(schemaSource.schema)
      .option("mode", "DROPMALFORMED")
      .options(readOptions)
      .json(srcDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .withColumn("event_date", to_date(col("ts")))
    val q = stream.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("event_date")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming ingest with a dead-letter side: per micro-batch, parsed
    * rows (deduped within the batch) append to bronze and malformed raw
    * lines append to `quarantinePath` — the streaming twin of
    * [[readJsonlWithQuarantine]]. `foreachBatch` writes are at-least-once
    * on task retry (no file-sink manifest); bronze consumers that need
    * exactly-once dedup by `event_id` downstream, as `writeBronze` does.
    */
  def streamJsonlToBronzeWithQuarantine(spark: SparkSession, srcDir: String,
                                        schemaSource: DataFrame,
                                        outPath: String, quarantinePath: String,
                                        checkpoint: String,
                                        readOptions: Map[String, String] = Map.empty): Unit = {
    val schema = schemaSource.schema
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val stream = spark.readStream
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .options(readOptions)
      .json(srcDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.cache() // corrupt-column split needs a materialized scan
        b.filter(col("_corrupt_record").isNull)
          .drop("_corrupt_record")
          .dropDuplicates("event_id")
          .withColumn("event_date", to_date(col("ts")))
          .write.mode("append").partitionBy("event_date").parquet(outPath)
        val bad = b.filter(col("_corrupt_record").isNotNull)
          .select(col("_corrupt_record").as("raw_line"))
        if (!bad.isEmpty)
          bad.write.mode("append").text(quarantinePath)
        b.unpersist()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
