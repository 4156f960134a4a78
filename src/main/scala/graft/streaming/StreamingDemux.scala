package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.model.DmsEnvelope
import graft.operators.StreamSplitter

/**
 * The reference's stream path rebuilt on Structured Streaming (SURVEY §3.2):
 * Kinesis-shaped source → watermarked transforms → demux sink.
 *
 * Mapping of the managed pieces (reference README.md:59-174):
 *  - Kinesis stream (2 shards)      → `readStream` source; shard ≙ partition
 *  - Firehose 128 MB / 600 s buffer → `Trigger.ProcessingTime` micro-batch
 *  - GZIP JSON landing w/ date dirs → `writeStream` json + compression +
 *                                     `partitionBy(ingest_date)`
 *  - Glue job per table             → one `foreachBatch` splitting ALL
 *                                     tables per micro-batch (single pass)
 */
object StreamingDemux {

  /** Parse a stream of raw JSON envelope lines (value: string) into the
    * fixed envelope shape; `data` stays a JSON string for late binding. */
  def parseEnvelopes(raw: DataFrame): DataFrame = {
    val parsed = raw.select(
      from_json(col("value"), DmsEnvelope.rawEnvelopeSchema).as("env"))
    parsed.select(col("env.data").as("data"), col("env.metadata").as("metadata"))
      .withColumn("event_ts", to_timestamp(col("metadata.timestamp")))
  }

  /**
   * Error-routing variant of the Firehose `ErrorOutputPrefix`
   * (reference README.md:76-78): records whose envelope fails to parse
   * (malformed JSON / missing metadata) are diverted to `errorDir` as
   * raw lines instead of poisoning the split; good records are split
   * per table as in [[splitStream]].
   */
  def splitStreamWithErrors(raw: DataFrame, outDir: String, errorDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("600 seconds")): StreamingQuery = {
    val parsed = raw.select(col("value"),
      from_json(col("value"), DmsEnvelope.rawEnvelopeSchema).as("env"))
    parsed.writeStream
      .foreachBatch(idempotentBatch(checkpoint + "/graft_commits") {
        (batch: DataFrame, _: Long) =>
          val bad = batch.filter(col("env").isNull || col("env.metadata").isNull ||
            col("env.metadata.`table-name`").isNull)
          graft.operators.ControlPlane.dropDeadJobOutput(batch.sparkSession, errorDir)
          bad.select(col("value")).write
            .mode(org.apache.spark.sql.SaveMode.Append).text(errorDir)
          val good = batch.filter(col("env").isNotNull &&
              col("env.metadata").isNotNull &&
              col("env.metadata.`table-name`").isNotNull)
            .select(col("env.data").as("data"), col("env.metadata").as("metadata"))
          StreamSplitter.splitAll(good, outDir,
            mode = org.apache.spark.sql.SaveMode.Append)
      })
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /**
   * Idempotent `foreachBatch` wrapper for non-transactional sinks.
   * Structured Streaming re-delivers a micro-batch (same batchId) after
   * a failure between the sink write and the checkpoint commit; for an
   * append sink that means duplicate output. This wrapper keeps a tiny
   * commit log (one marker file per batchId, written AFTER the body
   * succeeds): a re-delivered batchId whose marker exists is skipped.
   *
   * Guarantee, precisely: duplicates are prevented for every re-delivery
   * after a successful marker write. A crash BETWEEN body success and
   * the marker write still re-runs that one batch (at-least-once for
   * exactly that window) — closing it needs a sink-transactional commit,
   * which no file-marker scheme can provide. The marker is a driver-side
   * metadata op on the checkpoint's filesystem (any Hadoop FS URI —
   * s3a://, hdfs://, file:// — so a driver failover to another node
   * still sees it), not a data-volume cost.
   */
  def idempotentBatch(commitDir: String)(
      body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      val hconf = batch.sparkSession.sparkContext.hadoopConfiguration
      val dir = new org.apache.hadoop.fs.Path(commitDir)
      val fs = dir.getFileSystem(hconf)
      fs.mkdirs(dir)
      val marker = new org.apache.hadoop.fs.Path(dir, batchId.toString)
      if (!fs.exists(marker)) {
        body(batch, batchId)
        fs.create(marker, true).close()
      }
    }
  }

  /** Firehose-analog lander: micro-batched, compressed, date-partitioned
    * (reference README.md:76-82: 600 s buffer, GZIP, date-templated prefix). */
  def landToJson(envelopes: DataFrame, landingDir: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("600 seconds")): DataStreamWriter[Row] =
    envelopes
      .withColumn("ingest_date", to_date(col("event_ts")))
      .writeStream
      .format("json")
      .option("compression", "gzip")
      .option("path", landingDir)
      .option("checkpointLocation", checkpoint)
      .partitionBy("ingest_date")
      .trigger(trigger)

  /**
   * [[landToJson]] under a DATA CONTRACT: each micro-batch flows
   * through [[graft.operators.Constraints.split]] — clean rows land
   * exactly as the plain lander (gzip JSON, date-partitioned), rows
   * violating any check land in `quarantineDir` WITH their violation
   * list for repair-and-replay. The flag/split is expression-only
   * (no extra shuffle, no second pass), so the contract rides the
   * ingest stream at the cost of one more projection — the posture
   * that keeps a 100 TB table from ingesting a poisoned day and
   * rewriting it later.
   *
   * Delivery: the batch body runs under [[idempotentBatch]], so a
   * re-delivered micro-batch (crash between sink write and checkpoint
   * commit) is skipped instead of appending duplicates to either dir.
   * The residual at-least-once window is a crash BETWEEN the two
   * appends and the marker write — that one batch re-runs in full,
   * duplicating rows already landed (both dirs append, so the re-run
   * re-lands clean AND quarantine rows of that batch). Same bound as
   * any non-transactional two-sink commit; [[idempotentBatch]]'s
   * scaladoc states the general form.
   */
  def landWithContract(envelopes: DataFrame, landingDir: String,
      quarantineDir: String, checks: Seq[graft.operators.Constraints.Check],
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("600 seconds")): StreamingQuery =
    envelopes
      .withColumn("ingest_date", to_date(col("event_ts")))
      .writeStream
      .foreachBatch(idempotentBatch(checkpoint + "/graft_commits") {
        (batch: DataFrame, _: Long) =>
          val (clean, bad) = graft.operators.Constraints.split(batch, checks)
          Seq(landingDir, quarantineDir).foreach(
            graft.operators.ControlPlane.dropDeadJobOutput(batch.sparkSession, _))
          clean.write.mode(org.apache.spark.sql.SaveMode.Append)
            .option("compression", "gzip")
            .partitionBy("ingest_date").json(landingDir)
          bad.write.mode(org.apache.spark.sql.SaveMode.Append)
            .option("compression", "gzip")
            .partitionBy("ingest_date").json(quarantineDir)
      })
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /**
   * Single-pass streaming split: every micro-batch is demuxed to
   * per-table parquet directories via [[StreamSplitter.splitAll]]
   * (hive layout `schema_name=…/table_name=…/`). Append mode — CDC
   * records accumulate with their `operation` column; upsert
   * materialization is out of reference scope (SURVEY §7.3 item 3).
   */
  def splitStream(envelopes: DataFrame, outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("600 seconds")): StreamingQuery =
    envelopes.writeStream
      .foreachBatch(idempotentBatch(checkpoint + "/graft_commits") {
        (batch: DataFrame, _: Long) =>
          StreamSplitter.splitAll(batch.drop("event_ts"), outDir,
            mode = org.apache.spark.sql.SaveMode.Append)
      })
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /**
   * Operational monitoring analog of the DMS console counters
   * (image/image3.png: per-table insert/update/delete counts): windowed
   * per-table per-operation counts with a late-data watermark sized to
   * the Firehose buffer interval (600 s, README.md:80).
   */
  def opCountsByWindow(envelopes: DataFrame,
      windowDur: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    envelopes
      .withWatermark("event_ts", watermark)
      .groupBy(
        window(col("event_ts"), windowDur),
        StreamSplitter.schemaNameCol.as("schema_name"),
        StreamSplitter.tableNameCol.as("table_name"),
        col("metadata.operation").as("operation"))
      .agg(count(lit(1)).as("n"))

  /**
   * Gap-based session windows per table over the stream — Structured
   * Streaming's native `session_window` (dynamic-gap state merged by
   * the state store), the streaming twin of the batch sessionization
   * in SparkEntry q40.
   */
  def sessionsByTable(envelopes: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    envelopes
      .withWatermark("event_ts", watermark)
      .groupBy(
        session_window(col("event_ts"), gap),
        StreamSplitter.tableNameCol.as("table_name"))
      .agg(count(lit(1)).as("n"))
}
