package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.DmsEnvelope
import graft.operators.{Constraints, ControlPlane, Dedup, Merge, Rollup, StreamSplitter}

/**
 * The reference's END-TO-END story as ONE continuous pipeline
 * (reference README.md:59-174, S2→S6 wired together, not exercised as
 * isolated operators): a Kinesis-shaped envelope stream flows, per
 * micro-batch and in a single pass, through
 *
 *  1. envelope parsing ([[StreamingDemux.parseEnvelopes]]);
 *  2. a DATA CONTRACT ([[graft.operators.Constraints.split]]) — clean
 *     rows land gzip-JSON date-partitioned (the Firehose analog), rows
 *     violating any check land in a quarantine dir with their
 *     violation list (repair-and-replay, never poison-the-table);
 *  3. per-table CDC materialization: each configured table demuxes out
 *     of the clean envelopes, late-binds its payload schema
 *     (`from_json`), maps DMS operations to MERGE ops
 *     (load/insert→I, update→U, delete→D), and upserts into a standing
 *     manifest-committed snapshot ([[MergeSink.compactWhole]] →
 *     [[Merge.mergeWholeManifests]]) — intra-batch multi-versions
 *     compact by event time, re-delivered
 *     batches re-apply idempotently, and a table the batch carries no
 *     row for is not touched at all;
 *  4. a standing ops-counter rollup (the DMS console counters,
 *     image/image3.png, as STANDING STATE): per-(table, operation) row
 *     counts fold through [[RollupStream.foldBatch]]'s checkpoint-
 *     identity commit tags — exact under re-delivery, readable any
 *     time via [[opCounts]];
 *  5. optional STORE-MAINTENANCE lanes (r14): the same clean envelopes
 *     keep a searchable ANN store and a dedup signature history
 *     current — I/U/D dispatch through `applyCdcBatch` /
 *     `SigStore.applyCdc`, takedowns and replacements included — so
 *     the reference's S2→S6 chain maintains the training-data stores
 *     in the SAME single pass per micro-batch.
 *
 * Per-batch cost ∝ batch everywhere: the landing/quarantine writes and
 * rollup fold are batch-sized; the merge reads only the touched
 * snapshot (whole-manifest here — partition-scope via
 * [[MergeSink.mergeInto]]'s `partitionCol` when a table outgrows it);
 * nothing ever rescans the corpus. The whole body runs under
 * [[StreamingDemux.idempotentBatch]], so a re-delivered micro-batch is
 * skipped outright; the residual window (crash between body success
 * and marker write) re-runs ONE batch, where the merge and rollup are
 * idempotent by their own commit protocols and only the landing
 * append can duplicate — the same bound [[StreamingDemux
 * .landWithContract]] documents.
 *
 * Jobs: one aggregate job counts the batch and each table's lane rows,
 * so an idle table costs nothing; then every non-idle table's merge —
 * compaction, join and generation write, for all tables — runs as ONE
 * Spark job ([[graft.operators.GenerationWriter]]; a table whose live
 * snapshot and batch fit the advisory partition size merges in one
 * task, with no shuffle), and each table's commit file flips after it.
 * A refused or failed merge write flips no table at all (the
 * idempotent batch retry re-runs them all); a flip that fails part-way
 * leaves the tables flipped before it committed, which the retry
 * re-applies idempotently. The ops rollup folds in one more job,
 * skipped when the batch has no clean row.
 *
 * [[start]] reports a [[BatchMetric]] per micro-batch (rows in/clean/
 * quarantined + wall millis) through a callback — the latency/
 * throughput instrumentation `tools/PipelineDemo` aggregates.
 */
object IngestPipeline {

  /** One CDC table materialized as a standing snapshot: demuxed by
    * (schemaName, tableName), payload late-bound to `dataSchema`,
    * upserted by `key`. */
  final case class TableSink(schemaName: String, tableName: String,
      dataSchema: StructType, key: String)

  /** A SEARCHABLE vector store maintained from the stream's own CDC
    * envelopes, inside the same per-micro-batch pass as the snapshots
    * and counters: this table's I/U/D events dispatch through
    * [[graft.operators.Similarity.applyCdcBatch]] against the store at
    * `storeDir` (any layout — single dir, hash-sharded, routed),
    * takedowns and replacements included. `compactEvery` is the
    * in-stream maintenance cadence ([[AnnIngestStream.ingestCdc]]'s). */
  final case class VectorStoreLane(storeDir: String,
      table: String = "embeddings", idField: String = "vec_id",
      vecField: String = "embedding", compactEvery: Int = 0)

  /** A dedup HISTORY maintained the same way: this table's I/U/D
    * events dispatch through [[graft.operators.Dedup.SigStore.applyCdc]]
    * against `store`, of either layout — inserts admit, updates
    * replace the content whose signature is the store row (the
    * mutable-id remedy), deletes tombstone. The store's kind must
    * match its build. */
  final case class SignatureStoreLane(store: Dedup.SigStore,
      table: String = "documents", idField: String = "doc_id",
      textField: String = "text", compactEvery: Int = 0)

  final case class Config(
      landingDir: String,
      quarantineDir: String,
      checks: Seq[Constraints.Check],
      snapshotRoot: String,
      tables: Seq[TableSink],
      opsRollupDir: String,
      checkpoint: String,
      /** Unread: a micro-batch merges every table in one Spark job, so
        * there is no merge fan-out left to size. Kept only so existing
        * callers that pass it still compile; it goes with the next
        * change to those callers. */
      @deprecated("unread: every table merges in one Spark job", "0.1.0")
      mergeParallelism: Int = 4,
      /** Store-maintenance lanes (r14): vector/signature stores kept
        * current by the SAME stream that lands, quarantines, merges
        * and counts — the reference's S2→S6 chain maintaining ANN +
        * dedup state in one pass. The lanes run SERIALLY after the
        * snapshot merges (each store family is single-writer by
        * contract). Clean envelopes only: a
        * quarantined row never reaches a store — including rows whose
        * PAYLOAD fails the lane's `from_json` (null id): those are
        * flagged `payload_parse:<table>` and quarantined up front,
        * because the bridges' raise_error guard would otherwise fail
        * the batch on every retry and wedge the stream. */
      vectorStores: Seq[VectorStoreLane] = Nil,
      signatureStores: Seq[SignatureStoreLane] = Nil)

  /** Per-batch instrumentation; the stage millis decompose `millis`
    * into the sinks (landing+quarantine writes, the one-job per-table
    * merge, the rollup fold, the store lanes) — the breakdown a table-count
    * latency profile reads (tools/PipelineDemo prints their p50s). */
  final case class BatchMetric(batchId: Long, input: Long, clean: Long,
      quarantined: Long, millis: Long,
      landMillis: Long = 0, mergeMillis: Long = 0, rollupMillis: Long = 0,
      storeMillis: Long = 0)

  /** Standing per-(table, operation) counts: keys + `n` (long). */
  private[graft] val opsSpec =
    Rollup.Spec(keys = Seq("table_name", "operation"), sums = Seq("n"))

  /** Map a DMS operation to a MERGE op. Unknown/null operations map to
    * I (upsert) — the envelope contract should quarantine them
    * upstream via a check; here the safe default is "keep the data". */
  private def mergeOp(operation: org.apache.spark.sql.Column) =
    when(operation === DmsEnvelope.OpDelete, lit("D"))
      .when(operation === DmsEnvelope.OpUpdate, lit("U"))
      .otherwise(lit("I"))

  /** The envelopes table `t`'s merge lane takes: the demux predicate
    * (the reference F1 surface) narrowed to `record-type = data` —
    * demux's data-not-null leg admits a control record that CARRIES
    * data (DDL info), which is no upsert and would land in the
    * snapshot as a junk row. The lane's filter, its per-batch count
    * and its payload_key check all use this one predicate. */
  private def laneRows(t: TableSink): org.apache.spark.sql.Column =
    StreamSplitter.demuxPredicate(t.schemaName, t.tableName) &&
      col("metadata.`record-type`") === DmsEnvelope.RecordTypeData

  def start(raw: DataFrame, cfg: Config,
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: BatchMetric => Unit = _ => ()): StreamingQuery = {
    val spark = raw.sparkSession
    // lazy: the checkpoint's query-id metadata exists only once the
    // stream starts; first batch resolves it, then it is fixed
    lazy val token = RollupStream.appToken(spark, cfg.checkpoint)
    raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", cfg.checkpoint)
      .trigger(trigger)
      .foreachBatch(StreamingDemux.idempotentBatch(
        cfg.checkpoint + "/graft_commits") { (batch, batchId) =>
        val t0 = System.nanoTime()
        // lane PAYLOAD checks, folded into the same quarantine
        // verdict as the envelope contract: the CDC bridges
        // raise_error on a data record whose payload parses to a null
        // id, which is right for a direct caller but would fail this
        // batch deterministically on every retry — one malformed
        // embeddings/documents payload would wedge the whole stream,
        // snapshot lanes included. Flagging it here routes the row to
        // the quarantine sink (repair-and-replay) and keeps it out of
        // every lane below; the predicates live next to the bridges
        // so "malformed" can never drift between flag and raise.
        val payloadChecks: Seq[(String, org.apache.spark.sql.Column)] =
          // snapshot lanes: a data record whose payload parses to a
          // NULL merge key cannot be upserted meaningfully — unguarded
          // it lands a junk null-key row in the standing snapshot
          // (poison-the-table, the exact thing the quarantine exists
          // to prevent). Not a wedge (the merge has no raise), but the
          // same repair-and-replay posture applies.
          // scoped to record-type=data, like the CDC lanes'
          // malformedPayload predicates: a CONTROL record carrying
          // non-null data (DDL info) is not an upsert candidate — it
          // must land and count, not quarantine for lacking a merge
          // key it was never meant to carry (ADVICE r15); laneRows is
          // also the merge lane's filter, so it can't reach the
          // snapshot either
          cfg.tables.map(t => (s"payload_key:${t.tableName}",
            laneRows(t) &&
              from_json(col("data"), t.dataSchema)
                .getField(t.key).isNull)) ++
          cfg.vectorStores.map(v => (s"payload_parse:${v.table}",
            AnnIngestStream.malformedPayload(v.table, v.idField,
              v.vecField))) ++
          cfg.signatureStores.map(sg => (s"payload_parse:${sg.table}",
            NearDupStream.malformedPayload(sg.table, sg.idField,
              sg.textField)))
        // the batch fans out to 3+ sinks — persist the parsed+flagged
        // form once; every consumer below is a narrow filter over it
        val envFlagged = Constraints.flagRows(
          StreamingDemux.parseEnvelopes(batch.select(col("value")))
            .withColumn("ingest_date", to_date(col("event_ts"))),
          cfg.checks)
        val flagged = (if (payloadChecks.isEmpty) envFlagged
          else envFlagged.withColumn("violated",
            concat(col("violated"),
              filter(array(payloadChecks.map { case (n, p) =>
                when(coalesce(p, lit(false)), lit(n))
              }: _*), x => x.isNotNull))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val clean = flagged.filter(size(col("violated")) === 0)
            .drop("violated")
          val bad = flagged.filter(size(col("violated")) > 0)
          // 2. contract-gated landing (Firehose analog + quarantine)
          val tLand0 = System.nanoTime()
          Seq(cfg.landingDir, cfg.quarantineDir)
            .foreach(ControlPlane.dropDeadJobOutput(spark, _))
          clean.drop("event_ts")
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .option("compression", "gzip")
            .partitionBy("ingest_date").json(cfg.landingDir)
          bad.drop("event_ts")
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .option("compression", "gzip")
            .partitionBy("ingest_date").json(cfg.quarantineDir)
          val tLand = (System.nanoTime() - tLand0) / 1000000
          // one aggregate job over the cached batch: the three
          // counters (input derives) plus each table's merge-lane row
          // count — the same clean + laneRows predicate the lane
          // filters by — so an idle table below costs nothing, no
          // emptiness probe job. It plans in the control-plane session
          // (AQE off), where its partial-aggregate stage is not a job
          // of its own
          val counts = flagged.agg(
            count(lit(1)).as("n"),
            (coalesce(sum(when(size(col("violated")) > 0, 1L)
              .otherwise(0L)), lit(0L)).as("bad") +:
              cfg.tables.zipWithIndex.map { case (t, i) =>
                count(when(size(col("violated")) === 0 && laneRows(t),
                  true)).as(s"lane$i")
              }): _*)
          val m = ControlPlane.rebind(ControlPlane.session(spark), counts).head()
          // 3. per-table standing snapshots: every table this batch
          // carries rows for (the count above stands in for
          // MergeSink.applyBatch's emptiness probe) merges in ONE Spark
          // job, then each table's commit flips. A refused or failed
          // write flips no table; the batch then aborts before the
          // idempotency marker and the retry re-runs every table (each
          // merge is idempotent by its own commit protocol).
          val tMerge0 = System.nanoTime()
          // the lanes start from the cached batch itself: a frame over
          // `clean`'s plan would re-check the whole parse-and-flag plan
          // (one from_json per table) at every Dataset op of every lane
          val cached = PlanBridge.ofRows(spark, clean.queryExecution.withCachedData)
          Merge.mergeWholeManifests(spark, cfg.tables.zipWithIndex.collect {
            case (t, i) if m.getLong(2 + i) > 0 =>
              val changes = cached.filter(laneRows(t))
                .select(
                  from_json(col("data"), t.dataSchema).as("__d"),
                  mergeOp(col("metadata.operation")).as("op"),
                  col("event_ts").as("__seq"))
                .select(col("__d.*"), col("op"), col("__seq"))
              Merge.WholeMerge(s"${cfg.snapshotRoot}/${t.tableName}",
                MergeSink.compactWhole(changes, t.key, "__seq"), t.key, "op")
          })
          val tMerge = (System.nanoTime() - tMerge0) / 1000000
          // 4. standing ops counters (exact under re-delivery: tagged),
          // skipped by the count above when no row is clean
          val tRoll0 = System.nanoTime()
          val cleanRows = m.getLong(0) - m.getLong(1)
          if (cleanRows > 0)
            RollupStream.foldBatch(spark, cached.select(
                col("metadata.`table-name`").as("table_name"),
                col("metadata.operation").as("operation"),
                lit(1L).as("n")),
              batchId, cfg.opsRollupDir, opsSpec, token)
          val tRoll = (System.nanoTime() - tRoll0) / 1000000
          // 5. store-maintenance lanes (r14): the same clean envelopes
          // keep the ANN and dedup stores current — serial, each store
          // family is single-writer; replay-safe by each core's own
          // protocol (see applyCdcBatch / SigStore.applyCdc), so the
          // idempotentBatch residual window re-applies harmlessly
          val tStore0 = System.nanoTime()
          cfg.vectorStores.foreach { v =>
            AnnIngestStream.ingestCdcBatch(spark,
              AnnIngestStream.cdcEventsFromEnvelopes(clean, v.table,
                v.idField, v.vecField),
              batchId, v.storeDir, v.compactEvery)
          }
          cfg.signatureStores.foreach { sg =>
            NearDupStream.ingestCdcBatch(spark,
              NearDupStream.cdcEventsFromEnvelopes(clean, sg.table,
                sg.idField, sg.textField),
              batchId, sg.store, sg.compactEvery)
          }
          val tStore = (System.nanoTime() - tStore0) / 1000000
          onBatch(BatchMetric(batchId,
            input = m.getLong(0),
            clean = cleanRows,
            quarantined = m.getLong(1),
            millis = (System.nanoTime() - t0) / 1000000,
            landMillis = tLand, mergeMillis = tMerge,
            rollupMillis = tRoll, storeMillis = tStore))
        } finally { flagged.unpersist(); () }
      })
      .start()
  }

  /** Current per-(table, operation) counts from the standing rollup:
    * `(table_name, operation, n)`. */
  def opCounts(spark: org.apache.spark.sql.SparkSession,
      opsRollupDir: String): DataFrame =
    Rollup.finalized(Rollup.read(spark, opsRollupDir), opsSpec)
      .select(col("table_name"), col("operation"),
        col("sum__n").cast("long").as("n"))

  /** A table's current materialized snapshot. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
      cfg: Config, tableName: String): DataFrame =
    Merge.readSnapshot(spark, s"${cfg.snapshotRoot}/$tableName")
}
