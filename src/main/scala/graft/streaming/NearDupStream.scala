package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/**
 * Streaming near-dup admission: the q111 daily job as a continuously
 * running pipeline — each micro-batch of documents is checked for
 * near-duplicates against ALL of history by banding its MinHash
 * signatures against the materialized signature store
 * ([[graft.operators.Dedup.SigStore.pairs]]; history text is
 * never re-read), and only the surviving documents join the corpus.
 * The streaming form of the reference pipeline's continuous-ingest
 * posture (`/root/reference/README.md:63-75` lands a continuous stream
 * before batch queries run), applied to the dedup gate every
 * training-data ingest needs in front of it.
 *
 * Per micro-batch, in this order:
 *
 *  1. `pairs` = near-dup pairs of the batch against the store AND
 *     within the batch (`id_a` = the earlier side: store doc or lower
 *     batch id; `id_b` = the newer batch doc);
 *  2. `admitted` = batch docs never appearing as `id_b` — greedy
 *     earliest-wins, matching the batch path's admission convention
 *     (a doc rejected for duplicating an earlier REJECTED doc stays
 *     rejected: its content is represented in the corpus by that
 *     chain's head, which some pair transitively names);
 *  3. the admitted docs land in
 *     `admittedDir/graft_run=<token>/batch_id=<n>` (the clean
 *     downstream feed) and the pairs under the same leaf of `pairsDir`
 *     (the audit log), both per-batch OVERWRITE — a re-delivered batch
 *     rewrites its own directory instead of double-appending, and the
 *     checkpoint-identity run token keeps a fresh/wiped checkpoint
 *     (batch ids restarting at 0) from clobbering a previous run's
 *     output;
 *  4. the admitted docs' signatures fold into the store
 *     ([[graft.operators.Dedup.SigStore.append]] — its anti join on
 *     the stored ids makes the append re-delivery-safe too).
 *
 * Crash anywhere between 3 and 4 re-runs the batch: signatures are
 * pure functions of the text, so the recomputed pairs/admitted sets
 * are identical, the directory overwrites converge, and a doc whose
 * signatures already landed meets itself in the store-vs-batch arm and
 * is filtered there ([[graft.operators.Dedup]]'s `id_a =!= id_b`
 * guard) — admission never flips across re-deliveries.
 *
 * At 100 TB use a [[graft.operators.Dedup.Bucketed]] store: its
 * standing tables reuse their write-time bucket layout, so each micro-batch shuffles only
 * batch-sized data (the DedupSpec one-exchange plan assertion).
 */
object NearDupStream {

  /** Continuous admission against a signature store built with
    * [[graft.operators.Dedup.SigStore.build]]. `docs` is a streaming
    * DataFrame carrying `idCol` + `textCol` (+ any payload columns,
    * which ride through to `admittedDir` untouched). The store's kind
    * is the dedup criterion: MinHash for shingle-set overlap
    * (`est_jaccard ≥ threshold`), wide SimHash for a hamming radius
    * (format and boilerplate near-dups), whose chunk keys keep the
    * store-vs-batch candidates at a measured 21-24× lower volume than
    * w = 64 banding. */
  def admit(docs: DataFrame, store: Dedup.SigStore, idCol: String,
      textCol: String, admittedDir: String, pairsDir: String,
      checkpoint: String, threshold: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = docs.sparkSession
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitBatch(spark, batch, batchId,
          RollupStream.appToken(spark, checkpoint), idCol, textCol,
          admittedDir, pairsDir,
          b => store.pairs(spark, b, idCol, textCol, threshold),
          a => store.append(spark, a, idCol, textCol))
      }
      .start()
  }

  /** One micro-batch admission (factored out for direct batch use and
    * re-delivery tests — the streaming wrappers only add checkpointed
    * batch ids). `runToken` scopes the per-batch overwrite dirs to THIS
    * stream's checkpoint identity ([[RollupStream.appToken]]): a wiped
    * or fresh checkpoint restarts batch ids at 0, and without the
    * scope its `batch_id=0` overwrite would clobber a previous run's
    * admitted docs — whose signatures remain in the store, so the lost
    * docs could never be re-admitted. A re-delivery of the SAME run
    * keeps the same token and still converges onto its own dir. */
  private[streaming] def admitBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, runToken: String, idCol: String, textCol: String,
      admittedDir: String, pairsDir: String,
      pairsOf: DataFrame => DataFrame,
      append: DataFrame => Unit): Unit = {
    if (batch.isEmpty) return
    def leaf(dir: String) = s"$dir/graft_run=$runToken/batch_id=$batchId"
    // persisted: pairs computation, the admitted anti join, and the two
    // writes all act on it — without the cache each action re-reads the
    // micro-batch source and re-runs the signature aggregate
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = pairsOf(b)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        pairs.write.mode("overwrite").parquet(leaf(pairsDir))
        val admitted = b.join(
          pairs.select(col("id_b").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
        admitted.write.mode("overwrite").parquet(leaf(admittedDir))
        // append LAST: a crash before this point leaves the store
        // unchanged and the re-run recomputes identical outputs; a
        // crash after the overwrites but mid-append is absorbed by the
        // append's own anti join on re-delivery
        append(admitted)
      } finally pairs.unpersist()
    } finally b.unpersist()
  }

  /**
   * Bridge from the reference pipeline's CDC envelope stream to
   * [[graft.operators.Dedup.SigStore.applyCdc]]'s event rows — the
   * dedup-side twin of [[AnnIngestStream.cdcEventsFromEnvelopes]]:
   * keeps this `table`'s DATA records, parses the payload to
   * (doc_id, text), maps `load`/`insert` → I, `update` → U, `delete`
   * → D (anything else passes through verbatim so the op gate rejects
   * it LOUDLY by name), takes the envelope's microsecond timestamp as
   * `seq`. A corrupt payload whose id parses null fails by name (the
   * same guard as the ANN bridge); null TEXT passes only for delete
   * payloads (id alone) — the CDC cores' body gate refuses it on I/U,
   * and pipelines quarantine such rows upstream.
   */
  /** The payload schema [[cdcEventsFromEnvelopes]] late-binds. */
  private def laneSchema(idField: String, textField: String) = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField(idField, LongType),
      StructField(textField, StringType)))
  }

  /** TRUE for this lane's DATA-record envelopes whose payload cannot
    * legally enter the store: a null id (any op — refused by
    * [[cdcEventsFromEnvelopes]]'s raise), or null TEXT on a
    * non-delete (refused by the CDC cores' body gate — delete
    * payloads may carry the id alone; a partial-payload insert/update
    * has nothing to admit). See [[AnnIngestStream.malformedPayload]]
    * for why pipelines pre-filter on this into quarantine instead of
    * letting the raises wedge the stream. */
  def malformedPayload(table: String = "documents",
      idField: String = "doc_id",
      textField: String = "text"): org.apache.spark.sql.Column = {
    val d = from_json(col("data"), laneSchema(idField, textField))
    val E = graft.model.DmsEnvelope
    // unknown/null operations count too (the core's loud op gate
    // would otherwise wedge the stream on them — see the ANN twin)
    val knownOp = coalesce(col("metadata.operation").isin(
      E.OpLoad, E.OpInsert, E.OpUpdate, E.OpDelete), lit(false))
    col("metadata.`table-name`") === table &&
      col("metadata.`record-type`") === E.RecordTypeData &&
      (!knownOp || d.getField(idField).isNull ||
        (col("metadata.operation") =!= E.OpDelete &&
          d.getField(textField).isNull))
  }

  def cdcEventsFromEnvelopes(envelopes: DataFrame,
      table: String = "documents", idField: String = "doc_id",
      textField: String = "text"): DataFrame = {
    val dataSchema = laneSchema(idField, textField)
    envelopes
      .filter(col("metadata.`table-name`") === table &&
        col("metadata.`record-type`") ===
          graft.model.DmsEnvelope.RecordTypeData)
      .select(from_json(col("data"), dataSchema).as("d"),
        col("data"),
        col("metadata.operation").as("operation"), col("event_ts"))
      .select(
        when(col(s"d.$idField").isNull,
          raise_error(concat(
            lit(s"NearDupStream.cdcEventsFromEnvelopes: data record " +
              s"for table '$table' parsed to a null $idField — " +
              "malformed payload: "), col("data"))))
          .otherwise(col(s"d.$idField")).as("doc_id"),
        col(s"d.$textField").as("text"),
        when(col("operation").isin(graft.model.DmsEnvelope.OpLoad,
            graft.model.DmsEnvelope.OpInsert), lit("I"))
          .when(col("operation") === graft.model.DmsEnvelope.OpUpdate,
            lit("U"))
          .when(col("operation") === graft.model.DmsEnvelope.OpDelete,
            lit("D"))
          .otherwise(col("operation")).as("op"),
        unix_micros(col("event_ts")).as("seq"))
  }

  /**
   * CDC-op-aware signature-store maintenance — the dedup twin of
   * [[AnnIngestStream.ingestCdc]]: `events` carries (doc_id, text,
   * op, seq) rows and each micro-batch applies
   * [[graft.operators.Dedup.SigStore.applyCdc]] — inserts admit as
   * history (takedown wins over a late re-delivered I), updates
   * REPLACE the content whose signature IS the store row (the
   * mutable-id remedy, revives by design), deletes tombstone.
   * `compactEvery` runs [[graft.operators.Dedup.SigStore.compact]],
   * bounding file fragmentation and the tombstone log's churn.
   * Replay-safe: signatures are pure functions of the text. `onBatch`
   * surfaces the per-batch (inserted, updated, deleted) dispatch
   * counts.
   */
  def ingestCdc(events: DataFrame, store: Dedup.SigStore,
      checkpoint: String, compactEvery: Int = 0,
      onBatch: (Long, (Long, Long, Long)) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = events.sparkSession
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestCdcBatch(spark, batch, batchId, store, compactEvery, onBatch)
      }
      .start()
  }

  private[streaming] def ingestCdcBatch(spark: SparkSession,
      batch: DataFrame, batchId: Long, store: Dedup.SigStore,
      compactEvery: Int = 0,
      onBatch: (Long, (Long, Long, Long)) => Unit = (_, _) => ()): Unit = {
    if (batch.isEmpty) return
    onBatch(batchId, store.applyCdc(spark, batch))
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      store.compact(spark)
  }
}
