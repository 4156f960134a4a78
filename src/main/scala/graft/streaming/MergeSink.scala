package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Merge

/**
 * Streaming MERGE sink: maintain a queryable TABLE (not an append log)
 * from a CDC change stream, via `foreachBatch` + [[Merge.mergeBatch]] —
 * the standard "upsert into a snapshot" sink pattern for stores without
 * transactional merge. Each micro-batch:
 *
 *  1. compacts intra-batch multi-versions to one change per key
 *     ([[CdcMaterializer.latestSnapshot]]'s max_by shape, delete-aware);
 *  2. merges them into the current snapshot in one full-outer pass;
 *  3. commits the result as an immutable generation named by one new
 *     commit file ([[graft.operators.ManifestCommit]]) — readers
 *     resolve the newest whole commit, so they see the old snapshot or
 *     the new one, never a partial one, and a crash at any point
 *     leaves the last commit live.
 *
 * vs [[CdcUpsertStream.latestByKey]]: that operator keeps latest-by-key
 * INSIDE the state store and emits a changelog; this one materializes
 * the full table each batch. State-store upsert wins at high change
 * rates; snapshot-merge wins when batches are small relative to the
 * table and downstream wants plain parquet. At 100 TB pass
 * `partitionCol`: the batch then routes through
 * [[Merge.mergePartitioned]], which merges and commits ONLY the
 * partitions containing changed keys — per-batch cost ∝ changes, not
 * ∝ table size. The whole-snapshot merge is the unpartitioned form.
 *
 * Exactly-once: foreachBatch re-delivers a batch after failure; the
 * merge is idempotent for U/D (same change twice = same snapshot), and
 * the re-run commits a new generation equal to the old one, never a
 * double application.
 *
 * Jobs: a non-empty whole-snapshot batch costs [[applyBatch]]'s
 * emptiness probe plus ONE write job — compaction and join run inside
 * the generation write ([[graft.operators.GenerationWriter]]; as one
 * task with no shuffle when the snapshot and the batch fit the
 * advisory partition size); the live generation's schema
 * comes from one footer read, no job, and nothing is cached for a
 * single use. [[IngestPipeline]] already knows each table's row count
 * from its batch aggregate, so it pays no probe, and it merges every
 * non-idle table of a micro-batch in that one job
 * ([[graft.operators.Merge.mergeWholeManifests]] over [[compactWhole]]).
 * A `partitionCol` batch writes every touched partition in ONE job
 * through the same writer, however many partitions it touches.
 *
 * Commit protocol: [[graft.operators.ManifestCommit]] generations only —
 * no rename anywhere, so the sink is safe on object stores, where a
 * directory rename is a non-atomic copy. Recovery is resolving the
 * newest whole commit; the next merge's preamble GC clears crash
 * debris. Snapshots are read through [[Merge.readSnapshot]]. Only
 * [[Merge]] knows the protocol.
 */
object MergeSink {

  /**
   * @param changes streaming DataFrame carrying `key` + `opCol` +
   *                the snapshot's data columns
   * @param snapshotDir directory holding the maintained table
   * @param seqCol intra-batch version order (latest wins per key)
   */
  def mergeInto(changes: DataFrame, snapshotDir: String, key: String,
      opCol: String, seqCol: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      partitionCol: Option[String] = None): StreamingQuery = {
    val spark = changes.sparkSession
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(spark, batch, snapshotDir, key, opCol, seqCol,
          partitionCol)
      }
      .start()
  }

  /** One batch application (factored out for direct batch use/tests):
    * [[applyChanges]] when the batch carries any row. */
  def applyBatch(spark: SparkSession, batch: DataFrame, snapshotDir: String,
      key: String, opCol: String, seqCol: String,
      partitionCol: Option[String] = None): Unit =
    if (!batch.isEmpty)
      applyChanges(spark, batch, snapshotDir, key, opCol, seqCol,
        partitionCol)

  /** Merge a NON-EMPTY batch into the snapshot. */
  def applyChanges(spark: SparkSession, batch: DataFrame, snapshotDir: String,
      key: String, opCol: String, seqCol: String,
      partitionCol: Option[String] = None): Unit = {
    // intra-batch compaction: latest (by seq) change per key survives.
    // In partitioned mode the unit is (key, partition), NOT key alone: a
    // partition move arrives as D(old partition) + I(new partition) in
    // one batch, and key-only compaction would collapse the pair to a
    // single row — the stale copy would silently survive in the old
    // partition. Keeping both lets mergePartitioned's full-outer
    // fan-out arbitrate (D erases, I lands); a key with more than one
    // NON-D row after compaction is rejected loudly there.
    // Not persisted here: the whole-snapshot merge evaluates it once
    // (the generation write), and mergePartitioned caches its uncached
    // input itself for its several actions.
    partitionCol match {
      // partition-scoped path (the 100 TB form): merge + rewrite ONLY
      // the partitions the batch touches; untouched partitions are
      // never read or written — per-batch cost ∝ changes, not ∝ table
      case Some(pc) =>
        val rest = batch.columns.toSeq
          .filterNot(c => c == key || c == seqCol || c == pc)
        val compacted = batch.groupBy(col(key), col(pc))
          .agg(max_by(struct(rest.map(col): _*), col(seqCol)).as("__p"))
          .select(col(key) +: col(pc) +: rest.map(c => col(s"__p.$c").as(c)): _*)
        Merge.mergePartitioned(spark, snapshotDir, compacted, key, pc, opCol)
      case None =>
        Merge.mergeWholeManifest(spark, snapshotDir,
          compactWhole(batch, key, seqCol), key, opCol)
    }
  }

  /** A whole-snapshot batch compacted to its latest (by `seqCol`)
    * change per key, `seqCol` dropped: the change set
    * [[graft.operators.Merge.mergeWholeManifests]] takes. */
  private[graft] def compactWhole(batch: DataFrame, key: String,
      seqCol: String): DataFrame = {
    val dataCols = batch.columns.toSeq.filterNot(c => c == key || c == seqCol)
    batch.groupBy(col(key))
      .agg(max_by(struct(dataCols.map(col): _*), col(seqCol)).as("__p"))
      .select(col(key) +: dataCols.map(c => col(s"__p.$c").as(c)): _*)
  }
}
