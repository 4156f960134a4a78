package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{ManifestCommit, Merge}

/**
 * Streaming MERGE sink: maintain a queryable TABLE (not an append log)
 * from a CDC change stream, via `foreachBatch` + [[Merge.mergeBatch]] —
 * the standard "upsert into a snapshot" sink pattern for stores without
 * transactional merge. Each micro-batch:
 *
 *  1. compacts intra-batch multi-versions to one change per key
 *     ([[CdcMaterializer.latestSnapshot]]'s max_by shape, delete-aware);
 *  2. merges them into the current snapshot in one full-outer pass;
 *  3. swaps the snapshot directory by renames only (park `.old`,
 *     promote `.next`) — readers see a complete snapshot or, for the
 *     instant between the two renames, none; never a partial one. A
 *     crash in that instant is repaired by the recovery step on the
 *     next application ([[applyBatch]] scaladoc).
 *
 * vs [[CdcUpsertStream.latestByKey]]: that operator keeps latest-by-key
 * INSIDE the state store and emits a changelog; this one materializes
 * the full table each batch. State-store upsert wins at high change
 * rates; snapshot-merge wins when batches are small relative to the
 * table and downstream wants plain parquet. At 100 TB pass
 * `partitionCol`: the batch then routes through
 * [[Merge.mergePartitioned]], which merges and swaps ONLY the
 * partitions containing changed keys — per-batch cost ∝ changes, not
 * ∝ table size. Whole-snapshot swap remains the unpartitioned fallback.
 *
 * Exactly-once: foreachBatch re-delivers a batch after failure; the
 * merge is idempotent for U/D (same change twice = same snapshot), and
 * the commit protocol makes the re-run overwrite, not double-apply.
 *
 * Jobs: a non-empty whole-manifest batch costs [[applyBatch]]'s
 * emptiness probe plus the three jobs the merge needs — the compaction
 * map, the target map and the generation write (the live generation's
 * schema comes from a footer read on the driver, and nothing is cached
 * for a single use). [[IngestPipeline]] already knows each table's row
 * count from its batch aggregate, so it calls [[recover]] and
 * [[applyChanges]] directly and pays no probe.
 *
 * Commit protocol: rename-swap by default (atomic on HDFS/local);
 * `manifestCommit = true` switches to the pointer-file protocol
 * ([[graft.operators.ManifestCommit]]) for object stores, where a
 * directory rename is a non-atomic copy — immutable generation dirs +
 * one small commit object, no rename anywhere. Manifest snapshots are
 * read through [[Merge.readSnapshot]].
 */
object MergeSink {

  /**
   * @param changes streaming DataFrame carrying `key` + `opCol` +
   *                the snapshot's data columns
   * @param snapshotDir parquet directory holding the maintained table
   * @param seqCol intra-batch version order (latest wins per key)
   */
  def mergeInto(changes: DataFrame, snapshotDir: String, key: String,
      opCol: String, seqCol: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      partitionCol: Option[String] = None,
      manifestCommit: Boolean = false): StreamingQuery = {
    val spark = changes.sparkSession
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(spark, batch, snapshotDir, key, opCol, seqCol,
          partitionCol, manifestCommit)
      }
      .start()
  }

  /** One batch application (factored out for direct batch use/tests):
    * [[recover]], then — when the batch carries any row —
    * [[applyChanges]].
    *
    * Swap protocol (each step is one HDFS-atomic rename, never a
    * delete-then-rename gap): write `.next`, park the live snapshot as
    * `.old`, promote `.next`, drop `.old`. A crash between the two
    * renames leaves `.old` behind with no live dir — the recovery step
    * at the top of the NEXT application (or restart re-delivery)
    * restores it before merging, so the table is never lost and the
    * re-delivered batch re-applies idempotently. */
  def applyBatch(spark: SparkSession, batch: DataFrame, snapshotDir: String,
      key: String, opCol: String, seqCol: String,
      partitionCol: Option[String] = None,
      manifestCommit: Boolean = false): Unit = {
    recover(spark, snapshotDir)
    // the empty-batch return comes AFTER recovery: "restored at the
    // top of the NEXT application" must hold even when that
    // application's first batch happens to carry nothing
    if (!batch.isEmpty)
      applyChanges(spark, batch, snapshotDir, key, opCol, seqCol,
        partitionCol, manifestCommit)
  }

  /** Crash recovery, filesystem operations only (no Spark job). It runs
    * for BOTH park styles before EITHER mode's merge: switching
    * partitionCol between crash and restart is a config change, and
    * recovery must not depend on it. A snapshot parked whole (`.old`,
    * no live dir) is restored even when the next application runs
    * partition-scoped, and partitions parked by a crashed partition
    * swap are restored even when it runs whole. Rename-mode recovery
    * also runs ahead of manifest-mode applications: a snapshot parked
    * by a rename-mode crash must be restored (and then refused loudly
    * by the manifest path's layout guard) rather than read as absent
    * and silently buried under a fresh manifest. In a pure manifest
    * lifecycle neither branch ever fires — manifest mode parks
    * nothing. Callers that know a batch is empty without probing it
    * ([[IngestPipeline]]'s per-table counts) call this alone. */
  def recover(spark: SparkSession, snapshotDir: String): Unit = {
    val cur = new Path(snapshotDir)
    // the PATH's filesystem, not the default one — snapshotDir may live
    // on a different scheme than fs.defaultFS (review finding)
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new Path(cur.getParent, cur.getName + ".old")
    if (!fs.exists(cur) && fs.exists(old))
      require(fs.rename(old, cur), s"rename $old -> $cur failed")
    Merge.recoverParkedPartitions(spark, snapshotDir)
  }

  /** Merge a NON-EMPTY batch into the snapshot; [[recover]] must have
    * run first (as [[applyBatch]] does). */
  def applyChanges(spark: SparkSession, batch: DataFrame, snapshotDir: String,
      key: String, opCol: String, seqCol: String,
      partitionCol: Option[String] = None,
      manifestCommit: Boolean = false): Unit = {
    val cur = new Path(snapshotDir)
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    // siblings of cur, never children: a string-concat ".next" under a
    // trailing-slash dir would be deleted along with it (review finding)
    val next = new Path(cur.getParent, cur.getName + ".next")
    val old = new Path(cur.getParent, cur.getName + ".old")
    def renameOrDie(a: Path, b: Path): Unit =
      require(fs.rename(a, b), s"rename $a -> $b failed")
    // 1. intra-batch compaction: latest (by seq) change per key survives.
    // In partitioned mode the unit is (key, partition), NOT key alone: a
    // partition move arrives as D(old partition) + I(new partition) in
    // one batch, and key-only compaction would collapse the pair to a
    // single row — the stale copy would silently survive in the old
    // partition. Keeping both lets mergePartitioned's full-outer
    // fan-out arbitrate (D erases, I lands); a key with more than one
    // NON-D row after compaction is rejected loudly there.
    // Not persisted here: the whole-snapshot paths evaluate it once
    // (the generation or `.next` write), and mergePartitioned caches
    // its uncached input itself for its several actions.
    val dataCols = batch.columns.toSeq.filterNot(c => c == key || c == seqCol)
    val compacted = partitionCol match {
      case Some(pc) =>
        val rest = dataCols.filterNot(_ == pc)
        batch.groupBy(col(key), col(pc))
          .agg(max_by(struct(rest.map(col): _*), col(seqCol)).as("__p"))
          .select(col(key) +: col(pc) +: rest.map(c => col(s"__p.$c").as(c)): _*)
      case None =>
        batch.groupBy(col(key))
          .agg(max_by(struct(dataCols.map(col): _*), col(seqCol)).as("__p"))
          .select(col(key) +: dataCols.map(c => col(s"__p.$c").as(c)): _*)
    }
    partitionCol match {
      // partition-scoped path (the 100 TB form): merge + rewrite ONLY
      // the partitions the batch touches; untouched partition dirs are
      // never read or written — per-batch cost ∝ changes, not ∝ table
      case Some(pc) =>
        Merge.mergePartitioned(spark, snapshotDir, compacted, key, pc,
          opCol, manifestCommit)
      case None if manifestCommit || ManifestCommit.exists(fs, cur) =>
        // whole-snapshot manifest commit: write one immutable
        // generation at its final path, flip the pointer — no rename.
        // The gc → read → layout-guard → write → commit → gc protocol
        // lives in Merge so both entry points stay in lockstep.
        Merge.mergeWholeManifest(spark, snapshotDir, compacted, key, opCol)
      case None =>
        // 2. merge with the existing snapshot (empty on first batch)
        val target =
          if (fs.exists(cur)) spark.read.parquet(cur.toString)
          else compacted.filter(lit(false)).drop(opCol) // empty, right schema
        val merged = Merge.mergeBatch(target, compacted, key, opCol)
        // 3. write, park, promote, drop
        merged.write.mode("overwrite").parquet(next.toString)
        if (fs.exists(old)) fs.delete(old, true)
        if (fs.exists(cur)) renameOrDie(cur, old)
        renameOrDie(next, cur)
        fs.delete(old, true)
    }
  }
}
