package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Merge-on-read deletes for manifest snapshots (the Delta/Iceberg
 * deletion-vector discipline, expressed at key granularity): a delete
 * writes ONLY the deleted keys into a tombstone sidecar — zero data
 * files are read or rewritten — and reads subtract the tombstones with
 * a broadcast anti-join. Compaction folds the tombstones into a new
 * snapshot generation when their read-time cost warrants the rewrite.
 *
 * Why this matters at 100 TB: a GDPR-style delete of a few thousand
 * keys under copy-on-write costs a rewrite of every touched file
 * (arbitrarily large when keys scatter); under merge-on-read it costs
 * a tombstone-sized write now and one pruned rewrite LATER, amortized
 * across many deletes, scheduled when convenient. The read tax is one
 * broadcast anti-join against a table bounded by the un-compacted
 * delete count — catalog-scale, not data-scale.
 *
 * Tombstones are VERSION-STAMPED (`__asof` = the manifest version live
 * when the delete ran) and apply only while that version is still
 * live. This is what makes deletes and later upserts compose: every
 * [[Merge.mergeWholeManifest]] FOLDS the applicable tombstones into
 * the generation it writes (the subtraction rides a rewrite that was
 * happening anyway), so after the commit the tombstones are durable in
 * the data and their sidecar rows are inert — and a change row
 * re-asserting a deleted key simply wins the merge, instead of being
 * silently re-hidden by a stale tombstone (and then destroyed by the
 * next compact, which was the failure mode before the stamping).
 * Writers must be serialized per store (the MERGE family's existing
 * single-writer discipline): a delete racing a concurrent merge could
 * stamp a version that is no longer live by the time it lands.
 *
 * Crash/idempotency contract:
 *  - [[delete]] is an append of immutable tombstone files; re-running
 *    a delete of already-deleted keys changes nothing a reader sees
 *    (the anti-join is idempotent by construction).
 *  - [[compact]] (and the merge-time fold) commits the cleaned
 *    generation THROUGH the manifest pointer first, then clears the
 *    pinned sidecar files. A crash between the two leaves files whose
 *    `__asof` is below the new live version — INERT by the version
 *    rule, removed by the next compact/fold. Readers racing a compact
 *    see either (old gen + applicable tombstones) or (new gen + inert
 *    tombstones): the same final row set either way.
 */
object DeletionVectors {

  private def tombDir(dir: Path) = new Path(dir, "_tombstones")

  private def liveVersion(spark: SparkSession, dir: Path): Long = {
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestCommit.read(fs, dir).map(_.version).getOrElse(0L)
  }

  /** The sidecar's data files right now (commit markers excluded). A
    * compact clears files individually — the dir may outlive its last
    * tombstone — so emptiness is judged by this list, not existence. */
  private def tombFiles(spark: SparkSession, td: Path): Array[Path] = {
    val fs = td.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(td)) Array.empty
    else fs.listStatus(td).filter(s => s.isFile && {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }).map(_.getPath)
  }

  /** Logical delete: append the keys to the tombstone sidecar, stamped
    * with the live manifest version. Cost ∝ keys; no snapshot data is
    * opened. WHOLE-snapshot manifest stores ONLY: a directory with no
    * commit has no version to stamp, and a partition-scoped merge
    * bumps the version without folding (inerting every pending
    * tombstone) — both guarded below. */
  def delete(spark: SparkSession, snapshotDir: String, keys: DataFrame,
      keyCol: String): Unit = {
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    require(ManifestCommit.exists(fs, dir),
      s"deletion vectors need a manifest snapshot at $snapshotDir — " +
        "a directory no merge has committed to has no version to stamp " +
        "tombstones with; build it through MergeSink or Merge first")
    // WHOLE-snapshot manifests only (live entries carry no '/'): only
    // mergeWholeManifest folds tombstones into the generation it writes.
    // A partition-scoped merge bumps the version WITHOUT folding — every
    // pending tombstone would go inert (__asof below the new live
    // version) and the deleted keys would silently reappear. A keyed
    // tombstone cannot be folded partition-scoped either: its key may
    // live in a partition the merge never touches.
    require(Merge.newestNonEmptyState(fs, dir)
        .forall(_.live.forall(!_.contains("/"))),
      s"snapshot at $snapshotDir is a partition-scoped manifest — " +
        "deletion vectors compose only with whole-snapshot merges " +
        "(mergeWholeManifest folds tombstones; partition-scoped merges " +
        "cannot). Send deletes as op='D' change rows through " +
        "mergePartitioned instead")
    ControlPlane.dropDeadJobOutput(spark, tombDir(dir).toString)
    keys.select(col(keyCol)).distinct()
      .withColumn("__asof", lit(liveVersion(spark, dir)))
      .write.mode("append").parquet(tombDir(dir).toString)
  }

  /** Distinct keys of the APPLICABLE tombstones in `files` — rows
    * stamped with the current live version. Rows below it are inert:
    * a merge/compact already folded them into the data (or is mid-
    * cleanup after its pointer flip). */
  private def applicableKeys(spark: SparkSession, dir: Path,
      files: Array[Path]): DataFrame = {
    // mergeSchema: a sidecar may mix stamped files with LEGACY files
    // written before version stamping (no __asof column). Legacy rows
    // applied until compact under the old scheme — treating a missing
    // stamp as "current version" (coalesce) preserves exactly that.
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(files.map(_.toString): _*)
    val live = lit(liveVersion(spark, dir))
    val stamped =
      if (raw.columns.contains("__asof")) raw
      else raw.withColumn("__asof", live)
    stamped.filter(coalesce(col("__asof"), live) === live)
      .drop("__asof").distinct()
  }

  /** The live view: snapshot minus applicable tombstoned keys. The
    * tombstone side is broadcast (bounded by un-compacted delete
    * volume); the snapshot side streams through the anti-join
    * unshuffled. */
  def read(spark: SparkSession, snapshotDir: String,
      keyCol: String): DataFrame = {
    val dir = new Path(snapshotDir)
    val snap = Merge.readSnapshot(spark, snapshotDir)
    val files = tombFiles(spark, tombDir(dir))
    if (files.isEmpty) snap
    else snap.join(
      broadcast(applicableKeys(spark, dir, files).select(col(keyCol))),
      Seq(keyCol), "left_anti")
  }

  /** Un-compacted applicable tombstone count — the read-tax gauge a
    * maintenance scheduler polls to decide when [[compact]] pays for
    * itself. */
  def pendingDeletes(spark: SparkSession, snapshotDir: String): Long = {
    val dir = new Path(snapshotDir)
    val files = tombFiles(spark, tombDir(dir))
    if (files.isEmpty) 0L
    else applicableKeys(spark, dir, files).count()
  }

  /** The merge-time fold ([[Merge.mergeWholeManifest]] calls this on
    * the target it is about to rewrite): subtract the applicable
    * tombstones from `target` and return the pinned sidecar files for
    * [[clearPinned]] after the pointer flip. The tombstone key column
    * is discovered from the sidecar's own schema. */
  private[operators] def foldInto(spark: SparkSession, snapshotDir: String,
      target: DataFrame): (DataFrame, Array[Path]) = {
    val dir = new Path(snapshotDir)
    val pinned = tombFiles(spark, tombDir(dir))
    if (pinned.isEmpty) (target, pinned)
    else {
      val keys = applicableKeys(spark, dir, pinned)
      val keyCol = keys.columns.filterNot(_ == "__asof").head
      (target.join(broadcast(keys.select(col(keyCol))), Seq(keyCol),
        "left_anti"), pinned)
    }
  }

  /** Post-commit sidecar cleanup (best-effort: survivors are inert by
    * the version rule and the next fold/compact removes them). */
  private[operators] def clearPinned(spark: SparkSession,
      snapshotDir: String, pinned: Array[Path]): Unit = {
    val fs = tombDir(new Path(snapshotDir))
      .getFileSystem(spark.sessionState.newHadoopConf())
    pinned.foreach(fs.delete(_, false))
  }

  /** Physically apply the tombstones: commit the subtracted snapshot
    * as a new immutable generation (manifest pointer flip — object-
    * store-safe), then clear the sidecar. See the crash contract in
    * the object scaladoc. */
  def compact(spark: SparkSession, snapshotDir: String,
      keyCol: String): Unit = {
    // Pin the sidecar's file list FIRST and operate on exactly that
    // set: a delete() racing this compact appends NEW files, which the
    // snapshot below never reads and the cleanup below never removes —
    // they stay pending for the next compact instead of being dropped
    // unapplied.
    compactPinned(spark, snapshotDir, keyCol,
      tombFiles(spark, tombDir(new Path(snapshotDir))))
  }

  /** The compact body after the file-list pin — separated so the
    * listing↔apply race is testable (DeletionVectorsSpec appends a
    * concurrent delete between the two and asserts it survives). */
  private[operators] def compactPinned(spark: SparkSession,
      snapshotDir: String, keyCol: String,
      pinned: Array[Path]): Unit = {
    val dir = new Path(snapshotDir)
    val fs = tombDir(dir).getFileSystem(spark.sessionState.newHadoopConf())
    if (pinned.isEmpty) return
    // APPLICABLE rows only: a stale inert file left by a crashed
    // cleanup must never become a D row — its key may have been
    // legitimately re-asserted by a merge since, and re-deleting it
    // here would be exactly the resurrection-destruction bug the
    // version stamp closes
    val dels0 = applicableKeys(spark, dir, pinned)
      .select(col(keyCol)).withColumn("op", lit("D"))
    if (dels0.isEmpty) { pinned.foreach(fs.delete(_, false)); return }
    // route through the MERGE protocol as a pure-delete change set so
    // the gc/guard/commit tail stays in one place; null-fill the
    // snapshot's data columns (mergeBatch resolves every target column
    // on the change side — D rows never read them). The merge's own
    // tombstone fold makes the D rows no-ops, and also sweeps in any
    // delete that landed between our pin and this call.
    val dels = Merge.readSnapshot(spark, snapshotDir).schema.fields
      .filterNot(_.name == keyCol)
      .foldLeft(dels0)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    Merge.mergeWholeManifest(spark, snapshotDir, dels, keyCol)
    pinned.foreach(fs.delete(_, false))
  }
}
