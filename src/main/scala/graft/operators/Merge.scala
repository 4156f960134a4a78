package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterBridge
import org.apache.spark.sql.functions._
import scala.collection.parallel.CollectionConverters._

/**
 * Batch MERGE: apply a keyed change set (op ∈ I/U/D) onto a snapshot in
 * ONE full-outer-join pass — the `MERGE INTO … WHEN MATCHED THEN
 * UPDATE/DELETE WHEN NOT MATCHED THEN INSERT` statement expressed on
 * plain DataFrames (no transactional table format required):
 *
 *  - change row present, op I/U → the change's values win (matched ⇒
 *    update; unmatched ⇒ insert — I and U collapse, upsert-style);
 *  - change row present, op D → the key disappears (a D for an absent
 *    key is a no-op, like MERGE's unmatched-source DELETE);
 *  - no change row → the snapshot row passes through.
 *
 * Contract: at most one change per key — compact a multi-version CDC
 * tail with [[CdcMaterializer.latestSnapshot]] first (that operator
 * owns intra-batch ordering; this one owns application). One sanctioned
 * exception, used by [[mergePartitioned]]: a D+I pair for the same key
 * (a partition move). The full-outer join fans the key to both change
 * rows; the D row filters out, the I row carries the values — exactly
 * one surviving copy.
 *
 * Scale shape: one shuffle of each side on the key (or a broadcast of
 * the change set when AQE sizes it small — the common case: changes ≪
 * snapshot). The full payload travels once; no window, no second pass.
 * At 100 TB with a partitioned snapshot, compose with
 * [[StreamSplitter.replayAll]]-style dynamic partition overwrite so
 * only partitions containing changed keys rewrite.
 */
object Merge {

  /** The token both multi-non-D refusals carry ("two surviving changes
    * for one key"): one guard, riding the partitioned merge's count job
    * and the whole-snapshot merge's generation write. */
  val MultiNonDToken = "GRAFT_MULTI_NON_D"

  /** The token [[readSnapshot]]'s refusal carries for a snapshot dir
    * that holds staged generations but no whole commit: its writer died
    * before the first commit landed, so nothing there is readable. */
  val NoCommitToken = "GRAFT_NO_COMMIT"

  /** The op domain is CLOSED: 'I'/'U'/'D', non-null, case-sensitive.
    * Anything else raises at execution on the offending row — the CDC
    * failure modes this kills are a lowercase 'd' silently acting as
    * an upsert (deletes never applied, dead rows forever) and a NULL
    * op masquerading as "no change arrived for this key" (which the
    * full-outer join cannot distinguish from a target-only row). */
  private def validatedOps(changes: DataFrame, opCol: String): DataFrame = {
    require(changes.columns.contains(opCol),
      s"changes must carry an '$opCol' column")
    changes.withColumn(opCol,
      when(col(opCol).isin("I", "U", "D"), col(opCol))
        .otherwise(raise_error(concat(
          lit(s"invalid '$opCol' (want I/U/D): "),
          coalesce(col(opCol).cast("string"), lit("NULL"))))))
  }

  def mergeBatch(target: DataFrame, changes0: DataFrame, key: String,
      opCol: String = "op"): DataFrame = {
    val dataCols = target.columns.toSeq.filterNot(_ == key)
    val changes = validatedOps(changes0, opCol)
    target.as("t").join(changes.as("c"), Seq(key), "full_outer")
      // keep unless an explicit D arrived; a target-only row has NULL op
      // (NULL <> 'D' is NULL, hence the coalesce)
      .filter(coalesce(col(s"c.$opCol") =!= "D", lit(true)))
      .select(col(key) +: dataCols.map(cn =>
        when(col(s"c.$opCol").isNotNull, col(s"c.$cn"))
          .otherwise(col(s"t.$cn")).as(cn)): _*)
  }

  /**
   * [[mergeBatch]] with SCHEMA EVOLUTION (Delta's autoMerge
   * discipline): the change set may carry columns the snapshot has
   * never seen, and may omit snapshot columns it does not update.
   * The result schema is target ∪ changes, target order first:
   *
   *  - a column in BOTH: change rows take the change value, untouched
   *    rows keep the target value (plain [[mergeBatch]] semantics);
   *  - a TARGET-ONLY column: updates keep the target value (an
   *    omitted column is "not updated", never nulled — losing data on
   *    a narrower producer is the failure mode this guards), inserts
   *    get NULL;
   *  - a CHANGES-ONLY column: change rows carry their value, all
   *    pre-existing rows get NULL — the backfill-free evolution every
   *    long-lived 100 TB snapshot needs, since rewriting history to
   *    add a column is exactly the full-table IO this family exists
   *    to avoid.
   *
   * Evolution is ADD-only by design: a column can stop being written,
   * but never drops from the snapshot schema — readers relying on it
   * keep resolving it (as NULL going forward).
   */
  def mergeBatchEvolve(target: DataFrame, changes0: DataFrame, key: String,
      opCol: String = "op"): DataFrame = {
    val changes = validatedOps(changes0, opCol)
    val tCols = target.columns.toSeq.filterNot(_ == key)
    val cData = changes.columns.toSeq
      .filterNot(c => c == key || c == opCol)
    val newCols = cData.filterNot(tCols.contains)
    target.as("t").join(changes.as("c"), Seq(key), "full_outer")
      .filter(coalesce(col(s"c.$opCol") =!= "D", lit(true)))
      .select(col(key) +: (tCols.map { cn =>
        if (cData.contains(cn))
          when(col(s"c.$opCol").isNotNull, col(s"c.$cn"))
            .otherwise(col(s"t.$cn")).as(cn)
        else col(s"t.$cn").as(cn) // not carried: keep, never null out
      } ++ newCols.map(cn =>
        when(col(s"c.$opCol").isNotNull, col(s"c.$cn")).as(cn))): _*)
  }

  /**
   * Partition-scoped MERGE onto a Hive-partitioned parquet snapshot:
   * apply a change set touching only SOME partitions without reading or
   * rewriting the rest. This is the 100 TB form the [[mergeBatch]]
   * scaladoc promises: a daily CDC batch with 0.1% changed keys costs a
   * read+write of the touched partitions only — cost ∝ changes' partition
   * footprint, not ∝ table size. Untouched partition directories are
   * never opened: their files stay byte-identical at the same paths
   * (asserted in MergeSinkSpec).
   *
   * Plan shape: one bounded collect of the DISTINCT changed partition
   * values (catalog-scale metadata, like replayAll's partition list), a
   * read of ONLY the touched partitions' live generations, one
   * full-outer merge counted per partition (the multi-non-D guard
   * raises there, before anything is staged), ONE job writing every
   * touched partition's generation ([[GenerationWriter.writeAll]], so
   * `spark.speculation=true` is refused), then one commit-file flip.
   *
   * Contract (relaxing [[mergeBatch]]'s one-change-per-key to
   * one-change-per-(key, partition)):
   *  - `partCol` is stable per key (the usual date/lang/tenant layout
   *    column). A partition-moving update must be sent as D (old
   *    partition) + I (new partition) — the same contract Hive's dynamic
   *    partition overwrite imposes. The pair MAY arrive in one batch:
   *    the full-outer join fans the key to both change rows, the D row
   *    erases (or no-ops) and the I row carries the values — one
   *    surviving copy, in the new partition. What is rejected loudly is
   *    MORE THAN ONE non-D row per key (two surviving copies in two
   *    partitions would be a silent duplicate).
   *  - every change row — D included — carries a non-null `partCol`
   *    (a D must say which partition its key lives in; that is what
   *    makes pruning sound).
   *
   * Commit protocol ([[ManifestCommit]], object-store-safe — no rename
   * anywhere): touched partitions write ONCE into immutable generation
   * dirs at their final paths (`data/<leaf>/g-<v>`), then one small
   * commit file flips the snapshot. Recovery is resolving the newest
   * whole commit; the next merge's preamble GC clears crash debris.
   * Read such snapshots through [[readSnapshot]]. The snapshot read is
   * PRUNED at the listing level: only the touched generation dirs are
   * handed to the reader (basePath + explicit paths), so untouched
   * partitions are neither listed nor read.
   */
  def mergePartitioned(spark: SparkSession, snapshotDir: String,
      changes0: DataFrame, key: String, partCol: String,
      opCol: String = "op"): Seq[String] = {
    // this function runs two actions over the change set (the touched
    // collect and the merged set's per-partition count) — cache it for
    // the duration unless the caller already did (MergeSink's compacted
    // batch arrives uncached and is cached here; a direct caller with
    // expensive lineage should not pay it twice)
    val cachedHere =
      changes0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val changes = if (cachedHere)
      changes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else changes0
    try mergePartitionedCached(spark, snapshotDir, changes, key, partCol,
      opCol)
    finally if (cachedHere) { changes.unpersist(); () }
  }

  private def mergePartitionedCached(spark: SparkSession,
      snapshotDir: String, changes: DataFrame, key: String, partCol: String,
      opCol: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(conf)
    def leafName(v: String): String =
      ExternalCatalogUtils.escapePathName(partCol) + "=" +
        ExternalCatalogUtils.escapePathName(v)
    // the changed-partition list: bounded, catalog-scale metadata. One
    // pass also enforces the non-null contract — a null partCol row
    // would otherwise be silently unroutable (its partition unknowable,
    // its data never merged).
    val touchedRaw = changes.select(col(partCol).cast("string"))
      .distinct().collect().map(r => Option(r.getString(0))).toSeq
    require(!touchedRaw.contains(None),
      s"changes carry rows with null '$partCol' — every change (D included) " +
        "must name its partition")
    val touched = touchedRaw.flatten.sorted
    // '' is rejected like null: Spark's partitioned writers fold the
    // empty string into the null partition (__HIVE_DEFAULT_PARTITION__),
    // so 'partCol=' cannot round-trip a Hive partition path.
    require(!touched.contains(""),
      s"changes carry rows with empty-string '$partCol' — '' cannot " +
        "round-trip through a Hive partition path; use a sentinel value")
    require(touched.nonEmpty, "changes carry no partition values")
    mergeManifest(spark, dir, fs, changes, key, partCol, opCol,
      changes.drop(opCol), touched, leafName)
  }

  /** Partition-scoped merges are schema-RIGID: the change set must
    * carry exactly the snapshot's columns. Narrower would silently
    * destroy the omitted columns in every rewritten partition (the
    * target read takes the change schema); wider would leave
    * per-partition schema skew that a default (mergeSchema=false)
    * snapshot read resolves from one arbitrary file. ADD columns with
    * a whole-snapshot [[mergeBatchEvolve]] rewrite first. */
  private def requireRigidColumns(changeCols: Seq[String],
      snapCols: Seq[String], dir: Path): Unit = {
    val missing = snapCols.toSet -- changeCols.toSet
    val extra = changeCols.toSet -- snapCols.toSet
    require(missing.isEmpty,
      s"changes omit snapshot columns ${missing.mkString(", ")} at $dir " +
        "— a partition-scoped merge would silently drop them from every " +
        "rewritten partition; send full-width changes")
    require(extra.isEmpty,
      s"changes carry columns ${extra.mkString(", ")} the snapshot at " +
        s"$dir lacks — partition-scoped merges cannot evolve schema; " +
        "run a whole-snapshot mergeBatchEvolve rewrite first")
  }

  /** The partition-scoped commit: generations + pointer flip, no
    * rename (see [[ManifestCommit]]). */
  private def mergeManifest(spark: SparkSession, dir: Path,
      fs: org.apache.hadoop.fs.FileSystem, changes: DataFrame, key: String,
      partCol: String, opCol: String, dataSchema: DataFrame,
      touched: Seq[String], leafName: String => String): Seq[String] = {
    // preamble GC = the whole recovery story: torn commits and
    // staged-but-uncommitted generations from any crash point clear
    // out (fresh stages survive the grace window — see stagedGrace)
    val retain = ManifestCommit.retention(spark)
    val grace = ManifestCommit.stagedGrace(spark)
    ManifestCommit.gc(fs, dir, retain, grace)
    val st = ManifestCommit.read(fs, dir)
    requireManifestLayout(fs, dir, st)
    require(newestNonEmptyState(fs, dir).forall(_.live.forall(_.contains("/"))),
      s"snapshot at $dir is a whole-snapshot manifest — it cannot be " +
        "partition-scope merged; rebuild it partitioned")
    val data = ManifestCommit.dataDir(dir)
    val liveMap: Map[String, String] = ManifestCommit.liveLeafMap(st)
    // …and partitioned on THIS column: a mismatched partCol would make
    // every touched lookup miss, merge against empty, and commit a
    // second partition scheme beside the old one — duplicated keys
    val leafPrefix = ExternalCatalogUtils.escapePathName(partCol) + "="
    liveMap.keys.foreach { l =>
      require(l.startsWith(leafPrefix),
        s"snapshot at $dir is partitioned on '${l.takeWhile(_ != '=')}', " +
          s"not '$partCol'")
    }
    val touchedLive = touched.flatMap(v => liveMap.get(leafName(v))
      .map(g => new Path(new Path(data, leafName(v)), g)))
    val target =
      if (touchedLive.nonEmpty) {
        // the snapshot's OWN schema (never forced to the change set's):
        // schema drift fails the rigid check loudly instead of silently
        // dropping columns in the rewrite
        val t0 = spark.read.option("basePath", data.toString)
          .parquet(touchedLive.map(_.toString): _*)
        requireRigidColumns(dataSchema.columns.toSeq, t0.columns.toSeq, dir)
        t0.select(dataSchema.columns.map(col): _*)
      } else {
        // all-new partitions: an existing leaf's schema still governs
        liveMap.headOption.foreach { case (leaf, gen) =>
          requireRigidColumns(dataSchema.columns.toSeq,
            spark.read.option("basePath", data.toString)
              .parquet(new Path(new Path(data, leaf), gen).toString)
              .columns.toSeq, dir)
        }
        dataSchema.filter(lit(false))
      }
    // a D+I pair (partition move) is fine, but two non-D rows would
    // merge into two partitions at once
    val guardMsg = guardMessage(key,
      "a partition move must be sent as D(old partition) + I(new partition)")
    val merged = mergeBatch(target,
        withMultiNonDGuard(changes, key, opCol, guardMsg), key, opCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val newVer = st.map(_.version + 1).getOrElse(1L)
      val occ = ManifestCommit.occEnabled(spark)
      // multi-writer guard 1 (see commitWholeGeneration): post-GC, a
      // touched partition can only hold a generation dir for this
      // version if a concurrent writer is staging/committed it. Under
      // OCC concurrent staging is EXPECTED (nonce paths keep writers
      // collision-free; the flip loop below serializes them), so the
      // probe would only abort innocent disjoint peers — skipped.
      if (!occ)
        touched.map(v => new Path(data, leafName(v)))
          .find(ManifestCommit.versionDirExists(fs, _, newVer)).foreach { p =>
            throw new IllegalArgumentException(
              s"a generation for version $newVer already exists under $p — " +
                "a concurrent writer is active (snapshots are " +
                "single-writer); stop the second stream and run Merge.fsck " +
                "before trusting the snapshot")
          }
      // one writer-unique generation name for the whole commit — every
      // touched leaf stages under it, the commit records it per leaf
      val gen = ManifestCommit.stagedGenName(newVer)
      // partitions whose merged content is empty (every row deleted)
      // drop out of the manifest instead of staging an empty dir; the
      // guard refuses here, before anything is staged
      val counts =
        try merged.groupBy(col(partCol).cast("string").as("__p"))
          .count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        catch { case e: Throwable if guardTripped(e) => throw multiNonD(guardMsg, e) }
      val nonEmpty = touched.filter(v => counts.getOrElse(v, 0L) > 0L)
      // each touched partition writes ONCE into its final immutable,
      // WRITER-UNIQUE home (leaf/g-<v>-<nonce>) — no staging dir, no
      // rename, and no path a racing writer may own (see
      // commitWholeGeneration). One job writes every touched
      // partition, each a filter of the PERSISTED merged set
      val stagedPaths = nonEmpty.map(v => new Path(new Path(data, leafName(v)), gen))
      GenerationWriter.writeAll(spark, nonEmpty.zip(stagedPaths).map { case (v, p) =>
        merged.filter(col(partCol).cast("string") === v).drop(partCol) -> p.toString })
      val ourLeaves = touched.map(leafName).toSet
      // the staged files as written — re-checked below (requireIntact)
      // so a peer's GC reclaiming a stage mid-commit fails THIS writer
      // loudly instead of publishing generations with missing files
      val stagedListings = stagedPaths.map(p =>
        p -> ManifestCommit.dataFileListing(fs, p))
      // multi-writer guards 2+3: expected-version compare, then the
      // commit file's exclusive create (see commitWholeGeneration).
      // Under OCC, losing either guard to a DISJOINT winner rebases:
      // re-read the winner's state, verify no commit since `st`
      // repointed one of OUR leaves (generations are immutable, so an
      // unchanged mapping means our staged merge is still derived
      // from current data), carry the winners' entries forward, and
      // re-flip at the next version. Overlap aborts loudly — the
      // merge was computed from superseded partition state.
      var base = st
      var attempt = 0
      var flipped = false
      while (!flipped) {
        val ver = base.map(_.version + 1).getOrElse(1L)
        val newLive = (ManifestCommit.liveLeafMap(base) -- ourLeaves) ++
          nonEmpty.map(v => leafName(v) -> gen)
        try {
          ManifestCommit.requireUnchanged(fs, dir, base)
          stagedListings.foreach { case (p, l) =>
            ManifestCommit.requireIntact(fs, dir, p, l) }
          // the flip: one small commit object names the live generations
          ManifestCommit.write(fs, dir,
            ManifestCommit.State(ver,
              newLive.toSeq.sorted.map { case (l, g) => s"$l/$g" }))
          flipped = true
        } catch {
          case e: ManifestCommit.CommitConflictException if occ &&
              e.peerMidFlip &&
              attempt >= ManifestCommit.occRetries(spark) =>
            // budget exhausted while a peer was mid-flip: one final
            // read decides the DIAGNOSIS. A peer that completed its
            // flip exactly as our budget ran out leaves the version
            // moved — the store is healthy, just contended, and the
            // torn-conflict guidance (grace windows, fsck) would send
            // the operator chasing a corruption that never happened.
            // An unmoved version means the peer really crashed
            // mid-flip — the torn guidance stands.
            val cur = ManifestCommit.read(fs, dir)
            if (cur.map(_.version).getOrElse(0L) >
                base.map(_.version).getOrElse(0L))
              throw new IllegalStateException(
                s"optimistic merge at $dir lost the flip race " +
                  s"$attempt times and the retry budget " +
                  "(spark.graft.merge.occRetries) is exhausted — the " +
                  "snapshot is HEALTHY (a peer's commit landed) but " +
                  "contended; replay this batch, and raise the retry " +
                  "budget if contention is routine", e)
            else throw e
          case e: IllegalStateException if occ &&
              attempt < ManifestCommit.occRetries(spark) =>
            attempt += 1
            val cur = ManifestCommit.read(fs, dir)
            if (cur.map(_.version).getOrElse(0L) <=
                base.map(_.version).getOrElse(0L)) e match {
              case c: ManifestCommit.CommitConflictException
                  if c.peerMidFlip =>
                // the exclusive create lost to a peer MID-FLIP: its
                // commit file exists but its content hasn't landed, so
                // read() still resolves the old version. Wait a beat
                // for the flip to become readable, then loop — the
                // next requireUnchanged sees the moved version and the
                // ordinary rebase takes over. A peer that CRASHED
                // mid-flip never completes; the retry budget runs out
                // and the torn-conflict error (with its grace-window
                // guidance) surfaces loudly.
                Thread.sleep(math.min(1000L, 50L * attempt))
              case _ =>
                // any other cause with no newer winner (our stage
                // reclaimed, live state torn) keeps the loud path
                throw e
            } else {
              val winnersTouched = ManifestCommit.changedLeaves(
                ManifestCommit.liveLeafMap(st),
                ManifestCommit.liveLeafMap(cur))
              val overlap = winnersTouched.intersect(ourLeaves)
              if (overlap.nonEmpty)
                throw new IllegalStateException(
                  s"optimistic merge at $dir lost to a concurrent commit " +
                    s"that touched the SAME partition(s) " +
                    s"${overlap.toSeq.sorted.mkString(", ")} — this batch's " +
                    "merge was derived from superseded partition state and " +
                    "cannot rebase; replay it against the new live state " +
                    "(run Merge.fsck first)", e)
              base = cur
            }
        }
      }
      // post-commit cleanup of generations older than the retention
      // window (best-effort — a crash here is repaired by the next
      // preamble GC)
      ManifestCommit.gc(fs, dir, retain, grace)
    } finally merged.unpersist()
    touched
  }

  /** Read a [[mergePartitioned]]/[[graft.streaming.MergeSink]] snapshot,
    * resolving through the manifest when one exists (manifest-committed
    * snapshots MUST be read this way — a raw directory read would see
    * every generation). A directory no merge has touched reads as
    * plain parquet, so callers can use it unconditionally; one holding
    * generations but no whole commit is refused with [[NoCommitToken]]. */
  def readSnapshot(spark: SparkSession, snapshotDir: String): DataFrame = {
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestCommit.read(fs, dir) match {
      case Some(st) => resolveState(spark, dir, st)
      case None =>
        val staged = ManifestCommit.generationDirs(fs, dir)
        if (staged.nonEmpty) {
          val first = staged.map(ManifestCommit.generationVersion).min
          throw new IllegalStateException(
            s"[$NoCommitToken] snapshot at $dir has no commit: " +
              s"${ManifestCommit.commitName(first)} never landed for the " +
              s"staged generation(s) ${staged.mkString(", ")} — its " +
              "writer died before the first commit; re-run the merge")
        }
        spark.read.parquet(snapshotDir)
    }
  }

  private def resolveState(spark: SparkSession, dir: Path,
      st: ManifestCommit.State): DataFrame = {
    val data = ManifestCommit.dataDir(dir)
    if (st.live.isEmpty) {
      // drained snapshot (a batch deleted every remaining row): keep
      // the SCHEMA by resolving an empty read through the newest
      // retained commit that still lists generations — downstream
      // .select / typed .as keep working, matching what the
      // empty-target branch preserves. Only when no
      // predecessor survives retention is there genuinely no schema
      // anywhere on disk.
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      return newestNonEmptyState(fs, dir) match {
        case Some(prior) => resolveState(spark, dir, prior).filter(lit(false))
        case None        => spark.emptyDataFrame
      }
    }
    if (st.live.forall(_.contains("/")))
      spark.read.option("basePath", data.toString)
        .parquet(st.live.map(e => new Path(data, e).toString): _*)
    else readGeneration(spark, new Path(data, st.live.head))
  }

  /** Read one WHOLE generation dir with its schema taken, on the
    * driver, from one part file's footer — the schema
    * `spark.read.parquet` would infer (every part file of a generation
    * is written by one job under one schema), without the inference
    * job it submits. A generation holding no data file, or missing
    * altogether, keeps Spark's own refusal: the plain read fails
    * before scanning anything. */
  private[graft] def readGeneration(spark: SparkSession,
      gen: Path): DataFrame = {
    val fs = gen.getFileSystem(spark.sessionState.newHadoopConf())
    val listed =
      try fs.listStatus(gen).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val part = listed.find { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    part.flatMap(f => ParquetFooterBridge.readSchema(spark, Seq(f))) match {
      case Some(schema) => spark.read.schema(schema).parquet(gen.toString)
      case None         => spark.read.parquet(gen.toString)
    }
  }

  /** Newest retained commit that actually lists generations. Drained
    * commits (empty live set) say nothing about a snapshot's layout
    * mode or schema; this is what the whole-vs-partitioned guards and
    * the drained-read fallback consult, so a drain cannot vacuously
    * pass both mode guards and silently flip the layout. */
  private[operators] def newestNonEmptyState(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Option[ManifestCommit.State] =
    ManifestCommit.versions(fs, dir).reverseIterator
      .flatMap(v => ManifestCommit.readVersion(fs, dir, v))
      .find(_.live.nonEmpty)

  /** Refuse to commit into a directory that already holds data but no
    * commit (plain parquet written by something other than a merge):
    * the manifest read would resolve to the new generations only and
    * the existing files would be silently shadowed. */
  private[graft] def requireManifestLayout(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      st: Option[ManifestCommit.State]): Unit =
    if (st.isEmpty && fs.exists(dir)) {
      val stray = fs.listStatus(dir).filterNot { s =>
        val n = s.getPath.getName
        n == "data" || n.startsWith(".") || n.startsWith("_")
      }
      require(stray.isEmpty,
        s"snapshot at $dir holds non-manifest content (data but no " +
          "commit file) — merges commit only through the manifest; " +
          "merge the rows into a fresh snapshot dir as op = 'I' changes")
    }

  /** One whole-snapshot MERGE of [[mergeWholeManifests]]: `changes`
    * (at most one surviving change per key) onto the snapshot at
    * `snapshotDir`. */
  final case class WholeMerge(snapshotDir: String, changes: DataFrame,
      key: String, opCol: String = "op")

  /** [[mergeWholeManifests]] over one snapshot. */
  def mergeWholeManifest(spark: SparkSession, snapshotDir: String,
      changes: DataFrame, key: String,
      opCol: String = "op"): Unit =
    mergeWholeManifests(spark, Seq(WholeMerge(snapshotDir, changes, key, opCol)))

  /** Whole-snapshot merges, shared with [[graft.streaming.MergeSink]],
    * [[graft.streaming.IngestPipeline]], [[JoinView]] and
    * [[DeletionVectors]]: every input is staged ([[stageWhole]]), all
    * merged snapshots are written into their immutable generation dirs
    * by ONE Spark job ([[GenerationWriter.writeAll]]), then each commit
    * pointer flips ([[flipWhole]]) — one job for any number of
    * snapshots, no rename anywhere.
    *
    * A refused or failed write flips NO snapshot: a multi-non-D guard
    * trip in any input surfaces as the `IllegalArgumentException`
    * carrying [[MultiNonDToken]], and every snapshot keeps its version.
    * A flip that fails part-way leaves the snapshots flipped before it
    * committed and the rest unmoved. Either way every generation this
    * call staged whose commit file never landed is deleted before the
    * failure rethrows (one whose commit landed may be live, and is
    * left to the grace-gated gc) — a deterministic refusal is not a crash, and leftover
    * stages would trip the next commit's concurrent-writer guard until
    * the staging grace expires (best-effort; a failed delete leaves the
    * state a died writer leaves, which heals the same way). Each merge
    * is idempotent, so re-running the whole set converges. */
  def mergeWholeManifests(spark: SparkSession, merges: Seq[WholeMerge]): Unit = {
    // the AQE-off write sizes each generation from its plan's sized
    // leaves (the live generation and the change side), so r17's
    // AQE-off file inflation (q123) does not recur: a merge within the
    // advisory partition size runs as one task writing one part file,
    // a larger one gets one part file per advisory size. The change
    // set is evaluated once, by the generation write — no separate
    // guard action, so nothing here caches it: a persist would only
    // add its own fill job.
    val staged = scala.collection.mutable.ArrayBuffer.empty[
      (StagedWhole, DataFrame, String, Array[Path])]
    var flipped = 0
    try {
      // staging writes nothing: the gc, the live generation's footer
      // read and the frame's analysis are local work, done side by side
      staged ++= merges.par.map { m =>
        val s = stageWhole(spark, m.snapshotDir)
        val (frame, pinned) = mergedWhole(spark, m, s)
        (s, frame, guardMessage(m.key, CompactFirst), pinned)
      }.seq
      GenerationWriter.writeAll(spark, staged.toSeq.map { case (s, f, _, _) =>
        (f, s.genPath.toString) })
      // `flipped` counts the snapshots whose commit write started
      staged.foreach { case (s, _, _, _) =>
        flipWhole(spark, s, committing = () => flipped += 1) }
    } catch {
      case e: Throwable =>
        // the generations before the failing flip are live; the failing
        // flip's may be too once its commit file exists (the write can
        // fail after the file landed, e.g. on its read-back or the
        // post-commit gc, and a file that cannot be checked counts as
        // landed); every other staged generation is unreferenced
        staged.zipWithIndex.foreach { case ((s, _, _, _), i) =>
          if (i >= flipped || (i == flipped - 1 && !commitLanded(s)))
            try { s.fs.delete(s.genPath, true); () }
            catch { case _: Throwable => () }
        }
        // surface the riding guard as the same pre-commit refusal it
        // always was (spec-pinned type + message), unwrapped from the
        // write job's failure chain
        if (guardTripped(e))
          throw multiNonD(staged.map(_._3).find(m => chainHas(e, m))
            .getOrElse(staged.head._3), e)
        throw e
    }
    // post-flip: the folded sidecar files are inert (version rule) —
    // best-effort removal; a crash here is healed by the next fold
    staged.foreach { case (s, _, _, pinned) =>
      DeletionVectors.clearPinned(spark, s.dir.toString, pinned) }
  }

  private def commitLanded(s: StagedWhole): Boolean =
    try s.fs.exists(new Path(s.dir, ManifestCommit.commitName(s.version)))
    catch { case _: Throwable => true }

  /** `changes` with the multi-non-D guard riding its evaluation: at
    * most one SURVIVING copy per key ([[mergeBatch]]'s contract). Two
    * non-D rows for one key would fan the full-outer join out into a
    * duplicate-keyed snapshot (a dim delta delivered twice, an
    * uncompacted CDC tail); a D+I pair stays legal. A per-key non-D
    * count windowed over the change side — co-partitioned with the merge
    * join, so no extra exchange — raises `msg` from the first job that
    * evaluates the merge, before any commit flips. */
  private def withMultiNonDGuard(changes: DataFrame, key: String,
      opCol: String, msg: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    changes
      .withColumn("__nnd",
        sum(when(col(opCol) =!= "D", 1L).otherwise(0L)).over(w))
      .withColumn(opCol, when(col("__nnd") > 1,
        raise_error(lit(msg))).otherwise(col(opCol)))
      .drop("__nnd")
  }

  /** The guard's job failure `cause` as the `require` it stands for. */
  private def multiNonD(msg: String, cause: Throwable): IllegalArgumentException =
    new IllegalArgumentException(s"requirement failed: $msg", cause)

  private def guardMessage(key: String, fix: String): String =
    s"changes carry multiple non-D rows for one '$key' [$MultiNonDToken] — $fix"

  private val CompactFirst = "compact the batch to at most one surviving " +
    "change per key (CdcMaterializer.latestSnapshot) before merging"

  /** The merged snapshot one [[WholeMerge]] writes into its staged
    * generation, with the deletion-vector sidecar files it folded. */
  private def mergedWhole(spark: SparkSession, m: WholeMerge,
      s: StagedWhole): (DataFrame, Array[Path]) = {
    val guarded = withMultiNonDGuard(m.changes, m.key, m.opCol,
      guardMessage(m.key, CompactFirst))
    val data = ManifestCommit.dataDir(s.dir)
    val target0 = s.st.filter(_.live.nonEmpty)
      .map(st => readGeneration(spark, new Path(data, st.live.head)))
      .getOrElse(m.changes.filter(lit(false)).drop(m.opCol))
    // fold APPLICABLE deletion-vector tombstones into the generation
    // being written (the subtraction rides a rewrite that was happening
    // anyway): this is what lets a change row re-assert a previously
    // deleted key — the merge wins over the tombstone, instead of the
    // key staying silently hidden and then being destroyed by the next
    // compact
    val (target, pinned) =
      DeletionVectors.foldInto(spark, s.dir.toString, target0)
    (mergeBatch(target, guarded, m.key, m.opCol), pinned)
  }

  /** Does this failure chain carry the riding multi-non-D guard? The
    * guard's error reaches the driver only as message text (a
    * `raise_error` inside the write job), so it is matched on the
    * sentinel token, never on the prose around it. */
  private def guardTripped(t: Throwable): Boolean = chainHas(t, MultiNonDToken)

  private def chainHas(t: Throwable, text: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20)
      .exists(c => Option(c.getMessage).exists(_.contains(text)))

  /** A whole-snapshot generation staged for writing: the snapshot `dir`,
    * the pre-commit state `st` (to read the live generation from), and
    * the writer-unique generation dir `genPath` nothing has written yet. */
  private[graft] final case class StagedWhole(dir: Path,
      fs: org.apache.hadoop.fs.FileSystem, st: Option[ManifestCommit.State],
      genPath: Path) {
    /** The version this generation commits as. */
    def version: Long = st.map(_.version + 1).getOrElse(1L)
  }

  /** The whole-snapshot manifest-commit head — gc → read → layout guards
    * → concurrent-writer guard 1 → a writer-unique generation name —
    * shared by [[mergeWholeManifests]] and [[commitWholeGeneration]]. */
  private[graft] def stageWhole(spark: SparkSession,
      snapshotDir: String): StagedWhole = {
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestCommit.gc(fs, dir, ManifestCommit.retention(spark),
      ManifestCommit.stagedGrace(spark))
    val st = ManifestCommit.read(fs, dir)
    requireManifestLayout(fs, dir, st)
    require(newestNonEmptyState(fs, dir).forall(_.live.forall(!_.contains("/"))),
      s"snapshot at $dir is a partition-scoped manifest — pass " +
        "partitionCol to keep merging it partition-scoped")
    val newVer = st.map(_.version + 1).getOrElse(1L)
    // multi-writer guard 1: after the preamble GC, a generation dir for
    // this version can only exist if a concurrent writer is staging or
    // committed it between our GC and now — detect it before any work
    require(!ManifestCommit.versionDirExists(fs,
        ManifestCommit.dataDir(dir), newVer),
      s"a generation for version $newVer already exists at $dir — a " +
        "concurrent writer is active (snapshots are single-writer); stop " +
        "the second stream and run Merge.fsck before trusting the snapshot")
    // the generation is written ONCE at its final, WRITER-UNIQUE path
    // (g-<v>-<nonce>): this writer's bytes never touch a path another
    // writer — committed or staging — may own, so a racing loser can
    // never clobber the winner's generation; the loser fails in
    // flipWhole and its unreferenced dir becomes GC debris
    StagedWhole(dir, fs, st, new Path(ManifestCommit.dataDir(dir),
      ManifestCommit.stagedGenName(newVer)))
  }

  /** The whole-snapshot manifest-commit tail, run once the staged
    * generation is written — staged-file listing → expected-version
    * re-check → intact re-check → the commit file's exclusive create →
    * post-commit gc. A lost race or a peer's GC interference fails
    * loudly here and leaves the old commit live. `committing` runs just
    * before the commit write: past it, the staged generation may be
    * live even if this call throws. */
  private[graft] def flipWhole(spark: SparkSession, s: StagedWhole,
      tag: Option[String] = None, committing: () => Unit = () => ()): Unit = {
    // the staged files as written — re-checked below so GC
    // interference from a racing peer fails THIS commit loudly
    // instead of publishing a generation with missing files
    val stagedFiles = ManifestCommit.dataFileListing(s.fs, s.genPath)
    // multi-writer guard 2: expected-version compare before the flip;
    // guard 3 is the commit file's own exclusive create
    ManifestCommit.requireUnchanged(s.fs, s.dir, s.st)
    ManifestCommit.requireIntact(s.fs, s.dir, s.genPath, stagedFiles)
    committing()
    ManifestCommit.write(s.fs, s.dir,
      ManifestCommit.State(s.version, Seq(s.genPath.getName), tag))
    // post-commit cleanup beyond retention (best-effort — a crash here
    // is repaired by the next preamble GC)
    ManifestCommit.gc(s.fs, s.dir, ManifestCommit.retention(spark),
      ManifestCommit.stagedGrace(spark))
  }

  /** [[stageWhole]] → `writeGen` → [[flipWhole]] for a store that writes
    * its own generation (the standing-state stores: [[Rollup]] and
    * everything built on it). `writeGen` receives the writer-unique
    * generation path plus the pre-commit state (to read the live
    * generation); a crash or a lost race at any point leaves the old
    * commit live and the next preamble GC clears the staging debris. */
  private[graft] def commitWholeGeneration(spark: SparkSession,
      snapshotDir: String, tag: Option[String] = None)(
      writeGen: (String, Option[ManifestCommit.State]) => Unit): Unit = {
    val s = stageWhole(spark, snapshotDir)
    writeGen(s.genPath.toString, s.st)
    flipWhole(spark, s, tag)
  }

  /** Read-only integrity audit of a manifest snapshot (any store that
    * commits through the protocol: MERGE snapshots, rollups, data
    * cards, join views): one `(kind, detail)` row per finding, empty
    * = healthy. See [[ManifestCommit.fsck]] for the finding kinds. */
  def fsck(spark: SparkSession, snapshotDir: String): DataFrame = {
    import spark.implicits._
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestCommit.fsck(fs, dir).toDF("kind", "detail")
  }

  /** Commit versions of a manifest snapshot still readable through
    * [[readSnapshotAt]], ascending — the retention window
    * (`spark.graft.merge.retainCommits`, default 2) bounds how far
    * back this reaches. Empty for a directory no merge has committed
    * to. */
  def snapshotVersions(spark: SparkSession, snapshotDir: String): Seq[Long] = {
    val dir = new Path(snapshotDir)
    ManifestCommit.versions(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
  }

  /** Time travel: read the snapshot as of commit `version` (one of
    * [[snapshotVersions]]). Generations are immutable and retained
    * commits keep theirs, so this is a plain pruned read — no undo
    * replay. Fails loudly when the version is outside the retention
    * window (vacuumed) or was never committed. */
  def readSnapshotAt(spark: SparkSession, snapshotDir: String,
      version: Long): DataFrame = {
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val st = ManifestCommit.readVersion(fs, dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot at $snapshotDir has no readable commit $version — " +
          s"available: ${ManifestCommit.versions(fs, dir).mkString(", ")}"))
    resolveState(spark, dir, st)
  }

  /** Trim a manifest snapshot's history to its newest `keepLast`
    * commits, reclaiming generations only they referenced. `keepLast`
    * clamps to 1 — the live commit is never collectable. An explicit
    * maintenance call: merges themselves retain
    * `spark.graft.merge.retainCommits` automatically. */
  def vacuum(spark: SparkSession, snapshotDir: String, keepLast: Int): Unit = {
    val dir = new Path(snapshotDir)
    // the same staged-grace gate as the writers' preamble: vacuum run
    // while a writer is staging must not reclaim the fresh stage
    ManifestCommit.gc(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir, keepLast,
      ManifestCommit.stagedGrace(spark))
  }
}
