package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only tombstone OP LOG shared by the materialized stores
  * (ANN store `deleted/`, signature store `_deleted/`): (<id>, seq,
  * op ∈ {D, R}) rows, latest seq per id wins — D tombstones, R
  * (revive) re-opens after a physical reclaim. Append-only is the
  * load-bearing property: an absent record reads as "no tombstones",
  * so ANY rewrite-in-place protocol would open a resurrection window
  * for the ids it was keeping; appends have no such window (a torn
  * write is invisible `_temporary` debris). Legacy one-column D-only
  * files read as (id, 0, D) — `mergeSchema` fills the missing columns
  * when old and new files coexist.
  *
  * The log is takedown/churn-sized, never corpus-sized: resolution is
  * a broadcast-scale aggregation, and [[maybeFold]] bounds FILE growth
  * under churn-heavy upsert traffic (every upsert appends a D file and
  * an R file while the resolved set stays near-empty, so size-based
  * compaction advisories never trip). Single-writer, like every store
  * mutation in this repo.
  */
private[graft] object TombstoneLog {

  /** The raw, normalized log — (idCol, seq, op) — or None when the
    * dir is absent or holds only uncommitted debris. The read pins
    * `ignoreMissingFiles = false` PER-READ (r14 review of the
    * fold-vs-reader seam): [[maybeFold]] deletes superseded files
    * after its checkpoint lands, and a reader that listed the old
    * files pre-fold must fail LOUDLY if it reaches them post-delete —
    * under a session-level `spark.sql.files.ignoreMissingFiles=true`
    * it would instead silently resolve an EMPTY tombstone set, which
    * is a resurrection, not an error. (A reader listing after the
    * checkpoint append resolves correctly in every interleaving — the
    * checkpoint supersedes whatever old files survive.) */
  def read(spark: SparkSession, path: String,
      idCol: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try {
      val d = spark.read.option("mergeSchema", "true")
        .option("ignoreMissingFiles", "false").parquet(p.toString)
      d.schema // force schema inference while the read is still cheap
      val withSeq =
        if (d.columns.contains("seq"))
          d.withColumn("seq", coalesce(col("seq"), lit(0L)))
        else d.withColumn("seq", lit(0L))
      Some(
        if (withSeq.columns.contains("op"))
          withSeq.withColumn("op", coalesce(col("op"), lit("D")))
        else withSeq.withColumn("op", lit("D")))
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  /** Every id in the log with its latest-seq op — (idCol, op) — or
    * None when the log is absent. A same-seq D/R tie resolves to R
    * (struct max is lexicographic, 'R' > 'D') — unreachable under the
    * single-writer seq discipline, but deterministic. */
  def resolvedOps(spark: SparkSession, path: String,
      idCol: String): Option[DataFrame] =
    read(spark, path, idCol).map { log =>
      log.groupBy(idCol)
        .agg(max(struct(col("seq"), col("op"))).as("last"))
        .select(col(idCol), col("last.op").as("op"))
    }

  /** The EFFECTIVE tombstone set — one (idCol) column, latest-seq-wins
    * D rows — or None when nothing was ever deleted. */
  def resolved(spark: SparkSession, path: String,
      idCol: String): Option[DataFrame] =
    resolvedOps(spark, path, idCol)
      .map(_.filter(col("op") === "D").select(idCol))

  /** One past the log's max seq (0 on a fresh log). */
  def nextSeq(spark: SparkSession, path: String, idCol: String): Long =
    read(spark, path, idCol) match {
      case None => 0L
      case Some(log) =>
        log.agg(max(col("seq"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0) + 1L
        }
    }

  /** ONE committed read of the log serving a whole mutation:
    * (resolved per-id latest ops — as [[resolvedOps]] — and the next
    * free seq). A delete/reclaim/upsert needs both, and each of
    * [[resolvedOps]] + per-append [[nextSeq]] re-reads every committed
    * file — on a routed store that multiplies by the shard count per
    * CDC micro-batch. The log frame is eagerly localCheckpoint'ed (it
    * is takedown-sized): later appends in the same mutation refresh
    * Spark's path cache for this dir, and a lazily-derived frame would
    * silently recompute against the post-append files (the
    * refreshByPath recache hazard class). */
  def snapshot(spark: SparkSession, path: String,
      idCol: String): (Option[DataFrame], Long) =
    read(spark, path, idCol) match {
      case None => (None, 0L)
      case Some(log0) =>
        val log = log0.localCheckpoint(true)
        val ops = log.groupBy(idCol)
          .agg(max(struct(col("seq"), col("op"))).as("last"))
          .select(col(idCol), col("last.op").as("op"))
        val mx = log.agg(max(col("seq"))).head()
        (Some(ops), if (mx.isNullAt(0)) 0L else mx.getLong(0) + 1L)
    }

  /** Append one op record per id in `ids` (a one-column frame named
    * idCol) at the next seq. */
  def append(spark: SparkSession, ids: DataFrame, path: String,
      idCol: String, op: String): Unit =
    append(spark, ids, path, idCol, op, nextSeq(spark, path, idCol))

  /** [[append]] at an explicit seq — for mutations that already read
    * the log once via [[snapshot]] and thread the seq through instead
    * of paying a fresh full-log read per append (an upsert appends
    * TWICE: D at `seq`, R at `seq + 1`). Single-writer discipline
    * makes the pre-computed seq safe: nothing else appends between
    * the snapshot and these writes. */
  def append(spark: SparkSession, ids: DataFrame, path: String,
      idCol: String, op: String, seq: Long): Unit =
    write(spark, ids.withColumn("seq", lit(seq)).withColumn("op", lit(op)),
      path)

  /** Every write into the log: one file of records. */
  private def write(spark: SparkSession, records: DataFrame,
      path: String): Unit = {
    ControlPlane.dropDeadJobOutput(spark, path)
    records.coalesce(1).write.mode("append").parquet(path)
  }

  /** Fold the log once its committed FILE count passes the threshold
    * (`spark.graft.tombstoneLogFoldFiles`, default 64): APPEND one
    * checkpoint file holding EVERY id's latest op (D and R rows both)
    * at a seq above every existing record, then delete the older
    * files. The checkpoint must cover revived ids too — an id's D and
    * R records can live in DIFFERENT files, so a partial old-file
    * deletion that dropped the R file but kept the D file would
    * otherwise resolve a live, revived id as deleted (and a later
    * compaction would physically remove its row: silent loss). With
    * full coverage every crash window resolves identically: any
    * surviving old record is superseded by the checkpoint's row for
    * that id; an uncommitted checkpoint is `_temporary` debris the
    * next read skips. Never rewrites in place. The R rows persist
    * across folds (the log's size is ∝ distinct churned ids) until a
    * compaction clears the whole log via [[clear]]. */
  def maybeFold(spark: SparkSession, path: String, idCol: String): Unit = {
    val threshold = spark.conf
      .get("spark.graft.tombstoneLogFoldFiles", "64").toInt
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    def committed = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    val before = committed
    if (before.length <= threshold) return
    resolvedOps(spark, path, idCol) match {
      case Some(d) =>
        write(spark, d.withColumn("seq", lit(nextSeq(spark, path, idCol))),
          path)
      case None => return
    }
    // the checkpoint is committed — everything written before it is
    // redundant (every id's resolution is decided by the checkpoint)
    val keep = committed.filterNot(before.contains).toSet
    before.foreach { f => if (!keep.contains(f)) fs.delete(f, false) }
  }

  /** Remove the log entirely — the end-of-compaction step, once every
    * tombstoned row is physically reclaimed. A bare recursive delete
    * would be unsafe for the same split-file reason as the fold: a
    * partial deletion can drop an id's R file and keep its D file,
    * resolving a live revived id as deleted. So the clear SUPERSEDES
    * first: append one checkpoint of R rows for EVERY id in the log
    * (nothing is deleted at this point in the compaction, so "no id
    * tombstoned" is exactly the state), then delete the old files
    * (any survivor is superseded by the checkpoint), then the
    * checkpoint itself, then the dir. Every partial state resolves to
    * "no tombstones" or to a strictly-safe subset of the pre-clear
    * state (checkpoint not yet committed = old tombstones stand over
    * already-reclaimed rows — reads correct, re-run completes). */
  def clear(spark: SparkSession, path: String, idCol: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    def committed = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    val before = committed
    if (before.nonEmpty) {
      read(spark, path, idCol) match {
        case Some(log) =>
          write(spark, log.select(idCol).distinct()
            .withColumn("seq", lit(nextSeq(spark, path, idCol)))
            .withColumn("op", lit("R")), path)
        case None => // unreadable = nothing committed; fall through
      }
      val ckpt = committed.filterNot(before.contains).toSet
      before.foreach { f => if (!ckpt.contains(f)) fs.delete(f, false) }
      ckpt.foreach(fs.delete(_, false))
    }
    fs.delete(p, true)
  }
}
