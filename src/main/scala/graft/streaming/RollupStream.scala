package graft.streaming

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Rollup

/**
 * Streaming aggregate maintenance: a continuous feed folds into the
 * standing [[graft.operators.Rollup]] state micro-batch by micro-batch,
 * so the serving aggregate is always one narrow-table read behind the
 * stream head — the aggregation analog of [[MergeSink]] (snapshots),
 * [[NearDupStream]] (signature admission) and [[AnnIngestStream]]
 * (vector ingest). Per-batch cost is one job aggregating batch-sized
 * data plus the group-count-sized state table; raw history
 * is never re-read, which is what makes a continuously-refreshed
 * corpus-wide report affordable at 100 TB.
 *
 * Unlike the other three sinks, a rollup fold is NOT naturally
 * idempotent — folding the same batch twice double-counts, with no
 * anti-join to catch it — so re-delivery safety has to come from the
 * commit itself. Each fold stamps its manifest commit with an
 * idempotency tag `<appToken>-<batchId>` (the Delta Lake
 * txnAppId/txnVersion discipline): when foreachBatch re-delivers a
 * batch after a crash, the fold sees its own token with an
 * equal-or-newer batch id on the live commit and skips. The token is
 * derived from the checkpoint's IDENTITY — the unique query id Spark
 * writes into `<checkpoint>/metadata` when the checkpoint is created —
 * so a NEW checkpoint (batch ids restart at 0) never aliases an old
 * stream's tags EVEN when it reuses a wiped checkpoint's path, while a
 * RESTART from the same checkpoint recognizes them — exactly the
 * pairing the checkpoint's own batch-id sequence guarantees. The id is
 * resolved lazily at the first micro-batch (Spark has written the
 * metadata file by then); a missing metadata file (direct foldBatch
 * use) falls back to hashing the location string.
 *
 * The skip compares `storedId >= batchId` (not equality): foreachBatch
 * re-delivers only the most recent uncommitted batch, so any stored id
 * at or above the incoming one proves this fold already committed.
 */
object RollupStream {

  /** Continuous fold of `rows` into the rollup store at `storeDir`.
    * First batch initializes the store if it does not exist. */
  def maintain(rows: DataFrame, storeDir: String, spec: Rollup.Spec,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = rows.sparkSession
    // lazy: the metadata file holding the query id exists only after
    // the stream starts — first foldBatch resolves it, then it's fixed
    lazy val token = appToken(spark, checkpoint)
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) foldBatch(spark, batch, batchId, storeDir, spec, token)
      }
      .start()
  }

  /** One NON-EMPTY micro-batch (factored out for re-delivery tests);
    * callers skip empty ones, so the fold pays no emptiness probe. */
  private[streaming] def foldBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, storeDir: String, spec: Rollup.Spec,
      token: String): Unit = {
    if (alreadyFolded(spark, storeDir, token, batchId)) return
    val tag = Some(s"$token-$batchId")
    if (Rollup.exists(spark, storeDir))
      Rollup.fold(spark, storeDir, batch, spec, tag)
    else Rollup.init(spark, storeDir, batch, spec, tag)
  }

  /** True iff ANY retained commit was stamped by THIS stream (same
    * token) at `batchId` or later — the re-delivered fold already
    * landed. All retained commits are scanned, not just the live one:
    * an interleaved writer (manual backfill fold, compaction)
    * committing between the crash and the restart moves the stream's
    * tag off the live commit, and a live-only check would then
    * double-count the re-delivered batch. The guard now survives as
    * long as the tagged commit stays inside the retention window —
    * keep `spark.graft.merge.retainCommits` above the number of
    * commits other writers can land during one restart gap (Delta's
    * txnAppId keeps versions forever; a retention-windowed manifest
    * trades that for bounded metadata, which is the right trade when
    * the interleaved-writer window is a restart, not an epoch). */
  private def alreadyFolded(spark: SparkSession, storeDir: String,
      token: String, batchId: Long): Boolean =
    Rollup.commitTags(spark, storeDir).exists { t =>
      t.lastIndexOf('-') match {
        case -1 => false
        case i =>
          t.substring(0, i) == token &&
            scala.util.Try(t.substring(i + 1).toLong)
              .toOption.exists(_ >= batchId)
      }
    }

  /** Stable per-stream token (hex md5 prefix — no whitespace, no '-',
    * safe in a commit header) from the checkpoint's identity: the
    * unique query id in `<checkpoint>/metadata`, so a wiped-and-reused
    * path mints a fresh token. Falls back to the location string when
    * no metadata exists (checkpoint never started). */
  private[streaming] def appToken(spark: SparkSession,
      checkpoint: String): String = {
    val md = new Path(checkpoint, "metadata")
    val fs = md.getFileSystem(spark.sessionState.newHadoopConf())
    val seed = (if (fs.exists(md)) {
      val in = fs.open(md)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
    } else None).getOrElse(checkpoint)
    MessageDigest.getInstance("MD5")
      .digest(seed.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }
}
