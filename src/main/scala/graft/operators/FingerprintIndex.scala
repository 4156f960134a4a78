package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/**
 * Standing fingerprint index for incremental (daily-crawl) corpus
 * ingest — the production form of q91's admission check. q91 models the
 * semantics but recomputes history fingerprints from raw TEXT every
 * run; at 100 TB the history side must be a materialized INDEX: the
 * narrow (fp) column persisted once at corpus-build time, so a daily
 * batch pays one scan of ITSELF plus one scan of an 8-byte-per-doc
 * parquet — not a re-read of 100 TB of text. (Reference analog: the
 * split tables' catalog is built once by the crawler and then only
 * queried — `/root/reference/README.md:314`; the index here plays the
 * same build-once role for admission.)
 *
 * Scale shape: [[build]] is one text scan → distinct on the fp key →
 * narrow write (distinct because presence is the admission question —
 * which historical doc owns the fp stays in the corpus table).
 * [[admit]] is one batch scan, one index scan, a join + window both on
 * the fp key — the batch shuffles once, the index side is
 * broadcast-able whenever a day's distinct-fp count fits (it usually
 * does not — the INDEX is table-sized — so the planner's shuffle join
 * on fp is the expected 100 TB plan; either way history text is never
 * touched). Daily maintenance: append the admitted batch's new
 * distinct fps ([[append]]) — no rebuild.
 */
object FingerprintIndex {

  /** (idCol, fp): the q19/q91 portable n-gram min-hash fingerprint,
    * computed in ONE projection over one scan of the text. */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3): DataFrame =
    docs.select(col(idCol), col(textCol), T.tokens(col(textCol)).as("__ts"))
      .select(col(idCol),
        T.fingerprintPortableFromTokens(col("__ts"), col(textCol), ngram).as("fp"))

  /** Build/refresh the standing index: corpus text → distinct narrow
    * (fp) parquet at `indexDir`. Run once per corpus build, not per
    * batch. */
  def build(docs: DataFrame, indexDir: String, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3): Unit =
    fingerprints(docs, idCol, textCol, ngram)
      .select("fp").distinct()
      .write.mode("overwrite").parquet(indexDir)

  /** Fold a day's admitted batch into the index: append its fps that
    * are not already present (one anti join on the narrow key). The
    * delta is STAGED (persist + count) before the append, because its
    * lineage reads the index dir the write targets — a task retried
    * mid-write must not recompute against half-written files (the
    * same discipline as [[ContaminationIndex.append]]); an empty
    * delta (a fully-duplicate re-delivered day) skips the write
    * instead of accreting empty part-files per run. */
  def append(spark: SparkSession, admitted: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      ngram: Int = 3): Unit =
    stagedDelta(fingerprints(admitted, idCol, textCol, ngram)
      .select("fp").distinct()
      .join(spark.read.parquet(indexDir), Seq("fp"), "left_anti")) { d =>
      ControlPlane.dropDeadJobOutput(spark, indexDir)
      d.write.mode("append").parquet(indexDir)
    }

  /** Persist the read-own-target delta, run `write` only when it is
    * non-empty, release. */
  private def stagedDelta(delta: DataFrame)(
      write: DataFrame => Unit): Unit = {
    val d = delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try { if (d.count() > 0) write(d) } finally { d.unpersist(); () }
  }

  /** Admission check of a new batch against the standing index: each
    * batch row flagged `dup_of_history` (fp already indexed) and
    * `dup_in_batch` (not the first batch doc carrying its fp). The plan
    * reads the batch text ONCE and the narrow index ONCE — no history
    * text rescan (plan-asserted in PlanShapeSpec). */
  def admit(spark: SparkSession, batch: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      ngram: Int = 3): DataFrame =
    admitAgainst(batch, spark.read.parquet(indexDir), idCol, textCol, ngram)

  /** [[build]] into a BUCKETED metastore table (bucketBy fp): the SCALING
    * form — the daily admission join then shuffles ONLY the day-sized
    * batch side into the index's bucket layout; the table-sized index
    * never re-shuffles (one exchange in the whole admit plan,
    * spec-asserted). Bucket count ≈ index size / target partition. */
  def buildBucketed(docs: DataFrame, indexTable: String, buckets: Int,
      idCol: String = "doc_id", textCol: String = "text",
      ngram: Int = 3): Unit =
    Bucketing.writeBucketed(
      fingerprints(docs, idCol, textCol, ngram).select("fp").distinct(),
      indexTable, "fp", buckets)

  /** [[admit]] against a [[buildBucketed]] index table. */
  def admitBucketed(spark: SparkSession, batch: DataFrame,
      indexTable: String, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3): DataFrame =
    admitAgainst(batch, spark.table(indexTable), idCol, textCol, ngram)

  /** [[append]] for the bucketed index: fold a day's admitted fps in
    * with the same anti join, written in the table's bucket layout
    * (append-mode saveAsTable with a matching bucket spec) — daily
    * maintenance never rebuilds, same as the directory form. Each
    * append adds one file per touched bucket; compact on the usual
    * small-file cadence. */
  def appendBucketed(spark: SparkSession, admitted: DataFrame,
      indexTable: String, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3): Unit = {
    // the bucket count comes from the TABLE's own spec, never a caller
    // argument that could drift from it (same rule as
    // Bucketing.compactTable) — a mismatched bucketBy append would
    // corrupt the layout the exchange-free admit plan depends on
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(indexTable))
    val buckets = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$indexTable is not bucketed")).numBuckets
    stagedDelta(fingerprints(admitted, idCol, textCol, ngram)
      .select("fp").distinct()
      .join(spark.table(indexTable), Seq("fp"), "left_anti")) { d =>
      ControlPlane.dropDeadJobOutputOf(spark, indexTable)
      d.write.mode("append").format("parquet")
        .bucketBy(buckets, "fp").sortBy("fp")
        .saveAsTable(indexTable)
    }
  }

  private def admitAgainst(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String, ngram: Int): DataFrame = {
    val bfp = fingerprints(batch, idCol, textCol, ngram)
    val idx = index.select(col("fp"), lit(true).as("__hit"))
    val w = Window.partitionBy("fp")
    bfp.join(idx, Seq("fp"), "left")
      .withColumn("__first", min(col(idCol)).over(w))
      .select(col(idCol), col("fp"),
        coalesce(col("__hit"), lit(false)).as("dup_of_history"),
        (col(idCol) =!= col("__first")).as("dup_in_batch"))
  }
}
