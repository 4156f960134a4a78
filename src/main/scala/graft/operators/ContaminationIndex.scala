package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/**
 * Materialized decontamination index: the benchmark/eval-set n-gram
 * shingles persisted ONCE as a narrow distinct table, so every
 * training-batch contamination check shingles only the batch — the
 * eval text is never re-tokenized, the corpus is never re-scanned.
 *
 * Why this is the 100 TB shape (the [[FingerprintIndex]] discipline
 * applied to decontamination): the ad-hoc form (q76) re-derives the
 * bench shingle set from raw text inside every run, which at scale
 * means re-reading the eval corpora on every daily admission batch.
 * Benchmark suites are small and nearly static — tens of MBs of text,
 * millions of shingles, single-digit GBs at the extreme — while the
 * batch side is the 100 TB corpus. Materializing the shingle set turns
 * the check into: one batch-sized scan + shingle, one BROADCAST of the
 * narrow index, one hash semi-probe per (doc, shingle) — zero
 * shuffles of batch data beyond the final per-doc count, and no IO at
 * all against the eval sources.
 *
 * The index is exact (no hashing): shingles are stored as the literal
 * n-gram strings, so a hit is a true n-gram overlap — the check's
 * semantics are those of q76 verbatim, and the DuckDB oracle replays
 * them end to end. Near-dup-style contamination (paraphrase) belongs to
 * the MinHash family ([[Dedup.SigStore.pairs]]), not here.
 *
 * [[append]] folds NEW eval sets in with an anti-join — only unseen
 * shingles are written, so the index never holds duplicates and
 * re-appending the same eval set is a no-op (idempotent under
 * re-delivery, the property every standing store here shares).
 */
object ContaminationIndex {

  /** Build the index at `indexDir` from an eval/bench corpus: distinct
    * `n`-gram shingles of `textCol`, one narrow string column `g`. */
  def build(spark: SparkSession, indexDir: String, bench: DataFrame,
      textCol: String, n: Int = 5): Unit =
    shingleSet(bench, textCol, n)
      .write.mode("overwrite").parquet(indexDir)

  /** Fold another eval set in: write only shingles the index has not
    * seen (left-anti against the standing index — the index side is
    * the small one, so this broadcasts). Idempotent. */
  def append(spark: SparkSession, indexDir: String, bench: DataFrame,
      textCol: String, n: Int = 5): Unit = {
    val fresh = shingleSet(bench, textCol, n)
      .join(broadcast(spark.read.parquet(indexDir)), Seq("g"), "left_anti")
    // stage then append: the source of the append reads the index dir,
    // so materialize the delta first
    val staged = fresh.persist()
    try if (staged.count() > 0) {
      ControlPlane.dropDeadJobOutput(spark, indexDir)
      staged.write.mode("append").parquet(indexDir)
    }
    finally staged.unpersist()
  }

  /** Contamination check of a training batch against the standing
    * index: per doc, the shingle count, the count hitting the index,
    * and the hit ratio — the q76 report computed WITHOUT touching the
    * eval sources. The index is broadcast (narrow + small by
    * construction); the only shuffle is the per-doc hit count, keyed
    * by the batch's own id. */
  def check(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, indexDir: String, n: Int = 5): DataFrame = {
    val idx = spark.read.parquet(indexDir)
    val docs = Caches.releaseAfterUse(batch
      .select(col(idCol), T.tokens(col(textCol)).as("ts"))
      .select(col(idCol),
        array_distinct(T.shinglesFromTokens(col("ts"), n)).as("sh")))
    val ex = docs.select(col(idCol), explode(col("sh")).as("g"))
    val hits = ex.join(broadcast(idx), Seq("g"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
    docs.select(col(idCol), size(col("sh")).cast("long").as("n_sh"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_sh") === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_hit"), lit(0L))
            / col("n_sh").cast("double"), 4)).as("contamination"))
  }

  /** Shingle count of the standing index (bounded: one narrow scan). */
  def indexSize(spark: SparkSession, indexDir: String): Long =
    spark.read.parquet(indexDir).count()

  private def shingleSet(bench: DataFrame, textCol: String,
      n: Int): DataFrame =
    bench.select(T.tokens(col(textCol)).as("ts"))
      .select(explode(array_distinct(
        T.shinglesFromTokens(col("ts"), n))).as("g"))
      .distinct()
}
