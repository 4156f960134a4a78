package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.functions.GraftFunctions

/**
 * File-level bloom index: the equality-predicate complement to
 * [[ZoneMap]]. Zone maps prune files by (min, max) range — which only
 * bites when the layout clusters the column (z-order, sort). A point
 * or IN lookup on a column the layout does NOT cluster sees every
 * file's range cover the probe value and prunes nothing; a per-file
 * bloom filter over the column's hashes still rules out every file
 * that provably lacks the key.
 *
 * Same catalog-level design as ZoneMap (and as parquet's own optional
 * column bloom filters, lifted from footer to stats table so pruning
 * needs no file opens): one stats row per file holding a compact
 * binary bloom per tracked column, built in one distributed pass
 * grouped by `_metadata.file_path`. Pruning evaluates the membership
 * probes INSIDE Spark over the stats table — the driver collects only
 * surviving file paths, never the blooms themselves, so the decision
 * scales to millions of files.
 *
 * Hash discipline: the bloom stores `xxhash64(col)` and Spark's
 * xxhash64 is TYPE-sensitive (an Int literal and a Long column hash
 * differently), so [[scanIn]]/[[prunedFiles]] read the data schema
 * (one footer) and cast every probe literal to the column's native
 * type before hashing. NULL never matches an equality probe, so the
 * residual `isin` keeps null rows out regardless of how null hashes
 * fold into the bloom.
 *
 * Correctness contract (q116 oracle + BloomIndexSpec): [[scanIn]] ≡
 * the plain `isin` filter — blooms over-approximate (false positives
 * re-filtered by the residual), never under-approximate, and a stale
 * index (data files it has never seen) refuses to scan rather than
 * silently dropping rows.
 */
object BloomIndex {

  /** One stats row per file: file, n_rows, bloom__c per tracked
    * column. `expectedItems` sizes each file's bloom — set it to the
    * expected rows per file (over-sizing only costs bytes; under-
    * sizing only costs false positives, never correctness). */
  private def statsFor(data: DataFrame, cols: Seq[String],
      expectedItems: Long): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: cols.map { c =>
      GraftFunctions.graftBloomAgg(xxhash64(col(c)), expectedItems)
        .as(s"bloom__$c")
    }
    data.select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
  }

  /** Build the bloom index for every parquet file under `dataDir`. */
  def build(spark: SparkSession, dataDir: String, statsDir: String,
      cols: Seq[String], expectedItems: Long = 1000000L): Unit = {
    require(cols.nonEmpty, "track at least one column")
    // pre-scan listing: see ZoneMap.build — files landed during the
    // scan must stay unknown, never be mis-marked empty
    val preScan = ZoneMap.dataFiles(spark, dataDir)
    statsFor(spark.read.parquet(dataDir), cols, expectedItems)
      .repartition(1) // one bloom row per file: a single stats file
      .write.mode("overwrite").parquet(statsDir)
    ZoneMap.reconcileEmptyFiles(spark, preScan, statsDir)
  }

  /** Extend the index to files the build has not seen (same idempotent
    * FS-listing-minus-known discipline as [[ZoneMap.append]]). */
  def append(spark: SparkSession, dataDir: String, statsDir: String,
      cols: Seq[String], expectedItems: Long = 1000000L): Unit = {
    val missing = ZoneMap.dataFiles(spark, dataDir).filterNot(
      ZoneMap.normalizedKnown(spark, statsDir))
    if (missing.nonEmpty) {
      ControlPlane.dropDeadJobOutput(spark, statsDir)
      statsFor(spark.read.option("basePath", dataDir)
        .parquet(missing: _*), cols, expectedItems)
        .repartition(1)
        .write.mode("append").parquet(statsDir)
      ZoneMap.reconcileEmptyFiles(spark, missing, statsDir)
    }
  }

  /** The column's native type from the data's own schema (one footer
    * read) — probe literals must hash as this type. */
  private def columnType(spark: SparkSession, dataDir: String,
      column: String): DataType =
    spark.read.parquet(dataDir).schema
      .find(_.name == column)
      .getOrElse(throw new IllegalArgumentException(
        s"column $column not in data at $dataDir"))
      .dataType

  /** Files whose bloom might contain ANY probe value — the list a
    * scan hands the reader. The probe hashes fold to one constant
    * array (xxhash64 over literals); [[graft.functions.expressions
    * .BloomProbeAny]] deserializes each row's bloom once and tests the
    * whole array (Spark's own `might_contain` demands a CONSTANT
    * bloom, so it cannot probe a bloom-per-row table). A null bloom
    * (zero-row file) yields null, dropped by the filter — an empty
    * file cannot match an equality. Bounded driver collect — one path
    * string per survivor; the blooms stay in executors. */
  def prunedFiles(spark: SparkSession, dataDir: String, statsDir: String,
      column: String, values: Seq[Any]): Seq[String] = {
    import spark.implicits._
    survivors(spark, statsDir, column, values,
        columnType(spark, dataDir, column))
      .as[String].collect().sorted.toSeq
  }

  /** `dt` threaded in so the hot scan path resolves the data schema
    * once, not once per helper. */
  private def survivors(spark: SparkSession, statsDir: String,
      column: String, values: Seq[Any], dt: DataType): DataFrame = {
    require(values.nonEmpty, "give at least one probe value")
    val hashes = array(values.map(v => xxhash64(lit(v).cast(dt))): _*)
    val keep = GraftFunctions.graftBloomProbeAny(col(s"bloom__$column"), hashes)
    spark.read.parquet(statsDir).filter(keep).select("file")
  }

  /** Equality/IN scan through the bloom index: prune the file list,
    * read only survivors, re-apply the exact `isin` (bloom false
    * positives). Fails loudly on a stale index — skipping must never
    * silently drop rows. */
  def scanIn(spark: SparkSession, dataDir: String, statsDir: String,
      column: String, values: Seq[Any]): DataFrame = {
    ZoneMap.requireFresh(spark, dataDir, statsDir, "bloom index")
    val dt = columnType(spark, dataDir, column)
    val residual =
      values.map(v => col(column) === lit(v).cast(dt)).reduce(_ || _)
    val cap = ZoneMap.maxFiles(spark)
    ZoneMap.cappedFiles(spark,
        survivors(spark, statsDir, column, values, dt), cap) match {
      case None =>
        ZoneMap.warnFallback(statsDir, cap)
        spark.read.parquet(dataDir).filter(residual)
      case Some(files) if files.isEmpty =>
        spark.read.parquet(dataDir).filter(lit(false)) // schema-only
      case Some(files) =>
        spark.read.option("basePath", dataDir)
          .parquet(files: _*).filter(residual)
    }
  }
}
