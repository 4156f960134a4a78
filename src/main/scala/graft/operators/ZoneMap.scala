package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * File-level zone maps: a persisted per-file (min, max, null-count)
 * stats table that lets a range scan hand the reader ONLY the files
 * whose value range intersects the predicate — the data-skipping half
 * of the [[Layout]] story (z-order clusters values so file ranges are
 * narrow; zone maps turn those narrow ranges into skipped IO).
 *
 * Why this matters at 100 TB: Spark's parquet reader already prunes
 * row groups from footer min/max, but it must LIST every file and
 * OPEN every footer to do it — at a million files the metadata pass
 * dominates a selective query. A zone-map table is the catalog-level
 * fix (the same design as Delta/Iceberg per-file stats in the
 * transaction log): one narrow stats row per file, scanned in
 * milliseconds, and the reader receives the matching file list
 * up front. The driver-side collect in [[prunedFiles]] is bounded by
 * the SURVIVING file count — exactly the file index every table
 * format materializes on the driver during planning.
 *
 * Build cost: one distributed scan of the data grouped by
 * `_metadata.file_path` (no driver-side footer loop); [[append]] reads
 * only files the stats table has not seen (FS listing finds them —
 * metadata-only, no data IO), so daily maintenance costs one
 * batch-sized scan. Min/max keep the column's native type; a file
 * whose tracked column is entirely NULL stores null min/max and is
 * skipped by range scans — correct, because a range predicate never
 * matches NULL.
 *
 * Correctness contract (q115 oracle + ZoneMapSpec): a [[scanRange]]
 * result is indistinguishable from the unskipped filter — skipping is
 * an IO optimization, never a semantics change. The residual
 * predicate is re-applied after pruning, so stats staleness in the
 * UNSAFE direction (a file added without stats) is the only hazard;
 * [[scanRange]] guards it by refusing to scan when the data dir holds
 * files the stats table does not know.
 */
object ZoneMap {

  /** The largest surviving-file list a skip-scan will collect to the
    * driver. File indexes plan on the driver by design (Delta/Iceberg
    * do the same), but at ~10⁶ files a poorly-selective predicate
    * could make the "bounded" collect a driver hazard — above the cap
    * the scan logs and degrades to the un-skipped read, which is
    * always correct (skipping is only an IO optimization). */
  private[operators] val MaxFilesKey = "spark.graft.fileIndex.maxFiles"

  private[operators] def maxFiles(spark: SparkSession): Int =
    spark.conf.get(MaxFilesKey, "100000").toInt

  /** Collect at most cap+1 survivors (the +1 proves overflow without
    * materializing the tail): None ⇒ the list exceeds the cap and the
    * caller must fall back to the un-skipped scan. */
  private[operators] def cappedFiles(spark: SparkSession,
      survivors: DataFrame, cap: Int): Option[Seq[String]] = {
    import spark.implicits._
    // long-then-clamp: cap = Int.MaxValue ("effectively unlimited")
    // must not wrap limit() negative
    val lim = math.min(cap.toLong + 1L, Int.MaxValue.toLong).toInt
    val hit = survivors.limit(lim).as[String].collect()
    if (hit.length > cap) None else Some(hit.sorted.toSeq)
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[operators] def warnFallback(statsDir: String, cap: Int): Unit =
    log.warn(s"file index at $statsDir: surviving file list exceeds " +
      s"$MaxFilesKey=$cap; falling back to the un-skipped scan")

  /** One stats row per file: file, n_rows, then min__c / max__c /
    * nulls__c per tracked column. One distributed pass; the group-by
    * key is the file path, so partial aggregation collapses each
    * file's rows map-side and the exchange carries ~one row per file. */
  private def statsFor(data: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(min(col(c)).as(s"min__$c"), max(col(c)).as(s"max__$c"),
        sum(col(c).isNull.cast("long")).as(s"nulls__$c"))
    }
    data.select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
  }

  /** Build the stats table for every parquet file under `dataDir`. */
  def build(spark: SparkSession, dataDir: String, statsDir: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "track at least one column")
    // listed BEFORE the scan job: only files that existed when the
    // scan started may be reconciled as "empty" afterwards — a file a
    // concurrent writer lands DURING the (possibly long) scan must
    // stay unknown, so the staleness guard catches it and append()
    // indexes it, instead of being permanently mis-marked empty
    val preScan = dataFiles(spark, dataDir)
    statsFor(spark.read.parquet(dataDir), cols)
      .repartition(1) // ~one narrow row per file: a single stats file
      .write.mode("overwrite").parquet(statsDir)
    reconcileEmptyFiles(spark, preScan, statsDir)
  }

  /** Cover scan-candidate files the stats scan never saw because they
    * hold ZERO rows (hash and dynamic-partition writes can emit empty
    * files; a groupBy over the data produces no row for them).
    * `candidates` is the PRE-SCAN listing of exactly the files the
    * just-finished scan covered — never a fresh listing, which would
    * sweep up files landed concurrently during the scan and mark them
    * (non-empty!) as empty, silently pruning their rows forever.
    * Appends schema-matched rows with n_rows = 0 and null stats —
    * null min/max/bloom prunes the file under ANY predicate, which is
    * correct: an empty file has no rows to lose. Without this, the
    * staleness guard would refuse to scan forever. Shared with
    * [[BloomIndex]]. */
  private[operators] def reconcileEmptyFiles(spark: SparkSession,
      candidates: Seq[String], statsDir: String): Unit = {
    val missing = candidates.filterNot(
      normalizedKnown(spark, statsDir))
    if (missing.nonEmpty) {
      val schema = spark.read.parquet(statsDir).schema
      val rows = missing.map { f =>
        Row.fromSeq(schema.map { s =>
          if (s.name == "file") f
          else if (s.name == "n_rows") 0L
          else null
        })
      }
      ControlPlane.dropDeadJobOutput(spark, statsDir)
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("append").parquet(statsDir)
    }
  }

  /** Parquet data files currently under `dataDir` (FS metadata listing
    * only — no file is opened). Shared with [[BloomIndex]]. */
  private[operators] def dataFiles(spark: SparkSession, dataDir: String): Seq[String] = {
    val path = new Path(dataDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".") &&
        name.endsWith(".parquet")) out += f.getPath.toUri.toString
    }
    out.result()
  }

  private def knownFiles(spark: SparkSession, statsDir: String): Set[String] = {
    import spark.implicits._
    spark.read.parquet(statsDir).select("file").as[String].collect().toSet
  }

  /** Extend the stats table to files the build has not seen: FS
    * listing minus the stats table's file set, then one scan of ONLY
    * those files. Idempotent — a re-run after a crash between data
    * write and stats append finds the same missing set. */
  def append(spark: SparkSession, dataDir: String, statsDir: String,
      cols: Seq[String]): Unit = {
    val missing = dataFiles(spark, dataDir).filterNot(
      normalizedKnown(spark, statsDir))
    if (missing.nonEmpty) {
      ControlPlane.dropDeadJobOutput(spark, statsDir)
      statsFor(spark.read.option("basePath", dataDir)
        .parquet(missing: _*), cols)
        .repartition(1)
        .write.mode("append").parquet(statsDir)
      // reconcile only the files THIS append scanned (still unknown
      // after the scan ⇒ genuinely zero-row), never a fresh listing
      reconcileEmptyFiles(spark, missing, statsDir)
    }
  }

  /** Known-file membership test that tolerates scheme differences
    * (`_metadata.file_path` reports `file:///x`; FS listing may say
    * the same or bare `/x` depending on the default FS). Shared with
    * [[BloomIndex]]. */
  private[operators] def normalizedKnown(spark: SparkSession,
      statsDir: String): String => Boolean = {
    val known = knownFiles(spark, statsDir).map(stripScheme)
    p => known.contains(stripScheme(p))
  }

  private def stripScheme(p: String): String = new Path(p).toUri.getPath

  /** URI scheme+authority prefix (matches both `file:/x` and
    * `hdfs://nn:8020/x` forms) — the SQL twin of [[stripScheme]], so
    * path comparison can run inside Spark instead of on the driver. */
  private[operators] val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//[^/]*)?"

  /** Both-direction staleness gate for a skip-scan, DISTRIBUTED
    * (anti-joins + limit-1 existence probes): unlike the survivor
    * collect this check is uncappable — it guards correctness, not IO
    * — so it must never collect the full indexed-file list to the
    * driver (at ~10⁶ files that collect was the exact hazard
    * [[MaxFilesKey]] bounds elsewhere). The FS listing itself stays
    * driver-side (metadata-only, the unavoidable part every file
    * index pays).
    *
    *  - unsafe direction: data files the stats never saw — their rows
    *    would silently vanish from every skip-scan; run append().
    *  - wedged direction: stats rows whose data file no longer exists
    *    (the dir was rewritten — a compaction, a manual delete) —
    *    every matching scan would die path-not-found mid-read, and
    *    append() cannot heal it; fail up front naming the fix. */
  private[operators] def requireFresh(spark: SparkSession, dataDir: String,
      statsDir: String, what: String): Unit = {
    import spark.implicits._
    def norm(df: DataFrame) =
      df.select(regexp_replace(col("file"), SchemeRe, "").as("__n"))
    val listing = norm(dataFiles(spark, dataDir).toDF("file"))
    val known = norm(spark.read.parquet(statsDir).select("file"))
    // BOTH directions in ONE driver action (r17; guide §1.2): a full
    // outer join tags each path by which side is missing it, and one
    // aggregate returns an example from each — the two anti-join
    // limit-1 probes were two scheduler jobs per skip-scan of pure
    // fixed floor. Still fully distributed (never collects the file
    // list), and min() keeps the reported example deterministic.
    val st = listing.withColumn("_d", lit(1))
      .join(known.withColumn("_s", lit(1)), Seq("__n"), "full_outer")
      .agg(min(when(col("_s").isNull, col("__n"))).as("unknown"),
        min(when(col("_d").isNull, col("__n"))).as("dead"))
      .head()
    require(st.isNullAt(0),
      s"$what at $statsDir is stale: unindexed data file " +
        s"${st.getString(0)}; run append()")
    require(st.isNullAt(1),
      s"$what at $statsDir references a deleted data file " +
        s"${st.getString(1)} — the data dir was " +
        "rewritten (compaction? manual delete?); rebuild with build()")
  }

  /** Closed-interval range predicate on a tracked column. `lo`/`hi`
    * are literal values (numeric, string, date — anything ordered). */
  final case class Range(column: String, lo: Any, hi: Any)

  /** The file subset whose [min, max] intersects EVERY range — the
    * list a scan hands the reader. All-null files (null min/max) drop
    * out via three-valued logic, which is correct: no NULL matches a
    * range. Bounded driver collect — one path string per survivor. */
  def prunedFiles(spark: SparkSession, statsDir: String,
      ranges: Seq[Range]): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(statsDir).filter(keepPredicate(ranges))
      .select("file").as[String].collect().sorted.toSeq
  }

  private def keepPredicate(ranges: Seq[Range]): Column = {
    require(ranges.nonEmpty, "give at least one range")
    ranges.map { r =>
      col(s"max__${r.column}") >= lit(r.lo) &&
        col(s"min__${r.column}") <= lit(r.hi)
    }.reduce(_ && _)
  }

  /** [[prunedFiles]] under the [[MaxFilesKey]] cap: None ⇒ too many
    * survivors, degrade to the un-skipped scan. */
  private[operators] def prunedFilesCapped(spark: SparkSession,
      statsDir: String, ranges: Seq[Range]): Option[Seq[String]] =
    cappedFiles(spark,
      spark.read.parquet(statsDir).filter(keepPredicate(ranges))
        .select("file"),
      maxFiles(spark))

  /** Range scan through the zone map: prune the file list from stats,
    * read only survivors, re-apply the exact predicate (zone ranges
    * over-approximate). Fails loudly if the stats table is stale in
    * the unsafe direction (data files it has never seen) — skipping
    * must never silently drop rows. */
  def scanRange(spark: SparkSession, dataDir: String, statsDir: String,
      ranges: Seq[Range]): DataFrame = {
    requireFresh(spark, dataDir, statsDir, "zone map")
    val residual = ranges.map(r =>
      col(r.column).between(lit(r.lo), lit(r.hi))).reduce(_ && _)
    prunedFilesCapped(spark, statsDir, ranges) match {
      case None =>
        warnFallback(statsDir, maxFiles(spark))
        spark.read.parquet(dataDir).filter(residual)
      case Some(files) if files.isEmpty =>
        spark.read.parquet(dataDir).filter(lit(false)) // schema-only
      case Some(files) =>
        spark.read.option("basePath", dataDir)
          .parquet(files: _*).filter(residual)
    }
  }
}
