package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Bucketed id→list LOCATION INDEX for the materialized IVF stores —
 * the mutation-path scale lever: `deleteFromIvfStore` /
 * `reclaimTombstones` / the fused upsert prep all start by locating a
 * batch's (item_id, list_id) rows, and without an index that location
 * is a narrow O(corpus-rows) scan of the encoded table per mutation
 * per shard — the measured fixed-cost floor of every CDC micro-batch
 * (SCALING.md r13). With the index, location reads O(batch) bucket
 * partitions plus the touched lists: the [[FingerprintIndex]]
 * admission discipline (pay the layout once, prune every later read)
 * applied to the store's own maintenance path.
 *
 * Layout: `<storeDir>/loc/bucket=<b>/…parquet` holding (item_id,
 * list_id), partitioned by `bucket = pmod(xxhash64(item_id), B)` —
 * xxhash64 is a pure function of the VALUE, so writers and readers
 * agree on an id's bucket with no shared shuffle state. `B` is
 * recorded in `<storeDir>/loc/_meta` (underscore dir — invisible to
 * the partitioned read), so lookups never guess.
 *
 * THE INDEX IS AN OPTIMIZATION; THE ENCODED TABLE STAYS THE TRUTH.
 * Correctness rests on one invariant — the index is a strict SUPERSET
 * of the encoded table's live (item_id, list_id) pairs:
 *
 *  - entries land BEFORE their encoded rows ([[append]] is called
 *    ahead of the encoded write), so a crash between the two leaves a
 *    stale entry, never a missing one;
 *  - row REMOVALS (reclaim, compaction, tombstone-driven rewrites)
 *    never touch the index — a reclaimed id's old entry goes stale
 *    and costs one extra pruned list read until [[rebuild]] sheds it;
 *  - whole-store rewrites that could orphan the superset (a fresh
 *    [[Similarity.buildIvfStore]] into an existing dir) [[drop]] the
 *    index FIRST — an absent index falls back to the full narrow
 *    scan, which is always correct.
 *
 * A lookup therefore returns CANDIDATE lists (possibly stale, possibly
 * duplicated); the caller re-verifies against the encoded table pruned
 * to those lists. Missing index = legacy store = full-scan fallback;
 * the next [[Similarity.compactIvfStore]] rebuilds and migrates it.
 * Single-writer, like every store mutation.
 */
private[graft] object AnnLocIndex {

  private def locPath(storeDir: String): String = storeDir + "/loc"
  private def metaPath(storeDir: String): String = storeDir + "/loc/_meta"
  private def stagePath(storeDir: String): String = storeDir + "/loc__stage"

  /** Default bucket count (`spark.graft.annLocBuckets`). At 10⁸ items
    * and 64 buckets a lookup reads ~1.5M narrow rows per touched
    * bucket — size it ∝ corpus / target-partition like any bucketed
    * layout. */
  private def defaultBuckets(spark: SparkSession): Int =
    spark.conf.get("spark.graft.annLocBuckets", "64").toInt

  /** Bucket of an id — hashed through ONE canonical physical type:
    * xxhash64 hashes equal VALUES of different datatypes differently
    * (IntegerType 5 and LongType 5 land in different buckets), so a
    * caller-supplied ids frame whose type differs from the stored
    * item_id would read the wrong bucket partitions and silently
    * return empty candidates — the mutation would then file nothing.
    * Casting BOTH writer and reader to long makes the bucket a pure
    * function of the value for every integral id type; non-integral
    * ids that cast to null all share one bucket (degenerate but still
    * correct — writers and readers agree, and the caller's verify
    * join matches on the real values). */
  private def bucketOf(id: org.apache.spark.sql.Column, b: Int) =
    pmod(xxhash64(id.cast("long")), lit(b.toLong)).cast("int")

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Any committed data file under `dir` (markers like _SUCCESS and
    * hidden files don't count)? Drives the empty-table guard in
    * [[rebuild]]. The recursive walk must test EVERY path component
    * below `dir`, not just the leaf name: a crashed write leaves
    * debris like `_temporary/0/task.../part-*.parquet`, whose leaf
    * looks committed — counting it would send a genuinely empty store
    * past the guard into the "unable to infer schema" failure the
    * guard exists to prevent (ADVICE r15). Also the rebalance resumes'
    * test for a whole one-file record. */
  private[operators] def hasDataFiles(f: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean = {
    if (!f.exists(dir)) return false
    def committed(p: org.apache.hadoop.fs.Path): Boolean = {
      var cur = p
      while (cur != null && cur.toUri.getPath != dir.toUri.getPath) {
        val n = cur.getName
        if (n.startsWith("_") || n.startsWith(".")) return false
        cur = cur.getParent
      }
      true
    }
    val it = f.listFiles(dir, true)
    while (it.hasNext) {
      if (committed(it.next().getPath)) return true
    }
    false
  }

  /** The `_meta` content for the CURRENT hash scheme: version + scheme
    * name + bucket count. The scheme is part of the marker because the
    * bucket function changed once already (r15 cast every integral id
    * through long before xxhash64) and an index file carrying only a
    * count would be read with the NEW hash after such a change —
    * pruning to the wrong buckets with no error, the exact
    * silent-empty-candidates failure the cast fixed (ADVICE r15). An
    * unrecognized or legacy marker reads as "no index" = full-scan
    * fallback until the next [[rebuild]] migrates it. */
  private val MetaScheme = "v2:xxh64-long:"

  /** The index's bucket count, or None when the store has no USABLE
    * index (legacy dir, an index written under an older hash scheme,
    * or a rebuild window — all read as "fall back to the full scan";
    * [[ensure]] rebuilds a schemeless index at the next mutation). A
    * raw one-line file, not parquet: this runs once per mutation per
    * shard, and a driver-side open beats a schema-inferring read; the
    * underscore name keeps it invisible to the partitioned read of
    * `loc/` itself. */
  def buckets(spark: SparkSession, storeDir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(metaPath(storeDir))
    val f = fs(spark, storeDir)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      if (txt.startsWith(MetaScheme))
        scala.util.Try(txt.stripPrefix(MetaScheme).toInt).toOption
      else None
    }
  }

  /** Register a batch's locations — call BEFORE the encoded write that
    * lands the same rows (the superset invariant's ordering leg): a
    * death between the two leaves stale entries, which lookups absorb;
    * the reverse order would leave MISSING entries, which they cannot.
    * No-op on stores without an index (appending only the batch would
    * turn the absent index into a non-superset one). `rows` carries
    * (item_id, list_id); batch-sized. */
  def append(spark: SparkSession, rows: DataFrame,
      storeDir: String): Unit =
    buckets(spark, storeDir).foreach { b =>
      ControlPlane.dropDeadJobOutput(spark, locPath(storeDir))
      rows.select(col("item_id"), col("list_id"),
          bucketOf(col("item_id"), b).as("bucket"))
        .write.mode("append").partitionBy("bucket")
        .parquet(locPath(storeDir))
    }

  /** Rebuild the index from the encoded table — build-time creation,
    * compaction-time refresh (shedding stale entries and append
    * debris), and the legacy-store migration path. Staged: the fresh
    * index lands complete in `loc__stage`, the old dir is removed,
    * one rename swaps the stage in. Every crash window reads safely —
    * a partial stage is invisible (lookups read `loc`, intact), and
    * between the delete and the rename the index is simply ABSENT =
    * full-scan fallback; debris is reclaimed by the next rebuild's
    * preamble. */
  def rebuild(spark: SparkSession, storeDir: String,
      nBuckets: Int = 0): Unit = {
    val b = if (nBuckets > 0) nBuckets else defaultBuckets(spark)
    val f = fs(spark, storeDir)
    // a compaction can reclaim EVERY row (all list_id dirs deleted,
    // only _SUCCESS left) — reading that throws "unable to infer
    // schema" AFTER the caller already cleared its tombstone log, so
    // a fully-reclaimed store would fail its compaction here. An
    // empty table has nothing to index: drop instead (absent index =
    // full-scan fallback, always correct; the next non-empty rebuild
    // re-creates it).
    if (!hasDataFiles(f,
        new org.apache.hadoop.fs.Path(storeDir + "/encoded"))) {
      drop(spark, storeDir)
      return
    }
    val stage = new org.apache.hadoop.fs.Path(stagePath(storeDir))
    f.delete(stage, true) // debris of a crashed rebuild
    spark.read.parquet(storeDir + "/encoded")
      .select(col("item_id"), col("list_id"),
        bucketOf(col("item_id"), b).as("bucket"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(stage.toString)
    val metaOut = f.create(new org.apache.hadoop.fs.Path(
      stage, "_meta"), true)
    try metaOut.write((MetaScheme + b.toString)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally metaOut.close()
    f.delete(new org.apache.hadoop.fs.Path(locPath(storeDir)), true)
    require(f.rename(stage, new org.apache.hadoop.fs.Path(locPath(storeDir))),
      s"AnnLocIndex: could not swap $stage into place for $storeDir — " +
        "the store reads fine without it (full-scan fallback); rename " +
        "by hand or re-run compactIvfStore")
  }

  /** Build the index iff absent — LAZY creation at the first mutation
    * (r14 second pass): building eagerly inside `buildIvfStore` taxed
    * every store-construction query with a corpus shuffle whether or
    * not the store would ever mutate (+60 s across the sf1 suite's
    * construction-priced queries). The first mutation pays one
    * corpus-narrow pass ≈ the full-scan fallback it replaces, and
    * every later mutation answers from the bucket files — the
    * production pattern (one build, a long CDC tail) pays once.
    * Searches never call this. */
  def ensure(spark: SparkSession, storeDir: String): Unit =
    if (buckets(spark, storeDir).isEmpty) rebuild(spark, storeDir)

  /** Remove the index — the guard ahead of any whole-store rewrite
    * that would orphan the superset (a rebuild into an existing dir).
    * Absent index = full-scan fallback, always correct. */
  def drop(spark: SparkSession, storeDir: String): Unit = {
    val f = fs(spark, storeDir)
    f.delete(new org.apache.hadoop.fs.Path(stagePath(storeDir)), true)
    f.delete(new org.apache.hadoop.fs.Path(locPath(storeDir)), true)
  }

  /** CANDIDATE lists for a batch of ids: every list the index names
    * for them — a superset of the true locations (stale entries from
    * reclaimed rows included), which the caller re-verifies against
    * the encoded table pruned to exactly these lists. None = no index,
    * fall back to the full scan; Some(empty) = the index PROVES none
    * of the ids is stored (the cold-shard fast path: a shard holding
    * none of a CDC batch answers from its bucket files alone).
    * `want` is a one-column (item_id) batch-sized frame. Cost: one
    * batch-side bucket computation + a read of only the batch's
    * bucket partitions. */
  def candidateLists(spark: SparkSession, storeDir: String,
      want: DataFrame): Option[Set[Int]] =
    buckets(spark, storeDir).map { b =>
      val wantBuckets = want
        .select(bucketOf(col(want.columns.head), b).as("bucket"))
        .distinct().collect().map(_.getInt(0)) // bounded by min(B, batch)
      val f = fs(spark, storeDir)
      val dirs = wantBuckets
        .map(i => new org.apache.hadoop.fs.Path(
          locPath(storeDir) + s"/bucket=$i"))
        .filter(f.exists(_)).map(_.toString)
      if (dirs.isEmpty) Set.empty[Int]
      else spark.read.parquet(dirs: _*)
        .join(broadcast(
          want.select(col(want.columns.head).as("item_id"))),
          Seq("item_id"), "left_semi")
        .select("list_id").distinct()
        .collect().map(_.getInt(0)).toSet // bounded by batch × entries
    }
}
