package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.PlanBridge

/**
 * Bucketed (pre-shuffled) tables — the co-located-join layout for
 * joins that repeat at 100 TB. A fact table that joins on the same key
 * every day should not shuffle every day: `writeBucketed` pays the
 * hash-partition ONCE at write time (`bucketBy` + `sortBy` into the
 * metastore — the layout travels in the catalog entry, like the
 * reference's crawler-registered tables carry their partitioning), and
 * every later join/aggregation on that key plans with ZERO exchanges —
 * Spark trusts the on-disk `HashPartitioning(key, n)` and, with
 * `sortBy`, skips the sort-merge sort too (plan-asserted in
 * BucketingSpec).
 *
 * Rules the spec pins down (the ones that silently re-shuffle when
 * violated):
 *  - both sides bucketed on the JOIN key with the SAME bucket count
 *    (`spark.sql.sources.bucketing.enabled` on by default;
 *    mismatched counts re-shuffle the smaller side unless
 *    `bucketing.coalesceBucketsInJoin` applies);
 *  - the aggregation/groupBy key must be a superset-prefix of the
 *    bucket key for exchange-free aggregation;
 *  - bucket pruning: an equality filter on the bucket key scans 1/n
 *    of the files.
 *
 * Sizing at 100 TB: buckets ≈ table-size / target-partition-size
 * (128–512 MB post-compression); too few buckets → giant tasks, too
 * many → small files. Buckets also bound the q102 fingerprint-index
 * join and the IVF-PQ list layout (SCALING.md round-4 notes).
 */
object Bucketing {

  /** Refuse to MUTATE under `spark.sql.files.ignoreMissingFiles=true`
    * — the documented reader hazard on the reclaim's delete window
    * turned from a footnote into a named error (r15 verdict item):
    * under that conf the mutation's OWN table reads (the located
    * affected files, the survivor heal, the compaction source) would
    * silently drop any concurrently-missing file's rows and rewrite
    * the store from the truncated view — data loss with no failure
    * anywhere. Catalog-table reads cannot pin the conf per-read the
    * way [[TombstoneLog]]'s path reads do, so the mutation entry
    * points check-and-refuse instead (one conf read; queries remain
    * the caller's business). */
  private[graft] def requireStrictFileReads(spark: SparkSession,
      caller: String): Unit =
    require(!spark.conf.get("spark.sql.files.ignoreMissingFiles",
        "false").toBoolean,
      s"$caller: refusing to mutate with " +
        "spark.sql.files.ignoreMissingFiles=true — this session would " +
        "silently drop rows of any file missing mid-read and rewrite " +
        "the table from the truncated view; unset the conf for " +
        "mutation sessions")

  /** Write `df` as a bucketed (+optionally sorted) managed table. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sorted: Boolean = true): Unit = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key — plans with no
    * Exchange on either side (the write-time shuffle is reused). */
  def colocatedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Compact an append-maintained bucketed table back to one file per
    * bucket, preserving its bucket/sort spec (read from the catalog, so
    * callers can't drift it). Every `mode("append")` into a bucketed
    * table adds up to one file per touched bucket per writing task —
    * daily admission appends ([[Dedup.SigStore.append]],
    * [[FingerprintIndex.appendBucketed]]) accrete small files that
    * tax every later scan's open/seek cost. One `repartition` on the
    * bucket columns puts each bucket's rows in exactly one task
    * (Spark's bucket id and shuffle partitioning share the same
    * pmod(murmur3) function), so the rewrite lands one file per bucket;
    * `sortBy` re-sorts within each file at write.
    *
    * The rewrite stages into `<table>__compacting`, then drop + rename
    * swaps it in. A crash leaves either the original table plus debris
    * (reclaimed by the next compact's preamble) or — in the window
    * between drop and rename — only the staged table; run compaction
    * from the single maintenance writer, not concurrently with the
    * daily append. */
  /** `exclude = Some((ids, key))` drops the table's rows whose `key`
    * appears in `ids` while compacting — one broadcast anti join
    * folded into the rewrite the compaction pays anyway (the
    * signature stores' tombstone reclaim rides this). */
  def compactTable(spark: SparkSession, table: String,
      exclude: Option[(DataFrame, String)] = None): Unit = {
    requireStrictFileReads(spark, "compactTable")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"table $table is not bucketed — nothing to preserve; compact " +
        "plain parquet dirs with a repartition+overwrite instead"))
    // the drop+rename swap below does not carry a partitioned table's
    // partition METADATA — the renamed table's catalog entries would
    // go stale and read as empty. No built-in store partitions;
    // refuse loudly rather than swap a standing table for a
    // hollowed-out one (ADVICE r15 hazard class).
    require(meta.partitionColumnNames.isEmpty,
      s"compactTable: $table is partitioned " +
        s"(${meta.partitionColumnNames.mkString(", ")}) — the " +
        "drop+rename swap cannot carry partition metadata; rewrite " +
        "partitioned tables partition-by-partition instead")
    val tmp = s"${table}__compacting"
    spark.sql(s"DROP TABLE IF EXISTS $tmp") // debris of a crashed compact
    val bcols = spec.bucketColumnNames
    // the repartition node is elided by the planner (the catalog layout
    // already satisfies the distribution), so the TASK layout comes
    // from the scan — and the auto-bucketed-scan rule would see "no
    // operator needs bucketing" and hand the writer arbitrary
    // file-split bins (multiple buckets per task = multiple files per
    // bucket, the debris this op exists to remove). Forcing the
    // bucketed scan makes partition i carry exactly bucket i, and the
    // one-per-bucket file count follows (spec-asserted). The write
    // plans in a clone with the rule off; `spark`'s conf is untouched.
    val noAutoScan = PlanBridge.childSession(spark,
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
    val src = exclude match {
      case Some((ids, key)) => spark.table(table).join(
        org.apache.spark.sql.functions.broadcast(
          ids.select(col(ids.columns.head).as(key))),
        Seq(key), "left_anti")
      case None => spark.table(table)
    }
    val w = ControlPlane.rebind(noAutoScan, src)
      .repartition(spec.numBuckets, bcols.map(col): _*)
      .write.mode("overwrite").format(meta.provider.getOrElse("parquet"))
      .bucketBy(spec.numBuckets, bcols.head, bcols.tail: _*)
    val ws = if (spec.sortColumnNames.nonEmpty)
      w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    else w
    ws.saveAsTable(tmp)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
  }

  /** Read ONLY the table's files in the buckets that `bucketRows`'
    * bucket-column values can inhabit — the bucketed layout used as
    * its own LOCATION INDEX, the dedup-side answer to the ANN stores'
    * [[AnnLocIndex]]: a mutation that knows its batch's bucket-key
    * values never needs to scan the store to find its rows. Spark's
    * native bucket pruning only fires for literal predicates on a
    * single bucket column; the mutation paths need multi-column
    * bucket keys (the bands table's (band, bucket)) and frame-shaped
    * key sets, so this prunes by hand: bucket id =
    * pmod(murmur3(bucket cols), n) — the same function the writer's
    * HashPartitioning used (the [[compactTable]] parity note) — with
    * each key column CAST to the table's column type first (xxhash64
    * taught us: equal values of different types hash apart, and a
    * caller's int ids against a long-id table would silently read the
    * wrong buckets). The distinct bucket ids collect driver-side
    * (bounded by min(buckets, key rows)), then a direct parquet read
    * of just those buckets' files, bucket ids parsed from the
    * writer's `_NNNNN` file-name component; any unparseable data file
    * means a foreign layout — fall back to the full table scan,
    * always correct. The result is a plain file read with NO bucketed
    * outputPartitioning: location work only, never the admission
    * query's colocated join.
    *
    * Reader-vs-writer seam (r16 review): the returned plan pins the
    * LISTING-TIME file set — a file a concurrent append commits after
    * this call is simply not in the list (commit is a rename, so a
    * half-written file is never visible), and the reader sees a
    * consistent committed snapshot as of the call, the same contract
    * a catalog scan's cached listing gives (spec-pinned). A file a
    * concurrent MUTATION deletes mid-read fails loudly under the
    * strict-reads contract every mutation enforces
    * ([[requireStrictFileReads]]); mutations themselves are
    * single-writer, so their own prunedScans never race a writer.
    *
    * The selectivity guard's boundary is measured in SCALING.md's
    * "Bucket-pruned location" and "The location crossover at 10M
    * docs" sections. */
  def prunedScan(spark: SparkSession, table: String,
      bucketRows: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(return spark.table(table))
    // partitioned+bucketed layouts keep their data files in partition
    // SUBDIRS — the top-level listing below would parse to an empty
    // file set and "prune" a standing table to nothing (ADVICE r15).
    // None of the built-in stores partition, so the catalog scan is
    // the correct fallback, not a refusal.
    if (meta.partitionColumnNames.nonEmpty) return spark.table(table)
    val sch = spark.table(table).schema
    val bexprs = spec.bucketColumnNames
      .map(c => col(c).cast(sch(c).dataType))
    val wanted = bucketRows
      .select(pmod(hash(bexprs: _*), lit(spec.numBuckets)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet // ≤ numBuckets
    // selectivity guard (measured r15, re-measured at 10M×2048 in
    // r16 — SCALING.md "location crossover"): pruning only pays when
    // the batch's buckets are a MINORITY share of the table's — a
    // batch touching most buckets "prunes" to the whole table read
    // file-by-file, paying the listing + fresh file index + per-file
    // overhead for nothing (forced majority-share prunes measured
    // 1.7-5.8× slower than the catalog scan at every point from
    // 100k×64 to 10M×2048). Under the guard the catalog scan —
    // shared cached listing, combined splits — serves the
    // non-selective case, and the pruned read serves the regime it
    // exists for: a huge store (buckets sized ∝ corpus) hit by a
    // small CDC batch, where it wins 1.5× at 1M docs and 2.2× at 10M
    // with the gap growing in the corpus while the pruned term stays
    // batch-proportional. The half-the-buckets boundary separated
    // win from loss at every measured point.
    if (wanted.size * 2 >= spec.numBuckets)
      return spark.table(table)
    val fsys = new org.apache.hadoop.fs.Path(meta.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketedName = """.*_(\d+)(?:\..*)?$""".r // the writer's _NNNNN
    val parsed = fsys.listStatus(
        new org.apache.hadoop.fs.Path(meta.location))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(f => f.getPath.getName match {
        case bucketedName(b) => Some(f.getPath.toString -> b.toInt)
        case _ => None
      })
    // an EMPTY top-level listing is only a safe "no rows" verdict when
    // the table truly has no data — any layout that hides files from
    // this listing (a partition scheme the guard above missed, a
    // symlinked dir) must degrade to the catalog scan, never to an
    // empty result over standing rows
    if (parsed.isEmpty || parsed.exists(_.isEmpty))
      return spark.table(table)
    val keep = parsed.flatten.collect { case (p, b) if wanted(b) => p }
    if (keep.isEmpty) spark.table(table).limit(0)
    // read through the table's OWN format — the write side already
    // honors meta.provider, and a parquet-hardcoded read would
    // misread an ORC-provider table's files
    else spark.read.schema(sch)
      .format(meta.provider.getOrElse("parquet"))
      .load(keep.toIndexedSeq: _*)
  }

  /** Remove `target`'s `key` rows from a bucketed table by rewriting
    * only the FILES that hold them — per-call cost O(batch ×
    * store/buckets), not O(store). This is the per-mutation twin of
    * [[compactTable]]'s exclude hook: the full rewrite doubles as
    * small-file compaction and belongs on a maintenance cadence; a
    * CDC upsert that paid it per micro-batch would reintroduce the
    * whole-store-rewrite floor on the dedup side that the ANN
    * location index was built to remove.
    *
    * Protocol — the directory store's move-in-then-delete
    * (the dir layout of [[Dedup.SigStore.reclaim]]), adapted to a catalog
    * table: locate the affected files (a [[prunedScan]] of only the
    * batch's buckets when the key set is known — O(batch) reads, the
    * r15 location lever; a narrow full scan otherwise; bounded
    * collect — ≤ one file per touched bucket per standing append),
    * rewrite their surviving rows MINUS any FULL
    * ROW already present in unaffected files (the debris heal — a
    * crashed-and-rerun reclaim converges without duplicating
    * innocent rows), APPEND the survivors through the table's own
    * bucket+sort
    * spec (append preserves the catalog layout and lands ≤1 file per
    * touched bucket — the admission appends' own debris profile, owed
    * to the same compaction cadence), then delete the originals and
    * refresh the relation's file listing. A death before the append
    * changes nothing (tombstones stand); between append and delete a
    * read sees duplicate survivor rows — the same window the dir
    * store's protocol accepts (semi/anti joins are immune, candidate
    * generation distincts), and a bucketed COLOCATED-JOIN reader
    * stays exchange-free and row-correct through it: with >1 file in
    * a bucket Spark keeps trusting the bucketed distribution but
    * drops the per-file sort claim (the concatenation of two sorted
    * files is not sorted), so the SMJ re-sorts instead of silently
    * mis-merging — the only artifact is the duplicate multiplicity
    * itself (r16 review, spec-pinned in BucketingSpec) — and the
    * re-run's double anti rewrites
    * nothing and completes the delete. Single-writer, like every
    * store mutation — and that covers WRITERS; a concurrent reader
    * that listed the table before the deletes fails loudly on the
    * missing file (correct), unless its session runs
    * `spark.sql.files.ignoreMissingFiles=true`, under which it would
    * silently drop the deleted file's rows — the hazard class the
    * TombstoneLog fold pins per-read (r14). Sessions querying a store
    * under active maintenance must not set that conf. Returns the
    * number of files rewritten. */
  def reclaimFromTable(spark: SparkSession, table: String,
      target: DataFrame, key: String,
      bucketRows: Option[DataFrame] = None): Int = {
    import org.apache.spark.sql.functions._
    requireStrictFileReads(spark, "reclaimFromTable")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"table $table is not bucketed — use a plain file-targeted " +
        "rewrite instead"))
    // a partitioned table's files carry their partition VALUES in the
    // directory path, not the file: the direct affected-file read
    // below would resurrect those columns as null and the survivor
    // append would rewrite them wrong — refuse, loudly, rather than
    // corrupt (ADVICE r15; no built-in store partitions)
    require(meta.partitionColumnNames.isEmpty,
      s"reclaimFromTable: $table is partitioned " +
        s"(${meta.partitionColumnNames.mkString(", ")}) — the " +
        "file-targeted rewrite reads data files directly and would " +
        "lose the partition values; compact with an exclude instead")
    val want = broadcast(target.select(col(target.columns.head).as(key)))
    // location through the table's own bucket layout ([[prunedScan]]):
    // when the reclaim key IS the bucket key, the target prunes
    // directly (no contract to get wrong); otherwise the caller may
    // pass `bucketRows` naming EVERY bucket-column value the target's
    // rows can inhabit — an under-covering set would silently leave
    // rows standing, so callers that derive it from stored state must
    // verify coverage first (see Dedup.SigStore's band hint and
    // its ≥-bands check) or pass None for the full scan. The
    // pruned set also covers every debris copy of a survivor row (a
    // copy shares its row's bucket values by definition), so the
    // exceptAll heal below sees everything it needs.
    val src = bucketRows match {
      case Some(br) => prunedScan(spark, table, br)
      case None if spec.bucketColumnNames == Seq(key) =>
        prunedScan(spark, table,
          target.select(col(target.columns.head).as(key)))
      case None => spark.table(table)
    }
    val rows = src.withColumn("_f", input_file_name())
    val affected = rows.join(want, Seq(key), "left_semi")
      .select("_f").distinct()
      .collect().map(_.getString(0)) // bounded by batch × touched buckets
    if (affected.isEmpty) return 0
    val affRows = spark.read
      .schema(spark.table(table).schema)
      .format(meta.provider.getOrElse("parquet"))
      .load(affected.toIndexedSeq: _*)
    val survivors0 = affRows.join(want, Seq(key), "left_anti")
    // crash-debris heal — by FULL ROW equality, never by key: a table
    // bucketed away from the reclaim key (the bands table holds one
    // doc's rows across many bucket files) has keys that legitimately
    // live in affected AND unaffected files, and a key-level anti
    // here would destroy their innocent affected-file rows (the r15
    // q141 find — green at toy scale only because every file was
    // affected). A died earlier run may have already appended exactly
    // these survivor rows (append-then-delete), so subtract rows
    // already present in unaffected files: exceptAll is
    // multiplicity-exact, and legitimate rows are unique by the
    // admission appends' id anti-join, so a cross-file exact
    // duplicate IS debris. The rest side is pre-pruned to the
    // survivors' keys (broadcast semi, batch-× -touched-file-sized)
    // so the row-equality shuffle never carries the whole store.
    val affKeys = survivors0.select(key).distinct()
    val rest = rows.filter(!col("_f").isin(affected.toSeq: _*))
      .join(broadcast(affKeys), Seq(key), "left_semi")
      .select(survivors0.columns.map(col).toIndexedSeq: _*)
    // materialize BEFORE the table mutates: the plan reads the files
    // this call is about to delete
    val survivors = survivors0.exceptAll(rest)
      .localCheckpoint(true)
    val fsys = new org.apache.hadoop.fs.Path(meta.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ControlPlane.dropDeadJobOutput(spark, meta.location.toString)
    val w = survivors.write.mode("append")
      .format(meta.provider.getOrElse("parquet"))
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
       w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
     else w).saveAsTable(table)
    affected.foreach(u => fsys.delete(
      new org.apache.hadoop.fs.Path(new java.net.URI(u)), false))
    spark.catalog.refreshTable(table) // listing cached pre-delete
    affected.length
  }
}
