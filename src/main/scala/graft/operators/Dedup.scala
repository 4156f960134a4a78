package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.storage.StorageLevel
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/**
 * Deduplication operators for a training-data pipeline, each built as a
 * shuffle-conscious composition of built-ins:
 *
 *  - exact:          one hash-aggregate on the dedup key
 *  - MinHash + LSH:  shingle → minhash signature → band → bucket-join —
 *                    candidate pairs come from an inverted index on band
 *                    hashes, never an all-pairs product
 *  - SimHash:        64-bit signature + hamming verify on banded candidates
 *  - n-gram Jaccard: exact, via prefix filtering (PPJoin-style)
 *  - embedding near-dup: cosine over LSH buckets
 *
 * All pair generators emit (id_a < id_b) canonical pairs, dedupe
 * candidates before verification, and shuffle only on band/bucket/
 * prefix-shingle keys — never an all-pairs product.
 */
object Dedup {

  /** Exact dedup: keep min(id) per key; adds n_dups for observability. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  private val P = 2147483647L // 2^31 - 1, Mersenne prime

  /**
   * MinHash signature from a *materialized* shingle-hash array column:
   * `numHashes` permutations approximated by (a·h + b) mod p over 32-bit
   * shingle hashes (widened to long first — products stay < 2^62, no ANSI
   * overflow).
   *
   * Two-stage on purpose: the shingle/regex work must be computed ONCE
   * per row in its own projection (see [[shingleHashes]]); inlining it
   * into all `numHashes` min-expressions blows the expression past
   * codegen limits and re-evaluates the regex per hash per element —
   * measured 100× slower.
   */
  def shingleHashes(text: Column, shingleN: Int): Column =
    transform(T.charShingles(text, shingleN),
      s => pmod(hash(s), lit(P.toInt)).cast("long"))

  def minhashFromHashes(sh: Column, numHashes: Int): Column = {
    val sig = (0 until numHashes).map { i =>
      val (a, b) = permCoeffs(i)
      // coalesce: size(NULL) is NULL, which would fall through to an
      // all-NULL signature for null-text docs — diverging from the
      // internal minhashSignatures path's [P,…] sentinel and turning
      // every verify estimate against such a doc NULL
      when(coalesce(size(sh), lit(0)) === 0, lit(P))
        .otherwise(array_min(transform(sh, h => (h * a + b) % P)))
    }
    array(sig: _*)
  }

  /** Delegates to the one canonical derivation — see
    * [[graft.functions.expressions.MinHashSigAgg.permCoeffs]]: a
    * drifted copy here would silently desynchronize the explode+agg
    * signatures from the SQL aggregate's and the oracle's. */
  private[graft] def permCoeffs(i: Int): (Long, Long) =
    graft.functions.expressions.MinHashSigAgg.permCoeffs(i)

  /**
   * Signature table (id, sig) computed the scale path: explode shingle
   * hashes and run ONE codegen'd hash-aggregate with `numHashes` min()
   * buffers. Higher-order-function lambdas are interpreted per element in
   * Spark; at N docs × S shingles × H hashes that interpretation dominates
   * — the explode+agg form keeps the whole computation in whole-stage
   * codegen and map-side partial aggregation (measured ~5× faster than
   * the HOF form, and it scales out: the only shuffle is keyed by id).
   */
  private def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int, portable: Boolean): DataFrame = {
    // normText staged as an attribute so the shingle lambda doesn't
    // re-run the regex per element; the hash runs post-explode in
    // whole-stage codegen. Portable mode swaps in the md5-derived
    // oracle-replayable hash and drops shingle-less docs (inner explode)
    // so the DuckDB mirror — which can't see them — agrees.
    val shingled = df
      .select(col(idCol).as("id"), T.normText(col(textCol)).as("norm"))
    // default path: explode_outer keeps a (null-shingle) row for
    // sub-shingle-length docs, and the null maps to a NULL hash — NOT
    // hash(null), which is the non-null murmur seed — so min() sees no
    // values and the empty-doc sentinel below actually fires, matching
    // the public [[minhashFromHashes]] [P,…] convention. Without the
    // when(), every short doc shared one seed-derived signature and
    // the LSH reported arbitrary short docs as est_jaccard-1.0
    // near-dups of each other. Portable mode keeps the inner explode:
    // it DROPS shingle-less docs by contract, because the DuckDB
    // oracle mirror cannot see them.
    val exploded = (
      if (portable)
        shingled.select(col("id"),
            explode(T.charShinglesFromNorm(col("norm"), shingleN)).as("s"))
          .select(col("id"), graft.functions.PortableHash.hmodP(col("s")).as("h"))
      else
        shingled.select(col("id"),
            explode_outer(T.charShinglesFromNorm(col("norm"), shingleN)).as("s"))
          .select(col("id"), when(col("s").isNotNull,
            pmod(hash(col("s")), lit(P.toInt)).cast("long")).as("h"))
    )
    // NOTE: measured against the MinHashSigAgg TypedImperativeAggregate
    // (one object buffer, tight-loop update): the 64 codegen'd min()
    // buffers below are equal-or-faster because TypedImperativeAggregate
    // plans as ObjectHashAggregate and exits whole-stage codegen. The
    // aggregate kernel stays available as `graft_minhash_sig` for SQL
    // users; this path keeps HashAggregate + codegen.
    val mins = (0 until numHashes).map { i =>
      val (a, b) = permCoeffs(i)
      coalesce(min((col("h") * a + b) % P), lit(P)).as(s"c$i") // empty doc ⇒ P
    }
    exploded.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"c$i")): _*).as("sig"))
  }

  /**
   * MinHash+LSH candidate pairs: signature sliced into `bands` bands of
   * `numHashes/bands` rows; docs sharing any band hash become candidates;
   * candidates are verified by estimated Jaccard = matching minhashes /
   * numHashes ≥ `threshold`.
   */
  def minhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 8, shingleN: Int = 5,
      threshold: Double = 0.5, portable: Boolean = false): DataFrame = {
    val rows = bandRows(numHashes, bands)
    // the signature table is referenced 3× in the plan (banding + both
    // sides of the verify join); persist it so the explode+agg subtree
    // runs once, released after the caller's action (Caches). At
    // production scale the signatures would be written to a table
    // instead (see SCALING.md) — spill-safe either way.
    val sigd = Caches.releaseAfterUse(
      minhashSignatures(df, idCol, textCol, numHashes, shingleN, portable))
    // distinct candidate pairs FIRST (a pair colliding in k bands must be
    // verified once, not k times), then join signatures back to verify.
    val banded = bandedIndex(sigd, bands, rows, portable)
    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyPairs(cand, sigd, sigd, numHashes, threshold)
  }

  /** rows-per-band, VALIDATED: bands must divide numHashes. bands >
    * numHashes would give zero-row bands — every slice empty, every
    * doc in one bucket, a silent all-pairs quadratic join; a
    * non-divisor would silently band only the first rows*bands hashes,
    * changing recall with no warning. */
  private def bandRows(numHashes: Int, bands: Int): Int = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) with a " +
        "positive rows-per-band")
    numHashes / bands
  }

  /** Inverted band index: (band, band-slice key) → ids. The default keys
    * by xxhash64 of the slice (8 bytes on the wire); portable mode keys
    * by the raw slice array — wider, but an equality the oracle replays. */
  private def bandedIndex(sigd: DataFrame, bands: Int, rows: Int,
      portable: Boolean): DataFrame =
    if (portable)
      sigd.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("sig"), b * rows + 1, lit(rows))))
          .as(Seq("band", "bucket")))
    else
      sigd.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b)))
          .as(Seq("band", "bucket")))

  private def verifyPairs(cand: DataFrame, sigsA: DataFrame,
      sigsB: DataFrame, numHashes: Int, threshold: Double): DataFrame =
    cand
      .join(sigsA.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigsB.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (graft.functions.GraftFunctions.graftMatchCount(col("sig_a"), col("sig_b"))
          / numHashes.toDouble).as("__est"))
      // threshold on the UNROUNDED ratio (the ngramJaccardPairs
      // discipline): rounding first would admit pairs whose true
      // estimate sits in [threshold − 5e-5, threshold)
      .filter(col("__est") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("__est"), 4).as("est_jaccard"))

  /**
   * Materialized MinHash signature store — the SCALING.md "at
   * production scale the signature table is persisted once and reused"
   * note as code, the [[FingerprintIndex]] discipline applied to
   * NEAR-dup admission: [[buildSignatureStore]] pays the shingle +
   * minhash scan once; [[minhashLshIncremental]] checks a day's batch
   * for near-dups against all of history by banding the batch's
   * signatures against the STORE's — history text is never re-read,
   * and the band join's store side is the narrow (id, sig) table.
   * [[appendSignatures]] folds the admitted batch in (append-only:
   * signatures are pure functions of the text, so re-computation never
   * disagrees; one anti join dedupes re-delivered ids).
   */
  def buildSignatureStore(df: DataFrame, idCol: String, textCol: String,
      storeDir: String, numHashes: Int = 64, shingleN: Int = 5,
      portable: Boolean = false): Unit =
    minhashSignatures(df, idCol, textCol, numHashes, shingleN, portable)
      .write.mode("overwrite").parquet(storeDir)

  def appendSignatures(spark: SparkSession, admitted: DataFrame,
      idCol: String, textCol: String, storeDir: String,
      numHashes: Int = 64, shingleN: Int = 5,
      portable: Boolean = false): Unit = {
    ControlPlane.dropDeadJobOutput(spark, storeDir)
    // first anti: re-delivery (physical ids, so a tombstoned id's
    // standing row is never doubled); second anti: takedown wins —
    // a deleted id re-enters only after compaction reclaims it
    minusDeletedSigs(spark,
      minhashSignatures(admitted, idCol, textCol, numHashes, shingleN,
        portable)
        .join(spark.read.parquet(storeDir).select(col("id")), Seq("id"),
          "left_anti"),
      storeDir)
      .write.mode("append").parquet(storeDir)
  }

  // ---- Item-level delete for the signature stores (tombstones) -----

  /** `<storeDir>/_deleted` — the underscore keeps it invisible to the
    * parquet reads of the signature table itself. */
  private def deletedSigsPath(storeDir: String): String =
    storeDir + "/_deleted"

  /** The store's EFFECTIVE tombstone set — the shared append-only op
    * log ([[TombstoneLog]]: D tombstones, R revives, latest seq per id
    * wins; legacy one-column files read as (id, 0, D)) resolved per
    * id, or None when nothing was ever deleted. */
  private def readDeletedSigs(spark: SparkSession,
      storeDir: String): Option[DataFrame] =
    TombstoneLog.resolved(spark, deletedSigsPath(storeDir), "id")

  /** Exclude tombstoned ids (broadcast anti — the tombstone side is
    * takedown-sized, compaction reclaims it). */
  private def minusDeletedSigs(spark: SparkSession, df: DataFrame,
      storeDir: String): DataFrame =
    readDeletedSigs(spark, storeDir) match {
      case Some(d) => df.join(broadcast(d.select("id")), Seq("id"),
        "left_anti")
      case None => df
    }

  /** The store's LIVE signature rows — what every admission compares
    * against: a deleted doc stops being a duplicate source the moment
    * its tombstone lands. */
  private def liveSigs(spark: SparkSession, storeDir: String): DataFrame =
    minusDeletedSigs(spark, spark.read.parquet(storeDir), storeDir)

  /**
   * Item-level delete for a directory signature store
   * ([[buildSignatureStore]] MinHash or [[buildWideSimhashStore]]) —
   * takedowns and dedup-driven removals without a store rebuild.
   * Tombstones land in `<storeDir>/_deleted`; from that moment the
   * deleted docs stop matching as near-dup sources in
   * [[minhashLshIncremental]]/[[simhashWideIncremental]], re-delivered
   * copies of them are treated as NEW docs (compared against the live
   * store only), and appends drop the tombstoned ids (takedown wins —
   * a late re-delivery of a taken-down doc must not resurrect it;
   * compact first to genuinely re-admit one).
   * [[compactSignatureStoreDir]] physically reclaims the rows and
   * clears the tombstones. Idempotent: ids not stored (or already
   * tombstoned) file nothing. Returns the number of new tombstones.
   */
  def deleteSignatures(spark: SparkSession, ids: DataFrame,
      storeDir: String): Long = ControlPlane(spark, ids) { (spark, ids) =>
    import org.apache.spark.storage.StorageLevel
    TombstoneLog.maybeFold(spark, deletedSigsPath(storeDir), "id")
    // one log read serves the dead-set AND the append's seq
    val (ops, seq0) = TombstoneLog.snapshot(spark,
      deletedSigsPath(storeDir), "id")
    val want = ids.select(col(ids.columns.head).as("id")).distinct()
      .join(spark.read.parquet(storeDir).select("id"), Seq("id"),
        "left_semi")
    val fresh = (ops match {
      case Some(o) => want.join(o.filter(col("op") === "D").select("id"),
        Seq("id"), "left_anti")
      case None => want
    }).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = fresh.count()
      if (n > 0)
        TombstoneLog.append(spark, fresh, deletedSigsPath(storeDir),
          "id", "D", seq0)
      n
    } finally fresh.unpersist(blocking = false)
  }

  /**
   * Targeted physical reclaim for a DIRECTORY signature store — the
   * signature-side twin of `Similarity.reclaimTombstones`, and the
   * UPSERT enabler: removes exactly the given tombstoned ids' rows and
   * re-opens those ids, leaving every other standing tombstone (rows
   * and all) for [[compactSignatureStoreDir]]. The store is a flat
   * parquet dir (no list partitions), so the unit of rewrite is the
   * FILE: the files holding target rows are found via
   * `input_file_name`, their surviving rows are re-appended through a
   * staging dir, the old files are deleted, and R records land last.
   *
   * The survivor write double-anti-joins: against the target (the rows
   * being reclaimed) AND — by id — against the rows in every OTHER
   * store file. The second anti is what makes a crashed run heal
   * without duplicating innocent rows: if a previous attempt appended
   * the survivors and died before deleting the old files, the re-run
   * finds the survivor copies already present and re-appends nothing
   * (signatures are pure functions of the text, so an id's rows are
   * identical wherever they live — dropping by id is exact). Crash
   * windows, in order: survivors staged only — store untouched;
   * survivors appended, old files present — transient duplicates that
   * every admission absorbs (id-keyed anti/semi joins, distinct'd
   * pairs) and the re-run collapses; some old files deleted — the
   * target's remaining rows stay tombstoned, reads correct; all
   * deleted, R not yet appended — tombstones stand over nothing, the
   * re-run lands the revive. `_wide_meta` (underscore dir) is never
   * touched — the draw family is a property of the hash config, not
   * of which rows live. Single-writer, like every store mutation.
   * Returns the number of ids reclaimed.
   */
  def reclaimSignatureTombstones(spark: SparkSession, ids: DataFrame,
      storeDir: String): Long = ControlPlane(spark, ids) { (spark, ids) =>
    import org.apache.spark.storage.StorageLevel
    TombstoneLog.maybeFold(spark, deletedSigsPath(storeDir), "id")
    // one log read serves the dead-set AND the revive append's seq
    val (ops, seq0) = TombstoneLog.snapshot(spark,
      deletedSigsPath(storeDir), "id")
    val dead = ops.map(_.filter(col("op") === "D").select("id"))
      .getOrElse(return 0L)
    val target = ids.select(col(ids.columns.head).as("id")).distinct()
      .join(dead, Seq("id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = target.count()
      if (n == 0L) return 0L
      val root = new org.apache.hadoop.fs.Path(storeDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rows = spark.read.parquet(storeDir)
        .withColumn("_f", input_file_name())
      val affected = rows
        .join(broadcast(target), Seq("id"), "left_semi")
        .select("_f").distinct()
        .collect().map(_.getString(0)) // bounded by the batch size
      if (affected.nonEmpty) {
        val staging = new org.apache.hadoop.fs.Path(
          storeDir + "/_reclaim_staging")
        val restIds = rows.filter(!col("_f").isin(affected: _*))
          .select("id")
        spark.read.parquet(affected: _*)
          .join(broadcast(target), Seq("id"), "left_anti")
          .join(restIds, Seq("id"), "left_anti")
          .write.mode("overwrite").parquet(staging.toString)
        fs.listStatus(staging)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .foreach { f =>
            require(fs.rename(f.getPath, new org.apache.hadoop.fs.Path(
              root, "reclaimed-" + f.getPath.getName)),
              s"reclaimSignatureTombstones: could not move " +
                s"${f.getPath} into $root")
          }
        affected.foreach(u =>
          fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(u)),
            false))
        fs.delete(staging, true)
      }
      // rows physically gone — re-open the ids LAST (a death anywhere
      // above leaves the tombstones standing, which reads correctly)
      TombstoneLog.append(spark, target, deletedSigsPath(storeDir),
        "id", "R", seq0)
      n
    } finally target.unpersist(blocking = false)
  }

  /**
   * REPLACE a batch of documents in a MinHash directory store — the
   * mutable-id remedy [[mutatedRedeliveries]] audits for: until now,
   * content mutated under a reused id could only re-enter history via
   * a whole-store compaction (delete's "compact first" contract).
   * Three idempotent steps (see `Similarity.upsertIntoIvfStore` for
   * the shared crash/semantics reasoning): tombstone the ids' standing
   * rows, physically reclaim and re-open exactly those ids, then admit
   * the NEW content's signatures. An upsert is an explicit replacement
   * and so revives a previously taken-down id by design; plain
   * re-delivered appends still drop tombstoned ids (takedown wins).
   * After the upsert the new content participates in
   * [[minhashLshIncremental]] as history — the store signature IS the
   * new text's signature. `numHashes`/`shingleN`/`portable` must match
   * the store build, as for every admission call.
   */
  def upsertSignatures(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, storeDir: String,
      numHashes: Int = 64, shingleN: Int = 5,
      portable: Boolean = false): Unit =
      ControlPlane(spark, batch) { (spark, batch) =>
    val ids = batch.select(col(idCol).as("id"))
    deleteSignatures(spark, ids, storeDir)
    reclaimSignatureTombstones(spark, ids, storeDir)
    appendSignatures(spark, batch, idCol, textCol, storeDir,
      numHashes, shingleN, portable)
  }

  /** [[upsertSignatures]] for a [[buildWideSimhashStore]] dir — same
    * protocol over the same dir layout ([[reclaimSignatureTombstones]]
    * never touches `_wide_meta`: the draw family is a property of the
    * hash config, not of which rows live), with the wide append's
    * draw-family gate intact. */
  def upsertWideSimhashSignatures(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, storeDir: String,
      portable: Boolean = false): Unit =
      ControlPlane(spark, batch) { (spark, batch) =>
    requireWideDraws(spark, storeDir, portable, "upsertWideSimhashSignatures")
    val ids = batch.select(col(idCol).as("id"))
    deleteSignatures(spark, ids, storeDir)
    reclaimSignatureTombstones(spark, ids, storeDir)
    appendWideSimhashSignatures(spark, batch, idCol, textCol, storeDir,
      portable)
  }

  /**
   * Physically reclaim a directory signature store's tombstoned rows.
   * Rename-swap protocol, so the wide store's `_wide_meta` draw record
   * is NEVER in a deleted-but-not-yet-rewritten state (a missing meta
   * silently downgrades [[requireWideDraws]] to the documented
   * contract — the one window this protocol refuses to open): the live
   * rows land in a sibling staging dir together with a copy of the
   * meta, then two renames swap it in. A crash before the first rename
   * leaves the original store untouched (staging debris is reclaimed
   * by the next run's preamble); between the renames the store dir is
   * ABSENT — reads fail loudly with both copies intact on disk (rename
   * `<storeDir>__compact` into place to finish by hand); after the
   * second rename only superseded `__old` debris remains (reclaimed at
   * the end and by the next run). Tombstones live inside the old dir,
   * so the swap clears them atomically with the rewrite. Run from the
   * maintenance writer, like every compaction in this repo.
   */
  def compactSignatureStoreDir(spark: SparkSession,
      storeDir: String, fileThreshold: Int = 8): Unit =
      ControlPlane(spark) { spark =>
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(storeDir + "__compact")
    val old = new org.apache.hadoop.fs.Path(storeDir + "__old")
    // preamble: debris of a previous crashed run
    fs.delete(tmp, true)
    fs.delete(old, true)
    val standing = readDeletedSigs(spark, storeDir)
      .exists(d => !d.isEmpty)
    if (!standing) {
      // nothing tombstoned — clear the op log of fully-revived churn
      // (the supersede-first clear: a bare delete could falsely
      // tombstone a revived id). But churn-heavy upsert traffic ALSO
      // leaves reclaimed-* fragments and append debris with zero
      // standing tombstones, so the rewrite-swap still runs once the
      // store's committed data-file count passes `fileThreshold`
      // (0 forces it) — otherwise fragmentation would grow unbounded
      // between genuine takedowns.
      TombstoneLog.clear(spark, deletedSigsPath(storeDir), "id")
      val dataFiles = fs.listStatus(root)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (dataFiles <= fileThreshold && fileThreshold > 0) return
    }
    liveSigs(spark, storeDir).write.mode("overwrite").parquet(tmp.toString)
    val metaP = new org.apache.hadoop.fs.Path(storeDir + "/_wide_meta")
    if (fs.exists(metaP))
      spark.read.parquet(metaP.toString).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString + "/_wide_meta")
    require(fs.rename(root, old),
      s"compactSignatureStoreDir: could not rename $root aside")
    require(fs.rename(tmp, root),
      s"compactSignatureStoreDir: could not swap $tmp into place — " +
        s"the store is at $old; rename it back (or $tmp in) to recover")
    fs.delete(old, true)
  }

  /** Near-dup pairs (est_jaccard ≥ threshold) of a new batch against
    * the standing store AND within the batch itself — `id_a` is the
    * earlier side (store doc, or the lower batch id), `id_b` the batch
    * doc, the q91 admission orientation. `numHashes`/`bands`/`shingleN`
    * must match the store's build parameters. */
  def minhashLshIncremental(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, storeDir: String,
      numHashes: Int = 64, bands: Int = 8, shingleN: Int = 5,
      threshold: Double = 0.5, portable: Boolean = false): DataFrame = {
    val rows = bandRows(numHashes, bands)
    // LIVE rows only: a deleted doc neither matches as a dup source
    // nor re-deliveries anyone through restrictToNew (a re-delivered
    // deleted id is a NEW doc against the live store)
    val ssig = liveSigs(spark, storeDir)
    val bsig = Caches.releaseAfterUse(restrictToNew(
      minhashSignatures(batch, idCol, textCol, numHashes, shingleN, portable),
      ssig))
    val bBand = bandedIndex(bsig, bands, rows, portable)
    val sBand = bandedIndex(ssig, bands, rows, portable)
    incrementalPairs(bsig, ssig, bBand, sBand, numHashes, threshold)
  }

  /** Shared admission core: store-vs-batch and batch-vs-batch candidate
    * pairs, verified and unioned. `bsig`/`bBand` must already be
    * restricted to genuinely-NEW batch ids (see [[restrictToNew]]):
    * with a store-member batch doc on the batch side, a re-delivered
    * doc would meet its partner through both arms with OPPOSITE
    * orientations — (a,b) from store-vs-batch and (b,a) from
    * batch-vs-batch — which `distinct` cannot collapse, and the "drop
    * id_b" admission policy would then drop BOTH docs, deleting an
    * already-admitted history doc. With the restriction, every pair's
    * id_b is a genuinely-new batch doc and id_a its earlier
    * counterpart, and a fully re-delivered batch emits NOTHING — the
    * idempotency a crashed-and-retried admission needs. */
  private def incrementalPairs(bsig: DataFrame, ssig: DataFrame,
      bBand: DataFrame, sBand: DataFrame, numHashes: Int,
      threshold: Double): DataFrame = {
    // store-vs-batch: the store id is always id_a (history precedes)
    val candSB = sBand.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(bBand.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    // batch-vs-batch among new docs: the usual canonical ordering
    val candBB = bBand.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(bBand.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyPairs(candSB, ssig, bsig, numHashes, threshold)
      .unionByName(verifyPairs(candBB, bsig, bsig, numHashes, threshold))
      .distinct()
  }

  /** Batch signatures restricted to ids the store has NOT admitted —
    * a re-delivered doc participates only through its store copy. One
    * id-keyed anti join (store side pre-bucketed in the bucketed
    * variant).
    *
    * This encodes the IMMUTABLE-ID contract: a batch doc whose id the
    * store already holds is treated as a pure re-delivery and compared
    * via its STORE signature — if the feed mutates content under a
    * reused id, the new content never participates and recall silently
    * degrades. Mutable-id feeds should run [[mutatedRedeliveries]] on
    * each batch (an explicit, loud audit) rather than pay a
    * signature-compare join inside every admission call. */
  private def restrictToNew(bsig: DataFrame, storeIds: DataFrame): DataFrame =
    bsig.join(storeIds.select("id"), Seq("id"), "left_anti")

  /** Mutable-id audit for the incremental admission family: batch docs
    * whose id the store has ALREADY admitted but whose minhash
    * signature differs from the store's — i.e. content mutated under a
    * reused id, which [[restrictToNew]]'s immutable-id contract would
    * silently drop from comparison. Returns (id, sig_store, sig_batch)
    * rows; a non-empty result on a feed that claims immutable ids is a
    * pipeline bug upstream. One id-keyed inner join (batch-sized ×
    * store, same shape as the verify join); run it per batch on feeds
    * that can mutate, or on a sampling cadence elsewhere.
    * `numHashes`/`shingleN`/`portable` must match the store build. */
  def mutatedRedeliveries(batch: DataFrame, idCol: String, textCol: String,
      storeSigs: DataFrame, numHashes: Int = 64, shingleN: Int = 5,
      portable: Boolean = false): DataFrame = {
    val bsig = minhashSignatures(batch, idCol, textCol, numHashes, shingleN,
      portable)
    bsig.select(col("id"), col("sig").as("sig_batch"))
      .join(storeSigs.select(col("id"), col("sig").as("sig_store")), Seq("id"))
      .filter(col("sig_batch") =!= col("sig_store"))
      .select(col("id"), col("sig_store"), col("sig_batch"))
  }

  /**
   * Bucketed signature store — [[buildSignatureStore]] with the
   * [[Bucketing]] write-time-shuffle discipline applied to BOTH standing
   * tables, closing the plain store's scale gap: there,
   * [[minhashLshIncremental]] re-bands and re-shuffles ALL of history
   * every daily batch; here both store-side layouts are paid once at
   * build time and daily admission shuffles ONLY the day-sized batch:
   *
   *  - `<table>_sigs` (id, sig), `bucketBy(id)` — the verify join reads
   *    the store pre-partitioned on id;
   *  - `<table>_bands` (id, band, bucket), `bucketBy(band, bucket)` —
   *    the candidate join reads the store's inverted band index
   *    pre-partitioned on the collision key, no re-banding.
   *
   * xxhash64 band keys only (portable mode's bucket is an array — not a
   * legal bucket column); `numHashes`/`bands`/`shingleN` must match
   * between build, admission, and append. Bucket count ≈ store size /
   * target partition (the [[Bucketing]] sizing note).
   */
  def buildSignatureStoreBucketed(df: DataFrame, idCol: String,
      textCol: String, table: String, buckets: Int, numHashes: Int = 64,
      bands: Int = 8, shingleN: Int = 5): Unit = {
    val spark = df.sparkSession
    // a rebuild starts a fresh lifecycle: standing tombstones (op log
    // or legacy table) describe the OLD store and would silently hide
    // rebuilt rows that share ids — same contract as buildIvfStore
    TombstoneLog.clear(spark, bucketedDlogPath(spark, table), "id")
    spark.sql(s"DROP TABLE IF EXISTS ${deletedTable(table)}")
    val rows = bandRows(numHashes, bands)
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleN,
      portable = false).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      Bucketing.writeBucketed(sigs, s"${table}_sigs", "id", buckets)
      bandedIndex(sigs, bands, rows, portable = false)
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "band", "bucket").sortBy("band", "bucket")
        .saveAsTable(s"${table}_bands")
    } finally sigs.unpersist()
  }

  /** [[minhashLshIncremental]] against a [[buildSignatureStoreBucketed]]
    * store: identical pair semantics, but both store-side scans reuse
    * their write-time bucket layout — the plan's only exchanges move
    * batch-sized data (spec-asserted in DedupSpec). */
  def minhashLshIncrementalBucketed(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, table: String, numHashes: Int = 64,
      bands: Int = 8, shingleN: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    val rows = bandRows(numHashes, bands)
    // LIVE rows only (see minhashLshIncremental): the tombstone anti
    // join BROADCASTS, so the store side still never re-shuffles; a
    // deleted doc's band rows can still produce candidates, but they
    // die at the verify join against the live sigs
    val ssig = minusDeletedBucketed(spark, spark.table(s"${table}_sigs"),
      table)
    val bsig = Caches.releaseAfterUse(restrictToNew(minhashSignatures(
      batch, idCol, textCol, numHashes, shingleN, portable = false), ssig))
    incrementalPairs(bsig, ssig,
      bandedIndex(bsig, bands, rows, portable = false),
      spark.table(s"${table}_bands"), numHashes, threshold)
  }

  private def deletedTable(table: String): String = s"${table}_deleted"

  /** The bucketed store's D/R op log — a [[TombstoneLog]] at a
    * warehouse-SIBLING path, not a catalog table: revive (the upsert
    * enabler) needs latest-seq-wins resolution, and a catalog table
    * can only be "rewritten" through a drop window in which an absent
    * tombstone record silently reads as "nothing deleted" — the exact
    * resurrection window the op log exists to close. The path is
    * deliberately OUTSIDE both store tables' dirs (a
    * [[Bucketing.compactTable]] drop+rename must never take the log
    * with it). */
  private def bucketedDlogPath(spark: SparkSession, table: String): String =
    spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
      s"/${table}__dlog"

  /** Effective tombstones of a bucketed store: the op log resolved
    * per id, with any LEGACY `<table>_deleted` rows (the pre-r14
    * D-only table) folded in at seq -1 — superseded by any log record
    * for the same id, exactly the one-column-file grace the dir
    * stores' logs give. */
  private def readDeletedBucketed(spark: SparkSession,
      table: String): Option[DataFrame] = {
    val legacy =
      if (spark.catalog.tableExists(deletedTable(table)))
        Some(spark.table(deletedTable(table)).select("id")
          .withColumn("seq", lit(-1L)).withColumn("op", lit("D")))
      else None
    val log = TombstoneLog.read(spark, bucketedDlogPath(spark, table), "id")
    val all = (legacy, log) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    all.map(_.groupBy("id")
        .agg(max(struct(col("seq"), col("op"))).as("last"))
        .filter(col("last.op") === "D").select("id"))
  }

  private def minusDeletedBucketed(spark: SparkSession, df: DataFrame,
      table: String): DataFrame =
    readDeletedBucketed(spark, table) match {
      case Some(d) => df.join(broadcast(d.select("id")), Seq("id"),
        "left_anti")
      case None => df
    }

  /** [[deleteSignatures]] for a [[buildSignatureStoreBucketed]] store:
    * tombstones land in the store's op log (takedown-sized — never
    * bucketed, always broadcast). Same contract: deleted docs stop
    * matching immediately, appends drop them (takedown wins),
    * [[compactSignatureStore]] physically reclaims both tables and
    * clears the record, and [[upsertSignaturesBucketed]] re-admits a
    * mutated id without the full compaction. Returns the new
    * tombstone count. */
  def deleteSignaturesBucketed(spark: SparkSession, ids: DataFrame,
      table: String): Long = ControlPlane(spark, ids) { (spark, ids) =>
    import org.apache.spark.storage.StorageLevel
    Bucketing.requireStrictFileReads(spark, "deleteSignaturesBucketed")
    val dlog = bucketedDlogPath(spark, table)
    TombstoneLog.maybeFold(spark, dlog, "id")
    val seq0 = TombstoneLog.nextSeq(spark, dlog, "id")
    // existence check through the GUARDED bucket-pruned read (r16,
    // SCALING.md "location crossover"): the narrow catalog scan was
    // this path's last corpus-proportional term, and the 10M-doc ×
    // 2048-bucket measurement the r15 verdict asked for shows the
    // pruned location overtaking it from ~1M docs up (0.73 s vs
    // 1.11 s at 1M×512 with a 100-id batch; 1.64 s vs 3.53 s at
    // 10M×2048 with a 500-id batch — and the catalog term keeps
    // growing with the corpus while the pruned term stays batch-
    // proportional). prunedScan's selectivity guard separated win
    // from loss at EVERY measured point, so the non-selective case
    // (toy stores, huge batches) still reads the catalog's shared
    // cached listing, now plus one batch-sized bucket-distinct job.
    val want0 = ids.select(col(ids.columns.head).as("id")).distinct()
    val want = want0
      .join(Bucketing.prunedScan(spark, s"${table}_sigs", want0)
        .select("id"), Seq("id"), "left_semi")
    val fresh = (readDeletedBucketed(spark, table) match {
      case Some(d) => want.join(d, Seq("id"), "left_anti")
      case None => want
    }).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = fresh.count()
      if (n > 0)
        TombstoneLog.append(spark, fresh, dlog, "id", "D", seq0)
      n
    } finally fresh.unpersist(blocking = false)
  }

  /** Targeted physical reclaim for a BUCKETED signature store — the
    * [[reclaimSignatureTombstones]] twin, closing the upsert-parity
    * gap: removes exactly the given tombstoned ids' rows from both
    * standing tables and re-opens those ids, leaving every other
    * tombstone standing. The rewrite is FILE-TARGETED
    * ([[Bucketing.reclaimFromTable]] — the dir store's
    * move-in-then-delete adapted to the catalog layout): only the
    * bucket files holding the ids rewrite, so a CDC-cadence upsert
    * pays O(batch × store/buckets) per call, not the O(store) a
    * [[Bucketing.compactTable]] ride would charge every micro-batch
    * (whole-table compaction stays where it belongs, on
    * [[compactSignatureStore]]'s maintenance cadence). Bands first,
    * sigs second — removal order is correctness-neutral here (the
    * standing tombstones hide the ids throughout; orphan band rows
    * die at the verify join), so the order just mirrors the append's.
    * A death between or inside the rewrites heals on re-run (the
    * helper's full-row debris heal); R records land LAST.
    *
    * LOCATION is bucket-pruned end to end (the r15 lever; the
    * dedup-side twin of the ANN stores' AnnLocIndex, with the table
    * layout itself as the index): the sigs side prunes by the ids
    * directly (id IS its bucket key — no configuration to get wrong),
    * and the bands side recomputes the targets' (band, bucket) keys
    * from their STORED signatures — a pure function of sig +
    * `numHashes`/`bands`, which therefore must match the store build,
    * the same contract as every admission call. Because a mismatch
    * would name the WRONG buckets and silently leave rows standing,
    * the recompute is VERIFIED before it is trusted: admission writes
    * bands before sigs, so every live-sig id must locate ≥ `bands`
    * band rows inside the pruned set — a shortfall (mismatched
    * params, or a torn reclaim mid-heal) falls back to the unpruned
    * full-scan location, always correct. Returns ids reclaimed. */
  def reclaimSignatureTombstonesBucketed(spark: SparkSession,
      ids: DataFrame, table: String, numHashes: Int = 64,
      bands: Int = 8): Long = ControlPlane(spark, ids) { (spark, ids) =>
    import org.apache.spark.storage.StorageLevel
    Bucketing.requireStrictFileReads(spark,
      "reclaimSignatureTombstonesBucketed")
    val rows = bandRows(numHashes, bands)
    val dlog = bucketedDlogPath(spark, table)
    TombstoneLog.maybeFold(spark, dlog, "id")
    val seq0 = TombstoneLog.nextSeq(spark, dlog, "id")
    val dead = readDeletedBucketed(spark, table).getOrElse(return 0L)
    val target = ids.select(col(ids.columns.head).as("id")).distinct()
      .join(dead, Seq("id"), "left_semi")
      // the rewrites append to + delete files of the tables the plan
      // reads — sever the lineage (batch-sized), or the R append's
      // re-evaluation races the mutated relations
      .localCheckpoint(true)
    val n = target.count()
    if (n == 0L) return 0L
    // is a bands-side prune even possible? n×bands is an upper bound
    // on the batch's distinct (band, bucket) keys — when twice that
    // already reaches the bucket count, prunedScan's selectivity
    // guard would reject the prune anyway, so skip the recompute and
    // coverage jobs outright (they measured +15% on exactly the
    // batch-≥-buckets regime they can't help)
    val nBandBuckets = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst
        .TableIdentifier(s"${table}_bands"))
      .bucketSpec.map(_.numBuckets).getOrElse(0)
    val bandHint = if (n * bands * 2 >= nBandBuckets) None else {
      // the targets' stored sigs, read through the sigs table's
      // buckets; checkpointed — the band rewrite below must not
      // re-evaluate this against mutated files
      val storedSigs = Bucketing
        .prunedScan(spark, s"${table}_sigs", target)
        .join(broadcast(target), Seq("id"), "left_semi")
        .select("id", "sig").localCheckpoint(true)
      val bandKeys = bandedIndex(storedSigs, bands, rows,
        portable = false).select("band", "bucket")
      // coverage check: ≥ bands located band rows per live-sig id, or
      // the pruned location cannot be trusted (see scaladoc)
      val located = Bucketing
        .prunedScan(spark, s"${table}_bands", bandKeys)
        .join(broadcast(target), Seq("id"), "left_semi")
        .groupBy("id").agg(count(lit(1)).as("c"))
      val short = storedSigs.select("id")
        .join(located.filter(col("c") >= bands), Seq("id"), "left_anti")
        .count()
      if (short == 0L) Some(bandKeys) else None
    }
    // the two table reclaims run CONCURRENTLY (r16): removal order is
    // correctness-neutral (scaladoc above — tombstones hide the ids
    // throughout, orphan band rows die at the verify join), each leg
    // touches only its own table, and the bandHint's stored-sig read
    // is already eagerly checkpointed above, so the sigs rewrite
    // cannot race it
    ControlPlane.par2(spark)(
      Bucketing.reclaimFromTable(spark, s"${table}_bands", target, "id",
        bandHint),
      Bucketing.reclaimFromTable(spark, s"${table}_sigs", target, "id"))
    TombstoneLog.append(spark, target, dlog, "id", "R", seq0)
    n
  }

  /** REPLACE a batch of documents in a BUCKETED MinHash store — the
    * [[upsertSignatures]] twin over the [[buildSignatureStoreBucketed]]
    * layout: tombstone the ids' standing rows, physically reclaim and
    * re-open exactly those ids ([[reclaimSignatureTombstonesBucketed]]
    * — other takedowns keep standing), then admit the NEW content's
    * signatures through the bucketed append (both tables keep their
    * write-time layout; the admission plan's exchanges stay
    * batch-sized). Revives a previously taken-down id by design — an
    * upsert is an explicit replacement; plain re-delivered appends
    * still drop tombstoned ids. `numHashes`/`bands`/`shingleN` must
    * match the store build, as for every admission call. */
  def upsertSignaturesBucketed(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, table: String, buckets: Int,
      numHashes: Int = 64, bands: Int = 8,
      shingleN: Int = 5): Unit = ControlPlane(spark, batch) { (spark, batch) =>
    val ids = batch.select(col(idCol).as("id"))
    deleteSignaturesBucketed(spark, ids, table)
    reclaimSignatureTombstonesBucketed(spark, ids, table, numHashes,
      bands)
    appendSignaturesBucketed(spark, batch, idCol, textCol, table,
      buckets, numHashes, bands, shingleN)
  }

  /**
   * Apply one CDC micro-batch — (id, text, op, seq) rows, op ∈
   * {I, U, D} — to a DIRECTORY signature store: the dedup-side twin of
   * `Similarity.applyCdcBatch`, closing the loop from the reference's
   * envelope stream to a maintained dedup history. The batch resolves
   * to ONE terminal op per id (latest seq wins; same-seq ties D > U >
   * I — conservative takedown-wins), then deletes tombstone
   * ([[deleteSignatures]] — a re-delivered D files nothing), updates
   * REPLACE ([[upsertSignatures]] — revives by design, the mutable-id
   * remedy), inserts append ([[appendSignatures]] — tombstoned ids
   * drop, takedown wins over a late re-delivered I). Replaying the
   * whole batch converges: signatures are pure functions of the text.
   * `numHashes`/`shingleN`/`portable` must match the store build.
   * Returns (inserted, updated, deleted) ids DISPATCHED per lane.
   */
  def applySigCdcBatch(spark: SparkSession, batch: DataFrame,
      storeDir: String, idCol: String = "doc_id",
      textCol: String = "text", opCol: String = "op",
      seqCol: String = "seq", numHashes: Int = 64, shingleN: Int = 5,
      portable: Boolean = false): (Long, Long, Long) =
    ControlPlane(spark, batch) { (spark, batch) =>
    dispatchSigCdc(spark, batch, idCol, textCol, opCol, seqCol,
      "applySigCdcBatch",
      del = ids => deleteSignatures(spark, ids, storeDir),
      reclaim = ids => reclaimSignatureTombstones(spark, ids, storeDir),
      append = rows => appendSignatures(spark, rows, "doc_id", "text",
        storeDir, numHashes, shingleN, portable))
    }

  /** [[applySigCdcBatch]] for a BUCKETED store
    * ([[buildSignatureStoreBucketed]]) — the same terminal-op
    * resolution and lane semantics over the write-time-bucketed
    * layout, closing the CDC-parity gap the r14 upsert work left: the
    * SCALE layout could until now only be maintained by out-of-band
    * delete/upsert calls, not from the envelope stream. D→
    * [[deleteSignaturesBucketed]], U→[[upsertSignaturesBucketed]]
    * (revives by design), I→[[appendSignaturesBucketed]] (takedown
    * wins). Replaying the whole batch converges: signatures are pure
    * functions of the text. `buckets`/`numHashes`/`bands`/`shingleN`
    * must match the store build. Returns (inserted, updated, deleted)
    * ids dispatched per lane. */
  def applySigCdcBatchBucketed(spark: SparkSession, batch: DataFrame,
      table: String, buckets: Int, idCol: String = "doc_id",
      textCol: String = "text", opCol: String = "op",
      seqCol: String = "seq", numHashes: Int = 64, bands: Int = 8,
      shingleN: Int = 5): (Long, Long, Long) =
    ControlPlane(spark, batch) { (spark, batch) =>
    dispatchSigCdc(spark, batch, idCol, textCol, opCol, seqCol,
      "applySigCdcBatchBucketed",
      del = ids => deleteSignaturesBucketed(spark, ids, table),
      reclaim = ids => reclaimSignatureTombstonesBucketed(spark, ids,
        table, numHashes, bands),
      append = rows => appendSignaturesBucketed(spark, rows, "doc_id",
        "text", table, buckets, numHashes, bands, shingleN))
    }

  /** The shared CDC dispatch core: resolve ONE terminal op per id
    * (latest seq wins; same-seq ties D > U > I — conservative
    * takedown-wins), gate unknown ops LOUDLY by name, then run the
    * store-layout-specific lanes. The op gate
    * sees EVERY op in the batch, not just the terminal frame (r16):
    * an unknown op superseded by a later legit op for the same id is
    * still producer corruption — it may stand for semantics this
    * dispatch doesn't implement (a truncate, a schema op), and
    * letting terminal-op resolution mask it would silently apply the
    * batch as if the event never happened. The raw-level flag rides
    * the terminal groupBy as one extra agg column, so the gate stays
    * a single driver action; the pipeline quarantines unknown-op rows
    * per envelope upstream, so the loud path is for direct callers
    * and cannot wedge a stream.
    *
    * LANE FUSION (r16 optimization): the lanes run as
    * delete(D ∪ U) → reclaim(U) → append(U ∪ I), not as the
    * per-lane composition D→delete, U→(delete+reclaim+append),
    * I→append. The fused form is id-for-id equivalent — lanes are
    * disjoint after terminal-op resolution and every step is
    * per-id — but pays ONE delete pass (one op-log read + existence
    * check + D append instead of two) and ONE admission pass (one
    * signature computation + store anti + table append instead of
    * two) per micro-batch: at CDC cadence the mutation floor is
    * job count, and the U lane's delete/append legs were exact
    * duplicates of the D/I lanes' machinery. Equivalence argument,
    * per id: a D id is tombstoned either way and never appended; a
    * U id is tombstoned (D@s), reclaimed and revived (R@s+1), then
    * admitted — after the revive, the fused append's tombstone anti
    * passes it exactly as the upsert's own append leg did; an I id
    * never enters the delete/reclaim legs, and the fused append
    * drops it iff a tombstone stands (takedown wins), as before.
    * The op-log resolution is unchanged: D ids end at D, U ids at
    * R (their D and R now land one seq apart instead of two).
    * `gateIU` runs BEFORE any mutation when the batch carries I or U
    * rows — the wide store's draw-family check used to run inside
    * the upsert, i.e. after the D lane but before any U-id
    * tombstoning; hoisting it keeps "refuse before mutating the ids
    * the refusal protects" while the fused delete covers both lanes. */
  private def dispatchSigCdc(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, opCol: String, seqCol: String,
      caller: String, del: DataFrame => Unit, reclaim: DataFrame => Unit,
      append: DataFrame => Unit,
      gateIU: () => Unit = () => ()): (Long, Long, Long) = {
    import org.apache.spark.storage.StorageLevel
    val rank = when(col("op") === "D", 2)
      .when(col("op") === "U", 1)
      .when(col("op") === "I", 0)
    val badRaw = when(col("op").isNull || !col("op").isin("I", "U", "D"),
      coalesce(col("op"), lit("<null>")))
    val last = batch
      .select(col(idCol).as("doc_id"), col(textCol).as("text"),
        col(opCol).as("op"), col(seqCol).cast("long").as("seq"))
      .withColumn("_r", rank)
      .withColumn("_bad", badRaw)
      .groupBy("doc_id")
      .agg(max(struct(col("seq"), col("_r"), col("op"), col("text")))
        .as("last"), max(col("_bad")).as("bad_op"))
      .select(col("doc_id"), col("last.text").as("text"),
        col("last.op").as("op"), col("bad_op"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // BOTH gates and the per-op counts in ONE driver action (r15
      // verdict: the three separate jobs here were the fixed
      // per-micro-batch floor pricing the CDC-heaviest bench queries;
      // every lane below already runs its own jobs, so the gates
      // should not add three more). The op gate refuses unknown/null
      // ops BY NAME, anywhere in the batch — superseded ops included
      // (see the dispatch scaladoc); the body gate is symmetric
      // (r15): a null text is legal ONLY on D — unguarded, a
      // partial-payload UPDATE would reclaim the old signature and
      // admit the signature OF NULL — refused BY ID instead. The
      // pipeline quarantines both shapes upstream
      // (NearDupStream.malformedPayload), so the loud path is for
      // direct callers; sampled sort_array'd collect_sets keep the
      // messages deterministic and batch-bounded.
      val isBodiless = col("op").isin("I", "U") && col("text").isNull
      val g = last.agg(
        count(when(col("op") === "I", 1)),
        count(when(col("op") === "U", 1)),
        count(when(col("op") === "D", 1)),
        count(col("bad_op")),
        slice(sort_array(collect_set(col("bad_op"))), 1, 10),
        count(when(isBodiless, 1)),
        slice(sort_array(collect_set(
          when(isBodiless, col("doc_id").cast("string")))), 1, 20)
      ).head()
      require(g.getLong(3) == 0L, s"$caller: ops must be I, U or " +
        s"D — got ${g.getSeq[String](4).mkString(", ")}")
      require(g.getLong(5) == 0L, s"$caller: I/U events must carry " +
        "text (only D may be id-only) — null for ids " +
        g.getSeq[String](6).mkString(", "))
      val (nI, nU, nD) = (g.getLong(0), g.getLong(1), g.getLong(2))
      if (nI + nU > 0) gateIU()
      if (nD + nU > 0)
        del(last.filter(col("op").isin("D", "U")).select("doc_id"))
      if (nU > 0)
        reclaim(last.filter(col("op") === "U").select("doc_id"))
      if (nI + nU > 0)
        append(last.filter(col("op").isin("I", "U"))
          .select("doc_id", "text"))
      (nI, nU, nD)
    } finally last.unpersist(blocking = false)
  }

  /** AUDIT a bucketed signature store's EFFECTIVE state against the
    * corpus it should equal — the net-history check the upsert
    * lifecycle is accountable to (the q141 gate): signatures are pure
    * functions of the text, so "the mutated store ≡ a from-scratch
    * store over the net corpus" holds exactly when, per expected doc,
    * the live stored signature equals the net text's signature AND
    * the live band rows equal that signature's banded index — and no
    * live id exists outside the expectation. Returns one (id, sig_ok,
    * bands_ok) row per expected doc, PLUS a (false, false) row for
    * any unexpected live id: a takedown that resurrects, a lost or
    * doubled replacement, stale band rows from a torn reclaim, or
    * old content kept under a mutated id each flip some row. Cost:
    * one batch-side signature pass over `expected` + both store
    * scans in their bucket layout. */
  def auditSignatureStoreBucketed(spark: SparkSession,
      expected: DataFrame, idCol: String, textCol: String,
      table: String, numHashes: Int = 64, bands: Int = 8,
      shingleN: Int = 5): DataFrame = {
    val rows = bandRows(numHashes, bands)
    val net = minhashSignatures(expected, idCol, textCol, numHashes,
      shingleN, portable = false)
    val netBands = bandedIndex(net, bands, rows, portable = false)
    val liveSig = minusDeletedBucketed(spark,
      spark.table(s"${table}_sigs"), table)
    val liveBands = minusDeletedBucketed(spark,
      spark.table(s"${table}_bands"), table)
    val sigCmp = net.select(col("id"), col("sig").as("net_sig"))
      .join(liveSig.select(col("id"), col("sig").as("st_sig")),
        Seq("id"), "full")
      .select(col("id"),
        coalesce(col("net_sig") === col("st_sig"), lit(false))
          .as("sig_ok"))
    val bandCmp = netBands.select("id", "band", "bucket")
      .withColumn("_e", lit(1))
      .join(liveBands.select("id", "band", "bucket")
        .withColumn("_s", lit(1)), Seq("id", "band", "bucket"), "full")
      .groupBy("id")
      .agg(min(col("_e").isNotNull && col("_s").isNotNull)
        .as("bands_ok"))
    sigCmp.join(bandCmp, Seq("id"), "full")
      .select(col("id"), coalesce(col("sig_ok"), lit(false)).as("sig_ok"),
        coalesce(col("bands_ok"), lit(false)).as("bands_ok"))
  }

  /** Fold a day's admitted batch into a bucketed store: one anti join on
    * the narrow id column finds the genuinely new docs (re-delivery
    * safe), then both tables append in their bucket layout — daily
    * maintenance never rebuilds. Each append adds ≤1 file per touched
    * bucket; compact on the usual small-file cadence. */
  def appendSignaturesBucketed(spark: SparkSession, admitted: DataFrame,
      idCol: String, textCol: String, table: String, buckets: Int,
      numHashes: Int = 64, bands: Int = 8, shingleN: Int = 5): Unit = {
    Bucketing.requireStrictFileReads(spark, "appendSignaturesBucketed")
    val rows = bandRows(numHashes, bands)
    // physical-id anti (re-delivery) + tombstone anti (takedown wins).
    // The anti reads the GUARDED bucket-pruned file set (r16) — the
    // same measured crossover as deleteSignaturesBucketed's existence
    // check: the batch's ids name their own buckets, so on a big
    // store the anti's store side shrinks from the corpus to
    // O(batch × store/buckets) while the selectivity guard keeps the
    // catalog scan for the non-selective case.
    val fresh = minusDeletedBucketed(spark,
        minhashSignatures(admitted, idCol, textCol, numHashes,
          shingleN, portable = false)
          .join(Bucketing.prunedScan(spark, s"${table}_sigs",
              admitted.select(col(idCol).as("id"))).select(col("id")),
            Seq("id"), "left_anti"),
        table)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // bands BEFORE sigs, load-bearing both ways: (a) a cache-lost
      // recompute of `fresh` after a sigs write must not see its own
      // append — the pruned anti pins the listing-time file set, and
      // the guard's catalog fallback resolves the pre-append relation,
      // but only this order makes the property independent of which
      // path the guard took (a bands write after the sigs append
      // would otherwise recompute the anti against the already-
      // appended sigs and append nothing — a silent candidate loss);
      // (b) a crash between the writes leaves duplicate
      // band rows on re-delivery, which the admission query's distinct
      // absorbs, whereas the reverse order would leave PERMANENTLY
      // missing band rows (sigs present ⇒ anti join drops the docs).
      Seq("bands", "sigs").foreach(t =>
        ControlPlane.dropDeadJobOutputOf(spark, s"${table}_$t"))
      bandedIndex(fresh, bands, rows, portable = false)
        .write.mode("append").format("parquet")
        .bucketBy(buckets, "band", "bucket").sortBy("band", "bucket")
        .saveAsTable(s"${table}_bands")
      fresh.write.mode("append").format("parquet")
        .bucketBy(buckets, "id").sortBy("id").saveAsTable(s"${table}_sigs")
      // make the appends visible to the CALLER's session explicitly
      // (r16): the inserts execute through `fresh`'s OWN session — in
      // a foreachBatch that is the stream's cloned session — and
      // their post-write refresh lands there, not here. The old
      // catalog-relation anti happened to keep this session's cached
      // listing fresh as a side effect of its own resolution; with
      // the bucket-pruned anti (direct file reads) nothing touches
      // this session's relation cache, and a same-session reader
      // right after the call (the audit, the spec's assertions) would
      // read the pre-append listing — found by the streamed bucketed
      // CDC spec the moment the anti was routed. Same lesson
      // reclaimFromTable already encodes for the delete side.
      spark.catalog.refreshTable(s"${table}_bands")
      spark.catalog.refreshTable(s"${table}_sigs")
    } finally fresh.unpersist()
  }

  /** Compact both of a bucketed signature store's standing tables back
    * to one file per bucket ([[Bucketing.compactTable]]) — the
    * small-file maintenance each [[appendSignaturesBucketed]] cadence
    * eventually owes — AND physically reclaim any
    * [[deleteSignaturesBucketed]] tombstones, dropping the tombstone
    * table last (a crash between the rewrites and the drop leaves the
    * tombstones standing over already-reclaimed rows — reads stay
    * correct, a re-run completes the reclaim). Run from the
    * maintenance writer, not concurrently with an admission append. */
  def compactSignatureStore(spark: SparkSession, table: String): Unit =
      ControlPlane(spark) { spark =>
    val dead = readDeletedBucketed(spark, table).map((_, "id"))
    Bucketing.compactTable(spark, s"${table}_bands", dead)
    Bucketing.compactTable(spark, s"${table}_sigs", dead)
    if (dead.isDefined) {
      // legacy D-only table first, THEN the op log: the reverse order
      // would open a window where a legacy D resurfaces over an id
      // the log had revived (whose replacement rows are live) — this
      // order's window only leaves log D's standing over rows the
      // rewrites just removed, which reads correctly and re-runs clean
      spark.sql(s"DROP TABLE IF EXISTS ${deletedTable(table)}")
      TombstoneLog.clear(spark, bucketedDlogPath(spark, table), "id")
    }
  }

  /**
   * 64-bit SimHash from a materialized token-hash array: per bit,
   * majority vote of token hash bits; assembled with shift/or (bitwise —
   * overflow-free). Same two-stage discipline as MinHash: tokenization
   * runs once per row, the 64 bit-votes read the materialized array.
   */
  def tokenHashes(text: Column): Column =
    transform(T.tokens(text), t => xxhash64(t))

  def simhashFromHashes(th: Column): Column = {
    val bits = (0 until 64).map { b =>
      val vote = aggregate(th, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Single-column convenience form (tests / small inputs). */
  def simhash(text: Column): Column = simhashFromHashes(tokenHashes(text))

  /**
   * SimHash signature table via explode + one object aggregate (see
   * SimHashSigAgg scaladoc for why the object aggregate beats 64
   * codegen'd sum() buffers here — janino compile time of the 192-node
   * bit assembly dwarfed execution, the opposite tradeoff to MinHash).
   *
   * Portable mode hashes tokens with [[graft.functions.PortableHash]]
   * (60 effective bits — the top 4 vote negative and stay 0) and drops
   * token-less documents (inner explode), so the oracle can rebuild the
   * identical signature; the default keeps xxhash64 (64 bits, empty docs
   * get the signature of the null-token hash — unchanged behavior).
   */
  private def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean): DataFrame = {
    val toks = df.select(col(idCol).as("id"), T.tokens(col(textCol)).as("ts"))
    val exploded =
      if (portable)
        toks.select(col("id"), explode(col("ts")).as("t"))
          .select(col("id"), graft.functions.PortableHash.h60(col("t")).as("h"))
      else
        toks.select(col("id"), explode_outer(col("ts")).as("t"))
          .select(col("id"), xxhash64(col("t")).as("h"))
    exploded.groupBy(col("id"))
      .agg(graft.functions.GraftFunctions.graftSimhashSig(col("h")).as("sig"))
  }

  /** Chunk boundaries for signature banding: `maxHamming + 1` chunks over
    * `sigWidth` bits — pigeonhole guarantees any pair at hamming ≤
    * maxHamming shares at least one untouched chunk. (Round-1 bug: a
    * fixed 4-chunk split only guarantees recall for hamming ≤ 3, so
    * maxHamming = 6 silently missed pairs whose diffs spread across all
    * 4 chunks.) */
  private[graft] def simhashChunkBounds(sigWidth: Int, maxHamming: Int): Seq[(Int, Int)] = {
    val chunks = maxHamming + 1
    require(chunks >= 1 && chunks <= sigWidth,
      s"need 1..$sigWidth chunks, got $chunks (maxHamming=$maxHamming)")
    (0 until chunks).map { c =>
      val start = c * sigWidth / chunks
      val end = (c + 1) * sigWidth / chunks
      (start, end - start)
    }
  }

  /**
   * SimHash near-dup pairs: candidates share one of `maxHamming + 1`
   * signature chunks (pigeonhole-complete for the requested radius —
   * see [[simhashChunkBounds]]), verified by `bit_count(xor) <=
   * maxHamming`. Portable mode (60-bit md5-derived signature) is
   * oracle-replayable cross-engine.
   */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, portable: Boolean = false): DataFrame = {
    val sigWidth = if (portable) 60 else 64
    val sigd = Caches.releaseAfterUse( // released after the caller's action
      simhashSignatures(df, idCol, textCol, portable)) // referenced via both join sides
    val chunkExprs = simhashChunkBounds(sigWidth, maxHamming).map { case (start, width) =>
      // width can be 64 (maxHamming = 0, one chunk = whole signature):
      // (1L << 64) wraps to 1L on the JVM, which would mask every key
      // to 0 and cross-join the whole corpus (review finding)
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col("sig"), start).bitwiseAND(mask)
    }
    val chunked = sigd.select(col("id"), col("sig"),
      posexplode(array(chunkExprs: _*)).as(Seq("chunk", "key")))
    val l = chunked.select(col("chunk"), col("key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = chunked.select(col("chunk"), col("key"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /** WIDE (w = 128) SimHash signature table: two independent 64-bit
    * votes per token — `xxhash64(t)` for bits 0..63 and the seeded
    * `xxhash64(t, 1)` for bits 64..127 (a second draw from the same
    * family, independent because the tuple hash mixes the constant
    * into every bit) — aggregated into TWO longs by the same object
    * aggregate the 64-bit table uses. Doubling the width is SimHash's
    * honest scale lever (SCALING.md): at a fixed radius the
    * pigeonhole banding keeps `maxHamming + 1` chunks, so chunk keys
    * go from 64/(r+1) to 128/(r+1) bits and the expected bucket
    * population — hence candidate volume, the n²/buckets term —
    * drops by ~2^(64/(r+1)) on RANDOM keys (~556× at radius 6). Real
    * corpora cluster below that: measured 23.7× at sf0.1 (5.14M →
    * 217k candidates) and 20.8× at sf1 (56.2M → 2.71M) at radius 6 —
    * see SCALING.md §SimHash; [[Dedup.simhashCandidateVolume]]
    * reproduces the numbers. */
  private[operators] def simhashSignatures128(df: DataFrame,
      idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    val toks = df.select(col(idCol).as("id"), T.tokens(col(textCol)).as("ts"))
    val hashed =
      if (portable) {
        // two md5-derived 60-bit draws: the raw token and its
        // length-prefixed salted form (the saltedKey encoding, so the
        // oracle mirrors it verbatim) — inner explode like the 60-bit
        // portable mode (token-less docs drop)
        val P = graft.functions.PortableHash
        toks.select(col("id"), explode(col("ts")).as("t"))
          .select(col("id"), P.h60(col("t")).as("h0"),
            P.h60(P.saltedKey(col("t"), WideSimhashSalt)).as("h1"))
      } else
        toks.select(col("id"), explode_outer(col("ts")).as("t"))
          .select(col("id"), xxhash64(col("t")).as("h0"),
            xxhash64(col("t"), lit(1)).as("h1"))
    hashed.groupBy(col("id"))
      .agg(graft.functions.GraftFunctions.graftSimhashSig(col("h0")).as("sig0"),
        graft.functions.GraftFunctions.graftSimhashSig(col("h1")).as("sig1"))
  }

  /** Salt of the wide portable mode's second hash draw — shared with
    * the generated oracle SQL (change only together). */
  val WideSimhashSalt = "w2"

  private[operators] def chunkMask(width: Int): Long =
    if (width >= 64) -1L else (1L << width) - 1L

  /** Bits [start, start+width) of the two-long signature (sig0 holds
    * bits 0..loBits-1, sig1 the next loBits — 64 for the xxhash64
    * signature, 60 for the portable md5-derived one) as ONE long key —
    * chunks that straddle the long boundary splice the high part above
    * the low. */
  private[operators] def wideChunkKey(start: Int, width: Int,
      loBits: Int = 64): Column = {
    val end = start + width
    require(width >= 1 && width <= 64 && end <= 2 * loBits,
      s"wide chunk [$start, $end) out of range at loBits=$loBits")
    if (end <= loBits)
      shiftrightunsigned(col("sig0"), start).bitwiseAND(lit(chunkMask(width)))
    else if (start >= loBits)
      shiftrightunsigned(col("sig1"), start - loBits)
        .bitwiseAND(lit(chunkMask(width)))
    else {
      val loW = loBits - start
      shiftrightunsigned(col("sig0"), start).bitwiseAND(lit(chunkMask(loW)))
        .bitwiseOR(shiftleft(
          col("sig1").bitwiseAND(lit(chunkMask(end - loBits))), loW))
    }
  }

  /** DuckDB mirror of [[wideChunkKey]] for oracle-SQL generation. */
  private[graft] def sqlWideChunkKey(start: Int, width: Int,
      loBits: Int): String = {
    val end = start + width
    if (end <= loBits) s"((sig0 >> $start) & ${chunkMask(width)})"
    else if (start >= loBits)
      s"((sig1 >> ${start - loBits}) & ${chunkMask(width)})"
    else {
      val loW = loBits - start
      s"(((sig0 >> $start) & ${chunkMask(loW)}) | " +
        s"((sig1 & ${chunkMask(end - loBits)}) << $loW))"
    }
  }

  /**
   * [[simhashPairs]] on the WIDE w = 128 signature — identical
   * semantics AT THE SIGNATURE LEVEL (pigeonhole-complete banding for
   * the radius, exact hamming verify = popcount(xor) summed over both
   * longs, min-hamming dedup across chunk collisions), with the
   * candidate-volume scale story fixed: see [[simhashSignatures128]].
   * The default draws are xxhash64 (engine-specific, like the 64-bit
   * mode); `portable = true` switches to two md5-derived 60-bit draws
   * (w = 120, the second salted — [[WideSimhashSalt]]) that the
   * DuckDB oracle replays bit for bit (q133). q21's w = 60 oracle
   * path is unchanged.
   */
  def simhashPairs128(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, portable: Boolean = false): DataFrame = {
    // radius 0 would band on ONE 128-bit chunk — the whole signature,
    // which no single long key holds; it is also just exact-signature
    // equality, which [[Dedup.exact]] / the 64-bit path already serve
    require(maxHamming >= 1,
      s"simhashPairs128 needs maxHamming >= 1 (got $maxHamming); " +
        "radius 0 is exact-signature equality — use Dedup.exact")
    val loBits = if (portable) 60 else 64
    val sigd = Caches.releaseAfterUse(
      simhashSignatures128(df, idCol, textCol, portable))
    val chunkExprs = simhashChunkBounds(2 * loBits, maxHamming).map {
      case (start, width) => wideChunkKey(start, width, loBits) }
    val chunked = sigd.select(col("id"), col("sig0"), col("sig1"),
      posexplode(array(chunkExprs: _*)).as(Seq("chunk", "key")))
    val l = chunked.select(col("chunk"), col("key"), col("id").as("id_a"),
      col("sig0").as("sig0_a"), col("sig1").as("sig1_a"))
    val r = chunked.select(col("chunk"), col("key"), col("id").as("id_b"),
      col("sig0").as("sig0_b"), col("sig1").as("sig1_b"))
    l.join(r, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("sig0_a").bitwiseXOR(col("sig0_b"))) +
          bit_count(col("sig1_a").bitwiseXOR(col("sig1_b"))))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /**
   * Materialized WIDE-SimHash signature store — the
   * [[buildSignatureStore]] discipline for the w = 128 path, making
   * the measured 21-24× candidate-volume lever REACHABLE from the
   * incremental/streaming admission seam instead of batch-only:
   * [[buildWideSimhashStore]] pays the token + two-draw signature
   * scan once into a narrow `(id, sig0, sig1)` table (16 bytes of
   * signature per doc — history text is never re-read);
   * [[simhashWideIncremental]] checks a day's batch against all of
   * history through the pigeonhole chunk index;
   * [[appendWideSimhashSignatures]] folds the admitted batch in with
   * the same re-delivery-safe anti join. `maxHamming`/`portable` must
   * match between build, admission, and append (the chunk layout and
   * the draws are derived from them).
   */
  def buildWideSimhashStore(df: DataFrame, idCol: String, textCol: String,
      storeDir: String, portable: Boolean = false): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    simhashSignatures128(df, idCol, textCol, portable)
      .write.mode("overwrite").parquet(storeDir)
    // persist WHICH draws built this store (underscore dir — parquet
    // readers of the signature table skip it): portable (two
    // md5-derived 60-bit draws) and production (xxhash64) signatures
    // are bit-incompatible, and an admission call with the wrong flag
    // would compute garbage hamming distances SILENTLY — the r12
    // review finding on this seam (the scaladoc contract alone did
    // not enforce it)
    Seq((portable, if (portable) 60 else 64)).toDF("portable", "lo_bits")
      .coalesce(1).write.mode("overwrite")
      .parquet(storeDir + "/_wide_meta")
  }

  /** Loud draw-compatibility gate for the wide store: `portable` must
    * match the build's. Pre-meta stores (none in this repo) fall
    * through to the documented contract. */
  private def requireWideDraws(spark: SparkSession, storeDir: String,
      portable: Boolean, who: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(storeDir + "/_wide_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      // a crash between the overwrite's delete and its commit can leave
      // _wide_meta existing but empty/torn — that must read as "meta is
      // torn, rebuild", not a NoSuchElementException/parquet error on
      // every subsequent call
      val built = (try {
        spark.read.parquet(p.toString).collect().headOption
      } catch {
        case _: org.apache.spark.sql.AnalysisException => None
      }).getOrElse(throw new IllegalStateException(
        s"$who: store $storeDir has a torn/empty _wide_meta (a crashed " +
          "meta write) — the draw family can no longer be verified; " +
          "rebuild the store")).getAs[Boolean]("portable")
      require(built == portable,
        s"$who: store $storeDir was built with portable=$built but this " +
          s"call passes portable=$portable — the two draw families are " +
          "bit-incompatible, so every hamming distance would be silently " +
          "meaningless; pass the build's flag or rebuild the store")
    }
  }

  def appendWideSimhashSignatures(spark: SparkSession, admitted: DataFrame,
      idCol: String, textCol: String, storeDir: String,
      portable: Boolean = false): Unit = {
    requireWideDraws(spark, storeDir, portable, "appendWideSimhashSignatures")
    ControlPlane.dropDeadJobOutput(spark, storeDir)
    // physical-id anti (re-delivery) + tombstone anti (takedown wins)
    // — see appendSignatures
    minusDeletedSigs(spark,
      simhashSignatures128(admitted, idCol, textCol, portable)
        .join(spark.read.parquet(storeDir).select(col("id")),
          Seq("id"), "left_anti"),
      storeDir)
      .write.mode("append").parquet(storeDir)
  }

  /** Near-dup pairs (hamming ≤ maxHamming on the w = 128/120
    * signature) of a new batch against the standing
    * [[buildWideSimhashStore]] AND within the batch — the
    * [[minhashLshIncremental]] admission orientation (`id_a` = store
    * doc or lower batch id, `id_b` = the genuinely-new batch doc), so
    * [[graft.streaming.NearDupStream]]'s drop-id_b policy and
    * re-delivery idempotency ([[restrictToNew]]: a re-delivered doc
    * participates only through its store copy, a fully re-delivered
    * batch emits NOTHING) carry over unchanged. Candidates share one
    * of the `maxHamming + 1` spliced chunk keys — pigeonhole-complete
    * against history exactly as within one batch, with the wide keys'
    * n²/buckets advantage now applying to the store-vs-batch arm,
    * where n is ALL of history. */
  def simhashWideIncremental(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, storeDir: String,
      maxHamming: Int = 6, portable: Boolean = false): DataFrame = {
    require(maxHamming >= 1,
      s"simhashWideIncremental needs maxHamming >= 1 (got $maxHamming); " +
        "radius 0 is exact-signature equality — use Dedup.exact")
    requireWideDraws(spark, storeDir, portable, "simhashWideIncremental")
    // LIVE rows only — see minhashLshIncremental
    simhashWideIncrementalCore(batch, idCol, textCol,
      liveSigs(spark, storeDir), maxHamming, portable)
  }

  /** The wide-incremental admission core over an explicit live store
    * frame — shared by the dir ([[simhashWideIncremental]]) and
    * bucketed ([[simhashWideIncrementalBucketed]]) layouts; the pair
    * semantics are the layout-independent part. */
  private def simhashWideIncrementalCore(batch: DataFrame,
      idCol: String, textCol: String, ssig: DataFrame,
      maxHamming: Int, portable: Boolean): DataFrame = {
    val loBits = if (portable) 60 else 64
    val bsig = Caches.releaseAfterUse(restrictToNew(
      simhashSignatures128(batch, idCol, textCol, portable), ssig))
    val chunkExprs = simhashChunkBounds(2 * loBits, maxHamming).map {
      case (start, width) => wideChunkKey(start, width, loBits) }
    def index(sig: DataFrame): DataFrame =
      sig.select(col("id"),
        posexplode(array(chunkExprs: _*)).as(Seq("chunk", "key")))
    val bIdx = index(bsig)
    val sIdx = index(ssig)
    def verify(cand: DataFrame, sa: DataFrame, sb: DataFrame): DataFrame =
      cand
        .join(sa.select(col("id").as("id_a"), col("sig0").as("sig0_a"),
          col("sig1").as("sig1_a")), "id_a")
        .join(sb.select(col("id").as("id_b"), col("sig0").as("sig0_b"),
          col("sig1").as("sig1_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          (bit_count(col("sig0_a").bitwiseXOR(col("sig0_b"))) +
            bit_count(col("sig1_a").bitwiseXOR(col("sig1_b"))))
            .cast("int").as("hamming"))
        .filter(col("hamming") <= maxHamming)
    // store-vs-batch: history precedes, so the store id is id_a
    val candSB = sIdx.select(col("chunk"), col("key"), col("id").as("id_a"))
      .join(bIdx.select(col("chunk"), col("key"), col("id").as("id_b")),
        Seq("chunk", "key"))
      .select("id_a", "id_b").distinct()
    // batch-vs-batch among new docs: canonical ordering
    val candBB = bIdx.select(col("chunk"), col("key"), col("id").as("id_a"))
      .join(bIdx.select(col("chunk"), col("key"), col("id").as("id_b")),
        Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // the arms are disjoint (id_a is a store doc in one, a new doc in
    // the other) and candidates are distinct per arm, so no final
    // min-hamming grouping is needed
    verify(candSB, ssig, bsig).unionByName(verify(candBB, bsig, bsig))
  }

  // ---- bucketed wide-SimHash store (r16) ------------------------------
  //
  // The w = 128 family's SCALE layout — the r15 verdict's open
  // decision, resolved as CODE rather than a deferral because the
  // wide store is precisely the store that exists FOR huge corpora
  // (the 21-24× candidate-volume lever matters exactly when history
  // is large), and its dir layout's only corpus-proportional mutation
  // term — the reclaim's full-scan location of an id's rows — is the
  // term the bucketed layout removes (id IS the bucket key, so
  // Bucketing.prunedScan locates a CDC batch's files in O(batch)
  // reads, and Bucketing.reclaimFromTable rewrites only those). The
  // q141/q142 conventions transfer directly: the same D/R op log
  // (deleteSignaturesBucketed works unchanged — it reads only
  // `<table>_sigs` + the log), the same file-targeted reclaim, the
  // same terminal-op CDC dispatch, and a net-state audit as the
  // oracle surface. One structural simplification vs MinHash: there
  // is NO bands table — the chunk keys are pure bit-slices of the
  // stored signature, computed at query time — so the reclaim has no
  // second table, no band-key recompute, and no coverage check.

  private def wideMetaTable(table: String): String = s"${table}_meta"

  /** [[requireWideDraws]] for the bucketed layout: the draw family
    * lives in a one-row catalog table (`<table>_meta`) instead of the
    * dir store's `_wide_meta` file. A missing table falls through to
    * the documented contract (pre-meta grace, matching the dir
    * store); an EMPTY one is a torn rebuild — refuse, rebuild. */
  private def requireWideDrawsBucketed(spark: SparkSession,
      table: String, portable: Boolean, who: String): Unit =
    if (spark.catalog.tableExists(wideMetaTable(table))) {
      val built = spark.table(wideMetaTable(table)).collect().headOption
        .getOrElse(throw new IllegalStateException(
          s"$who: store $table has an empty ${wideMetaTable(table)} " +
            "(a torn rebuild) — the draw family can no longer be " +
            "verified; rebuild the store"))
        .getAs[Boolean]("portable")
      require(built == portable,
        s"$who: store $table was built with portable=$built but this " +
          s"call passes portable=$portable — the two draw families " +
          "are bit-incompatible, so every hamming distance would be " +
          "silently meaningless; pass the build's flag or rebuild")
    }

  /** [[buildWideSimhashStore]] on the write-time-bucketed catalog
    * layout: `(id, sig0, sig1)` lands bucketed+sorted by id into
    * `<table>_sigs` (16 signature bytes per doc — mutation scans and
    * admission antis read a narrow bucketed table, never the text),
    * and the draw family pins itself in `<table>_meta`. A rebuild
    * starts a fresh lifecycle (op log + legacy tombstones cleared,
    * same contract as [[buildSignatureStoreBucketed]]). */
  def buildWideSimhashStoreBucketed(df: DataFrame, idCol: String,
      textCol: String, table: String, buckets: Int,
      portable: Boolean = false): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    TombstoneLog.clear(spark, bucketedDlogPath(spark, table), "id")
    spark.sql(s"DROP TABLE IF EXISTS ${deletedTable(table)}")
    Bucketing.writeBucketed(
      simhashSignatures128(df, idCol, textCol, portable),
      s"${table}_sigs", "id", buckets)
    // meta LAST: a build that dies before this point leaves either no
    // store or a sigs table with no meta — and a missing meta reads
    // as the documented-contract grace, never as the WRONG family
    Seq((portable, if (portable) 60 else 64)).toDF("portable", "lo_bits")
      .coalesce(1).write.mode("overwrite")
      .saveAsTable(wideMetaTable(table))
  }

  /** Targeted physical reclaim for the bucketed WIDE store — the
    * [[reclaimSignatureTombstonesBucketed]] protocol minus the bands
    * side (no second table, no band-key recompute, no coverage
    * check): the tombstoned ids' rows leave `<table>_sigs` through
    * [[Bucketing.reclaimFromTable]] (id is the bucket key, so
    * location prunes directly), then R records re-open the ids.
    * Returns ids reclaimed. */
  def reclaimWideSimhashTombstonesBucketed(spark: SparkSession,
      ids: DataFrame, table: String): Long =
      ControlPlane(spark, ids) { (spark, ids) =>
    Bucketing.requireStrictFileReads(spark,
      "reclaimWideSimhashTombstonesBucketed")
    val dlog = bucketedDlogPath(spark, table)
    TombstoneLog.maybeFold(spark, dlog, "id")
    val seq0 = TombstoneLog.nextSeq(spark, dlog, "id")
    val dead = readDeletedBucketed(spark, table).getOrElse(return 0L)
    val target = ids.select(col(ids.columns.head).as("id")).distinct()
      .join(dead, Seq("id"), "left_semi")
      .localCheckpoint(true) // the rewrite mutates the table the plan reads
    val n = target.count()
    if (n == 0L) return 0L
    Bucketing.reclaimFromTable(spark, s"${table}_sigs", target, "id")
    TombstoneLog.append(spark, target, dlog, "id", "R", seq0)
    n
  }

  /** [[appendWideSimhashSignatures]] for the bucketed layout: one
    * narrow anti join on the catalog table (re-delivery safe) + the
    * tombstone anti (takedown wins), then the admitted signatures
    * append in the write-time bucket layout — ≤1 new file per touched
    * bucket, compaction owed on the usual cadence
    * ([[compactWideSimhashStoreBucketed]]). */
  def appendWideSimhashSignaturesBucketed(spark: SparkSession,
      admitted: DataFrame, idCol: String, textCol: String,
      table: String, buckets: Int, portable: Boolean = false): Unit = {
    requireWideDrawsBucketed(spark, table, portable,
      "appendWideSimhashSignaturesBucketed")
    Bucketing.requireStrictFileReads(spark,
      "appendWideSimhashSignaturesBucketed")
    ControlPlane.dropDeadJobOutputOf(spark, s"${table}_sigs")
    // guarded bucket-pruned anti — the r16 location crossover, same
    // as appendSignaturesBucketed
    minusDeletedBucketed(spark,
        simhashSignatures128(admitted, idCol, textCol, portable)
          .join(Bucketing.prunedScan(spark, s"${table}_sigs",
              admitted.select(col(idCol).as("id"))).select(col("id")),
            Seq("id"), "left_anti"),
        table)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "id").sortBy("id")
      .saveAsTable(s"${table}_sigs")
    // explicit caller-session visibility — see appendSignaturesBucketed
    spark.catalog.refreshTable(s"${table}_sigs")
  }

  /** REPLACE a batch in the bucketed wide store — tombstone, reclaim
    * exactly those ids' files, re-admit the new content (revives a
    * taken-down id by design; see [[upsertSignaturesBucketed]]). */
  def upsertWideSimhashSignaturesBucketed(spark: SparkSession,
      batch: DataFrame, idCol: String, textCol: String, table: String,
      buckets: Int, portable: Boolean = false): Unit =
      ControlPlane(spark, batch) { (spark, batch) =>
    requireWideDrawsBucketed(spark, table, portable,
      "upsertWideSimhashSignaturesBucketed")
    val ids = batch.select(col(idCol).as("id"))
    deleteSignaturesBucketed(spark, ids, table)
    reclaimWideSimhashTombstonesBucketed(spark, ids, table)
    appendWideSimhashSignaturesBucketed(spark, batch, idCol, textCol,
      table, buckets, portable)
  }

  /** [[applySigCdcBatchBucketed]] for the bucketed WIDE store: the
    * same terminal-op dispatch core (one-action gates, raw-batch op
    * gate) over the wide lanes. Returns (inserted, updated, deleted)
    * ids dispatched per lane. */
  def applyWideSimhashCdcBatchBucketed(spark: SparkSession,
      batch: DataFrame, table: String, buckets: Int,
      idCol: String = "doc_id", textCol: String = "text",
      opCol: String = "op", seqCol: String = "seq",
      portable: Boolean = false): (Long, Long, Long) =
    ControlPlane(spark, batch) { (spark, batch) =>
    dispatchSigCdc(spark, batch, idCol, textCol, opCol, seqCol,
      "applyWideSimhashCdcBatchBucketed",
      del = ids => deleteSignaturesBucketed(spark, ids, table),
      reclaim = ids =>
        reclaimWideSimhashTombstonesBucketed(spark, ids, table),
      append = rows => appendWideSimhashSignaturesBucketed(spark, rows,
        "doc_id", "text", table, buckets, portable),
      // the upsert's draw-family refusal, hoisted ahead of the fused
      // delete (see dispatchSigCdc: refuse before tombstoning the U
      // ids the refusal protects). D-only batches stay ungated — a
      // takedown's validity does not depend on the hash config.
      gateIU = () => requireWideDrawsBucketed(spark, table, portable,
        "applyWideSimhashCdcBatchBucketed"))
    }

  /** [[simhashWideIncremental]] against the bucketed store: identical
    * pair semantics; the store side reads its write-time bucket
    * layout and the tombstone anti broadcasts (batch-sized). */
  def simhashWideIncrementalBucketed(spark: SparkSession,
      batch: DataFrame, idCol: String, textCol: String, table: String,
      maxHamming: Int = 6, portable: Boolean = false): DataFrame = {
    require(maxHamming >= 1,
      s"simhashWideIncrementalBucketed needs maxHamming >= 1 (got " +
        s"$maxHamming); radius 0 is exact-signature equality — use " +
        "Dedup.exact")
    requireWideDrawsBucketed(spark, table, portable,
      "simhashWideIncrementalBucketed")
    simhashWideIncrementalCore(batch, idCol, textCol,
      minusDeletedBucketed(spark, spark.table(s"${table}_sigs"), table),
      maxHamming, portable)
  }

  /** AUDIT the bucketed wide store's effective state against the
    * corpus it should equal — the q141 convention minus the bands leg
    * (signatures are pure functions of the text; there is no second
    * table): one (id, sig_ok) row per expected doc, sig_ok ⇔ the live
    * stored (sig0, sig1) equals the net text's, PLUS a false row for
    * any unexpected live id. */
  def auditWideSimhashStoreBucketed(spark: SparkSession,
      expected: DataFrame, idCol: String, textCol: String,
      table: String, portable: Boolean = false): DataFrame = {
    val net = simhashSignatures128(expected, idCol, textCol, portable)
    val live = minusDeletedBucketed(spark,
      spark.table(s"${table}_sigs"), table)
    net.select(col("id"), col("sig0").as("n0"), col("sig1").as("n1"))
      .join(live.select(col("id"), col("sig0").as("s0"),
        col("sig1").as("s1")), Seq("id"), "full")
      .select(col("id"),
        coalesce(col("n0") === col("s0") && col("n1") === col("s1"),
          lit(false)).as("sig_ok"))
  }

  /** Small-file + tombstone maintenance for the bucketed wide store:
    * compact `<table>_sigs` to one file per bucket, physically
    * reclaim standing tombstones, clear the record — the
    * [[compactSignatureStore]] contract minus the bands table.
    * `<table>_meta` is untouched: the draw family is a property of
    * the hash config, not of which rows live. */
  def compactWideSimhashStoreBucketed(spark: SparkSession,
      table: String): Unit = ControlPlane(spark) { spark =>
    val dead = readDeletedBucketed(spark, table).map((_, "id"))
    Bucketing.compactTable(spark, s"${table}_sigs", dead)
    if (dead.isDefined) {
      spark.sql(s"DROP TABLE IF EXISTS ${deletedTable(table)}")
      TombstoneLog.clear(spark, bucketedDlogPath(spark, table), "id")
    }
  }

  /** Pre-verify candidate volume of the two banding widths on the
    * same corpus — the measurement behind the w = 128 scale claim
    * (distinct (id_a, id_b) bucket-collision pairs BEFORE the hamming
    * verify, the n²/buckets term the width controls). Returns
    * (candidates at w = 64, candidates at w = 128). */
  def simhashCandidateVolume(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 6): (Long, Long) = {
    def pairs(sigd: DataFrame, keys: Seq[Column]): Long = {
      val chunked = sigd.select(col("id"),
        posexplode(array(keys: _*)).as(Seq("chunk", "key")))
      chunked.as("a").join(chunked.as("b"),
          col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id")).distinct().count()
    }
    val narrow = pairs(
      simhashSignatures(df, idCol, textCol, portable = false),
      simhashChunkBounds(64, maxHamming).map { case (s, w) =>
        shiftrightunsigned(col("sig"), s).bitwiseAND(lit(chunkMask(w))) })
    val wide = pairs(simhashSignatures128(df, idCol, textCol),
      simhashChunkBounds(128, maxHamming).map { case (s, w) =>
        wideChunkKey(s, w) })
    (narrow, wide)
  }

  /**
   * Exact n-gram Jaccard ≥ threshold pairs via PREFIX FILTERING
   * (PPJoin-style): two docs with Jaccard ≥ t must share at least one of
   * either doc's ⌊(1−t)·n⌋+1 globally-rarest shingles. Only that prefix
   * enters the inverted-index join — the frequent shingles that would
   * dominate a full index self-join (df² rows each) never join at all —
   * and the (small) candidate set is verified exactly with one
   * `array_intersect` per pair over the full shingle sets.
   *
   * Shuffles: shingle-df count, per-doc re-sort, prefix index join,
   * pair verify join — all keyed, all bounded; the prefix theorem is
   * what keeps this exact AND skew-safe at 100 TB.
   *
   * The candidate machinery (df count → rarity re-sort → index
   * self-join) is keyed on `xxhash64(shingle)` rather than the shingle
   * STRING: a 5-gram text shingle is ~40 bytes, its hash 8, and those
   * three legs dominate the operator's shuffle volume. Exactness is
   * preserved, not approximated: (a) the final verification intersects
   * the full STRING sets, so a spurious hash-bucket candidate can never
   * emit a pair; (b) prefix completeness needs only a consistent total
   * order on the corpus' distinct shingles, and (df(h), h) IS one as
   * long as `xxhash64` is injective on the corpus — which the df
   * aggregate certifies in passing via a SECOND independent draw
   * (min ≟ max of the seeded `xxhash64(s, 1)` per hash group — two
   * distinct shingles sharing h almost surely differ in h2), costing
   * nothing extra: the partial aggregate already reduces to one row
   * per (partition, hash), and since round 10 that row carries 16
   * bytes of certificate instead of two ~40-byte shingle strings —
   * NO string ever crosses the wire before verification. A detected
   * collision (P ≈ D²/2⁶⁵; ~10⁻⁸ at 10⁶ distinct shingles) fails
   * LOUDLY via `raise_error` rather than silently missing a
   * qualifying pair; the detector itself is blind only to a DOUBLE
   * collision (same h AND same h2, P ≈ D²/2¹²⁹ — beneath the
   * probability of corrupted arithmetic).
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // (id, HASHED shingle set, size) — built once, reused for the index
    // AND the verification join. The cached/joined sets hold the 8-byte
    // xxhash64 images, not the ~40-byte strings: under the corpus-wide
    // injectivity certificate below, |hashes(A) ∩ hashes(B)| =
    // |A ∩ B| EXACTLY (distinct-ness and intersections transfer through
    // an injective map), so the verification join — the operator's
    // largest remaining shuffle — ships longs, and a collision that
    // would break the equality aborts the job loudly before any pair
    // is emitted. The per-element hashing is ONE codegen'd kernel call
    // per doc (graft_hash_longs), not an interpreted HOF.
    val shingled = df
      .select(col(idCol).as("id"), T.tokens(col(textCol)).as("ts"))
      .select(col("id"),
        array_distinct(T.shinglesFromTokens(col("ts"), n)).as("sset"))
    val sets = Caches.releaseAfterUse(shingled
      .select(col("id"),
        graft.functions.GraftFunctions.graftHashLongs(col("sset")).as("set"))
      .withColumn("n_sh", size(col("set"))))
    val base = shingled
      .select(col("id"), size(col("sset")).as("n_sh"),
        explode(col("sset")).as("s"))
      .withColumn("h", xxhash64(col("s")))
      // the certificate draw: an independent second hash of the SAME
      // string (tuple hashing mixes the constant into every bit) —
      // computed where the string already is, so the aggregate below
      // ships 8 bytes, not the shingle
      .withColumn("h2", xxhash64(col("s"), lit(1)))
    // global rarity order (document frequency of the hash, hash as
    // tiebreak — a total order on shingles given injectivity, which
    // the min/max guard below certifies corpus-wide on h2, strings
    // staying out of the shuffle entirely)
    val dfc = base.groupBy("h").agg(count(lit(1)).as("df"),
        min("h2").as("cmin"), max("h2").as("cmax"))
      .select(col("h"),
        when(col("cmin") === col("cmax"), col("df"))
          .otherwise(raise_error(concat(
            lit("ngramJaccardPairs: xxhash64 collision between distinct " +
              "shingles at h="), col("h"),
            lit(" — prefix order no longer total; dedupe at a different " +
              "shingle width or report upstream")))).as("df"))
    val wDoc = Window.partitionBy("id").orderBy(col("df"), col("h"))
    // prefix length n − ⌈t·n⌉ + 1 of each doc's rarest shingles — the
    // exact completeness bound. NOT ⌊(1−t)·n⌋+1: in floating point
    // 1.0−0.8 = 0.19999…96, so ⌊(1−t)·n⌋ under-counts exactly when
    // (1−t)·n is a mathematical integer (t=0.8, n=10 → prefix 2
    // instead of 3) and qualifying pairs are silently missed. The
    // 1e-9 nudge guards the mirror-image rounding of t·n (0.8·10 =
    // 8.000…004 would otherwise ceil to 9).
    val prefix = base.select("id", "n_sh", "h").join(dfc, "h")
      .withColumn("rank", row_number().over(wDoc))
      .filter(col("rank") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
    val cand = prefix.select(col("h"), col("id").as("id_a"))
      .join(prefix.select(col("h"), col("id").as("id_b")), "h")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // exact verification on candidates only
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("sa"), col("n_sh").as("na")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("sb"), col("n_sh").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa"), col("sb"))).as("inter"),
        col("na"), col("nb"))
      // threshold on the UNROUNDED ratio: the prefix theorem guarantees
      // candidates only for true Jaccard >= t, so filtering on the
      // rounded value would admit pairs in [t - 5e-5, t) that the
      // candidate stage structurally cannot produce
      .filter(col("inter") / (col("na") + col("nb") - col("inter")).cast("double")
        >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("inter") / (col("na") + col("nb") - col("inter")).cast("double"), 4)
          .as("jaccard"))
  }

  /**
   * Connected components over a near-dup pair list — the step that turns
   * pairwise matches into DEDUP CLUSTERS (keep min-id per component,
   * drop the rest). Min-label propagation: every vertex starts labeled
   * with itself; each round every vertex takes the min label among
   * itself and its neighbors; fixpoint in O(component diameter) rounds —
   * near-dup clusters are shallow (stars/chains of a few hops), so this
   * converges in a handful of rounds.
   *
   * Scale shape: each round is ONE shuffle join (edges ⋈ labels, both
   * hash-partitioned on the same key) + ONE min-aggregate, checkpointed
   * so lineage stays flat (prior rounds' checkpoint blocks are reclaimed
   * by the ContextCleaner once their Datasets go unreachable — rounds
   * are O(diameter), so at most a handful of label-table snapshots
   * coexist). The convergence count rides the SAME job as the
   * checkpoint materialization (an `observe` metric collected while the
   * snapshot writes), so each round is exactly ONE action — no separate
   * count job re-scanning the snapshot. Non-convergence within maxIter
   * THROWS rather than returning silently split clusters. For graphs
   * with giant high-diameter components (not the dedup case) use
   * [[connectedComponentsStar]] — O(log n) rounds, same join primitive.
   *
   * `reliable = true` checkpoints each round to the SparkContext's
   * checkpoint dir (`sc.setCheckpointDir`) instead of the block
   * manager: local blocks die with their executor, so a long CC run on
   * a real cluster must snapshot to durable storage or one lost
   * executor kills every subsequent round. Local runs keep the default
   * (`false`) — no checkpoint dir needed, blocks reclaimed eagerly.
   */
  /** Free the block-manager storage behind a localCheckpoint'd frame
    * whose snapshot is DEAD (a successor round is already materialized).
    * The truncated lineage cannot recompute — only ever call this on
    * frames nothing references anymore. Reliable (dir-backed)
    * checkpoints are untouched: their files are reclaimed by the
    * ContextCleaner when `spark.cleaner.referenceTracking
    * .cleanCheckpoints` is set, or by checkpoint-dir hygiene. */
  private def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Eager lineage-truncating snapshot: dir-backed when `reliable`
    * (survives executor loss; requires `sc.setCheckpointDir`), else
    * block-manager-local. */
  private def snapshot(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint(true) else df.localCheckpoint(true)

  /** Driver-local union-find over a BOUNDED directed edge list (the
    * [[connectedComponents]] fast path — see the gate there for why).
    * Union-by-min keeps every set's root at its minimum id, so root
    * lookup IS the canonical component label the distributed loop
    * converges to. Ids are integral by the caller's gate; output
    * columns carry the input id type. */
  private def localCcByMin(
      spark: org.apache.spark.sql.SparkSession, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val idType = edges.schema.head.dataType
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.collect().foreach { row =>
      val a = row.getAs[Number](0).longValue
      val b = row.getAs[Number](1).longValue
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    def typed(v: Long): Any = idType match {
      case LongType => v
      case IntegerType => v.toInt
      case ShortType => v.toShort
      case _ => v.toByte
    }
    val rows = parent.keys.toSeq.sorted
      .map(id => Row(typed(id), typed(find(id))))
    val schema = StructType(Seq(StructField("id", idType, nullable = false),
      StructField("comp", idType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows,
        math.max(1, math.min(rows.size / 50000 + 1, 32))), schema)
  }

  /** Await an `observe`d metrics row fulfilled by an already-completed
    * action. QueryExecutionListener delivery is async, so bound the
    * wait; None on the (never-seen) timeout, so callers recompute from
    * the materialized snapshot — correctness never depends on listener
    * delivery. The ONE place the wait policy lives: both CC variants'
    * convergence reads go through here. */
  private def observedRow(
      obs: org.apache.spark.sql.Observation): Option[org.apache.spark.sql.Row] =
    try {
      import scala.concurrent.Await
      import scala.concurrent.duration._
      Some(Await.result(obs.future, 120.seconds))
    } catch { case _: java.util.concurrent.TimeoutException => None }

  private def observedLong(obs: org.apache.spark.sql.Observation,
      name: String, fallback: => Long): Long =
    observedRow(obs).map { r =>
      val v = r.getAs[Any](name)
      if (v == null) 0L else v.asInstanceOf[Number].longValue()
    }.getOrElse(fallback)

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, reliable: Boolean = false,
      localMaxEdges: Long = 1000000L): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // try/finally: the non-convergence require (and any mid-loop
    // failure) must still release the corpus-pair-sized edge cache —
    // a long session retrying CC with a larger maxIter would
    // otherwise accumulate dead cached edge tables per attempt
    try {
    // SIZE-GATED LOCAL FAST PATH (AQE-style runtime adaptivity): each
    // distributed round is a fixed-cost job chain (join → aggregate →
    // checkpoint), so a SMALL edge set pays several seconds of pure
    // scheduling for milliseconds of work. Under `localMaxEdges`
    // DIRECTED edges (measured on the already-persisted dedup'd list —
    // the loop would materialize it anyway) and an integral id type,
    // one bounded collect + union-find-by-min yields the IDENTICAL
    // canonical labeling (comp = component-min id; property-tested
    // against the distributed loop). Near-dup batch deduplication
    // lives under this gate in practice — verified pairs are rare by
    // construction — while a pathological dup-heavy corpus at 100 TB
    // falls through to the distributed loop unchanged. Set
    // `localMaxEdges = 0` to force the distributed path.
    val integralIds = edges.schema.head.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (integralIds && localMaxEdges > 0 && edges.count() <= localMaxEdges)
      return localCcByMin(pairs.sparkSession, edges) // finally drops the cache
    // checkpoint per round: persist alone caches DATA but the LOGICAL
    // plan still nests every previous round — by round ~15 the driver
    // OOMs re-analyzing an exponentially growing tree (found by the
    // path-graph property test). Checkpointing truncates lineage.
    var labels = snapshot(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")), reliable)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val prev = labels
      // null sentinel, not a typed MAX constant: min() ignores nulls and
      // every id has exactly one labels row, so min(old) = previous
      // label for ANY orderable id type (a Long.MaxValue sentinel would
      // coerce to string for string ids and break the comparison)
      val neighborMin = edges.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("comp"), lit(null).as("old"))
      // carrying the previous label through the aggregation + observing
      // the changed-count on the checkpoint job itself means the whole
      // round is ONE action: join → aggregate → snapshot, convergence
      // metric collected in passing.
      val obs = org.apache.spark.sql.Observation(
        s"graft_cc_${java.util.UUID.randomUUID()}")
      val next = snapshot(
        labels.select(col("id"), col("comp"), col("comp").as("old"))
          .union(neighborMin)
          .groupBy("id").agg(min("comp").as("comp"), min("old").as("old"))
          .observe(obs,
            sum(when(col("comp") < col("old"), 1L).otherwise(0L)).as("changed")),
        reliable)
      changed = observedLong(obs, "changed",
        next.filter(col("comp") < col("old")).count())
      // the previous round's snapshot is dead once `next` materialized
      // (eager checkpoint): free its blocks instead of letting every
      // round's label table sit in the block manager until GC — in a
      // long session repeated CC calls otherwise accumulate O(calls ×
      // rounds) dead snapshots. The RETURNED snapshot is never dropped.
      dropCheckpoint(prev)
      labels = next.select("id", "comp")
      i += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds (component " +
        s"diameter exceeds maxIter) — raise maxIter or use connectedComponentsStar")
    labels
    } finally { edges.unpersist(); () }
  }

  /**
   * Incremental connected components — fold a day's new near-dup pairs
   * into a standing `(id, comp)` labeling WITHOUT re-running CC over
   * history. CC(old ∪ new) factors through the quotient graph:
   * contract every standing component to its label (labels are
   * component-min ids, so the contracted node IS the component
   * minimum), run CC over the contracted new edges — a graph bounded
   * by the batch's footprint (touched components + new ids), never the
   * corpus — then re-expand with one label-keyed remap of the standing
   * assignment. A new edge inside one existing component contracts to
   * a self-loop and drops out; a new edge between two components
   * merges their labels; the merged component's label is the min over
   * all member ids because each old label already is its component's
   * min.
   *
   * Scale shape: the corpus-sized `labels` table is only ever SCANNED
   * (once to look up the batch's endpoints, once for the final remap),
   * with the batch-derived side explicitly broadcast — zero corpus
   * shuffles, no iterative state proportional to history. The CC loop
   * runs on the contracted graph only. The daily-maintenance companion
   * to [[connectedComponents]]; same output convention (comp = min
   * member id over ids that appear in some pair), proved by the q114
   * oracle's from-scratch replay.
   */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 20, reliable: Boolean = false): DataFrame = {
    val lab = labels.select(col("id"), col("comp"))
    // batch-sized frames are eagerly snapshotted, not persisted: the
    // returned plan is evaluated by the CALLER's action, after any
    // operator-scoped persist would already be released, and a bare
    // persist would re-run the corpus-scan lookup then. Snapshotting
    // truncates lineage, so neither the internal CC actions nor the
    // final remap ever re-scan the corpus for the lookup.
    val pairs = snapshot(
      newPairs.select(col(aCol).as("a"), col(bCol).as("b")), reliable)
    val ids = pairs.select(col("a").as("id"))
      .union(pairs.select(col("b").as("id"))).distinct()
    // corpus scan #1: which batch endpoints already carry a label
    // (broadcast hash join — the corpus side never shuffles)
    val touched = snapshot(lab.join(broadcast(ids), Seq("id")), reliable)
    val ca = touched.select(col("id").as("a"), col("comp").as("la"))
    val cb = touched.select(col("id").as("b"), col("comp").as("lb"))
    val contracted = pairs
      .join(broadcast(ca), Seq("a"), "left")
      .join(broadcast(cb), Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("u"),
        coalesce(col("lb"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
    // batch ids history never saw; the self-contracted ones (only
    // intra-component or self pairs) still enter the labeling,
    // self-labeled — same appears-in-some-pair convention as the
    // from-scratch CC
    val newIds = ids.join(touched.select("id"), Seq("id"), "left_anti")
    if (contracted.isEmpty) // every new pair was intra-component/self
      lab.union(newIds.select(col("id"), col("id").as("comp")))
    else {
      val small = connectedComponents(contracted, "u", "v",
        maxIter, reliable)
      // corpus scan #2: remap standing labels whose component merged
      val relabel = small.select(col("id").as("comp"),
        col("comp").as("comp2"))
      val updatedOld = lab.join(broadcast(relabel), Seq("comp"), "left")
        .select(col("id"),
          coalesce(col("comp2"), col("comp")).as("comp"))
      // new ids in real (contracted) edges take their label from the
      // contracted run (they stand for themselves there); new ids the
      // edge filter dropped (self-pairs only) self-label
      val newLabeled = small.join(broadcast(newIds), Seq("id"))
        .select(col("id"), col("comp"))
      val selfNew = newIds
        .join(small.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("comp"))
      updatedOld.union(newLabeled).union(selfNew)
    }
  }

  /**
   * The O(log n)-round connected components: the alternating
   * large-star/small-star algorithm (Kiveris et al., "Connected
   * Components in MapReduce and Beyond", SOCC'14 — public literature).
   * Each phase attaches nodes directly to the minimum of their
   * neighborhood, halving tree heights per round — so convergence is
   * O(log n) even for a path graph, where plain min-label propagation
   * ([[connectedComponents]]) needs O(n) rounds. Same per-round
   * primitive: one per-node min (aggregate) + one join; use this
   * variant when components may be deep (long duplicate chains),
   * the propagation variant when they are shallow stars.
   *
   *  - large-star(u): m = min(Γ(u) ∪ u); emit (v, m) for v ∈ Γ(u), v > u
   *  - small-star(u): m = min(Γ(u) ∪ u); emit (v, m) for v ∈ Γ(u), v ≤ u,
   *    plus (u, m)
   *
   * At fixpoint every edge points a vertex at its component's minimum.
   */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30, reliable: Boolean = false): DataFrame = {
    var edges = snapshot(pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v")).distinct(),
      reliable) // lineage truncation — see connectedComponents
    var stable = false
    var i = 0
    // decimal sum: ANSI mode overflows a long sum of 64-bit hashes
    def checksumCols = Seq(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("h"))
    def rowSig(r: org.apache.spark.sql.Row): (Long, String) =
      (r.getAs[Any]("n").asInstanceOf[Number].longValue(),
        String.valueOf(r.getAs[Any]("h")))
    def checksum(e: DataFrame): (Long, String) =
      rowSig(e.agg(checksumCols.head, checksumCols.tail: _*).head())
    var sig = checksum(edges)
    while (!stable && i < maxIter) {
      // symmetric neighborhood view: Γ(u) from both directions
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      val afterLarge = snapshot(
        large.filter(col("u") =!= col("v")).distinct(), reliable)
      val sym2 = afterLarge.union(afterLarge.select(col("v").as("u"), col("u").as("v")))
      val mins2 = sym2.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      val small = sym2.join(mins2, "u").filter(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
      // convergence checksum observed on the checkpoint job itself —
      // one action materializes the round AND yields the fixpoint test
      val obs = org.apache.spark.sql.Observation(
        s"graft_ccstar_${java.util.UUID.randomUUID()}")
      val next = snapshot(small.filter(col("u") =!= col("v")).distinct()
        .observe(obs, checksumCols.head, checksumCols.tail: _*), reliable)
      val nextSig = observedRow(obs).map(rowSig).getOrElse(checksum(next))
      // both the intermediate large-star snapshot and the previous
      // round's edge snapshot are dead once `next` is materialized
      dropCheckpoint(afterLarge)
      dropCheckpoint(edges)
      edges = next
      stable = nextSig == sig
      sig = nextSig
      i += 1
    }
    require(stable,
      s"connectedComponentsStar did not converge in $maxIter rounds — raise maxIter")
    // fixpoint: every edge is (vertex, componentMin); roots self-label
    val nonRoots = edges.select(col("u").as("id"), col("v").as("comp"))
    val roots = edges.select(col("v").as("id")).distinct()
      .join(nonRoots.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    val out = nonRoots.union(roots).distinct()
    // vertices whose ONLY pairs are self-pairs: the u=!=v edge filter
    // dropped them, but the output convention ("comp for every id that
    // appears in some pair", matching connectedComponents) keeps them,
    // self-labeled
    val selfOnly = pairs.filter(col(aCol) === col(bCol))
      .select(col(aCol).as("id")).distinct()
      .join(out.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    out.union(selfOnly)
  }

  /**
   * Exact-dup pre-collapse composition for the near-dup pipelines — the
   * round-1 scale-risk fix. A corpus with m exact copies of one
   * document puts all m in the same LSH band/chunk/prefix bucket, and
   * the candidate self-join emits m² rows BEFORE any distinct. This
   * wrapper collapses identical `textCol` values to one representative
   * (min id), runs the pairwise matcher over representatives only, then
   * re-expands:
   *
   *  - cross-group: each rep pair fans out to all member combinations
   *    (identical texts have identical signatures, so every member pair
   *    matches exactly when its rep pair does — same score);
   *  - within-group: all member pairs at `selfScore` (identical texts
   *    are near-dups by definition — this also covers shingle-less
   *    duplicate groups the signature pipelines cannot see).
   *
   * The m² member pairs still appear in the OUTPUT (they are the
   * answer), but they are generated by a join keyed on rep_id — the
   * candidate-generation stage, where the blowup actually hurts (m²
   * rows × band fan-out through a shuffle), now costs m. Output equals
   * the uncollapsed run whenever every doc yields ≥ 1 shingle/token
   * (property-tested); shingle-less dup groups gain their within-group
   * pairs, which the uncollapsed run silently missed.
   */
  def nearDupCollapsed(df: DataFrame, idCol: String, textCol: String,
      selfScore: Column, scoreCol: String)
      (pairFn: DataFrame => DataFrame): DataFrame = {
    val members = df.select(col(idCol).as("member_id"), col(textCol).as("__t"))
    // ONE window over the text partition tags every member with its
    // group representative — reps and membership both derive from this
    // subplan, so the single wide-text exchange below it is shared (and
    // reused by Catalyst) across all four consumers. The former shape —
    // a groupBy-by-text persisted plus a null-safe join back — needed
    // two operator-owned persists with no unpersist point, leaking
    // cached blocks across calls in a long-lived session (round-2
    // advice). Window partitioning groups NULL texts together exactly
    // like groupBy did, so null-text docs keep their within-group pairs.
    val tagged = members.withColumn("rep_id",
      min(col("member_id")).over(Window.partitionBy(col("__t"))))
    val reps = tagged.filter(col("member_id") === col("rep_id"))
      .select(col("rep_id").as(idCol), col("__t").as(textCol))
    val mem = tagged.select(col("member_id"), col("rep_id"))
    val repPairs = pairFn(reps).select(col("id_a"), col("id_b"), col(scoreCol))
    // rep ordering does not survive expansion (a member of the smaller
    // rep's group can outnumber the other side) — re-canonicalize.
    val cross = repPairs
      .join(mem.select(col("rep_id").as("id_a"), col("member_id").as("ma")), "id_a")
      .join(mem.select(col("rep_id").as("id_b"), col("member_id").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col(scoreCol))
    val within = mem.as("x").join(mem.as("y"), Seq("rep_id"))
      .filter(col("x.member_id") < col("y.member_id"))
      .select(col("x.member_id").as("id_a"), col("y.member_id").as("id_b"),
        selfScore.as(scoreCol))
    cross.unionByName(within)
  }

  /** SCALE-ADAPTIVE LSH width: the smallest `bits` in [minBits,
    * maxBits] with 2^bits buckets ≥ nItems / targetBucket, i.e. the
    * width that keeps the EXPECTED bucket size ≤ targetBucket so the
    * per-bucket self-join stays ~targetBucket·n (linear), never
    * n²/2^bits (quadratic — the fixed-width failure at growing n,
    * same class as the fixed-k semantic-dedup and fixed-nlist IVF
    * hazards closed in rounds 8-9). INTEGER arithmetic only — the
    * DuckDB oracle derives the identical value from count(*) with the
    * same ladder, so the adaptive choice is exactly replayable
    * cross-engine (no float log2 whose last-ulp could flip a ceil).
    *
    * Recall law (document, don't hide): a qualifying pair at angle θ
    * shares a table's bucket w.p. (1−θ/π)^bits, so +Δbits multiplies
    * per-table recall by (1−θ/π)^Δ — hold overall recall by growing
    * `tables` ∝ (1−θ/π)^−Δ (LSH amplification), a COST knob the
    * caller owns; measure with an exact-pair sample before trusting
    * any (bits, tables) at a new scale. */
  def adaptiveLshBits(nItems: Long, targetBucket: Long = 256L,
      minBits: Int = 6, maxBits: Int = 20): Int = {
    require(targetBucket >= 1 && minBits >= 1 && maxBits >= minBits)
    var b = minBits
    while (b < maxBits && nItems > targetBucket * (1L << b)) b += 1
    b
  }

  /** LSH AMPLIFICATION companion of [[adaptiveLshBits]]: the table
    * count that compensates the per-table recall the extra width
    * costs — doubling `base` per +2 bits over `minBits` (an integer
    * power-of-2 ladder, so the DuckDB oracle replays it exactly from
    * the same `bits`; a float `acos(threshold)`-derived factor could
    * flip a ceil in the last ulp cross-engine). The doubling holds
    * overall recall EXACTLY when a qualifying pair agrees per bit
    * w.p. 2^(-1/2) (cosine ≈ 0.61); every near-dup threshold above
    * that (the 0.9+ settings dedup actually runs) agrees MORE often,
    * so the ladder over-compensates — recall at (bits, tables') ≥
    * recall at (minBits, base). Capped at `maxTables`: past the cap,
    * cost stays bounded and the residual per-table recall loss is the
    * caller's documented lever (raise maxTables or pre-collapse). */
  def adaptiveLshTables(base: Int, minBits: Int, nbits: Int,
      maxTables: Int = 16): Int = {
    require(base >= 1 && nbits >= minBits)
    math.min(maxTables, base << ((nbits - minBits + 1) / 2))
  }

  /**
   * Embedding near-dup: cosine ≥ threshold pairs, candidate-limited to
   * shared LSH buckets (multi-probe over `tables` independent tables so
   * recall survives unlucky hyperplanes). `portableDim > 0` switches to
   * plan-time hyperplane literals over that dimensionality
   * ([[graft.functions.PortableHash.planes]]) so the DuckDB oracle can
   * replay the bucketing on the identical constants. `bits = 0` picks
   * the scale-adaptive width ([[adaptiveLshBits]] at this corpus'
   * count — one bounded metadata-count action at plan time), keeping
   * bucket population bounded as the corpus grows, AND amplifies the
   * table count with it ([[adaptiveLshTables]] from the same `tables`
   * base) so the extra width's per-table recall cost is compensated
   * rather than silently absorbed; both choices are integer-derived
   * from count(*) and logged, so the oracle replays them exactly.
   * With explicit `bits > 0`, `tables` is used as passed.
   */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 0, tables: Int = 2,
      portableDim: Int = 0): DataFrame = {
    val nbits = if (bits > 0) bits else adaptiveLshBits(df.count())
    // adaptive width WITHOUT amplification would silently shrink
    // per-table recall by (1-θ/π)^Δbits as the corpus grows — when the
    // width adapts, the table count adapts with it (r9 advice), and the
    // choice is logged so a recall change is never invisible
    val ntables = if (bits > 0) tables
      else adaptiveLshTables(tables, minBits = 6, nbits = nbits)
    if (nbits != 6 || ntables != tables)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"embeddingNearDup adaptive LSH: bits=$nbits tables=$ntables " +
          s"(base tables=$tables at 6 bits; per-table recall scales by " +
          s"(1-theta/pi)^${nbits - 6}, amplification compensates at " +
          "cosine >= 0.61)")
    // unit-normalize once per vector (norm staged as attribute) so the
    // per-pair verification is a single dot product. Buckets hash the
    // RAW vector (sign bits are scale-invariant — same bucket either way).
    val vecs = Caches.releaseAfterUse( // released after the caller's action
      df.select(col(idCol).as("id"), col(vecCol).as("v0"),
        V.unitVec(col(vecCol)).as("v"))) // bucketing + both verify sides
    val bucketExprs =
      if (portableDim > 0) (0 until ntables).map(t =>
        V.lshBucketPlanes(col("v0"),
          graft.functions.PortableHash.planes(58 + t, nbits, portableDim)))
      else (0 until ntables).map(t => V.lshBucket(col("v0"), nbits, seed = 58 + t))
    val bucketed = vecs.select(col("id"),
      posexplode(array(bucketExprs: _*)).as(Seq("tbl", "bucket")))
    // distinct pairs first (multi-table collisions dedup'd before the
    // cosine), then join the vectors back for exact verification.
    val cand = bucketed.select(col("tbl"), col("bucket"), col("id").as("id_a"))
      .join(bucketed.select(col("tbl"), col("bucket"), col("id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        // the threshold applies to the 4-dp ROUNDED cosine by design —
        // the opposite of the exact-ratio paths (verifyPairs,
        // ngramJaccardPairs), which threshold unrounded: a float dot
        // differs from DuckDB's list_cosine_similarity in last ulps,
        // so quantizing to 4 decimals BEFORE the decision is what
        // makes the pair set identical cross-engine. Cost: the
        // decision boundary sits at threshold - 5e-5 of true cosine —
        // a quantization the caller's threshold choice absorbs.
        round(V.dot(col("va"), col("vb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /**
   * Semantic dedup, SemDeDup-shaped (Abbas et al. 2023, "SemDeDup: Data-
   * efficient learning at web-scale through semantic deduplication"):
   * cluster the corpus with the coarse quantizer, then compare pairs
   * ONLY within a cluster — the cluster bounds the candidate set the way
   * an LSH bucket does, but by learned/derived geometry rather than
   * random hyperplanes, so it also catches near-dups LSH tables miss.
   *
   * Output is one row per vector: (vec_id, cluster_id, keep). A vector
   * is dropped when a PRECEDING clustermate sits within `threshold`
   * cosine — the greedy first-wins admission rule of incremental dedup
   * (q91), deterministic and engine-replayable. The default precedence
   * is the paper's keep policy: farthest-from-centroid first (lowest
   * cosine-to-centroid survives a dup group — SemDeDup keeps the
   * low-similarity member to preserve diversity), id as the tiebreak;
   * `keepFarthest = false` orders by id alone (the cheaper key when
   * the diversity preference doesn't matter).
   *
   * Scale shape: centroids ship as plan-time literals (bounded k×dim
   * collect — the [[Similarity.ivfTopK]] quantizer reused), so
   * assignment is a zero-shuffle codegen'd map; the ONE shuffle is the
   * self-join on cluster_id. Pairwise cost is Σ m_c² with k chosen so
   * clusters stay ~10³-10⁴ vectors (k grows with the corpus — SemDeDup
   * uses k≈10⁵ for 10⁹ embeddings); skewed giant clusters split by
   * raising k or pre-collapsing exact dups ([[nearDupCollapsed]]).
   */
  def semanticDedup(df: DataFrame, k: Int = 0, threshold: Double = 0.95,
      keepFarthest: Boolean = true): DataFrame = {
    val c = Similarity.unitVecs(df, "id", "v")
    // k = 0 → √N with a floor of 8 (SemDeDup's own discipline: cluster
    // count grows with the corpus). Pairwise cost is Σ m_c² ≈ n²/k, so
    // a FIXED k is silently quadratic — measured ×7.6 per 4× rows at
    // sf1 before this (SCALING.md round-9); √N keeps it n^1.5-bounded
    // with balanced clusters. One count, only when adaptive.
    val kk = if (k > 0) k
      else math.max(8, math.round(math.sqrt(df.count().toDouble)).toInt)
    val centers = Similarity.hashPickCentroids(
      c.select(col("id").as("item_id"), col("v").as("item_vec")), kk)
    // normalize + assign once; both the pair join's sides and the final
    // keep-list read it (released after the caller's action). cosc (the
    // argmax cosine itself) is kept: it IS the keep-policy sort key.
    val assigned = Caches.releaseAfterUse(
      c.withColumn("best", array_max(Similarity.centScores(centers, col("v"))))
        .select(col("id"), col("v"),
          col("best").getField("lid").as("cluster_id"),
          col("best").getField("d").as("cosc")))
    // strict total order: exactly one orientation of each pair passes,
    // self-pairs pass neither
    val precedes =
      if (keepFarthest)
        col("cosc_a") < col("cosc_b") ||
          (col("cosc_a") === col("cosc_b") && col("id_a") < col("id_b"))
      else col("id_a") < col("id_b")
    val dropped = assigned
      .select(col("cluster_id"), col("id").as("id_a"), col("v").as("va"),
        col("cosc").as("cosc_a"))
      .join(assigned.select(col("cluster_id"), col("id").as("id_b"),
        col("v").as("vb"), col("cosc").as("cosc_b")), Seq("cluster_id"))
      .filter(precedes)
      // 4-dp-rounded threshold: the embeddingNearDup cross-engine
      // quantization contract (see its scaladoc note) — NOT an
      // oversight; the oracle replays the same rounded decision
      .filter(round(V.dot(col("va"), col("vb")), 4) >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.select(col("id"), col("cluster_id"))
      .join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cluster_id"),
        col("__drop").isNull.as("keep"))
  }
}
