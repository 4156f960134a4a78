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

  // ---- Signature stores ---------------------------------------------

  /** What a signature store's signature is. */
  sealed trait SigKind {
    def portable: Boolean
    /** The signature table of `df`: `id` plus [[sigCols]]. */
    private[Dedup] def signatures(df: DataFrame, idCol: String,
        textCol: String): DataFrame
    private[Dedup] def sigCols: Seq[String]
    /** Candidate keys `(id, band, bucket)`: docs sharing a key are
      * verified as a pair. */
    private[Dedup] def index(sigs: DataFrame): DataFrame
    /** Verified pairs of `cand` (id_a, id_b), `a` and `b` signatures. */
    private[Dedup] def verify(cand: DataFrame, a: DataFrame, b: DataFrame,
        threshold: Double): DataFrame
  }

  /** MinHash over character `shingleN`-grams, banded into `bands` LSH
    * bands; pairs carry `est_jaccard`. `portable` selects the
    * md5-derived hash the DuckDB oracle replays (dir layout only: its
    * band key is an array, not a legal bucket column). */
  final case class MinHash(numHashes: Int = 64, bands: Int = 8,
      shingleN: Int = 5, portable: Boolean = false) extends SigKind {
    private[Dedup] def signatures(df: DataFrame, idCol: String,
        textCol: String): DataFrame =
      minhashSignatures(df, idCol, textCol, numHashes, shingleN, portable)
    private[Dedup] def sigCols = Seq("sig")
    private[Dedup] def index(sigs: DataFrame): DataFrame =
      bandedIndex(sigs, bands, bandRows(numHashes, bands), portable)
    private[Dedup] def verify(cand: DataFrame, a: DataFrame, b: DataFrame,
        threshold: Double): DataFrame =
      verifyPairs(cand, a, b, numHashes, threshold)
  }

  /** The w = 128 SimHash ([[simhashSignatures128]]: two 64-bit draws,
    * or two md5-derived 60-bit draws when `portable`), candidates by
    * the `maxHamming + 1` pigeonhole chunks, pairs verified by summed
    * popcount and carrying `hamming`. */
  final case class WideSimhash(maxHamming: Int = 6,
      portable: Boolean = false) extends SigKind {
    private[Dedup] def signatures(df: DataFrame, idCol: String,
        textCol: String): DataFrame =
      simhashSignatures128(df, idCol, textCol, portable)
    private[Dedup] def sigCols = Seq("sig0", "sig1")
    private[Dedup] def index(sigs: DataFrame): DataFrame = {
      val loBits = if (portable) 60 else 64
      sigs.select(col("id"), posexplode(array(
          simhashChunkBounds(2 * loBits, maxHamming).map {
            case (start, width) => wideChunkKey(start, width, loBits) }: _*))
        .as(Seq("band", "bucket")))
    }
    private[Dedup] def verify(cand: DataFrame, a: DataFrame, b: DataFrame,
        threshold: Double): DataFrame =
      cand
        .join(a.select(col("id").as("id_a"), col("sig0").as("sig0_a"),
          col("sig1").as("sig1_a")), "id_a")
        .join(b.select(col("id").as("id_b"), col("sig0").as("sig0_b"),
          col("sig1").as("sig1_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          (bit_count(col("sig0_a").bitwiseXOR(col("sig0_b"))) +
            bit_count(col("sig1_a").bitwiseXOR(col("sig1_b"))))
            .cast("int").as("hamming"))
        .filter(col("hamming") <= maxHamming)
  }

  /** Where a signature store lives. */
  sealed trait SigLayout

  /** A parquet dir of `(id, sig…)` rows; tombstones in `<path>/_deleted`
    * and, for wide SimHash, the draw record in `<path>/_wide_meta`
    * (underscore dirs: invisible to the signature read). */
  final case class Dir(path: String) extends SigLayout

  /** Catalog tables written bucketed by their join keys, so admission
    * shuffles only the batch: `<table>_sigs` by id, and for MinHash
    * the inverted band index `<table>_bands` by (band, bucket). The
    * tombstone log lives at `<warehouse>/<table>__dlog`, outside both
    * table dirs (a compaction's drop and rename must never take it
    * along), with a legacy D-only `<table>_deleted` table folded in;
    * wide SimHash records its draws in `<table>_meta`. `buckets` is
    * what build and append write; reads take the table's own. */
  final case class Bucketed(table: String, buckets: Int) extends SigLayout

  /** Why a [[SigStore]] refused a call. */
  sealed trait SigRefusal
  object SigRefusal {
    /** The call's `portable` differs from the draws the store was built with. */
    case object DrawMismatch extends SigRefusal
    /** The draw record exists but is empty: the build died writing it. */
    case object TornMeta extends SigRefusal
    /** A CDC batch carries an op other than I, U or D. */
    case object BadOp extends SigRefusal
    /** A CDC insert or update carries no text. */
    case object BodilessIU extends SigRefusal
    /** Portable MinHash on the bucketed layout. */
    case object PortableBucketed extends SigRefusal
  }

  final class SigStoreRefused(val store: SigStore, val reason: SigRefusal,
      msg: String) extends IllegalArgumentException(msg)

  /**
   * A materialized signature store: history's signatures computed once
   * so that admission bands a day's batch against the store instead
   * of re-reading history text (the [[FingerprintIndex]] discipline
   * for near-dups). Every lifecycle operation has one implementation;
   * the kind supplies the signature, its candidate keys and the
   * verify, the layout supplies where rows, tombstones and the draw
   * record live and how files are located and rewritten.
   *
   * Deletes are tombstones in a [[TombstoneLog]] (D takes an id down,
   * R re-opens it, latest seq wins): a deleted doc stops matching at
   * once, and appends drop it (takedown wins over a late re-delivery)
   * until [[reclaim]] removes its rows and re-opens it, as [[upsert]]
   * does, or [[compact]] rewrites the store. Signatures are pure
   * functions of the text, so every operation converges when re-run
   * after a crash or replayed with the same batch: appends anti-join
   * the stored ids, reclaims rewrite only files that still hold their
   * targets, and R records land last. The hash parameters must match
   * between the build and every later call; the wide SimHash draw
   * family is recorded at build and checked ([[SigRefusal]]). One
   * writer at a time, as for every store.
   */
  final case class SigStore(kind: SigKind, layout: SigLayout) {
    (kind, layout) match {
      case (m: MinHash, _: Bucketed) if m.portable =>
        refuse(SigRefusal.PortableBucketed, "portable MinHash cannot be " +
          "bucketed: its band key is an array, not a legal bucket column")
      case _ =>
    }

    private def refuse(reason: SigRefusal, msg: String): Nothing =
      throw new SigStoreRefused(this, reason, s"$this: $msg")

    private def sigTableName(t: String) = s"${t}_sigs"
    /** The bucketed layout's tables, bands first: appends write them in
      * this order (see [[append]]). */
    private def tables(t: String): Seq[String] = kind match {
      case _: MinHash => Seq(s"${t}_bands", sigTableName(t))
      case _: WideSimhash => Seq(sigTableName(t))
    }
    private def legacyDeleted(t: String) = s"${t}_deleted"

    private def sigTable(spark: SparkSession): DataFrame = layout match {
      case Dir(p) => spark.read.parquet(p)
      case Bucketed(t, _) => spark.table(sigTableName(t))
    }

    private def dlog(spark: SparkSession): String = layout match {
      case Dir(p) => p + "/_deleted"
      case Bucketed(t, _) =>
        spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
          s"/${t}__dlog"
    }

    /** The ids standing tombstoned, or None when nothing ever was. The
      * bucketed layout folds legacy `<table>_deleted` rows in at seq -1,
      * so any log record for the same id supersedes them. */
    private def dead(spark: SparkSession): Option[DataFrame] = layout match {
      case Dir(_) => TombstoneLog.resolved(spark, dlog(spark), "id")
      case Bucketed(t, _) =>
        val legacy =
          if (spark.catalog.tableExists(legacyDeleted(t)))
            Some(spark.table(legacyDeleted(t)).select("id")
              .withColumn("seq", lit(-1L)).withColumn("op", lit("D")))
          else None
        (legacy ++ TombstoneLog.read(spark, dlog(spark), "id"))
          .reduceOption(_.unionByName(_))
          .map(_.groupBy("id")
            .agg(max(struct(col("seq"), col("op"))).as("last"))
            .filter(col("last.op") === "D").select("id"))
    }

    /** [[dead]] and the log's next seq, for a mutation that appends to
      * the log. The dir layout takes both from one read of its log. */
    private def tombstones(spark: SparkSession): (Option[DataFrame], Long) =
      layout match {
        case Dir(_) =>
          val (ops, seq0) = TombstoneLog.snapshot(spark, dlog(spark), "id")
          (ops.map(_.filter(col("op") === "D").select("id")), seq0)
        case Bucketed(_, _) =>
          val seq0 = TombstoneLog.nextSeq(spark, dlog(spark), "id")
          (dead(spark), seq0)
      }

    /** `df` without tombstoned ids (broadcast: the tombstone side is
      * takedown-sized, so the store side never re-shuffles). */
    private def minusDead(spark: SparkSession, df: DataFrame): DataFrame =
      dead(spark).fold(df)(d =>
        df.join(broadcast(d.select("id")), Seq("id"), "left_anti"))

    /** The live signature rows every admission compares against. */
    private def live(spark: SparkSession): DataFrame =
      minusDead(spark, sigTable(spark))

    /** The stored ids among `ids`' (a one-column `id` frame). The
      * bucketed layout reads only the ids' bucket files when that is
      * selective ([[Bucketing.prunedScan]]'s guard). */
    private def stored(spark: SparkSession, ids: DataFrame): DataFrame =
      (layout match {
        case Dir(_) => sigTable(spark)
        case Bucketed(t, _) => Bucketing.prunedScan(spark, sigTableName(t), ids)
      }).select("id")

    private def requireMutable(spark: SparkSession, who: String): Unit =
      if (layout.isInstanceOf[Bucketed])
        Bucketing.requireStrictFileReads(spark, s"$this.$who")

    /** Refuses a wide SimHash call whose draws differ from the build's:
      * the two families are bit-incompatible, and every hamming
      * distance would be meaningless. A store without a draw record
      * (none built here) passes; an empty record is a torn build. */
    private def requireDraws(spark: SparkSession, who: String): Unit =
      kind match {
        case w: WideSimhash =>
          val recorded: Option[Option[org.apache.spark.sql.Row]] =
            layout match {
              case Dir(p) =>
                val m = new org.apache.hadoop.fs.Path(p + "/_wide_meta")
                if (!m.getFileSystem(spark.sparkContext.hadoopConfiguration)
                    .exists(m)) None
                else Some(try spark.read.parquet(m.toString).collect().headOption
                  catch { case _: org.apache.spark.sql.AnalysisException => None })
              case Bucketed(t, _) =>
                if (!spark.catalog.tableExists(s"${t}_meta")) None
                else Some(spark.table(s"${t}_meta").collect().headOption)
            }
          recorded.foreach { row =>
            val built = row.getOrElse(refuse(SigRefusal.TornMeta,
              s"$who: the draw record is torn or empty (a crashed meta " +
                "write) — the draw family can no longer be verified; " +
                "rebuild the store")).getAs[Boolean]("portable")
            if (built != w.portable)
              refuse(SigRefusal.DrawMismatch, s"$who: the store was built " +
                s"with portable=$built but this call passes " +
                s"portable=${w.portable} — the two draw families are " +
                "bit-incompatible, so every hamming distance would be " +
                "silently meaningless; pass the build's flag or rebuild " +
                "the store")
          }
        case _: MinHash =>
      }

    /** Writes the store from `df`'s (idCol, textCol) rows, replacing
      * any previous one. A rebuild starts a fresh lifecycle: standing
      * tombstones describe the old store. */
    def build(df: DataFrame, idCol: String, textCol: String): Unit = {
      val spark = df.sparkSession
      import spark.implicits._
      val meta = Seq((kind.portable, if (kind.portable) 60 else 64))
        .toDF("portable", "lo_bits").coalesce(1).write.mode("overwrite")
      layout match {
        case Dir(p) =>
          // the overwrite takes the old `_deleted` log with it
          kind.signatures(df, idCol, textCol).write.mode("overwrite").parquet(p)
          if (kind.isInstanceOf[WideSimhash]) meta.parquet(p + "/_wide_meta")
        case Bucketed(t, b) =>
          require(b > 0, s"buckets must be > 0, got $b")
          TombstoneLog.clear(spark, dlog(spark), "id")
          spark.sql(s"DROP TABLE IF EXISTS ${legacyDeleted(t)}")
          writeBucketed(kind.signatures(df, idCol, textCol), t, b, "overwrite")
          // meta last: a build that dies first leaves no record, which
          // passes the draw gate, never a record of the wrong family
          if (kind.isInstanceOf[WideSimhash]) meta.saveAsTable(s"${t}_meta")
      }
    }

    /** Writes `sigs` (and for MinHash its band index) into the bucketed
      * tables, bands first. */
    private def writeBucketed(sigs0: DataFrame, t: String, b: Int,
        mode: String): Unit = {
      // one signature pass feeds MinHash's two tables; a single-table
      // write from a cached frame would cost one more job
      val sigs =
        if (tables(t).size > 1) sigs0.persist(StorageLevel.MEMORY_AND_DISK)
        else sigs0
      try tables(t).foreach { name =>
        val (rows, keys) =
          if (name == sigTableName(t)) (sigs, Seq("id"))
          else (kind.index(sigs), Seq("band", "bucket"))
        rows.write.mode(mode).format("parquet")
          .bucketBy(b, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
          .saveAsTable(name)
      } finally sigs.unpersist()
    }

    /** Folds an admitted batch into the store. Ids already stored are
      * skipped (a re-delivery), and so are tombstoned ids: takedown
      * wins until a reclaim re-opens them. */
    def append(spark: SparkSession, admitted: DataFrame, idCol: String,
        textCol: String): Unit = {
      requireDraws(spark, "append")
      requireMutable(spark, "append")
      val fresh = minusDead(spark, kind.signatures(admitted, idCol, textCol)
        .join(stored(spark, admitted.select(col(idCol).as("id"))),
          Seq("id"), "left_anti"))
      layout match {
        case Dir(p) =>
          ControlPlane.dropDeadJobOutput(spark, p)
          fresh.write.mode("append").parquet(p)
        case Bucketed(t, b) =>
          // bands before sigs, both ways load-bearing: a recompute of
          // `fresh` after the sigs write would anti-join its own rows
          // and append no bands; and a crash between the writes leaves
          // band rows that a re-delivery duplicates (absorbed by the
          // pairs' distinct), where the reverse order would leave the
          // docs' band rows missing for good
          tables(t).foreach(ControlPlane.dropDeadJobOutputOf(spark, _))
          writeBucketed(fresh, t, b, "append")
          // the inserts ran through `fresh`'s own session (in a
          // foreachBatch, the stream's clone): refresh the caller's
          // cached listings so a reader right after sees the rows
          tables(t).foreach(spark.catalog.refreshTable)
      }
    }

    /** Tombstones the stored ids among `ids`' first column; ids not
      * stored or already down file nothing. Returns the number of new
      * tombstones. */
    def delete(spark: SparkSession, ids: DataFrame): Long =
        ControlPlane(spark, ids) { (spark, ids) =>
      requireMutable(spark, "delete")
      TombstoneLog.maybeFold(spark, dlog(spark), "id")
      val (dead, seq0) = tombstones(spark)
      val want0 = ids.select(col(ids.columns.head).as("id")).distinct()
      val want = want0.join(stored(spark, want0), Seq("id"), "left_semi")
      val fresh = dead.fold(want)(d => want.join(d, Seq("id"), "left_anti"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val n = fresh.count()
        if (n > 0) TombstoneLog.append(spark, fresh, dlog(spark), "id", "D", seq0)
        n
      } finally fresh.unpersist(blocking = false)
    }

    /**
     * Removes the rows of the tombstoned ids among `ids`' first column
     * and re-opens those ids, leaving every other tombstone standing
     * for [[compact]]. Only files holding a target row are rewritten:
     * their surviving rows are appended, then the files deleted, then
     * R records land. A death anywhere leaves the tombstones standing
     * over transient duplicates or missing rows, which reads correctly
     * and which the re-run completes without duplicating survivors.
     * Returns the number of ids reclaimed.
     */
    def reclaim(spark: SparkSession, ids: DataFrame): Long =
        ControlPlane(spark, ids) { (spark, ids) =>
      requireMutable(spark, "reclaim")
      TombstoneLog.maybeFold(spark, dlog(spark), "id")
      val (dead, seq0) = tombstones(spark)
      val want = ids.select(col(ids.columns.head).as("id")).distinct()
        .join(dead.getOrElse(return 0L), Seq("id"), "left_semi")
      // the bucketed rewrite appends to and deletes files of the tables
      // this plan reads: sever its lineage (batch-sized) first
      val target = layout match {
        case Dir(_) => want.persist(StorageLevel.MEMORY_AND_DISK)
        case Bucketed(_, _) => want.localCheckpoint(true)
      }
      try {
        val n = target.count()
        if (n == 0L) return 0L
        layout match {
          case Dir(p) => reclaimFiles(spark, p, target)
          case Bucketed(t, _) => kind match {
            case m: MinHash =>
              // the two legs touch one table each, and tombstones hide
              // the ids throughout, so they run concurrently
              val hint = bandHint(spark, t, m, target, n)
              ControlPlane.par2(spark)(
                Bucketing.reclaimFromTable(spark, s"${t}_bands", target, "id", hint),
                Bucketing.reclaimFromTable(spark, sigTableName(t), target, "id"))
            case _: WideSimhash =>
              Bucketing.reclaimFromTable(spark, sigTableName(t), target, "id")
          }
        }
        TombstoneLog.append(spark, target, dlog(spark), "id", "R", seq0)
        n
      } finally target.unpersist(blocking = false)
    }

    /** The dir layout's rewrite: the flat dir has no buckets, so the
      * unit is the file. Survivors are anti-joined against the target
      * AND, by id, against every other file: a re-run after a death
      * between the move-in and the deletes finds its survivors already
      * present and moves nothing twice. */
    private def reclaimFiles(spark: SparkSession, p: String,
        target: DataFrame): Unit = {
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rows = spark.read.parquet(p).withColumn("_f", input_file_name())
      val affected = rows.join(broadcast(target), Seq("id"), "left_semi")
        .select("_f").distinct()
        .collect().map(_.getString(0)) // bounded by the batch size
      if (affected.isEmpty) return
      val staging = new org.apache.hadoop.fs.Path(p + "/_reclaim_staging")
      spark.read.parquet(affected.toIndexedSeq: _*)
        .join(broadcast(target), Seq("id"), "left_anti")
        .join(rows.filter(!col("_f").isin(affected.toIndexedSeq: _*))
          .select("id"), Seq("id"), "left_anti")
        .write.mode("overwrite").parquet(staging.toString)
      fs.listStatus(staging)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          require(fs.rename(f.getPath, new org.apache.hadoop.fs.Path(
            root, "reclaimed-" + f.getPath.getName)),
            s"$this.reclaim: could not move ${f.getPath} into $root")
        }
      affected.foreach(u =>
        fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(u)), false))
      fs.delete(staging, true)
    }

    /** The (band, bucket) keys of the targets' stored signatures, so the
      * bands reclaim reads only their bucket files — or None for the
      * full scan. The keys are a function of the stored sig and the
      * kind's `numHashes`/`bands`; a mismatch with the build would name
      * the wrong buckets and leave rows standing, so the keys are
      * trusted only when every target's `bands` rows are found among
      * them. When `2 × targets × bands` reaches the bucket count the
      * prune could not pass [[Bucketing.prunedScan]]'s guard anyway,
      * and the recompute is skipped. */
    private def bandHint(spark: SparkSession, t: String, m: MinHash,
        target: DataFrame, n: Long): Option[DataFrame] = {
      val nBandBuckets = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier(s"${t}_bands"))
        .bucketSpec.map(_.numBuckets).getOrElse(0)
      if (n * m.bands * 2 >= nBandBuckets) return None
      // checkpointed: the bands rewrite must not re-evaluate this
      // against the files it mutates
      val storedSigs = Bucketing.prunedScan(spark, sigTableName(t), target)
        .join(broadcast(target), Seq("id"), "left_semi")
        .select("id", "sig").localCheckpoint(true)
      val bandKeys = m.index(storedSigs).select("band", "bucket")
      val located = Bucketing.prunedScan(spark, s"${t}_bands", bandKeys)
        .join(broadcast(target), Seq("id"), "left_semi")
        .groupBy("id").agg(count(lit(1)).as("c"))
      val short = storedSigs.select("id")
        .join(located.filter(col("c") >= m.bands), Seq("id"), "left_anti")
        .count()
      if (short == 0L) Some(bandKeys) else None
    }

    /** Replaces the content of `batch`'s ids: tombstone, reclaim exactly
      * those ids, admit the new text. An upsert is an explicit
      * replacement, so it revives a taken-down id. */
    def upsert(spark: SparkSession, batch: DataFrame, idCol: String,
        textCol: String): Unit = ControlPlane(spark, batch) { (spark, batch) =>
      requireDraws(spark, "upsert")
      val ids = batch.select(col(idCol).as("id"))
      delete(spark, ids)
      reclaim(spark, ids)
      append(spark, batch, idCol, textCol)
    }

    /** Applies one CDC micro-batch of (id, text, op, seq) rows, op ∈
      * {I, U, D}: D tombstones, U replaces ([[upsert]]), I appends
      * (takedown wins). See [[dispatchSigCdc]]. Returns the (inserted,
      * updated, deleted) ids dispatched. */
    def applyCdc(spark: SparkSession, batch: DataFrame,
        idCol: String = "doc_id", textCol: String = "text",
        opCol: String = "op", seqCol: String = "seq"): (Long, Long, Long) =
      ControlPlane(spark, batch) { (spark, batch) =>
        dispatchSigCdc(spark, batch, idCol, textCol, opCol, seqCol, this,
          del = ids => delete(spark, ids),
          reclaim = ids => reclaim(spark, ids),
          append = rows => append(spark, rows, "doc_id", "text"),
          // refuse before tombstoning the U ids the refusal protects;
          // a takedown does not depend on the draws
          gateIU = () => requireDraws(spark, "applyCdc"))
      }

    /**
     * Near-dup pairs of `batch` against the live store AND within the
     * batch: `id_a` is the earlier side (a store doc, or the lower
     * batch id), `id_b` the new batch doc. Only batch docs the store
     * has not admitted take part ([[restrictToNew]]): with a stored doc
     * on the batch side, a re-delivery would meet its partner through
     * both arms in opposite orientations, and dropping every `id_b`
     * would then drop an admitted doc. So a fully re-delivered batch
     * emits nothing. MinHash pairs carry `est_jaccard ≥ threshold`;
     * wide SimHash pairs `hamming ≤ maxHamming`. The bucketed layout
     * reads its stored keys in their bucket layout, so the plan's
     * exchanges move batch-sized data only.
     */
    def pairs(spark: SparkSession, batch: DataFrame, idCol: String,
        textCol: String, threshold: Double = 0.5): DataFrame = {
      kind match {
        case w: WideSimhash => require(w.maxHamming >= 1,
          s"wide SimHash pairs need maxHamming >= 1 (got ${w.maxHamming}); " +
            "radius 0 is exact-signature equality — use Dedup.exact")
        case _: MinHash =>
      }
      requireDraws(spark, "pairs")
      val ssig = live(spark)
      val bsig = Caches.releaseAfterUse(restrictToNew(
        kind.signatures(batch, idCol, textCol), ssig))
      // a tombstoned doc's band rows still collide, but die at the
      // verify against the live sigs
      val sIdx = (kind, layout) match {
        case (_: MinHash, Bucketed(t, _)) => spark.table(s"${t}_bands")
        case _ => kind.index(ssig)
      }
      val bIdx = kind.index(bsig)
      def cand(a: DataFrame, b: DataFrame) =
        a.select(col("band"), col("bucket"), col("id").as("id_a"))
          .join(b.select(col("band"), col("bucket"), col("id").as("id_b")),
            Seq("band", "bucket"))
      kind.verify(cand(sIdx, bIdx).select("id_a", "id_b").distinct(),
          ssig, bsig, threshold)
        .unionByName(kind.verify(cand(bIdx, bIdx)
          .filter(col("id_a") < col("id_b")).select("id_a", "id_b")
          .distinct(), bsig, bsig, threshold))
        .distinct()
    }

    /** Checks the live store against the corpus it should equal: one
      * row per expected doc with `sig_ok` (the live stored signature is
      * the net text's) — and for MinHash `bands_ok` (its live band rows
      * are that signature's) — plus an all-false row for any live id
      * outside `expected`. A resurrected takedown, a lost or doubled
      * replacement, stale band rows or old content under a mutated id
      * each flip some row. */
    def audit(spark: SparkSession, expected: DataFrame, idCol: String,
        textCol: String): DataFrame = {
      val net = kind.signatures(expected, idCol, textCol)
      val liveSig = live(spark)
      val sigCmp = net.select(col("id") +: kind.sigCols.map(c => col(c).as(s"n_$c")): _*)
        .join(liveSig.select(col("id") +: kind.sigCols.map(c => col(c).as(s"s_$c")): _*),
          Seq("id"), "full")
        .select(col("id"), coalesce(kind.sigCols
          .map(c => col(s"n_$c") === col(s"s_$c")).reduce(_ && _), lit(false))
          .as("sig_ok"))
      kind match {
        case _: WideSimhash => sigCmp
        case m: MinHash =>
          val liveBands = layout match {
            case Bucketed(t, _) => minusDead(spark, spark.table(s"${t}_bands"))
            case Dir(_) => m.index(liveSig)
          }
          val bandCmp = m.index(net).select("id", "band", "bucket")
            .withColumn("_e", lit(1))
            .join(liveBands.select("id", "band", "bucket")
              .withColumn("_s", lit(1)), Seq("id", "band", "bucket"), "full")
            .groupBy("id")
            .agg(min(col("_e").isNotNull && col("_s").isNotNull).as("bands_ok"))
          sigCmp.join(bandCmp, Seq("id"), "full")
            .select(col("id"), coalesce(col("sig_ok"), lit(false)).as("sig_ok"),
              coalesce(col("bands_ok"), lit(false)).as("bands_ok"))
      }
    }

    /**
     * Removes every tombstoned row and clears the tombstones; also the
     * small-file maintenance appends owe. The bucketed layout compacts
     * each table to one file per bucket ([[Bucketing.compactTable]])
     * and drops the tombstone record last (a death before that leaves
     * tombstones over removed rows: correct, and re-run clean). The
     * dir layout rewrites the live rows into `<path>__compact` with a
     * copy of the draw record, then swaps it in by two renames, so the
     * record is never absent from a standing store; between the
     * renames the store is absent and reads fail loudly, with both
     * copies on disk. With no standing tombstone the dir store rewrites
     * only past 8 data files: churn leaves fragments with no tombstone
     * left to trigger a rewrite. Run from the maintenance writer.
     */
    def compact(spark: SparkSession): Unit =
        ControlPlane(spark) { spark =>
      layout match {
        case Bucketed(t, _) =>
          val d = dead(spark).map((_, "id"))
          tables(t).foreach(Bucketing.compactTable(spark, _, d))
          if (d.isDefined) {
            // legacy table first: the other order would let a legacy D
            // resurface over an id the log had revived
            spark.sql(s"DROP TABLE IF EXISTS ${legacyDeleted(t)}")
            TombstoneLog.clear(spark, dlog(spark), "id")
          }
        case Dir(p) =>
          val root = new org.apache.hadoop.fs.Path(p)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val tmp = new org.apache.hadoop.fs.Path(p + "__compact")
          val old = new org.apache.hadoop.fs.Path(p + "__old")
          fs.delete(tmp, true) // debris of a crashed run
          fs.delete(old, true)
          if (!dead(spark).exists(d => !d.isEmpty)) {
            // clear fully-revived churn from the log, then rewrite only
            // for fragmentation
            TombstoneLog.clear(spark, dlog(spark), "id")
            val dataFiles = fs.listStatus(root)
              .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            if (dataFiles <= 8) return
          }
          live(spark).write.mode("overwrite").parquet(tmp.toString)
          val metaP = new org.apache.hadoop.fs.Path(p + "/_wide_meta")
          if (fs.exists(metaP))
            spark.read.parquet(metaP.toString).coalesce(1)
              .write.mode("overwrite").parquet(tmp.toString + "/_wide_meta")
          require(fs.rename(root, old), s"$this.compact: could not rename $root aside")
          require(fs.rename(tmp, root), s"$this.compact: could not swap " +
            s"$tmp into place — the store is at $old; rename it back (or " +
            s"$tmp in) to recover")
          fs.delete(old, true)
      }
    }
  }

  /** Batch signatures whose id the store has NOT admitted: a
    * re-delivered doc takes part only through its stored copy. This is
    * the immutable-id contract — content mutated under a reused id
    * never takes part, so mutable-id feeds run [[mutatedRedeliveries]]
    * on each batch, and replace content with [[SigStore.upsert]]. */
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

  // The bucketed MinHash entry points the benchmark harness calls, as
  // delegates to the store.

  def buildSignatureStoreBucketed(df: DataFrame, idCol: String,
      textCol: String, table: String, buckets: Int, numHashes: Int = 64,
      bands: Int = 8, shingleN: Int = 5): Unit =
    SigStore(MinHash(numHashes, bands, shingleN), Bucketed(table, buckets))
      .build(df, idCol, textCol)

  def minhashLshIncrementalBucketed(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, table: String, numHashes: Int = 64,
      bands: Int = 8, shingleN: Int = 5,
      threshold: Double = 0.5): DataFrame =
    SigStore(MinHash(numHashes, bands, shingleN), Bucketed(table, 0))
      .pairs(spark, batch, idCol, textCol, threshold)

  def applySigCdcBatchBucketed(spark: SparkSession, batch: DataFrame,
      table: String, buckets: Int, idCol: String = "doc_id",
      textCol: String = "text", opCol: String = "op",
      seqCol: String = "seq", numHashes: Int = 64, bands: Int = 8,
      shingleN: Int = 5): (Long, Long, Long) =
    SigStore(MinHash(numHashes, bands, shingleN), Bucketed(table, buckets))
      .applyCdc(spark, batch, idCol, textCol, opCol, seqCol)

  def auditSignatureStoreBucketed(spark: SparkSession,
      expected: DataFrame, idCol: String, textCol: String,
      table: String, numHashes: Int = 64, bands: Int = 8,
      shingleN: Int = 5): DataFrame =
    SigStore(MinHash(numHashes, bands, shingleN), Bucketed(table, 0))
      .audit(spark, expected, idCol, textCol)

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
    * rows: the refusal comes before the fused delete tombstones the
    * U ids it protects. */
  private def dispatchSigCdc(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, opCol: String, seqCol: String,
      store: SigStore, del: DataFrame => Unit, reclaim: DataFrame => Unit,
      append: DataFrame => Unit, gateIU: () => Unit): (Long, Long, Long) = {
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
      if (g.getLong(3) != 0L)
        throw new SigStoreRefused(store, SigRefusal.BadOp, s"$store.applyCdc: " +
          s"ops must be I, U or D — got ${g.getSeq[String](4).mkString(", ")}")
      if (g.getLong(5) != 0L)
        throw new SigStoreRefused(store, SigRefusal.BodilessIU,
          s"$store.applyCdc: I/U events must carry text (only D may be " +
            s"id-only) — null for ids ${g.getSeq[String](6).mkString(", ")}")
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
