package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental aggregate rollup: a standing materialized aggregate that
 * daily batches FOLD into, so the serving query never re-reads
 * history.
 *
 * The classic ingest-time pattern at 100 TB: a grouped report over the
 * full corpus costs a full scan per refresh, but every aggregate here
 * is ALGEBRAIC — its state (count, sum, per-column non-null count,
 * min, max) merges associatively — so the rollup stores one narrow
 * state row per group and each refresh aggregates only the new batch
 * (one map-side-combined aggregate of batch-sized data) plus the state
 * table (group-count-sized, usually orders of magnitude smaller than
 * the batch), in one Spark job. The fold never touches raw history:
 * cost ∝ batch + |groups|, independent of corpus age.
 *
 * Sums go through DECIMAL(38,2) — exact and order-invariant, so a
 * fold-in-any-order history equals the from-scratch build bit-for-bit
 * (double sums would drift with fold order; the q117 oracle and
 * RollupSpec's equivalence property both depend on this). Per-measure
 * non-null counts ride along so derived means divide by the right
 * denominator even with null measure values.
 *
 * State commits reuse the [[ManifestCommit]] protocol (immutable
 * generation dirs + one pointer object — object-store-safe, no
 * renames, crash-recovered by the next preamble GC), which buys the
 * rollup snapshot isolation and time travel for free: a reader resolves
 * the pointer and sees exactly one consistent state; retained previous
 * generations stay readable via [[Merge.readSnapshotAt]].
 */
object Rollup {

  /** A fixed-bin histogram over `[lo, hi)`: `bins` equal-width bucket
    * counts kept as rollup state. Counts are plain long sums — exactly
    * as foldable and order-invariant as the other algebraic measures —
    * and [[histQuantile]] turns the standing counts into an
    * approximate quantile with error ≤ one bin width. Fixed edges are
    * the price of determinism: unlike adaptive sketches (t-digest,
    * KLL) the fold is BIT-exact regardless of order, so the rollup's
    * fold ≡ scratch contract extends to quantiles unchanged. Values
    * outside [lo, hi) clamp into the edge bins (the estimate degrades
    * there but totals stay right); nulls contribute nothing. */
  final case class HistSpec(col: String, lo: Double, hi: Double,
      bins: Int) {
    require(bins > 0 && bins <= 4096, "1..4096 bins")
    require(hi > lo, "hi must exceed lo")
    def width: Double = (hi - lo) / bins
  }

  /** What the rollup maintains: grouping keys, summed measures (with
    * derived means), min'd and max'd columns, and approximate-distinct
    * columns. Sums must be numeric; min/max any ordered type.
    *
    * `ndvs` columns keep a per-group HLL sketch (DataSketches HLL,
    * lgK=12 ⇒ ~1.6% relative standard error) as MERGEABLE binary
    * state: exact COUNT(DISTINCT) is the one common aggregate that is
    * NOT algebraic — its state is the value set itself — so a standing
    * rollup would have to re-scan history on every refresh. The sketch
    * substitutes a fixed-size register array whose merge (register-wise
    * max) is associative, commutative, and duplicate-insensitive, so a
    * fold-in-any-order history yields the same registers — hence the
    * same estimate — as a from-scratch build over the union
    * (RollupSpec pins this equivalence). */
  final case class Spec(keys: Seq[String], sums: Seq[String] = Nil,
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
      ndvs: Seq[String] = Nil, hists: Seq[HistSpec] = Nil,
      vars: Seq[String] = Nil) {
    require(keys.nonEmpty, "group by at least one key")
    require((sums ++ mins ++ maxs ++ ndvs ++ hists.map(_.col)).nonEmpty,
      "maintain at least one measure")
    // variance state is sum-of-squares ON TOP of the sum/count state —
    // a var column without its sum has no mean to subtract
    require(vars.forall(sums.contains),
      s"vars columns must also be listed in sums: " +
        s"${vars.filterNot(sums.contains).mkString(", ")}")
    // duplicates corrupt SILENTLY: two HistSpecs on one column make the
    // second staged __bin__ overwrite the first (counts computed
    // against the wrong edges) and both emit duplicate h{i}__ state
    // columns that only fail later with AMBIGUOUS_REFERENCE; duplicate
    // measure names duplicate their state columns the same way
    Seq("sums" -> sums, "mins" -> mins, "maxs" -> maxs, "ndvs" -> ndvs,
      "vars" -> vars, "hists" -> hists.map(_.col)).foreach { case (what, cs) =>
      require(cs.distinct == cs,
        s"$what carries duplicate columns: " +
          cs.diff(cs.distinct).distinct.mkString(", "))
    }
  }

  /** lgConfigK pinned explicitly: merges require equal K, and the
    * fold ≡ scratch register identity only holds at one K. */
  private val HllLgK = 12

  /** Mergeable state for one batch: keys, n_rows, then per measure
    * sum__c (DECIMAL(38,2)) + cnt__c, and min__c / max__c. One
    * map-side-combined aggregate — the only shuffle a fold pays. */
  def state(df: DataFrame, spec: Spec): DataFrame = {
    // stage each histogram's clamped bin id once (CSE across the bins'
    // conditional sums; nulls AND NaNs get a null bin and count into
    // nothing — floor(NaN) is 0L, so an unfiltered NaN would silently
    // inflate bin 0 and skew quantiles/PSI). The clamp happens on the
    // LONG floor BEFORE any int cast: an outlier value whose raw bin
    // exceeds Int.MaxValue must land in the edge bin as documented,
    // not throw CAST_OVERFLOW under ANSI mode and kill the whole fold.
    val staged = spec.hists.foldLeft(df) { (d, h) =>
      val v = col(h.col)
      d.withColumn(binCol(h),
        when(v.isNotNull && !isnan(v.cast("double")),
          least(lit(h.bins - 1L), greatest(lit(0L),
            floor((v - h.lo) / h.width))).cast("int")))
    }
    val aggs = count(lit(1)).as("n_rows") +:
      (spec.sums.flatMap { c =>
        Seq(sum(col(c).cast("decimal(18,2)")).cast("decimal(38,2)")
            .as(s"sum__$c"),
          count(col(c)).as(s"cnt__$c"))
      } ++ spec.vars.map { c =>
        // exact sum of squares: DECIMAL(18,2) values square to scale-4
        // decimals exactly; DECIMAL(38,4) accumulation keeps the fold
        // order-invariant like the plain sums (var is then derived in
        // [[finalized]], never stored)
        val d = col(c).cast("decimal(18,2)")
        sum(d * d).cast("decimal(38,4)").as(s"sq__$c")
      } ++ spec.mins.map(c => min(col(c)).as(s"min__$c")) ++
        spec.maxs.map(c => max(col(c)).as(s"max__$c")) ++
        spec.ndvs.map(c => hll_sketch_agg(col(c), HllLgK).as(s"hll__$c")) ++
        spec.hists.flatMap(h => (0 until h.bins).map(i =>
          sum(when(col(binCol(h)) === i, 1L).otherwise(0L))
            .as(s"h${i}__${h.col}"))))
    staged.groupBy(spec.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def binCol(h: HistSpec): String = s"__bin__${h.col}"

  /** Merge state tables (associative): the same aggregate over the
    * union, with sum-of-counts and min-of-mins. */
  private def mergeStates(states: DataFrame, spec: Spec): DataFrame = {
    val aggs = sum(col("n_rows")).cast("long").as("n_rows") +:
      (spec.sums.flatMap { c =>
        Seq(sum(col(s"sum__$c")).cast("decimal(38,2)").as(s"sum__$c"),
          sum(col(s"cnt__$c")).cast("long").as(s"cnt__$c"))
      } ++ spec.vars.map(c =>
        sum(col(s"sq__$c")).cast("decimal(38,4)").as(s"sq__$c")) ++
        spec.mins.map(c => min(col(s"min__$c")).as(s"min__$c")) ++
        spec.maxs.map(c => max(col(s"max__$c")).as(s"max__$c")) ++
        // strict: a K mismatch means a foreign/corrupt state row —
        // fail loudly rather than silently degrade the estimate
        spec.ndvs.map(c =>
          hll_union_agg(col(s"hll__$c"), false).as(s"hll__$c")) ++
        spec.hists.flatMap(h => (0 until h.bins).map { i =>
          val n = s"h${i}__${h.col}"
          sum(col(n)).cast("long").as(n)
        }))
    states.groupBy(spec.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Initialize the standing rollup from a first batch (generation 1).
    * `tag` stamps the commit with a writer idempotency token (see
    * [[graft.streaming.RollupStream]]); batch use leaves it None. */
  def init(spark: SparkSession, storeDir: String, batch: DataFrame,
      spec: Spec, tag: Option[String] = None): Unit = {
    commit(spark, storeDir, state(batch, spec), tag)
    writeSpec(spark, storeDir, spec)
  }

  /** Fold one batch into the standing rollup: aggregate the batch,
    * merge with the stored state, commit a new generation. Reads ONLY
    * the state table — never history's raw rows. */
  def fold(spark: SparkSession, storeDir: String, batch: DataFrame,
      spec: Spec, tag: Option[String] = None): Unit = {
    val standing = Merge.readSnapshot(spark, storeDir)
    commit(spark, storeDir,
      mergeStates(standing.unionByName(state(batch, spec)), spec), tag)
    // keeps pre-sidecar stores self-healing: the first fold after this
    // change (or after a torn sidecar write) restores the spec
    writeSpec(spark, storeDir, spec)
  }

  /** The idempotency tags of EVERY retained commit (live + history),
    * newest first. A re-delivery guard that checks only the live tag
    * is erased by any interleaved writer (a manual backfill fold, a
    * compaction) committing between the crash and the restart — the
    * retained-commit scan keeps the guard alive across the whole
    * retention window. Bounded: retention caps the commit count. */
  def commitTags(spark: SparkSession, storeDir: String): Seq[String] = {
    val dir = new Path(storeDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestCommit.versions(fs, dir).sorted.reverse
      .flatMap(v => ManifestCommit.readVersion(fs, dir, v).flatMap(_.tag))
  }

  /** Whether the store has any committed state yet. */
  def exists(spark: SparkSession, storeDir: String): Boolean = {
    val dir = new Path(storeDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestCommit.exists(fs, dir)
  }

  /** The current state table (narrow: one row per group). */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    Merge.readSnapshot(spark, storeDir)

  /** Serving view: finalized measures — sums as double, derived
    * avg__c = sum/non-null-count (null when a group has no non-null
    * values), alongside min/max and n_rows. */
  def finalized(stateDf: DataFrame, spec: Spec): DataFrame = {
    val cols = spec.keys.map(col) ++ Seq(col("n_rows")) ++
      spec.sums.flatMap { c =>
        // divide as DOUBLE, not decimal: decimal-division scale rules
        // differ across engines, double/long division is bit-portable
        Seq(col(s"sum__$c").cast("double").as(s"sum__$c"),
          when(col(s"cnt__$c") > 0,
            col(s"sum__$c").cast("double") / col(s"cnt__$c"))
            .as(s"avg__$c"))
      } ++ spec.vars.flatMap { c =>
        // population variance from the exact decimal state, derived in
        // DOUBLE with a fixed operation order — (sq − sum·sum/n)/n — so
        // an oracle computing the same formula from the same decimal
        // sums is bit-identical; the greatest(…, 0) clamps the tiny
        // negative a float cancellation can produce before sqrt
        val n = col(s"cnt__$c")
        val sm = col(s"sum__$c").cast("double")
        val v = (col(s"sq__$c").cast("double") - sm * sm / n) / n
        Seq(when(n > 0, v).as(s"var__$c"),
          when(n > 0, sqrt(greatest(v, lit(0.0)))).as(s"stddev__$c"))
      } ++ spec.mins.map(c => col(s"min__$c")) ++
      spec.maxs.map(c => col(s"max__$c")) ++
      spec.ndvs.map(c =>
        hll_sketch_estimate(col(s"hll__$c")).as(s"ndv__$c")) ++
      spec.hists.map(h => histArray(h).as(s"hist__${h.col}"))
    stateDf.select(cols: _*)
  }

  /** The standing bin counts packed as one array column (bin 0 first). */
  def histArray(h: HistSpec): Column =
    array((0 until h.bins).map(i => col(s"h${i}__${h.col}")): _*)

  /** Approximate p-quantile from the standing histogram state (use
    * over the [[read]] state table): walks the cumulative counts to
    * the first bin holding the ceil(p·total)-th value and returns that
    * bin's midpoint — error ≤ one bin width by construction, NULL when
    * the group saw no non-null values. Entirely expression-level (one
    * zip_with + one aggregate HOF over a `bins`-length array), so the
    * serving query stays a narrow state-table scan. */
  def histQuantile(h: HistSpec, p: Double): Column = {
    require(p > 0.0 && p <= 1.0, "p in (0, 1]")
    val arr = histArray(h)
    val total = aggregate(arr, lit(0L), (acc, x) => acc + x)
    val k = greatest(ceil(lit(p) * total).cast("long"), lit(1L))
    val zipped = zip_with(arr, sequence(lit(0), lit(h.bins - 1)),
      (c, i) => struct(c.as("c"), i.as("i")))
    val idx = aggregate(zipped,
      struct(lit(0L).as("cum"), lit(-1).as("idx")),
      (acc, x) => {
        val cum = acc("cum") + x("c")
        struct(cum.as("cum"),
          when(acc("idx") >= 0, acc("idx"))
            .when(cum >= k, x("i"))
            .otherwise(lit(-1)).as("idx"))
      },
      acc => acc("idx"))
    when(total > 0, lit(h.lo) + (idx.cast("double") + 0.5) * h.width)
  }

  /** Production audit of the standing state: rebuild from the source
    * corpus and report every group whose state row differs, tagged by
    * side (`standing` = what the store holds, `scratch` = what a
    * rebuild says). Empty = trustworthy. Exact comparison is valid
    * because EVERY state column is bit-deterministic by design:
    * DECIMAL(38,2) sums, long counts, min/max, order-invariant HLL
    * registers (RollupSpec pins the register identity), long hist
    * bins — the fold ≡ scratch contract is what makes auditing a
    * standing store even possible. The one wrinkle: a sketch's
    * SERIALIZED form is mode-dependent (a unioned sketch may encode
    * sparse/dense differently from a direct build of the same
    * registers), so ndv columns compare by their register-determined
    * ESTIMATE, not bytes. Cost: one corpus aggregate + a state-sized
    * set difference — the job an operator schedules monthly, not the
    * per-refresh path. */
  def audit(spark: SparkSession, storeDir: String, source: DataFrame,
      spec: Spec): DataFrame = {
    def comparable(st: DataFrame) = spec.ndvs.foldLeft(st)((d, c) =>
      d.withColumn(s"hll__$c", hll_sketch_estimate(col(s"hll__$c"))))
    val standing = comparable(read(spark, storeDir))
    val scratch = comparable(state(source, spec))
    standing.exceptAll(scratch).withColumn("side", lit("standing"))
      .unionByName(scratch.exceptAll(standing)
        .withColumn("side", lit("scratch")))
  }

  /** Spec sidecar name: what makes a rollup store SELF-DESCRIBING.
    * The state schema alone cannot be inverted into a Spec (histogram
    * bin edges are not recoverable from `h3__price` column names), so
    * pure-SQL readers — `graft_card(dir)` / `graft_rollup(dir)` — need
    * the spec persisted next to the state. */
  private val SpecFile = "_graft_spec.json"

  /** Persist the spec as a JSON sidecar (idempotent overwrite: the
    * content is a pure function of the spec, and every init/fold
    * rewrites it, so a torn write self-heals on the next fold). */
  def writeSpec(spark: SparkSession, storeDir: String, spec: Spec): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val j = ("version" -> 1) ~ ("keys" -> spec.keys) ~
      ("sums" -> spec.sums) ~ ("mins" -> spec.mins) ~
      ("maxs" -> spec.maxs) ~ ("ndvs" -> spec.ndvs) ~
      ("vars" -> spec.vars) ~
      ("hists" -> spec.hists.map(h =>
        ("col" -> h.col) ~ ("lo" -> h.lo) ~ ("hi" -> h.hi) ~
          ("bins" -> h.bins)))
    val dir = new Path(storeDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = JsonMethods.compact(JsonMethods.render(j)).getBytes("UTF-8")
    val live = new Path(dir, SpecFile)
    // the content is a pure function of the spec, so the steady-state
    // fold rewrites IDENTICAL bytes — skip those entirely: a
    // concurrent graft_rollup/graft_card reader then never races a
    // healthy store's sidecar (the old truncating in-place create
    // could expose an empty file to it on every fold)
    if (fs.exists(live)) {
      val in = fs.open(live)
      val cur = try in.readAllBytes() finally in.close()
      if (java.util.Arrays.equals(cur, bytes)) return
    }
    // changed (or first write): write-temp-then-rename; the residual
    // missing-file window exists only across a genuine spec change.
    // The dot prefix keeps scans from listing the temp as data.
    val tmp = new Path(dir, s".$SpecFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    fs.delete(live, false)
    require(fs.rename(tmp, live), s"rename $tmp -> $live failed")
  }

  /** Read the persisted spec back; None when the store predates spec
    * sidecars (or the sidecar is torn — the next fold rewrites it). */
  def readSpec(spark: SparkSession, storeDir: String): Option[Spec] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val dir = new Path(storeDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val p = new Path(dir, SpecFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      try {
        val j = JsonMethods.parse(txt)
        def strs(f: String): Seq[String] = j \ f match {
          case JArray(xs) => xs.collect { case JString(s) => s }
          case _ => Nil
        }
        def num(v: JValue): Double = v match {
          case JDouble(d) => d
          case JInt(i) => i.toDouble
          case JLong(l) => l.toDouble
          case JDecimal(d) => d.toDouble
          case _ => throw new IllegalArgumentException("non-numeric")
        }
        val hists = j \ "hists" match {
          case JArray(hs) => hs.map { h =>
            val JString(c) = h \ "col"
            HistSpec(c, num(h \ "lo"), num(h \ "hi"),
              num(h \ "bins").toInt)
          }
          case _ => Nil
        }
        Some(Spec(strs("keys"), strs("sums"), strs("mins"), strs("maxs"),
          strs("ndvs"), hists, strs("vars")))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Whole-state manifest commit, through the ONE shared protocol
    * tail ([[Merge.commitWholeGeneration]] — no renames,
    * object-store-safe; a crash mid-commit leaves the old pointer
    * live and the next preamble GC clears the orphan generation; the
    * layout guards run here too). [[GenerationWriter.writeAll]] writes
    * it as ONE job — aggregate, state merge and write — with no
    * committer, so `spark.speculation=true` is refused. The new state
    * reads from the OLD generation's immutable files while writing the
    * new dir, so there is no overwrite-while-reading hazard. */
  private def commit(spark: SparkSession, storeDir: String,
      newState: DataFrame, tag: Option[String] = None): Unit =
    Merge.commitWholeGeneration(spark, storeDir, tag) { (genPath, _) =>
      GenerationWriter.writeAll(spark, Seq(newState -> genPath))
    }
}
