package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.internal.SQLConf

/**
 * Control-plane execution for the store MUTATION paths — the CDC
 * dispatches, deletes, upserts, reclaims and compactions whose
 * per-micro-batch cost is DRIVER ACTIONS over batch-sized frames
 * (id sets, tombstone logs, file-targeted rewrites), not data volume —
 * and for every merge and rollup generation write
 * ([[GenerationWriter]]).
 *
 * These steps plan with adaptive query execution disabled: AQE's
 * architecture materializes one query STAGE at a time and re-plans
 * between stages, which is the right trade for data-plane queries
 * (runtime coalescing, skew splits, join re-selection over unknown
 * sizes) and pure per-stage latency for mutation steps, whose inputs
 * are batch-bounded BY CONSTRUCTION (a CDC micro-batch's ids, a
 * takedown-sized op log, ≤ one file per touched bucket) and whose
 * join strategies are already pinned by explicit broadcast() hints.
 * Measured on the r16 lifecycle probe (sf0.1, steady state, 2-shard
 * routed ANN store, mixed I/U/D batch): the CDC batch's ~40 driver
 * actions span ~108 scheduler jobs with AQE on (every exchange is a
 * separately materialized + re-planned stage) vs ~79 with it off —
 * wall 9.9 s → 7.7 s (b1) and 7.8 s → 6.5 s (b2). The win is
 * scale-INdependent: it is per-stage driver latency × stages per
 * micro-batch, the term that multiplies by shard count and stream
 * cadence at 100 TB, while AQE's benefits on these steps are ~nil
 * (nothing to coalesce or re-join on a batch-sized exchange).
 *
 * They run in a child of the caller's session ([[session]]) whose
 * conf carries the mode, so the caller's own conf is never touched and
 * a concurrent data-plane query on it keeps AQE. Data-plane work
 * (builds, searches, audits, admission queries) runs in the caller's
 * session.
 */
private[graft] object ControlPlane {

  /** The child's conf on top of the caller's: AQE off, and a listing
    * threshold of 128. A mutation's multi-path reads are PRUNED by
    * construction — loc-index bucket dirs (B, default 64), sig-store
    * bucket files, `list_id IN` partitions (≤ nlist) — and Spark's
    * default threshold (32) turns each such read's leaf listing into a
    * DISTRIBUTED JOB: one more scheduler round-trip per read per shard
    * per micro-batch (measured ~280 ms per loc lookup on the r17 CDC
    * trace) to list a few dozen directories the driver can page
    * through in milliseconds. Data-plane scans of genuinely wide
    * layouts keep the distributed listing, and stores bucketed wider
    * than 128 fall back to it automatically. */
  private val overrides = Map(
    SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false",
    SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key -> "128")

  private val children =
    new java.util.WeakHashMap[SparkSession, (Map[String, String], SparkSession)]()

  /** The session control-plane steps plan in: `spark` itself when its
    * conf already carries the overrides (a child, or a nested entry
    * handed one), else a child of it (`PlanBridge.childSession`:
    * shared SparkContext, catalog and CacheManager). One child is kept
    * per caller session and reused while the caller's conf is
    * unchanged (a changed conf gets a new child; a child is never
    * mutated), so a stream does not build a new session state every
    * micro-batch. Weak keys: foreachBatch hands entry points the
    * stream's session clones. */
  def session(spark: SparkSession): SparkSession = {
    val conf = spark.sessionState.conf.getAllConfs
    if (overrides.forall { case (k, v) => conf.get(k).contains(v) }) spark
    else children.synchronized {
      val want = conf ++ overrides
      Option(children.get(spark)).collect { case (c, s) if c == want => s }
        .getOrElse {
          val child = PlanBridge.childSession(spark, overrides.toSeq: _*)
          children.put(spark, (want, child))
          child
        }
    }
  }

  /** `df` rebound to `child`, to be planned there; a frame over a
    * persisted Dataset still scans its cache (the CacheManager is
    * shared). */
  def rebind(child: SparkSession, df: DataFrame): DataFrame =
    PlanBridge.ofRows(child, df.queryExecution.analyzed)

  /** Run a mutation in [[session]]`(spark)`. Each session keeps its
    * own cache of resolved catalog relations (their file listings), so
    * a top-level entry drops the child's — the caller may have written
    * a table since the child last read it — and the caller's is
    * dropped when the body returns or throws, so the caller reads what
    * the mutation wrote. A nested entry (handed the child) runs as is. */
  def apply[A](spark: SparkSession)(f: SparkSession => A): A = {
    val child = session(spark)
    if (child eq spark) f(spark)
    else {
      child.sessionState.catalog.invalidateAllCachedTables()
      try f(child)
      finally spark.sessionState.catalog.invalidateAllCachedTables()
    }
  }

  /** [[apply]] for a mutation over a caller frame, handed to `f`
    * rebound to the child. */
  def apply[A](spark: SparkSession, df: DataFrame)(
      f: (SparkSession, DataFrame) => A): A =
    apply(spark) { child => f(child, rebind(child, df)) }

  /** Await bound for the SEARCH-path per-shard candidate preps — tiny
    * metadata reads and bounded collects, where a shard wedged past
    * this is a fault, not progress. */
  private[graft] def prepTimeoutSec(spark: SparkSession): Long = spark.conf
    .getOption("graft.ann.prepTimeoutSec").map(_.toLong).getOrElse(900L)

  /** Await bound for MUTATION/BUILD legs — corpus-proportional work
    * (per-shard store builds, compaction rewrites, reclaims) where a
    * legitimately progressing leg can run for hours at production
    * scale; the r16 single 900 s bound spuriously killed exactly those
    * (r16 advice). Still finite so a genuinely wedged FS call fails
    * the mutation loudly (healable per the crash protocols) instead of
    * hanging the caller forever. */
  private[graft] def mutationTimeoutSec(spark: SparkSession): Long =
    spark.conf.getOption("graft.ann.mutationTimeoutSec")
      .map(_.toLong).getOrElse(86400L)

  /** The job properties `setJobGroup` sets, saved and restored around
    * each [[parLegs]] leg. */
  private val jobProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /**
   * Run independent legs CONCURRENTLY on a dedicated bounded pool and
   * JOIN THEM ALL before returning — the one shared leg-runner under
   * [[graft.operators.Similarity]]'s per-shard loops and [[par2]].
   *
   * Guarantees (r17, closing the r16 orphaned-leg advisory):
   *  - every leg runs under its own per-call Spark job group with
   *    interrupt-on-cancel, and the FIRST leg failure cancels the
   *    group (current AND future jobs), so blocked siblings fail fast
   *    instead of running to completion against a mutated store;
   *  - the call returns (or throws) only after EVERY leg has finished
   *    — no leg outlives the await to race a later query or session
   *    teardown (`shutdownNow` alone only interrupts the thread; a
   *    submitted Spark job would keep executing);
   *  - on timeout the group is cancelled and the legs are given a
   *    bounded grace to unwind. If every leg then finished, the call
   *    returns or rethrows as if in time, except that a failure which
   *    first appeared after the timeout cancel (a leg the cancel
   *    killed) surfaces as a TimeoutException caused by it. A leg
   *    wedged in a non-interruptible non-Spark call past the grace is
   *    the one residual orphan case, and the loud TimeoutException
   *    names it;
   *  - result ORDER is input order, and the first failure IN TIME (the
   *    one that cancelled the group) rethrows — unions/sums and the
   *    oracle hash are byte-identical to the sequential form
   *    (spec-asserted).
   *
   * Dedicated pool, not the JVM-global ExecutionContext (r11 advice):
   * legs BLOCK on Spark actions, and blocking futures on the shared
   * fork-join default can starve every other library using it. Job
   * group/description properties are saved before each leg and
   * restored in a `finally` so nested parLegs (a routed build inside a
   * CDC batch) cannot erase the outer call's group on a reused pool
   * thread; `setJobGroup` runs inside the leg's `Try`, so a throw from
   * it is that leg's recorded failure, never an unrecorded escape.
   */
  private[graft] def parLegs[A, B](spark: SparkSession, items: Seq[A],
      maxThreads: Int, timeoutSec: Long, what: String)(f: A => B): Seq[B] =
    if (items.size <= 1) items.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
      import scala.concurrent.duration.Duration
      import scala.util.Try
      val sc = spark.sparkContext
      val group = s"graft-$what-${java.util.UUID.randomUUID()}"
      // the FIRST leg failure (the one that cancelled the group) — the
      // root cause to rethrow; siblings that then die of the
      // cancellation itself must not mask it
      val firstFailure =
        new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val es = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(items.size, maxThreads),
        (r: Runnable) => {
          val t = new Thread(r, s"graft-$what-leg")
          t.setDaemon(true); t
        })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(es)
      try {
        val legs = items.map { a =>
          Future {
            val prev = jobProps.map(sc.getLocalProperty)
            val r = try Try {
              sc.setJobGroup(group, s"graft $what leg",
                interruptOnCancel = true)
              f(a)
            } finally jobProps.zip(prev).foreach {
              case (k, v) => sc.setLocalProperty(k, v)
            }
            r.failed.foreach { t =>
              if (firstFailure.compareAndSet(null, t))
                sc.cancelJobGroupAndFutureJobs(group)
            }
            r
          }
        }
        // lifted to Try: this sequence completes only when EVERY leg
        // has finished, success or failure — the no-orphan join. The
        // await POLLS so the group cancel can be re-swept: AQE
        // materializes shuffle stages through submitMapStage, which
        // the cancelled-group registry does not intercept at
        // submission (only handleJobSubmitted checks it — measured in
        // ControlPlaneSpec: a one-shot cancel let a sibling's AQE map
        // stage run to completion), so each poll round re-cancels to
        // catch stage jobs that became active since the last sweep.
        val seq = Future.sequence(legs)
        val deadlineNs = System.nanoTime() + timeoutSec * 1000000000L
        var done = false
        while (!done && System.nanoTime() < deadlineNs) {
          if (firstFailure.get() != null)
            sc.cancelJobGroupAndFutureJobs(group)
          done = Try(Await.ready(seq, Duration(250L, "ms"))).isSuccess
        }
        if (!done) {
          val failedInTime = firstFailure.get() != null
          sc.cancelJobGroupAndFutureJobs(group)
          Try(Await.ready(seq, Duration(30L, "s")))
          val timedOut = new TimeoutException(
            s"graft $what legs did not finish within $timeoutSec s")
          if (!seq.isCompleted) throw timedOut
          if (!failedInTime && firstFailure.get() != null)
            throw timedOut.initCause(firstFailure.get())
        }
        val all = seq.value.get.get
        Option(firstFailure.get()).foreach(throw _)
        all.map(_.get)
      } finally es.shutdownNow()
    }

  /** Run two INDEPENDENT mutation legs concurrently — the dedup-side
    * analog of Similarity's per-shard pool, for the bands/sigs table
    * pair whose rewrites are documented order-neutral (the standing
    * tombstones hide the ids throughout; each leg reads and writes
    * only its own table). Rides [[parLegs]]: first failure cancels
    * the sibling's jobs (r16 advice: Future.zip surfaced leg B's
    * failure only after leg A completed), and the await honors the
    * MUTATION timeout conf — the legs are table reclaims, data-sized
    * work the fixed 900 s bound could spuriously kill. */
  def par2[A, B](spark: SparkSession)(fa: => A, fb: => B): (A, B) = {
    val r = parLegs[() => Any, Any](spark,
      Seq(() => fa, () => fb), 2, mutationTimeoutSec(spark),
      "table-leg")(g => g())
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Deletes what a write job into `dir` that died inside its commit
    * left under `dir/_temporary`: its committed task output, which the
    * next job commit into `dir` would publish as well (a second copy
    * of the dead job's rows). Every append into an existing store dir
    * calls this first; a store has one writer at a time. */
  def dropDeadJobOutput(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_temporary")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** [[dropDeadJobOutput]] for catalog table `table`'s location. */
  def dropDeadJobOutputOf(spark: SparkSession, table: String): Unit =
    dropDeadJobOutput(spark, spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location.toString)
}
