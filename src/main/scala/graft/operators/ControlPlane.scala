package graft.operators

import org.apache.spark.sql.SparkSession

/**
 * Control-plane execution scope for the store MUTATION paths — the
 * CDC dispatches, deletes, upserts, reclaims and compactions whose
 * per-micro-batch cost is DRIVER ACTIONS over batch-sized frames
 * (id sets, tombstone logs, file-targeted rewrites), not data volume.
 *
 * Inside the scope, adaptive query execution is disabled: AQE's
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
 * Scoping (r17): the toggle is session-level (Spark has no per-action
 * conf), guarded by a REENTRANT COUNTED scope per session — the first
 * entry saves and clears the flag, the LAST exit restores it, and the
 * count makes concurrent top-level scopes from different threads of
 * one session compose instead of racing the get/set/restore (the r16
 * form was safe only by the single-writer convention; the counted
 * guard turns it into an invariant, spec-pinned). Nesting on one
 * thread costs one increment. Data-plane work (builds, searches,
 * audits, admission queries) runs OUTSIDE the scope and keeps AQE. A
 * concurrent data-plane query on the SAME session during a mutation's
 * scope still reads the flag off — a perf-only effect (AQE never
 * changes results), inherent to the session-level conf.
 */
private[graft] object ControlPlane {

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val ListKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Listing threshold inside a mutation scope (default 128, conf
    * `graft.mutation.listingThreshold`): a mutation's multi-path reads
    * are PRUNED by construction — loc-index bucket dirs (B, default
    * 64), sig-store bucket files, `list_id IN` partitions (≤ nlist) —
    * and Spark's default threshold (32) turns each such read's leaf
    * listing into a DISTRIBUTED JOB: one more scheduler round-trip per
    * read per shard per micro-batch (measured ~280 ms per loc lookup
    * on the r17 CDC trace) to list a few dozen directories the driver
    * can page through in milliseconds. Raised only INSIDE the scope:
    * data-plane scans of genuinely wide layouts keep the distributed
    * listing. Stores bucketed wider than this threshold fall back to
    * the distributed listing automatically — the conf exists so a
    * deployment with such stores (or slow object-store metadata) can
    * tune the crossover. */
  private def listingThreshold(spark: SparkSession): String =
    spark.conf.getOption("graft.mutation.listingThreshold")
      .getOrElse("128")

  /** Per-session reentrant scope state. Weak keys: foreachBatch hands
    * mutation entry points per-batch session CLONES — a strong map
    * would pin every clone for the process lifetime. */
  private final class Scope {
    var depth = 0
    var saved: Seq[(String, Option[String])] = Nil
  }
  private val scopes =
    new java.util.WeakHashMap[SparkSession, Scope]

  private def scopeOf(spark: SparkSession): Scope = scopes.synchronized {
    val cur = scopes.get(spark)
    if (cur != null) cur
    else { val n = new Scope; scopes.put(spark, n); n }
  }

  def apply[A](spark: SparkSession)(f: => A): A = {
    val s = scopeOf(spark)
    s.synchronized {
      if (s.depth == 0) {
        val wanted = Seq(AqeKey -> "false",
          ListKey -> listingThreshold(spark))
        s.saved = Nil
        wanted.foreach { case (k, v) =>
          val prev = spark.conf.getOption(k)
          if (!prev.contains(v)) {
            s.saved = s.saved :+ (k -> prev)
            spark.conf.set(k, v)
          }
        }
      }
      s.depth += 1
    }
    try f
    finally s.synchronized {
      s.depth -= 1
      if (s.depth == 0) {
        s.saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        s.saved = Nil
      }
    }
  }

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
}
