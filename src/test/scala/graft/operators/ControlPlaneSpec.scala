package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The r17 concurrency invariants: the reentrant counted AQE scope
  * and the cancelling, no-orphan leg runner under every per-shard /
  * per-table concurrent mutation loop. */
class ControlPlaneSpec extends SparkSpec {

  private val Key = "spark.sql.adaptive.enabled"

  test("two CONCURRENT top-level mutation scopes + a nested one " +
    "compose: AQE off inside all, restored exactly once after the " +
    "last exit") {
    spark.conf.set(Key, "true")
    val insideOff = new java.util.concurrent.atomic.AtomicBoolean(true)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def leg(): Unit = ControlPlane(spark) {
      barrier.await() // both threads INSIDE their scope at once
      if (spark.conf.get(Key) != "false") insideOff.set(false)
      ControlPlane(spark) { // nested scope: a composed mutation
        if (spark.conf.get(Key) != "false") insideOff.set(false)
      }
      // nested exit must NOT restore while this scope is still open
      if (spark.conf.get(Key) != "false") insideOff.set(false)
      barrier.await() // hold both scopes open until both checked
    }
    val t = new Thread(() => leg())
    t.start()
    leg()
    t.join(30000)
    assert(!t.isAlive)
    assert(insideOff.get(), "AQE was not off inside an open scope")
    assert(spark.conf.get(Key) == "true",
      "last scope exit must restore the saved value")
  }

  test("parLegs preserves input order and joins every leg") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = ControlPlane.parLegs(spark, Seq(3, 1, 2), 4, 60L, "spec") {
      i => Thread.sleep(i * 50L); done.incrementAndGet(); i * 10 }
    assert(out == Seq(30, 10, 20))
    assert(done.get() == 3)
  }

  test("a failing leg rethrows as the ROOT cause, cancels the " +
    "siblings' Spark jobs, and no leg outlives the call") {
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val boom = new IllegalStateException("leg 1 failed")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      ControlPlane.parLegs(spark, Seq(0, 1), 2, 120L, "spec") { i =>
        try {
          if (i == 1) { Thread.sleep(300); throw boom }
          // sibling: a Spark action that would run ~25 s uncancelled
          // (200 tasks x 500 ms on local[4]); the failing leg's group
          // cancel must kill it long before that
          val slow = udf { (x: Long) => Thread.sleep(500L); x }
          spark.range(200).repartition(200)
            .select(sum(slow(col("id")))).collect()
          ()
        } finally finished.incrementAndGet()
      }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom, "the triggering failure must surface, not " +
      "the sibling's cancellation error")
    // the call returned only after BOTH legs finished (no orphan)...
    assert(finished.get() == 2)
    // ...and the sibling died by cancellation, not by completing
    assert(sec < 15.0, f"sibling leg was not cancelled ($sec%.1f s)")
  }

  test("legs that finish inside the timeout grace return normally; a leg " +
    "the timeout cancel kills surfaces as a TimeoutException caused by it") {
    // plain driver-side sleeps: nothing for the cancel to kill, so both
    // legs finish ~1 s into the 30 s grace and the call returns
    val out = ControlPlane.parLegs(spark, Seq(1, 2), 2, 1L, "spec") {
      i => Thread.sleep(2000L); i * 10 }
    assert(out == Seq(10, 20))
    // a Spark action still running at the deadline is cancelled and
    // unwinds inside the grace: the timeout, not the cancellation
    // error, is what the caller sees, with the leg's failure as cause
    val t0 = System.nanoTime()
    val thrown = intercept[java.util.concurrent.TimeoutException] {
      ControlPlane.parLegs(spark, Seq(0, 1), 2, 1L, "spec") { i =>
        if (i == 1) {
          val slow = udf { (x: Long) => Thread.sleep(500L); x }
          spark.range(200).repartition(200)
            .select(sum(slow(col("id")))).collect()
        }
        ()
      }
    }
    assert(thrown.getCause != null)
    assert((System.nanoTime() - t0) / 1e9 < 15.0)
  }
}
