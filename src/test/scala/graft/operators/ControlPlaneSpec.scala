package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The control-plane session (AQE off in a child, the caller's conf
  * untouched, relation caches dropped at the boundary) and the
  * cancelling, no-orphan leg runner under every per-shard / per-table
  * concurrent mutation loop. */
class ControlPlaneSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.sql.adaptive.enabled"

  private def adaptive(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]

  test("two CONCURRENT mutations plan without AQE while the caller's conf " +
    "and a caller query keep it") {
    spark.conf.set(Key, "true")
    val insideOff = new java.util.concurrent.atomic.AtomicBoolean(true)
    val callerOn = new java.util.concurrent.atomic.AtomicBoolean(true)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def leg(): Unit = ControlPlane(spark, spark.range(8).toDF("id")) {
      (child, ids) =>
        barrier.await() // both threads inside a mutation at once
        if (adaptive(ids.groupBy("id").count()) ||
          adaptive(child.range(8).groupBy("id").count()))
          insideOff.set(false)
        // a nested entry handed the child runs in that same child
        ControlPlane(child) { s => if (!(s eq child)) insideOff.set(false) }
        if (spark.conf.get(Key) != "true" ||
          !adaptive(spark.range(8).groupBy("id").count()))
          callerOn.set(false)
        barrier.await() // hold both mutations open until both checked
    }
    val t = new Thread(() => leg())
    t.start()
    leg()
    t.join(30000)
    assert(!t.isAlive)
    assert(insideOff.get(), "a mutation body planned with AQE")
    assert(callerOn.get(), "the caller lost AQE during a mutation")
  }

  test("a caller relation resolved before a mutation reads what it wrote") {
    val table = "cp_reclaim"
    def drop(): Unit = Seq("_sigs", "_bands", "_deleted")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS $table$s"))
    drop()
    val docs = (0L until 8L).map(i => (i, s"control plane document $i " +
      s"alpha$i beta$i gamma$i delta$i")).toDF("doc_id", "text")
    Dedup.buildSignatureStoreBucketed(docs, "doc_id", "text", table,
      buckets = 4, numHashes = 64, bands = 8, shingleN = 5)
    try {
      val sigs = s"${table}_sigs"
      val store = Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed(table, 4))
      assert(store.delete(spark, Seq(3L).toDF("doc_id")) === 1L)
      // resolves (and caches) the caller's relation and its listing
      assert(spark.table(sigs).count() === 8L)
      assert(store.reclaim(spark, Seq(3L).toDF("doc_id")) === 1L)
      assert(spark.table(sigs).count() === 7L)
      assert(spark.table(sigs).filter(col("id") === 3L).isEmpty)
    } finally drop()
  }

  test("a mutation reads rows the caller appended since the last mutation") {
    val table = "cp_append"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Seq(1L, 2L).toDF("id").write.format("parquet").saveAsTable(table)
    try {
      def seen(): Long = ControlPlane(spark) { child => child.table(table).count() }
      assert(seen() === 2L)
      Seq(3L).toDF("id").write.mode("append").format("parquet").saveAsTable(table)
      assert(seen() === 3L)
    } finally { spark.sql(s"DROP TABLE IF EXISTS $table"); () }
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
