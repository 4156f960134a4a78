package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // same knob as the Bench/Verify mains: fall back to non-codegen
      // for stages whose generated method can never JIT (> 8 KB
      // bytecode) — tests run the plans users run
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Await a self-terminating stream, and on timeout STOP it before
    * failing: a discarded `awaitTermination(ms) == false` leaks a live
    * query that keeps running micro-batches under later suites and
    * races session teardown (the r16 flaky-test class). */
  def awaitDrained(q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      fail(s"streaming query did not terminate within $timeoutMs ms")
    }

  /** Spark jobs `body` submits, counted per job group by a listener; a
    * marker job afterwards flushes the (ordered, asynchronous) listener
    * queue before the count is read. */
  def jobsOf(body: => Unit): Int = jobStartsOf(body).size

  /** The start events of the Spark jobs `body` submits, in order (see
    * [[jobsOf]]). */
  def jobStartsOf(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkListenerJobStart)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => starts.add(g -> e))
    }
    def seen(g: String) = starts.toArray(Array.empty[(String, SparkListenerJobStart)])
      .collect { case (`g`, e) => e }.toSeq
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (seen(s"$group-marker").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen(s"$group-marker").nonEmpty, "listener queue did not drain")
      seen(group)
    } finally sc.removeSparkListener(listener)
  }
}
