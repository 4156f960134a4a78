package graft.operators

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.functions._
import org.scalatest.exceptions.TestFailedException

import graft.{ChildJvm, CrashPoint, SparkSpec}
import graft.CrashPoint.Call
import graft.tools.CrashWriter

/** A routed-store rebalance (split or merge) killed at every crash
  * window ([[CrashPoint]]): one clean run of the real operation on a
  * `crashpoint://` store records its filesystem calls, and the
  * operation then dies at each window in turn over the restored store.
  * In every window the same recovery contract holds: reads fail loudly
  * or are exact (never a silently smaller corpus); past the point of
  * no return (the staged `meta` marker, whole once its one data file
  * is in) mutations refuse to run over the staging and the resume
  * lands the store in the exact post-rebalance state — exhaustive
  * routed search ≡ brute force over the full corpus; before it, the
  * resume removes the incomplete staging and leaves the store as it
  * was. The windows the old hand-written death modes stopped at are
  * named by kind and path; one of them also dies in a real JVM
  * (halt(137)), which must leave the in-process death's files. */
abstract class RebalanceCrashSpec(
    op: String, // "split" or "merge": the CrashWriter op, the staging
    invariant: String, // the query whose invariant the resume restores
    shardsBefore: Int, shardsAfter: Int) extends SparkSpec {
  import spark.implicits._
  CrashPoint.install(spark)

  /** The windows the old death modes stopped at, by name. */
  protected def namedWindows(windows: Seq[Call]): Seq[(String, Call)]
  protected def resume(dir: String): Int
  /** The operation run plainly, as a caller re-runs it. */
  protected def rerun(dir: String): Int

  private val staging = s"_${op}_staging"

  protected lazy val fixture = CrashFixtures.splitFixture(spark)
  private lazy val queries = fixture.filter(col("vec_id") < 6)
  private lazy val truth = Similarity.bruteForceTopK(fixture, queries, 5)
    .as[(Long, Long, Double, Int)].collect().toSet

  /** exhaustive routed search: every shard, every list */
  private def exhaustive(dir: String): Set[(Long, Long, Double, Int)] =
    Similarity.searchRoutedIvfStore(spark, queries, dir, k = 5,
      nprobe = 2, routeShards = 16)
      .as[(Long, Long, Double, Int)].collect().toSet

  /** The pristine store, the calls of one clean run over it, and its
    * crash windows. */
  protected lazy val (local, store, calls, windows) = {
    val local = java.nio.file.Files.createTempDirectory(s"$op-crash")
      .toString + "/store"
    val store = new CrashPoint.Fixture(local)
    Similarity.buildRoutedIvfStore(fixture, CrashPoint.uri(local),
      shards = shardsBefore, nlist = 2, dim = 8, superIters = 3)
    val calls = store.rehearse(run(CrashPoint.uri(local)))
    (local, store, calls, CrashPoint.windows(calls))
  }
  protected def dir: String = CrashPoint.uri(local)
  protected def run(d: String): Unit = CrashWriter.ops(op)(spark, d)

  private lazy val named: Map[String, Call] = namedWindows(windows).toMap

  private def stagingExists = new java.io.File(s"$local/$staging").exists()
  /** the staged `meta` marker is whole: its one data file is in */
  protected def stagingDone: Boolean =
    Option(new java.io.File(s"$local/$staging/meta").list()).exists(
      _.exists(n => !n.startsWith("_") && !n.startsWith(".")))

  private def readsLoud(): Unit = {
    val e = intercept[IllegalArgumentException](exhaustive(dir))
    assert(e.getMessage.contains("super-quantizer") ||
      e.getMessage.contains("sharding record"), e.getMessage)
  }

  private def readsLoudOrExact(): Unit = Try(exhaustive(dir)) match {
    case Success(got) => assert(got === truth)
    case Failure(_: IllegalArgumentException) => readsLoud()
    case Failure(e) => fail(s"reads must fail loudly and typed: $e")
  }

  protected def mutationsRefused(): Unit = {
    // resuming rewinds the shard dirs to the staged assignment, so
    // anything appended in between would be silently dropped
    val a = intercept[IllegalArgumentException] {
      Similarity.appendToRoutedIvfStore(spark,
        Seq((9999L, Seq.fill(8)(0.5))).toDF("vec_id", "embedding"), dir)
    }
    assert(a.getMessage.contains(s"staged $op"))
    val s = intercept[IllegalArgumentException](run(dir))
    assert(s.getMessage.contains(s"staged $op"))
  }

  protected def resumed(): Unit = {
    assert(resume(dir) === shardsAfter)
    assert(!stagingExists, "success must reclaim the staging")
    // the invariant: no vector was lost, duplicated or re-deleted
    assert(exhaustive(dir) === truth)
  }

  /** the store is a normal routed store again: append + search work */
  protected def appendsAgain(): Unit = {
    Similarity.appendToRoutedIvfStore(spark,
      Seq((9999L, fixture.filter(col("vec_id") === 0)
        .select("embedding").as[Seq[Double]].head())
      ).toDF("vec_id", "embedding"), dir)
    val aug = Similarity.searchRoutedIvfStore(spark,
        fixture.filter(col("vec_id") === 0), dir, k = 201, nprobe = 2,
        routeShards = shardsAfter)
      .select("item_id").as[Long].collect().toSet
    assert(aug.contains(9999L))
  }

  /** Before the point of no return the store was never touched. */
  private def intactAndCleaned(): Unit = {
    if (stagingExists) {
      val e = intercept[IllegalStateException](resume(dir))
      assert(e.getMessage.contains("intact"))
    }
    assert(!stagingExists, "resume must remove the incomplete staging debris")
    assert(exhaustive(dir) === truth)
  }

  /** Dies at `at`: in a real JVM halted there (halt(137)) when
    * `real`, after checking that it leaves the files the in-process
    * death at the same call leaves; else in-process only. */
  private def dieAt(at: Call, real: Boolean): Unit = {
    store.restore()
    assert(CrashPoint.crashAt(spark, at)(run(dir)).isFailure)
    if (real) {
      val inProcess = CrashPoint.listing(local)
      store.restore()
      val child = ChildJvm.start(Seq(dir, "die-at", op), CrashPoint.haltProps(at))
      assert(child.waitFor() === 137, child.tail)
      assert(CrashPoint.listing(local) === inProcess)
    }
  }

  test(s"death at every enumerated call of the $op: reads loud or exact, mutations refused, resume restores the $invariant invariant") {
    named.foreach { case (name, c) =>
      assert(windows.contains(c), s"$name window $c is not enumerated") }
    windows.foreach { w =>
      store.restore()
      try {
        assert(CrashPoint.crashAt(spark, w)(run(dir)).isFailure)
        readsLoudOrExact()
        if (stagingDone) {
          mutationsRefused()
          resumed()
        } else intactAndCleaned()
      } catch {
        case e: TestFailedException => throw e.modifyMessage(
          _.map(m => s"crash at $w: $m"))
        case e: Exception => fail(s"crash at $w: $e", e)
      }
    }
  }

  // the windows past the point of no return, each named after the old
  // death mode that stopped there. One of them (postinvalidate, a
  // driver-side delete) dies in a real JVM and must leave the files
  // the in-process death leaves; the sweep above already asserts the
  // contract at the others, so they die in-process at the same call.
  for (name <- Seq("postinvalidate", "midrefile", "postrename",
      "prerestore") if op == "merge" || name != "postrename") {
    test(s"REAL process death ($op-die-$name): reads loud, mutations refused, resume restores the $invariant invariant") {
      val real = name == "postinvalidate"
      assert(!(real && named(name).onExecutor))
      dieAt(named(name), real)
      assert(stagingDone, "the death window is past the point of no " +
        "return — the staging (the recovery copy) must survive the dead JVM")
      readsLoud()
      mutationsRefused()
      resumed()
      appendsAgain()
    }
  }

  test(s"REAL process death before the point of no return: store intact, resume cleans the debris, $op re-runs") {
    assert(!named("staging").onExecutor)
    dieAt(named("staging"), real = false)
    assert(stagingExists && !stagingDone)
    // the store was never touched: reads are normal with the
    // incomplete staging present
    assert(exhaustive(dir) === truth)
    intactAndCleaned()
    // the documented next action: just re-run the operation
    assert(rerun(dir) === shardsAfter)
    assert(exhaustive(dir) === truth)
  }

  test(s"resume with no staged $op is loud, not a silent no-op") {
    store.restore()
    val e = intercept[IllegalArgumentException](resume(dir))
    assert(e.getMessage.contains(s"no staged $op"))
  }
}
