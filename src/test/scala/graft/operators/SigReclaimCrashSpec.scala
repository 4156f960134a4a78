package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.exceptions.TestFailedException

import graft.{ChildJvm, CrashPoint, SparkSpec}
import graft.CrashPoint.Call
import graft.tools.CrashWriter

/** The bucketed signature store's file-targeted reclaim
  * (`Bucketing.reclaimFromTable` under
  * `Dedup.SigStore.reclaim` on the bucketed layout) killed at every crash
  * window ([[CrashPoint]]). The protocol is append-then-delete per
  * table, the two tables' legs running concurrently, then the R
  * records' append to the op log; both tables and the log (at
  * `<warehouse>/sigrc__dlog`) are under the crash-point scheme. A death
  * leaves survivors appended with none or some originals deleted, the
  * store reading duplicate survivor rows while the standing tombstones
  * (and the not yet appended R records) keep the targets hidden, or
  * both legs done with the R records missing or landed. In every
  * window the heal is the re-run: it reclaims every target the log
  * still tombstones, the net-state audit is clean and neither table
  * holds a duplicate row. One window also dies in a real JVM
  * (halt(137)), whose in-memory catalog dies with it: `CrashWriter
  * die-at sig-reclaim` registers the tables from their files, as any
  * fresh process must. */
class SigReclaimCrashSpec extends SparkSpec {
  import spark.implicits._
  CrashPoint.install(spark)

  private val table = CrashWriter.sigTable
  private val (sigs, bands) = (s"${table}_sigs", s"${table}_bands")
  private lazy val wh = new org.apache.hadoop.fs.Path(
    spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
  private lazy val dlog = s"$wh/${table}__dlog"
  private lazy val net = CrashFixtures.sigFixture(spark)
    .filter(!col("doc_id").isin(CrashWriter.sigTargets: _*))

  /** The store with its targets tombstoned, both tables under the
    * crash-point scheme; the calls of one clean reclaim over it and
    * its crash windows. */
  private lazy val (sigsDir, store, windows) = {
    Dedup.buildSignatureStoreBucketed(CrashFixtures.sigFixture(spark),
      "doc_id", "text", table, buckets = 8, numHashes = 64, bands = 4,
      shingleN = 5)
    Dedup.SigStore(Dedup.MinHash(bands = 4), Dedup.Bucketed(table, 8))
      .delete(spark, CrashWriter.sigTargets.toDF("doc_id"))
    val Seq(sigsDir, bandsDir) = Seq(sigs, bands).map(CrashPoint.relocate(spark, _))
    val store = new CrashPoint.Fixture(sigsDir, bandsDir, dlog)
    val calls = store.rehearse(reclaim())
    (sigsDir, store, CrashPoint.windows(calls))
  }

  /** A child of the session whose warehouse, and so the op log under
    * it, is on the crash-point scheme, as the child JVM's is from its
    * start (the warehouse is a static conf: set on the child's own
    * conf). The tables and the catalog are shared. */
  private lazy val onCrashPoint = org.apache.spark.sql.graft.PlanBridge
    .childSession(spark, "spark.sql.warehouse.dir" -> CrashPoint.uri(wh))
  private def reclaim(): Unit =
    CrashWriter.ops("sig-reclaim")(onCrashPoint, CrashPoint.uri(wh))

  /** the sigs leg's deletes of the original files, in order */
  private lazy val originalDeletes = windows.filter(c => c.kind == "delete" &&
    c.path.startsWith(sigsDir + "/part-"))

  private def restore(): Unit = {
    store.restore()
    Seq(sigs, bands).foreach(spark.catalog.refreshTable)
  }

  /** targets the op log still tombstones (no R record landed) */
  private def tombstoned(): Long = TombstoneLog.resolved(spark, dlog, "id")
    .map(_.filter(col("id").isin(CrashWriter.sigTargets: _*)).count())
    .getOrElse(0L)

  /** The heal: the re-run reclaims every target, and the net store is
    * exact. */
  private def healed(): Unit = {
    Seq(sigs, bands).foreach(spark.catalog.refreshTable)
    val n = tombstoned()
    assert(Dedup.SigStore(Dedup.MinHash(bands = 4), Dedup.Bucketed(table, 8))
      .reclaim(spark, CrashWriter.sigTargets.toDF("doc_id")) === n)
    assert(tombstoned() === 0L)
    val audit = Dedup.auditSignatureStoreBucketed(spark, net, "doc_id",
      "text", table, numHashes = 64, bands = 4, shingleN = 5)
    assert(audit.count() === net.count())
    assert(audit.filter(!col("sig_ok") || !col("bands_ok")).count() === 0)
    assert(spark.table(sigs).groupBy("id").count()
      .filter(col("count") > 1).count() === 0)
    assert(spark.table(bands).groupBy("id", "band", "bucket").count()
      .filter(col("count") > 1).count() === 0)
  }

  /** Dies at `at`: in a real JVM halted there (halt(137)) when
    * `real`, after checking that it leaves the sigs-table files the
    * in-process death at the same call leaves (the bands leg runs
    * concurrently, so its progress at the death depends on thread
    * timing); else in-process only. */
  private def dieAt(at: Call, real: Boolean): Unit = {
    restore()
    assert(CrashPoint.crashAt(spark, at)(reclaim()).isFailure)
    if (real) {
      assert(!at.onExecutor)
      val inProcess = CrashPoint.listing(sigsDir)
      restore()
      val child = ChildJvm.start(Seq(CrashPoint.uri(wh), "die-at",
        "sig-reclaim"), CrashPoint.haltProps(at))
      assert(child.waitFor() === 137, child.tail)
      assert(CrashPoint.listing(sigsDir) === inProcess)
    }
  }

  test("death at every enumerated call of the bucketed reclaim: the re-run heals, audit clean, zero duplicate rows") {
    assert(originalDeletes.size >= 2, windows.mkString("\n"))
    // the R records' append is enumerated: both legs done with the
    // records missing, and with them landed
    assert(windows.exists(_.path.startsWith(dlog + "/")), windows.mkString("\n"))
    val seen = windows.map { w =>
      try {
        restore()
        assert(CrashPoint.crashAt(spark, w)(reclaim()).isFailure)
        val n = tombstoned()
        healed()
        n
      } catch {
        case e: TestFailedException => throw e.modifyMessage(
          _.map(m => s"crash at $w: $m"))
        case e: Exception => fail(s"crash at $w: $e", e)
      }
    }
    assert(seen.toSet === Set(3L, 0L))
  }

  // the windows the old death modes stopped at; the mid-delete one
  // dies in a real JVM, the other in-process at the same call
  test("die with survivors appended, originals intact: a real-JVM death heals on the re-run") {
    dieAt(originalDeletes.head, real = false)
    assert(tombstoned() === 3L)
    healed()
  }

  test("die mid-delete (survivors appended, one original gone): a real-JVM death heals on the re-run") {
    dieAt(originalDeletes(1), real = true)
    assert(tombstoned() === 3L)
    healed()
  }
}
