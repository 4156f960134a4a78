package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{CrashPoint, SparkSpec}

/** Merge-on-read deletes: a delete writes only keys, reads subtract
  * them, compact folds them in physically — and the visible row set is
  * identical at every point, including across a crash between the
  * compact's commit and its tombstone clear. */
class DeletionVectorsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString + "/snap"

  private def initSnap(dir: String): Unit =
    Merge.mergeWholeManifest(spark,
      dir,
      (1L to 20L).map(i => (i, s"n$i", i * 10.0, "I"))
        .toDF("k", "name", "bal", "op"),
      "k")

  test("delete is key-only; read subtracts; compact is invisible") {
    val dir = tmp("dv")
    initSnap(dir)

    DeletionVectors.delete(spark, dir,
      Seq(2L, 4L, 6L).toDF("k"), "k")
    DeletionVectors.delete(spark, dir,
      Seq(6L, 7L).toDF("k"), "k") // overlap: 6 deleted twice

    val want = (1L to 20L).filterNot(Set(2L, 4L, 6L, 7L)).toSet
    assert(DeletionVectors.read(spark, dir, "k")
      .select("k").as[Long].collect().toSet === want)
    assert(DeletionVectors.pendingDeletes(spark, dir) === 4L)

    // the raw snapshot still CONTAINS the keys (no data rewrite yet)
    assert(Merge.readSnapshot(spark, dir).count() === 20L)

    DeletionVectors.compact(spark, dir, "k")
    // physically gone, sidecar cleared, view unchanged
    assert(Merge.readSnapshot(spark, dir)
      .select("k").as[Long].collect().toSet === want)
    assert(DeletionVectors.pendingDeletes(spark, dir) === 0L)
    assert(DeletionVectors.read(spark, dir, "k")
      .select("k").as[Long].collect().toSet === want)
  }

  test("a delete retried after a death inside its job commit lands each tombstone once") {
    CrashPoint.install(spark)
    val dir = tmp("dv-deadjob")
    initSnap(dir)
    def deleteTwoKeys(): Unit = DeletionVectors.delete(spark,
      CrashPoint.uri(dir), Seq(3L, 8L).toDF("k"), "k")
    // the job commit's first rename out of `_temporary`: the task
    // output is committed there, none of it published yet
    val commit = CrashPoint.windows(new CrashPoint.Fixture(dir)
        .rehearse(deleteTwoKeys()))
      .find(c => c.kind == "rename" && c.to.exists(!_.contains("/_temporary")))
      .getOrElse(fail("no job-commit rename recorded"))
    assert(CrashPoint.crashAt(spark, commit)(deleteTwoKeys()).isFailure)
    deleteTwoKeys()
    val dups = spark.read.parquet(dir + "/_tombstones")
      .groupBy("k").count().filter(col("count") > 1)
    assert(dups.isEmpty, "the dead job's committed task output was " +
      "published by the retry's job commit")
    assert(DeletionVectors.read(spark, dir, "k").select("k").as[Long]
      .collect().toSet === (1L to 20L).filterNot(Set(3L, 8L)).toSet)
  }

  test("stale tombstones after a crashed compact are a no-op") {
    val dir = tmp("dv-crash")
    initSnap(dir)
    DeletionVectors.delete(spark, dir, Seq(5L, 9L).toDF("k"), "k")
    DeletionVectors.compact(spark, dir, "k")

    // simulate the crash window: the commit landed but the clear did
    // not — re-delete the SAME keys (already physically absent)
    DeletionVectors.delete(spark, dir, Seq(5L, 9L).toDF("k"), "k")
    val want = (1L to 20L).filterNot(Set(5L, 9L)).toSet
    assert(DeletionVectors.read(spark, dir, "k")
      .select("k").as[Long].collect().toSet === want)

    // and the next compact clears them without changing anything
    DeletionVectors.compact(spark, dir, "k")
    assert(DeletionVectors.pendingDeletes(spark, dir) === 0L)
    assert(Merge.readSnapshot(spark, dir)
      .select("k").as[Long].collect().toSet === want)
  }

  test("read with no tombstone sidecar is the plain snapshot") {
    val dir = tmp("dv-none")
    initSnap(dir)
    assert(DeletionVectors.read(spark, dir, "k").count() === 20L)
    assert(DeletionVectors.pendingDeletes(spark, dir) === 0L)
    // compact without tombstones is a no-op (no new commit)
    val vBefore = Merge.snapshotVersions(spark, dir)
    DeletionVectors.compact(spark, dir, "k")
    assert(Merge.snapshotVersions(spark, dir) === vBefore)
  }

  test("read subtracts tombstones via a BROADCAST anti-join (snapshot side unshuffled)") {
    val dir = tmp("dv-plan")
    initSnap(dir)
    DeletionVectors.delete(spark, dir, Seq(2L).toDF("k"), "k")
    val plan = DeletionVectors.read(spark, dir, "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan.take(800))
    // the snapshot (streamed) side reaches the join straight from its
    // file scan — no exchange; the only shuffle in the plan belongs to
    // the tombstone side's distinct, bounded by un-compacted deletes
    val lines = plan.linesIterator.toSeq
    val joinAt = lines.indexWhere(_.contains("BroadcastHashJoin"))
    assert(joinAt >= 0 && joinAt + 1 < lines.size &&
      lines(joinAt + 1).trim.startsWith(":- FileScan parquet"),
      lines.slice(joinAt, joinAt + 2).mkString("\n"))
  }

  test("tombstones appended during a compact are swept in by the merge fold, never lost") {
    val dir = tmp("dv-race")
    initSnap(dir)
    DeletionVectors.delete(spark, dir, Seq(3L).toDF("k"), "k")

    // replay the compact's internal sequence: pin the sidecar listing…
    val td = new org.apache.hadoop.fs.Path(dir, "_tombstones")
    val fs = td.getFileSystem(spark.sessionState.newHadoopConf())
    val pinned = fs.listStatus(td).filter(s => s.isFile && {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }).map(_.getPath)
    // …then land a concurrent delete between the pin and the apply
    DeletionVectors.delete(spark, dir, Seq(8L).toDF("k"), "k")
    DeletionVectors.compactPinned(spark, dir, "k", pinned)

    // BOTH applied: the merge-time tombstone fold lists the sidecar at
    // generation-write time, so the delete that landed after the pin
    // is folded along with the pinned one (applied early, not dropped
    // — and under the version rule, leaving it pending across the
    // commit would have made it inert)
    val all = (1L to 20L).toSet
    assert(Merge.readSnapshot(spark, dir)
      .select("k").as[Long].collect().toSet === all -- Set(3L, 8L))
    assert(DeletionVectors.pendingDeletes(spark, dir) === 0L)
    assert(DeletionVectors.read(spark, dir, "k")
      .select("k").as[Long].collect().toSet === all -- Set(3L, 8L))

    // a further compact is a clean no-op
    DeletionVectors.compact(spark, dir, "k")
    assert(Merge.readSnapshot(spark, dir)
      .select("k").as[Long].collect().toSet === all -- Set(3L, 8L))
  }

  test("a merge re-asserting a tombstoned key wins: no silent hide, no destruction") {
    val dir = tmp("dv-reassert")
    initSnap(dir)
    DeletionVectors.delete(spark, dir, Seq(4L, 9L).toDF("k"), "k")
    // an upsert re-inserts key 4 before any compact ran: the merge
    // folds the tombstones into its generation and the change row wins
    Merge.mergeWholeManifest(spark, dir,
      Seq((4L, "revived", 99.0, "I")).toDF("k", "name", "bal", "op"), "k")
    val all = (1L to 20L).toSet
    assert(DeletionVectors.read(spark, dir, "k")
      .select("k").as[Long].collect().toSet === all - 9L)
    assert(DeletionVectors.read(spark, dir, "k")
      .filter(col("k") === 4L).select("name").as[String].head() === "revived")
    // …and a compact afterwards must NOT destroy the revived key
    DeletionVectors.compact(spark, dir, "k")
    assert(Merge.readSnapshot(spark, dir)
      .select("k").as[Long].collect().toSet === all - 9L)
    assert(DeletionVectors.pendingDeletes(spark, dir) === 0L)
  }

  test("delete refuses a rename-layout snapshot (the sidecar would be destroyed)") {
    val dir = tmp("dv-rename") + "/snap"
    // a plain parquet dir no merge has committed to: no manifest
    (1L to 5L).toDF("k").write.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      DeletionVectors.delete(spark, dir, Seq(1L).toDF("k"), "k")
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("delete refuses a partition-scoped manifest (merges there never fold tombstones)") {
    val dir = tmp("dv-part")
    Merge.mergePartitioned(spark, dir,
      Seq((1L, "a", "p1", "I"), (2L, "b", "p2", "I"))
        .toDF("k", "v", "part", "op"),
      "k", "part")
    // a partition-scoped merge bumps the manifest version WITHOUT
    // folding tombstones — every pending delete would go inert and the
    // keys would silently reappear; delete() must refuse up front
    val e = intercept[IllegalArgumentException] {
      DeletionVectors.delete(spark, dir, Seq(1L).toDF("k"), "k")
    }
    assert(e.getMessage.contains("partition-scoped"))
  }

  test("legacy un-stamped sidecar rows (no __asof) stay applicable until compact") {
    val dir = tmp("dv-legacy")
    initSnap(dir)
    // a sidecar written before version stamping: keys only, no __asof
    Seq(11L, 12L).toDF("k").write.mode("append")
      .parquet(dir + "/_tombstones")
    val want = (1L to 20L).filterNot(Set(11L, 12L)).toSet
    assert(DeletionVectors.read(spark, dir, "k")
      .select("k").as[Long].collect().toSet === want)
    assert(DeletionVectors.pendingDeletes(spark, dir) === 2L)
    // …and they mix with stamped files in the same sidecar
    DeletionVectors.delete(spark, dir, Seq(13L).toDF("k"), "k")
    assert(DeletionVectors.read(spark, dir, "k")
      .select("k").as[Long].collect().toSet === want - 13L)
    // compact folds both generations of sidecar format physically
    DeletionVectors.compact(spark, dir, "k")
    assert(Merge.readSnapshot(spark, dir)
      .select("k").as[Long].collect().toSet === want - 13L)
    assert(DeletionVectors.pendingDeletes(spark, dir) === 0L)
  }
}
