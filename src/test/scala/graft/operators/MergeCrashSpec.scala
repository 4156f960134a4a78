package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.exceptions.TestFailedException

import graft.{ChildJvm, CrashPoint, SparkSpec}
import graft.CrashPoint.Call
import graft.streaming.MergeSink
import graft.tools.CrashWriter

/** Abrupt-death recovery for the manifest commit protocol — the 100 TB
  * failure mode #1 is a writer process dying mid-anything, so every
  * death point must leave readers on committed state and let a
  * restarted writer proceed (after the staged-grace window for debris
  * that still looks in-flight). The deaths are the calls of one real
  * whole-manifest `MergeSink.applyBatch` ([[CrashPoint]]), each killed
  * in turn:
  *
  *  1. death mid-`writeGen` — the generation's task dies at its one
  *     part file's create, so nothing of it lands;
  *  2. death at the commit create — a whole stage no commit names;
  *  3. death after the flip, before post-commit cleanup — superseded
  *     generations linger;
  *  4. death mid-pointer-write — a torn commit file above the live
  *     one (a torn write inside one file is no call boundary: built
  *     directly here, and by a real JVM in `CrashWriter die-torn`);
  *  5. the staged-grace gate itself: fresh crash debris aborts a
  *     restart LOUDLY (indistinguishable from a live concurrent
  *     writer) until it ages; a peer's GC never reclaims a fresh
  *     stage, and when the gate is off the [[ManifestCommit
  *     .requireIntact]] backstop still makes the loss loud, not
  *     silent.
  */
class MergeCrashSpec extends SparkSpec {
  import spark.implicits._
  CrashPoint.install(spark)

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString + "/snap"

  private def b(rows: (Long, String, String, Double, Long)*) =
    rows.toDF("k", "op", "name", "bal", "seq")

  private def state(dir: String): Seq[(Long, String, Double)] =
    Merge.readSnapshot(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** age every never-referenced staged dir AND every commit file past
    * the grace window — what wall-clock time does for real crash
    * debris (torn commit files above the live pointer are grace-gated
    * the same way stages are, so a restart test must age both). */
  private def ageDebris(dir: String): Unit = {
    val fs = fsOf(dir)
    val data = ManifestCommit.dataDir(new Path(dir))
    val old = System.currentTimeMillis() - 600000L
    def ageTree(p: Path): Unit = {
      fs.listStatus(p).foreach { c =>
        if (c.isDirectory) ageTree(c.getPath)
        else fs.setTimes(c.getPath, old, -1L)
      }
      fs.setTimes(p, old, -1L)
    }
    if (fs.exists(data)) fs.listStatus(data).filter(_.isDirectory)
      .foreach(c => ageTree(c.getPath))
    fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.startsWith("_graft_commit-"))
      .foreach(c => fs.setTimes(c.getPath, old, -1L))
  }

  private def genDirs(dir: String): Set[String] = {
    val fs = fsOf(dir)
    val data = ManifestCommit.dataDir(new Path(dir))
    if (!fs.exists(data)) Set.empty
    else fs.listStatus(data).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("g-")).toSet
  }

  private val v2 = Seq((1L, "a", 1.0), (2L, "b", 2.0))
  private val v3 = v2 :+ ((3L, "c", 3.0))

  /** A snapshot at v2 (retention 2: v1's commit and generation are
    * exactly what v3's post-commit cleanup reclaims), the calls of
    * one clean v3 commit over it (`CrashWriter.ops("merge-commit")`),
    * and its crash windows. */
  private lazy val (local, snap, windows) = {
    val local = tmp("crash-enum")
    val snap = new CrashPoint.Fixture(local)
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), local,
      "k", "op", "seq")
    MergeSink.applyBatch(spark, b((2L, "I", "b", 2.0, 2L)), local,
      "k", "op", "seq")
    val calls = snap.rehearse(commitV3(CrashPoint.uri(local)))
    (local, snap, CrashPoint.windows(calls))
  }
  private def dir = CrashPoint.uri(local)
  private def commitV3(d: String): Unit = CrashWriter.ops("merge-commit")(spark, d)

  /** the generation write's part-file create, in its task */
  private lazy val midWriteGen = CrashPoint.find(windows, "create",
    "/snap/data/g-000000000003-*/part-")
  /** the commit file's create: the generation is whole, nothing names it */
  private lazy val staged = CrashPoint.find(windows, "create",
    "/snap/_graft_commit-000000000003")
  /** the first cleanup delete after the flip */
  private lazy val postFlip = windows(windows.indexOf(staged) + 1)

  /** Dies at `at`: in a real JVM halted there (halt(137)) when
    * `real`, after checking that it leaves the files the in-process
    * death at the same call leaves; else in-process only. */
  private def dieAt(at: Call, real: Boolean): Unit = {
    snap.restore()
    assert(CrashPoint.crashAt(spark, at)(commitV3(dir)).isFailure)
    if (real) {
      assert(!at.onExecutor)
      val inProcess = CrashPoint.listing(local)
      snap.restore()
      val child = ChildJvm.start(Seq(dir, "die-at", "merge-commit"),
        CrashPoint.haltProps(at))
      assert(child.waitFor() === 137, child.tail)
      assert(CrashPoint.listing(local) === inProcess)
    }
  }

  test("death at every enumerated call of a whole-manifest commit: readers stay on committed state, the re-delivered batch commits after the grace window") {
    assert(postFlip.kind == "delete" &&
      postFlip.path.endsWith("/snap/_graft_commit-000000000001"), postFlip)
    windows.foreach { w =>
      snap.restore()
      try {
        assert(CrashPoint.crashAt(spark, w)(commitV3(dir)).isFailure)
        // readers: committed state only, whichever side of the flip
        val flipped = windows.indexOf(w) > windows.indexOf(staged)
        assert(state(dir) === (if (flipped) v3 else v2))
        ageDebris(dir)
        commitV3(dir) // the re-delivery: idempotent when v3 landed
        assert(state(dir) === v3)
        assert(Merge.fsck(spark, dir).collect().isEmpty)
      } catch {
        case e: TestFailedException => throw e.modifyMessage(
          _.map(m => s"crash at $w: $m"))
        case e: Exception => fail(s"crash at $w: $e", e)
      }
    }
  }

  test("REAL process death (halt mid-stage in a separate JVM): readers unaffected, restart recovers, GC reclaims") {
    // the writer REALLY dies — halt(137), no shutdown hooks — with
    // v3's generation fully staged and no commit file
    dieAt(staged, real = true)
    val orphans = genDirs(dir).filter(_.startsWith("g-000000000003"))
    assert(orphans.size === 1, s"expected one dead stage: ${genDirs(dir)}")
    // readers see only committed state — the dead stage is invisible
    assert(state(dir) === v2)
    // a restarted writer within the grace window aborts LOUDLY (the
    // debris is indistinguishable from a live concurrent writer)...
    val boom = intercept[IllegalArgumentException](commitV3(dir))
    assert(boom.getMessage.contains("concurrent writer"))
    // ...and once the debris ages past the grace (what wall-clock does
    // for real), the re-delivered batch GCs it and commits
    ageDebris(dir)
    commitV3(dir)
    assert(state(dir) === v3)
    assert(!genDirs(dir).exists(orphans.contains),
      s"dead stage must be reclaimed: ${genDirs(dir)}")
  }

  test("death mid-writeGen: partial stage is debris; restart recovers and commits") {
    snap.restore()
    // the writer dies inside staging v3, at its task's part-file
    // create: the generation's one file is written by that task alone
    // (no `_temporary`, no rename), so no call boundary leaves a part
    // of it — the stage is absent here and whole at the commit create
    assert(midWriteGen.onExecutor)
    assert(CrashPoint.crashAt(spark, midWriteGen)(commitV3(dir)).isFailure)
    // readers: only committed state
    assert(state(dir) === v2)
    assert(genDirs(dir).size === 2) // v1, v2 retained, nothing of v3
    // with nothing of v3 staged there is no debris for the grace gate
    // to wait on: the restart commits at once, and what remains is
    // exactly the retained commits' generations (the aged-debris GC
    // is the enumeration's `staged` window, above)
    commitV3(dir)
    assert(state(dir) === v3)
    val fs = fsOf(dir)
    val live = ManifestCommit.read(fs, new Path(dir)).get.live.toSet
    assert(genDirs(dir).forall(g =>
      live(g) || ManifestCommit.versions(fs, new Path(dir))
        .flatMap(v => ManifestCommit.readVersion(fs, new Path(dir), v))
        .exists(_.live.contains(g))))
    assert(Merge.fsck(spark, dir)
      .filter(org.apache.spark.sql.functions
        .col("kind") === "orphan_generation").count() === 0)
  }

  test("death mid-pointer-write: torn commit is skipped; re-delivery heals it") {
    val dir = tmp("crash-midflip")
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq") // v1
    val fs = fsOf(dir)
    // v2 staged FULLY, then the process died while uploading the
    // commit object: content is present but the trailer never landed
    val gen = ManifestCommit.stagedGenName(2L)
    Seq((2L, "torn", 2.0)).toDF("k", "name", "bal")
      .write.parquet(new Path(ManifestCommit.dataDir(new Path(dir)), gen).toString)
    val torn = fs.create(new Path(dir, "_graft_commit-000000000002"), false)
    torn.write(s"graft-commit v1 2\n$gen\n".getBytes("UTF-8")) // no trailer
    torn.close()
    // readers resolve through the newest WHOLE commit — still v1
    assert(state(dir) === Seq((1L, "a", 1.0)))
    // the restarted writer re-delivers batch 2: the torn commit file
    // and (aged) stale stage clear out, v2 commits cleanly
    ageDebris(dir)
    MergeSink.applyBatch(spark, b((2L, "I", "b", 2.0, 2L)), dir,
      "k", "op", "seq")
    assert(state(dir) === Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    assert(Merge.snapshotVersions(spark, dir).max === 2L)
  }


  test("death after flip, before cleanup: history lingers then GCs; state is the committed one") {
    snap.restore()
    assert(CrashPoint.crashAt(spark, postFlip)(commitV3(dir)).isFailure)
    // the flip happened: readers see v3, and v1 (beyond retention 2)
    // is cleanup work the crash left behind
    assert(state(dir) === v3)
    assert(Merge.snapshotVersions(spark, dir) === Seq(1L, 2L, 3L))
    assert(genDirs(dir).size === 3)
    // the next writer's preamble does the cleanup instead (committed =
    // referenced-by-dropped-commit dirs reclaim with NO age gate)
    MergeSink.applyBatch(spark, b((4L, "I", "d", 4.0, 4L)), dir,
      "k", "op", "seq")
    assert(state(dir) === v3 :+ ((4L, "d", 4.0)))
    assert(Merge.snapshotVersions(spark, dir) === Seq(3L, 4L))
    assert(genDirs(dir).size === 2)
  }

  test("fresh crash debris aborts a too-early restart loudly, then ages out") {
    snap.restore()
    assert(CrashPoint.crashAt(spark, staged)(commitV3(dir)).isFailure)
    // within the grace window the debris is indistinguishable from a
    // live concurrent writer's stage — the restart must NOT delete it
    // and must abort on the version probe instead
    val e = intercept[IllegalArgumentException](commitV3(dir))
    assert(e.getMessage.contains("concurrent writer"))
    assert(state(dir) === v2) // nothing was harmed
    // after the window (debris mtime ages), the same batch proceeds
    ageDebris(dir)
    commitV3(dir)
    assert(state(dir) === v3)
  }

  test("a peer's GC spares a fresh stage; with the gate off the loss is loud, not silent") {
    val dir = tmp("crash-gcrace")
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq") // v1
    val fs = fsOf(dir)
    val p = new Path(dir)
    // graceful peer: a preamble GC (grace on) while our stage is fresh
    // must leave it untouched
    Merge.commitWholeGeneration(spark, dir) { (genPath, _) =>
      Seq((2L, "b", 2.0)).toDF("k", "name", "bal")
        .write.mode("overwrite").parquet(genPath)
      ManifestCommit.gc(fs, p, retain = 2, graceMs = 60000L)
      assert(fs.exists(new Path(genPath)),
        "grace-gated GC must not reclaim a fresh in-flight stage")
    }
    // commitWholeGeneration is the raw whole-snapshot primitive: the
    // staged gen IS the new snapshot content
    assert(state(dir) === Seq((2L, "b", 2.0)))
    // hostile peer: gate off (grace 0) — the stage IS reclaimed, and
    // the writer's pre-flip intactness check turns silent data loss
    // into a loud abort; the live commit stays v2
    val e = intercept[IllegalStateException] {
      Merge.commitWholeGeneration(spark, dir) { (genPath, _) =>
        Seq((3L, "c", 3.0)).toDF("k", "name", "bal")
          .write.mode("overwrite").parquet(genPath)
        ManifestCommit.gc(fs, p, retain = 2, graceMs = 0L)
      }
    }
    assert(e.getMessage.contains("between write and commit"))
    assert(state(dir) === Seq((2L, "b", 2.0)))
    assert(Merge.snapshotVersions(spark, dir).max === 2L)
  }

  test("REAL process death mid-pointer-flip (die-torn): torn commit skipped, grace-gated, re-delivery heals") {
    val dir = tmp("crash-realtorn")
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq") // v1
    // the writer REALLY dies while the commit object is uploading:
    // header + entries flushed, trailer never lands
    assert(ChildJvm.run(Seq(dir, "die-torn")) === 137)
    val fs = fsOf(dir)
    val tornFile = new Path(dir, "_graft_commit-000000000002")
    assert(fs.exists(tornFile), "the torn pointer bytes must be on disk")
    // readers resolve through the newest WHOLE commit — still v1
    assert(state(dir) === Seq((1L, "a", 1.0)))
    // a too-early restart aborts loudly (fresh debris looks in-flight)
    val boom = intercept[IllegalArgumentException] {
      MergeSink.applyBatch(spark, b((2L, "I", "b", 2.0, 2L)), dir,
        "k", "op", "seq")
    }
    assert(boom.getMessage.contains("concurrent writer"))
    // crucially, the preamble GC did NOT delete the fresh torn commit
    // file — it could have been a live peer's flip in progress
    assert(fs.exists(tornFile),
      "a fresh torn commit file must survive the grace-gated GC")
    // once aged (real wall-clock), the re-delivered batch clears the
    // torn pointer + stale stage and commits v2 cleanly
    ageDebris(dir)
    MergeSink.applyBatch(spark, b((2L, "I", "b", 2.0, 2L)), dir,
      "k", "op", "seq")
    assert(state(dir) === Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    assert(Merge.snapshotVersions(spark, dir).max === 2L)
  }

  test("REAL process death post-flip (die-postflip): committed state live, lingering history GCs on next batch") {
    // v3 flips and the writer dies at the post-commit cleanup's first
    // delete (in-process: the manifest commit's real-JVM death is the
    // mid-stage one above, and die-torn below)
    dieAt(postFlip, real = false)
    val fs = fsOf(dir)
    // the flip happened: readers see v3's content immediately
    assert(state(dir) === v3)
    // the crash left cleanup work: v1's commit file (beyond retention
    // 2) is still present
    assert(fs.exists(new Path(dir, "_graft_commit-000000000001")),
      "post-flip death must leave the superseded history un-GCed")
    // the next writer's preamble completes the dead writer's cleanup —
    // superseded commits at-or-below live reclaim with NO age gate
    MergeSink.applyBatch(spark, b((4L, "I", "d", 4.0, 4L)), dir,
      "k", "op", "seq")
    assert(!fs.exists(new Path(dir, "_graft_commit-000000000001")))
    assert(Merge.snapshotVersions(spark, dir) === Seq(3L, 4L))
    assert(state(dir) === v3 :+ ((4L, "d", 4.0)))
  }

  test("gc grace-gates a fresh torn commit above live; aged or superseded ones reclaim") {
    val dir = tmp("crash-gcflip")
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq") // v1 live
    val fs = fsOf(dir)
    val p = new Path(dir)
    val torn = new Path(dir, "_graft_commit-000000000002")
    val out = fs.create(torn, false)
    out.write("graft-commit v1 2\ng-junk\n".getBytes("UTF-8")) // no trailer
    out.close()
    // fresh torn file ABOVE live: a grace-gated GC leaves it (it may be
    // a peer's in-progress flip)
    ManifestCommit.gc(fs, p, retain = 2, graceMs = 60000L)
    assert(fs.exists(torn), "fresh torn commit above live must survive")
    // aged past the grace: debris, reclaimed
    fs.setTimes(torn, System.currentTimeMillis() - 600000L, -1L)
    ManifestCommit.gc(fs, p, retain = 2, graceMs = 60000L)
    assert(!fs.exists(torn), "aged torn commit above live must reclaim")
    // with the gate OFF a torn file above live reclaims immediately
    val out2 = fs.create(torn, false)
    out2.write("graft-commit v1 2\ng-junk\n".getBytes("UTF-8"))
    out2.close()
    ManifestCommit.gc(fs, p, retain = 2, graceMs = 0L)
    assert(!fs.exists(torn))
    // superseded commits AT-OR-BELOW live are inert and reclaim even
    // fresh: write v2, v3 — v1 goes despite being newly written
    MergeSink.applyBatch(spark, b((2L, "I", "b", 2.0, 2L)), dir,
      "k", "op", "seq")
    MergeSink.applyBatch(spark, b((3L, "I", "c", 3.0, 3L)), dir,
      "k", "op", "seq")
    assert(!fs.exists(new Path(dir, "_graft_commit-000000000001")),
      "superseded commit below live must reclaim without aging")
    assert(state(dir) ===
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
  }

  test("gc spares a racing peer's COMPLETED commit above a STALE live pointer — pointer AND generations") {
    val dir = tmp("crash-gcrace2")
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq") // v1 live
    val realFs = fsOf(dir)
    val p = new Path(dir)
    val gen2 = ManifestCommit.stagedGenName(2L)
    val gen2Path = new Path(ManifestCommit.dataDir(p), gen2)
    val c2 = new Path(dir, "_graft_commit-000000000002")
    // the race window is INSIDE gc: between its read() (which lists
    // the dir once) and its own commit listing (the second list), a
    // peer completes v2 — pointer flipped whole, generation on disk.
    // gc then sees a fresh PARSEABLE commit above its stale liveIdx.
    // It must spare the pointer AND the generation: deleting the data
    // while the pointer survives manufactures a missing_generation on
    // COMMITTED, acknowledged state (the r11 review finding).
    var injected = false
    var listCalls = 0
    val fs2 = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
        if (f.toUri.getPath == p.toUri.getPath) {
          listCalls += 1
          if (listCalls == 2 && !injected) {
            injected = true
            // the peer lands NOW, through the real FS (no recursion)
            realFs.mkdirs(gen2Path)
            val d = realFs.create(new Path(gen2Path, "part-0.bin"), false)
            d.write(Array[Byte](1, 2, 3)); d.close()
            ManifestCommit.write(realFs, p,
              ManifestCommit.State(2L, Seq(gen2)))
          }
        }
        super.listStatus(f)
      }
    }
    fs2.initialize(new java.net.URI("file:///"),
      spark.sessionState.newHadoopConf())
    ManifestCommit.gc(fs2, p, retain = 2, graceMs = 60000L)
    assert(injected, "the race window was never exercised")
    // the peer's pointer AND its generation both survived the gc
    assert(realFs.exists(c2),
      "a fresh parseable commit above the stale live pointer must survive")
    assert(realFs.exists(gen2Path),
      "the surviving pointer's generation must survive WITH it")
    // the snapshot is intact: v2 resolves with its data present
    assert(ManifestCommit.read(realFs, p).map(_.version).contains(2L))
    assert(ManifestCommit.fsck(realFs, p)
      .forall(_._1 != "missing_generation"),
      ManifestCommit.fsck(realFs, p).toString)
  }

  test("write() read-back verify: a commit that vanishes mid-flip fails loudly, not silently") {
    val dir = tmp("crash-flipverify")
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq")
    val fs = fsOf(dir)
    val p = new Path(dir)
    // a hostile actor (peer GC with the gate off) deletes the commit
    // object right after the writer's close: on POSIX the writer's
    // stream never failed, so ONLY the read-back can catch it. Model
    // the post-close deletion with an FS wrapper that drops the file
    // on close.
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem { self =>
      override def create(f: Path, overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream = {
        val out = super.create(f, overwrite)
        new org.apache.hadoop.fs.FSDataOutputStream(
          new java.io.FilterOutputStream(out) {
            override def close(): Unit = {
              super.close()
              if (f.getName.startsWith("_graft_commit-"))
                self.delete(f, false) // the peer's reclaim lands here
            }
          }, null)
      }
    }
    raw.initialize(new java.net.URI("file:///"),
      spark.sessionState.newHadoopConf())
    val e = intercept[IllegalStateException] {
      ManifestCommit.write(raw, p,
        ManifestCommit.State(2L, Seq("g-000000000002-deadbeef")))
    }
    assert(e.getMessage.contains("did not read back whole"))
    assert(e.getMessage.contains("do not advance the checkpoint"))
    // the snapshot is untouched — still v1
    assert(state(dir) === Seq((1L, "a", 1.0)))
  }

  test("vacuum reclaims aged orphaned nonce dirs, spares fresh ones") {
    val dir = tmp("crash-vacuum")
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq")
    val fs = fsOf(dir)
    val data = ManifestCommit.dataDir(new Path(dir))
    // two orphaned stages from dead writers: one old, one fresh
    val oldOrphan = new Path(data, ManifestCommit.stagedGenName(7L))
    val newOrphan = new Path(data, ManifestCommit.stagedGenName(8L))
    fs.mkdirs(oldOrphan); fs.mkdirs(newOrphan)
    fs.setTimes(oldOrphan, System.currentTimeMillis() - 600000L, -1L)
    Merge.vacuum(spark, dir, keepLast = 2)
    assert(!fs.exists(oldOrphan), "aged orphan must be vacuumed")
    assert(fs.exists(newOrphan), "fresh orphan may be in-flight — spared")
    // once aged, the next vacuum takes it too
    fs.setTimes(newOrphan, System.currentTimeMillis() - 600000L, -1L)
    Merge.vacuum(spark, dir, keepLast = 2)
    assert(!fs.exists(newOrphan))
  }
}
