package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.MergeSink

/** Manifest snapshots keep their newest `spark.graft.merge.retainCommits`
  * commits AND the generations those commits reference, so (a) history
  * inside the retention window is readable as of any listed version
  * with no undo replay, and (b) the lost-pointer fallback commit
  * resolves to directories that still exist. `Merge.vacuum` trims the
  * window explicitly; anything outside it fails loudly, never reads
  * half a snapshot. */
class MergeTimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString + "/snap"

  private def b(rows: (Long, String, String, Double, Long)*) =
    rows.toDF("k", "op", "name", "bal", "seq")

  private def state(dir: String): Seq[(Long, String, Double)] =
    Merge.readSnapshot(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq

  private def stateAt(dir: String, v: Long): Seq[(Long, String, Double)] =
    Merge.readSnapshotAt(spark, dir, v).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq

  test("default retention: one step of time travel; older versions fail loudly") {
    val dir = tmp("tt-default")
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq")
    MergeSink.applyBatch(spark, b((2L, "I", "b", 2.0, 2L)), dir,
      "k", "op", "seq")
    MergeSink.applyBatch(spark, b((1L, "U", "a2", 1.5, 3L)), dir,
      "k", "op", "seq")
    assert(Merge.snapshotVersions(spark, dir) === Seq(2L, 3L))
    assert(state(dir) === Seq((1L, "a2", 1.5), (2L, "b", 2.0)))
    assert(stateAt(dir, 3L) === state(dir))
    // one step back: the predecessor's generation survived GC
    assert(stateAt(dir, 2L) === Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    // version 1 aged out of the window — loud failure naming what's left
    val e = intercept[IllegalArgumentException](stateAt(dir, 1L))
    assert(e.getMessage.contains("available: 2, 3"))
  }

  test("raised retention keeps deeper history readable") {
    spark.conf.set("spark.graft.merge.retainCommits", "3")
    try {
      val dir = tmp("tt-deep")
      MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
        "k", "op", "seq")
      MergeSink.applyBatch(spark, b((2L, "I", "b", 2.0, 2L)), dir,
        "k", "op", "seq")
      MergeSink.applyBatch(spark, b((1L, "D", "a", 0.0, 3L)), dir,
        "k", "op", "seq")
      assert(Merge.snapshotVersions(spark, dir) === Seq(1L, 2L, 3L))
      assert(stateAt(dir, 1L) === Seq((1L, "a", 1.0)))
      assert(stateAt(dir, 2L) === Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      assert(state(dir) === Seq((2L, "b", 2.0)))
    } finally spark.conf.unset("spark.graft.merge.retainCommits")
  }

  test("vacuum trims to keepLast and reclaims only unreferenced generations") {
    spark.conf.set("spark.graft.merge.retainCommits", "3")
    try {
      val dir = tmp("tt-vacuum")
      MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
        "k", "op", "seq")
      MergeSink.applyBatch(spark, b((2L, "I", "b", 2.0, 2L)), dir,
        "k", "op", "seq")
      MergeSink.applyBatch(spark, b((1L, "U", "a2", 1.5, 3L)), dir,
        "k", "op", "seq")
      val live = state(dir)
      Merge.vacuum(spark, dir, keepLast = 1)
      assert(Merge.snapshotVersions(spark, dir) === Seq(3L))
      assert(state(dir) === live)
      intercept[IllegalArgumentException](stateAt(dir, 2L))
      // the data dir holds exactly the live commit's generation
      val data = new org.apache.hadoop.fs.Path(dir + "/data")
      val fs = data.getFileSystem(spark.sessionState.newHadoopConf())
      val gens = fs.listStatus(data).map(_.getPath.getName).toSeq.sorted
      assert(gens.length === 1 &&
        gens.head.startsWith("g-000000000003"), gens.toString)
    } finally spark.conf.unset("spark.graft.merge.retainCommits")
  }

  test("lost live pointer falls back to a predecessor whose generations still exist") {
    val dir = tmp("tt-fallback")
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq")
    MergeSink.applyBatch(spark, b((2L, "I", "b", 2.0, 2L)), dir,
      "k", "op", "seq")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // the live pointer object is lost (operator error / store incident):
    // the read resolves through the retained predecessor, whose
    // generation GC kept — the fallback is usable, not a dangling name
    fs.delete(new org.apache.hadoop.fs.Path(
      dir + "/_graft_commit-000000000002"), false)
    assert(state(dir) === Seq((1L, "a", 1.0)))
  }

  test("partition-scoped snapshots time-travel through pruned per-partition generations") {
    val dir = tmp("tt-part")
    val b1 = Seq((1L, "I", "a", "en", 1L), (2L, "I", "b", "de", 2L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b1, dir, "k", "op", "seq", Some("lang"))
    val b2 = Seq((1L, "U", "a2", "en", 3L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b2, dir, "k", "op", "seq", Some("lang"))
    def at(v: Long) = Merge.readSnapshotAt(spark, dir, v)
      .select("k", "name", "lang").orderBy("k")
      .as[(Long, String, String)].collect().toSeq
    assert(at(1L) === Seq((1L, "a", "en"), (2L, "b", "de")))
    assert(at(2L) === Seq((1L, "a2", "en"), (2L, "b", "de")))
    // the untouched partition resolves to the SAME generation in both
    // versions — time travel shares immutable dirs, it does not copy
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val v1de = ManifestCommit.readVersion(fs,
      new org.apache.hadoop.fs.Path(dir), 1L).get.live
      .filter(_.startsWith("lang=de/"))
    val v2de = ManifestCommit.readVersion(fs,
      new org.apache.hadoop.fs.Path(dir), 2L).get.live
      .filter(_.startsWith("lang=de/"))
    assert(v1de === v2de && v1de.nonEmpty)
  }

  test("fsck: healthy is silent; torn commits, missing and orphan generations are named") {
    val dir = tmp("fsck")
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq")
    MergeSink.applyBatch(spark, b((2L, "I", "b", 2.0, 2L)), dir,
      "k", "op", "seq")
    assert(Merge.fsck(spark, dir).count() === 0)

    val hdir = new org.apache.hadoop.fs.Path(dir)
    val fs = hdir.getFileSystem(spark.sessionState.newHadoopConf())

    // crash debris: a staged-but-uncommitted generation → orphan
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "data/g-000000000099"))
    // a torn commit file (valid header, missing trailer)
    val torn = fs.create(
      new org.apache.hadoop.fs.Path(dir, "_graft_commit-000000000098"), false)
    torn.write("graft-commit v1 98\ng-000000000098\n".getBytes("UTF-8"))
    torn.close()
    // corrupt CONTENT that fails State's own require (tab inside the
    // tag token) is also torn — it must be reported, never crash
    // read()/gc()/fsck()
    val torn2 = fs.create(
      new org.apache.hadoop.fs.Path(dir, "_graft_commit-000000000097"), false)
    torn2.write("graft-commit v1 97 a\tb\ng-x\nend 1\n".getBytes("UTF-8"))
    torn2.close()
    // a referenced generation goes missing (manual damage)
    val live = ManifestCommit.read(fs, hdir).get.live.head
    fs.delete(new org.apache.hadoop.fs.Path(dir, s"data/$live"), true)

    val kinds = Merge.fsck(spark, dir)
      .as[(String, String)].collect().groupBy(_._1)
    assert(kinds("torn_commit").map(_._2).toSet ===
      Set("_graft_commit-000000000098", "_graft_commit-000000000097"))
    assert(kinds.contains("orphan_generation"))
    assert(kinds("missing_generation").exists(_._2.endsWith(live)))
    // and the live read still resolves (falls past the torn files)
    assert(Merge.snapshotVersions(spark, dir).nonEmpty)
  }

  test("two racing committers: the late writer loses loudly, the winner's pointer stays live") {
    val dir = tmp("tt-race")
    import org.apache.spark.sql.functions.lit
    MergeSink.applyBatch(spark, b((1L, "I", "a", 1.0, 1L)), dir,
      "k", "op", "seq") // v1
    // writer B passes its preamble (sees v1, targets v2); writer A
    // commits v2 while B is still staging — the expected-version
    // compare before B's pointer flip must fail B loudly
    val e = intercept[IllegalStateException] {
      Merge.commitWholeGeneration(spark, dir) { (genPath, _) =>
        MergeSink.applyBatch(spark, b((2L, "I", "winner", 2.0, 2L)), dir,
          "k", "op", "seq") // A wins v2 mid-flight
        Seq((9L, "loser", 9.9)).toDF("k", "name", "bal")
          .write.mode("overwrite").parquet(genPath) // B's stale stage
      }
    }
    assert(e.getMessage.contains("concurrent writer"))
    // the winner's pointer is live; no half-flipped state
    assert(Merge.snapshotVersions(spark, dir).max === 2L)
    // guard 3 (the atomic backstop): re-creating an existing commit
    // version fails with the explicit conflict error, never overwrites
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val e3 = intercept[IllegalStateException] {
      ManifestCommit.write(fs, new org.apache.hadoop.fs.Path(dir),
        ManifestCommit.State(2L, Seq(ManifestCommit.genName(2L))))
    }
    assert(e3.getMessage.contains("concurrent writer") ||
      e3.getMessage.contains("committed this version first"))
    // the NEXT single writer proceeds normally from the winner's state
    MergeSink.applyBatch(spark, b((3L, "I", "c", 3.0, 3L)), dir,
      "k", "op", "seq")
    assert(state(dir).map(_._1).toSet === Set(1L, 2L, 3L))
    assert(lit(1) != null) // keep the import used
  }

  test("whole-manifest merge rejects two surviving changes per key; D+I stays legal") {
    val dir = tmp("dupguard")
    def c(rows: (Long, String, String)*) = rows.toDF("k", "op", "name")
    Merge.mergeWholeManifest(spark, dir, c((1L, "I", "a"), (2L, "I", "b")), "k")
    // an uncompacted tail: two non-D rows for k=1 → loud rejection,
    // store untouched (would otherwise commit a duplicate-keyed snapshot)
    val e = intercept[IllegalArgumentException] {
      Merge.mergeWholeManifest(spark, dir, c((1L, "U", "x"), (1L, "U", "y")), "k")
    }
    assert(e.getMessage.contains("multiple non-D rows"))
    assert(Merge.readSnapshot(spark, dir).count() === 2)
    // the guard rides the generation write over the UNCACHED change
    // set, so it must fire however the duplicates look: two
    // byte-identical non-D rows, and duplicates for a key the target
    // lacks (no target row on its side of the join) — each refused
    // with the sentinel token, the commit version unmoved
    val v0 = Merge.snapshotVersions(spark, dir).last
    Seq(c((1L, "U", "x"), (1L, "U", "x")), c((7L, "I", "p"), (7L, "I", "q")))
      .foreach { dup =>
        val r = intercept[IllegalArgumentException] {
          Merge.mergeWholeManifest(spark, dir, dup, "k")
        }
        assert(r.getMessage.contains(Merge.MultiNonDToken))
        assert(Merge.snapshotVersions(spark, dir).last === v0)
      }
    assert(Merge.readSnapshot(spark, dir).orderBy("k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // delete-then-reinsert in one batch: exactly one surviving copy
    Merge.mergeWholeManifest(spark, dir, c((1L, "D", "a"), (1L, "I", "a2")), "k")
    assert(Merge.readSnapshot(spark, dir).orderBy("k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a2"), (2L, "b")))
  }

  test("multi-non-D refusals carry the sentinel token and keep the write's failure as cause") {
    val dir = tmp("dupguard-token")
    def c(rows: (Long, String, String)*) = rows.toDF("k", "op", "name")
    Merge.mergeWholeManifest(spark, dir, c((1L, "I", "a")), "k")
    val whole = intercept[IllegalArgumentException] {
      Merge.mergeWholeManifest(spark, dir, c((1L, "U", "x"), (1L, "U", "y")), "k")
    }
    assert(whole.getMessage.contains(Merge.MultiNonDToken))
    // the riding guard raised inside the write job: that failure, not
    // a fresh exception with no history, is the refusal's cause
    val causes = Iterator.iterate[Throwable](whole.getCause)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.nonEmpty)
    assert(causes.exists(t => t.getMessage != null &&
      t.getMessage.contains(Merge.MultiNonDToken)))
    val partDir = tmp("dupguard-token-part")
    val part = intercept[IllegalArgumentException] {
      Merge.mergePartitioned(spark, partDir,
        Seq((1L, "I", "a", "p1"), (1L, "I", "b", "p2")).toDF("k", "op", "name", "part"),
        "k", "part")
    }
    assert(part.getMessage.contains(Merge.MultiNonDToken))
  }
}
