package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.{ChildJvm, SparkSpec}

/** Injects a racing peer's COMMIT into the exact window between a
  * writer's staged generations and its pointer flip: the first
  * `create()` of the named commit file writes the peer's content to
  * that very path first, so the writer's exclusive create loses the
  * race deterministically — the only way to reach the OCC rebase path
  * without sleeps or luck (the r11 race-window pattern, one protocol
  * step later). One-shot; data-file creates pass through untouched. */
object CommitRaceFs {
  @volatile var inject: Option[(String, String)] = None // (fileName, content)
  // a peer that COMPLETES its torn flip late: once `minCreates` creates
  // of the named file have been attempted, the next OPEN rewrites it
  // with the complete content first — deterministically places the
  // completion between the loser's final failed create and its
  // terminal diagnosis read (no sleeps, no luck)
  // (fileName, content, minCreates, skipOpens): after `minCreates`
  // creates, skip `skipOpens` further opens (the loser's own torn-check
  // inside write()), then complete on the next one
  @volatile var completeOnOpen: Option[(String, String, Int, Int)] = None
  @volatile var createCount: Int = 0
  @volatile var opensAfter: Int = 0
}
class CommitRaceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "commitrace"
  override def getUri: java.net.URI = java.net.URI.create("commitrace:///")
  private def fire(f: Path): Unit = {
    CommitRaceFs.inject match {
      case Some((name, content)) if f.getName == name =>
        CommitRaceFs.inject = None
        java.nio.file.Files.write(pathToFile(f).toPath,
          content.getBytes("UTF-8"))
      case _ =>
    }
    CommitRaceFs.completeOnOpen.foreach { case (name, _, _, _) =>
      if (f.getName == name) CommitRaceFs.createCount += 1
    }
  }
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CommitRaceFs.completeOnOpen match {
      case Some((name, content, minCreates, skipOpens))
          if f.getName == name && CommitRaceFs.createCount >= minCreates =>
        if (CommitRaceFs.opensAfter < skipOpens)
          CommitRaceFs.opensAfter += 1
        else {
          CommitRaceFs.completeOnOpen = None
          java.nio.file.Files.write(pathToFile(f).toPath,
            content.getBytes("UTF-8"))
        }
      case _ =>
    }
    super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    fire(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    fire(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

/** Simulates entries VANISHING between a directory listing and their
  * stat/open — what a racing peer's rename/delete looks like to a
  * concurrent walker (the r12 three-real-writer race died exactly
  * here, twice: gc's grace walk hitting a sibling's in-flight
  * `_temporary` renames, and gc's commit parse hitting a peer gc's
  * reclaim of a superseded commit file). */
object VanishFs {
  @volatile var statVanish: Option[String] = None // file NAME to vanish on stat
  @volatile var openVanish: Option[String] = None // file NAME to vanish on open
  @volatile var statCalls: Int = 0 // stats seen for the marked name
}
class VanishFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "vanish"
  override def getUri: java.net.URI = java.net.URI.create("vanish:///")
  // the marked file is PRESENT at listing time and gone at the explicit
  // re-stat — the exact interleaving the three-writer race produced.
  // (Throwing on EVERY stat would never reach the walk: Hadoop's
  // RawLocalFileSystem.listStatus swallows per-child FNF, silently
  // dropping the entry from the listing.)
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    if (VanishFs.statVanish.contains(f.getName)) {
      VanishFs.statCalls += 1
      if (VanishFs.statCalls > 1)
        throw new java.io.FileNotFoundException(s"vanished mid-walk: $f")
      else super.getFileStatus(f)
    } else super.getFileStatus(f)
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream =
    if (VanishFs.openVanish.contains(f.getName))
      throw new java.io.FileNotFoundException(s"vanished before open: $f")
    else super.open(f, bufferSize)
}

/** MERGE optimistic concurrency (`spark.graft.merge.occ`): disjoint
  * concurrent writers both land (rebase), overlapping writers still
  * fail loudly, and the default (occ off) keeps the single-writer-loud
  * contract — plus a REAL two-process race through CrashWriter. */
class MergeOccSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.commitrace.impl", classOf[CommitRaceFs].getName)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def commitName(v: Long): String = f"_graft_commit-$v%012d"

  /** Seed a manifest snapshot with partitions en + de at v1. */
  private def seed(dir: String): Unit =
    Merge.mergePartitioned(spark,
      dir,
      Seq((1L, "I", "a", "en"), (2L, "I", "b", "de"))
        .toDF("k", "op", "name", "lang"),
      "k", "lang")

  /** A peer commit State: current live entries with `leaf` repointed
    * to `gen` (whose parquet the caller stages beforehand). */
  private def peerContent(dir: String, leaf: String, gen: String): String = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val st = ManifestCommit.read(fs, new Path(dir)).get
    val entries = (ManifestCommit.liveLeafMap(Some(st)) + (leaf -> gen))
      .toSeq.sorted.map { case (l, g) => s"$l/$g" }
    s"graft-commit v1 ${st.version + 1}\n" +
      entries.map(_ + "\n").mkString + s"end ${entries.size}\n"
  }

  private def withOcc[A](on: Boolean)(f: => A): A = {
    if (on) spark.conf.set("spark.graft.merge.occ", "true")
    try f
    finally {
      spark.conf.unset("spark.graft.merge.occ")
      CommitRaceFs.inject = None
    }
  }

  test("disjoint conflict rebases: both writers' partitions land, fsck clean") {
    val dir = "commitrace://" + tmp("occ-disjoint") + "/snap"
    seed(dir)
    // the peer's generation for a THIRD partition (fr) — staged for
    // real so the injected commit references existing data
    val peerGen = "g-000000000002-peer0001"
    Seq((30L, "c")).toDF("k", "name").write
      .parquet(s"$dir/data/lang=fr/$peerGen")
    withOcc(on = true) {
      CommitRaceFs.inject =
        Some((commitName(2L), peerContent(dir, "lang=fr", peerGen)))
      // writer B touches ONLY lang=en — disjoint from the peer's fr
      Merge.mergePartitioned(spark, dir,
        Seq((1L, "U", "a2", "en")).toDF("k", "op", "name", "lang"),
        "k", "lang")
    }
    assert(CommitRaceFs.inject.isEmpty, "the race must have fired")
    // BOTH commits' effects are live: B's en update AND the peer's fr
    val got = Merge.readSnapshot(spark, dir)
      .select("k", "name", "lang").as[(Long, String, String)]
      .collect().toSet
    assert(got === Set((1L, "a2", "en"), (2L, "b", "de"), (30L, "c", "fr")))
    // B rebased past the peer: versions 1 (seed), 2 (peer), 3 (B)
    assert(Merge.snapshotVersions(spark, dir).max === 3L)
    assert(Merge.fsck(spark, dir).collect().isEmpty)
  }

  test("overlapping conflict still fails loudly and names the partition") {
    val dir = "commitrace://" + tmp("occ-overlap") + "/snap"
    seed(dir)
    // the peer repoints lang=en — the SAME leaf writer B touches
    val peerGen = "g-000000000002-peer0002"
    Seq((1L, "peer")).toDF("k", "name").write
      .parquet(s"$dir/data/lang=en/$peerGen")
    val e = withOcc(on = true) {
      CommitRaceFs.inject =
        Some((commitName(2L), peerContent(dir, "lang=en", peerGen)))
      intercept[IllegalStateException] {
        Merge.mergePartitioned(spark, dir,
          Seq((1L, "U", "mine", "en")).toDF("k", "op", "name", "lang"),
          "k", "lang")
      }
    }
    assert(e.getMessage.contains("SAME partition") &&
      e.getMessage.contains("lang=en"), e.getMessage)
    // the peer's commit stands untouched
    val got = Merge.readSnapshot(spark, dir)
      .select("k", "name", "lang").as[(Long, String, String)]
      .collect().toSet
    assert(got === Set((1L, "peer", "en"), (2L, "b", "de")))
    // B's staged generation is orphan debris (informational) — the
    // next aged gc reclaims it and fsck goes clean
    val findings = Merge.fsck(spark, dir).collect().map(_.getString(0)).toSet
    assert(findings.subsetOf(Set("orphan_generation")), findings)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    ManifestCommit.gc(fs, new Path(dir),
      ManifestCommit.retention(spark), graceMs = 0L)
    assert(Merge.fsck(spark, dir).collect().isEmpty)
  }

  test("a peer CRASHED mid-flip: OCC waits out the retry budget, then surfaces the torn conflict loudly") {
    val dir = "commitrace://" + tmp("occ-midflip") + "/snap"
    seed(dir)
    // the peer's commit file exists but is TORN (header, no trailer) —
    // a flip that started and never completed. A LIVE peer would
    // finish it between our retries; this one never does, so the
    // writer must exhaust its budget and surface the torn-conflict
    // error with the grace-window guidance, not spin forever and not
    // misreport a committed winner.
    val torn = s"graft-commit v1 2\nlang=zz/g-000000000002-dead\n"
    spark.conf.set("spark.graft.merge.occRetries", "2")
    val e = withOcc(on = true) {
      CommitRaceFs.inject = Some((commitName(2L), torn))
      try intercept[IllegalStateException] {
        Merge.mergePartitioned(spark, dir,
          Seq((1L, "U", "a2", "en")).toDF("k", "op", "name", "lang"),
          "k", "lang")
      } finally spark.conf.unset("spark.graft.merge.occRetries")
    }
    assert(e.getMessage.contains("TORN"), e.getMessage)
    // the snapshot is untouched — still the seed state
    val got = Merge.readSnapshot(spark, dir)
      .select("k", "name", "lang").as[(Long, String, String)]
      .collect().toSet
    assert(got === Set((1L, "a", "en"), (2L, "b", "de")))
  }

  test("a peer that COMPLETES its flip exactly at budget exhaustion: diagnosed 'healthy but contended', not torn (r13 review)") {
    val dir = "commitrace://" + tmp("occ-lateflip") + "/snap"
    seed(dir)
    // the peer's v2 commit is TORN through BOTH of our create attempts
    // (occRetries = 1 ⇒ exactly two), then completes — via the
    // complete-on-open hook — precisely before our terminal diagnosis
    // read. Before the r13 fix this surfaced the torn-commit guidance
    // (grace windows, fsck) for a snapshot that is perfectly healthy.
    val peerGen = "g-000000000002-peer0042"
    Seq((40L, "d")).toDF("k", "name").write
      .parquet(s"$dir/data/lang=fr/$peerGen")
    val torn = s"graft-commit v1 2\nlang=fr/$peerGen\n"
    spark.conf.set("spark.graft.merge.occRetries", "1")
    val e = withOcc(on = true) {
      CommitRaceFs.createCount = 0
      CommitRaceFs.opensAfter = 0
      CommitRaceFs.inject = Some((commitName(2L), torn))
      // skip ONE open after the final create: write()'s own torn-check
      // must still see the torn file (midflip conflict), the terminal
      // diagnosis read right after it sees the completed one
      CommitRaceFs.completeOnOpen =
        Some((commitName(2L), peerContent(dir, "lang=fr", peerGen), 2, 1))
      try intercept[IllegalStateException] {
        Merge.mergePartitioned(spark, dir,
          Seq((1L, "U", "a2", "en")).toDF("k", "op", "name", "lang"),
          "k", "lang")
      } finally {
        spark.conf.unset("spark.graft.merge.occRetries")
        CommitRaceFs.completeOnOpen = None
      }
    }
    assert(e.getMessage.contains("HEALTHY") &&
      e.getMessage.contains("contended"), e.getMessage)
    assert(!e.getMessage.contains("TORN"))
    // the peer's commit IS the live state — nothing of ours landed,
    // nothing of the peer's was damaged
    val got = Merge.readSnapshot(spark, dir)
      .select("k", "name").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "b"), (40L, "d")))
  }

  test("occ off (default): the same lost race keeps the single-writer-loud contract") {
    val dir = "commitrace://" + tmp("occ-off") + "/snap"
    seed(dir)
    val peerGen = "g-000000000002-peer0003"
    Seq((30L, "c")).toDF("k", "name").write
      .parquet(s"$dir/data/lang=fr/$peerGen")
    val e = withOcc(on = false) {
      CommitRaceFs.inject =
        Some((commitName(2L), peerContent(dir, "lang=fr", peerGen)))
      intercept[IllegalStateException] {
        Merge.mergePartitioned(spark, dir,
          Seq((1L, "U", "a2", "en")).toDF("k", "op", "name", "lang"),
          "k", "lang")
      }
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
  }

  test("gc survives entries vanishing mid-walk: a sibling's live stage reads as fresh, a reclaimed commit file as absent") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.vanish.impl", classOf[VanishFs].getName)
    val dir = "vanish://" + tmp("occ-vanish") + "/snap"
    seed(dir)
    // second version so gc has a superseded commit to iterate
    Merge.mergePartitioned(spark, dir,
      Seq((1L, "U", "a2", "en")).toDF("k", "op", "name", "lang"),
      "k", "lang")
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // an UNREFERENCED fresh gen dir = a sibling writer's in-flight
    // stage; its data file "vanishes" when gc's grace walk stats it
    // (the peer renaming _temporary task files mid-commit)
    val stage = s"$dir/data/lang=de/g-000000000009-peerstage"
    Seq((9L, "live")).toDF("k", "name").write.parquet(stage)
    val dataFile = new java.io.File(new java.net.URI(stage).getPath)
      .listFiles().filter(_.getName.endsWith(".parquet")).head.getName
    try {
      VanishFs.statVanish = Some(dataFile)
      // without the newestMTime fix this walk THREW FileNotFoundException
      // and killed the (innocent) writer running its preamble gc
      ManifestCommit.gc(fs, new Path(dir), retain = 2, graceMs = 60000L)
      assert(VanishFs.statCalls > 1,
        "the grace walk must actually have re-statted the vanished entry")
      assert(fs.exists(new Path(stage)),
        "an actively-mutating stage must read as FRESH and survive")
      // a commit file reclaimed by a peer's gc between listing and
      // open must read as absent, not kill the reader
      VanishFs.openVanish = Some(f"_graft_commit-${1L}%012d")
      assert(ManifestCommit.versions(fs, new Path(dir)) === Seq(2L))
      ManifestCommit.gc(fs, new Path(dir), retain = 2, graceMs = 60000L)
      assert(Merge.readSnapshot(spark, dir).count() === 2)
    } finally {
      VanishFs.statVanish = None
      VanishFs.openVanish = None
      VanishFs.statCalls = 0
    }
    // once the tree stops changing it ages out normally
    def ageTree(p: Path): Unit = {
      val old = System.currentTimeMillis() - 7200000L
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).foreach(c => ageTree(c.getPath))
      fs.setTimes(p, old, -1L)
    }
    ageTree(new Path(stage))
    ManifestCommit.gc(fs, new Path(dir), retain = 2, graceMs = 60000L)
    assert(!fs.exists(new Path(stage)), "aged dead stage must reclaim")
  }

  test("TWO REAL writer processes race on disjoint partitions: every batch lands, fsck clean") {
    val dir = tmp("occ-real") + "/snap"
    seed(dir)
    def launch(part: String, n: Int) =
      ChildJvm.start(Seq(dir, "occ-loop", part, n.toString))
    val n = 6
    // THREE writers: two on the seeded partitions, one creating a new
    // leaf mid-race — deeper consecutive-loss chains through the
    // rebase loop than any two-writer interleaving produces
    val a = launch("en", n)
    val b = launch("de", n)
    val c = launch("fr", n)
    assert(a.waitFor() === 0, s"writer A must exit clean:\n${a.tail}")
    assert(b.waitFor() === 0, s"writer B must exit clean:\n${b.tail}")
    assert(c.waitFor() === 0, s"writer C must exit clean:\n${c.tail}")
    // every batch of both writers landed: the seed rows plus n inserts
    // per writer, and one commit per merge so the version counts them
    val got = Merge.readSnapshot(spark, dir)
      .select("name", "lang").as[(String, String)].collect()
    assert(got.length === 2 + 3 * n)
    (1 to n).foreach { i =>
      assert(got.contains((s"en-$i", "en")), s"writer A batch $i lost")
      assert(got.contains((s"de-$i", "de")), s"writer B batch $i lost")
      assert(got.contains((s"fr-$i", "fr")), s"writer C batch $i lost")
    }
    assert(Merge.snapshotVersions(spark, dir).max === 1L + 3 * n)
    assert(Merge.fsck(spark, dir).collect().isEmpty)
  }

  test("REAL occ writers racing an aggressive VACUUM process: no batch lost, history trimmed, fsck clean") {
    // the r13 review seam: vacuum is the writers' own gc with a
    // caller-chosen (here minimal) retention, run from a THIRD process
    // while OCC writers rebase — the staged-grace gate must keep fresh
    // stages alive, requireIntact must keep any reclaimed stage LOUD
    // (never a published generation with missing files), and the gc
    // walk-then-stat hardening must hold against a concurrent deleter.
    val dir = tmp("occ-vacuum") + "/snap"
    seed(dir)
    val n = 5
    val a = ChildJvm.start(Seq(dir, "occ-loop", "en", n.toString))
    val b = ChildJvm.start(Seq(dir, "occ-loop", "de", n.toString))
    val v = ChildJvm.start(Seq(dir, "vacuum-loop", "40"))
    assert(a.waitFor() === 0, s"writer A must exit clean:\n${a.tail}")
    assert(b.waitFor() === 0, s"writer B must exit clean:\n${b.tail}")
    assert(v.waitFor() === 0, s"vacuum must exit clean:\n${v.tail}")
    val got = Merge.readSnapshot(spark, dir)
      .select("name", "lang").as[(String, String)].collect()
    assert(got.length === 2 + 2 * n)
    (1 to n).foreach { i =>
      assert(got.contains((s"en-$i", "en")), s"writer A batch $i lost")
      assert(got.contains((s"de-$i", "de")), s"writer B batch $i lost")
    }
    assert(Merge.snapshotVersions(spark, dir).max === 1L + 2 * n)
    // the vacuum actually trimmed: retained history is bounded by the
    // writers' own retention, not the full 1+2n commit chain
    assert(Merge.snapshotVersions(spark, dir).size < 1 + 2 * n)
    assert(Merge.fsck(spark, dir).collect().isEmpty)
  }
}
