package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Merge

/** A local filesystem that forbids every rename — the object-store
  * simulation for the manifest-commit tests: on S3 a directory rename
  * is a non-atomic copy, so a commit protocol is object-store-safe only
  * if it never renames. No exemption either for an output committer's
  * `_temporary` files: every snapshot writer commits without one. */
class StrictNoRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "strictnorename"
  override def getUri: java.net.URI = java.net.URI.create("strictnorename:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    throw new java.io.IOException(
      s"rename forbidden by StrictNoRenameFs (object-store simulation): $src -> $dst")
}

/** Simulates an object store having a transient bad moment: while
  * `failCommitOpens` is set, opening a manifest commit file throws —
  * the S3 503/throttle case. Everything else (writes, lists, data
  * reads) stays healthy, which is exactly the window where a
  * swallow-all parse would misread the live commit as torn. */
object FlakyOpenFs { @volatile var failCommitOpens = false }
class FlakyOpenFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flakyopen"
  override def getUri: java.net.URI = java.net.URI.create("flakyopen:///")
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
    if (FlakyOpenFs.failCommitOpens &&
        f.getName.startsWith("_graft_commit"))
      throw new java.io.IOException(
        s"simulated transient store error opening $f")
    else super.open(f, bufferSize)
}

/** The maintained snapshot must equal "apply every change in seq order"
  * after any batch arrival pattern, and re-applying a batch must be a
  * no-op (foreachBatch re-delivery safety). Snapshots live on
  * [[StrictNoRenameFs]] wherever the test allows it, so each case also
  * shows the commit never renames anything. */
class MergeSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  /** snapshot path on the rename-forbidding filesystem */
  private def noRenameDir(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.strictnorename.impl", classOf[StrictNoRenameFs].getName)
    "strictnorename://" + tmp(prefix) + "/snap"
  }

  /** the same directory on the plain local filesystem, for fixtures
    * written through Spark's committer (which renames) */
  private def local(dir: String): String =
    "file://" + dir.stripPrefix("strictnorename://")

  private def snapshot(dir: String) = Merge.readSnapshot(spark, dir)

  test("streaming upsert maintains latest-by-key across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Double, Long)]
    val changes = mem.toDF().toDF("k", "op", "name", "bal", "seq")
    val dir = noRenameDir("mergesink")
    val q = MergeSink.mergeInto(changes, dir, "k", "op", "seq",
      checkpoint = tmp("mergesink-ckpt"),
      trigger = Trigger.ProcessingTime(0))
    // batch 1: two inserts + an intra-batch update (seq order wins)
    mem.addData((1L, "I", "a", 1.0, 1L), (2L, "I", "b", 2.0, 2L),
      (2L, "U", "b2", 2.5, 3L))
    q.processAllAvailable()
    val s1 = snapshot(dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(s1 === Seq((1L, "a", 1.0), (2L, "b2", 2.5)))
    // batch 2: delete one key, update the other, insert a third
    mem.addData((1L, "D", "a", 0.0, 4L), (2L, "U", "b3", 3.0, 5L),
      (3L, "I", "c", 9.0, 6L))
    q.processAllAvailable()
    q.stop()
    val s2 = snapshot(dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(s2 === Seq((2L, "b3", 3.0), (3L, "c", 9.0)))
  }

  test("re-applying the same batch is idempotent (re-delivery safety)") {
    val dir = noRenameDir("mergesink-idem")
    val batch = Seq((1L, "I", "a", 1.0, 1L), (2L, "I", "b", 2.0, 2L))
      .toDF("k", "op", "name", "bal", "seq")
    MergeSink.applyBatch(spark, batch, dir, "k", "op", "seq")
    val once = snapshot(dir).orderBy("k").collect().toSeq
    MergeSink.applyBatch(spark, batch, dir, "k", "op", "seq")
    val twice = snapshot(dir).orderBy("k").collect().toSeq
    assert(once === twice)
  }

  test("partition-scoped merge is schema-rigid and layout-checked, never silently lossy") {
    val dir = noRenameDir("mergesink-rigid")
    val b1 = Seq((1L, "I", "a", 9.0, "en", 1L), (2L, "I", "b", 8.0, "de", 2L))
      .toDF("k", "op", "name", "bal", "lang", "seq")
    MergeSink.applyBatch(spark, b1, dir, "k", "op", "seq", Some("lang"))

    // NARROWER changes (bal omitted): before the rigid check this
    // silently DESTROYED bal in every rewritten partition
    val narrow = Seq((1L, "U", "a2", "en", 3L))
      .toDF("k", "op", "name", "lang", "seq")
    val e1 = intercept[IllegalArgumentException] {
      MergeSink.applyBatch(spark, narrow, dir, "k", "op", "seq", Some("lang"))
    }
    assert(e1.getMessage.contains("omit snapshot columns"), e1.getMessage)
    assert(e1.getMessage.contains("bal"))

    // WIDER changes (new column): would leave per-partition schema skew
    val wide = Seq((1L, "U", "a2", 9.5, "en", "x", 4L))
      .toDF("k", "op", "name", "bal", "lang", "tier", "seq")
    val e2 = intercept[IllegalArgumentException] {
      MergeSink.applyBatch(spark, wide, dir, "k", "op", "seq", Some("lang"))
    }
    assert(e2.getMessage.contains("cannot evolve"), e2.getMessage)

    // WRONG partition column: would merge against empty and write a
    // second partition scheme beside the old one
    val wrongCol = Seq((1L, "U", "a2", 9.5, "en"))
      .toDF("k", "op", "name", "bal", "tenant")
    val e3 = intercept[IllegalArgumentException] {
      Merge.mergePartitioned(spark, dir, wrongCol, "k", "tenant")
    }
    assert(e3.getMessage.contains("not 'tenant'"), e3.getMessage)

    // and the snapshot is untouched by all three rejections
    assert(snapshot(dir).orderBy("k")
      .select("k", "name", "bal")
      .as[(Long, String, Double)].collect().toSeq ===
      Seq((1L, "a", 9.0), (2L, "b", 8.0)))
  }

  test("a directory already holding plain parquet is refused, never shadowed by a first commit") {
    // data written by something other than a merge carries no commit
    // file; a first commit beside it would resolve to the new
    // generation alone and silently hide every existing row
    val dir = noRenameDir("mergesink-plain")
    Seq((1L, "a", "en"), (2L, "b", "de")).toDF("k", "name", "lang")
      .write.partitionBy("lang").parquet(local(dir))
    val b = Seq((1L, "U", "a2", "en", 3L)).toDF("k", "op", "name", "lang", "seq")
    Seq(Some("lang"), None).foreach { pc =>
      val e = intercept[IllegalArgumentException] {
        MergeSink.applyBatch(spark, b, dir, "k", "op", "seq", pc)
      }
      assert(e.getMessage.contains("non-manifest content"), e.getMessage)
    }
    // nothing committed, nothing lost: the plain rows read as before
    assert(Merge.snapshotVersions(spark, dir).isEmpty)
    assert(spark.read.parquet(dir).select("k", "name", "lang").orderBy("k")
      .as[(Long, String, String)].collect().toSeq ===
      Seq((1L, "a", "en"), (2L, "b", "de")))
  }

  /** (path, mtime, size) of every data file under a generation dir —
    * byte-identity evidence that the dir was never rewritten. */
  private def fileSig(dir: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).toSeq.filterNot(_.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.toString, st.getModificationTime, st.getLen))
      .sortBy(_._1)
  }

  /** partition leaf (e.g. `lang=de`) → its live generation name */
  private def liveLeaves(dir: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    graft.operators.ManifestCommit.liveLeafMap(graft.operators.ManifestCommit
      .read(p.getFileSystem(spark.sessionState.newHadoopConf()), p))
  }

  private def liveGen(dir: String, leaf: String): String =
    s"$dir/data/$leaf/${liveLeaves(dir)(leaf)}"

  test("streaming mergeInto with partitionCol routes batches through the partition-scoped path") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val changes = mem.toDF().toDF("k", "op", "name", "lang", "seq")
    val dir = noRenameDir("mergesink-stream-part")
    val q = MergeSink.mergeInto(changes, dir, "k", "op", "seq",
      checkpoint = tmp("mergesink-stream-part-ckpt"),
      trigger = Trigger.ProcessingTime(0), partitionCol = Some("lang"))
    mem.addData((1L, "I", "a", "en", 1L), (2L, "I", "b", "de", 2L))
    q.processAllAvailable()
    val deGen = liveGen(dir, "lang=de")
    val deBefore = fileSig(deGen)
    mem.addData((1L, "U", "a2", "en", 3L), (3L, "I", "c", "en", 4L))
    q.processAllAvailable()
    q.stop()
    val got = snapshot(dir)
      .select("k", "name", "lang").orderBy("k")
      .as[(Long, String, String)].collect().toSeq
    assert(got === Seq((1L, "a2", "en"), (2L, "b", "de"), (3L, "c", "en")))
    // the de partition was untouched by batch 2: same live generation,
    // same files
    assert(liveGen(dir, "lang=de") === deGen)
    assert(fileSig(deGen) === deBefore)
  }

  test("partition values with filesystem-hostile characters round-trip the swap") {
    // '=' , '/' and space must escape in the partition dir name exactly
    // the way Spark's own writer escapes them, or the commit names a
    // generation under the wrong partition directory
    val dir = noRenameDir("mergesink-partesc")
    val b1 = Seq((1L, "I", "a", "e n=/x", 1L), (2L, "I", "b", "de", 2L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b1, dir, "k", "op", "seq", Some("lang"))
    val b2 = Seq((1L, "U", "a2", "e n=/x", 3L)).toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b2, dir, "k", "op", "seq", Some("lang"))
    val got = snapshot(dir)
      .select("k", "name", "lang").orderBy("k")
      .as[(Long, String, String)].collect().toSeq
    assert(got === Seq((1L, "a2", "e n=/x"), (2L, "b", "de")))
  }

  test("a null partition value in the change set is rejected, not dropped") {
    val dir = noRenameDir("mergesink-partnull")
    val b = Seq((1L, "I", "a", null.asInstanceOf[String], 1L))
      .toDF("k", "op", "name", "lang", "seq")
    val e = intercept[IllegalArgumentException] {
      MergeSink.applyBatch(spark, b, dir, "k", "op", "seq", Some("lang"))
    }
    assert(e.getMessage.contains("null 'lang'"))
  }

  test("an empty-string partition value is rejected like null, not silently lost") {
    // Spark's partitioned writers fold '' into the null partition
    // (__HIVE_DEFAULT_PARTITION__), so 'lang=' cannot round-trip a
    // partition path — the merged rows would land where no read finds
    // them while the batch reported success
    val dir = noRenameDir("mergesink-partempty")
    val b = Seq((1L, "I", "a", "", 1L)).toDF("k", "op", "name", "lang", "seq")
    val e = intercept[IllegalArgumentException] {
      MergeSink.applyBatch(spark, b, dir, "k", "op", "seq", Some("lang"))
    }
    assert(e.getMessage.contains("empty-string 'lang'"))
  }

  test("a partition move (D old + I new in one batch) relocates the key") {
    val dir = noRenameDir("mergesink-partmove")
    val b1 = Seq((1L, "I", "a", "en", 1L), (2L, "I", "b", "de", 2L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b1, dir, "k", "op", "seq", Some("lang"))
    // key 2 moves de -> en within ONE micro-batch: per-(key, partition)
    // compaction must keep BOTH rows so the D can erase the stale copy
    val b2 = Seq((2L, "D", "b", "de", 3L), (2L, "I", "b2", "en", 4L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b2, dir, "k", "op", "seq", Some("lang"))
    val got = snapshot(dir)
      .select("k", "name", "lang").orderBy("k")
      .as[(Long, String, String)].collect().toSeq
    assert(got === Seq((1L, "a", "en"), (2L, "b2", "en")))
    // the emptied partition dropped out of the live commit
    assert(liveLeaves(dir).keySet === Set("lang=en"))
  }

  test("two non-D rows for one key across partitions are rejected, not duplicated") {
    val dir = noRenameDir("mergesink-partdup")
    val b = Seq((1L, "I", "a", "en", 1L), (1L, "I", "a2", "de", 2L))
      .toDF("k", "op", "name", "lang", "seq")
    val e = intercept[IllegalArgumentException] {
      MergeSink.applyBatch(spark, b, dir, "k", "op", "seq", Some("lang"))
    }
    assert(e.getMessage.contains("partition move"))
  }

  // ---- commit protocol: crash debris, layout modes, store faults ----

  test("manifest commit: whole-snapshot merge without a single rename") {
    val dir = noRenameDir("mergesink-manifest")
    val b1 = Seq((1L, "I", "a", 1.0, 1L), (2L, "I", "b", 2.0, 2L))
      .toDF("k", "op", "name", "bal", "seq")
    MergeSink.applyBatch(spark, b1, dir, "k", "op", "seq")
    val s1 = graft.operators.Merge.readSnapshot(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(s1 === Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val b2 = Seq((1L, "D", "a", 0.0, 3L), (2L, "U", "b2", 3.0, 4L),
      (3L, "I", "c", 9.0, 5L)).toDF("k", "op", "name", "bal", "seq")
    MergeSink.applyBatch(spark, b2, dir, "k", "op", "seq")
    val s2 = graft.operators.Merge.readSnapshot(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(s2 === Seq((2L, "b2", 3.0), (3L, "c", 9.0)))
    // re-delivery of the same batch is idempotent
    MergeSink.applyBatch(spark, b2, dir, "k", "op", "seq")
    val s3 = graft.operators.Merge.readSnapshot(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(s3 === s2)
  }

  test("manifest commit: torn commit file and orphan generation are recovered") {
    val dir = noRenameDir("mergesink-manifest-crash")
    val b1 = Seq((1L, "I", "a", 1.0, 1L)).toDF("k", "op", "name", "bal", "seq")
    MergeSink.applyBatch(spark, b1, dir, "k", "op", "seq")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a crash mid-batch-2: a fully staged generation exists but
    // the commit file upload tore half-way (no trailer)
    val orphan = new org.apache.hadoop.fs.Path(dir + "/data/g-000000000002")
    fs.mkdirs(orphan)
    // age the debris past the staged-grace window: real crash debris is
    // old by the time the re-delivered batch runs; fresh unreferenced
    // dirs are deliberately LEFT by GC (they may be an in-flight peer)
    fs.setTimes(orphan, System.currentTimeMillis() - 600000L, -1L)
    val tornPath =
      new org.apache.hadoop.fs.Path(dir + "/_graft_commit-000000000002")
    val torn = fs.create(tornPath, false)
    torn.write("graft-commit v1 2\ng-000000000002\n".getBytes("UTF-8")) // no trailer
    torn.close()
    // the torn pointer is grace-gated too (a fresh one may be a peer's
    // flip in progress — MergeCrashSpec covers that); age it like the
    // generation debris
    fs.setTimes(tornPath, System.currentTimeMillis() - 600000L, -1L)
    // the torn commit must NOT be read as live
    val seen = graft.operators.Merge.readSnapshot(spark, dir)
      .as[(Long, String, Double)].collect().toSeq
    assert(seen === Seq((1L, "a", 1.0)))
    // re-delivered batch 2: preamble GC clears the debris, then applies
    val b2 = Seq((2L, "I", "b", 2.0, 2L)).toDF("k", "op", "name", "bal", "seq")
    MergeSink.applyBatch(spark, b2, dir, "k", "op", "seq")
    val got = graft.operators.Merge.readSnapshot(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a", 1.0), (2L, "b", 2.0)))
  }

  test("partition-scoped crash between generation write and commit flip is recovered") {
    val dir = noRenameDir("mergesink-partcrash")
    val b1 = Seq((1L, "I", "a", "en", 1L), (2L, "I", "b", "de", 2L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b1, dir, "k", "op", "seq", Some("lang"))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // simulate dying mid-batch-2: lang=en's new generation is staged and
    // the commit file naming it tore half-way (no trailer)
    val orphan = s"$dir/data/lang=en/g-000000000002-dead"
    Seq((1L, "half")).toDF("k", "name").write.parquet(local(orphan))
    val torn = fs.create(
      new org.apache.hadoop.fs.Path(dir + "/_graft_commit-000000000002"), false)
    torn.write("graft-commit v1 2\nlang=en/g-000000000002-dead\n".getBytes("UTF-8"))
    torn.close()
    // age the debris past the staged-grace window, as real crash debris
    // is by the time the batch is re-delivered
    def age(q: org.apache.hadoop.fs.Path): Unit = {
      fs.setTimes(q, System.currentTimeMillis() - 600000L, -1L)
      if (fs.getFileStatus(q).isDirectory)
        fs.listStatus(q).foreach(c => age(c.getPath))
    }
    age(new org.apache.hadoop.fs.Path(orphan))
    age(new org.apache.hadoop.fs.Path(dir + "/_graft_commit-000000000002"))
    // readers still resolve the last whole commit
    assert(snapshot(dir).select("k", "name").orderBy("k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // re-delivered batch 2: the preamble GC clears the debris, then applies
    val b2 = Seq((1L, "U", "a2", "en", 3L)).toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b2, dir, "k", "op", "seq", Some("lang"))
    assert(snapshot(dir).select("k", "name").orderBy("k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a2"), (2L, "b")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)))
  }

  test("manifest commit: partition-scoped merge, untouched generation byte-identical, moves and full-deletes work") {
    val dir = noRenameDir("mergesink-manifest-part")
    val b1 = Seq(
      (1L, "I", "a", "en", 1L), (2L, "I", "b", "de", 2L),
      (3L, "I", "c", "de", 3L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b1, dir, "k", "op", "seq", Some("lang"))
    // resolve v1's actual (writer-unique) generation dir name under de
    val deGen = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/data/lang=de")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val gens = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("g-000000000001"))
      assert(gens.length === 1, gens.toSeq.toString)
      s"$dir/data/lang=de/${gens.head}"
    }
    val deBefore = fileSig(deGen)
    // batch 2 touches only en
    val b2 = Seq((1L, "U", "a2", "en", 4L), (9L, "I", "z", "en", 5L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b2, dir, "k", "op", "seq", Some("lang"))
    val got = graft.operators.Merge.readSnapshot(spark, dir)
      .select("k", "name", "lang").orderBy("k")
      .as[(Long, String, String)].collect().toSeq
    assert(got === Seq((1L, "a2", "en"), (2L, "b", "de"),
      (3L, "c", "de"), (9L, "z", "en")))
    // de's generation dir was neither rewritten nor replaced
    assert(fileSig(deGen) === deBefore)
    // batch 3: key 3 moves de -> en, key 2's delete empties nothing yet
    val b3 = Seq((3L, "D", "c", "de", 6L), (3L, "I", "c2", "en", 7L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b3, dir, "k", "op", "seq", Some("lang"))
    val afterMove = graft.operators.Merge.readSnapshot(spark, dir)
      .select("k", "name", "lang").orderBy("k")
      .as[(Long, String, String)].collect().toSeq
    assert(afterMove === Seq((1L, "a2", "en"), (2L, "b", "de"),
      (3L, "c2", "en"), (9L, "z", "en")))
    // batch 4: deleting de's last key drops the partition from the manifest
    val b4 = Seq((2L, "D", "b", "de", 8L)).toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b4, dir, "k", "op", "seq", Some("lang"))
    val afterDel = graft.operators.Merge.readSnapshot(spark, dir)
      .select("k", "lang").as[(Long, String)].collect().toSeq.sorted
    assert(afterDel.forall(_._2 === "en"))
    assert(afterDel.map(_._1) === Seq(1L, 3L, 9L))
  }

  test("a drained partitioned manifest keeps its schema and refuses a whole-snapshot merge") {
    val dir = tmp("mergesink-drain") + "/snap"
    val b1 = Seq((1L, "I", "a", "en", 1L), (2L, "I", "b", "de", 2L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b1, dir, "k", "op", "seq", Some("lang"))
    // a batch deletes EVERY remaining row of every live partition
    val b2 = Seq((1L, "D", "a", "en", 3L), (2L, "D", "b", "de", 4L))
      .toDF("k", "op", "name", "lang", "seq")
    MergeSink.applyBatch(spark, b2, dir, "k", "op", "seq", Some("lang"))
    // the drained snapshot is empty but NOT schema-less: downstream
    // selects and typed reads keep working (resolved through the
    // retained predecessor commit)
    val drained = graft.operators.Merge.readSnapshot(spark, dir)
    assert(drained.columns.sorted === Array("k", "lang", "name"))
    assert(drained.select("k", "name").count() === 0L)
    // the empty live list must not vacuously pass the whole-snapshot
    // mode guard: layout mode survives the drain
    val b3 = Seq((3L, "I", "c", "en", 5L)).toDF("k", "op", "name", "lang", "seq")
    val e = intercept[IllegalArgumentException] {
      MergeSink.applyBatch(spark, b3, dir, "k", "op", "seq", None)
    }
    assert(e.getMessage.contains("partition-scoped manifest"))
    // and the partitioned path refills it
    MergeSink.applyBatch(spark, b3, dir, "k", "op", "seq", Some("lang"))
    val got = graft.operators.Merge.readSnapshot(spark, dir)
      .select("k", "name", "lang").as[(Long, String, String)].collect().toSeq
    assert(got === Seq((3L, "c", "en")))
  }

  test("a transient commit-read failure fails the batch loudly instead of gc deleting the live commit") {
    // parse() must treat an I/O error as UNREADABLE (propagate), never
    // as torn: swallowing it would make read() fall back to the
    // predecessor and gc delete the real live commit + its generations
    // — permanent loss of committed data on a store having a transient
    // bad moment
    spark.sparkContext.hadoopConfiguration
      .set("fs.flakyopen.impl", classOf[FlakyOpenFs].getName)
    val dir = "flakyopen://" + tmp("mergesink-flaky") + "/snap"
    val b1 = Seq((1L, "I", "a", 1.0, 1L)).toDF("k", "op", "name", "bal", "seq")
    MergeSink.applyBatch(spark, b1, dir, "k", "op", "seq")
    val b2 = Seq((2L, "I", "b", 2.0, 2L)).toDF("k", "op", "name", "bal", "seq")
    MergeSink.applyBatch(spark, b2, dir, "k", "op", "seq")
    FlakyOpenFs.failCommitOpens = true
    try {
      val b3 = Seq((3L, "I", "c", 3.0, 3L)).toDF("k", "op", "name", "bal", "seq")
      intercept[java.io.IOException] {
        MergeSink.applyBatch(spark, b3, dir, "k", "op", "seq")
      }
    } finally FlakyOpenFs.failCommitOpens = false
    // nothing was deleted: the snapshot still resolves to batch 2's state
    val got = graft.operators.Merge.readSnapshot(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    // once the store recovers, the failed batch re-applies cleanly
    val b3 = Seq((3L, "I", "c", 3.0, 3L)).toDF("k", "op", "name", "bal", "seq")
    MergeSink.applyBatch(spark, b3, dir, "k", "op", "seq")
    val after = graft.operators.Merge.readSnapshot(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(after === Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
  }

  test("intra-batch multi-versions compact by seq before merging") {
    val dir = noRenameDir("mergesink-seq")
    // same key three times in one batch; highest seq (a delete) wins
    val batch = Seq((1L, "I", "a", 1.0, 10L), (1L, "U", "a2", 2.0, 11L),
      (1L, "D", "a2", 0.0, 12L), (2L, "I", "b", 5.0, 1L))
      .toDF("k", "op", "name", "bal", "seq")
    MergeSink.applyBatch(spark, batch, dir, "k", "op", "seq")
    val got = snapshot(dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((2L, "b", 5.0)))
  }
}
