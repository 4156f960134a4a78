package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.MergeSink

/** A test filesystem that refuses to create the one commit file named by
  * `RefuseCommitFs.refuse` (a path suffix), or to open the one named by
  * `RefuseCommitFs.refuseOpen`: the store failing one snapshot's flip,
  * before or after its commit file lands, while every other call
  * succeeds. */
object RefuseCommitFs {
  @volatile var refuse: Option[String] = None
  @volatile var refuseOpen: Option[String] = None
}
class RefuseCommitFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "refusecommit"
  override def getUri: java.net.URI = java.net.URI.create("refusecommit:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    if (RefuseCommitFs.refuse.exists(s => f.toUri.getPath.endsWith(s)))
      throw new java.io.IOException(s"simulated store refusal creating $f")
    else super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
    if (RefuseCommitFs.refuseOpen.exists(s => f.toUri.getPath.endsWith(s)))
      throw new java.io.IOException(s"simulated transient store error opening $f")
    else super.open(f, bufferSize)
}

/** [[GenerationWriter.writeAll]] writes what `df.write.parquet` writes,
  * in one job, and [[Merge.mergeWholeManifests]] — the batched merge
  * built on it — leaves no snapshot half-moved and no staged debris when
  * its write or a flip fails. */
class GenerationWriterSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def dataFiles(dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).map(_.getPath).filterNot { q =>
      q.getName.startsWith("_") || q.getName.startsWith(".")
    }.toSeq.sortBy(_.getName)
  }

  test("writeAll: one job, one file per small input, the bytes' schema and rows of df.write.parquet") {
    val base = tmp("genwriter")
    val a = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("k", "s", "d")
      .repartition(3)
    val b = spark.range(10).select(col("id"), lit(1).as("one"),
      struct(lit("z").as("s"), col("id").as("i")).as("st"),
      array(lit(1.0)).as("arr"))
    val empty = Seq((1L, "x")).toDF("k", "s").filter(lit(false))
    val inputs = Seq(a -> s"$base/a", b -> s"$base/b", empty -> s"$base/e")
    val records = new java.util.concurrent.atomic.AtomicLong
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          records.addAndGet(m.outputMetrics.recordsWritten)
          bytes.addAndGet(m.outputMetrics.bytesWritten)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try assert(jobsOf(GenerationWriter.writeAll(spark, inputs)) === 1)
    finally spark.sparkContext.removeSparkListener(listener)
    // small inputs size to one part file each, named by input and
    // partition; the empty input still leaves one schema-only file
    inputs.zipWithIndex.foreach { case ((df, dir), i) =>
      assert(dataFiles(dir).map(_.getName) ===
        Seq(f"part-$i%05d-00000.snappy.parquet"), dir)
      val ref = s"$base/ref$i"
      df.write.parquet(ref)
      val got = Merge.readGeneration(spark, new Path(dir))
      val want = spark.read.parquet(ref)
      assert(got.schema.json === want.schema.json, dir)
      def rows(d: DataFrame) =
        d.select(to_json(struct(col("*")))).as[String].collect().sorted.toSeq
      assert(rows(got) === rows(want), dir)
    }
    // the task output metrics carry the rows and bytes written
    assert(records.get === 12L)
    assert(bytes.get === inputs.flatMap(i => dataFiles(i._2)).map { p =>
      p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getLen
    }.sum)
    // the caller's session keeps its own conf
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("a frame over a persisted Dataset is planned without AQE and still scans the cache") {
    val batch = Seq((1L, "I", "a", 1L), (1L, "U", "b", 2L), (2L, "I", "c", 1L))
      .toDF("k", "op", "name", "seq").persist()
    try {
      batch.count()
      val changes = MergeSink.compactWhole(batch.filter(col("k") > 0), "k", "seq")
      val target = Seq((3L, "t")).toDF("k", "name")
      val plan = ControlPlane.rebind(ControlPlane.session(spark),
        Merge.mergeBatch(target, changes, "k")).queryExecution.executedPlan
      assert(plan.collect { case s: InMemoryTableScanExec => s }.nonEmpty)
      assert(plan.collect { case a: AdaptiveSparkPlanExec => a }.isEmpty)
    } finally { batch.unpersist(); () }
  }

  private def stagedDirs(dir: String): Seq[String] = {
    val p = new Path(dir)
    ManifestCommit.generationDirs(p.getFileSystem(
      spark.sessionState.newHadoopConf()), p)
  }

  private def seedThree(root: String): Seq[String] = {
    val dirs = (1 to 3).map(i => s"$root/t$i")
    dirs.foreach(d => Merge.mergeWholeManifest(spark, d,
      Seq((1L, "I", "a"), (2L, "I", "b")).toDF("k", "op", "name"), "k"))
    dirs
  }

  private def valid(i: Int) =
    Seq((1L, "U", s"u$i"), (3L, "I", s"n$i"), (2L, "D", "b")).toDF("k", "op", "name")

  private def rows(dir: String): Set[(Long, String)] =
    Merge.readSnapshot(spark, dir).as[(Long, String)].collect().toSet

  private def withGrace[A](body: => A): A = {
    val key = "spark.graft.merge.stagedGraceMs"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "60000")
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a failed batched write moves no snapshot, leaves no staged generation, and an immediate retry commits all") {
    withGrace {
      val dirs = seedThree(tmp("batched-fail"))
      val versions = dirs.map(d => Merge.snapshotVersions(spark, d).last)
      val before = dirs.map(stagedDirs)
      val bad = Seq((1L, "x", "bad")).toDF("k", "op", "name")
      val e = intercept[Exception] {
        Merge.mergeWholeManifests(spark, Seq(
          Merge.WholeMerge(dirs(0), valid(1), "k"),
          Merge.WholeMerge(dirs(1), bad, "k"),
          Merge.WholeMerge(dirs(2), valid(3), "k")))
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("invalid 'op'"))))
      assert(dirs.map(d => Merge.snapshotVersions(spark, d).last) === versions)
      assert(dirs.map(stagedDirs) === before)
      // no staged debris, so the retry is not held off by the
      // concurrent-writer guard for the staging grace
      Merge.mergeWholeManifests(spark, dirs.zipWithIndex.map { case (d, i) =>
        Merge.WholeMerge(d, valid(i + 1), "k") })
      dirs.zipWithIndex.foreach { case (d, i) =>
        assert(Merge.snapshotVersions(spark, d).last === versions(i) + 1)
        assert(rows(d) === Set((1L, s"u${i + 1}"), (3L, s"n${i + 1}")))
      }
    }
  }

  test("a failed flip: earlier snapshots flipped, later ones unmoved without staged debris; the retry converges") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.refusecommit.impl", classOf[RefuseCommitFs].getName)
    withGrace {
      val dirs = seedThree("refusecommit://" + tmp("batched-flip"))
      val versions = dirs.map(d => Merge.snapshotVersions(spark, d).last)
      val before = dirs.map(stagedDirs)
      val merges = dirs.zipWithIndex.map { case (d, i) =>
        Merge.WholeMerge(d, valid(i + 1), "k") }
      RefuseCommitFs.refuse = Some(
        "t2/" + ManifestCommit.commitName(versions(1) + 1))
      try intercept[java.io.IOException](Merge.mergeWholeManifests(spark, merges))
      finally RefuseCommitFs.refuse = None
      assert(Merge.snapshotVersions(spark, dirs(0)).last === versions(0) + 1)
      assert(rows(dirs(0)) === Set((1L, "u1"), (3L, "n1")))
      Seq(1, 2).foreach { i =>
        assert(Merge.snapshotVersions(spark, dirs(i)).last === versions(i))
        assert(stagedDirs(dirs(i)) === before(i))
        assert(rows(dirs(i)) === Set((1L, "a"), (2L, "b")))
      }
      // the retry re-applies the flipped table's merge idempotently
      Merge.mergeWholeManifests(spark, merges)
      dirs.zipWithIndex.foreach { case (d, i) =>
        assert(rows(d) === Set((1L, s"u${i + 1}"), (3L, s"n${i + 1}")))
      }
    }
  }

  test("a flip that fails after its commit file landed keeps that generation; the snapshot still reads") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.refusecommit.impl", classOf[RefuseCommitFs].getName)
    withGrace {
      val dirs = seedThree("refusecommit://" + tmp("batched-readback"))
      val versions = dirs.map(d => Merge.snapshotVersions(spark, d).last)
      val before = dirs.map(stagedDirs)
      val merges = dirs.zipWithIndex.map { case (d, i) =>
        Merge.WholeMerge(d, valid(i + 1), "k") }
      // table 2's commit file is written whole, but its read-back open
      // fails (a transient store error), so its flip throws
      RefuseCommitFs.refuseOpen = Some(
        "t2/" + ManifestCommit.commitName(versions(1) + 1))
      try intercept[IllegalStateException](Merge.mergeWholeManifests(spark, merges))
      finally RefuseCommitFs.refuseOpen = None
      // the commit that landed still resolves to its generation
      assert(Merge.snapshotVersions(spark, dirs(1)).last === versions(1) + 1)
      val p = new Path(dirs(1))
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val live = ManifestCommit.read(fs, p).get.live
      assert(live.forall(g => fs.exists(new Path(ManifestCommit.dataDir(p), g))))
      Seq(0, 1).foreach { i =>
        assert(rows(dirs(i)) === Set((1L, s"u${i + 1}"), (3L, s"n${i + 1}")))
      }
      // the table after it never flipped and left no staged debris
      assert(Merge.snapshotVersions(spark, dirs(2)).last === versions(2))
      assert(stagedDirs(dirs(2)) === before(2))
      assert(rows(dirs(2)) === Set((1L, "a"), (2L, "b")))
      Merge.mergeWholeManifests(spark, merges)
      dirs.zipWithIndex.foreach { case (d, i) =>
        assert(rows(d) === Set((1L, s"u${i + 1}"), (3L, s"n${i + 1}")))
      }
    }
  }

  private def generationFiles(dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    dataFiles(new Path(ManifestCommit.dataDir(p),
      ManifestCommit.read(fs, p).get.live.head).toString)
  }

  test("a merge within the advisory size runs as one task with no shuffle and writes one file") {
    val dir = tmp("one-task") + "/snap"
    Merge.mergeWholeManifest(spark, dir,
      Seq((1L, "I", "a"), (2L, "I", "b")).toDF("k", "op", "name"), "k")
    val changes = MergeSink.compactWhole(
      Seq((1L, "U", "a2", 2L), (1L, "D", "a2", 3L), (3L, "I", "c", 1L))
        .toDF("k", "op", "name", "seq"), "k", "seq")
    // (stages, tasks) of each job the merge starts
    val shapes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (!Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.endsWith("-marker"))) {
          shapes.add((e.stageInfos.size, e.stageInfos.map(_.numTasks).sum)); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try assert(jobsOf(Merge.mergeWholeManifest(spark, dir, changes, "k")) === 1)
    finally spark.sparkContext.removeSparkListener(listener)
    assert(shapes.toArray.toSeq === Seq((1, 1)))
    assert(generationFiles(dir).size === 1)
    assert(rows(dir) === Set((2L, "b"), (3L, "c")))
  }

  test("an unsized change set at 200 shuffle partitions still writes one file") {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try {
      val dir = tmp("unsized") + "/snap"
      Merge.mergeWholeManifest(spark, dir,
        Seq((1L, "I", "a"), (2L, "I", "b")).toDF("k", "op", "name"), "k")
      val schema = Seq((1L, "I", "a")).toDF("k", "op", "name").schema
      val changes = spark.createDataFrame(spark.sparkContext.parallelize(
        (3L to 40L).map(k => org.apache.spark.sql.Row(k, "I", s"n$k")), 4), schema)
      // an RDD-backed frame has no size statistics
      assert(changes.queryExecution.optimizedPlan.stats.sizeInBytes >=
        BigInt(spark.sessionState.conf.defaultSizeInBytes))
      Merge.mergeWholeManifest(spark, dir, changes, "k")
      assert(generationFiles(dir).size === 1)
      assert(rows(dir).size === 40)
    } finally spark.conf.set(key, old)
  }
}
