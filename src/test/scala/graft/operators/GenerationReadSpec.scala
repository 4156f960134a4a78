package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.MergeSink

/** Whole manifest generations are read with their schema taken on the
  * driver from one part file's footer ([[Merge.readGeneration]]). That
  * schema must be exactly what `spark.read.parquet` infers — nullability
  * included — for every column shape a snapshot can hold, and the
  * reads and merges over such snapshots submit only the jobs that move
  * data. */
class GenerationReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString + "/snap"

  private val wideSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("op", StringType),
    StructField("amount", DecimalType(18, 2)),
    StructField("day", DateType),
    StructField("ts", TimestampType),
    StructField("ts_ntz", TimestampNTZType),
    StructField("blob", BinaryType),
    StructField("addr", StructType(Seq(
      StructField("city", StringType, nullable = false),
      StructField("geo", StructType(Seq(
        StructField("lat", DoubleType), StructField("lon", DoubleType))))))),
    StructField("items", ArrayType(StructType(Seq(
      StructField("sku", StringType), StructField("qty", IntegerType))),
      containsNull = false)),
    StructField("attrs", MapType(StringType, IntegerType))))

  private def wideRow(k: Long, op: String): Row = Row(k, op,
    new java.math.BigDecimal(s"$k.25"),
    java.sql.Date.valueOf("2019-11-13"),
    java.sql.Timestamp.valueOf("2019-11-13 09:59:08.059"),
    java.time.LocalDateTime.of(2019, 11, 13, 9, 59, 8),
    Array[Byte](1, 2, k.toByte),
    Row(s"c$k", Row(1.5, -2.5)),
    Seq(Row("a", 1), Row("b", 2)),
    Map("x" -> k.toInt))

  private def wide(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), wideSchema)

  private def liveGen(dir: String): Path = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    new Path(ManifestCommit.dataDir(d), ManifestCommit.read(fs, d).get.live.head)
  }

  private def version(dir: String): Long = Merge.snapshotVersions(spark, dir).last

  test("footer schema ≡ spark.read.parquet's inferred schema, nullability included, over every column shape") {
    val base = Files.createTempDirectory("gen-read").toString
    // non-nullable fields, decimals, dates, both timestamp kinds, binary,
    // nested structs, arrays of structs and maps, as one generation
    val full = s"$base/full"
    wide(wideRow(1L, "I"), wideRow(2L, "U"), wideRow(3L, "I"))
      .drop("op").write.parquet(full)
    // a zero-row generation still carries one footer
    val empty = s"$base/empty"
    wide().drop("op").write.parquet(empty)
    // the columns lit()/expressions produce non-nullable in the write
    val exprs = s"$base/exprs"
    spark.range(5).select(col("id"), lit(1).as("one"),
      struct(lit("x").as("s"), col("id").as("i")).as("st"),
      array(lit(1.0)).as("arr")).write.parquet(exprs)
    Seq(full, empty, exprs).foreach { g =>
      val viaFooter = Merge.readGeneration(spark, new Path(g))
      val viaInference = spark.read.parquet(g)
      assert(viaFooter.schema === viaInference.schema, g)
      assert(viaFooter.schema.json === viaInference.schema.json, g)
      def rows(df: DataFrame) = // JSON: binary and map values compare by content
        df.select(to_json(struct(col("*")))).as[String].collect().sorted.toSeq
      assert(rows(viaFooter) === rows(viaInference), g)
    }
    assert(Merge.readGeneration(spark, new Path(empty)).count() === 0)
  }

  test("whole-manifest snapshots read with the inferred schema, drained snapshots included") {
    val dir = tmp("gen-read-snap")
    Merge.mergeWholeManifest(spark, dir, wide(wideRow(1L, "I"), wideRow(2L, "I")), "k")
    val inferred = spark.read.parquet(liveGen(dir).toString).schema
    assert(Merge.readSnapshot(spark, dir).schema === inferred)
    assert(Merge.readSnapshotAt(spark, dir, version(dir)).schema === inferred)
    assert(Merge.readSnapshot(spark, dir).select("k").as[Long].collect().toSet ===
      Set(1L, 2L))
    // every row deleted: the live generation holds zero rows and is
    // still read through its footer
    Merge.mergeWholeManifest(spark, dir, wide(wideRow(1L, "D"), wideRow(2L, "D")), "k")
    assert(Merge.readSnapshot(spark, dir).schema === inferred)
    assert(Merge.readSnapshot(spark, dir).count() === 0)
    // a drained commit (empty live set) resolves its schema through
    // the newest retained commit that still lists a generation
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestCommit.write(fs, d, ManifestCommit.State(version(dir) + 1, Nil))
    assert(ManifestCommit.read(fs, d).get.live.isEmpty)
    val drained = Merge.readSnapshot(spark, dir)
    assert(drained.schema === inferred)
    assert(drained.count() === 0)
    // and the next merge onto the drained snapshot keeps it readable
    Merge.mergeWholeManifest(spark, dir, wide(wideRow(3L, "I")), "k")
    assert(Merge.readSnapshot(spark, dir).schema === inferred)
    assert(Merge.readSnapshot(spark, dir).select("k").as[Long].collect().toSeq ===
      Seq(3L))
  }

  test("a generation with no data file, or no dir at all, keeps Spark's own refusal") {
    val dir = tmp("gen-read-nofile")
    Merge.mergeWholeManifest(spark, dir, Seq((1L, "I", "a")).toDF("k", "op", "name"), "k")
    val gen = liveGen(dir)
    val fs = gen.getFileSystem(spark.sessionState.newHadoopConf())
    def sameRefusal(): Unit = {
      val expected = intercept[AnalysisException](spark.read.parquet(gen.toString))
      val direct = intercept[AnalysisException](Merge.readGeneration(spark, gen))
      val viaSnapshot = intercept[AnalysisException](Merge.readSnapshot(spark, dir))
      Seq(direct, viaSnapshot).foreach { e =>
        assert(e.getCondition === expected.getCondition)
        assert(e.getMessage === expected.getMessage)
      }
    }
    fs.listStatus(gen).map(_.getPath)
      .filterNot(_.getName.startsWith("_")).foreach(fs.delete(_, false))
    sameRefusal() // UNABLE_TO_INFER_SCHEMA
    fs.delete(gen, true)
    sameRefusal() // PATH_NOT_FOUND
  }

  test("a dir whose first commit never landed is refused with NoCommitToken; plain parquet still reads") {
    val rows = Seq((1L, "I"), (2L, "I")).toDF("k", "op")
    val whole = tmp("gen-read-nocommit")
    rows.write.parquet(new Path(ManifestCommit.dataDir(new Path(whole)),
      ManifestCommit.genName(1) + "-dead").toString)
    val parted = tmp("gen-read-nocommit-part")
    rows.write.parquet(new Path(ManifestCommit.dataDir(new Path(parted)),
      "p=a/" + ManifestCommit.genName(1) + "-dead").toString)
    Seq(whole, parted).foreach { dir =>
      assert(Merge.snapshotVersions(spark, dir).isEmpty)
      val e = intercept[IllegalStateException](Merge.readSnapshot(spark, dir))
      assert(e.getMessage.contains(Merge.NoCommitToken))
      assert(e.getMessage.contains(ManifestCommit.commitName(1)))
    }
    val plain = tmp("gen-read-plain")
    rows.write.parquet(plain)
    assert(Merge.readSnapshot(spark, plain).count() === 2)
  }

  test("job pins: snapshot read 1, whole-manifest merge 1, MergeSink batch 2 (probe + write)") {
    val dir = tmp("gen-read-jobs")
    Merge.mergeWholeManifest(spark, dir, wide(wideRow(1L, "I"), wideRow(2L, "I")), "k")
    // the read: the scan alone, no footer-inference job
    assert(jobsOf { Merge.readSnapshot(spark, dir).collect(); () } === 1)
    // the merge of an uncached change set: ONE job — the change-side
    // map (the riding guard's window) and the target map are stages of
    // the generation write; no cache fill job
    assert(jobsOf {
      Merge.mergeWholeManifest(spark, dir, wide(wideRow(2L, "U"), wideRow(3L, "I")), "k")
    } === 1)
    // the streaming sink's batch: the emptiness probe and the one write
    // job (compaction and target maps as its stages)
    val sink = tmp("gen-read-sink")
    def batch(rows: (Long, String, String, Long)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2)).toDF("k", "op", "name", "seq")
    MergeSink.applyBatch(spark, batch((1L, "I", "a", 1L), (2L, "I", "b", 1L)),
      sink, "k", "op", "seq")
    val before = version(sink)
    assert(jobsOf {
      MergeSink.applyBatch(spark,
        batch((1L, "U", "a1", 2L), (1L, "U", "a2", 3L), (3L, "I", "c", 2L)),
        sink, "k", "op", "seq")
    } === 2)
    assert(version(sink) === before + 1)
    assert(Merge.readSnapshot(spark, sink).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a2"), (2L, "b"), (3L, "c")))
  }

  test("job pin: Rollup.fold runs 1 job (aggregate, state merge and write together)") {
    val store = tmp("gen-read-rollup")
    val spec = Rollup.Spec(keys = Seq("table_name", "operation"), sums = Seq("n"))
    def ops(rows: (String, String)*) =
      rows.map { case (t, o) => (t, o, 1L) }.toDF("table_name", "operation", "n")
    Rollup.init(spark, store, ops("a" -> "insert", "b" -> "update"), spec)
    assert(jobsOf {
      Rollup.fold(spark, store, ops("a" -> "insert", "c" -> "delete"), spec)
    } === 1)
    assert(Rollup.finalized(Rollup.read(spark, store), spec)
      .select("table_name", "operation", "n_rows").as[(String, String, Long)]
      .collect().toSet ===
      Set(("a", "insert", 2L), ("b", "update", 1L), ("c", "delete", 1L)))
  }

  test("job pin: mergePartitioned runs as many jobs for 4 touched partitions as for 1, one of them the generation write") {
    // both change sets: 4 rows over 2 input partitions, so only the
    // number of touched partitions differs
    def changes(rows: (Long, String, String, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2)).toDF("k", "op", "name", "part")
    val seed = (0 until 8).map(i => (i.toLong, "I", s"v$i", s"p${i % 4}"))
    def seeded(prefix: String): String = {
      val dir = tmp(prefix)
      Merge.mergePartitioned(spark, dir, changes(seed: _*), "k", "part")
      dir
    }
    val (d1, d4) = (seeded("gen-read-part1"), seeded("gen-read-part4"))
    val inP0 = Seq(0L, 4L, 8L, 12L)
    val one = jobStartsOf {
      Merge.mergePartitioned(spark, d1,
        changes(inP0.map(k => (k, if (k < 8L) "U" else "I", s"x$k", "p0")): _*),
        "k", "part")
    }
    val four = jobStartsOf {
      Merge.mergePartitioned(spark, d4,
        changes((0 until 4).map(i => (i.toLong, "U", s"x$i", s"p$i")): _*), "k", "part")
    }
    def writes(jobs: Seq[SparkListenerJobStart]): Int = jobs.count(
      _.stageInfos.exists(_.rddInfos.exists(_.name == GenerationWriter.RddName)))
    assert(writes(one) === 1)
    assert(writes(four) === 1)
    assert(four.size === one.size)
    def rows(dir: String) = Merge.readSnapshot(spark, dir)
      .select("k", "name", "part").as[(Long, String, String)].collect().toSet
    val base = seed.map { case (k, _, n, p) => k -> (n, p) }.toMap
    assert(rows(d1) === (base ++ inP0.map(k => k -> (s"x$k", "p0")))
      .map { case (k, (n, p)) => (k, n, p) }.toSet)
    assert(rows(d4) === (base ++ (0L until 4L).map(k => k -> (s"x$k", s"p$k")))
      .map { case (k, (n, p)) => (k, n, p) }.toSet)
    // and each rewritten partition's generation is one part file
    val d = new Path(d4)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestCommit.read(fs, d).get.live.foreach { leafGen =>
      assert(fs.listStatus(new Path(ManifestCommit.dataDir(d), leafGen))
        .count(_.getPath.getName.startsWith("part-")) === 1, leafGen)
    }
  }
}
