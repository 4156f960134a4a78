package graft.streaming

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.{Constraints, GenerationWriter, Merge}

/** The end-to-end pipeline (source → contract → landing/quarantine →
  * per-table merge snapshots → standing ops counters) sustains multiple
  * micro-batches with conserved rows, a snapshot equal to the
  * independent latest-per-key fold, exact standing counters, and
  * BOUNDED state (manifest retention); a restart on the drained
  * checkpoint changes nothing. */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val personSchema = StructType(Seq(
    StructField("ID", LongType), StructField("val", StringType)))

  private def line(i: Int, table: String, op: String, id: Long,
      rt: String = "data"): String = {
    val data = if (rt == "control") "null" else s"""{"ID": $id, "val": "v$i"}"""
    val ts = f"2019-11-13T10:00:${i / 60}%02d.${i % 60}%02d0000Z"
    s"""{"data": $data, "metadata": {"timestamp": "$ts", "record-type": "$rt", "operation": "$op", "partition-key-type": "primary-key", "schema-name": "dms_sample", "table-name": "$table"}}"""
  }

  // person key 1: load → update → survives as the update's value
  // person key 2: load → delete → absent from the snapshot
  // person key 3: insert only
  // key -9: contract violation → quarantined, never merged
  // seat: not a configured sink — lands, counts, no snapshot
  // one control record: clean (valid envelope), no data row
  private val lines = Seq(
    line(0, "person", "load", 1L),
    line(1, "person", "load", 2L),
    line(2, "seat", "load", 7L),
    line(3, "person", "create-table", 0L, rt = "control"),
    line(4, "person", "update", 1L),
    line(5, "person", "delete", 2L),
    line(6, "person", "insert", 3L),
    line(7, "person", "insert", -9L))

  private def run(root: String, backlog: String,
      metrics: ArrayBuffer[IngestPipeline.BatchMetric],
      tables: Seq[String] = Seq("person"),
      perTrigger: Int = 3,
      snapshotRoot: Option[String] = None): IngestPipeline.Config = {
    val cfg = IngestPipeline.Config(
      landingDir = s"$root/landing",
      quarantineDir = s"$root/quarantine",
      checks = Seq(Constraints.Predicate("valid_id",
        col("data").isNull ||
          coalesce(get_json_object(col("data"), "$.ID").cast("long") >= 0,
            lit(false)))),
      snapshotRoot = snapshotRoot.getOrElse(s"$root/snapshots"),
      tables = tables.map(tb =>
        IngestPipeline.TableSink("dms_sample", tb, personSchema, "ID")),
      opsRollupDir = s"$root/ops",
      checkpoint = s"$root/ckpt")
    val raw = spark.readStream.format("graft-kinesis-sim")
      .option("path", backlog).option("shards", "2")
      // the default 3 forces ≥3 micro-batches
      .option("maxRecordsPerTrigger", perTrigger.toString)
      .option("keyRegex", "\"ID\": (-?[0-9]+)")
      .load()
      .select(col("data").as("value"))
    val q = IngestPipeline.start(raw, cfg,
      onBatch = m => { metrics += m; () })
    awaitDrained(q, 120000)
    cfg
  }

  test("multi-batch run: conservation, snapshot ≡ latest-per-key, exact counters, bounded state") {
    val backlog = Files.createTempFile("pipe", ".jsonl")
    Files.write(backlog, lines.mkString("\n").getBytes("UTF-8"))
    val root = Files.createTempDirectory("pipe").toString
    val metrics = ArrayBuffer.empty[IngestPipeline.BatchMetric]
    val cfg = run(root, backlog.toString, metrics)

    // paced into multiple micro-batches, every row accounted for
    assert(metrics.size >= 2)
    assert(metrics.map(_.input).sum === lines.size)
    assert(metrics.map(_.clean).sum === lines.size - 1)
    assert(metrics.map(_.quarantined).sum === 1L)

    // landing/quarantine dirs carry exactly the split rows
    assert(spark.read.json(cfg.landingDir).count() === lines.size - 1)
    val quarantined = spark.read.json(cfg.quarantineDir)
    assert(quarantined.count() === 1)
    assert(quarantined.select(explode(col("violated"))).as[String]
      .collect().toSeq === Seq("valid_id"))

    // snapshot: update wins, delete erases, violation never entered
    val snap = IngestPipeline.readSnapshot(spark, cfg, "person")
      .select("ID", "val").as[(Long, String)].collect().toSet
    assert(snap === Set((1L, "v4"), (3L, "v6")))

    // standing ops counters == clean envelope group counts (controls in)
    val got = IngestPipeline.opCounts(spark, cfg.opsRollupDir)
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(
      ("person", "load", 2L), ("person", "create-table", 1L),
      ("person", "update", 1L), ("person", "delete", 1L),
      ("person", "insert", 1L), ("seat", "load", 1L)))

    // bounded state: manifest retention caps the version list
    val versions = Merge.snapshotVersions(spark, s"${cfg.snapshotRoot}/person")
    assert(versions.size <=
      graft.operators.ManifestCommit.retention(spark).max(2))

    // restart on the drained checkpoint: no new data, nothing changes
    val metrics2 = ArrayBuffer.empty[IngestPipeline.BatchMetric]
    run(root, backlog.toString, metrics2)
    assert(metrics2.map(_.input).sum === 0L)
    assert(spark.read.json(cfg.landingDir).count() === lines.size - 1)
    assert(IngestPipeline.readSnapshot(spark, cfg, "person")
      .select("ID", "val").as[(Long, String)].collect().toSet === snap)
    assert(IngestPipeline.opCounts(spark, cfg.opsRollupDir)
      .as[(String, String, Long)].collect().toSet === got)
  }

  test("a control record CARRYING data (DDL payload, no merge key) lands and counts — never quarantined, never merged") {
    // the demux surface (reference F1) admits any record with non-null
    // data; a DMS control record can carry DDL info there. It has no
    // merge key BY DESIGN, so the payload_key quarantine must not
    // claim it (ADVICE r15 — the check is scoped to record-type=data),
    // and the merge lane must not upsert its payload as a junk row
    val ctl = """{"data": {"ddl": "alter table person add column x"}, """ +
      """"metadata": {"timestamp": "2019-11-13T10:00:09.0000Z", """ +
      """"record-type": "control", "operation": "add-column", """ +
      """"partition-key-type": "schema-table", """ +
      """"schema-name": "dms_sample", "table-name": "person"}}"""
    val ls = Seq(line(0, "person", "load", 1L), ctl,
      line(2, "person", "insert", 3L))
    val backlog = Files.createTempFile("pipectl", ".jsonl")
    Files.write(backlog, ls.mkString("\n").getBytes("UTF-8"))
    val root = Files.createTempDirectory("pipectl").toString
    val metrics = ArrayBuffer.empty[IngestPipeline.BatchMetric]
    val cfg = IngestPipeline.Config(
      landingDir = s"$root/landing",
      quarantineDir = s"$root/quarantine",
      // the envelope contract itself scopes to data records — a DDL
      // payload legitimately has no ID field
      checks = Seq(Constraints.Predicate("valid_id",
        col("metadata.`record-type`") =!= "data" ||
          col("data").isNull ||
          coalesce(get_json_object(col("data"), "$.ID").cast("long") >= 0,
            lit(false)))),
      snapshotRoot = s"$root/snapshots",
      tables = Seq(IngestPipeline.TableSink(
        "dms_sample", "person", personSchema, "ID")),
      opsRollupDir = s"$root/ops",
      checkpoint = s"$root/ckpt")
    val raw = spark.readStream.format("graft-kinesis-sim")
      .option("path", backlog.toString).option("shards", "1")
      .option("keyRegex", "\"ID\": (-?[0-9]+)")
      .load()
      .select(col("data").as("value"))
    awaitDrained(IngestPipeline.start(raw, cfg,
      onBatch = m => { metrics += m; () }), 120000)
    // clean all the way through: landed + counted, nothing quarantined
    assert(metrics.map(_.quarantined).sum === 0L,
      "a control record is not an upsert candidate — it must not " +
        "quarantine for lacking a merge key it was never meant to carry")
    assert(spark.read.json(cfg.landingDir).count() === 3L)
    assert(IngestPipeline.opCounts(spark, cfg.opsRollupDir)
      .as[(String, String, Long)].collect().toSet === Set(
        ("person", "load", 1L), ("person", "add-column", 1L),
        ("person", "insert", 1L)))
    // and the snapshot holds only the DATA rows — no junk null-key row
    assert(IngestPipeline.readSnapshot(spark, cfg, "person")
      .select("ID", "val").as[(Long, String)].collect().toSet ===
      Set((1L, "v0"), (3L, "v2")))
  }

  test("snapshots on a filesystem that forbids directory renames: multi-batch run ≡ latest-per-key") {
    // the paper lands on S3, where a directory rename is a non-atomic
    // copy: every per-table snapshot commit must go through without
    // one — no rename at all, not even inside a committer's
    // `_temporary` dir. Only the snapshots live on StrictNoRenameFs —
    // the checkpoint and the ops rollup stay local (the rollup's spec
    // sidecar still commits by a file rename)
    spark.sparkContext.hadoopConfiguration
      .set("fs.strictnorename.impl", classOf[StrictNoRenameFs].getName)
    val backlog = Files.createTempFile("pipe-norename", ".jsonl")
    Files.write(backlog, lines.mkString("\n").getBytes("UTF-8"))
    val root = Files.createTempDirectory("pipe-norename").toString
    val metrics = ArrayBuffer.empty[IngestPipeline.BatchMetric]
    val cfg = run(root, backlog.toString, metrics,
      snapshotRoot = Some(s"strictnorename://$root/snapshots"))
    assert(metrics.size >= 2)
    assert(metrics.map(_.input).sum === lines.size)
    // latest per key over the clean data rows, in event order: key 1's
    // update wins, key 2's delete erases it, key 3 inserts; the
    // quarantined key -9 never enters
    assert(IngestPipeline.readSnapshot(spark, cfg, "person")
      .select("ID", "val").as[(Long, String)].collect().toSet ===
      Set((1L, "v4"), (3L, "v6")))
    assert(Merge.snapshotVersions(spark, s"${cfg.snapshotRoot}/person")
      .nonEmpty)
  }

  test("an idle table in a batch: no commit, rows intact") {
    val root = Files.createTempDirectory("pipe-idle").toString
    val snaps = s"$root/snapshots"
    // `idle` already holds a standing manifest snapshot
    MergeSink.applyBatch(spark,
      Seq((5L, "v-old", "I", 1L)).toDF("ID", "val", "op", "__seq"),
      s"$snaps/idle", "ID", "op", "__seq")
    val idleVersions = Merge.snapshotVersions(spark, s"$snaps/idle")
    // one batch: person data, only a control record for idle
    val ls = Seq(
      line(0, "person", "load", 1L),
      line(1, "idle", "create-table", 0L, rt = "control"),
      line(2, "person", "insert", 2L))
    val backlog = Files.createTempFile("pipe-idle", ".jsonl")
    Files.write(backlog, ls.mkString("\n").getBytes("UTF-8"))
    val metrics = ArrayBuffer.empty[IngestPipeline.BatchMetric]
    val cfg = run(root, backlog.toString, metrics,
      tables = Seq("person", "idle"), perTrigger = 100)
    assert(metrics.size === 1)
    assert(metrics.head.clean === ls.size)
    assert(IngestPipeline.readSnapshot(spark, cfg, "person")
      .select("ID", "val").as[(Long, String)].collect().toSet ===
      Set((1L, "v0"), (2L, "v2")))
    // the idle table: no new commit, its rows read back unchanged
    assert(Merge.snapshotVersions(spark, s"$snaps/idle") === idleVersions)
    assert(IngestPipeline.readSnapshot(spark, cfg, "idle")
      .select("ID", "val").as[(Long, String)].collect().toSet ===
      Set((5L, "v-old")))
    assert(IngestPipeline.opCounts(spark, cfg.opsRollupDir)
      .as[(String, String, Long)].collect().toSet === Set(
        ("person", "load", 1L), ("person", "insert", 1L),
        ("idle", "create-table", 1L)))
  }

  // 4 tables, interleaved I/U/D ops in one backlog
  private val multiTables = (0 until 4).map(i => s"tab$i")
  private val multiLines = multiTables.zipWithIndex.flatMap { case (tb, ti) => Seq(
    line(ti * 4, tb, "load", 1L),
    line(ti * 4 + 1, tb, "load", 2L),
    line(ti * 4 + 2, tb, "update", 1L),
    line(ti * 4 + 3, tb, "delete", 2L))
  }

  test("one-job multi-table merge ≡ per-table MergeSink.applyChanges (multi-table batch)") {
    // every table merges in one write job per micro-batch: the
    // snapshots must equal each table's changes applied on its own
    // through MergeSink.applyChanges (each table's merge is
    // independent; the shared job only groups them)
    val backlog = Files.createTempFile("pipe-par", ".jsonl")
    Files.write(backlog, multiLines.mkString("\n").getBytes("UTF-8"))
    val root = Files.createTempDirectory("pipe-par").toString
    val cfg = run(root, backlog.toString,
      ArrayBuffer.empty[IngestPipeline.BatchMetric],
      tables = multiTables, perTrigger = 6)
    val ref = Files.createTempDirectory("pipe-par-ref").toString
    multiTables.zipWithIndex.foreach { case (tb, ti) =>
      val base = ti * 4
      MergeSink.applyChanges(spark, Seq(
          (1L, s"v$base", "I", 0L), (2L, s"v${base + 1}", "I", 1L),
          (1L, s"v${base + 2}", "U", 2L), (2L, s"v${base + 3}", "D", 3L))
        .toDF("ID", "val", "op", "__seq"), s"$ref/$tb", "ID", "op", "__seq")
    }
    multiTables.foreach { tb =>
      val s = Merge.readSnapshot(spark, s"$ref/$tb")
        .select("ID", "val").as[(Long, String)].collect().toSet
      val p = IngestPipeline.readSnapshot(spark, cfg, tb)
        .select("ID", "val").as[(Long, String)].collect().toSet
      assert(p === s, s"table $tb diverged")
      assert(p === Set((1L, "v" + (multiTables.indexOf(tb) * 4 + 2))))
    }
    assert(IngestPipeline.opCounts(spark, cfg.opsRollupDir)
      .as[(String, String, Long)].collect().toSet ===
      multiTables.flatMap(tb => Seq((tb, "load", 2L), (tb, "update", 1L),
        (tb, "delete", 1L))).toSet)
  }

  test("a 4-table batch runs its merges in exactly 1 Spark job, over the persisted batch") {
    val backlog = Files.createTempFile("pipe-onejob", ".jsonl")
    Files.write(backlog, multiLines.mkString("\n").getBytes("UTF-8"))
    // one batch with 1 and with 4 merging tables: per job, whether it
    // runs the generation write and whether its stages read a
    // persisted RDD
    def jobsOfBatch(tables: Seq[String]): Seq[(Boolean, Boolean)] = {
      val root = Files.createTempDirectory("pipe-onejob").toString
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Boolean)]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val rdds = e.stageInfos.flatMap(_.rddInfos)
          jobs.add((rdds.exists(_.name == GenerationWriter.RddName),
            rdds.exists(_.storageLevel.isValid)))
          ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val metrics = ArrayBuffer.empty[IngestPipeline.BatchMetric]
      val cfg = try run(root, backlog.toString, metrics, tables = tables,
        perTrigger = 100)
      finally {
        ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 30000)
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(metrics.size === 1)
      tables.foreach { tb =>
        assert(IngestPipeline.readSnapshot(spark, cfg, tb)
          .select("ID", "val").as[(Long, String)].collect().toSet ===
          Set((1L, "v" + (multiTables.indexOf(tb) * 4 + 2))))
      }
      jobs.toArray(Array.empty[(Boolean, Boolean)]).toSeq
    }
    val one = jobsOfBatch(multiTables.take(1))
    val four = jobsOfBatch(multiTables)
    // two generation-write jobs, each reading the pipeline's persisted
    // batch rather than the source: the merges of all four tables are
    // one, the ops rollup's fold the other
    assert(one.count(_._1) === 2)
    assert(four.count(_._1) === 2)
    assert(four.filter(_._1).forall(_._2))
    // and three more merging tables add no job at all
    assert(four.size === one.size)
    // the whole batch: the landing write (which fills the batch cache),
    // the quarantine write, the count aggregate (one job: it plans
    // without AQE, so its partial-aggregate stage is no job of its
    // own), the merge write and the ops rollup's one fold job — no
    // emptiness probe
    assert(one.size === 5)
  }

  // ---- store-maintenance lanes across a multi-epoch reshard (r14) ----

  private def env(i: Int, table: String, op: String, data: String): String = {
    val ts = f"2019-11-13T10:00:${i / 60}%02d.${i % 60}%02d0000Z"
    s"""{"data": $data, "metadata": {"timestamp": "$ts", "record-type": "data", "operation": "$op", "partition-key-type": "primary-key", "schema-name": "dms_sample", "table-name": "$table"}}"""
  }

  private def vecOf(i: Int): Seq[Float] =
    (0 until 8).map(d => ((i * 7 + d * 3) % 16 + 1) / 16.0f)

  private def vecJson(id: Long, v: Seq[Float]): String =
    s"""{"vec_id": $id, "embedding": [${v.mkString(", ")}]}"""

  private def textOf(i: Int): String =
    s"document number $i speaks plainly about topic ${i % 3} " +
      s"with unique marker ${"x" * (i + 3)} and trailing words"

  test("store lanes: one stream maintains the ANN store AND the dedup history across a multi-epoch reshard — net state ≡ batch replay; restart changes nothing") {
    val S = graft.operators.Similarity
    val D = graft.operators.Dedup
    val root = Files.createTempDirectory("pipelanes").toString
    val annDir = s"$root/annstore"
    val sigDir = s"$root/sigstore"

    // the standing stores the stream will MAINTAIN
    val baseVecs = (0 until 40).map(i => (i.toLong, vecOf(i)))
      .toDF("vec_id", "embedding")
    S.buildIvfStore(baseVecs, annDir, nlist = 4, dim = 8)
    val baseDocs = (0 until 6).map(i => (i.toLong, textOf(i)))
      .toDF("doc_id", "text")
    D.SigStore(D.MinHash(), D.Dir(sigDir)).build(baseDocs, "doc_id", "text")

    // the CDC tail: inserts, replacements (reversed vectors / mutated
    // text under reused ids), takedowns — and a LATE RE-DELIVERED
    // insert of a taken-down id in a later batch (takedown must win)
    val lines = Seq(
      env(0, "embeddings", "insert", vecJson(40L, vecOf(40))),
      env(1, "embeddings", "insert", vecJson(41L, vecOf(41))),
      env(2, "documents", "insert",
        s"""{"doc_id": 6, "text": "${textOf(6)}"}"""),
      env(3, "embeddings", "update", vecJson(3L, vecOf(3).reverse)),
      env(4, "person", "load", """{"ID": 1, "val": "v4"}"""),
      env(5, "embeddings", "delete", """{"vec_id": 5}"""),
      env(6, "documents", "update",
        s"""{"doc_id": 1, "text": "completely replaced content for doc one with marker zzz"}"""),
      env(7, "embeddings", "update", vecJson(7L, vecOf(7).reverse)),
      env(8, "documents", "delete", """{"doc_id": 3}"""),
      env(9, "embeddings", "delete", """{"vec_id": 11}"""),
      env(10, "embeddings", "insert", vecJson(42L, vecOf(42))),
      env(11, "person", "update", """{"ID": 1, "val": "v11"}"""),
      env(12, "embeddings", "insert", vecJson(5L, vecOf(5))), // late re-delivery: must NOT resurrect
      env(13, "embeddings", "insert", vecJson(43L, vecOf(43))),
      env(14, "documents", "insert",
        s"""{"doc_id": 7, "text": "${textOf(7)}"}"""))
    val backlog = Files.createTempFile("pipelanes", ".jsonl")
    Files.write(backlog, lines.mkString("\n").getBytes("UTF-8"))

    val cfg = IngestPipeline.Config(
      landingDir = s"$root/landing",
      quarantineDir = s"$root/quarantine",
      checks = Seq(Constraints.Predicate("has_data",
        col("data").isNotNull)),
      snapshotRoot = s"$root/snapshots",
      tables = Seq(IngestPipeline.TableSink(
        "dms_sample", "person", personSchema, "ID")),
      opsRollupDir = s"$root/ops",
      checkpoint = s"$root/ckpt",
      vectorStores = Seq(IngestPipeline.VectorStoreLane(annDir)),
      signatureStores = Seq(IngestPipeline.SignatureStoreLane(
        D.SigStore(D.MinHash(), D.Dir(sigDir)))))
    def runOnce(): Unit = {
      val raw = spark.readStream.format("graft-kinesis-sim")
        .option("path", backlog.toString).option("shards", "2")
        .option("maxRecordsPerTrigger", "4") // several batches…
        // …spanning a MULTI-EPOCH reshard: shard 0 splits, a CHILD
        // of that split (epoch-1 shard 2) splits again
        .option("reshards", "split@4:0;split@10:2")
        .option("keyRegex", "\"(?:vec_id|doc_id|ID)\": (-?[0-9]+)")
        .load()
        .select(col("data").as("value"))
      awaitDrained(IngestPipeline.start(raw, cfg), 180000)
      ()
    }
    runOnce()

    // ---- ANN store: net state ≡ brute force over the net corpus ----
    val netVecs = (0 until 44)
      .filter(i => i != 5 && i != 11) // takedowns stay down
      .map { i =>
        val v = if (i == 3 || i == 7) vecOf(i).reverse else vecOf(i)
        (i.toLong, v)
      }.toDF("vec_id", "embedding")
    val queries = netVecs.filter(col("vec_id") < 3)
    def annSearch = S.searchIvfStore(spark, queries, annDir, k = 5,
        nprobe = 4)
      .select("query_id", "item_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val annTruth = S.bruteForceTopK(netVecs, queries, 5)
      .select("query_id", "item_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(annSearch === annTruth)
    val storedIds = S.searchIvfStore(spark, queries, annDir, k = 1000,
        nprobe = 4).select("item_id").as[Long].collect().toSet
    assert(!storedIds.contains(5L) && !storedIds.contains(11L),
      "a takedown resurfaced — the late re-delivered insert must drop")
    assert(Seq(40L, 41L, 42L, 43L).forall(storedIds.contains))

    // ---- signature store: admission ≡ a from-scratch NET store ----
    val netDocs = ((0 until 8).filter(_ != 3).map { i =>
      val t = if (i == 1)
        "completely replaced content for doc one with marker zzz"
      else textOf(i)
      (i.toLong, t)
    }).toDF("doc_id", "text")
    val scratch = Files.createTempDirectory("signet").toString + "/store"
    D.SigStore(D.MinHash(), D.Dir(scratch)).build(netDocs, "doc_id", "text")
    val probe = Seq(
      (100L, textOf(6) + " tail"), // near-dups the streamed insert
      (101L, "completely replaced content for doc one with marker zzy"),
      (102L, textOf(3) + " tail")  // near-dups ONLY the deleted doc
    ).toDF("doc_id", "text")
    def pairsOf(dir: String) =
      D.SigStore(D.MinHash(bands = 16), D.Dir(dir))
        .pairs(spark, probe, "doc_id", "text", threshold = 0.4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val livePairs = pairsOf(sigDir)
    assert(livePairs === pairsOf(scratch),
      "stream-maintained history must admit exactly like a " +
        "from-scratch store over the net corpus")
    assert(livePairs.contains((6L, 100L)) && livePairs.contains((1L, 101L)))
    assert(!livePairs.exists(p => p._1 == 3L || p._2 == 3L),
      "the deleted doc still matches as a dup source")

    // the snapshot lane ran in the same pass
    assert(IngestPipeline.readSnapshot(spark, cfg, "person")
      .select("ID", "val").as[(Long, String)].collect().toSet ===
      Set((1L, "v11")))

    // ---- restart on the drained checkpoint: stores unchanged ----
    runOnce()
    assert(annSearch === annTruth)
    assert(pairsOf(sigDir) === livePairs)
  }

  test("bucketed store lane: the SCALE layout maintained across the multi-epoch reshard — audits clean vs the net corpus, a late re-delivered I of a taken-down id stays down, restart and full replay change nothing") {
    val D = graft.operators.Dedup
    val root = Files.createTempDirectory("pipebucketed").toString
    val table = "pipelanes_bucketed"
    try {
      // the standing BUCKETED store (the 100 TB configuration) the
      // stream will maintain — until now its only pipeline-level
      // evidence was a tool measurement (r15 verdict item 2)
      val baseDocs = (0 until 6).map(i => (i.toLong, textOf(i)))
        .toDF("doc_id", "text")
      D.buildSignatureStoreBucketed(baseDocs, "doc_id", "text", table,
        buckets = 4, numHashes = 64, bands = 8, shingleN = 5)

      val replaced =
        "completely replaced content for doc one with marker zzz"
      // inserts, a replacement, takedowns — and the LATE RE-DELIVERED
      // insert of taken-down doc 5 lands in a later batch, across the
      // second reshard boundary (takedown must win there too)
      val lines = Seq(
        env(0, "documents", "insert",
          s"""{"doc_id": 6, "text": "${textOf(6)}"}"""),
        env(1, "person", "load", """{"ID": 1, "val": "v1"}"""),
        env(2, "documents", "update",
          s"""{"doc_id": 1, "text": "$replaced"}"""),
        env(3, "documents", "delete", """{"doc_id": 3}"""),
        env(4, "documents", "delete", """{"doc_id": 5}"""),
        env(5, "person", "update", """{"ID": 1, "val": "v5"}"""),
        env(6, "documents", "insert",
          s"""{"doc_id": 7, "text": "${textOf(7)}"}"""),
        env(7, "person", "update", """{"ID": 1, "val": "v7"}"""),
        env(8, "documents", "insert", // late re-delivery of a takedown
          s"""{"doc_id": 5, "text": "${textOf(5)}"}"""),
        env(9, "documents", "insert",
          s"""{"doc_id": 8, "text": "${textOf(8)}"}"""))
      val backlog = Files.createTempFile("pipebucketed", ".jsonl")
      Files.write(backlog, lines.mkString("\n").getBytes("UTF-8"))

      val cfg = IngestPipeline.Config(
        landingDir = s"$root/landing",
        quarantineDir = s"$root/quarantine",
        checks = Seq(Constraints.Predicate("has_data",
          col("data").isNotNull)),
        snapshotRoot = s"$root/snapshots",
        tables = Seq(IngestPipeline.TableSink(
          "dms_sample", "person", personSchema, "ID")),
        opsRollupDir = s"$root/ops",
        checkpoint = s"$root/ckpt",
        signatureStores = Seq(IngestPipeline.SignatureStoreLane(
          D.SigStore(D.MinHash(), D.Bucketed(table, 4)))))
      def runOnce(checkpoint: String): Unit = {
        val raw = spark.readStream.format("graft-kinesis-sim")
          .option("path", backlog.toString).option("shards", "2")
          .option("maxRecordsPerTrigger", "4") // several batches…
          // …spanning the same MULTI-EPOCH reshard as the dir-store
          // soak: shard 0 splits, a child of that split splits again
          .option("reshards", "split@4:0;split@10:2")
          .option("keyRegex", "\"(?:doc_id|ID)\": (-?[0-9]+)")
          .load()
          .select(col("data").as("value"))
        awaitDrained(
          IngestPipeline.start(raw, cfg.copy(checkpoint = checkpoint)),
          180000)
        ()
      }
      runOnce(cfg.checkpoint)

      // net corpus: 3 and 5 down (the late re-delivered I of 5 must
      // NOT resurrect it), 1 replaced, 6/7/8 admitted
      val netDocs = ((0 until 9).filter(i => i != 3 && i != 5).map { i =>
        (i.toLong, if (i == 1) replaced else textOf(i))
      }).toDF("doc_id", "text")
      def auditNet(tag: String): Unit = {
        val audit = D.auditSignatureStoreBucketed(spark, netDocs,
          "doc_id", "text", table, numHashes = 64, bands = 8,
          shingleN = 5)
        assert(audit.count() === netDocs.count(), tag)
        assert(audit.filter(!col("sig_ok") || !col("bands_ok"))
          .count() === 0, tag)
      }
      auditNet("stream-maintained bucketed store must equal the net corpus")
      // the snapshot lane ran in the same pass
      assert(IngestPipeline.readSnapshot(spark, cfg, "person")
        .select("ID", "val").as[(Long, String)].collect().toSet ===
        Set((1L, "v7")))

      // restart on the drained checkpoint: nothing re-applies
      runOnce(cfg.checkpoint)
      auditNet("a restart on the drained checkpoint must change nothing")

      // full REPLAY on a fresh checkpoint: every batch re-applies
      // against the maintained store — appends drop as re-deliveries,
      // the upsert re-replaces with identical content, deletes file
      // nothing, and the late I of 5 drops again because its
      // tombstone still stands. The net state must converge.
      runOnce(s"$root/ckpt_replay")
      auditNet("a full replay against the maintained store must converge")
    } finally Seq(s"${table}_sigs", s"${table}_bands",
      s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("store lanes: a malformed lane payload quarantines instead of wedging the stream; the rest of the batch lands") {
    val S = graft.operators.Similarity
    val D = graft.operators.Dedup
    val root = Files.createTempDirectory("pipemalformed").toString
    val annDir = s"$root/annstore"
    val sigDir = s"$root/sigstore"
    S.buildIvfStore((0 until 20).map(i => (i.toLong, vecOf(i)))
      .toDF("vec_id", "embedding"), annDir, nlist = 2, dim = 8)
    D.SigStore(D.MinHash(), D.Dir(sigDir)).build((0 until 4).map(i => (i.toLong, textOf(i)))
      .toDF("doc_id", "text"), "doc_id", "text")

    // poison shapes that all PASS the envelope contract (data is
    // non-null) but cannot legally enter a store lane — before the
    // pre-filter, each deterministically failed the batch on every
    // retry via a bridge/core raise and wedged the stream: a
    // wrong-fields payload, an outright non-JSON payload, an explicit
    // null id, a partial-payload update, an unknown operation
    val lines = Seq(
      env(0, "embeddings", "insert", vecJson(20L, vecOf(20))),
      env(1, "embeddings", "insert", """{"vec": "oops, no id field"}"""),
      env(2, "documents", "insert", """"not json at all""""),
      env(3, "documents", "update",
        """{"doc_id": null, "text": "id-less update"}"""),
      env(4, "person", "insert", """{"ID": 9, "val": "ok"}"""),
      env(5, "embeddings", "delete", """{"vec_id": 7}"""),
      env(6, "documents", "insert",
        s"""{"doc_id": 4, "text": "${textOf(4)}"}"""),
      // two more poison shapes (r15): a PARTIAL-payload update (id but
      // no body — the cores' body gate would refuse it loudly: only D
      // may be id-only) and an unknown operation (the op gate's raise)
      env(7, "embeddings", "update", """{"vec_id": 77}"""),
      env(8, "documents", "reindex",
        s"""{"doc_id": 9, "text": "${textOf(9)}"}"""),
      // and a SNAPSHOT-lane poison: a person row whose payload parses
      // to a null merge key would land a junk null-key row in the
      // standing snapshot — quarantined as payload_key:person instead
      env(9, "person", "insert", """{"val": "row with no key"}"""))
    val backlog = Files.createTempFile("pipemalformed", ".jsonl")
    Files.write(backlog, lines.mkString("\n").getBytes("UTF-8"))

    val cfg = IngestPipeline.Config(
      landingDir = s"$root/landing",
      quarantineDir = s"$root/quarantine",
      checks = Seq(Constraints.Predicate("has_data",
        col("data").isNotNull)),
      snapshotRoot = s"$root/snapshots",
      tables = Seq(IngestPipeline.TableSink(
        "dms_sample", "person", personSchema, "ID")),
      opsRollupDir = s"$root/ops",
      checkpoint = s"$root/ckpt",
      vectorStores = Seq(IngestPipeline.VectorStoreLane(annDir)),
      signatureStores = Seq(IngestPipeline.SignatureStoreLane(
        D.SigStore(D.MinHash(), D.Dir(sigDir)))))
    val raw = spark.readStream.format("graft-kinesis-sim")
      .option("path", backlog.toString).option("shards", "1")
      .option("keyRegex", "\"(?:vec_id|doc_id|ID)\": (-?[0-9]+)")
      .load()
      .select(col("data").as("value"))
    // the stream must COMPLETE — with the raise_error reaching the
    // sink this would fail the batch on every retry
    awaitDrained(IngestPipeline.start(raw, cfg), 180000)

    // the three poison rows are in quarantine, named by their check
    val q = spark.read.json(s"$root/quarantine")
    val viols = q.select(explode(col("violated")).as("v"))
      .as[String].collect().toSeq
    assert(viols.count(_ == "payload_parse:embeddings") === 2, viols)
    assert(viols.count(_ == "payload_parse:documents") === 3, viols)
    assert(viols.count(_ == "payload_key:person") === 1, viols)
    assert(q.count() === 6)
    // …and NOT in the clean landing
    assert(spark.read.json(s"$root/landing").count() === 4L)
    // every valid event applied: the insert, the takedown, the doc
    val qv = (0 until 3).map(i => (i.toLong, vecOf(i)))
      .toDF("vec_id", "embedding")
    val stored = S.searchIvfStore(spark, qv, annDir, k = 1000,
      nprobe = 2).select("item_id").as[Long].collect().toSet
    assert(stored.contains(20L) && !stored.contains(7L))
    val probe = Seq((100L, textOf(4) + " tail")).toDF("doc_id", "text")
    assert(D.SigStore(D.MinHash(bands = 16), D.Dir(sigDir))
      .pairs(spark, probe, "doc_id", "text", threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      .contains((4L, 100L)))
    assert(IngestPipeline.readSnapshot(spark, cfg, "person")
      .select("ID", "val").as[(Long, String)].collect().toSet ===
      Set((9L, "ok")))
  }
}
