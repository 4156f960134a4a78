package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Constraints
import graft.streaming.IngestPipeline

/**
 * End-to-end pipeline drive + measurement: synthesize a DMS envelope
 * backlog (I/U/D ops over two tables, control records, contract
 * violations), serve it through the Kinesis-shaped source in bounded
 * micro-batches, run [[graft.streaming.IngestPipeline]] over it, and
 * report per-batch latency and sustained throughput — the numbers
 * SCALING.md's streaming section records.
 *
 * Usage: runMain graft.tools.PipelineDemo
 *          [nRecords] [maxPerTrigger] [nTables] [withStores]
 *
 * `nTables` CDC sink tables (named after the reference's dms_sample
 * schema — 16 = the full reference layout, image/image3.png) share the
 * backlog; every non-idle table of a batch merges in one Spark job.
 * `withStores` = 1 (r14) turns the STORE-MAINTENANCE lanes on: ~20% of
 * the backlog becomes embeddings/documents CDC events (I/U/D), the
 * pipeline maintains a pre-built ANN store and dedup signature history
 * in the same per-batch pass, the store stage is timed
 * (`stage_p50_ms.store`) and the net state is verified (`stores_ok`:
 * ANN search ≡ brute force over the independently-folded net corpus;
 * signature content ≡ the net documents via the mutated-redeliveries
 * audit + a deleted doc stays excluded).
 *
 * Prints one JSON line:
 * `{"records":N,"tables":T,"batches":B,
 *   "wall_s":…,"records_per_s":…,"batch_ms":{"p50":…,"p95":…,"max":…},
 *   "stage_p50_ms":{"land":…,"merge":…,"rollup":…},"clean":…,
 *   "quarantined":…,"snapshot_ok":bool,"ops_ok":bool}`
 * where snapshot_ok verifies EVERY table's standing snapshot against
 * the latest-per-key fold of the backlog computed independently, and
 * ops_ok verifies the standing ops counters against the clean input's
 * group counts.
 */
object PipelineDemo {
  /** The reference's dms_sample tables (image/image3.png). */
  private val refTables = Seq(
    "person", "seat_type", "sporting_event", "sporting_event_ticket",
    "sport_type", "sport_location", "sport_team", "sport_division",
    "sport_league", "ticket_purchase_hist", "player", "name_data",
    "mlb_data", "nfl_data", "nfl_stadium_data", "seat_level")

  def main(args: Array[String]): Unit = {
    // the 5-argument form ([mergeParallelism] before [withStores]) is
    // gone; refuse it rather than read its parallelism as withStores
    require(args.size <= 4,
      "usage: PipelineDemo [nRecords] [maxPerTrigger] [nTables] [withStores]" +
        " (the [mergeParallelism] argument was removed)")
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val perTrigger = args.lift(1).map(_.toInt).getOrElse(2000)
    val nTables = args.lift(2).map(_.toInt).getOrElse(1)
    // 0 = no store lanes; 1 = dir-store lanes (r14); 2 = the SCALE
    // dedup layout — the signature lane runs against a BUCKETED store
    // (r15: a SignatureStoreLane over a bucketed store)
    val storesMode = args.lift(3).map(_.toInt).getOrElse(0)
    require(storesMode >= 0 && storesMode <= 2, s"withStores in 0..2, got $storesMode")
    val withStores = storesMode >= 1
    val bucketedSig = storesMode == 2
    require(nTables >= 1 && nTables <= refTables.size,
      s"nTables in 1..${refTables.size}")
    val sinkTables = refTables.take(nTables)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("PIPE_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._

    // --- backlog: person (keyed CDC with updates+deletes), seat
    // (insert-only), controls, and contract violations (~2%: negative
    // ID). Timestamps strictly increase with i — event-time order IS
    // backlog order, so "latest per key" is computable independently.
    // proper calendar arithmetic: one second per record from a fixed
    // base — strictly increasing and parseable for ANY nRecords (a
    // field-formatted minute would overflow past 216k records and the
    // unparseable tail would silently quarantine, corrupting metrics)
    val base = java.time.Instant.parse("2019-11-13T10:00:00Z")
    def ts(i: Int): String = base.plusSeconds(i.toLong).toString
      .replace("Z", ".000000Z")
    // store-lane corpus + deterministic event classes (withStores):
    // updates hit base ids ≡1 (mod 3), deletes ≡2 (mod 3), inserts mint
    // fresh ids (1M + i) — disjoint classes keep the independent net
    // fold simple (latest update per id wins; deletes stay down;
    // inserts are unique) while still exercising all three CDC lanes.
    def vecOf(seed: Int): Seq[Float] =
      (0 until 8).map(d => ((seed * 7 + d * 3) % 16 + 1) / 16.0f)
    def textOf(seed: Int): String =
      s"pipeline demo document number $seed covering topic ${seed % 7} " +
        s"with marker ${"m" * (seed % 9 + 3)} and some trailing words"
    val nBaseVec = 500
    val nBaseDoc = 100
    def emb(i: Int): (String, String) = i % 3 match {
      case 0 =>
        val id = 3 * (i % (nBaseVec / 3)) + 1
        ("update", s"""{"ID": $id, "vec_id": $id, "embedding": [${vecOf(id + i).mkString(", ")}]}""")
      case 1 =>
        val id = 3 * (i % (nBaseVec / 3)) + 2
        ("delete", s"""{"ID": $id, "vec_id": $id}""")
      case _ =>
        val id = 1000000 + i
        ("insert", s"""{"ID": $id, "vec_id": $id, "embedding": [${vecOf(i).mkString(", ")}]}""")
    }
    def doc(i: Int): (String, String) = i % 3 match {
      case 0 =>
        val id = 3 * (i % (nBaseDoc / 3)) + 1
        ("update", s"""{"ID": $id, "doc_id": $id, "text": "${textOf(id + i)}"}""")
      case 1 =>
        val id = 3 * (i % (nBaseDoc / 3)) + 2
        ("delete", s"""{"ID": $id, "doc_id": $id}""")
      case _ =>
        val id = 1000000 + i
        ("insert", s"""{"ID": $id, "doc_id": $id, "text": "${textOf(i)}"}""")
    }
    val persons = 0 until n
    val lines = persons.map { i =>
      val ctl = i % 97 == 0
      val storeLine = withStores && !ctl && i % 10 >= 8 // ~20% of rows
      if (storeLine) {
        val toEmb = i % 10 == 8
        val (op, data) = if (toEmb) emb(i) else doc(i)
        val tbl = if (toEmb) "embeddings" else "documents"
        s"""{"data": $data, "metadata": {"timestamp": "${ts(i)}", "record-type": "data", "operation": "$op", "partition-key-type": "primary-key", "schema-name": "dms_sample", "table-name": "$tbl"}}"""
      } else {
      // 1/5 of rows go to "seat" (landed + counted, never a sink) —
      // the demux-miss path; the rest spread over the sink tables
      val tbl = if (i % 5 == 4) "seat" else sinkTables(i % sinkTables.size)
      val key = i % (n / 4 + 1) // keys collide → genuine U/D churn
      val bad = !ctl && i % 50 == 13
      val id = if (bad) -key else key
      val op =
        if (i < n / 10) "load"
        else if (i % 11 == 0 && tbl != "seat") "delete"
        else if (i % 3 == 0 && tbl != "seat") "update"
        else "insert"
      val rt = if (ctl) "control" else "data"
      val data =
        if (ctl) "null"
        else s"""{"ID": $id, "val": "v$i", "bal": ${i % 1000}.5}"""
      s"""{"data": $data, "metadata": {"timestamp": "${ts(i)}", "record-type": "$rt", "operation": "$op", "partition-key-type": "primary-key", "schema-name": "dms_sample", "table-name": "$tbl"}}"""
      }
    }
    val backlog = java.nio.file.Files.createTempFile("pipedemo", ".jsonl")
    java.nio.file.Files.write(backlog,
      lines.mkString("\n").getBytes("UTF-8"))

    val root = java.nio.file.Files.createTempDirectory("pipedemo").toString
    val personSchema = StructType(Seq(
      StructField("ID", LongType), StructField("val", StringType),
      StructField("bal", DoubleType)))
    // the standing stores the lanes maintain (pre-built, like any
    // production store the stream keeps current)
    val annDir = s"$root/annstore"
    val sigDir = s"$root/sigstore"
    val sigTable = "pipedemo_sig"
    // the dir store bands its probe finer than the bucketed one
    val sigStore = { import graft.operators.Dedup._
      if (bucketedSig) SigStore(MinHash(), Bucketed(sigTable, 8))
      else SigStore(MinHash(bands = 16), Dir(sigDir)) }
    if (withStores) {
      graft.operators.Similarity.buildIvfStore(
        (0 until nBaseVec).map(i => (i.toLong, vecOf(i)))
          .toDF("vec_id", "embedding"), annDir, nlist = 16, dim = 8)
      val baseDocs = (0 until nBaseDoc).map(i => (i.toLong, textOf(i)))
        .toDF("doc_id", "text")
      if (bucketedSig) {
        // previous RUNS of this tool leave managed-table dirs in the
        // warehouse that this process's fresh in-memory catalog does
        // not know about — DROP is a no-op there and CREATE refuses
        // the existing location, so clean the files too
        val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
        (Seq(s"${sigTable}_sigs", s"${sigTable}_bands",
          s"${sigTable}_deleted").map(t => {
            spark.sql(s"DROP TABLE IF EXISTS $t"); s"$wh/$t" }) :+
          s"$wh/${sigTable}__dlog")
          .foreach { d =>
            val pth = new org.apache.hadoop.fs.Path(d)
            pth.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(pth, true)
          }
      }
      sigStore.build(baseDocs, "doc_id", "text")
    }
    val cfg = IngestPipeline.Config(
      landingDir = s"$root/landing",
      quarantineDir = s"$root/quarantine",
      checks = Seq(
        Constraints.Predicate("valid_id",
          // control records (data null) pass; data rows need ID >= 0
          col("data").isNull ||
            coalesce(get_json_object(col("data"), "$.ID").cast("long") >= 0,
              lit(false)),
          ),
        Constraints.NotNull("event_ts")),
      snapshotRoot = s"$root/snapshots",
      tables = sinkTables.map(tb => IngestPipeline.TableSink(
        "dms_sample", tb, personSchema, "ID")),
      opsRollupDir = s"$root/ops",
      checkpoint = s"$root/ckpt",
      vectorStores = if (withStores)
        Seq(IngestPipeline.VectorStoreLane(annDir)) else Nil,
      signatureStores = if (withStores)
        Seq(IngestPipeline.SignatureStoreLane(sigStore)) else Nil)

    val raw = spark.readStream.format("graft-kinesis-sim")
      .option("path", backlog.toString)
      .option("shards", "4")
      .option("maxRecordsPerTrigger", perTrigger.toString)
      .option("keyRegex", "\"ID\": (-?[0-9]+)")
      .load()
      .select(col("data").as("value"))

    val metrics = ArrayBuffer.empty[IngestPipeline.BatchMetric]
    val t0 = System.nanoTime()
    val q = IngestPipeline.start(raw, cfg, onBatch = m => metrics.synchronized {
      metrics += m; ()
    })
    // fail loudly on timeout: proceeding would verify half-built state
    // and read the metrics buffer concurrently with the writer
    require(q.awaitTermination(600000),
      "pipeline did not drain within 600s — backlog too large for the demo")
    val wallS = (System.nanoTime() - t0) / 1e9
    val ms0 = metrics.synchronized { metrics.toIndexedSeq }

    // --- verification: snapshot == independent latest-per-key fold
    val env = spark.read
      .schema(graft.model.DmsEnvelope.rawEnvelopeSchema)
      .json(backlog.toString)
      .select(col("data"), col("metadata"))
    val dataRows = env.filter(col("data").isNotNull &&
      get_json_object(col("data"), "$.ID").cast("long") >= 0)
    val snapshotOk = sinkTables.forall { tb =>
      val tail = dataRows
        .filter(col("metadata.`table-name`") === tb)
        .select(from_json(col("data"), personSchema).as("d"),
          col("metadata.operation").as("op"),
          to_timestamp(col("metadata.timestamp")).as("seq"))
        .select(col("d.*"), col("op"), col("seq"))
      val expected = tail
        .groupBy(col("ID"))
        .agg(max_by(struct(col("val"), col("bal"), col("op")), col("seq"))
          .as("p"))
        .filter(col("p.op") =!= "delete")
        .select(col("ID"), col("p.val").as("val"), col("p.bal").as("bal"))
      val got = IngestPipeline.readSnapshot(spark, cfg, tb)
      got.count() == expected.count() &&
        got.join(expected, Seq("ID", "val", "bal"), "inner").count() ==
          expected.count()
    }

    val opsGot = IngestPipeline.opCounts(spark, cfg.opsRollupDir)
      .orderBy("table_name", "operation").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // the ops rollup counts CLEAN envelopes (controls included — they
    // are valid envelopes, just not data rows)
    val cleanEnv = env.filter(col("data").isNull ||
      get_json_object(col("data"), "$.ID").cast("long") >= 0)
    val opsWantAll = cleanEnv
      .groupBy(col("metadata.`table-name`").as("table_name"),
        col("metadata.operation").as("operation"))
      .agg(count(lit(1)).as("n"))
      .orderBy("table_name", "operation").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val opsOk = opsGot == opsWantAll

    // --- store-lane verification: net state folded INDEPENDENTLY from
    // the generated event classes (latest update per id wins; deletes
    // stay down; inserts unique), then ANN search ≡ brute force and
    // signature content ≡ net docs
    val storesOk = !withStores || {
      val S = graft.operators.Similarity
      val De = graft.operators.Dedup
      val storeIdx = persons.filter(i => i % 97 != 0 && i % 10 >= 8)
      val vUpd = scala.collection.mutable.Map.empty[Long, Seq[Float]]
      val vDel = scala.collection.mutable.Set.empty[Long]
      val vIns = scala.collection.mutable.Map.empty[Long, Seq[Float]]
      val dUpd = scala.collection.mutable.Map.empty[Long, String]
      val dDel = scala.collection.mutable.Set.empty[Long]
      val dIns = scala.collection.mutable.Map.empty[Long, String]
      storeIdx.foreach { i =>
        if (i % 10 == 8) i % 3 match {
          case 0 => val id = 3L * (i % (nBaseVec / 3)) + 1
            vUpd(id) = vecOf(id.toInt + i)
          case 1 => vDel += 3L * (i % (nBaseVec / 3)) + 2
          case _ => vIns(1000000L + i) = vecOf(i)
        } else i % 3 match {
          case 0 => val id = 3L * (i % (nBaseDoc / 3)) + 1
            dUpd(id) = textOf(id.toInt + i)
          case 1 => dDel += 3L * (i % (nBaseDoc / 3)) + 2
          case _ => dIns(1000000L + i) = textOf(i)
        }
      }
      val netVecs = ((0 until nBaseVec).map(_.toLong)
        .filterNot(vDel.contains)
        .map(id => (id, vUpd.getOrElse(id, vecOf(id.toInt)))) ++
        vIns.toSeq).toDF("vec_id", "embedding")
      val queries = netVecs.filter(col("vec_id") < 3)
      val annOk = {
        val got = S.searchIvfStore(spark, queries, annDir, k = 5,
            nprobe = 16)
          .select("query_id", "item_id", "cos", "rank")
          .collect().map(_.toSeq).toSet
        val want = S.bruteForceTopK(netVecs, queries, 5)
          .select("query_id", "item_id", "cos", "rank")
          .collect().map(_.toSeq).toSet
        got == want
      }
      val netDocs = ((0 until nBaseDoc).map(_.toLong)
        .filterNot(dDel.contains)
        .map(id => (id, dUpd.getOrElse(id, textOf(id.toInt)))) ++
        dIns.toSeq).toDF("doc_id", "text")
      // content of every live id matches the net text…
      val mutatedOk =
        if (bucketedSig) {
          val audit = sigStore.audit(spark, netDocs, "doc_id", "text")
          audit.count() == netDocs.count() &&
            audit.filter(!col("sig_ok") || !col("bands_ok")).count() == 0
        } else De.mutatedRedeliveries(netDocs, "doc_id", "text",
          spark.read.parquet(sigDir), numHashes = 64, shingleN = 5).isEmpty
      // …a deleted doc stays excluded, an inserted one matches as
      // history
      val delId = dDel.head
      val insId = dIns.keys.head
      val probe = Seq(
        (9000001L, textOf(delId.toInt) + " tail"),
        (9000002L, dIns(insId) + " tail")).toDF("doc_id", "text")
      val pairs = sigStore.pairs(spark, probe, "doc_id", "text",
          threshold = 0.4)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      annOk && mutatedOk && !pairs.exists(_._1 == delId) &&
        pairs.contains((insId, 9000002L))
    }

    val ms = ms0.map(_.millis.toDouble).sorted
    def pct(p: Double) =
      if (ms.isEmpty) 0.0 else ms(((ms.size - 1) * p).toInt)
    def p50(xs: Seq[Long]): Double = {
      val v = xs.map(_.toDouble).sorted
      if (v.isEmpty) 0.0 else v((v.size - 1) / 2)
    }
    val clean = ms0.map(_.clean).sum
    val bad = ms0.map(_.quarantined).sum
    println(
      f"""{"records":$n,"tables":$nTables,""" +
        f""""batches":${ms0.size},"wall_s":$wallS%.1f,""" +
        f""""records_per_s":${n / wallS}%.0f,"batch_ms":{"p50":${pct(0.5)}%.0f,""" +
        f""""p95":${pct(0.95)}%.0f,"max":${if (ms.isEmpty) 0.0 else ms.last}%.0f},""" +
        f""""stage_p50_ms":{"land":${p50(ms0.map(_.landMillis))}%.0f,""" +
        f""""merge":${p50(ms0.map(_.mergeMillis))}%.0f,""" +
        f""""rollup":${p50(ms0.map(_.rollupMillis))}%.0f,""" +
        f""""store":${p50(ms0.map(_.storeMillis))}%.0f},""" +
        f""""clean":$clean,"quarantined":$bad,""" +
        s""""with_stores":$storesMode,"stores_ok":$storesOk,""" +
        s""""snapshot_ok":$snapshotOk,"ops_ok":$opsOk}""")
    spark.stop()
  }
}
