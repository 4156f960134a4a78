package org.apache.spark.sql.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.model.DmsEnvelope
import graft.operators.{ChoiceResolver, Constraints, Dedup, Similarity, StreamSplitter}
import graft.sources.{Landing, SchemaRegistry}
import graft.streaming.IngestPipeline

import PerfBench.{median, time}

/** One benchmark workload over the generator's files in `input`.
  * `setup` runs before the timed region, `verify` after it, and
  * `singleThread` re-runs one unit at local[1] in a traced run. */
abstract class Workload(input: String) {
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double, tracer: Option[Tracer],
      res: PerfBench.Result): Unit
  def verify(spark: SparkSession, res: PerfBench.Result): Unit
  def singleThread(spark: SparkSession, res: PerfBench.Result): Unit

  protected val expected: JsonNode =
    new ObjectMapper().readTree(new File(s"$input/expected.json"))

  /** Runs unit `i` of a traced run with the tracer attached or with no
    * tracer registered, the untraced baseline of the overhead and
    * added-jobs figures, in the order traced, untraced, untraced, traced
    * (repeated), so a steady drift over the run (JIT warm-up) cancels.
    * Returns the body's result, the unit's wall (attach and detach
    * included), whether it was traced, and its [start, end] window. */
  protected def traceUnit[T](tracer: Option[Tracer], i: Int)(body: Spanner => T)
      : (T, Double, Boolean, (Long, Long)) = {
    val on = tracer.filter(_ => i % 4 == 0 || i % 4 == 3)
    val from = System.currentTimeMillis()
    val (r, ms) = time {
      on.foreach(_.attach())
      try body(new Spanner(on)) finally on.foreach(_.detach())
    }
    (r, ms, on.nonEmpty, (from, System.currentTimeMillis()))
  }

  /** Traced-minus-untraced median unit wall and jobs per unit; `units`
    * are (traced, wall ms, jobs). */
  protected def overhead(res: PerfBench.Result,
      units: Seq[(Boolean, Double, Int)]): Unit = {
    val (on, off) = units.partition(_._1)
    if (on.nonEmpty && off.nonEmpty) {
      res.layers("trace.overhead_ms") = median(on.map(_._2)) - median(off.map(_._2))
      res.layers("trace.jobs_added") =
        median(on.map(_._3.toDouble)) - median(off.map(_._3.toDouble))
    }
  }

  /** Task busy time over the traced units' wall times the cores: near 1
    * is task-bound, far below 1 is bound by coordination. */
  protected def busyShare(res: PerfBench.Result, spans: Seq[SpanStats],
      wallMs: Double): Unit =
    res.layers("scheduler.busy_share") =
      spans.map(_.taskBusyMs).sum / (wallMs * PerfBench.cores)
}

final class Spanner(t: Option[Tracer]) {
  def apply[T](name: String)(body: => T): T = t match {
    case Some(tr) => tr.span(name)(body)
    case None => body
  }
}

/**
 * The reference Glue job plus Athena: landed GZIP-JSON backlog → crawl →
 * one-pass split into per-table Parquet → catalog → choice-resolved read,
 * then a fixed read set: three catalog probes and five `SparkEntry`
 * queries over the generated sf tables. Data-bound: JSON parse and the
 * Parquet write.
 */
final class SplitBacklog(input: String, work: String) extends Workload(input) {
  private val landingRoot = s"$input/landing"
  /** Firehose-style YYYY/MM/DD/HH object prefixes. */
  private val landing = s"$landingRoot/*/*/*/*"
  private val sfDir = s"$input/sf"
  private val splitDir = s"$work/split"
  private val table = "dms_split"
  private val choiceTable = "sporting_event_ticket"
  private val probes = Seq(
    "SELECT count(*) FROM dms_split WHERE schema_name = 'dms_sample' " +
      "AND table_name = 'person'",
    "SELECT data.seat_level AS lvl, count(*) AS n FROM dms_split " +
      "WHERE table_name = 'sporting_event_ticket' AND " +
      "data.sporting_event_id < 50 GROUP BY data.seat_level ORDER BY lvl",
    "SELECT count(*) FROM dms_split h JOIN dms_split p " +
      "ON h.data.purchased_by_id = p.data.id " +
      "WHERE h.table_name = 'ticket_purchase_hist' AND p.table_name = 'person'")
  /** SparkEntry queries that write no state: JSON extraction, the demux
    * filter, the SimHash kernels (graft_h60, graft_simhash_sig), the
    * top-k-per-group operator, and q05's window, which runs on a session
    * with GraftExtensions so RankLimitRewrite plans it as top-k-per-group. */
  private val entryQueries = Seq("q11_events_json", "q12_demux_events",
    "q21_simhash", "q51_topk_group", "q05_window")
  private val extQuery = "q05_window"
  private var ext: (SparkSession, SparkSession) = _

  /** The GraftExtensions session on `spark`'s context. */
  private def extOf(spark: SparkSession): SparkSession = {
    if (ext == null || (ext._1 ne spark))
      ext = (spark, PlanBridge.sessionWithExtensions(spark,
        new graft.GraftExtensions().apply(_)))
    ext._2
  }

  private def entry(spark: SparkSession, q: String): DataFrame =
    SparkEntry.queries(q)(if (q == extQuery) extOf(spark) else spark, sfDir)

  /** Read sets per run, after the passes: enough samples for a steady
    * median, at about 2.3 s a set on 4 vCPUs. */
  private val readSets = 5

  private case class Pass(ms: Double, observed: Map[String, Any], choiceAgg: Row)
  private var last: Pass = _
  private var lastReads: Seq[Seq[Row]] = Nil

  private def pass(spark: SparkSession, sp: Spanner): Pass = {
    val ((obs, agg), ms) = time {
      val env = sp("sources.landing_read")(Landing.read(spark, landing, "json"))
      val reg = new SchemaRegistry
      sp("sources.schema_infer") {
        reg.inferAll(spark, spark.read.schema(DmsEnvelope.rawEnvelopeSchema)
          .json(landing))
      }
      val obs = sp("operators.split_write")(
        StreamSplitter.splitAllObserved(env, splitDir))
      sp("operators.catalog_register")(
        StreamSplitter.registerSplitTable(spark, splitDir, table))
      val agg = sp("operators.split_read") {
        // the choice-typed column settles to its declared type
        val target = StructType(reg.get("dms_sample", choiceTable).get.fields
          .map(f => if (f.name == "ticket_price") f.copy(dataType = DoubleType) else f))
        ChoiceResolver.resolveTo(StreamSplitter.flatten(
            StreamSplitter.readSplit(spark, splitDir, "dms_sample", choiceTable)),
            target)
          .agg(count(lit(1)), sum(col("ticket_price").cast("decimal(18,2)")))
          .head()
      }
      (obs, agg)
    }
    Pass(ms, obs, agg)
  }

  /** The three catalog probes, then the SparkEntry queries: their rows. */
  private def readSet(spark: SparkSession, sp: Spanner): Seq[Seq[Row]] =
    probes.map(q => sp("query.probe")(spark.sql(q).collect().toSeq)) ++
      entryQueries.map(q => sp(s"SparkEntry.$q")(entry(spark, q).collect().toSeq))

  /** Warm-up: one whole pass and read set (JIT, codegen); a pass over
    * part of the backlog leaves the first measured pass about 1.5x slow. */
  def setup(spark: SparkSession): Unit = {
    pass(spark, new Spanner(None))
    readSet(spark, new Spanner(None))
  }

  def measure(spark: SparkSession, seconds: Double, tracer: Option[Tracer],
      res: PerfBench.Result): Unit = {
    val units = ArrayBuffer.empty[(Boolean, Double, (Long, Long))]
    val passes = ArrayBuffer.empty[Pass]
    // a traced run needs a traced and an untraced pass
    val minPasses = if (tracer.isEmpty) 1 else 2
    val t0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (p, ms, on, window) = traceUnit(tracer, passes.size)(pass(spark, _))
      passes += p
      units += ((on, ms, window))
    }
    last = passes.last
    val reads = (0 until readSets).map(i => traceUnit(tracer, i)(readSet(spark, _)))
    lastReads = reads.last._1
    res.attempted += passes.size + readSets * (probes.size + entryQueries.size)
    val n = expected.get("n_input").asLong
    val ms = passes.map(_.ms).toSeq
    res.metrics("records_per_s") = n * ms.size / (ms.sum / 1000)
    res.metrics("step_p50_ms") = median(ms)
    res.metrics("read_p50_ms") = median(reads.map(_._2))
    res.metrics("stored_bytes_per_input_byte") =
      PerfBench.dirBytes(new File(splitDir)).toDouble /
        PerfBench.dirBytes(new File(landingRoot))
    res.notes("units") = s"${ms.size} passes: ${ms.map(_.round).mkString(" ")} ms; " +
      s"read sets ${reads.map(_._2.round).mkString(" ")} ms"
    tracer.foreach { tr =>
      tr.drain()
      val inst = tr.spanInstances
      Seq("sources.landing_read", "sources.schema_infer", "operators.split_write",
        "operators.catalog_register", "operators.split_read", "query.probe")
        .foreach(s => res.addSpans(s, inst.filter(_.name == s)))
      entryQueries.foreach { q =>
        val xs = inst.filter(_.name == s"SparkEntry.$q")
        res.layers(s"SparkEntry.$q.ms") = median(xs.map(_.ms))
        res.layers(s"SparkEntry.$q.jobs") = median(xs.map(_.jobs.toDouble))
      }
      val traced = units.filter(_._1)
      val scanSpans = Set("sources.landing_read", "sources.schema_infer",
        "operators.split_write")
      res.layers("sources.backlog_scans") =
        inst.filter(s => scanSpans(s.name)).map(_.inputJobs).sum.toDouble / traced.size
      res.layers("scheduler.job_floor_ms") = median(tr.smallJobMs(PerfBench.cores))
      busyShare(res, inst, traced.map(_._2).sum + reads.filter(_._3).map(_._2).sum)
      overhead(res, units.map { case (on, w, (a, b)) =>
        (on, w, tr.jobLog.inWindow(a, b)) }.toSeq)
    }
    res.layers("operators.split_write.kept_ratio") =
      last.observed("n_kept").toString.toDouble /
        last.observed("n_input").toString.toDouble
  }

  def verify(spark: SparkSession, res: PerfBench.Result): Unit = {
    val e = expected
    def obs(k: String) = last.observed(k).toString.toLong
    res.check("split_counts") {
      obs("n_input") == e.get("n_input").asLong &&
        obs("n_kept") + obs("n_controls_dropped") == obs("n_input") &&
        obs("n_kept") == e.get("n_kept").asLong
    }
    res.check("table_counts") {
      val got = spark.sql(s"SELECT table_name, count(*) FROM $table GROUP BY 1")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val want = e.get("table_counts").fields.asScala
        .map(x => (x.getKey, x.getValue.asLong)).toMap
      got == want
    }
    res.check("probes") {
      val levels = e.get("probe_level_counts").fields.asScala
        .map(x => (x.getKey.toLong, x.getValue.asLong)).toMap
      val p = lastReads
      p(0).head.getLong(0) == e.get("probe_person_count").asLong &&
        p(1).map(r => (r.getLong(0), r.getLong(1))).toMap == levels &&
        p(2).head.getLong(0) == e.get("probe_join_count").asLong
    }
    res.check("choice_resolved") {
      last.choiceAgg.getLong(0) == e.get("table_counts").get(choiceTable).asLong &&
        last.choiceAgg.getDecimal(1).movePointRight(2).longValueExact ==
          e.get("ticket_price_cents").asLong
    }
    res.check("drift_column") {
      StreamSplitter.flatten(
          StreamSplitter.readSplit(spark, splitDir, "dms_sample", "person"))
        .filter(col("middle_name").isNotNull).count() ==
        e.get("person_middle_name").asLong
    }
    val rows = entryQueries.zip(lastReads.drop(probes.size)).toMap
    def longs(r: Row, from: Int): Seq[Option[Long]] = (from until r.length)
      .map(i => Option(r.get(i)).map(_.asInstanceOf[Number].longValue))
    res.check("q11_events_json") {
      val want = e.get("q11").fields.asScala.map { x =>
        (x.getKey, x.getValue.elements.asScala
          .map(v => if (v.isNull) None else Some(v.asLong)).toSeq)
      }.toMap
      rows("q11_events_json").map(r => (r.getString(0), longs(r, 1))).toMap == want
    }
    res.check("q12_demux_events") {
      val r = rows("q12_demux_events")
      val want = e.get("q12").elements.asScala.map(_.asLong).toSeq
      Seq(r.size.toLong, r.map(_.getAs[Long]("event_id")).sum,
        r.map(_.getAs[Long]("minute_bucket")).sum) == want
    }
    res.check("q21_simhash") {
      rows("q21_simhash").map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet ==
        e.get("q21").elements.asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
    }
    val top3 = e.get("top3").elements.asScala
      .map(x => (x.get(0).asLong, x.get(1).asLong, x.get(2).asLong)).toSeq
    Seq("q51_topk_group", "q05_window").foreach { q =>
      res.check(q) {
        rows(q).map(r => (r.getAs[Long]("o_custkey"), r.getAs[Long]("o_orderkey"),
          r.getAs[Number]("rk").longValue)) == top3
      }
    }
    res.check("q05_planned_by_extension") {
      entry(spark, extQuery).queryExecution.executedPlan.toString
        .contains("TopKPerGroup")
    }
  }

  def singleThread(spark: SparkSession, res: PerfBench.Result): Unit = {
    val p = pass(spark, new Spanner(None))
    res.layers("scaling.local1_step_ms") = p.ms
    res.layers("scaling.speedup") = p.ms / res.metrics("step_p50_ms")
  }
}

/**
 * The paper's stream end to end: the Kinesis-shaped source drains a bounded
 * backlog through IngestPipeline into 16 standing snapshots with the
 * contract on. Coordination-bound: each batch fans out into 16 merges
 * plus landing and rollup commits.
 */
final class CdcPipeline(input: String, work: String) extends Workload(input) {
  private val tables = expected.get("snapshot").fieldNames.asScala.toSeq.sorted
  private val schema = StructType(Seq(StructField("ID", LongType),
    StructField("val", StringType), StructField("bal", DoubleType)))
  private var cfg: IngestPipeline.Config = _
  private var snapshots: Map[String, Array[Row]] = Map.empty
  /** Batch 1 at local[nproc], for the scaling figure. */
  private var batch1Ms = Double.NaN
  /** Warm-up batches (JIT, codegen, fresh snapshot dirs): in setup_s. */
  private val warm = 2
  /** The measured batches a traced run traces: every other one, so with
    * three (traced, untraced, traced) a steady drift cancels. */
  private def isTraced(batchId: Long) = batchId >= warm && (batchId - warm) % 2 == 0

  private def config(root: String, cores: Int) = IngestPipeline.Config(
    landingDir = s"$root/landing", quarantineDir = s"$root/quarantine",
    checks = Seq(
      Constraints.Predicate("valid_id", col("data").isNull ||
        coalesce(get_json_object(col("data"), "$.ID").cast("long") >= 0,
          lit(false))),
      Constraints.NotNull("event_ts")),
    snapshotRoot = s"$root/snapshots",
    tables = tables.map(t => IngestPipeline.TableSink("dms_sample", t, schema, "ID")),
    opsRollupDir = s"$root/ops", checkpoint = s"$root/ckpt",
    mergeParallelism = cores)

  /** Drain `backlog` into fresh state under `root`; batch metrics with
    * each batch's end time (ms), and the stream's start time (ms). With a
    * tracer, the traced batches run with it attached and the others
    * without: it is attached after the end time of the batch before a
    * traced one and detached in the traced batch's callback, so a traced
    * batch's wall (end to end) holds its attach, its batch and its
    * detach. */
  private def drain(spark: SparkSession, backlog: String, root: String,
      cores: Int, tracer: Option[Tracer] = None)
      : (IngestPipeline.Config, Seq[(IngestPipeline.BatchMetric, Long)], Long) = {
    PerfBench.deleteRecursively(new File(root))
    val c = config(root, cores)
    val raw = spark.readStream.format("graft-kinesis-sim")
      .option("path", backlog).option("shards", "4")
      .option("maxRecordsPerTrigger", expected.get("per_shard").asText)
      .option("keyRegex", "\"ID\": (-?[0-9]+)")
      .load().select(col("data").as("value"))
    val ms = ArrayBuffer.empty[(IngestPipeline.BatchMetric, Long)]
    val t0 = System.currentTimeMillis()
    val q = IngestPipeline.start(raw, c, onBatch = m => {
      if (isTraced(m.batchId)) tracer.foreach(_.detach())
      val end = System.currentTimeMillis()
      ms.synchronized { ms += ((m, end)) }
      if (isTraced(m.batchId + 1)) tracer.foreach(_.attach())
    })
    require(q.awaitTermination(170000), "stream did not drain in 170 s")
    q.exception.foreach(e => throw e)
    tracer.foreach(_.detach())
    (c, ms.synchronized(ms.toList), t0)
  }

  /** Nothing ahead of the stream: its first batches are the warm-up. */
  def setup(spark: SparkSession): Unit = ()

  def measure(spark: SparkSession, seconds: Double, tracer: Option[Tracer],
      res: PerfBench.Result): Unit = {
    val backlog = s"$input/backlog.jsonl"
    val (c, all, start) = drain(spark, backlog, s"$work/run", PerfBench.cores, tracer)
    cfg = c
    require(all.size > warm, s"backlog drained in ${all.size} batch(es); need ${warm + 1}+")
    val warmEnd = all(warm - 1)._2
    res.metrics("setup_s") += (warmEnd - start) / 1000.0
    val batches = all.drop(warm)
    batch1Ms = all(1)._1.millis.toDouble
    // every table is read twice: 32 samples for the median
    tracer.foreach(_.attach())
    val sp = new Spanner(tracer)
    val reads = (tables ++ tables).map { t =>
      val (rows, ms) = time(sp("operators.snapshot_read")(
        IngestPipeline.readSnapshot(spark, cfg, t).collect()))
      (t, rows, ms)
    }
    tracer.foreach(_.detach())
    snapshots = reads.map(r => (r._1, r._2)).toMap
    val bms = batches.map(_._1.millis.toDouble)
    res.metrics("records_per_s") =
      batches.map(_._1.input).sum / ((batches.last._2 - warmEnd) / 1000.0)
    res.attempted += batches.size + reads.size
    res.metrics("step_p50_ms") = median(bms)
    res.metrics("read_p50_ms") = median(reads.map(_._3))
    val root = new File(s"$work/run")
    res.metrics("stored_bytes_per_input_byte") =
      (PerfBench.dirBytes(root) - PerfBench.dirBytes(new File(root, "ckpt"))).toDouble /
        new File(backlog).length
    res.notes("units") = s"${batches.size} batches: ${bms.map(_.round).mkString(" ")} ms"
    val (pct, tl) = PerfBench.tail(bms)
    res.layers("streaming.batch_tail_ms") = tl
    res.layers("streaming.batch_tail_pct") = pct
    res.layers("streaming.land_ms") = median(batches.map(_._1.landMillis.toDouble))
    res.layers("streaming.merge_ms") = median(batches.map(_._1.mergeMillis.toDouble))
    res.layers("streaming.rollup_ms") = median(batches.map(_._1.rollupMillis.toDouble))
    tracer.foreach { tr =>
      tr.drain()
      val traced = batches.filter(b => isTraced(b._1.batchId))
      val byBatch = tr.batchInstances(traced.map(b => (b._1.batchId, b._1.millis)).toMap)
        .filter(b => isTraced(b._1))
      res.addSpans("streaming.batch", byBatch.values.toSeq)
      res.addSpans("operators.snapshot_read", tr.spanInstances
        .filter(_.name == "operators.snapshot_read"))
      // progress events arrive after a batch's callback, so these are the
      // durations of the batches just before the traced ones
      val prog = tr.progress.synchronized(tr.progress.toList).map(_._2)
      def dur(k: String) = median(prog.flatMap(_.get(k)).map(_.toDouble))
      res.layers("streaming.wal_commit_ms") = dur("walCommit")
      res.layers("sources.kinesis_offsets_ms") = dur("latestOffset")
      val written = byBatch.values.map(_.recordsWritten).sum
      res.layers("streaming.merge.rows_written_per_change") =
        (written - traced.map(_._1.input).sum).toDouble / traced.map(_._1.clean).sum
      res.layers("scheduler.job_floor_ms") = median(tr.smallJobMs(PerfBench.cores))
      busyShare(res, byBatch.values.toSeq, traced.map(_._1.millis.toDouble).sum)
      // a batch's wall for the overhead: end of the previous batch to its
      // own end, so the traced ones hold their attach and detach
      val ends = all.map(_._2).drop(warm - 1)
      overhead(res, batches.zip(ends).map { case ((m, end), prev) =>
        (isTraced(m.batchId), (end - prev).toDouble, tr.jobLog.inBatch(m.batchId))
      })
    }
  }

  def verify(spark: SparkSession, res: PerfBench.Result): Unit = {
    res.check("snapshots") {
      val want = expected.get("snapshot")
      tables.forall { t =>
        val w = want.get(t).fields.asScala.map { x =>
          (x.getKey.toLong, (x.getValue.get(0).asText, x.getValue.get(1).asDouble))
        }.toMap
        val got = snapshots(t).map { r =>
          (r.getAs[Long]("ID"), (r.getAs[String]("val"), r.getAs[Double]("bal")))
        }
        got.length == w.size && got.toMap == w
      }
    }
    res.check("op_counts") {
      val got = IngestPipeline.opCounts(spark, cfg.opsRollupDir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val want = expected.get("op_counts").elements.asScala
        .map(a => (a.get(0).asText, a.get(1).asText, a.get(2).asLong)).toSet
      got == want
    }
  }

  /** The stream's first two batches at local[1] on fresh state: batch 1
    * against the same batch at local[nproc]. */
  def singleThread(spark: SparkSession, res: PerfBench.Result): Unit = {
    val (_, b, _) = drain(spark, s"$input/warmup.jsonl", s"$work/local1", 1)
    require(b.size == 2, s"warm-up stream ran ${b.size} batches; expected 2")
    val ms = b(1)._1.millis.toDouble
    res.layers("scaling.local1_step_ms") = ms
    res.layers("scaling.speedup") = ms / batch1Ms
  }
}

/**
 * The stores the CDC stream keeps current: a routed IVF store and a
 * bucketed MinHash store take seeded I/U/D batches (with re-delivered
 * updates) while a fixed probe set searches both after every round.
 */
final class StoreCdc(input: String, work: String) extends Workload(input) {
  private val annDir = s"$work/annstore"
  private val sigTable = "perfbench_sig"
  private val rounds = expected.get("rounds").asInt
  private def read(spark: SparkSession, f: String) = spark.read.parquet(s"$input/$f")

  private def search(spark: SparkSession): (DataFrame, DataFrame) = (
    Similarity.searchRoutedIvfStore(spark, read(spark, "ann_probes.parquet"),
      annDir, k = 6, nprobe = 64, routeShards = 2),
    Dedup.minhashLshIncrementalBucketed(spark, read(spark, "sig_probes.parquet"),
      "doc_id", "text", sigTable, numHashes = 64, bands = 8, shingleN = 5,
      threshold = 0.4))

  def setup(spark: SparkSession): Unit = {
    PerfBench.deleteRecursively(new File(annDir))
    Similarity.buildRoutedIvfStore(read(spark, "embeddings.parquet"), annDir,
      shards = 2, nlist = 4, iters = 0, dim = 64)
    Dedup.buildSignatureStoreBucketed(read(spark, "documents.parquet"),
      "doc_id", "text", sigTable, buckets = 4, numHashes = 64, bands = 8,
      shingleN = 5)
    val (a, s) = search(spark)
    a.collect(); s.collect(); ()
  }

  def measure(spark: SparkSession, seconds: Double, tracer: Option[Tracer],
      res: PerfBench.Result): Unit = {
    val units = ArrayBuffer.empty[(Boolean, Double, (Long, Long))]
    val applyMs = ArrayBuffer.empty[Double]
    val searchMs = ArrayBuffer.empty[Double]
    for (r <- 0 until rounds) {
      val f = f"$r%03d.parquet"
      val (_, ms, on, window) = traceUnit(tracer, r) { sp =>
        val (_, a) = time(sp("operators.ann_cdc")(
          Similarity.applyCdcBatch(spark, read(spark, s"ann_cdc/$f"), annDir)))
        val (_, s) = time(sp("operators.sig_cdc")(
          Dedup.applySigCdcBatchBucketed(spark, read(spark, s"sig_cdc/$f"),
            sigTable, buckets = 4, numHashes = 64, bands = 8, shingleN = 5)))
        applyMs += a + s
        val (annQ, sigQ) = search(spark)
        searchMs += time(sp("operators.ann_search")(annQ.collect()))._2
        searchMs += time(sp("operators.sig_search")(sigQ.collect()))._2
      }
      units += ((on, ms, window))
    }
    res.metrics("records_per_s") =
      expected.get("cdc_events").asLong / (applyMs.sum / 1000)
    res.metrics("step_p50_ms") = median(applyMs.toSeq)
    res.metrics("read_p50_ms") = median(searchMs.toSeq)
    val stored = PerfBench.dirBytes(new File(annDir)) + new File(s"$work/warehouse")
      .listFiles.filter(_.getName.startsWith(sigTable))
      .map(PerfBench.dirBytes).sum
    val in = Seq("embeddings.parquet", "documents.parquet", "ann_cdc", "sig_cdc")
      .map(f => PerfBench.dirBytes(new File(s"$input/$f"))).sum
    res.metrics("stored_bytes_per_input_byte") = stored.toDouble / in
    res.notes("units") = s"$rounds rounds"
    res.attempted += 4 * rounds
    tracer.foreach { tr =>
      tr.drain()
      val inst = tr.spanInstances
      Seq("operators.ann_cdc", "operators.sig_cdc", "operators.ann_search",
        "operators.sig_search").foreach(s => res.addSpans(s, inst.filter(_.name == s)))
      res.layers("scheduler.job_floor_ms") = median(tr.smallJobMs(PerfBench.cores))
      busyShare(res, inst, units.filter(_._1).map(_._2).sum)
      overhead(res, units.map { case (on, w, (a, b)) =>
        (on, w, tr.jobLog.inWindow(a, b)) }.toSeq)
    }
  }

  def verify(spark: SparkSession, res: PerfBench.Result): Unit = {
    val (annQ, sigQ) = search(spark)
    res.check("ann_equals_brute_force") {
      def rows(df: DataFrame) = df.select("query_id", "item_id", "rank", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._3))
      val got = rows(annQ)
      val want = rows(Similarity.bruteForceTopK(read(spark, "net_embeddings.parquet"),
        read(spark, "ann_probes.parquet"), 6))
      got.length == want.length && got.zip(want).forall { case (g, w) =>
        g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && math.abs(g._4 - w._4) < 1e-6
      }
    }
    res.check("signature_audit_clean") {
      val net = read(spark, "net_documents.parquet")
      val audit = Dedup.auditSignatureStoreBucketed(spark, net, "doc_id", "text",
        sigTable, numHashes = 64, bands = 8, shingleN = 5)
      audit.count() == expected.get("net_docs").asLong &&
        audit.filter(!col("sig_ok") || !col("bands_ok")).count() == 0
    }
    res.check("deleted_doc_never_matches") {
      val pairs = sigQ.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val del = expected.get("deleted_probe_doc").asLong
      val live = expected.get("live_probe_doc").asLong
      !pairs.exists(p => p._1 == del || p._2 == del) && pairs.contains((live, 9000002L))
    }
  }

  def singleThread(spark: SparkSession, res: PerfBench.Result): Unit = ()
}
