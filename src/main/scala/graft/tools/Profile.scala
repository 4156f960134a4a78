package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{Dedup, Similarity}

/** Dev profiler (not one of the Verify/Bench mains): wall, Spark jobs,
  * shuffle-write and output-write bytes per phase. Every target runs
  * twice: run1 pays codegen/JVM warm-up, run2 is the steady state.
  *
  * Targets:
  *  - a [[SparkEntry.queries]] name, profiled as one phase (a noop
  *    write of the query's DataFrame);
  *  - `lifecycle:q136`, `lifecycle:q139`, `lifecycle:q142`: that
  *    lifecycle query replayed phase by phase (build, each CDC batch,
  *    compaction, search) — where a many-job query spends its Spark
  *    actions.
  *
  * Usage: runMain graft.tools.Profile <target> [target…]
  * Env (`SPARK_GRAFT_SF_DIR` picks the scale):
  *  - `PROFILE_FRESH=1`: rebuild a query's DataFrame inside each run
  *    (Bench's shape: CacheManager plan-match reuse rather than
  *    same-object reuse). Otherwise it is built once, inside run1.
  *  - `PROFILE_JOBS=1`: per phase, its jobs grouped by description or
  *    call site (count, summed job wall) — which Spark actions the job
  *    floor is made of. Jobs overlap across concurrent legs, so the sum
  *    can exceed the phase wall; it still ranks the offenders.
  *  - `PROFILE_EXPLAIN=1` / `PROFILE_SHOW=1`: a query's formatted plan /
  *    first 50 rows, before the runs. */
object Profile {

  /** One phase's totals. `sites` is (label, jobs, summed job wall ms),
    * heaviest first. */
  final case class Phase(name: String, wallS: Double, jobs: Long,
      shuffleWriteMB: Double, outputWriteMB: Double,
      sites: Seq[(String, Int, Double)])

  /** The one listener: jobs, shuffle-write and output bytes, and the
    * per-job label histogram, read per [[phase]] once the listener bus
    * has delivered every event. Registering it submits no job. */
  final class Collector(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val jobs = new AtomicLong
    private val shuffleBytes = new AtomicLong
    private val outputBytes = new AtomicLong
    private val started = new ConcurrentHashMap[Int, (Long, String)]
    private val sites = new ConcurrentHashMap[String, (Int, Double)]
    private val recorded = Seq.newBuilder[Phase]
    sc.addSparkListener(this)

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // the result stage's name IS the action's short call site; it
      // is created after its parents, so it has the highest stage id
      // (stageInfos comes from a set: its order says nothing)
      val label = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .filter(_.nonEmpty)
        .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("?")
      started.put(js.jobId, (System.nanoTime(), label))
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach { case (t0, label) =>
        sites.merge(label, (1, (System.nanoTime() - t0) / 1e6),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(te.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }

    private def drain(): Unit = ListenerBusBridge.waitUntilEmpty(sc, 60000L)

    /** Run `body` as the phase `name` and record its totals. */
    def phase[A](name: String)(body: => A): A = {
      drain()
      sites.clear()
      val j0 = jobs.get()
      val s0 = shuffleBytes.get()
      val o0 = outputBytes.get()
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      recorded += Phase(name, wall, jobs.get() - j0,
        (shuffleBytes.get() - s0) / 1e6, (outputBytes.get() - o0) / 1e6,
        sites.asScala.toSeq.map { case (k, (n, ms)) => (k, n, ms) }
          .sortBy(-_._3))
      r
    }

    /** The phases recorded since the last call, in run order. */
    def take(): Seq[Phase] = {
      val r = recorded.result(); recorded.clear(); r
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      // cap generated-method size at the JVM JIT HugeMethodLimit: a
      // whole-stage method past 8 KB bytecode is NEVER JIT-compiled
      // (runs in the bytecode interpreter), so Spark's 65535 default
      // silently trades compiled-but-interpreted for the faster
      // non-codegen fallback — measured 11x on the PQ-encode stage
      // (SCALING.md round-9)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fresh = sys.env.contains("PROFILE_FRESH")
    val perJob = sys.env.contains("PROFILE_JOBS")
    val explain = sys.env.contains("PROFILE_EXPLAIN")
    val show = sys.env.contains("PROFILE_SHOW")
    val c = new Collector(spark)
    args.foreach { target =>
      val run: () => Unit = target match {
        case s"lifecycle:$q" =>
          val replay = lifecycles.getOrElse(q, sys.error(
            s"unknown lifecycle $q; one of ${lifecycles.keys.mkString(", ")}"))
          () => replay(spark, dir, c)
        case name =>
          val build = SparkEntry.queries.getOrElse(name,
            sys.error(s"unknown target $name"))
          lazy val df = build(spark, dir)
          if (explain) df.explain("formatted")
          if (show) df.show(50, truncate = false)
          // a pre-constructed lifecycle query leaves cached plan
          // fragments whose files a fresh construction's own lifecycle
          // rebuilds — CacheManager plan-matching would then feed the
          // new plan dead file listings (Bench never holds two
          // constructions at once)
          if (fresh && (explain || show)) spark.catalog.clearCache()
          () => c.phase(name) {
            (if (fresh) build(spark, dir) else df)
              .write.format("noop").mode("overwrite").save()
          }
      }
      (1 to 2).foreach { i =>
        run()
        // Bench's per-run cache discipline: a lifecycle query re-run in
        // one JVM otherwise reads a prior run's listings against its
        // rewritten store (FILE_NOT_EXIST)
        spark.catalog.clearCache()
        c.take().foreach { p =>
          println(f"$target run$i  ${p.name}%-28s ${p.wallS}%8.2f s" +
            f"  jobs ${p.jobs}%4d" +
            f"  shuffle-write ${p.shuffleWriteMB}%10.2f MB" +
            f"  output-write ${p.outputWriteMB}%10.2f MB")
          if (perJob) p.sites.foreach {
            case (label, n, ms) => println(f"      $n%4d  $ms%8.0f ms  $label")
          }
        }
      }
    }
    c.close()
    spark.stop()
  }

  /** Phase-by-phase replicas of the lifecycle queries, by query id; each
    * removes the store it built when it ends. */
  private[tools] val lifecycles
      : Map[String, (SparkSession, String, Collector) => Unit] =
    Map("q136" -> q136, "q139" -> q139, "q142" -> q142)

  /** `body` over a fresh store dir under `java.io.tmpdir`, deleted after. */
  private def withTmpStore(tag: String)(body: String => Unit): Unit = {
    val store = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_profile_${tag}_${System.nanoTime()}")
    try body(store.getAbsolutePath) finally SparkEntry.deleteRecursively(store)
  }

  private def q136(spark: SparkSession, dir: String, c: Collector): Unit =
    withTmpStore("q136") { store =>
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    c.phase("buildRoutedIvfStore") {
      Similarity.buildRoutedIvfStore(e, store, shards = 2, nlist = 4,
        iters = 0, dim = 64)
    }
    c.phase("delete 1") {
      Similarity.deleteFromShardedIvfStore(spark,
        e.filter(col("vec_id") % 7 === 3).select("vec_id"), store)
    }
    c.phase("compact x2") {
      (0 until 2).foreach { i =>
        if (new java.io.File(s"$store/shard=$i").exists())
          Similarity.compactIvfStore(spark, s"$store/shard=$i")
      }
    }
    c.phase("delete 2") {
      Similarity.deleteFromShardedIvfStore(spark,
        e.filter(col("vec_id") % 11 === 5).select("vec_id"), store)
    }
    c.phase("search") {
      Similarity.searchRoutedIvfStore(spark, e.filter(col("vec_id") < 8),
          store, k = 6, nprobe = 64, routeShards = 2)
        .orderBy(col("query_id"), col("rank"))
        .write.format("noop").mode("overwrite").save()
    }
  }

  private def q139(spark: SparkSession, dir: String, c: Collector): Unit =
    withTmpStore("q139") { store =>
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    c.phase("buildRoutedIvfStore") {
      Similarity.buildRoutedIvfStore(e.filter(col("vec_id") % 5 =!= 4),
        store, shards = 2, nlist = 4, iters = 0, dim = 64)
    }
    val b1 = e.filter(col("vec_id") % 5 === 4)
        .select(col("vec_id"), col("embedding"),
          lit("I").as("op"), lit(1L).as("seq"))
      .unionByName(e.filter(col("vec_id") % 9 === 2 &&
          col("vec_id") % 2 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
          lit("U").as("op"), lit(2L).as("seq")))
      .unionByName(e.filter(col("vec_id") % 7 === 1)
        .select(col("vec_id"), col("embedding"),
          lit("D").as("op"), lit(3L).as("seq")))
    c.phase("applyCdcBatch b1")(Similarity.applyCdcBatch(spark, b1, store))
    val b2 = e.filter(col("vec_id") % 7 === 1 &&
        col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("embedding"),
          lit("U").as("op"), lit(10L).as("seq"))
      .unionByName(e.filter(col("vec_id") % 13 === 6)
        .select(col("vec_id"), col("embedding"),
          lit("D").as("op"), lit(11L).as("seq")))
    c.phase("applyCdcBatch b2")(Similarity.applyCdcBatch(spark, b2, store))
    c.phase("searchRoutedIvfStore") {
      Similarity.searchRoutedIvfStore(spark,
          e.filter(col("vec_id") < 8), store, k = 6, nprobe = 64,
          routeShards = 2)
        .orderBy(col("query_id"), col("rank"))
        .write.format("noop").mode("overwrite").save()
    }
  }

  private def q142(spark: SparkSession, dir: String, c: Collector): Unit = {
    val table = s"graft_profile142_${System.nanoTime()}"
    try q142Phases(spark, dir, c, table)
    finally SparkEntry.dropScratch(spark, table)
  }

  private def q142Phases(spark: SparkSession, dir: String, c: Collector,
      table: String): Unit = {
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val sigs = Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed(table, 4))
    c.phase("buildSignatureStoreBucketed") {
      sigs.build(history, "doc_id", "text")
    }
    val rev = concat_ws(" ", reverse(split(col("text"), "\\s+")))
    val b1 = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"), lit("I").as("op"),
          lit(1L).as("seq"))
      .unionByName(history.filter(col("doc_id") % 5 === 1)
        .select(col("doc_id"), rev.as("text"), lit("U").as("op"),
          lit(2L).as("seq")))
      .unionByName(history.filter(col("doc_id") % 7 === 2)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit("D").as("op"), lit(3L).as("seq")))
    c.phase("applySigCdcBatch b1") {
      sigs.applyCdc(spark, b1)
    }
    val b2 = history
      .filter(col("doc_id") % 7 === 2 && col("doc_id") % 5 === 3)
      .select(col("doc_id"), col("text"), lit("I").as("op"),
        lit(10L).as("seq"))
    c.phase("applySigCdcBatch b2") {
      sigs.applyCdc(spark, b2)
    }
    val net = docs
      .filter(col("doc_id") % 3 === 0 || col("doc_id") % 7 =!= 2)
      .select(col("doc_id"),
        when(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 1, rev)
          .otherwise(col("text")).as("text"))
    c.phase("auditSignatureStoreBucketed") {
      sigs.audit(spark, net, "doc_id", "text")
        .select(col("id").as("doc_id"), col("sig_ok"), col("bands_ok"))
        .orderBy(col("doc_id"))
        .write.format("noop").mode("overwrite").save()
    }
  }
}
