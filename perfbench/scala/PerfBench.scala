package org.apache.spark.sql.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM program: one workload, one closed loop whose only
 * client is this thread. Writes a JSON result file; `perfbench/run.py`
 * builds, generates inputs, starts this main and prints the final line.
 *
 *   PerfBench <workload> <inputDir> <workDir> <seconds> <trace 0|1> <outFile>
 */
object PerfBench {
  val cores: Int = Runtime.getRuntime.availableProcessors

  /** graft.Bench's session settings, at `cores`. */
  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.ui.retainedJobs", "100000")
      .config("spark.ui.retainedStages", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) Double.NaN
    else if (v.size % 2 == 1) v(v.size / 2)
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and its
    * value; with ten samples or fewer, the maximum (reported as 100). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val v = xs.sorted
    if (v.size <= 10) (100.0, if (v.isEmpty) Double.NaN else v.last)
    else {
      val idx = v.size - 11
      (100.0 * (idx + 1) / v.size, v(idx))
    }
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Everything a workload reports. `metrics` are the end-to-end ones,
    * `layers` the per-layer ones (traced runs), `checks` name → verdict. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.LinkedHashMap.empty[String, Boolean]
    val notes = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L

    /** Run one correctness check; an exception is a failed check. */
    def check(name: String)(body: => Boolean): Unit = {
      val ok = try body catch {
        case e: Throwable =>
          notes(s"check.$name") = String.valueOf(e.getMessage).take(300)
          false
      }
      checks(name) = ok
      attempted += 1
      if (!ok) failed += 1
    }

    def addSpans(name: String, xs: Seq[SpanStats]): Unit = {
      def med(f: SpanStats => Double) = if (xs.isEmpty) 0.0 else median(xs.map(f))
      layers(s"$name.ms") = med(_.ms)
      layers(s"$name.jobs") = med(_.jobs.toDouble)
      layers(s"$name.tasks") = med(_.tasks.toDouble)
      layers(s"$name.task_busy_ms") = med(_.taskBusyMs)
      layers(s"$name.shuffle_write_bytes") = med(_.shuffleWriteBytes.toDouble)
      layers(s"$name.output_files") = med(_.outputFiles.toDouble)
    }

    def json: String = {
      def num(d: Double) =
        if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
      def str(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "; case c => c.toString
      } + "\""
      def obj[V](m: collection.Map[String, V], f: V => String) =
        m.map { case (k, v) => s"${str(k)}: ${f(v)}" }.mkString("{", ", ", "}")
      s"""{"metrics": ${obj(metrics, num)}, "layers": ${obj(layers, num)}, """ +
        s""""checks": ${obj[Boolean](checks, _.toString)}, """ +
        s""""notes": ${obj(notes, str)}, "attempted": $attempted, "failed": $failed}"""
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: PerfBench <workload> <inputDir> " +
      "<workDir> <seconds> <trace 0|1> <outFile>")
    val Array(workload, input, work, secs, trace, out) = args
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = workload match {
      case "split_backlog" => new SplitBacklog(input, work)
      case "cdc_pipeline" => new CdcPipeline(input, work)
      case "store_cdc" => new StoreCdc(input, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    new File(work).mkdirs()
    val res = new Result
    val spark = session(cores, work)
    val sessionMs = (System.currentTimeMillis() - t0).toDouble
    val traced = trace == "1"
    val (_, setupMs) = time(w.setup(spark))
    res.notes("jvm_session_ms") = sessionMs.toString
    res.notes("workload_setup_ms") = setupMs.toString
    res.metrics("setup_s") = (sessionMs + setupMs) / 1000
    val tracer = if (traced) Some(new Tracer(spark)) else None
    w.measure(spark, secs.toDouble, tracer, res)
    tracer.foreach(_.close())
    w.verify(spark, res)
    if (traced) {
      val heap = ManagementFactory.getMemoryPoolMXBeans
      res.layers("jvm.peak_heap_mb") = {
        import scala.jdk.CollectionConverters._
        heap.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / 1048576.0
      }
      stopSession(spark)
      val one = session(1, work)
      try w.singleThread(one, res) finally stopSession(one)
    } else stopSession(spark)
    val pw = new java.io.PrintWriter(out, "UTF-8")
    try pw.println(res.json) finally pw.close()
  }
}
