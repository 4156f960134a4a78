package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-span counters, summed over the jobs a span owns. */
final case class SpanStats(name: String, ms: Double, jobs: Int, tasks: Long,
    taskBusyMs: Double, shuffleWriteBytes: Long, outputFiles: Long,
    inputJobs: Int, recordsWritten: Long)

/**
 * Spans around the benchmark's own calls into the program, fed by three
 * listeners that are registered only while the tracer is attached: a
 * workload attaches it for its traced units and detaches it (after a bus
 * drain) for the untraced ones. It never runs a Spark action.
 *
 * A job belongs to the span whose [start, end] holds its submission time,
 * except jobs carrying the `streaming.sql.batchId` property, which belong
 * to that micro-batch. The calling thread is the only client and spans do
 * not nest, so the interval rule is exact outside the stream.
 */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private case class Job(start: Long, stages: Seq[Int], batch: Option[Long],
      execId: Option[Long]) { @volatile var end: Long = -1 }
  private final class StageAgg {
    var tasks = 0L; var busyMs = 0.0; var shuffleW = 0L; var inBytes = 0L
    var recW = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  // files written per query execution, joined to its SQL execution id by
  // the identity of the QueryExecution both listeners see
  private val qeFiles = new ConcurrentHashMap[Int, java.lang.Long]()
  private val qeExec = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execStart = new ConcurrentHashMap[Long, java.lang.Long]()
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  @volatile private var attached = false
  /** Every job of the run, traced unit or not: the added-jobs baseline. */
  val jobLog = new JobLog(sc)
  /** Per micro-batch: StreamingQueryProgress.durationMs. */
  val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      def files(p: SparkPlan): Long = p.collect {
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case c: CommandResultExec => files(c.commandPhysicalPlan)
      }.sum
      qeFiles.put(System.identityHashCode(qe), files(qe.executedPlan))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val sqListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized {
        progress += ((e.progress.batchId,
          e.progress.durationMs.asScala.map { case (k, v) => (k, v.longValue) }.toMap))
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(sqListener)
    attached = true
  }

  /** Drain the bus, so the traced unit's events are in, and unregister. */
  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(sqListener)
    attached = false
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, Job(e.time, e.stageIds,
      prop("streaming.sql.batchId").map(_.toLong),
      prop(SQLExecution.EXECUTION_ID_KEY).map(_.toLong)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.busyMs += m.executorRunTime
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.inBytes += m.inputMetrics.bytesRead
        a.recW += m.outputMetrics.recordsWritten
      }
    }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd if s.qe != null =>
      qeExec.put(System.identityHashCode(s.qe), s.executionId)
    case _ =>
  }

  /** Wait until every posted listener event is processed. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` as one instance of span `name`; the bus is drained before
    * the span closes, so its jobs' task events are in. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally {
      drain()
      spans.synchronized { spans += ((name, t0, System.currentTimeMillis())) }
    }
  }

  def close(): Unit = {
    detach()
    jobLog.close()
  }

  private lazy val execFiles: Map[Long, Long] = qeFiles.asScala.toSeq.flatMap {
    case (q, f) => Option(qeExec.get(q)).map(e => (e.longValue, f.longValue))
  }.groupMapReduce(_._1)(_._2)(_ + _)

  private def statsOf(name: String, ms: Double, js: Iterable[Job],
      window: Option[(Long, Long)] = None): SpanStats = {
    val sts = js.flatMap(_.stages).flatMap(s => Option(stages.get(s)))
    // a write's files are counted once per SQL execution: the ones its
    // jobs name, plus (in a span) every execution that started inside it
    val execs = js.flatMap(_.execId).toSet ++ window.toSeq.flatMap { case (s, e) =>
      execStart.asScala.collect { case (id, t) if t >= s && t <= e => id }
    }
    SpanStats(name, ms, js.size, sts.map(_.tasks).sum, sts.map(_.busyMs).sum,
      sts.map(_.shuffleW).sum,
      execs.toSeq.flatMap(execFiles.get).sum,
      js.count(_.stages.exists(s => Option(stages.get(s)).exists(_.inBytes > 0))),
      sts.map(_.recW).sum)
  }

  /** One SpanStats per span instance, in order. */
  def spanInstances: Seq[SpanStats] = {
    val all = jobs.values.asScala.toSeq
    spans.synchronized(spans.toList).map { case (n, s, e) =>
      statsOf(n, (e - s).toDouble,
        all.filter(j => j.batch.isEmpty && j.start >= s && j.start <= e), Some((s, e)))
    }
  }

  /** One SpanStats per micro-batch of the stream, keyed by batch id. */
  def batchInstances(batchMs: Map[Long, Long]): Map[Long, SpanStats] =
    jobs.values.asScala.toSeq.filter(_.batch.nonEmpty).groupBy(_.batch.get)
      .map { case (b, js) =>
        (b, statsOf("streaming.batch", batchMs.getOrElse(b, 0L).toDouble, js))
      }

  /** Wall of every finished job with at most `maxTasks` tasks. */
  def smallJobMs(maxTasks: Int): Seq[Double] =
    jobs.values.asScala.toSeq.filter(_.end >= 0).filter { j =>
      j.stages.flatMap(s => Option(stages.get(s))).map(_.tasks).sum <= maxTasks
    }.map(j => (j.end - j.start).toDouble)
}

/** Submission time and micro-batch of every job, registered for a whole
  * traced run, so traced and untraced units are counted alike. */
final class JobLog(sc: SparkContext) extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[Long])]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    starts.add((e.time, Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)))

  def close(): Unit = {
    sc.listenerBus.waitUntilEmpty()
    sc.removeSparkListener(this)
  }

  /** Jobs outside the stream submitted within [from, to] (ms). */
  def inWindow(from: Long, to: Long): Int =
    starts.asScala.count(j => j._2.isEmpty && j._1 >= from && j._1 <= to)

  def inBatch(batchId: Long): Int = starts.asScala.count(_._2.contains(batchId))
}
