package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Repartition}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.datasources.OutputMetricsBridge
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.SerializableConfiguration
import scala.collection.parallel.CollectionConverters._

/**
 * Many manifest generations, each with its own schema, written by ONE
 * Spark job: the writer of every merge and rollup generation. Every
 * input is planned in the control-plane child session
 * ([[ControlPlane.session]]), whose AQE is off (AQE's `execute()` runs
 * each shuffle stage as its own job), so all inputs' stages hang off
 * one result stage and Spark's DAG scheduler runs them as one group: a
 * micro-batch's per-table merges, or a partitioned merge's touched
 * partitions, pay the job floor once, not once per generation.
 *
 * Sizing, from an existing conf (`spark.sql.adaptive
 * .advisoryPartitionSizeInBytes`, "advisory" below) and the leaves'
 * size statistics — for a merge, the live generation and the change
 * side's source:
 *  - every leaf sized and their sum at most advisory: the input is
 *    planned as ONE task. Each leaf is read through a one-partition
 *    coalesce, which satisfies every exchange above it, so the whole
 *    merge (compaction, guard, join) runs in the task that writes the
 *    generation, with no shuffle and one part file;
 *  - otherwise the input keeps its exchanges, and the plan's output is
 *    coalesced (narrow) to k = ⌈sized leaf bytes / advisory⌉ partitions,
 *    clamped to [1, the plan's partitions]. A leaf with no size
 *    statistics (an RDD- or stream-backed frame reports
 *    `spark.sql.defaultSizeInBytes`) counts as 0 bytes, so an unsized
 *    change set is sized by the live generation instead of fanning the
 *    write out to every shuffle partition.
 * A change side filtered out of a larger shared batch is sized by that
 * whole batch: an over-estimate, which costs parallel map tasks and
 * more part files, never an oversized task. The job is one stage whose
 * task binary holds every input's plan, so the one-task inputs share at
 * most `defaultParallelism` tasks, each writing its inputs in turn.
 *
 * Each task writes Parquet through `ParquetFileFormat.prepareWrite`'s
 * writer factory (the session's codec, Spark's row schema in the
 * footer) straight into its generation dir as
 * `part-<input>-<partition>.<codec>.parquet`: no `_temporary`, no
 * committer, no rename. The generation dir is the staging unit; the
 * caller's commit file stays the only flip.
 *
 * A retried task overwrites its own file, so speculation (two live
 * attempts of one task) is refused. Partition 0 of an input always
 * writes a file, so a 0-row input still leaves a schema-only file for
 * [[Merge.readGeneration]]'s footer read.
 */
private[graft] object GenerationWriter {

  /** The name of the RDD each write job runs, which tells the job apart
    * in listeners and the UI. */
  val RddName = "GenerationWriter.writeAll"

  /** `df` planned in `child` as it is written, with its partition
    * count: one task when every leaf is sized and their sum fits
    * `advisory`, else the plan as is and ⌈sized leaf bytes / advisory⌉
    * (see the object doc). */
  private def sized(child: SparkSession, df: DataFrame,
      advisory: Long): (QueryExecution, Int) = {
    val cached = df.queryExecution.withCachedData
    val unsized = BigInt(child.sessionState.conf.defaultSizeInBytes)
    val sizes = cached.collectLeaves().map(_.stats.sizeInBytes)
    val bytes = sizes.filter(_ < unsized).sum
    if (sizes.forall(_ < unsized) && bytes <= advisory)
      (PlanBridge.ofRows(child, cached.transformUp {
        case l: LeafNode => Repartition(1, shuffle = false, l)
      }).queryExecution, 1)
    else (ControlPlane.rebind(child, df).queryExecution,
      ((bytes + advisory - 1) / advisory).max(1).min(Int.MaxValue).toInt)
  }

  /** Write each `(frame, generation dir)` in one `runJob`. */
  def writeAll(spark: SparkSession, inputs: Seq[(DataFrame, String)]): Unit =
    if (inputs.nonEmpty) {
      require(!spark.sparkContext.getConf.getBoolean("spark.speculation", false),
        "GenerationWriter writes deterministic file names, which a " +
          "speculative duplicate attempt would race: set spark.speculation=false")
      val child = ControlPlane.session(spark)
      SQLExecution.withSQLConfPropagated(child.asInstanceOf[classic.SparkSession]) {
        run(child, inputs)
      }
    }

  private def run(child: SparkSession, inputs: Seq[(DataFrame, String)]): Unit = {
    val sc = child.sparkContext
    val advisory = child.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    // planning is local CPU work (optimizer, physical planning, codegen),
    // tens of ms per merge input: plan the inputs side by side
    val prepared = inputs.par.map { case (df, _) =>
      val (qe, k) = sized(child, df, advisory)
      val rdd0 = qe.executedPlan.execute()
      val rdd = if (rdd0.getNumPartitions > 0) rdd0
        else sc.parallelize(Seq.empty[InternalRow], 1)
      val schema = qe.executedPlan.schema
      val job = Job.getInstance(child.sessionState.newHadoopConf())
      (rdd.coalesce(k.min(rdd.getNumPartitions)), schema,
        new ParquetFileFormat().prepareWrite(child, job, Map.empty, schema),
        new SerializableConfiguration(job.getConfiguration))
    }.seq
    // each partition becomes ONE element, (input, partition, its rows),
    // so a task can write several generations' files in turn
    val pieces = prepared.zipWithIndex.map { case ((rdd, _, _, _), i) =>
      rdd.mapPartitionsWithIndex((p, rows) => Iterator((i, p, rows)))
    }
    // one stage means one task binary holding every input's plan, which
    // each task deserializes: the one-partition inputs share at most
    // defaultParallelism tasks instead of taking one each
    val (single, multi) = pieces.partition(_.getNumPartitions == 1)
    val bundled = if (single.size > 1)
      Seq(sc.union(single).coalesce(single.size.min(sc.defaultParallelism)))
      else single
    val dirs = inputs.map(_._2).toArray
    val sch = prepared.map(_._2).toArray
    val fac = prepared.map(_._3).toArray
    // the Hadoop confs go once per executor, not inside every task
    val cf = sc.broadcast(prepared.map(_._4).toArray)
    val tracker = s"graft${System.currentTimeMillis()}"
    sc.runJob(sc.union(bundled ++ multi).setName(RddName),
      (tc: TaskContext, parts: Iterator[(Int, Int, Iterator[InternalRow])]) => {
        var records = 0L
        var bytes = 0L
        parts.foreach { case (i, p, rows) =>
          if (p == 0 || rows.hasNext) {
            val conf = cf.value(i).value
            val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID(
              new TaskID(new JobID(tracker, 0), TaskType.MAP, tc.partitionId()),
              tc.attemptNumber()))
            val path = new Path(dirs(i), f"part-$i%05d-$p%05d" + fac(i).getFileExtension(ctx))
            val fs = path.getFileSystem(conf)
            fs.delete(path, false) // a retried attempt overwrites its own file
            val w = fac(i).newInstance(path.toString, sch(i), ctx)
            try while (rows.hasNext) { w.write(rows.next()); records += 1 }
            catch {
              case t: Throwable =>
                try w.close() catch { case s: Throwable => t.addSuppressed(s) }
                throw t
            }
            w.close()
            bytes += fs.getFileStatus(path).getLen
          }
        }
        OutputMetricsBridge.set(tc, records, bytes)
      })
    ()
  }
}

