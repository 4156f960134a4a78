package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/**
 * The one `private[sql]` bridge the engine needs: build a `DataFrame`
 * from a library-defined `LogicalPlan` (`Dataset.ofRows` is sql-private
 * in Spark 4). Lives under `org.apache.spark.sql` for access; contains
 * no logic.
 */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /**
   * A child of `spark` (`cloneSession()`: same SparkContext, catalog and
   * CacheManager; a copy of its conf, session functions and temp views)
   * whose SQL conf is the caller's plus `overrides`, so a step can plan
   * under its own execution mode without touching the caller's conf.
   * Frames rebind to it through [[ofRows]]. What the caller registers
   * after the clone does not carry over.
   */
  def childSession(spark: SparkSession,
      overrides: (String, String)*): SparkSession = {
    val child = spark.asInstanceOf[classic.SparkSession].cloneSession()
    overrides.foreach { case (k, v) => child.sessionState.conf.setConfString(k, v) }
    child
  }

  /**
   * A fresh SparkSession on an existing SparkContext with the given
   * extensions applied — what `builder().withExtensions` can't do once
   * a default session exists (getOrCreate returns it unchanged). Used
   * by tests to exercise `spark.sql.extensions=graft.GraftExtensions`
   * end-to-end without tearing down the shared session.
   */
  def sessionWithExtensions(spark: SparkSession,
      configure: org.apache.spark.sql.SparkSessionExtensions => Unit): SparkSession = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    configure(ext)
    // the 6-arg constructor is Scala-private but bytecode-public
    val ctor = classOf[classic.SparkSession].getConstructor(
      classOf[org.apache.spark.SparkContext], classOf[Option[_]], classOf[Option[_]],
      classOf[org.apache.spark.sql.SparkSessionExtensions],
      classOf[scala.collection.immutable.Map[_, _]],
      classOf[scala.collection.immutable.Map[_, _]])
    ctor.newInstance(spark.asInstanceOf[classic.SparkSession].sparkContext,
      None, None, ext, Map.empty, Map.empty)
  }
}
