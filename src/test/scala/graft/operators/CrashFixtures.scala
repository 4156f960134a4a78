package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic corpora shared by the crash specs and the store specs
  * that reuse them (no RNG: every run derives identical rows). */
object CrashFixtures {

  /** Skewed vectors: 4 directions in dim 8, cluster 0 holding half the
    * items, so a 2-shard trained super leaves one shard hot. */
  def splitFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 200).map { i =>
      val c = if (i % 2 == 0) 0 else 1 + (i / 2) % 3
      val v = (0 until 8).map { d =>
        (if (d % 4 == c) 1.0 else 0.0) +
          0.05 * math.sin(1.0 + i * 7 + d * 13)
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  /** Documents for the bucketed signature store — several write
    * tasks, so the bucketed tables land several files per bucket (the
    * admission profile the file-targeted reclaim navigates). */
  def sigFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0L until 24L).map(i => (i,
      s"crash fixture document $i with its own words " +
        s"aa$i bb$i cc$i dd$i ee$i ff$i gg$i hh$i"))
      .toDF("doc_id", "text").repartition(3)
  }
}
