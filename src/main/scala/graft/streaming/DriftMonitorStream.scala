package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Drift, Rollup}

/**
 * Continuous distribution-drift monitoring: each micro-batch folds
 * into a standing histogram rollup (the stream's OWN running
 * distribution) and the updated state is compared against a FROZEN
 * baseline store via [[graft.operators.Drift.psiFromStates]]; groups
 * whose PSI crosses the threshold append an alert row. The per-batch
 * cost is the fold's map-combined shuffle plus a join of two
 * group-count-sized state tables — corpus scans: zero, ever.
 *
 * Idempotency split, deliberately: the FOLD rides
 * [[RollupStream.foldBatch]]'s checkpoint-identity commit tags (a
 * re-delivered batch never double-counts — the state stays exact),
 * while ALERTS are at-least-once (a crash between fold and alert
 * write may re-emit one batch's alerts on recovery). Monitoring wants
 * exactly that asymmetry: duplicated alerts are noise, corrupted
 * state is a silent lie.
 */
object DriftMonitorStream {

  /** Start monitoring `rows` against `baselineDir` (a [[Rollup]] store
    * with the same keys + hist spec, typically built once from a
    * reference corpus). Alerts land in `alertDir` as parquet rows
    * `(keys…, n_a, n_b, psi, batch_id)`. */
  def monitor(rows: DataFrame, storeDir: String, baselineDir: String,
      keys: Seq[String], h: Rollup.HistSpec, checkpoint: String,
      alertDir: String, threshold: Double = 0.25,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = rows.sparkSession
    val spec = Rollup.Spec(keys = keys, hists = Seq(h))
    lazy val token = RollupStream.appToken(spark, checkpoint)
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // empty batches fold nothing AND alert nothing: the store may
        // not exist yet (first batch empty), and re-appending the same
        // alert set per idle tick would be pure noise
        if (!batch.isEmpty) {
          RollupStream.foldBatch(spark, batch, batchId, storeDir, spec,
            token)
          graft.operators.ControlPlane.dropDeadJobOutput(spark, alertDir)
          Drift.psiFromStates(
              Rollup.read(spark, storeDir), Rollup.read(spark, baselineDir),
              keys, h)
            .filter(col("psi") > threshold)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(alertDir)
        }
      }
      .start()
  }
}
