package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental materialized JOIN view: a standing enriched snapshot
 * `facts ⋈ dim` maintained by DELTAS — the join analog of [[Rollup]]'s
 * standing aggregate. The classic shape is a training-corpus table
 * enriched with catalog columns (document ⋈ source metadata,
 * order ⋈ customer): serving reads hit the materialized join, and
 * refreshes never recompute the corpus-wide join.
 *
 * Two fold directions, with deliberately different cost models:
 *
 *  - [[foldFacts]] (the common direction): a batch of new/updated fact
 *    rows joins against the CURRENT dim — one batch×dim join (dim
 *    broadcast when small) — and upserts into the view by fact key.
 *    Cost ∝ batch, never corpus.
 *  - [[foldDim]] (the rare direction): a dim delta re-enriches only
 *    the AFFECTED view rows — a broadcast semi-join pins them, the
 *    delta's columns replace theirs, and the upsert carries only those
 *    rows. Shuffle ∝ affected rows; the standing view is read once
 *    (that scan prunes to the dim-key range only if the view's layout
 *    clusters the dim key — [[Layout.zOrdered]] or a `partCol` close
 *    to it; otherwise it is one full scan, which still beats the
 *    from-scratch alternative of scanning facts AND shuffling the
 *    whole corpus through the join).
 *
 * Commits ride the MERGE protocol: whole-manifest by default, or —
 * when `Spec.partCol` names a fact-side partition column —
 * [[Merge.mergePartitioned]], so a fold
 * rewrites only the touched partitions (the 100 TB cost model; an
 * un-partitioned whole-manifest fold rewrites the view per commit,
 * fine for group-count-sized views, wrong for corpus-sized ones).
 *
 * Key-uniqueness is enforced LOUDLY at commit time (the MERGE layer's
 * multi-non-D guard): a fact batch carrying two rows for one fact key,
 * a dim delta carrying two rows for one dim key, or a dim whose join
 * key is not unique all fan out into multiple surviving change rows
 * per fact key — rejected before the commit instead of silently
 * duplicating keys in the standing view.
 *
 * Semantics and limits (pinned by JoinViewSpec + the q123 oracle):
 * INNER join — a fact row with no dim match is dropped (and re-enters
 * via [[foldFacts]] once the dim catches up, since folds are upserts
 * by fact key); dim DELETES are out of scope (a dim delete under
 * inner-join semantics means deleting fact rows — route that decision
 * through [[DeletionVectors]] explicitly). Fold sequences are
 * invisible: any init + foldFacts* + foldDim* sequence reads equal to
 * the from-scratch join of the final inputs.
 */
object JoinView {

  /** `factKey` = the view's upsert key (unique per fact row);
    * `dimKey` = the join column, same name on both sides (rename the
    * dim before folding); `partCol` = optional fact-side Hive
    * partition column for partition-pruned commits. */
  final case class Spec(factKey: String, dimKey: String,
      partCol: Option[String] = None)

  private def enrich(facts: DataFrame, dim: DataFrame,
      spec: Spec): DataFrame = {
    val overlap = facts.columns.toSet.intersect(dim.columns.toSet)
      .filterNot(_ == spec.dimKey)
    require(overlap.isEmpty,
      s"fact and dim share non-key columns ${overlap.mkString(", ")} — " +
        "the enriched view's columns would be ambiguous; rename one side")
    facts.join(dim, Seq(spec.dimKey), "inner")
  }

  /** Initialize the view from the first fact batch and the current
    * dim. */
  def init(spark: SparkSession, storeDir: String, facts: DataFrame,
      dim: DataFrame, spec: Spec): Unit =
    commit(spark, storeDir,
      enrich(facts, dim, spec).withColumn("op", lit("I")), spec)

  /** Fold a fact batch: enrich against the CURRENT dim, upsert by
    * fact key. Re-delivery-safe (an upsert of identical rows is a
    * no-op to readers). */
  def foldFacts(spark: SparkSession, storeDir: String, factBatch: DataFrame,
      dim: DataFrame, spec: Spec): Unit =
    commit(spark, storeDir,
      enrich(factBatch, dim, spec).withColumn("op", lit("U")), spec)

  /** Fold a dim delta (updated dim rows, full dim schema): re-enrich
    * ONLY the view rows whose dim key appears in the delta. */
  def foldDim(spark: SparkSession, storeDir: String, dimDelta: DataFrame,
      spec: Spec): Unit = {
    val standing = Merge.readSnapshot(spark, storeDir)
    val dimCols = dimDelta.columns.filterNot(_ == spec.dimKey)
    val affected = standing.join(
      broadcast(dimDelta.select(col(spec.dimKey)).distinct()),
      Seq(spec.dimKey), "left_semi")
    val updated = affected.drop(dimCols: _*)
      .join(broadcast(dimDelta), Seq(spec.dimKey), "inner")
      // restore the view's column order (drop+join appended dim cols)
      .select(standing.columns.map(col): _*)
    commit(spark, storeDir, updated.withColumn("op", lit("U")), spec)
  }

  /** The current enriched snapshot. */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    Merge.readSnapshot(spark, storeDir)

  private def commit(spark: SparkSession, storeDir: String,
      changes: DataFrame, spec: Spec): Unit = spec.partCol match {
    case Some(pc) =>
      Merge.mergePartitioned(spark, storeDir, changes, spec.factKey, pc)
      ()
    case None =>
      Merge.mergeWholeManifest(spark, storeDir, changes, spec.factKey)
  }
}
