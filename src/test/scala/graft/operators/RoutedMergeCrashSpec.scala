package graft.operators

import graft.CrashPoint
import graft.CrashPoint.Call

/** mergeColdShards (shards 0 and 1 of 3) at every crash window
  * ([[RebalanceCrashSpec]]), including the merge's own POST-RENAME
  * window: after shard=2 renames into shard=1's freed slot, shard=1
  * holds the moved shard's ONLY copy (the staging has the merged
  * pair's items, not the last shard's), so a resume that re-deleted it
  * would lose it for good; the stage-time `last_built` marker tells
  * "source absent because the rename happened" from "never existed". */
class RoutedMergeCrashSpec extends RebalanceCrashSpec("merge", "q138",
    shardsBefore = 3, shardsAfter = 2) {

  protected def namedWindows(w: Seq[Call]): Seq[(String, Call)] = {
    def after(c: Call) = w(w.indexOf(c) + 1)
    val loDelete = CrashPoint.find(w, "delete", "/store/shard=0")
    Seq(
      // items and supers staged, the meta marker not yet begun
      "staging" -> CrashPoint.find(w, "mkdirs", "/_merge_staging/meta/_temporary"),
      // records invalidated, no shard dir deleted yet
      "postinvalidate" -> loDelete,
      // shard=0 deleted: the staging holds the only copy of its vectors
      "midrefile" -> after(loDelete),
      // both merged dirs gone and shard=2 renamed into shard=1's slot
      "postrename" -> after(CrashPoint.find(w, "rename", "/store/shard=2")),
      // every slice re-filed, the records not yet restored
      "prerestore" -> CrashPoint.find(w, "mkdirs", "/store/super_centroids/_temporary"))
  }

  protected def resume(dir: String): Int =
    Similarity.resumeMergeColdShards(spark, dir)

  protected def rerun(dir: String): Int =
    Similarity.mergeColdShards(spark, dir, a = 0, b = 1, nlist = 2)
}
