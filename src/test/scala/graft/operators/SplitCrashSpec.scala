package graft.operators

import graft.CrashPoint
import graft.CrashPoint.Call

/** splitHotShard at every crash window ([[RebalanceCrashSpec]]), plus
  * one caught failure: a create failure at the record restore
  * (fail-once) must not delete the staging, which then holds the only
  * copy of the hot shard's vectors (the r12 advice regression). */
class SplitCrashSpec extends RebalanceCrashSpec("split", "q135",
    shardsBefore = 2, shardsAfter = 3) {

  protected def namedWindows(w: Seq[Call]): Seq[(String, Call)] = {
    val hotDelete = w.find(c => c.kind == "delete" &&
      c.path.matches(".*/store/shard=[0-9]+")).get
    Seq(
      // items and supers staged, the meta marker not yet begun
      "staging" -> CrashPoint.find(w, "mkdirs", "/_split_staging/meta/_temporary"),
      // records invalidated, the hot dir not yet deleted
      "postinvalidate" -> hotDelete,
      // the hot dir deleted: the staging holds the ONLY copy
      "midrefile" -> w(w.indexOf(hotDelete) + 1),
      // every slice re-filed, the records not yet restored
      "prerestore" -> CrashPoint.find(w, "mkdirs", "/store/super_centroids/_temporary"))
  }

  protected def resume(dir: String): Int =
    Similarity.resumeSplitHotShard(spark, dir)

  protected def rerun(dir: String): Int =
    Similarity.splitHotShard(spark, dir, splitIters = 4, nlist = 2)

  test("CAUGHT failure mid-mutation (injected create failure at the record restore): staging survives as the recovery copy — the r12 advice regression") {
    // the FIRST file created under super_centroids fails — the
    // restore-last step, after the hot dir is already deleted. Before
    // the fix, splitHotShard's finally block deleted the staging here:
    // a CAUGHT exception was more destructive than a hard crash.
    val at = CrashPoint.find(calls, "create", "/store/super_centroids/")
    store.restore()
    assert(CrashPoint.failOnce(spark, at)(run(dir)).isFailure)
    assert(stagingDone,
      "a caught mid-mutation failure must leave the staging in place — " +
        "it holds the only copy of the hot shard's vectors")
    mutationsRefused()
    resumed()
    appendsAgain()
  }
}
