package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

/**
 * Small-file compaction for streaming sink output (SURVEY §7.3 item 5).
 *
 * Micro-batch sinks produce one file per partition per trigger; the
 * reference solves this in batch with `repartition(1)` (README.md:304 —
 * a full shuffle to one task, with the OOM caveat the reference itself
 * notes at README.md:299). This job rewrites a directory to
 * size-targeted files instead: bytes/targetFileBytes output files via
 * `coalesce` when shrinking (no shuffle) — run it periodically against
 * hive-partitioned table directories.
 *
 * All filesystem work goes through Hadoop `FileSystem` (never
 * `java.io.File`): `dir` may be `hdfs://`/`s3a://`/`file:/`, and a
 * local-only listing would silently size the rewrite from zero bytes —
 * coalescing the whole table through ONE task (the exact OOM hazard
 * this job replaces) before failing at the swap.
 *
 * Swap protocol (each step one rename, atomic on HDFS/local): park
 * the live dir as a dot-prefixed sibling, promote the staged rewrite,
 * drop the parked dir. A crash between park and promote leaves no live dir but an
 * intact parked one; the recovery preamble of the NEXT run (or any
 * manual rename) restores it — the data is never in a half-state. On
 * object stores where rename is copy, prefer the manifest-committed
 * stores ([[Merge]]) whose generations never rename.
 */
object Compaction {

  /** Rewrite `dir` (parquet) into ≈`targetFileBytes`-sized files.
    * Returns (filesBefore, filesAfter). */
  def compactParquet(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val parked = new Path(live.getParent, "." + live.getName + ".compact_bak")
    val staged = new Path(live.getParent, "." + live.getName + ".compact_tmp")
    def renameOrDie(a: Path, b: Path): Unit =
      require(fs.rename(a, b), s"rename $a -> $b failed")
    // recovery: a crash between park and promote left the data parked
    if (!fs.exists(live) && fs.exists(parked)) renameOrDie(parked, live)
    // a stale parked dir (crash after promote, before the final delete)
    // must clear BEFORE the next park: Hadoop rename into an existing
    // directory nests live INSIDE parked, and a second crash would then
    // "recover" a dir holding both the stale pre-compact files and the
    // nested current data — duplicated rows on read
    if (fs.exists(parked)) fs.delete(parked, true)

    def parquetFiles(p: Path): Seq[Path] = {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[Path]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          out += f.getPath
      }
      out.result()
    }
    val before = parquetFiles(live)
    require(before.nonEmpty, s"no parquet files under $dir")
    val bytes = before.map(fs.getFileStatus(_).getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(dir).coalesce(n)
      .write.mode(SaveMode.Overwrite).parquet(staged.toString)
    renameOrDie(live, parked)
    renameOrDie(staged, live)
    fs.delete(parked, true)
    (before.size, parquetFiles(live).size)
  }
}
