package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.ManifestCommit

/** REAL-process crash fixture (not part of the driver contract):
  * drives a manifest snapshot to a specific death point and then dies
  * ABRUPTLY (`Runtime.halt` — no shutdown hooks, no finally blocks, no
  * streaming-side cleanup: the closest a test can get to kill -9
  * without an external supervisor). MergeCrashSpec's in-process death
  * points simulate the disk states; the subprocess tests that run this
  * main prove the simulations faithful — a genuinely dead JVM leaves
  * exactly the debris the recovery path is specced against.
  *
  * Usage: CrashWriter <snapshotDir> <mode>
  *   mode = seed         — commit v1 normally, exit 0
  *   mode = die-staged   — stage v2's generation dir fully, then
  *                         halt(137) BEFORE the commit file (the
  *                         mid-stage death point: staged-but-
  *                         unreferenced debris)
  *   mode = die-torn     — stage v2 fully, then halt(137) MID-FLIP:
  *                         the commit object's header and body are
  *                         flushed to disk but the entry-count trailer
  *                         never lands (a torn pointer write)
  *   mode = die-postflip — commit v2 normally, then commit v3 through
  *                         the full real sequence (preamble GC, stage,
  *                         guards, pointer flip) and halt(137) BETWEEN
  *                         the flip and the post-commit cleanup GC —
  *                         superseded history beyond retention lingers
  *   mode = split-seed / split-die-staging / split-die-postinvalidate /
  *          split-die-midrefile / split-die-prerestore
  *                       — routed-ANN-store splitHotShard death
  *                         windows; see the case comments and
  *                         SplitCrashSpec
  *   mode = merge-seed / merge-die-staging / merge-die-postinvalidate /
  *          merge-die-midrefile / merge-die-postrename /
  *          merge-die-prerestore
  *                       — mergeColdShards death windows, including
  *                         the rename window where shard=hi holds the
  *                         moved shard's ONLY copy; see
  *                         RoutedMergeCrashSpec
  *   mode = sigreclaim-die-postappend / sigreclaim-die-middelete /
  *          sigreclaim-verify
  *                       — bucketed-signature-store file-targeted
  *                         reclaim death windows (append-then-delete:
  *                         die with survivors appended and none/some
  *                         originals deleted) + the fresh-process
  *                         heal/audit; `dir` is a SHARED WAREHOUSE
  *                         here, not a store dir; see
  *                         SigReclaimCrashSpec
  *   mode = occ-loop     — NOT a crash mode: a real concurrent-writer
  *                         process for the optimistic-concurrency spec.
  *                         args(2) = this writer's partition value,
  *                         args(3) = batch count; runs that many
  *                         partition-scoped merges on its OWN partition
  *                         with spark.graft.merge.occ=true, exits 0.
  *                         Two of these racing on disjoint partitions
  *                         must BOTH land every batch.
  */
object CrashWriter {
  def main(args: Array[String]): Unit = {
    val Array(dir, mode) = args.take(2)
    val builder = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    // the sigreclaim modes operate on CATALOG tables: `dir` is the
    // warehouse, shared across the seed/crash/verify processes (each
    // process's in-memory catalog starts empty; the FILES carry the
    // state, and the verify mode re-registers external tables over
    // them)
    val spark = (if (mode.startsWith("sigreclaim-"))
      builder.config("spark.sql.warehouse.dir", dir) else builder)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the split modes run Similarity paths, which use the registered
    // graft kernels (graft_unit_vec etc.) — same as every other main
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val p = new Path(dir)
    def fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    mode match {
      case "seed" =>
        graft.streaming.MergeSink.applyBatch(spark,
          Seq((1L, "I", "a", 1.0, 1L)).toDF("k", "op", "name", "bal", "seq"),
          dir, "k", "op", "seq")
        spark.stop()
      case "die-staged" =>
        graft.operators.Merge.commitWholeGeneration(spark, dir) {
          (genPath, _) =>
            Seq((2L, "half", 2.0)).toDF("k", "name", "bal")
              .write.mode("overwrite").parquet(genPath)
            // the process dies HERE: generation staged at its final
            // nonce path, no commit file will ever name it
            Runtime.getRuntime.halt(137)
        }
      case "die-torn" =>
        // v2's generation staged fully, then the pointer write itself
        // is interrupted: header + entries reach the disk, the trailer
        // does not — the exact bytes ManifestCommit.parse calls torn
        val gen = ManifestCommit.stagedGenName(2L)
        Seq((2L, "torn", 2.0)).toDF("k", "name", "bal")
          .write.parquet(
            new Path(ManifestCommit.dataDir(p), gen).toString)
        val out = fs.create(new Path(p, f"_graft_commit-${2L}%012d"), false)
        out.write(s"graft-commit v1 2\n$gen\n".getBytes("UTF-8"))
        out.hflush() // the partial content is on disk when we die
        Runtime.getRuntime.halt(137)
      case "die-postflip" =>
        // v2 through the normal path (its cleanup runs), then v3
        // replayed step-for-step from Merge.commitWholeGeneration with
        // the death between the flip and the post-commit GC — with
        // retention 2, v1's commit file and generation are exactly the
        // cleanup work the crash leaves for the next preamble
        graft.streaming.MergeSink.applyBatch(spark,
          Seq((2L, "I", "b", 2.0, 2L)).toDF("k", "op", "name", "bal", "seq"),
          dir, "k", "op", "seq")
        val retain = ManifestCommit.retention(spark)
        val grace = ManifestCommit.stagedGrace(spark)
        ManifestCommit.gc(fs, p, retain, grace)
        val st = ManifestCommit.read(fs, p)
        val newVer = st.map(_.version + 1).getOrElse(1L)
        val gen = ManifestCommit.stagedGenName(newVer)
        val genPath = new Path(ManifestCommit.dataDir(p), gen)
        Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
          .toDF("k", "name", "bal")
          .write.mode("overwrite").parquet(genPath.toString)
        val staged = ManifestCommit.dataFileListing(fs, genPath)
        ManifestCommit.requireUnchanged(fs, p, st)
        ManifestCommit.requireIntact(fs, p, genPath, staged)
        ManifestCommit.write(fs, p,
          ManifestCommit.State(newVer, Seq(gen)))
        // the process dies HERE: v3 is live (flip happened and read
        // back whole) but the post-commit cleanup GC never runs
        Runtime.getRuntime.halt(137)
      case "occ-loop" =>
        val part = args(2)
        val n = args(3).toInt
        spark.conf.set("spark.graft.merge.occ", "true")
        // short grace: the peers' preamble GCs run constantly in this
        // loop; fresh stages must still survive them
        spark.conf.set("spark.graft.merge.stagedGraceMs", "60000")
        // two writers flipping back to back can cost several rebase
        // rounds per merge — budget generously (the default 5 is sized
        // for occasional contention, not a deliberate tight race)
        spark.conf.set("spark.graft.merge.occRetries", "20")
        (1 to n).foreach { i =>
          graft.operators.Merge.mergePartitioned(spark,
            dir,
            Seq((part.hashCode.toLong * 10000 + i, "I",
              s"$part-$i", part))
              .toDF("k", "op", "name", "lang"),
            "k", "lang")
        }
        spark.stop()
      case "vacuum-loop" =>
        // NOT a crash mode: an aggressive maintenance process for the
        // occ-vs-vacuum race — repeatedly trims history to the last 2
        // commits while OCC writers flip. args(2) = iteration count.
        val n = args(2).toInt
        spark.conf.set("spark.graft.merge.stagedGraceMs", "60000")
        (1 to n).foreach { _ =>
          graft.operators.Merge.vacuum(spark, dir, keepLast = 2)
          Thread.sleep(50)
        }
        spark.stop()
      // ---- splitHotShard death windows (SplitCrashSpec) ----------------
      // Each mode drives a REAL routed store's split to a precise point
      // and halt(137)s there — the disk states resumeSplitHotShard is
      // specced against are left by a genuinely dead JVM, same
      // discipline as the manifest modes above.
      case "split-seed" =>
        // build the shared fixture store; the spec regenerates the same
        // deterministic corpus for its brute-force ground truth
        graft.operators.Similarity.buildRoutedIvfStore(
          splitFixture(spark), dir, shards = 2, nlist = 2, dim = 8,
          superIters = 3)
        spark.stop()
      case "split-die-staging" =>
        // die AFTER the items staging but BEFORE the meta marker: the
        // point of no return was never crossed, the store is untouched,
        // the staging is incomplete debris
        val staging = dir + "/_split_staging"
        graft.operators.Similarity.stageSplit(spark, dir)
        fs.delete(new Path(staging + "/meta"), true)
        Runtime.getRuntime.halt(137)
      case "split-die-postinvalidate" =>
        // die between the record invalidation and the hot-dir delete:
        // readers must fail loudly, the hot dir still holds its data,
        // resume re-applies from the staging
        graft.operators.Similarity.stageSplit(spark, dir)
        Seq("sharding", "super_centroids", "routing", "routing_curve")
          .foreach(f => fs.delete(new Path(s"$dir/$f"), true))
        Runtime.getRuntime.halt(137)
      case "split-die-midrefile" =>
        // die right after the hot-dir delete: the staging now holds the
        // ONLY copy of the hot shard's vectors — the window the r12
        // advice flagged (a finally-block staging delete here would be
        // permanent data loss)
        graft.operators.Similarity.stageSplit(spark, dir)
        val hot = spark.read.parquet(dir + "/_split_staging/meta")
          .collect().head.getAs[Int]("hot")
        Seq("sharding", "super_centroids", "routing", "routing_curve")
          .foreach(f => fs.delete(new Path(s"$dir/$f"), true))
        fs.delete(new Path(s"$dir/shard=$hot"), true)
        Runtime.getRuntime.halt(137)
      // ---- mergeColdShards death windows (RoutedMergeCrashSpec) --------
      // The split modes' discipline applied to the merge, including the
      // merge-specific POST-RENAME window: after shard=(sh-1) renames
      // into shard=hi's slot, shard=hi holds the moved shard's ONLY
      // copy — a resume that re-deleted it would be permanent loss
      // (the `last_built` marker is what prevents exactly that).
      case "merge-seed" =>
        graft.operators.Similarity.buildRoutedIvfStore(
          splitFixture(spark), dir, shards = 3, nlist = 2, dim = 8,
          superIters = 3)
        spark.stop()
      case "merge-die-staging" =>
        // die AFTER the items staging, BEFORE the meta marker: point of
        // no return never crossed — store untouched, staging is debris
        graft.operators.Similarity.stageMerge(spark, dir, 0, 1)
        fs.delete(new Path(dir + "/_merge_staging/meta"), true)
        Runtime.getRuntime.halt(137)
      case "merge-die-postinvalidate" =>
        // die between the record invalidation and the first dir delete
        graft.operators.Similarity.stageMerge(spark, dir, 0, 1)
        Seq("sharding", "super_centroids", "routing", "routing_curve")
          .foreach(f => fs.delete(new Path(s"$dir/$f"), true))
        Runtime.getRuntime.halt(137)
      case "merge-die-midrefile" =>
        // die after shard=lo's delete: the staging holds the only copy
        // of lo's live vectors
        graft.operators.Similarity.stageMerge(spark, dir, 0, 1)
        val lo = spark.read.parquet(dir + "/_merge_staging/meta")
          .collect().head.getAs[Int]("lo")
        Seq("sharding", "super_centroids", "routing", "routing_curve")
          .foreach(f => fs.delete(new Path(s"$dir/$f"), true))
        fs.delete(new Path(s"$dir/shard=$lo"), true)
        Runtime.getRuntime.halt(137)
      case "merge-die-postrename" =>
        // THE merge-specific window: both merged dirs deleted AND the
        // last shard already renamed into the freed slot — shard=hi now
        // holds the moved shard's ONLY copy (the staging has lo+hi
        // items, not the last shard's); resume must NOT delete it again
        graft.operators.Similarity.stageMerge(spark, dir, 0, 1)
        val meta = spark.read.parquet(dir + "/_merge_staging/meta")
          .collect().head
        val (lo2, hi2, sh2) = (meta.getAs[Int]("lo"),
          meta.getAs[Int]("hi"), meta.getAs[Int]("shards"))
        require(meta.getAs[Boolean]("last_built"),
          "fixture must leave the last shard built for the rename window")
        Seq("sharding", "super_centroids", "routing", "routing_curve")
          .foreach(f => fs.delete(new Path(s"$dir/$f"), true))
        fs.delete(new Path(s"$dir/shard=$lo2"), true)
        fs.delete(new Path(s"$dir/shard=$hi2"), true)
        require(fs.rename(new Path(s"$dir/shard=${sh2 - 1}"),
          new Path(s"$dir/shard=$hi2")))
        Runtime.getRuntime.halt(137)
      case "merge-die-prerestore" =>
        // die after every slice is re-filed, BEFORE the records restore
        val mStaging = dir + "/_merge_staging"
        graft.operators.Similarity.stageMerge(spark, dir, 0, 1)
        val meta = spark.read.parquet(mStaging + "/meta").collect().head
        val (lo3, hi3, sh3) = (meta.getAs[Int]("lo"),
          meta.getAs[Int]("hi"), meta.getAs[Int]("shards"))
        Seq("sharding", "super_centroids", "routing", "routing_curve")
          .foreach(f => fs.delete(new Path(s"$dir/$f"), true))
        fs.delete(new Path(s"$dir/shard=$lo3"), true)
        if (meta.getAs[Boolean]("last_built")) {
          fs.delete(new Path(s"$dir/shard=$hi3"), true)
          require(fs.rename(new Path(s"$dir/shard=${sh3 - 1}"),
            new Path(s"$dir/shard=$hi3")))
        } else fs.delete(new Path(s"$dir/shard=$hi3"), true)
        (0 until sh3 - 1).foreach { j =>
          val sp = new Path(s"$mStaging/items/shard=$j")
          if (fs.exists(sp)) {
            val slice = spark.read.parquet(sp.toString)
            val sd = s"$dir/shard=$j"
            if (fs.exists(new Path(sd + "/centroids")))
              graft.operators.Similarity.appendToIvfStore(spark, slice, sd)
            else graft.operators.Similarity.buildIvfStore(slice, sd,
              meta.getAs[Int]("nlist"), meta.getAs[Int]("iters"),
              meta.getAs[Int]("m"), meta.getAs[Int]("ksub"),
              meta.getAs[Int]("dim"))
          }
        }
        Runtime.getRuntime.halt(137)
      case "split-die-prerestore" =>
        // die after every slice is re-filed but BEFORE the records are
        // restored — the dirs are final, the store still reads loud,
        // resume only has to redo no-op appends and the record writes
        val staging = dir + "/_split_staging"
        graft.operators.Similarity.stageSplit(spark, dir)
        val meta = spark.read.parquet(staging + "/meta").collect().head
        val (hot, sh) = (meta.getAs[Int]("hot"), meta.getAs[Int]("shards"))
        Seq("sharding", "super_centroids", "routing", "routing_curve")
          .foreach(f => fs.delete(new Path(s"$dir/$f"), true))
        fs.delete(new Path(s"$dir/shard=$hot"), true)
        (0 until sh + 1).foreach { j =>
          val p = new Path(s"$staging/items/shard=$j")
          if (fs.exists(p)) {
            val slice = spark.read.parquet(p.toString)
            val sd = s"$dir/shard=$j"
            if (fs.exists(new Path(sd + "/centroids")))
              graft.operators.Similarity.appendToIvfStore(spark, slice, sd)
            else graft.operators.Similarity.buildIvfStore(slice, sd,
              meta.getAs[Int]("nlist"), meta.getAs[Int]("iters"),
              meta.getAs[Int]("m"), meta.getAs[Int]("ksub"),
              meta.getAs[Int]("dim"))
          }
        }
        Runtime.getRuntime.halt(137)
      // ---- bucketed-signature-store reclaim death windows -------------
      // (SigReclaimCrashSpec) The file-targeted reclaim's protocol is
      // append-then-delete; its two death windows are (a) survivors
      // appended, NO original deleted (the store reads duplicate
      // survivor rows; tombstones and the missing R record keep the
      // targets hidden), and (b) survivors appended, SOME originals
      // deleted. The heal in both: rerunning the reclaim — its
      // full-row exceptAll subtracts the already-appended copies and
      // completes the deletes. `dir` = the shared warehouse (see the
      // builder note above); each crash mode seeds its own store
      // in-process so a single real JVM carries seed → window → death.
      case "sigreclaim-die-postappend" | "sigreclaim-die-middelete" =>
        val table = "sigrc"
        graft.operators.Dedup.buildSignatureStoreBucketed(
          sigFixture(spark), "doc_id", "text", table, buckets = 8,
          numHashes = 64, bands = 4, shingleN = 5)
        graft.operators.Dedup.deleteSignaturesBucketed(spark,
          sigTargets.toDF("doc_id"), table)
        // the REAL reclaim completes on the bands table; the sigs
        // table is then driven to the chosen window with the same
        // plan/append/delete steps reclaimFromTable itself runs
        val target = sigTargets.toDF("id")
        graft.operators.Bucketing.reclaimFromTable(spark,
          s"${table}_bands", target, "id")
        val (affected, survivors) = graft.operators.Bucketing
          .planReclaimForCrashFixture(spark, s"${table}_sigs", target,
            "id")
        graft.operators.Bucketing.appendSurvivors(spark,
          s"${table}_sigs", survivors)
        if (mode == "sigreclaim-die-middelete")
          graft.operators.Bucketing.deleteOriginals(spark,
            s"${table}_sigs", affected, limit = 1)
        Runtime.getRuntime.halt(137)
      case "sigreclaim-verify" =>
        // a FRESH process over the crashed warehouse: re-register the
        // surviving files as external bucketed tables (the in-memory
        // catalog died with the process; the files are the state),
        // re-run the reclaim (the heal), and audit the net store
        val table = "sigrc"
        def reg(t: String, bcols: String, scols: String): Unit = {
          val sch = spark.read.parquet(s"$dir/$t").schema.toDDL
          spark.sql(s"CREATE TABLE $t ($sch) USING parquet " +
            s"CLUSTERED BY ($bcols) SORTED BY ($scols) INTO 8 BUCKETS " +
            s"LOCATION '$dir/$t'")
        }
        reg(s"${table}_sigs", "id", "id")
        reg(s"${table}_bands", "band, bucket", "band, bucket")
        val healed = graft.operators.Dedup
          .reclaimSignatureTombstonesBucketed(spark,
            sigTargets.toDF("doc_id"), table, numHashes = 64, bands = 4)
        val net = sigFixture(spark)
          .filter(!col("doc_id").isin(sigTargets: _*))
        val audit = graft.operators.Dedup.auditSignatureStoreBucketed(
          spark, net, "doc_id", "text", table, numHashes = 64,
          bands = 4, shingleN = 5)
        val auditOk = audit.count() == net.count() &&
          audit.filter(!col("sig_ok") || !col("bands_ok")).count() == 0
        val dupSigs = spark.table(s"${table}_sigs").groupBy("id")
          .count().filter(col("count") > 1).count()
        val dupBands = spark.table(s"${table}_bands")
          .groupBy("id", "band", "bucket").count()
          .filter(col("count") > 1).count()
        val out = s"""{"healed":$healed,"audit_ok":$auditOk,""" +
          s""""dup_sigs":$dupSigs,"dup_bands":$dupBands}"""
        val o = fs.create(new Path(dir, "verify.json"), true)
        try o.write(out.getBytes("UTF-8")) finally o.close()
        spark.stop()
    }
  }

  /** Deterministic skewed corpus shared by the split crash modes and
    * SplitCrashSpec's ground truth: 4 directions in dim 8, cluster 0
    * holding half the items so a 2-shard trained super leaves one
    * shard hot. No RNG — both JVMs must derive identical vectors. */
  /** Deterministic doc fixture for the sigreclaim modes — several
    * write tasks, so the bucketed tables land several files per bucket
    * (the real admission profile the file-targeted reclaim navigates). */
  def sigFixture(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0L until 24L).map(i => (i,
      s"crash fixture document $i with its own words " +
        s"aa$i bb$i cc$i dd$i ee$i ff$i gg$i hh$i"))
      .toDF("doc_id", "text").repartition(3)
  }

  /** The ids the sigreclaim modes tombstone and reclaim. */
  val sigTargets: Seq[Long] = Seq(0L, 4L, 9L)

  def splitFixture(spark: SparkSession): org.apache.spark.sql.DataFrame = {
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
}
