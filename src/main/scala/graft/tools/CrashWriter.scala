package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.operators.ManifestCommit

/** REAL-process writer for the crash and concurrency specs (not part
  * of the driver contract). A crash mode dies ABRUPTLY
  * (`Runtime.halt(137)`: no shutdown hooks, no finally blocks), so the
  * disk holds exactly what a killed writer leaves; the specs compare
  * it with the in-process deaths they enumerate.
  *
  * Usage: CrashWriter <dir> <mode> [args]
  *   mode = die-at <op>  — run [[ops]]`(op)` on `dir` (a
  *                         `crashpoint://` path). The spec names the
  *                         call to die at with the JVM properties of
  *                         its crash-point filesystem, which halts the
  *                         process at that call; exit 0 means the call
  *                         was never reached
  *   mode = die-torn     — stage v2 of the manifest snapshot at `dir`
  *                         fully, then halt MID-FLIP: the commit
  *                         file's header and body are flushed but the
  *                         entry-count trailer never lands (a torn
  *                         write inside one file is no call boundary)
  *   mode = occ-loop     — NOT a crash mode: a real concurrent writer.
  *                         args = this writer's partition value and a
  *                         batch count; runs that many partition-scoped
  *                         merges on its OWN partition with
  *                         spark.graft.merge.occ=true, exits 0
  *   mode = vacuum-loop  — NOT a crash mode: an aggressive maintenance
  *                         process that trims history to the last 2
  *                         commits args(0) times while writers flip
  */
object CrashWriter {

  /** The bucketed signature store [[ops]]`("sig-reclaim")` reclaims. */
  val sigTable = "sigrc"
  val sigStore: graft.operators.Dedup.SigStore = {
    import graft.operators.Dedup._
    SigStore(MinHash(bands = 4), Bucketed(sigTable, 8))
  }

  /** The ids the sig-reclaim op reclaims (tombstoned by the fixture). */
  val sigTargets: Seq[Long] = Seq(0L, 4L, 9L)

  /** The operations the crash specs enumerate, by name: each runs the
    * real code path on `dir`, in-process in the spec and in a child
    * JVM here. For "sig-reclaim" `dir` is the warehouse that holds the
    * store's tables and its op log, and the child's warehouse. */
  val ops: Map[String, (SparkSession, String) => Unit] = Map(
    "merge-commit" -> { (spark, dir) =>
      import spark.implicits._
      graft.streaming.MergeSink.applyBatch(spark,
        Seq((3L, "I", "c", 3.0, 3L)).toDF("k", "op", "name", "bal", "seq"),
        dir, "k", "op", "seq")
    },
    "split" -> { (spark, dir) =>
      graft.operators.Similarity.splitHotShard(spark, dir); ()
    },
    "merge" -> { (spark, dir) =>
      graft.operators.Similarity.mergeColdShards(spark, dir, a = 0, b = 1)
      ()
    },
    "sig-reclaim" -> { (spark, _) =>
      import spark.implicits._
      sigStore.reclaim(spark, sigTargets.toDF("doc_id"))
      ()
    })

  def main(args: Array[String]): Unit = {
    val Array(dir, mode) = args.take(2)
    val builder = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    val sigOp = mode == "die-at" && args(2) == "sig-reclaim"
    val spark = (if (sigOp) builder.config("spark.sql.warehouse.dir", dir)
      else builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the routed-store ops use the registered graft kernels
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val p = new Path(dir)
    mode match {
      case "die-at" =>
        // this process's in-memory catalog starts empty: the files are
        // the state, registered here as external bucketed tables under
        // `dir`'s scheme
        if (sigOp) Seq(s"${sigTable}_sigs" -> "id",
            s"${sigTable}_bands" -> "band, bucket").foreach {
          case (t, cols) =>
            val sch = spark.read.parquet(s"$dir/$t").schema.toDDL
            spark.sql(s"CREATE TABLE $t ($sch) USING parquet " +
              s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO 8 BUCKETS " +
              s"LOCATION '$dir/$t'")
        }
        ops(args(2))(spark, dir)
        spark.stop()
      case "die-torn" =>
        // v2's generation staged fully, then the pointer write itself
        // is interrupted: header + entries reach the disk, the trailer
        // does not — the exact bytes ManifestCommit.parse calls torn
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val gen = ManifestCommit.stagedGenName(2L)
        Seq((2L, "torn", 2.0)).toDF("k", "name", "bal")
          .write.parquet(
            new Path(ManifestCommit.dataDir(p), gen).toString)
        val out = fs.create(new Path(p, f"_graft_commit-${2L}%012d"), false)
        out.write(s"graft-commit v1 2\n$gen\n".getBytes("UTF-8"))
        out.hflush() // the partial content is on disk when we die
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
        val n = args(2).toInt
        spark.conf.set("spark.graft.merge.stagedGraceMs", "60000")
        (1 to n).foreach { _ =>
          graft.operators.Merge.vacuum(spark, dir, keepLast = 2)
          Thread.sleep(50)
        }
        spark.stop()
    }
  }
}
