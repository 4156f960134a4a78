package graft.operators

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** Pins the Spark job count of every signature-store lifecycle
  * operation on each of the four stores (kind × layout), so a change
  * that adds jobs to a CDC micro-batch fails here by name. The same
  * sequence runs on each store: build 12 docs in 2 partitions, append
  * 2, delete 2, reclaim 1, upsert 2, one CDC batch (I, U, D), then a
  * compaction with tombstones standing. The counts repeat exactly from
  * run to run on `local[4]`. [[jobsOf]] counts the caller's job group,
  * so the jobs of the bucketed MinHash reclaim's two concurrent table
  * legs ([[ControlPlane.par2]], a group of their own) are not in its
  * reclaim, upsert and applyCdc counts. */
class SigStoreJobsSpec extends SparkSpec {
  import spark.implicits._
  import Dedup._

  private val pinned = Map(
    "dir-minhash" -> Map("build" -> 3, "append" -> 4, "delete" -> 4,
      "reclaim" -> 13, "upsert" -> 26, "applyCdc" -> 27, "compact" -> 6),
    "dir-wide" -> Map("build" -> 4, "append" -> 6, "delete" -> 4,
      "reclaim" -> 13, "upsert" -> 30, "applyCdc" -> 31, "compact" -> 8),
    "bucketed-minhash" -> Map("build" -> 5, "append" -> 7, "delete" -> 4,
      "reclaim" -> 7, "upsert" -> 21, "applyCdc" -> 22, "compact" -> 9),
    "bucketed-wide" -> Map("build" -> 4, "append" -> 6, "delete" -> 4,
      "reclaim" -> 14, "upsert" -> 30, "applyCdc" -> 31, "compact" -> 7))

  private def txt(i: Long) = s"pinned document $i with its own " +
    s"words p$i q$i r$i s$i t$i u$i v$i w$i"
  private def rev(s: String) = s.split("\\s+").reverse.mkString(" ")
  private def docs(ids: Seq[Long], f: Long => String = txt) =
    ids.map(i => (i, f(i))).toDF("doc_id", "text")

  private def jobCounts(store: SigStore): Map[String, Int] = {
    def jobs(op: String)(body: => Any): (String, Int) =
      op -> jobsOf { body; () }
    Map(
      jobs("build")(store.build(docs(0L until 12L).repartition(2),
        "doc_id", "text")),
      jobs("append")(store.append(spark, docs(Seq(12L, 13L)), "doc_id", "text")),
      jobs("delete")(store.delete(spark, Seq(0L, 1L).toDF("doc_id"))),
      jobs("reclaim")(store.reclaim(spark, Seq(0L).toDF("doc_id"))),
      jobs("upsert")(store.upsert(spark,
        docs(Seq(2L, 3L), i => rev(txt(i))), "doc_id", "text")),
      jobs("applyCdc")(store.applyCdc(spark,
        Seq((14L, txt(14), "I", 1L), (4L, rev(txt(4)), "U", 2L),
          (5L, null.asInstanceOf[String], "D", 3L))
          .toDF("doc_id", "text", "op", "seq"))),
      jobs("compact")(store.compact(spark)))
  }

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/store"

  Seq(
    "dir-minhash" -> (() => SigStore(MinHash(), Dir(tmp("pin_dm")))),
    "dir-wide" -> (() => SigStore(WideSimhash(), Dir(tmp("pin_dw")))),
    "bucketed-minhash" -> (() => SigStore(MinHash(), Bucketed("pin_bm", 4))),
    "bucketed-wide" -> (() => SigStore(WideSimhash(), Bucketed("pin_bw", 4)))
  ).foreach { case (name, store) =>
    test(s"$name: lifecycle job counts stay pinned") {
      assert(jobCounts(store()) === pinned(name))
    }
  }
}
