package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Item-level delete/forget for the signature stores (MinHash dir
  * store, wide-SimHash dir store, bucketed MinHash store) — the other
  * half of the round-13 lifecycle work beside the ANN store's
  * tombstones. Pins the contract: a deleted doc stops matching as a
  * near-dup source the moment its tombstone lands, a re-delivered copy
  * of it is compared as a NEW doc against the live store only, appends
  * drop tombstoned ids (takedown wins over late re-delivery),
  * compaction physically reclaims and re-opens the ids — and, for the
  * wide store, the compaction swap can never leave the `_wide_meta`
  * draw record missing (the silent-downgrade window the rename
  * protocol exists to close). */
class DedupDeleteSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (1L, "completely unrelated text about spark catalyst optimizer internals"),
    (2L, "another fully distinct document mentioning parquet bucketing layouts"),
    (3L, "yet another independent sentence about stream checkpoints and state")
  ).toDF("doc_id", "text")

  // a batch whose doc 10 near-dups doc 0 and doc 11 is genuinely new
  private val batch = Seq(
    (10L, "the quick brown fox jumps over the lazy cat and runs far away home"),
    (11L, "nothing in the store resembles this completely novel payload")
  ).toDF("doc_id", "text")

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  test("minhash dir store: delete stops matching, re-delivered deleted id is NEW, append drops it, compaction reclaims + re-opens") {
    val dir = tmpDir("sigdel")
    val store = Dedup.SigStore(Dedup.MinHash(bands = 16), Dedup.Dir(dir))
    store.build(docs, "doc_id", "text")
    // pre-delete: the batch's doc 10 is flagged against store doc 0
    val before = store.pairs(spark, batch, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(before.contains((0L, 10L)))
    // delete doc 0; idempotent (re-delivered takedown files nothing)
    assert(store.delete(spark, Seq(0L).toDF("doc_id"))
      === 1L)
    assert(store.delete(spark, Seq(0L, 999L).toDF("doc_id")) === 0L)
    // doc 0 no longer matches as a source
    val after = store.pairs(spark, batch, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!after.exists(p => p._1 == 0L || p._2 == 0L))
    // a re-delivered copy of the DELETED id is a new doc: it pairs
    // with its batch partner (batch-vs-batch), not through the store
    val redelivered = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (20L, "the quick brown fox jumps over the lazy dog and runs far away home")
    ).toDF("doc_id", "text")
    val rd = store.pairs(spark, redelivered, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(rd.contains((0L, 20L)),
      "a re-delivered deleted id participates as a NEW doc")
    // takedown wins: appending the deleted id is a no-op (its physical
    // row is not doubled and it stays excluded)
    store.append(spark, redelivered, "doc_id", "text")
    assert(spark.read.parquet(dir).filter(col("id") === 0).count() === 1)
    val stillGone = store.pairs(spark, batch, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!stillGone.exists(p => p._1 == 0L || p._2 == 0L))
    // 20 DID land (genuinely new)
    assert(spark.read.parquet(dir).filter(col("id") === 20).count() === 1)
    // compaction physically reclaims and clears the tombstones
    store.compact(spark)
    assert(spark.read.parquet(dir).filter(col("id") === 0).count() === 0)
    assert(!new java.io.File(dir + "/_deleted").exists())
    // the id is re-opened: a fresh append admits it again
    store.append(spark, docs.filter(col("doc_id") === 0), "doc_id", "text")
    assert(spark.read.parquet(dir).filter(col("id") === 0).count() === 1)
  }

  test("wide simhash store: delete excludes, compaction preserves the _wide_meta draw record (the silent-downgrade window)") {
    val dir = tmpDir("widedel")
    val store = Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(dir))
    store.build(docs, "doc_id", "text")
    assert(store.delete(spark, Seq(0L).toDF("doc_id"))
      === 1L)
    val pairs = store.pairs(spark, docs.filter(col("doc_id") === 0)
          .select(col("doc_id") + 100 as "doc_id", col("text")), "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 0L),
      "a deleted doc must not match as a wide-simhash source")
    store.compact(spark)
    assert(spark.read.parquet(dir).filter(col("id") === 0).count() === 0)
    assert(new java.io.File(dir + "/_wide_meta").exists(),
      "compaction must carry the draw record through the swap")
    // the draw gate still enforces after compaction: the wrong flag
    // is refused loudly, the right one works
    val e = intercept[Dedup.SigStoreRefused] {
      Dedup.SigStore(Dedup.WideSimhash(portable = true), Dedup.Dir(dir))
        .pairs(spark, batch, "doc_id", "text")
    }
    assert(e.reason === Dedup.SigRefusal.DrawMismatch)
    store.pairs(spark, batch, "doc_id", "text")
    // compaction with no tombstones is a no-op (store untouched)
    val filesBefore = new java.io.File(dir).listFiles().map(_.getName).toSet
    store.compact(spark)
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet ===
      filesBefore)
  }

  test("bucketed store: delete excludes, append drops, compaction reclaims both tables and drops the tombstone table") {
    val table = "sigdel_bucketed"
    Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val store = Dedup.SigStore(Dedup.MinHash(bands = 16), Dedup.Bucketed(table, 4))
    store.build(docs, "doc_id", "text")
    val before = store.pairs(spark, batch, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(before.contains((0L, 10L)))
    assert(store.delete(spark, Seq(0L).toDF("doc_id")) === 1L)
    assert(store.delete(spark, Seq(0L).toDF("doc_id")) === 0L)
    val after = store.pairs(spark, batch, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!after.exists(p => p._1 == 0L || p._2 == 0L))
    // append of the tombstoned id is dropped
    store.append(spark, docs.filter(col("doc_id") === 0), "doc_id", "text")
    assert(spark.table(s"${table}_sigs").filter(col("id") === 0)
      .count() === 1)
    // compaction: rows reclaimed from BOTH tables, tombstone table
    // dropped, bucket layout intact (the admission plan still works)
    store.compact(spark)
    assert(spark.table(s"${table}_sigs").filter(col("id") === 0)
      .count() === 0)
    assert(spark.table(s"${table}_bands").filter(col("id") === 0)
      .count() === 0)
    assert(!spark.catalog.tableExists(s"${table}_deleted"))
    val again = store.pairs(spark, batch, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!again.exists(p => p._1 == 0L || p._2 == 0L))
    Seq(s"${table}_sigs", s"${table}_bands")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
