package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

/** The streaming admission gate must equal the batch-mode daily job run
  * once per micro-batch (signatures are pure functions of the text),
  * and re-delivering a micro-batch must not change the store, the
  * admitted feed, or the pairs log. */
class NearDupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private val history = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (1L, "completely unrelated text about spark catalyst optimizer internals"))

  // b1: 10 dups history 0; 11 fresh; 12 dups 11 (rejected with it)
  private val batch1 = Seq(
    (10L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (11L, "some fresh text with its very own words in it"),
    (12L, "some fresh text with its very own words in it"))
  // b2: 20 dups the ADMITTED 11 (rejected); 21 fresh
  private val batch2 = Seq(
    (20L, "some fresh text with its very own words in it"),
    (21L, "an entirely different second day document about lakes and hills"))

  test("streaming admission equals per-batch daily jobs; store grows by admitted only") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("nds-store") + "/sigs"
    val admitted = tmp("nds-admitted")
    val pairs = tmp("nds-pairs")
    Dedup.SigStore(Dedup.MinHash(), Dedup.Dir(store))
      .build(history.toDF("doc_id", "text"), "doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = NearDupStream.admit(mem.toDF().toDF("doc_id", "text"),
      Dedup.SigStore(Dedup.MinHash(), Dedup.Dir(store)), "doc_id", "text",
      admitted, pairs,
      checkpoint = tmp("nds-ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    // clean feed: earliest-wins admission per batch
    val fed = spark.read.parquet(admitted).select("doc_id")
      .as[Long].collect().toSet
    assert(fed === Set(11L, 21L))
    // the pairs log names every rejection's reason
    val logged = spark.read.parquet(pairs).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(logged === Set((0L, 10L), (11L, 12L), (11L, 20L)))
    // store = history + admitted docs only
    val stored = spark.read.parquet(store).select("id").as[Long].collect().toSet
    assert(stored === Set(0L, 1L, 11L, 21L))

    // ground truth: the batch-mode daily job run twice on a fresh store
    val store2 = tmp("nds-store2") + "/sigs"
    Dedup.SigStore(Dedup.MinHash(), Dedup.Dir(store2))
      .build(history.toDF("doc_id", "text"), "doc_id", "text")
    val expected = Seq(batch1, batch2).flatMap { b =>
      val df = b.toDF("doc_id", "text")
      val p = Dedup.SigStore(Dedup.MinHash(), Dedup.Dir(store2)).pairs(spark, df, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSeq
      val rejected = p.map(_._2).toSet
      Dedup.SigStore(Dedup.MinHash(), Dedup.Dir(store2))
        .append(spark, df.filter(!col("doc_id").isin(rejected.toSeq: _*)), "doc_id", "text")
      p
    }.toSet
    assert(spark.read.parquet(pairs)
      .select("id_a", "id_b", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet === expected)
    assert(spark.read.parquet(store2).select("id").as[Long].collect().toSet
      === stored)
  }

  test("re-delivered micro-batch converges: same feed, same log, same store") {
    val store = tmp("nds-redeliver") + "/sigs"
    val admitted = tmp("nds-redeliver-adm")
    val pairs = tmp("nds-redeliver-pairs")
    Dedup.SigStore(Dedup.MinHash(), Dedup.Dir(store))
      .build(history.toDF("doc_id", "text"), "doc_id", "text")
    def deliver(): Unit = NearDupStream.admitBatch(spark,
      batch1.toDF("doc_id", "text"), 0L, "t0", "doc_id", "text", admitted, pairs,
      b => Dedup.SigStore(Dedup.MinHash(), Dedup.Dir(store)).pairs(spark, b, "doc_id", "text"),
      a => Dedup.SigStore(Dedup.MinHash(), Dedup.Dir(store)).append(spark, a, "doc_id", "text"))
    deliver()
    val fed1 = spark.read.parquet(admitted).select("doc_id").as[Long].collect().toSet
    val log1 = spark.read.parquet(pairs).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val n1 = spark.read.parquet(store).count()
    // crash-after-commit re-delivery: the batch runs again in full —
    // admission must not flip even though 11's signatures are now stored
    deliver()
    assert(spark.read.parquet(admitted).select("doc_id").as[Long].collect().toSet
      === fed1)
    assert(fed1 === Set(11L))
    assert(spark.read.parquet(pairs).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet === log1)
    assert(spark.read.parquet(store).count() === n1)
  }

  test("bucketed store admission matches the plain store through the stream wrapper") {
    implicit val sqlCtx = spark.sqlContext
    val admitted = tmp("nds-bkt-adm")
    val pairs = tmp("nds-bkt-pairs")
    Dedup.buildSignatureStoreBucketed(history.toDF("doc_id", "text"),
      "doc_id", "text", "nds_bkt_store", buckets = 4)
    try {
      val mem = MemoryStream[(Long, String)]
      val q = NearDupStream.admit(mem.toDF().toDF("doc_id", "text"),
        Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed("nds_bkt_store", 4)),
        "doc_id", "text", admitted, pairs,
        checkpoint = tmp("nds-bkt-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      mem.addData(batch1: _*)
      q.processAllAvailable()
      q.stop()
      assert(spark.read.parquet(admitted).select("doc_id")
        .as[Long].collect().toSet === Set(11L))
      assert(spark.read.parquet(pairs).select("id_a", "id_b")
        .as[(Long, Long)].collect().toSet === Set((0L, 10L), (11L, 12L)))
      assert(spark.table("nds_bkt_store_sigs").select("id")
        .as[Long].collect().toSet === Set(0L, 1L, 11L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS nds_bkt_store_sigs")
      spark.sql("DROP TABLE IF EXISTS nds_bkt_store_bands")
    }
  }

  test("bucketed CDC ingest: streamed I/U/D maintains the scale layout — net state audits clean, takedown wins, compaction folds in, replay converges") {
    implicit val sqlCtx = spark.sqlContext
    val table = "nds_bktcdc_store"
    Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    def txt(i: Long) = s"bucketed cdc document $i with its own " +
      s"words rho$i sigma$i tau$i upsilon$i phi$i chi$i psi$i"
    val base = (0L until 10L).map(i => (i, txt(i))).toDF("doc_id", "text")
    val store = Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed(table, 4))
    store.build(base, "doc_id", "text")
    try {
      // b1: insert 10/11; REPLACE 3 (reversed tokens); delete 5 and 7;
      // a same-seq D/I tie on 8 (takedown must win the tie)
      def rev(s: String) = s.split("\\s+").reverse.mkString(" ")
      val b1 = Seq(
        (10L, txt(10), "I", 1L), (11L, txt(11), "I", 2L),
        (3L, rev(txt(3)), "U", 3L),
        (5L, null.asInstanceOf[String], "D", 4L),
        (7L, null.asInstanceOf[String], "D", 5L),
        (8L, txt(8), "I", 6L), (8L, null.asInstanceOf[String], "D", 6L))
      // b2: late re-delivered I of taken-down 5 (must NOT resurrect);
      // revive 7 via an explicit U; delete 11
      val b2 = Seq(
        (5L, txt(5), "I", 10L),
        (7L, rev(txt(7)), "U", 11L),
        (11L, null.asInstanceOf[String], "D", 12L))
      val counts = scala.collection.mutable.ArrayBuffer
        .empty[(Long, (Long, Long, Long))]
      val mem = MemoryStream[(Long, String, String, Long)]
      val q = NearDupStream.ingestCdc(
        mem.toDF().toDF("doc_id", "text", "op", "seq"), store,
        checkpoint = tmp("nds-bktcdc-ckpt"),
        onBatch = (id, c) => counts += ((id, c)),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      assert(counts.size === 2)
      assert(counts.head._2 === ((2L, 1L, 3L)),
        "batch 1 dispatch: I=2 (10,11), U=1 (3), D=3 (5,7, and 8 — " +
          "the same-seq tie resolves D over I)")
      // net corpus: base minus 5 (takedown wins the late I), minus 8
      // (the tie), minus 11 (b2 delete); 3 and 7 carry replacements
      val net = ((0L until 10L).filter(i => i != 5 && i != 7 && i != 8)
        .map(i => (i, if (i == 3) rev(txt(i)) else txt(i))) ++
        Seq((7L, rev(txt(7))), (10L, txt(10))))
        .toDF("doc_id", "text")
      def auditNet(tag: String): Unit = {
        val audit = Dedup.auditSignatureStoreBucketed(spark, net,
          "doc_id", "text", table, numHashes = 64, bands = 8,
          shingleN = 5)
        assert(audit.count() === net.count(), tag)
        assert(audit.filter(!col("sig_ok") || !col("bands_ok"))
          .count() === 0, tag)
      }
      auditNet("stream-maintained bucketed store must equal the net corpus")
      // replay the LAST batch in full (the streaming residual window —
      // tombstones still STAND, which is exactly what makes the
      // replayed late-I of 5 drop again): net state unchanged
      NearDupStream.ingestCdcBatch(spark,
        b2.toDF("doc_id", "text", "op", "seq"), 1L, store)
      auditNet("a replayed batch must converge while tombstones stand")
      // maintenance compaction: physical reclaim + op-log clear keeps
      // the net state (and from here a NEW I of 5 would legitimately
      // re-admit — the documented "compaction re-opens ids" contract,
      // which is why replay convergence is checked BEFORE this)
      Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed(table, 4)).compact(spark)
      auditNet("post-compaction state must still equal the net corpus")
      // the body gate (r15): a partial-payload U (null text) must
      // refuse BY ID, not reclaim the old row and admit the signature
      // of null — only D may be id-only
      val e = intercept[Dedup.SigStoreRefused] {
        store.applyCdc(spark, Seq((3L, null.asInstanceOf[String], "U", 20L))
          .toDF("doc_id", "text", "op", "seq"))
      }
      assert(e.reason === Dedup.SigRefusal.BodilessIU)
      auditNet("a refused bodiless update must leave the store untouched")
      // the op gate sees the RAW batch (r16): an unknown op superseded
      // by a later legit op for the same id must still refuse —
      // terminal-op resolution must not mask producer corruption
      val e2 = intercept[Dedup.SigStoreRefused] {
        store.applyCdc(spark, Seq((4L, "some text", "REINDEX", 21L),
            (4L, rev(txt(4)), "U", 22L)).toDF("doc_id", "text", "op", "seq"))
      }
      assert(e2.reason === Dedup.SigRefusal.BadOp)
      auditNet("a refused superseded-bad-op batch must leave the store untouched")
    } finally Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("wide-SimHash admission: incremental equals batch wide-pairs on a replayed day; re-delivery emits nothing") {
    val base = (0 until 12).map(i =>
      s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima token$i")
    val day0 = (0 until 12).map(i => (i.toLong, base(i)))
      .toDF("doc_id", "text")
    val newRows = Seq(
      (100L, base(0)), // exact dup of store doc 0 (store-vs-batch arm)
      (101L, "zulu yankee xray whiskey victor uniform tango sierra"),
      (102L, "zulu yankee xray whiskey victor uniform tango sierra"), // in-batch dup of 101
      (103L, base(3) + " extra"), // near variant of store doc 3
      (104L, "completely different text with its own tokens entirely now"))
    val day1 = newRows.toDF("doc_id", "text")
    val newIds = newRows.map(_._1).toSet
    val store = tmp("widesim") + "/sigs"
    Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(store)).build(day0, "doc_id", "text")
    val inc = Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(store))
      .pairs(spark, day1, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    // the admission orientation: id_b is always the genuinely-new doc
    assert(inc.nonEmpty)
    assert(inc.forall(p => newIds(p._2)), inc.toString)
    // incremental ≡ the BATCH wide operator replaying the whole corpus,
    // restricted to pairs touching a new doc (old-old pairs are
    // history-internal and out of the admission's scope)
    val all = day0.unionByName(day1)
    val expected = Dedup.simhashPairs128(all, "doc_id", "text",
        maxHamming = 6)
      .as[(Long, Long, Int)].collect().toSet
      .filter(p => newIds(p._1) || newIds(p._2))
    def unordered(s: Set[(Long, Long, Int)]) =
      s.map(p => (math.min(p._1, p._2), math.max(p._1, p._2), p._3))
    assert(unordered(inc) === unordered(expected))
    // both arms fired: the store dup and the in-batch dup, hamming 0
    assert(inc.contains((0L, 100L, 0)))
    assert(inc.contains((101L, 102L, 0)))
    // fold the batch in; a full re-delivery then emits NOTHING (the
    // idempotency the streaming admission's crash story needs)
    Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(store)).append(spark, day1, "doc_id", "text")
    assert(Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(store))
      .pairs(spark, day1, "doc_id", "text").count() === 0L)
    // store ids folded exactly once
    assert(spark.read.parquet(store).select("id").as[Long].collect().toSet
      === (0L until 12L).toSet ++ newIds)
    Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(store)).append(spark, day1, "doc_id", "text")
    assert(spark.read.parquet(store).count() === 17L)
  }

  test("wide store refuses mismatched signature draws loudly (portable vs production)") {
    // the r12 review finding: build/admission draw families
    // (md5-portable vs xxhash64) are bit-incompatible, and the match
    // was a scaladoc contract only — a mismatched admission computed
    // garbage hamming distances SILENTLY. Now the store records its
    // draws and the admission/append gate on them.
    val docs = (0 until 6).map(i => (i.toLong, s"alpha bravo token$i"))
      .toDF("doc_id", "text")
    val store = tmp("widemeta") + "/sigs"
    Dedup.SigStore(Dedup.WideSimhash(portable = true), Dedup.Dir(store))
      .build(docs, "doc_id", "text")
    val e1 = intercept[Dedup.SigStoreRefused] {
      Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(store))
        .pairs(spark, Seq((100L, "zulu yankee")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(e1.reason === Dedup.SigRefusal.DrawMismatch, e1.getMessage)
    val e2 = intercept[Dedup.SigStoreRefused] {
      Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(store))
        .append(spark, Seq((100L, "zulu yankee")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(e2.reason === Dedup.SigRefusal.DrawMismatch)
    // matching draws pass, and the meta dir is invisible to the
    // signature-table read (underscore-prefixed)
    Dedup.SigStore(Dedup.WideSimhash(portable = true), Dedup.Dir(store))
      .append(spark, Seq((100L, "zulu yankee")).toDF("doc_id", "text"), "doc_id", "text")
    assert(spark.read.parquet(store).columns.toSet ===
      Set("id", "sig0", "sig1"))
    assert(spark.read.parquet(store).count() === 7)
  }

  test("admitWideSimhash: end-to-end streaming wide-SimHash gate drops exactly the pairs' id_b docs") {
    implicit val sqlCtx = spark.sqlContext
    val base = (0 until 12).map(i =>
      s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima token$i")
    val day0 = (0 until 12).map(i => (i.toLong, base(i)))
      .toDF("doc_id", "text")
    val newRows = Seq(
      (100L, base(0)),
      (101L, "zulu yankee xray whiskey victor uniform tango sierra"),
      (102L, "zulu yankee xray whiskey victor uniform tango sierra"),
      (103L, base(3) + " extra"),
      (104L, "completely different text with its own tokens entirely now"))
    val store = tmp("widesim-e2e") + "/sigs"
    Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(store)).build(day0, "doc_id", "text")
    // expected drops derived from the operator itself (orientation is
    // already pinned by the previous test)
    val dropped = Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(store))
      .pairs(spark, newRows.toDF("doc_id", "text"), "doc_id", "text")
      .select("id_b").as[Long].collect().toSet
    val admittedDir = tmp("widesim-adm")
    val pairsDir = tmp("widesim-pairs")
    val mem = MemoryStream[(Long, String)]
    val q = NearDupStream.admit(mem.toDF().toDF("doc_id", "text"),
      Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(store)),
      "doc_id", "text", admittedDir, pairsDir,
      checkpoint = tmp("widesim-ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(newRows: _*)
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(admittedDir)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted === newRows.map(_._1).toSet -- dropped)
    assert(admitted.contains(101L) && !admitted.contains(100L) &&
      !admitted.contains(102L))
    // the admitted docs' signatures joined the store
    assert(spark.read.parquet(store).select("id").as[Long].collect().toSet
      === (0L until 12L).toSet ++ admitted)
  }
}
