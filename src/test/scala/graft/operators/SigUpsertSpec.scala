package graft.operators

import org.apache.spark.sql.functions._
import graft.{CrashPoint, SparkSpec}

/** UPSERT/replacement for the directory signature stores — the
  * mutable-id remedy the [[Dedup.mutatedRedeliveries]] audit points
  * at: content mutated under a reused id previously could only
  * re-enter history via a whole-store compaction. Pins the contract:
  * [[Dedup.SigStore.reclaim]] removes exactly the given
  * tombstoned ids' rows (file-granular, double-anti-joined so a
  * crashed-and-rerun reclaim never duplicates innocent rows) and
  * re-opens the ids through the shared [[TombstoneLog]];
  * [[Dedup.SigStore.upsert]] = delete → targeted reclaim → admit the
  * NEW content, after which the store signature IS the new text's
  * signature — the old content stops matching, the new content
  * matches as history; the wide-SimHash twin keeps `_wide_meta` and
  * its draw-family gate intact. */
class SigUpsertSpec extends SparkSpec {
  import spark.implicits._
  CrashPoint.install(spark)

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (1L, "completely unrelated text about spark catalyst optimizer internals"),
    (2L, "another fully distinct document mentioning parquet bucketing layouts"),
    (3L, "yet another independent sentence about stream checkpoints and state")
  ).toDF("doc_id", "text")

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  private def pairs(dir: String, batch: org.apache.spark.sql.DataFrame) =
    Dedup.SigStore(Dedup.MinHash(bands = 16), Dedup.Dir(dir))
      .pairs(spark, batch, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("minhash dir store: upsert swaps which content matches as history; audit comes back clean; physical row stays single") {
    val dir = tmpDir("sigups")
    val store = Dedup.SigStore(Dedup.MinHash(), Dedup.Dir(dir))
    store.build(docs, "doc_id", "text")
    // a probe batch near-dupping doc 0's ORIGINAL text and doc 1's
    // FUTURE (replacement) text
    val probe = Seq(
      (10L, "the quick brown fox jumps over the lazy cat and runs far away home"),
      (11L, "galaxies collide slowly over billions of patient dark years out there")
    ).toDF("doc_id", "text")
    val before = pairs(dir, probe)
    assert(before.contains((0L, 10L)) && !before.exists(_._1 == 1L))
    // doc 0 and doc 1 mutate upstream under their reused ids: the
    // audit flags them, the upsert is the remedy
    val mutated = Seq(
      (0L, "entirely new content that no longer resembles the fox sentence at all"),
      (1L, "galaxies collide slowly over billions of patient dark years out here")
    ).toDF("doc_id", "text")
    val audited = Dedup.mutatedRedeliveries(mutated, "doc_id", "text",
        spark.read.parquet(dir), numHashes = 64, shingleN = 5)
      .select("id").as[Long].collect().toSet
    assert(audited === Set(0L, 1L))
    store.upsert(spark, mutated, "doc_id", "text")
    // exactly one physical row per id — the replacement superseded
    val counts = spark.read.parquet(dir).groupBy("id").count()
      .filter(col("count") > 1).count()
    assert(counts === 0L)
    // the OLD content no longer matches; the NEW content matches
    val after = pairs(dir, probe)
    assert(!after.exists(p => p._1 == 0L || p._2 == 0L),
      "doc 0's old fox content still matches after its replacement")
    assert(after.contains((1L, 11L)),
      "doc 1's new content must match as history")
    // the audit is clean now — store signatures ARE the new content's
    assert(Dedup.mutatedRedeliveries(mutated, "doc_id", "text",
      spark.read.parquet(dir), numHashes = 64,
      shingleN = 5).isEmpty)
    // re-running the upsert (a replayed batch) converges
    store.upsert(spark, mutated, "doc_id", "text")
    assert(spark.read.parquet(dir).groupBy("id").count()
      .filter(col("count") > 1).count() === 0L)
    assert(pairs(dir, probe) === after)
  }

  test("targeted signature reclaim: reclaimed id re-opens, the other tombstone keeps standing — and keeps its physical row") {
    val dir = tmpDir("sigreclaim")
    val store = Dedup.SigStore(Dedup.MinHash(), Dedup.Dir(dir))
    store.build(docs, "doc_id", "text")
    store.delete(spark, Seq(0L, 2L).toDF("doc_id"))
    assert(store.reclaim(spark, Seq(0L).toDF("doc_id")) === 1L)
    // nothing standing for 0 → nothing to reclaim twice
    assert(store.reclaim(spark, Seq(0L).toDF("doc_id")) === 0L)
    val stored = spark.read.parquet(dir).select("id")
      .as[Long].collect().toSet
    assert(!stored.contains(0L), "reclaimed row not removed")
    assert(stored.contains(2L), "the OTHER tombstoned id lost its row")
    // 0 re-admits via the ordinary append; 2 still drops (takedown)
    store.append(spark, docs.filter(col("doc_id").isin(0L, 2L)), "doc_id", "text")
    val after = spark.read.parquet(dir).select("id")
      .as[Long].collect().toSeq
    assert(after.count(_ == 0L) === 1)
    assert(after.count(_ == 2L) === 1, "2's row must not double")
    val probe = Seq(
      (10L, "the quick brown fox jumps over the lazy cat and runs far away home")
    ).toDF("doc_id", "text")
    assert(pairs(dir, probe).contains((0L, 10L)), "0 is history again")
  }

  test("wide simhash store: upsert keeps _wide_meta and the draw gate; new content matches, old stops") {
    val dir = tmpDir("sigupsw")
    val store = Dedup.SigStore(Dedup.WideSimhash(portable = true), Dedup.Dir(dir))
    store.build(docs, "doc_id", "text")
    val probeOld = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away house")
    ).toDF("doc_id", "text")
    def widePairs(b: org.apache.spark.sql.DataFrame) =
      Dedup.SigStore(Dedup.WideSimhash(maxHamming = 16, portable = true), Dedup.Dir(dir))
        .pairs(spark, b, "doc_id", "text")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(widePairs(probeOld).contains((0L, 10L)))
    val mutated = Seq(
      (0L, "entirely new content that no longer resembles the fox sentence at all")
    ).toDF("doc_id", "text")
    store.upsert(spark, mutated, "doc_id", "text")
    assert(!widePairs(probeOld).exists(p => p._1 == 0L || p._2 == 0L))
    // the meta survived the reclaim and the gate is still loud on a
    // mismatched draw family
    val e = intercept[Dedup.SigStoreRefused] {
      Dedup.SigStore(Dedup.WideSimhash(), Dedup.Dir(dir)).upsert(spark, mutated, "doc_id", "text")
    }
    assert(e.reason === Dedup.SigRefusal.DrawMismatch)
  }

  test("bucketed wide store: CDC lifecycle over the file-targeted reclaim — admission parity with the dir twin, takedown wins a late I, audit clean through compaction, draw gate loud") {
    val table = "wideb_spec"
    val dir = tmpDir("widebdir")
    val twin = Dedup.SigStore(Dedup.WideSimhash(maxHamming = 16, portable = true),
      Dedup.Dir(dir))
    val bkt = Dedup.SigStore(Dedup.WideSimhash(maxHamming = 16, portable = true),
      Dedup.Bucketed(table, 4))
    Seq(s"${table}_sigs", s"${table}_meta", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      bkt.build(docs, "doc_id", "text")
      twin.build(docs, "doc_id", "text")
      def wpairs(b: org.apache.spark.sql.DataFrame) =
        bkt.pairs(spark, b, "doc_id", "text")
          .select("id_a", "id_b", "hamming")
          .as[(Long, Long, Int)].collect().toSet
      val probe = Seq(
        (10L, "the quick brown fox jumps over the lazy dog and runs far away house"),
        (11L, "galaxies collide slowly over billions of patient dark years out there")
      ).toDF("doc_id", "text")
      // admission parity: same pairs AND hamming as the dir twin
      assert(wpairs(probe) ===
        twin.pairs(spark, probe, "doc_id", "text")
          .select("id_a", "id_b", "hamming")
          .as[(Long, Long, Int)].collect().toSet)
      assert(wpairs(probe).exists(p => p._1 == 0L && p._2 == 10L))
      // one CDC batch: I a fresh doc, U doc 0 (replacement), D doc 2
      val b1 = Seq(
        (4L, "a brand new document arriving through the stream with fresh words", "I", 1L),
        (0L, "entirely new content that no longer resembles the fox sentence at all", "U", 2L),
        (2L, null.asInstanceOf[String], "D", 3L))
        .toDF("doc_id", "text", "op", "seq")
      assert(bkt.applyCdc(spark, b1) === ((1L, 1L, 1L)))
      // late re-delivered I of the taken-down id: must stay down
      val b2 = Seq((2L,
        "another fully distinct document mentioning parquet bucketing layouts",
        "I", 10L)).toDF("doc_id", "text", "op", "seq")
      bkt.applyCdc(spark, b2)
      val net = Seq(
        (0L, "entirely new content that no longer resembles the fox sentence at all"),
        (1L, "completely unrelated text about spark catalyst optimizer internals"),
        (3L, "yet another independent sentence about stream checkpoints and state"),
        (4L, "a brand new document arriving through the stream with fresh words")
      ).toDF("doc_id", "text")
      def auditNet(tag: String): Unit = {
        val a = bkt.audit(spark, net, "doc_id", "text")
        assert(a.count() === 4L, tag)
        assert(a.filter(!col("sig_ok")).count() === 0L, tag)
      }
      auditNet("net state after I/U/D + late I")
      // old content of 0 stopped matching; 2 no longer matches
      val after = wpairs(probe)
      assert(!after.exists(p => p._1 == 0L || p._2 == 0L))
      assert(!after.exists(p => p._1 == 2L || p._2 == 2L))
      // compaction physically reclaims and clears the record; the
      // meta (and its gate) survive — audit still clean after
      bkt.compact(spark)
      auditNet("post-compaction state")
      assert(spark.table(s"${table}_sigs").filter(col("id") === 2)
        .count() === 0, "compaction must remove the tombstoned row")
      val e = intercept[Dedup.SigStoreRefused] {
        Dedup.SigStore(Dedup.WideSimhash(), Dedup.Bucketed(table, 4))
          .append(spark, net, "doc_id", "text")
      }
      assert(e.reason === Dedup.SigRefusal.DrawMismatch)
    } finally Seq(s"${table}_sigs", s"${table}_meta",
      s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("fused CDC dispatch: one delete pass covers D and U ids (shared D seq, R one later), one admission pass admits U and I — net state identical to the per-lane protocol") {
    val table = "sigcdc_fused"
    Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val dlog = spark.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/") + s"/${table}__dlog"
    try {
      Dedup.buildSignatureStoreBucketed(docs, "doc_id", "text", table,
        buckets = 4, numHashes = 64, bands = 16, shingleN = 5)
      // mixed batch: I fresh id, U stored id (replacement), D stored id
      val b1 = Seq(
        (4L, "a brand new document arriving through the stream with fresh words", "I", 1L),
        (0L, "entirely new content that no longer resembles the fox sentence at all", "U", 2L),
        (2L, null.asInstanceOf[String], "D", 3L))
        .toDF("doc_id", "text", "op", "seq")
      assert(Dedup.applySigCdcBatchBucketed(spark, b1, table,
        buckets = 4, numHashes = 64, bands = 16,
        shingleN = 5) === ((1L, 1L, 1L)))
      // the fused protocol's op-log shape: the D id (2) and the U id
      // (0) tombstone in the SAME delete pass — one shared D seq —
      // and the U id's revive lands exactly one seq later. Two
      // separate delete passes (the old per-lane composition) would
      // put the two D records at different seqs.
      val log = spark.read.parquet(dlog)
        .select("id", "seq", "op").as[(Long, Long, String)]
        .collect().toSet
      val dSeqs = log.toSeq.collect { case (_, s, "D") => s }
      assert(dSeqs.size === 2 && dSeqs.distinct.size === 1,
        s"expected one shared delete-pass seq, got $log")
      assert(log.collect { case (0L, s, "R") => s } ===
        Set(dSeqs.head + 1L), s"U revive must land one seq after " +
        s"the fused delete pass, got $log")
      // net state: the audit against the from-scratch net corpus is
      // the per-lane protocol's own gate — all-true here proves the
      // fusion changed the job count, not the result
      val net = Seq(
        (0L, "entirely new content that no longer resembles the fox sentence at all"),
        (1L, "completely unrelated text about spark catalyst optimizer internals"),
        (3L, "yet another independent sentence about stream checkpoints and state"),
        (4L, "a brand new document arriving through the stream with fresh words")
      ).toDF("doc_id", "text")
      val a = Dedup.auditSignatureStoreBucketed(spark, net, "doc_id",
        "text", table, numHashes = 64, bands = 16, shingleN = 5)
      assert(a.count() === 4L)
      assert(a.filter(!col("sig_ok") || !col("bands_ok")).count() === 0L)
      // exactly one physical sig row per live id — one admission pass
      // admitted U and I without doubling either lane
      assert(spark.table(s"${table}_sigs").groupBy("id").count()
        .filter(col("count") > 1).count() === 0L)
      // late re-delivered I of the taken-down id still stays down
      val b2 = Seq((2L,
        "another fully distinct document mentioning parquet bucketing layouts",
        "I", 10L)).toDF("doc_id", "text", "op", "seq")
      Dedup.applySigCdcBatchBucketed(spark, b2, table, buckets = 4,
        numHashes = 64, bands = 16, shingleN = 5)
      val a2 = Dedup.auditSignatureStoreBucketed(spark, net, "doc_id",
        "text", table, numHashes = 64, bands = 16, shingleN = 5)
      assert(a2.count() === 4L)
      assert(a2.filter(!col("sig_ok") || !col("bands_ok")).count() === 0L)
    } finally {
      Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.operators.TombstoneLog.clear(spark, dlog, "id")
    }
  }

  test("bucketed store: upsert swaps history, targeted reclaim keeps other tombstones, admission plan stays batch-only-exchange") {
    val table = "sigups_bucketed"
    val store = Dedup.SigStore(Dedup.MinHash(bands = 16), Dedup.Bucketed(table, 4))
    Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    store.build(docs, "doc_id", "text")
    try {
      def bpairs(b: org.apache.spark.sql.DataFrame) =
        store.pairs(spark, b, "doc_id", "text", threshold = 0.5)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val probe = Seq(
        (10L, "the quick brown fox jumps over the lazy cat and runs far away home"),
        (11L, "galaxies collide slowly over billions of patient dark years out there")
      ).toDF("doc_id", "text")
      val before = bpairs(probe)
      assert(before.contains((0L, 10L)) && !before.exists(_._1 == 1L))
      // a separate standing takedown that must SURVIVE the upsert —
      // the targeted-reclaim discriminator
      store.delete(spark, Seq(2L).toDF("doc_id"))
      val mutated = Seq(
        (0L, "entirely new content that no longer resembles the fox sentence at all"),
        (1L, "galaxies collide slowly over billions of patient dark years out here")
      ).toDF("doc_id", "text")
      store.upsert(spark, mutated, "doc_id", "text")
      // exactly one physical sig row per upserted id — the
      // replacement superseded, not doubled
      assert(spark.table(s"${table}_sigs").filter(col("id") === 0)
        .count() === 1)
      assert(spark.table(s"${table}_sigs").filter(col("id") === 1)
        .count() === 1)
      // old content stopped matching, new content matches as history,
      // and 2's takedown still stands
      val after = bpairs(probe)
      assert(!after.exists(p => p._1 == 0L || p._2 == 0L))
      assert(after.contains((1L, 11L)))
      assert(spark.table(s"${table}_sigs").filter(col("id") === 2)
        .count() === 1, "2's physical row must survive the reclaim")
      val probe2 = Seq(
        (12L, "another fully distinct document mentioning parquet bucketing layout")
      ).toDF("doc_id", "text")
      assert(!bpairs(probe2).exists(_._1 == 2L),
        "2's takedown must keep standing through the upsert")
      // NET-HISTORY equivalence: a from-scratch store over the net
      // corpus (docs 0,1 replaced; 2 taken down) admits identically
      val net = Seq(
        (0L, "entirely new content that no longer resembles the fox sentence at all"),
        (1L, "galaxies collide slowly over billions of patient dark years out here"),
        (3L, "yet another independent sentence about stream checkpoints and state")
      ).toDF("doc_id", "text")
      val dir = tmpDir("signet")
      val scratch = Dedup.SigStore(Dedup.MinHash(bands = 16), Dedup.Dir(dir))
      scratch.build(net, "doc_id", "text")
      val fromScratch = scratch.pairs(spark, probe, "doc_id", "text", threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(after === fromScratch,
        "upserted bucketed store must admit exactly like a from-scratch net-history store")
      // the admission plan kept the bucketed layout: both store scans
      // bucketed, strictly fewer exchanges than the plain-store plan
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
        "10485760")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val inc = store.pairs(spark, probe, "doc_id", "text", threshold = 0.5)
        val p = inc.queryExecution.executedPlan.toString
        assert("Bucketed: true".r.findAllIn(p).size >= 2,
          s"store scans must reuse the bucket layout after upsert:\n$p")
        val plain = scratch.pairs(spark, probe, "doc_id", "text", threshold = 0.5)
        val ex = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
        val exPlain = plain.queryExecution.executedPlan.toString
          .linesIterator.count(_.contains("Exchange hashpartitioning"))
        assert(ex < exPlain, s"bucketed=$ex plain=$exPlain")
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      // replayed upsert converges; full compaction then reclaims 2
      store.upsert(spark, mutated, "doc_id", "text")
      assert(bpairs(probe) === after)
      store.compact(spark)
      assert(spark.table(s"${table}_sigs").filter(col("id") === 2)
        .count() === 0)
      // post-compaction: 2 re-admits via the ordinary append
      store.append(spark, docs.filter(col("doc_id") === 2), "doc_id", "text")
      assert(spark.table(s"${table}_sigs").filter(col("id") === 2)
        .count() === 1)
    } finally Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bucketed reclaim is file-targeted: untouched files survive byte-identical; the append-done-delete-missed crash window heals on re-run") {
    val table = "sigreclaim_targeted"
    Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val many = (0L until 12L).map(i => (i,
      s"document number $i talks at length about topic $i with unique " +
        s"words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      .toDF("doc_id", "text")
      // several write tasks → several files PER BUCKET (the real
      // build profile: bucketed writes land one file per bucket per
      // task) — the layout where a doc's band rows span files that a
      // single-id reclaim touches AND files it doesn't, which is
      // exactly what the full-row debris heal must survive
      .repartition(2)
    Dedup.buildSignatureStoreBucketed(many, "doc_id", "text", table,
      buckets = 8, numHashes = 64, bands = 4, shingleN = 5)
    try {
      val sigs = s"${table}_sigs"
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(sigs)).location
      val fsys = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(): Map[String, (Long, Long)] = fsys
        .listStatus(new org.apache.hadoop.fs.Path(loc))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => f.getPath.getName ->
          (f.getLen, f.getModificationTime)).toMap
      def filesOf(id: Long): Set[String] = spark.table(sigs)
        .withColumn("_f", input_file_name())
        .filter(col("id") === id).select("_f").distinct()
        .as[String].collect()
        .map(u => new org.apache.hadoop.fs.Path(
          new java.net.URI(u)).getName).toSet
      // --- file-targeted: only doc 0's bucket file rewrites ---
      val affected0 = filesOf(0L)
      val before = files()
      Dedup.SigStore(Dedup.MinHash(bands = 4), Dedup.Bucketed(table, 8))
        .upsert(spark, Seq((0L, "totally new replacement content mentioning nothing " +
          "from the original corpus at all")).toDF("doc_id", "text"), "doc_id", "text")
      val after = files()
      before.filterNot { case (n, _) => affected0.contains(n) }
        .foreach { case (n, stamp) =>
          assert(after.get(n) === Some(stamp),
            s"untouched sig file $n must survive byte-identical — " +
              "the reclaim must not rewrite the whole table")
        }
      affected0.foreach(n => assert(!after.contains(n),
        s"the affected file $n must be deleted by the reclaim"))
      // INNOCENT rows sharing an affected file must survive — in the
      // BANDS table a doc's rows span many bucket files, so its key
      // legitimately lives in affected AND unaffected files; the heal
      // must compare full rows, never keys (a key-level anti silently
      // destroyed innocent band rows — the r15 q141 find). The audit
      // checks every live id's stored sig AND band rows against the
      // net corpus.
      val net = many.withColumn("text", when(col("doc_id") === 0,
        lit("totally new replacement content mentioning nothing " +
          "from the original corpus at all")).otherwise(col("text")))
      val audit = Dedup.auditSignatureStoreBucketed(spark, net,
        "doc_id", "text", table, numHashes = 64, bands = 4,
        shingleN = 5)
      assert(audit.count() === 12)
      assert(audit.filter(!col("sig_ok") || !col("bands_ok"))
        .count() === 0,
        "every live id's sig and band rows must equal the net corpus's")
      // --- crash-window heal: survivors appended, originals kept ---
      // pick a tombstone target that SHARES a file with a witness id
      val byFile = spark.table(sigs)
        .withColumn("_f", input_file_name())
        .select(col("_f"), col("id")).as[(String, Long)].collect()
        .groupBy(_._1).values.map(_.map(_._2).sorted.toSeq)
        .filter(_.size >= 2).head
      val target = byFile.head
      val witness = byFile(1)
      // the state a death between reclaimFromTable's append and its
      // file deletes leaves behind: the real reclaim of the target,
      // killed at the sigs leg's first delete of an original — the
      // affected file's NON-target rows then exist twice (original
      // file + appended survivor copy)
      Dedup.SigStore(Dedup.MinHash(bands = 4), Dedup.Bucketed(table, 8))
        .delete(spark, Seq(target).toDF("doc_id"))
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
      val sigsDir = CrashPoint.relocate(spark, sigs)
      val store = new CrashPoint.Fixture(sigsDir,
        CrashPoint.relocate(spark, s"${table}_bands"), s"$wh/${table}__dlog")
      def reclaim() = Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed(table, 8))
        .reclaim(spark, Seq(target).toDF("doc_id"))
      val firstDelete = CrashPoint.windows(store.rehearse(reclaim()))
        .find(c => c.kind == "delete" && c.path.startsWith(sigsDir + "/part-")).get
      Seq(sigs, s"${table}_bands").foreach(spark.catalog.refreshTable)
      assert(CrashPoint.crashAt(spark, firstDelete)(reclaim()).isFailure)
      Seq(sigs, s"${table}_bands").foreach(spark.catalog.refreshTable)
      assert(spark.table(sigs).filter(col("id") === witness).count() === 2,
        "precondition: the crash window duplicates the witness row")
      // the re-run of the same targeted reclaim
      assert(Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed(table, 8))
        .reclaim(spark, Seq(target).toDF("doc_id")) === 1L)
      assert(spark.table(sigs).filter(col("id") === target).count() === 0,
        "the target's rows must be physically gone")
      assert(spark.table(sigs).filter(col("id") === witness).count() === 1,
        "the double anti must heal the duplicated witness, not copy it again")
      // every surviving id is single again (no collateral duplication)
      assert(spark.table(sigs).groupBy("id").count()
        .filter(col("count") > 1).count() === 0)
    } finally Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach { t =>
        CrashPoint.unrelocate(spark, t)
        spark.sql(s"DROP TABLE IF EXISTS $t")
      }
  }

  test("bucketed reclaim with mismatched band params falls back to the full-scan location and stays correct") {
    val table = "sigreclaim_mismatch"
    Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val many = (0L until 12L).map(i => (i,
      s"mismatch document $i with its own distinct words " +
        s"omega$i kappa$i lambda$i mu$i nu$i xi$i")).toDF("doc_id", "text")
      .repartition(3)
    Dedup.buildSignatureStoreBucketed(many, "doc_id", "text", table,
      buckets = 8, numHashes = 64, bands = 4, shingleN = 5)
    try {
      Dedup.SigStore(Dedup.MinHash(bands = 4), Dedup.Bucketed(table, 8))
        .delete(spark, Seq(5L).toDF("doc_id"))
      // bands=8 against a bands=4 build: the recomputed (band, bucket)
      // keys name the WRONG buckets, the ≥-bands coverage check trips,
      // and the reclaim must fall back to the unpruned location — the
      // rows still physically reclaim, nothing is silently left
      assert(Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed(table, 8))
        .reclaim(spark, Seq(5L).toDF("doc_id")) === 1L)
      assert(spark.table(s"${table}_sigs").filter(col("id") === 5)
        .count() === 0, "sig row must be physically gone")
      assert(spark.table(s"${table}_bands").filter(col("id") === 5)
        .count() === 0, "band rows must be physically gone despite " +
          "the mismatched prune hint")
      // no collateral loss anywhere: every other id keeps its full
      // sig + band complement (4 bands per doc at the build config)
      assert(spark.table(s"${table}_sigs").count() === 11)
      assert(spark.table(s"${table}_bands").groupBy("id").count()
        .filter(col("count") =!= 4).count() === 0)
    } finally Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bucketed store: legacy D-only tombstone table reads as baseline and is superseded by the op log's revive") {
    val table = "siglegacy_bucketed"
    Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Dedup.buildSignatureStoreBucketed(docs, "doc_id", "text", table,
      buckets = 4, numHashes = 64, bands = 16, shingleN = 5)
    try {
      // a pre-r14 store: hand-write the legacy one-column table
      Seq(0L, 2L).toDF("id").write.format("parquet")
        .saveAsTable(s"${table}_deleted")
      val probe = Seq(
        (10L, "the quick brown fox jumps over the lazy cat and runs far away home")
      ).toDF("doc_id", "text")
      def bpairs() =
        Dedup.minhashLshIncrementalBucketed(spark, probe, "doc_id",
            "text", table, numHashes = 64, bands = 16, shingleN = 5,
            threshold = 0.5)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(!bpairs().exists(_._1 == 0L),
        "legacy tombstone must exclude doc 0")
      // upsert doc 0 through the op log: the R supersedes the legacy D
      val mutated = Seq(
        (0L, "the quick brown fox jumps over the lazy dog and runs far away home")
      ).toDF("doc_id", "text")
      Dedup.SigStore(Dedup.MinHash(bands = 16), Dedup.Bucketed(table, 4))
        .upsert(spark, mutated, "doc_id", "text")
      assert(bpairs().contains((0L, 10L)),
        "the op-log revive must supersede the legacy D")
      // doc 2's legacy takedown still stands
      val probe2 = Seq(
        (12L, "another fully distinct document mentioning parquet bucketing layout")
      ).toDF("doc_id", "text")
      assert(!Dedup.minhashLshIncrementalBucketed(spark, probe2,
          "doc_id", "text", table, numHashes = 64, bands = 16,
          shingleN = 5, threshold = 0.5)
        .select("id_a").as[Long].collect().toSet.contains(2L))
      // full compaction drops BOTH records
      Dedup.SigStore(Dedup.MinHash(bands = 16), Dedup.Bucketed(table, 4)).compact(spark)
      assert(!spark.catalog.tableExists(s"${table}_deleted"))
      assert(spark.table(s"${table}_sigs").filter(col("id") === 2)
        .count() === 0)
    } finally Seq(s"${table}_sigs", s"${table}_bands", s"${table}_deleted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
