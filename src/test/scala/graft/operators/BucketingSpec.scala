package graft.operators

import org.apache.spark.sql.functions._

import graft.{CrashPoint, SparkSpec}
import graft.sources.Tables

/** Bucketed layout must actually eliminate the exchanges: join and
  * aggregation on the bucket key plan shuffle-free, and bucket-key
  * equality filters prune to one bucket's files. */
class BucketingSpec extends SparkSpec {
  CrashPoint.install(spark)

  private def withSmj[A](f: => A): A = {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  private lazy val tablesReady: Unit = {
    Bucketing.writeBucketed(
      Tables.load(spark, sf0001, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      "bkt_orders", "o_custkey", buckets = 8)
    Bucketing.writeBucketed(
      Tables.load(spark, sf0001, "customer").select(col("c_custkey").as("o_custkey"), col("c_name")),
      "bkt_customer", "o_custkey", buckets = 8)
  }

  test("same-bucket-count join on the bucket key plans with zero exchanges") {
    tablesReady
    withSmj {
      val j = Bucketing.colocatedJoin(spark, "bkt_orders", "bkt_customer", "o_custkey")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), p) // write-time shuffle reused
    }
  }

  test("aggregation on the bucket key plans with zero exchanges") {
    tablesReady
    val a = spark.table("bkt_orders").groupBy("o_custkey")
      .agg(sum("o_totalprice").as("t"))
    val p = a.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("bucket-key equality filter prunes to one bucket") {
    tablesReady
    // DisableUnnecessaryBucketedScan turns bucketed reading off for
    // plans with no interesting distribution; force it on to observe
    // the file-level bucket pruning itself
    val saved = spark.conf
      .get("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val f = spark.table("bkt_orders").filter(col("o_custkey") === 7)
      val p = f.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 8"), p)
    } finally spark.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", saved)
  }

  test("joining and aggregating produce the same rows as the unbucketed plan") {
    tablesReady
    import spark.implicits._
    withSmj {
      val bucketed = Bucketing.colocatedJoin(spark, "bkt_orders", "bkt_customer", "o_custkey")
        .groupBy("o_custkey").count()
        .as[(Long, Long)].collect().toMap
      val plain = Tables.load(spark, sf0001, "orders")
        .join(Tables.load(spark, sf0001, "customer")
          .select(col("c_custkey").as("o_custkey")), "o_custkey")
        .groupBy("o_custkey").count()
        .as[(Long, Long)].collect().toMap
      assert(bucketed === plain)
    }
  }

  test("prunedScan: single-column key reads exactly the wanted buckets' files; empty and int-typed key sets behave") {
    tablesReady
    import spark.implicits._
    // which bucket does each row live in? parse the writer's _NNNNN
    val re = """.*_(\d+)(?:\..*)?$""".r
    def bucketOfFile(u: String): Int = {
      val n = new org.apache.hadoop.fs.Path(new java.net.URI(u)).getName
      n match { case re(b) => b.toInt }
    }
    val keys = Seq(7L, 19L, 23L).toDF("o_custkey")
    val pruned = Bucketing.prunedScan(spark, "bkt_orders", keys)
    // exact rows: pruned ⊇ the true rows for the keys, and every
    // pruned row's key hashes to a wanted bucket
    val truth = spark.table("bkt_orders")
      .filter(col("o_custkey").isin(7L, 19L, 23L))
      .select("o_orderkey").as[Long].collect().toSet
    val got = pruned.filter(col("o_custkey").isin(7L, 19L, 23L))
      .select("o_orderkey").as[Long].collect().toSet
    assert(got === truth, "pruned scan must cover every row of the keys")
    // the read's file set is only the wanted buckets (≤3 of 8)
    val wanted = keys
      .select(pmod(hash(col("o_custkey")), lit(8)).as("b"))
      .distinct().as[Int].collect().toSet
    val readBuckets = pruned.select(input_file_name()).distinct()
      .as[String].collect().map(bucketOfFile).toSet
    assert(readBuckets.subsetOf(wanted),
      s"read $readBuckets, wanted only $wanted")
    assert(readBuckets.size < 8, "a pruned scan must not read all buckets")
    // an INT-typed key frame prunes to the same buckets (values cast
    // to the table's column type before hashing — the xxhash64 lesson)
    val intKeys = Seq(7, 19, 23).toDF("o_custkey")
    assert(Bucketing.prunedScan(spark, "bkt_orders", intKeys)
      .filter(col("o_custkey").isin(7L, 19L, 23L))
      .select("o_orderkey").as[Long].collect().toSet === truth)
    // keys hashing to no existing file → empty frame, table schema
    val none = Bucketing.prunedScan(spark, "bkt_orders",
      spark.emptyDataFrame.select(lit(1L).as("o_custkey")).limit(0))
    assert(none.schema === spark.table("bkt_orders").schema)
    assert(none.count() === 0)
  }

  test("prunedScan: multi-column bucket key (bands-shaped) covers every row of the named key pairs") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS ps_multi")
    try {
      // (band, bucket) two-column bucket spec, several files per
      // bucket (two appends), like the signature stores' bands table
      val a = (0 until 400).map(i => (i % 8, (i * 2654435761L) % 97, i.toLong))
        .toDF("band", "bucket", "id")
      a.write.format("parquet").bucketBy(4, "band", "bucket")
        .sortBy("band", "bucket").saveAsTable("ps_multi")
      val b = (400 until 800).map(i => (i % 8, (i * 2654435761L) % 97, i.toLong))
        .toDF("band", "bucket", "id")
      b.write.mode("append").format("parquet").bucketBy(4, "band", "bucket")
        .sortBy("band", "bucket").saveAsTable("ps_multi")
      val keyPairs = spark.table("ps_multi")
        .filter(col("id").isin(3L, 77L, 500L, 799L))
        .select("band", "bucket").distinct()
      val pruned = Bucketing.prunedScan(spark, "ps_multi", keyPairs)
      val truth = spark.table("ps_multi")
        .join(keyPairs, Seq("band", "bucket"), "left_semi")
        .select("id").as[Long].collect().toSet
      val got = pruned.join(keyPairs, Seq("band", "bucket"), "left_semi")
        .select("id").as[Long].collect().toSet
      assert(got === truth,
        "multi-column pruning must cover every row of the named pairs")
      assert(Seq(3L, 77L, 500L, 799L).toSet.subsetOf(got))
    } finally spark.sql("DROP TABLE IF EXISTS ps_multi")
  }

  test("prunedScan: a foreign (unparseable) data file falls back to the full scan") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS ps_foreign")
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.format("parquet")
        .bucketBy(2, "id").saveAsTable("ps_foreign")
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("ps_foreign")).location
      // a hand-placed file with no bucket suffix: pruning cannot
      // assign it a bucket, so the scan must degrade to ALL files
      val stray = new org.apache.hadoop.fs.Path(loc.getPath, "strayfile.parquet")
      Seq((3L, "c")).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet("/tmp/ps_stray")
      val fsys = stray.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val src = fsys.listStatus(new org.apache.hadoop.fs.Path("/tmp/ps_stray"))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      fsys.rename(src, stray)
      spark.catalog.refreshTable("ps_foreign")
      val got = Bucketing.prunedScan(spark, "ps_foreign",
          Seq(1L).toDF("id"))
        .select("id").as[Long].collect().toSet
      assert(got === Set(1L, 2L, 3L),
        "foreign layout must read as the FULL table, never a wrong prune")
    } finally spark.sql("DROP TABLE IF EXISTS ps_foreign")
  }

  test("partitioned+bucketed layout: prunedScan falls back to the catalog scan; reclaim and compact refuse loudly") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS ps_part")
    try {
      val df = (0 until 300).map(i => (i.toLong, s"p${i % 3}", i * 2L))
        .toDF("id", "part", "v")
      df.write.format("parquet").partitionBy("part")
        .bucketBy(4, "id").sortBy("id").saveAsTable("ps_part")
      // data files live in partition SUBDIRS — the top-level listing
      // sees none; pre-fix this "pruned" a standing table to an empty
      // scan (and, through reclaimFromTable, to a cleared tombstone
      // over standing rows — silent resurrection)
      val got = Bucketing.prunedScan(spark, "ps_part", Seq(7L).toDF("id"))
      assert(got.filter(col("id") === 7L).count() === 1L,
        "prunedScan on a partitioned table must fall back, never empty")
      assert(got.count() === 300L)
      // the file-targeted reclaim reads data files directly and would
      // resurrect partition values as null — refuse, loudly
      val e = intercept[IllegalArgumentException] {
        Bucketing.reclaimFromTable(spark, "ps_part",
          Seq(7L).toDF("id"), "id")
      }
      assert(e.getMessage.contains("partitioned"), e.getMessage)
      // the compaction swap cannot carry partition metadata — loud
      // refusal beats swapping a standing table for a hollow one
      val e2 = intercept[IllegalArgumentException] {
        Bucketing.compactTable(spark, "ps_part")
      }
      assert(e2.getMessage.contains("partitioned"), e2.getMessage)
      assert(spark.table("ps_part").count() === 300L,
        "the refused calls must leave the table standing")
    } finally spark.sql("DROP TABLE IF EXISTS ps_part")
  }

  test("every bucketed mutation refuses under spark.sql.files.ignoreMissingFiles=true — the silent-row-drop hazard is a named error") {
    tablesReady
    import spark.implicits._
    // under this conf a mutation's own table reads silently drop any
    // concurrently-missing file's rows and rewrite the store from the
    // truncated view; the entry points must refuse BEFORE touching
    // anything (so even a nonexistent table name never reaches I/O)
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      val noStore = Dedup.SigStore(Dedup.MinHash(),
        Dedup.Bucketed("no_such_store", 4))
      val calls: Seq[(String, () => Any)] = Seq(
        ("compactTable", () => Bucketing.compactTable(spark, "bkt_orders")),
        ("reclaimFromTable", () => Bucketing.reclaimFromTable(spark,
          "bkt_orders", Seq(1L).toDF("o_custkey"), "o_custkey")),
        ("SigStore.delete", () => noStore.delete(
          spark, Seq(1L).toDF("id"))),
        ("SigStore.append", () => noStore.append(
          spark, Seq((1L, "x")).toDF("doc_id", "text"), "doc_id", "text")),
        ("SigStore.reclaim",
          () => noStore.reclaim(spark, Seq(1L).toDF("id"))))
      calls.foreach { case (name, f) =>
        val e = intercept[IllegalArgumentException](f())
        assert(e.getMessage.contains("ignoreMissingFiles"),
          s"$name: ${e.getMessage}")
      }
    } finally spark.conf.unset("spark.sql.files.ignoreMissingFiles")
    // with the conf unset the same entry points proceed past the guard
    assert(Bucketing.reclaimFromTable(spark, "bkt_orders",
      Seq(-1L).toDF("o_custkey"), "o_custkey") === 0)
  }

  test("compactTable merges append debris to one file per bucket, keeps rows + layout") {
    import spark.implicits._
    val orders = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    Bucketing.writeBucketed(orders.filter(col("o_orderkey") % 3 === 0),
      "bkt_compact", "o_custkey", buckets = 4)
    try {
      // two daily appends — each adds files on top of the base write
      Seq(1, 2).foreach { r =>
        orders.filter(col("o_orderkey") % 3 === r)
          .write.mode("append").format("parquet")
          .bucketBy(4, "o_custkey").sortBy("o_custkey")
          .saveAsTable("bkt_compact")
      }
      def dataFiles: Seq[java.io.File] = {
        val loc = java.net.URI.create(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("bkt_compact"))
          .location.toString)
        new java.io.File(loc.getPath).listFiles()
          .filter(f => f.getName.endsWith(".parquet")).toSeq
      }
      assert(dataFiles.size > 4, s"expected append debris, got ${dataFiles.size} files")
      val before = spark.table("bkt_compact")
        .as[(Long, Long, Double)].collect().toSet
      Bucketing.compactTable(spark, "bkt_compact")
      assert(dataFiles.size === 4,
        s"one file per bucket after compaction; got:\n${dataFiles.map(_.getName).sorted.mkString("\n")}")
      assert(spark.table("bkt_compact")
        .as[(Long, Long, Double)].collect().toSet === before)
      // the compacted table still carries the bucket layout: aggregation
      // on the bucket key plans exchange-free
      val p = spark.table("bkt_compact").groupBy("o_custkey")
        .agg(sum("o_totalprice")).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"), p)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_compact")
  }

  test("compactSignatureStore: admission pairs unchanged, both tables single-file-per-bucket") {
    import spark.implicits._
    def htext(i: Long): String =
      (1 to 8).map(j => (i * 1000003L + j * 7919L) % 100000000L).mkString(" ")
    val history = (1L to 100L).map(i => (i, htext(i))).toDF("doc_id", "text")
    Dedup.buildSignatureStoreBucketed(history, "doc_id", "text",
      "sig_compact", buckets = 4)
    try {
      // two daily appends accrete files in both standing tables
      val store = Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed("sig_compact", 4))
      store.append(spark,
        (201L to 230L).map(i => (i, htext(i))).toDF("doc_id", "text"),
        "doc_id", "text")
      store.append(spark,
        (301L to 330L).map(i => (i, htext(i))).toDF("doc_id", "text"),
        "doc_id", "text")
      val batch = Seq((9001L, htext(42L)), (9002L, htext(210L)))
        .toDF("doc_id", "text")
      val before = Dedup.minhashLshIncrementalBucketed(spark, batch,
        "doc_id", "text", "sig_compact")
        .as[(Long, Long, Double)].collect().toSet
      assert(before.map(p => (p._1, p._2)) === Set((42L, 9001L), (210L, 9002L)))
      store.compact(spark)
      def nFiles(t: String): Int = {
        val loc = java.net.URI.create(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
          .location.toString)
        new java.io.File(loc.getPath).listFiles()
          .count(_.getName.endsWith(".parquet"))
      }
      assert(nFiles("sig_compact_sigs") === 4)
      assert(nFiles("sig_compact_bands") === 4)
      assert(Dedup.minhashLshIncrementalBucketed(spark, batch,
        "doc_id", "text", "sig_compact")
        .as[(Long, Long, Double)].collect().toSet === before)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sig_compact_sigs")
      spark.sql("DROP TABLE IF EXISTS sig_compact_bands")
    }
  }

  // ---- r16 review-rotation probes: the reclaim window vs readers ----

  test("reclaim's append-then-delete window: a colocated-join reader stays exchange-free and right up to duplicate survivor rows; completing the delete restores exactness") {
    import spark.implicits._
    val a = (0L until 64L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (0L until 64L).map(i => (i, s"b$i")).toDF("k", "vb")
    Bucketing.writeBucketed(a, "win_a", "k", 4)
    Bucketing.writeBucketed(b, "win_b", "k", 4)
    try {
      val target = Seq(3L, 17L).toDF("k")
      // the files holding the targets: the ones the reclaim rewrites
      val affected = spark.table("win_a").withColumn("_f", input_file_name())
        .filter(col("k").isin(3L, 17L)).select("_f").distinct()
        .as[String].collect()
      // kill the real reclaim in its MID-WINDOW state: survivors
      // appended, its first delete of an original failing — exactly
      // the state a reader can observe between reclaim's two mutations
      val winA = new CrashPoint.Fixture(CrashPoint.relocate(spark, "win_a"))
      val firstDelete = CrashPoint.windows(winA.rehearse(
          Bucketing.reclaimFromTable(spark, "win_a", target, "k")))
        .find(_.kind == "delete").get
      spark.catalog.refreshTable("win_a")
      assert(CrashPoint.crashAt(spark, firstDelete)(
        Bucketing.reclaimFromTable(spark, "win_a", target, "k")).isFailure)
      spark.catalog.refreshTable("win_a")
      // which keys now stand twice: the affected buckets' rows minus
      // the targets (their original copy + the appended survivor copy)
      val dupKeys = spark.read.parquet(affected.toIndexedSeq: _*)
        .select("k").as[Long].collect().toSet -- Set(3L, 17L)
      withSmj {
        val j = Bucketing.colocatedJoin(spark, "win_a", "win_b", "k")
        // >1 file per bucket: Spark must keep trusting the bucketed
        // DISTRIBUTION (no exchange) but drop the per-file SORT claim
        // (the concatenation of two sorted files is not sorted) — a
        // plan that still claimed the sort would make the SMJ silently
        // wrong, which the row-level equality below would catch
        val p = j.queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin") && !p.contains("Exchange"), p)
        val counts = j.groupBy("k").count().as[(Long, Long)]
          .collect().toMap
        // every key still joins; duplicate multiplicity ONLY on the
        // affected buckets' survivor keys — the documented window
        assert(counts.keySet === (0L until 64L).toSet)
        counts.foreach { case (k, c) =>
          assert(c === (if (dupKeys(k)) 2L else 1L),
            s"key $k joined $c times (dup expected: ${dupKeys(k)})")
        }
      }
      // the re-run completes the reclaim (its full-row anti appends
      // nothing again): the join is exact, targets gone
      assert(Bucketing.reclaimFromTable(spark, "win_a", target, "k") ===
        affected.length)
      withSmj {
        val j = Bucketing.colocatedJoin(spark, "win_a", "win_b", "k")
        assert(!j.queryExecution.executedPlan.toString.contains("Exchange"))
        assert(j.groupBy("k").count().as[(Long, Long)].collect().toMap ===
          (0L until 64L).filterNot(Set(3L, 17L)).map(_ -> 1L).toMap)
      }
    } finally Seq("win_a", "win_b").foreach { t =>
      CrashPoint.unrelocate(spark, t)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("prunedScan: a standing plan pins the listing-time snapshot — files appended after the call are invisible to it and visible to a fresh call") {
    import spark.implicits._
    val rows = (0L until 32L).map(i => (i, i * 10)).toDF("id", "v")
    Bucketing.writeBucketed(rows, "snap_t", "id", 8)
    try {
      val keys = Seq(1L).toDF("id") // 1 of 8 buckets — the guard admits
      val scan = Bucketing.prunedScan(spark, "snap_t", keys)
      assert(scan.filter(col("id") === 1L).count() === 1L)
      // a WRITER appends mid-read (single-writer covers writers; this
      // is the reader-mid-append seam): commit is a rename into the
      // table dir, so the reader's pinned file list never sees a
      // half-written file — only "not yet there"
      Seq((1L, 999L)).toDF("id", "v")
        .write.mode("append").format("parquet")
        .bucketBy(8, "id").sortBy("id").saveAsTable("snap_t")
      // the standing plan reads its listing-time snapshot — committed
      // rows as of the call, never a torn in-between
      assert(scan.filter(col("id") === 1L).count() === 1L)
      // a fresh location sees the committed append
      assert(Bucketing.prunedScan(spark, "snap_t", keys)
        .filter(col("id") === 1L).count() === 2L)
    } finally spark.sql("DROP TABLE IF EXISTS snap_t")
  }
}
