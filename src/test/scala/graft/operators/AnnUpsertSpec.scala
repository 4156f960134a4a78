package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

/** UPSERT/replacement for the ANN store family — the CDC `U` path
  * (round 13): until now re-admitting or replacing an id required a
  * WHOLE-STORE compaction (the delete contract's "compact first, then
  * append"), which prices a routine row update as the store's entire
  * standing tombstone debt. Pins the new contract: the tombstone
  * record is an append-only op log (D/R, latest seq wins) so targeted
  * reclaim never opens a resurrection window for the ids it keeps;
  * [[Similarity.reclaimTombstones]] physically removes EXACTLY the
  * given ids and leaves other tombstones standing (rows and all);
  * upsert = delete → targeted reclaim → append, so the replaced
  * vector is what searches actually rank; on a routed store the
  * replacement re-files by the CURRENT router; and
  * [[Similarity.applyCdcBatch]] resolves one terminal op per id
  * (latest seq, D > U > I on ties) before dispatching. Ground truth
  * throughout is brute force over the NET corpus — the q139
  * invariant. */
class AnnUpsertSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sf0001, "embeddings")

  private def tmpStore(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "item_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet

  test("reclaimTombstones is TARGETED: reclaimed ids re-open, other tombstones stand — rows and all") {
    val dir = tmpStore("annreclaim")
    Similarity.buildIvfStore(emb, dir, nlist = 8, m = 4, ksub = 8,
      dim = 64)
    val a = emb.filter(col("vec_id") % 7 === 1).select("vec_id")
    val b = emb.filter(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1)
      .select("vec_id")
    Similarity.deleteFromIvfStore(spark, a, dir)
    Similarity.deleteFromIvfStore(spark, b, dir)
    val nA = a.count()
    assert(Similarity.reclaimTombstones(spark, a, dir) === nA)
    // ids never tombstoned reclaim nothing (no meaningless R records)
    assert(Similarity.reclaimTombstones(spark, a, dir) === 0L)
    // A physically gone from both tables; B's rows still PRESENT
    Seq("encoded", "codes").foreach { t =>
      val left = spark.read.parquet(s"$dir/$t")
        .select("item_id").as[Long].collect().toSet
      assert(left.forall(_ % 7 != 1), s"$t keeps reclaimed rows")
      assert(b.as[Long].collect().toSet.subsetOf(left),
        s"$t lost rows of OTHER tombstoned ids")
    }
    // B stays excluded; A is re-appendable and searchable again
    val queries = emb.filter(col("vec_id") < 3)
    Similarity.appendToIvfStore(spark,
      emb.filter(col("vec_id") % 7 === 1), dir)
    val net = emb.filter(col("vec_id") % 11 =!= 3 ||
      col("vec_id") % 7 === 1)
    assert(asSet(Similarity.searchIvfStore(spark, queries, dir, k = 5,
      nprobe = 8)) === asSet(Similarity.bruteForceTopK(net, queries, 5)))
  }

  test("upsert replaces the vector searches actually rank; physical row stays single; a tombstoned id revives") {
    val dir = tmpStore("annups")
    Similarity.buildIvfStore(emb, dir, nlist = 8, m = 4, ksub = 8,
      dim = 64)
    // take one id down first — an explicit upsert REVIVES it
    Similarity.deleteFromIvfStore(spark, Seq(14L).toDF("vec_id"), dir)
    val touched = emb.filter(col("vec_id") % 9 === 2 ||
      col("vec_id") === 14)
    Similarity.upsertIntoIvfStore(spark,
      touched.select(col("vec_id"), reverse(col("embedding"))
        .as("embedding")), dir)
    // exactly one physical row per upserted id, in both tables
    Seq("encoded", "codes").foreach { t =>
      val dup = spark.read.parquet(s"$dir/$t")
        .groupBy("item_id").count().filter(col("count") > 1).count()
      assert(dup === 0L, s"$t holds doubled rows after upsert")
    }
    val net = emb.withColumn("embedding",
      when(col("vec_id") % 9 === 2 || col("vec_id") === 14,
        reverse(col("embedding"))).otherwise(col("embedding")))
    val queries = emb.filter(col("vec_id") < 3)
    val truth = asSet(Similarity.bruteForceTopK(net, queries, 5))
    assert(asSet(Similarity.searchIvfStore(spark, queries, dir, k = 5,
      nprobe = 8)) === truth)
    // the ADC path re-encoded the replacement too
    assert(asSet(Similarity.searchIvfStoreAdc(spark, queries, dir,
      k = 5, nprobe = 8, candN = 10000)) === truth)
    // re-running the same upsert (a replayed micro-batch) converges
    Similarity.upsertIntoIvfStore(spark,
      touched.select(col("vec_id"), reverse(col("embedding"))
        .as("embedding")), dir)
    assert(asSet(Similarity.searchIvfStore(spark, queries, dir, k = 5,
      nprobe = 8)) === truth)
  }

  test("legacy one-column tombstone files read as D rows and compose with the op log") {
    val dir = tmpStore("annlegacy")
    Similarity.buildIvfStore(emb.filter(col("vec_id") < 200), dir,
      nlist = 4)
    // a pre-op-log store: hand-write the old (item_id)-only record
    Seq(7L, 9L).toDF("item_id").coalesce(1)
      .write.mode("append").parquet(dir + "/deleted")
    val q = emb.filter(col("vec_id") === 8)
    def found = Similarity.searchIvfStore(spark, q, dir, k = 1000,
      nprobe = 4).select("item_id").as[Long].collect().toSet
    assert(!found.contains(7L) && !found.contains(9L))
    // reclaim 7 through the op log (mixed old/new files in one dir):
    // 7 re-opens, 9's legacy tombstone still stands
    assert(Similarity.reclaimTombstones(spark,
      Seq(7L).toDF("vec_id"), dir) === 1L)
    Similarity.appendToIvfStore(spark, emb.filter(col("vec_id") === 7),
      dir)
    assert(found.contains(7L) && !found.contains(9L))
  }

  test("routed store: upsert re-files the replacement by the CURRENT router — membership moves, no duplicates") {
    val dir = tmpStore("annupsrt")
    val fixture = CrashFixtures.splitFixture(spark)
    val sh = Similarity.buildRoutedIvfStore(fixture, dir, shards = 2,
      nlist = 2, dim = 8, superIters = 3)
    // replace a handful of vectors with a DIFFERENT item's vector
    // (deterministic pairing: id i takes the vector of id 199-i) —
    // guaranteed routable, and odd→even pairing crosses the fixture's
    // cluster split, so the replacement's home shard can differ
    val repl = fixture.filter(col("vec_id") < 4).select("vec_id")
      .join(fixture.select(col("vec_id").as("src_id"),
          col("embedding")),
        col("src_id") === lit(199L) - col("vec_id"))
      .select("vec_id", "embedding")
    Similarity.upsertIntoShardedIvfStore(spark, repl, dir)
    val allIds = (0 until sh).flatMap { i =>
      val p = new java.io.File(s"$dir/shard=$i/encoded")
      if (p.exists()) spark.read.parquet(p.toString)
        .select("item_id").as[Long].collect()
      else Nil
    }
    assert(allIds.size === allIds.distinct.size,
      "an upserted id lives in exactly one shard")
    val net = fixture.as("f")
      .join(repl.select(col("vec_id"), col("embedding").as("nv")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("nv"), col("f.embedding")).as("embedding"))
    val queries = fixture.filter(col("vec_id") >= 6 &&
      col("vec_id") < 12)
    assert(asSet(Similarity.searchRoutedIvfStore(spark, queries, dir,
      k = 5, nprobe = 2, routeShards = sh)) ===
      asSet(Similarity.bruteForceTopK(net, queries, 5)))
  }

  test("applyCdcBatch resolves one terminal op per id: latest seq wins, same-seq ties go D > U > I, unknown ops fail loudly") {
    val dir = tmpStore("anncdc")
    Similarity.buildIvfStore(emb.filter(col("vec_id") < 300), dir,
      nlist = 4)
    val rev = emb.filter(col("vec_id") === 5)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      .head().getSeq[Float](1)
    val vecOf = emb.filter(col("vec_id") === 310).head()
      .getSeq[Float](1)
    val batch = Seq(
      // I then D (later seq): never lands
      (310L, vecOf, "I", 1L), (310L, vecOf, "D", 2L),
      // D then LATER U: the upsert wins — replaced and live
      (5L, rev, "U", 4L), (5L, rev, "D", 3L),
      // plain delete
      (8L, vecOf, "D", 1L),
      // same-seq I and D tie: D wins (conservative takedown)
      (311L, vecOf, "I", 7L), (311L, vecOf, "D", 7L),
      // plain insert of a new id
      (312L, vecOf, "I", 1L)
    ).toDF("vec_id", "embedding", "op", "seq")
    val (ins, ups, del) = Similarity.applyCdcBatch(spark, batch, dir)
    assert((ins, ups, del) === (1L, 1L, 3L))
    val stored = spark.read.parquet(dir + "/encoded")
      .select("item_id").as[Long].collect().toSet
    assert(!stored.contains(310L) && !stored.contains(311L))
    assert(stored.contains(312L))
    val net = emb.filter(col("vec_id") < 300 && col("vec_id") =!= 8)
      .withColumn("embedding", when(col("vec_id") === 5,
        reverse(col("embedding"))).otherwise(col("embedding")))
      .select("vec_id", "embedding")
      .unionByName(emb.filter(col("vec_id") === 310)
        .select(col("vec_id") + 2, col("embedding"))
        .toDF("vec_id", "embedding"))
    val queries = emb.filter(col("vec_id") < 3)
    assert(asSet(Similarity.searchIvfStore(spark, queries, dir, k = 5,
      nprobe = 4)) === asSet(Similarity.bruteForceTopK(net, queries, 5)))
    val bad = Seq((1L, vecOf, "X", 1L))
      .toDF("vec_id", "embedding", "op", "seq")
    val e = intercept[IllegalArgumentException] {
      Similarity.applyCdcBatch(spark, bad, dir)
    }
    assert(e.getMessage.contains("ops must be I, U or D"))
    // the body gate (r15): a partial-payload U (null embedding) must
    // refuse BY ID before any lane runs — unguarded it would tombstone
    // + reclaim the old row and then append nothing, silently turning
    // the update into a delete. Only D may be id-only.
    val bodiless = Seq(
      (5L, null.asInstanceOf[Seq[Float]], "U", 9L),
      (9L, null.asInstanceOf[Seq[Float]], "D", 9L)) // D id-only: legal
      .toDF("vec_id", "embedding", "op", "seq")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.applyCdcBatch(spark, bodiless, dir)
    }
    assert(e2.getMessage.contains("must carry an embedding") &&
      e2.getMessage.contains("5"))
    // nothing applied: 5 still live with its replaced vector, 9 live
    assert(asSet(Similarity.searchIvfStore(spark, queries, dir, k = 5,
      nprobe = 4)) === asSet(Similarity.bruteForceTopK(net, queries, 5)))
    // and an id-only DELETE alone passes the gate
    val (i3, u3, d3) = Similarity.applyCdcBatch(spark,
      Seq((9L, null.asInstanceOf[Seq[Float]], "D", 10L))
        .toDF("vec_id", "embedding", "op", "seq"), dir)
    assert((i3, u3, d3) === (0L, 0L, 1L))
    // the op gate sees the RAW batch (r16): an unknown op superseded
    // by a later legit op for the same id must still refuse — it may
    // stand for semantics the dispatch doesn't implement, and
    // terminal-op resolution must not silently mask it
    val superseded = Seq(
      (7L, vecOf, "TRUNCATE", 1L),
      (7L, vecOf, "I", 2L)) // legit terminal op for the same id
      .toDF("vec_id", "embedding", "op", "seq")
    val e3 = intercept[IllegalArgumentException] {
      Similarity.applyCdcBatch(spark, superseded, dir)
    }
    assert(e3.getMessage.contains("ops must be I, U or D") &&
      e3.getMessage.contains("TRUNCATE"))
  }

  test("upsert crash windows read correctly and the re-run heals — delete landed, reclaim landed, append missing") {
    val dir = tmpStore("annupscrash")
    Similarity.buildIvfStore(emb.filter(col("vec_id") < 300), dir,
      nlist = 4)
    val repl = emb.filter(col("vec_id") === 5)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val queries = emb.filter(col("vec_id") < 3)
    def search = Similarity.searchIvfStore(spark, queries, dir,
      k = 1000, nprobe = 4).select("item_id").as[Long].collect().toSet
    // window 1: the delete committed, nothing else — the id reads as
    // taken down (tombstone stands over its old row)
    Similarity.deleteFromIvfStore(spark, repl.select("vec_id"), dir)
    assert(!search.contains(5L))
    // window 2: reclaim committed too — tombstone stood over nothing,
    // now revived over nothing; the id reads as absent
    Similarity.reclaimTombstones(spark, repl.select("vec_id"), dir)
    assert(!search.contains(5L))
    assert(spark.read.parquet(dir + "/encoded")
      .filter(col("item_id") === 5).count() === 0L)
    // the re-run of the WHOLE upsert completes the replacement
    Similarity.upsertIntoIvfStore(spark, repl, dir)
    val net = emb.filter(col("vec_id") < 300)
      .withColumn("embedding", when(col("vec_id") === 5,
        reverse(col("embedding"))).otherwise(col("embedding")))
    assert(asSet(Similarity.searchIvfStore(spark, queries, dir, k = 5,
      nprobe = 4)) === asSet(Similarity.bruteForceTopK(net, queries, 5)))
  }

  test("applyCdcBatch over a staged rebalance: loud at the FIRST lane, nothing applied, and the retry after resume converges") {
    val dir = tmpStore("anncdcstaged")
    val fixture = CrashFixtures.splitFixture(spark)
    Similarity.buildRoutedIvfStore(fixture, dir, shards = 2, nlist = 2,
      dim = 8, superIters = 3)
    // a crashed split: staging present past its point of no return
    Similarity.stageSplit(spark, dir)
    val vec = fixture.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Double]].head()
    val batch = Seq(
      (500L, vec, "I", 1L),
      (3L, vec, "U", 2L),
      (7L, vec, "D", 3L)).toDF("vec_id", "embedding", "op", "seq")
    val logBefore = Seq(0, 1).flatMap { i =>
      val d = new java.io.File(s"$dir/shard=$i/deleted")
      if (d.exists()) d.listFiles().map(_.getName).toSeq else Nil
    }
    val e = intercept[IllegalArgumentException] {
      Similarity.applyCdcBatch(spark, batch, dir)
    }
    assert(e.getMessage.contains("staged split"),
      s"the refusal must name the staged rebalance, got: ${e.getMessage}")
    // NOTHING was applied — no tombstone landed, no shard dir changed
    val logAfter = Seq(0, 1).flatMap { i =>
      val d = new java.io.File(s"$dir/shard=$i/deleted")
      if (d.exists()) d.listFiles().map(_.getName).toSeq else Nil
    }
    assert(logAfter === logBefore,
      "a refused CDC batch must not leave partial tombstones")
    // the documented way forward: resume, then the SAME batch applies
    val sh = Similarity.resumeSplitHotShard(spark, dir)
    Similarity.applyCdcBatch(spark, batch, dir)
    val net = fixture
      .filter(col("vec_id") =!= 7)
      .withColumn("embedding",
        when(col("vec_id") === 3, typedlit(vec))
          .otherwise(col("embedding")))
      .unionByName(Seq((500L, vec)).toDF("vec_id", "embedding"))
    val queries = fixture.filter(col("vec_id") < 3)
    assert(asSet(Similarity.searchRoutedIvfStore(spark, queries, dir,
      k = 5, nprobe = 64, routeShards = sh)) ===
      asSet(Similarity.bruteForceTopK(net, queries, 5)))
  }

  test("churn-heavy upsert traffic folds the op log: file count stays bounded, standing and revived tombstones resolve unchanged") {
    val dir = tmpStore("annfold")
    Similarity.buildIvfStore(emb.filter(col("vec_id") < 300), dir,
      nlist = 4)
    // one STANDING takedown that must survive every fold
    Similarity.deleteFromIvfStore(spark, Seq(250L).toDF("vec_id"), dir)
    spark.conf.set("spark.graft.tombstoneLogFoldFiles", "4")
    try {
      // each upsert appends a D file and an R file; with the threshold
      // at 4 the log folds repeatedly instead of accumulating
      (0 until 6).foreach { i =>
        val id = 10L + i
        Similarity.upsertIntoIvfStore(spark,
          emb.filter(col("vec_id") === id)
            .select(col("vec_id"), reverse(col("embedding"))
              .as("embedding")), dir)
      }
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val logFiles = fs.listStatus(
          new org.apache.hadoop.fs.Path(dir + "/deleted"))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      assert(logFiles <= 6,
        s"op log grew to $logFiles files despite the fold threshold")
      // the standing takedown still stands; the churned ids are live
      // with their replacements; ground truth over the net corpus
      val net = emb.filter(col("vec_id") < 300 && col("vec_id") =!= 250)
        .withColumn("embedding",
          when(col("vec_id").between(10, 15),
            reverse(col("embedding"))).otherwise(col("embedding")))
      val queries = emb.filter(col("vec_id") < 3)
      assert(asSet(Similarity.searchIvfStore(spark, queries, dir, k = 5,
        nprobe = 4)) ===
        asSet(Similarity.bruteForceTopK(net, queries, 5)))
      val all = Similarity.searchIvfStore(spark, queries, dir,
        k = 1000, nprobe = 4).select("item_id").as[Long].collect().toSet
      assert(!all.contains(250L))
      assert((10L to 15L).forall(all.contains))
    } finally spark.conf.unset("spark.graft.tombstoneLogFoldFiles")
  }
}
