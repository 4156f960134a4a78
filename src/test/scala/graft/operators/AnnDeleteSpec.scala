package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

/** Item-level delete/forget for the ANN store family — the lifecycle
  * operation a training-data pipeline runs routinely (takedowns,
  * dedup-driven removals) that previously forced a full store rebuild.
  * Pins the whole tombstone contract: searches (probe AND ADC) exclude
  * deleted items exactly, appends drop tombstoned ids (takedown wins
  * over late re-delivery), calibration measures the live corpus,
  * splits neither resurrect nor re-file deleted vectors, compaction
  * physically reclaims (including fully-dead lists) and re-opens the
  * ids, and a rebuild clears stale tombstones. Ground truth throughout
  * is brute force over the REMAINING corpus — the q136 invariant. */
class AnnDeleteSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sf0001, "embeddings")

  private def tmpStore(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "item_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet

  test("single store: delete excludes from probe AND ADC searches exactly; idempotent; advice reports tombstones") {
    val dir = tmpStore("anndel")
    Similarity.buildIvfStore(emb, dir, nlist = 8, m = 4, ksub = 8,
      dim = 64)
    val queries = emb.filter(col("vec_id") < 3)
    val gone = emb.filter(col("vec_id") % 7 === 1).select("vec_id")
    val nGone = gone.count()
    assert(Similarity.deleteFromIvfStore(spark, gone, dir) === nGone)
    // re-delivering the takedown batch (plus never-stored ids) files
    // nothing new
    assert(Similarity.deleteFromIvfStore(spark,
      gone.unionByName(Seq(777777L).toDF("vec_id")), dir) === 0L)
    val remaining = emb.filter(col("vec_id") % 7 =!= 1)
    val truth = asSet(Similarity.bruteForceTopK(remaining, queries, 5))
    // exhaustive probing ⇒ exact over the live corpus
    assert(asSet(Similarity.searchIvfStore(spark, queries, dir, k = 5,
      nprobe = 8)) === truth)
    // the ADC path excludes BEFORE the shortlist: with candN = the
    // whole store, ADC at full probing is exact over the live corpus
    assert(asSet(Similarity.searchIvfStoreAdc(spark, queries, dir,
      k = 5, nprobe = 8, candN = 10000)) === truth)
    // no deleted id appears at ANY k
    val all = Similarity.searchIvfStore(spark, queries, dir, k = 10000,
      nprobe = 8).select("item_id").as[Long].collect().toSet
    assert(all.forall(_ % 7 != 1))
    val adv = Similarity.ivfStoreAdvice(spark, dir).collect().head
    assert(adv.getAs[Long]("n_deleted") === nGone)
    assert(adv.getAs[Boolean]("compact_advised"),
      "a 1-in-7 tombstone share must trip the compact advisory")
  }

  test("takedown wins over late re-delivery: appends drop tombstoned ids until compaction re-opens them") {
    val dir = tmpStore("anndelapp")
    Similarity.buildIvfStore(emb.filter(col("vec_id") < 400), dir,
      nlist = 8)
    Similarity.deleteFromIvfStore(spark,
      Seq(7L).toDF("vec_id"), dir)
    val batch = emb.filter(col("vec_id") === 7 || col("vec_id") === 450)
    Similarity.appendToIvfStore(spark, batch, dir)
    val stored = spark.read.parquet(dir + "/encoded")
      .select("item_id").as[Long].collect().toSet
    // 450 landed; 7's PHYSICAL row is the original (not doubled), and
    // it stays excluded from searches
    assert(stored.contains(450L))
    assert(spark.read.parquet(dir + "/encoded")
      .filter(col("item_id") === 7).count() === 1)
    val q = emb.filter(col("vec_id") === 7)
    val found = Similarity.searchIvfStore(spark, q, dir, k = 1000,
      nprobe = 8).select("item_id").as[Long].collect().toSet
    assert(!found.contains(7L))
    // compaction reclaims the row and re-opens the id: a genuine
    // re-add is searchable again
    Similarity.compactIvfStore(spark, dir)
    assert(spark.read.parquet(dir + "/encoded")
      .filter(col("item_id") === 7).count() === 0)
    Similarity.appendToIvfStore(spark, emb.filter(col("vec_id") === 7), dir)
    val back = Similarity.searchIvfStore(spark,
        emb.filter(col("vec_id") === 8), dir, k = 1000, nprobe = 8)
      .select("item_id").as[Long].collect().toSet
    assert(back.contains(7L))
  }

  test("compaction physically reclaims: live rows only, fully-dead lists dropped, tombstones cleared, results unchanged") {
    val dir = tmpStore("anndelcmp")
    Similarity.buildIvfStore(emb, dir, nlist = 8, m = 4, ksub = 8,
      dim = 64)
    val queries = emb.filter(col("vec_id") < 3)
    // kill one ENTIRE list (fully-dead dir) plus a scattering
    val lists = spark.read.parquet(dir + "/encoded")
      .groupBy("list_id").count().as[(Int, Long)].collect()
    val victim = lists.minBy(_._2)._1
    val wholeList = spark.read.parquet(dir + "/encoded")
      .filter(col("list_id") === victim)
      .select(col("item_id").as("vec_id"))
    val scattered = emb.filter(col("vec_id") % 11 === 3).select("vec_id")
    val goneIds = (wholeList.as[Long].collect() ++
      scattered.as[Long].collect()).toSet
    Similarity.deleteFromIvfStore(spark,
      wholeList.unionByName(scattered), dir)
    val truth = asSet(Similarity.searchIvfStore(spark, queries, dir,
      k = 5, nprobe = 8))
    Similarity.compactIvfStore(spark, dir)
    // physically gone from both tables; the fully-dead dirs vanished
    Seq("encoded", "codes").foreach { t =>
      val left = spark.read.parquet(s"$dir/$t")
        .select("item_id").as[Long].collect().toSet
      assert(left.intersect(goneIds).isEmpty, s"$t keeps dead rows")
      assert(!new java.io.File(s"$dir/$t/list_id=$victim").exists(),
        s"$t keeps the fully-dead list dir")
    }
    // tombstones cleared, results identical to pre-compaction
    assert(!new java.io.File(dir + "/deleted").exists())
    assert(asSet(Similarity.searchIvfStore(spark, queries, dir, k = 5,
      nprobe = 8)) === truth)
    assert(asSet(Similarity.searchIvfStoreAdc(spark, queries, dir,
      k = 5, nprobe = 8, candN = 10000)) === truth)
  }

  test("a rebuild clears stale tombstones — they describe the OLD corpus") {
    val dir = tmpStore("anndelrb")
    Similarity.buildIvfStore(emb, dir, nlist = 8)
    Similarity.deleteFromIvfStore(spark, Seq(1L, 2L).toDF("vec_id"), dir)
    Similarity.buildIvfStore(emb, dir, nlist = 8)
    assert(!new java.io.File(dir + "/deleted").exists())
    val found = Similarity.searchIvfStore(spark,
        emb.filter(col("vec_id") === 0), dir, k = 1000, nprobe = 8)
      .select("item_id").as[Long].collect().toSet
    assert(found.contains(1L) && found.contains(2L))
  }

  test("hash-sharded store: delete locates by shard arithmetic; exhaustive search ≡ brute force over the remaining corpus") {
    val dir = tmpStore("anndelsh")
    Similarity.buildShardedIvfStore(emb, dir, shards = 3, nlist = 4)
    val queries = emb.filter(col("vec_id") < 3)
    val gone = emb.filter(col("vec_id") % 5 === 2).select("vec_id")
    assert(Similarity.deleteFromShardedIvfStore(spark, gone, dir) ===
      gone.count())
    val remaining = emb.filter(col("vec_id") % 5 =!= 2)
    assert(asSet(Similarity.searchShardedIvfStore(spark, queries, dir,
      k = 5, nprobe = 4)) ===
      asSet(Similarity.bruteForceTopK(remaining, queries, 5)))
  }

  test("routed store: delete locates by membership (post-split safe); search, calibration, and split all compose with tombstones") {
    val dir = tmpStore("anndelrt")
    val fixture = CrashFixtures.splitFixture(spark)
    val sh = Similarity.buildRoutedIvfStore(fixture, dir, shards = 2,
      nlist = 2, dim = 8, superIters = 3)
    val queries = fixture.filter(col("vec_id") < 6)
    val gone = fixture.filter(col("vec_id") % 9 === 4).select("vec_id")
    assert(Similarity.deleteFromShardedIvfStore(spark, gone, dir) ===
      gone.count())
    val remaining = fixture.filter(col("vec_id") % 9 =!= 4)
    val truth = asSet(Similarity.bruteForceTopK(remaining, queries, 5))
    assert(asSet(Similarity.searchRoutedIvfStore(spark, queries, dir,
      k = 5, nprobe = 2, routeShards = sh)) === truth)
    // calibration measures the LIVE corpus: full-depth recall = 1.0
    val depth = Similarity.calibrateRoutedIvfStore(spark, dir, queries,
      k = 5, targetRecall = 1.0, sampleN = 6)
    assert(depth >= 1 && depth <= sh)
    // a split over a store with tombstones: deleted vectors neither
    // train nor re-file — the hot shard's tombstones are reclaimed
    // with its dir, and the search stays exact over the live corpus
    val newSh = Similarity.splitHotShard(spark, dir, splitIters = 3,
      nlist = 2)
    assert(newSh === sh + 1)
    assert(asSet(Similarity.searchRoutedIvfStore(spark, queries, dir,
      k = 5, nprobe = 2, routeShards = newSh)) === truth)
    val allIds = (0 until newSh).flatMap { i =>
      val p = new java.io.File(s"$dir/shard=$i/encoded")
      if (p.exists()) spark.read.parquet(p.toString)
        .select("item_id").as[Long].collect()
      else Nil
    }
    // no duplicate membership, and whatever physical rows remain for
    // deleted ids stay tombstoned (searches above prove exclusion)
    assert(allIds.size === allIds.distinct.size)
  }

  test("takedown wins STORE-WIDE on a routed store: a re-delivered insert routing to a DIFFERENT shard than its tombstone still drops") {
    val dir = tmpStore("anndelxshard")
    val fixture = CrashFixtures.splitFixture(spark)
    val sh = Similarity.buildRoutedIvfStore(fixture, dir, shards = 2,
      nlist = 2, dim = 8, superIters = 3)
    // id 0 lives in cluster 0's shard; tombstone it there
    assert(Similarity.deleteFromShardedIvfStore(spark,
      Seq(0L).toDF("vec_id"), dir) === 1L)
    // a late re-delivery of id 0 arrives with a DIFFERENT vector (the
    // upstream re-encoded it) that routes to the OTHER shard — the
    // per-shard tombstone cannot see it there; the append must still
    // drop it (takedown wins is a store-wide contract, not a
    // per-shard one)
    val redelivered = fixture.filter(col("vec_id") === 1)
      .select(lit(0L).as("vec_id"), col("embedding"))
    Similarity.appendToRoutedIvfStore(spark, redelivered, dir)
    val everywhere = (0 until sh).flatMap { i =>
      val p = new java.io.File(s"$dir/shard=$i/encoded")
      if (p.exists()) spark.read.parquet(p.toString)
        .filter(col("item_id") === 0).select("item_id")
        .as[Long].collect()
      else Nil
    }
    assert(everywhere.size === 1,
      "the re-delivered insert resurrected a taken-down id in another shard")
    // and it stays invisible to searches
    val found = Similarity.searchRoutedIvfStore(spark,
        fixture.filter(col("vec_id") === 2), dir, k = 1000, nprobe = 2,
        routeShards = sh)
      .select("item_id").as[Long].collect().toSet
    assert(!found.contains(0L))
    // an EXPLICIT upsert still revives — the intentional path
    Similarity.upsertIntoShardedIvfStore(spark, redelivered, dir)
    val after = Similarity.searchRoutedIvfStore(spark,
        fixture.filter(col("vec_id") === 2), dir, k = 1000, nprobe = 2,
        routeShards = sh)
      .select("item_id").as[Long].collect().toSet
    assert(after.contains(0L))
  }

  test("deletes refuse to run over a staged split — resume would resurrect them from the staging") {
    val dir = tmpStore("anndelstg")
    val fixture = CrashFixtures.splitFixture(spark)
    Similarity.buildRoutedIvfStore(fixture, dir, shards = 2, nlist = 2,
      dim = 8, superIters = 3)
    Similarity.stageSplit(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Similarity.deleteFromShardedIvfStore(spark,
        Seq(1L).toDF("vec_id"), dir)
    }
    assert(e.getMessage.contains("staged split"))
    Similarity.resumeSplitHotShard(spark, dir)
    assert(Similarity.deleteFromShardedIvfStore(spark,
      Seq(1L).toDF("vec_id"), dir) === 1L)
  }
}
