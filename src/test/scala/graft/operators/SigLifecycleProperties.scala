package graft.operators

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Randomized net-state equivalence for the signature stores'
  * mutation lifecycle, on all four stores (MinHash or wide SimHash,
  * dir or bucketed): under RANDOM corpus sizes, bucket counts, band
  * configs, write-task layouts, takedown sets and replacement sets,
  * a build + delete + upsert sequence must leave the store EXACTLY
  * equal to the net corpus — every live id's stored sig (and MinHash
  * band rows) equal the net text's (the q141/q142 audit), no
  * resurrections, no duplicate physical rows. This is the property form of the r15
  * file-targeted-reclaim work: the deterministic specs pin the known
  * layouts (the 4-bands-over-8-buckets always-misses shape that
  * caught the key-level-heal bug); the generator walks the layout
  * space the next such bug would hide in. */
object SigLifecycleProperties extends Properties("sigLifecycle") {

  private lazy val spark = SparkSpec.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private case class Case(nDocs: Int, parts: Int, buckets: Int,
      bands: Int, delIds: Set[Long], upIds: Set[Long])

  private val caseGen: Gen[Case] = for {
    nDocs <- Gen.chooseNum(6, 40)
    parts <- Gen.chooseNum(1, 4)
    buckets <- Gen.oneOf(2, 4, 8)
    bands <- Gen.oneOf(2, 4, 8, 16)
    dels <- Gen.someOf(0L until nDocs.toLong)
    ups <- Gen.someOf(0L until nDocs.toLong)
  } yield Case(nDocs, parts, buckets, bands, dels.toSet, ups.toSet)

  private def txt(i: Long) = s"property document $i with its own " +
    s"words p$i q$i r$i s$i t$i u$i v$i w$i"
  private def rev(s: String) = s.split("\\s+").reverse.mkString(" ")

  property("build + delete + upsert ≡ net corpus on random layouts and batches") =
    Prop.forAll(caseGen) { c =>
      import spark.implicits._
      import Dedup._
      val table = "sigprop"
      def dropTables(): Unit =
        Seq("_sigs", "_bands", "_meta", "_deleted")
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $table$t"))
      val dir = java.nio.file.Files.createTempDirectory("sigprop")
        .toString + "/store"
      val docs = (0L until c.nDocs.toLong).map(i => (i, txt(i)))
        .toDF("doc_id", "text").repartition(c.parts)
      // net: deletes stay down unless upserted (upsert revives);
      // upserted ids carry the reversed text
      val live = (0L until c.nDocs.toLong)
        .filter(i => !c.delIds.contains(i) || c.upIds.contains(i))
      val net = live.map(i =>
          (i, if (c.upIds.contains(i)) rev(txt(i)) else txt(i)))
        .toDF("doc_id", "text")
      val minhash = MinHash(numHashes = 64, bands = c.bands, shingleN = 5)
      Seq(SigStore(minhash, Dir(dir)), SigStore(WideSimhash(), Dir(dir)),
          SigStore(minhash, Bucketed(table, c.buckets)),
          SigStore(WideSimhash(), Bucketed(table, c.buckets)))
        .map { store =>
          dropTables()
          store.build(docs, "doc_id", "text")
          if (c.delIds.nonEmpty)
            store.delete(spark, c.delIds.toSeq.toDF("doc_id"))
          if (c.upIds.nonEmpty)
            store.upsert(spark, c.upIds.toSeq.map(i => (i, rev(txt(i))))
              .toDF("doc_id", "text"), "doc_id", "text")
          val audit = store.audit(spark, net, "doc_id", "text")
          val auditRows = audit.count()
          val badRows = audit.filter(audit.columns.filter(_.endsWith("_ok"))
            .map(c => !col(c)).reduce(_ || _)).count()
          val stored = store.layout match {
            case Dir(p) => spark.read.parquet(p)
            case Bucketed(t, _) => spark.table(s"${t}_sigs")
          }
          val dupSigs = stored.groupBy("id").count()
            .filter(col("count") > 1).count()
          dropTables()
          Prop(auditRows == live.size.toLong) :|
              s"$store: audit rows $auditRows != ${live.size}" &&
            Prop(badRows == 0L) :|
              s"$store: $badRows live ids mismatch the net corpus" &&
            Prop(dupSigs == 0L) :| s"$store: $dupSigs duplicated sig rows"
        }.reduce(_ && _)
    }
}
