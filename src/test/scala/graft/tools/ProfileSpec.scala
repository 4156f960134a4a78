package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The profiler's collector: per-phase job counts are exactly the jobs
  * each body submits, and the collector itself costs no job. */
class ProfileSpec extends SparkSpec {

  test("collector: per-phase job counts equal jobsOf; registering it adds 0 jobs") {
    def scan(): Unit = { Tables.load(spark, sf0001, "orders").count(); () }
    def agg(): Unit = Tables.load(spark, sf0001, "orders")
      .groupBy("o_custkey").agg(sum("o_totalprice"))
      .write.format("noop").mode("overwrite").save()
    val expected = Seq(jobsOf(scan()), jobsOf(agg()))
    assert(expected.forall(_ > 0))
    var c: Profile.Collector = null
    assert(jobsOf { c = new Profile.Collector(spark) } === 0)
    try {
      assert(Seq(jobsOf(scan()), jobsOf(agg())) === expected)
      c.phase("scan")(scan())
      c.phase("agg")(agg())
      val phases = c.take()
      assert(phases.map(_.name) === Seq("scan", "agg"))
      assert(phases.map(_.jobs) === expected)
      assert(phases.map(_.sites.map(_._2.toLong).sum) === expected)
      assert(phases(1).shuffleWriteMB > 0)
      assert(c.take().isEmpty)
    } finally c.close()
  }

  test("a job with no description is labelled by its result stage: one shuffle action run 5 times gets one label, its call site") {
    val c = new Profile.Collector(spark)
    try c.phase("shuffle") {
      (1 to 5).foreach { _ =>
        spark.sparkContext.parallelize(1 to 100, 4).map(i => (i % 7, i))
          .reduceByKey(_ + _).collect()
      }
    } finally c.close()
    val sites = c.take().head.sites
    assert(sites.map(_._2) === Seq(5), sites)
    assert(sites.head._1.startsWith("collect at ProfileSpec.scala"), sites)
  }

  test("lifecycle:q142 leaves the catalog's table list and the warehouse as it found them") {
    def tables() = spark.catalog.listTables().collect().map(_.name).toSet
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sessionState.newHadoopConf())
    def entries() =
      if (fs.exists(wh)) fs.listStatus(wh).map(_.getPath.getName).toSet else Set.empty[String]
    val (t0, w0) = (tables(), entries())
    val c = new Profile.Collector(spark)
    try Profile.lifecycles("q142")(spark, sf0001, c) finally c.close()
    assert(c.take().map(_.name).contains("applySigCdcBatch b1"))
    assert(tables() === t0)
    assert(entries() === w0)
  }
}
