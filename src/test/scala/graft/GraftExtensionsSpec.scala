package graft

import org.apache.spark.sql.graft.PlanBridge
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end `spark.sql.extensions=graft.GraftExtensions` behavior on a
  * real (extension-loaded) session: SQL kernel resolution and the
  * RankLimitRewrite → TopKPerGroupExec whole-operator swap. */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val ext = {
    val s = PlanBridge.sessionWithExtensions(SparkSpec.spark,
      new GraftExtensions().apply(_))
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }
  private val sf0001 = "/root/testdata/sf0.001"

  test("SQL-only kernels resolve through the extension") {
    val r = ext.sql(
      """SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                          array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
                graft_might_contain(
                  (SELECT graft_bloom_agg(xxhash64(col), 100)
                   FROM VALUES ('a'), ('b') AS t(col)),
                  xxhash64('a')) AS mc""").head()
    assert(r.getAs[Double]("d") === 11.0)
    assert(r.getAs[Boolean]("mc"))
  }

  test("graft_h60 resolves through the extension and matches the md5 chain") {
    // regression: the portable-hash APIs route through graft_h60 since
    // round 4 — an extensions-only session (no GraftFunctions.register)
    // must still resolve it, and bit-equal to the SQL md5 chain
    val r = ext.sql(
      """SELECT graft_h60('abc') AS h,
                CAST(conv(substring(md5('abc'), 1, 15), 16, 10) AS BIGINT) AS ref
      """).head()
    assert(r.getAs[Long]("h") === r.getAs[Long]("ref"))
    // and a non-string argument that Spark cannot implicitly cast to
    // string fails ANALYSIS, not codegen/runtime
    val e = intercept[Exception] {
      ext.sql("SELECT graft_h60(array(1, 2))").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n")
    assert(msgs.contains("AnalysisException"), msgs)
  }

  test("library portable-hash APIs resolve on an extensions-only session") {
    // the round-4 regression path: DatasetSplit/Mixing route through
    // call_function("graft_h60"); a session configured ONLY via
    // spark.sql.extensions (no GraftFunctions.register call) must
    // still resolve it
    import org.apache.spark.sql.functions.col
    val splits = ext.range(100)
      .select(graft.operators.DatasetSplit.splitCol(col("id"), seed = "f").as("s"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
  }

  test("row_number<=k SQL idiom plans as TopKPerGroupExec, no Sort/Window") {
    graft.sources.Tables.load(ext, sf0001, "orders").createOrReplaceTempView("o")
    val df = ext.sql(
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM o) WHERE rk <= 3""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), plan)
    assert(!plan.contains("WindowExec"), plan)
    assert(!plan.toLowerCase.contains("sort"), plan)
    // and it computes the same rows as the un-extended session
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val want = SparkSpec.spark.sql(
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM oref) WHERE rk <= 3""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got === want)
  }

  test("graft_bloom_agg rejects a non-foldable size argument at analysis, naming the function") {
    // the AnalysisException may arrive wrapped depending on which
    // analyzer phase resolves the function — assert on the chain
    val e = intercept[Exception] {
      ext.sql("""SELECT graft_bloom_agg(xxhash64(col), xxhash64(col))
                 FROM VALUES ('a') AS t(col)""").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n")
    assert(msgs.contains("AnalysisException"), msgs)
    assert(msgs.contains("graft_bloom_agg") && msgs.contains("NON_FOLDABLE_ARGUMENT"), msgs)
  }

  test("graft_bloom_agg rejects a fractional size literal (no silent truncation)") {
    val e = intercept[Exception] {
      ext.sql("""SELECT graft_bloom_agg(xxhash64(col), 2.9)
                 FROM VALUES ('a') AS t(col)""").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("graft_bloom_agg"), msgs)
  }

  test("graft_minhash_sig rejects a BIGINT literal beyond Int range (no silent narrowing)") {
    val e = intercept[Exception] {
      ext.sql("""SELECT graft_minhash_sig(xxhash64(col), 4294967296)
                 FROM VALUES ('a') AS t(col)""").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("graft_minhash_sig") &&
      msgs.contains("INVALID_PARAMETER_VALUE"), msgs)
  }

  test("the rank-limit rewrite honors its conf gate") {
    graft.sources.Tables.load(ext, sf0001, "orders").createOrReplaceTempView("og")
    val sql =
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM og) WHERE rk <= 3"""
    ext.conf.set("spark.graft.topk.rewrite.enabled", "false")
    try {
      val off = ext.sql(sql).queryExecution.executedPlan.toString
      assert(!off.contains("TopKPerGroup"), off)
      assert(off.contains("Window"), off)
    } finally ext.conf.unset("spark.graft.topk.rewrite.enabled")
    val on = ext.sql(sql).queryExecution.executedPlan.toString
    assert(on.contains("TopKPerGroup"), on)
  }

  test("graft_snapshot table function: live and versioned reads through SQL") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tvf-snap").toString + "/snap"
    graft.streaming.MergeSink.applyBatch(spark,
      Seq((1L, "I", "a", 1L), (2L, "I", "b", 2L)).toDF("k", "op", "name", "seq"),
      dir, "k", "op", "seq")
    graft.streaming.MergeSink.applyBatch(spark,
      Seq((1L, "U", "a2", 3L)).toDF("k", "op", "name", "seq"),
      dir, "k", "op", "seq")
    def rows(sql: String) =
      ext.sql(sql).orderBy("k").as[(Long, String)].collect().toSeq
    assert(rows(s"SELECT k, name FROM graft_snapshot('$dir')") ===
      Seq((1L, "a2"), (2L, "b")))
    assert(rows(s"SELECT k, name FROM graft_snapshot('$dir', 1)") ===
      Seq((1L, "a"), (2L, "b")))
    // predicates compose: the TVF expands to a plain pruned scan
    assert(ext.sql(
      s"SELECT name FROM graft_snapshot('$dir', 2) WHERE k = 1")
      .as[String].head() === "a2")
    // a vacuumed / never-committed version fails loudly
    val gone = intercept[Exception] {
      ext.sql(s"SELECT * FROM graft_snapshot('$dir', 99)").collect()
    }
    assert(gone.getMessage.contains("no readable commit 99"), gone.getMessage)
    // a non-foldable path argument fails analysis, naming the function
    val bad = intercept[Exception] {
      ext.sql("SELECT * FROM graft_snapshot(CAST(rand() AS STRING))").collect()
    }
    val msgs = Iterator.iterate(bad: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n")
    assert(msgs.contains("graft_snapshot"), msgs)
  }

  test("graft_snapshot reads STANDING STATE stores (rollup, data card) directly") {
    val spark = SparkSpec.spark
    import spark.implicits._
    // every incremental store (Rollup / DataCard / JoinView) commits
    // through the manifest protocol, so the SQL time-travel TVF reads
    // them with zero extra plumbing — a serving dashboard can query a
    // standing aggregate by path alone
    val dir = java.nio.file.Files.createTempDirectory("tvf-rollup")
      .toString + "/rollup"
    val spec = graft.operators.Rollup.Spec(keys = Seq("k"), sums = Seq("x"))
    graft.operators.Rollup.init(spark, dir,
      Seq(("a", 1.0), ("b", 10.0)).toDF("k", "x"), spec)
    graft.operators.Rollup.fold(spark, dir,
      Seq(("a", 2.0)).toDF("k", "x"), spec)
    assert(ext.sql(
        s"SELECT k, CAST(sum__x AS DOUBLE) FROM graft_snapshot('$dir')")
      .orderBy("k").as[(String, Double)].collect().toSeq ===
      Seq(("a", 3.0), ("b", 10.0)))
    // and the previous generation stays SQL-addressable
    assert(ext.sql(
        s"SELECT CAST(sum__x AS DOUBLE) FROM graft_snapshot('$dir', 1) " +
          "WHERE k = 'a'")
      .as[Double].head() === 1.0)
  }

  test("graft_snapshot resolves via GraftFunctions.register too (programmatic sessions)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tvf-snap2").toString + "/snap"
    graft.streaming.MergeSink.applyBatch(spark,
      Seq((7L, "I", "x", 1L)).toDF("k", "op", "name", "seq"),
      dir, "k", "op", "seq")
    // SparkSpec's shared session registered GraftFunctions at build time
    assert(spark.sql(s"SELECT name FROM graft_snapshot('$dir', 1)")
      .as[String].head() === "x")
  }

  test("graft_rollup / graft_card serve standing stores to SQL-only sessions") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tvf-ops").toString
    // a keyed rollup with a histogram: the finalized view (derived avg,
    // hist array) must come back through pure SQL — bin edges resolved
    // from the persisted spec sidecar, which the state schema alone
    // cannot supply
    val h = graft.operators.Rollup.HistSpec("x", 0.0, 10.0, 5)
    val spec = graft.operators.Rollup.Spec(keys = Seq("k"),
      sums = Seq("x"), hists = Seq(h))
    val rdir = root + "/rollup"
    graft.operators.Rollup.init(spark, rdir,
      Seq(("a", 1.0), ("a", 3.0), ("b", 9.0)).toDF("k", "x"), spec)
    graft.operators.Rollup.fold(spark, rdir,
      Seq(("a", 5.0)).toDF("k", "x"), spec)
    val r = ext.sql(s"""SELECT k, n_rows, sum__x, avg__x,
        element_at(hist__x, 1) AS h0, element_at(hist__x, 3) AS h2
      FROM graft_rollup('$rdir') ORDER BY k""").collect()
    assert(r.map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(r(0).getAs[Double]("sum__x") === 9.0)
    assert(r(0).getAs[Double]("avg__x") === 3.0)
    assert(r(0).getAs[Long]("h0") === 1L) // x=1 in [0,2)
    assert(r(0).getAs[Long]("h2") === 1L) // x=5 in [4,6); x=3 is bin 1

    // a data-card store resolves through graft_card with its null-count
    // rename; reading it as graft_card requires the __card key
    val cdir = root + "/card"
    val card = graft.operators.DataCard.Card(
      nulls = Seq("name"), sums = Seq("x"), vars = Seq("x"))
    graft.operators.DataCard.init(spark, cdir,
      Seq((Some("n1"), 2.0), (None, 4.0)).toDF("name", "x"), card)
    val c = ext.sql(s"""SELECT n_rows, nulls__name, sum__x, var__x
      FROM graft_card('$cdir')""").head()
    assert(c.getAs[Long]("n_rows") === 2L)
    assert(c.getAs[Long]("nulls__name") === 1L)
    assert(c.getAs[Double]("sum__x") === 6.0)
    assert(c.getAs[Double]("var__x") === 1.0)
    // cross-reads fail with a pointed message instead of a wrong shape
    val notCard = intercept[Exception] {
      ext.sql(s"SELECT * FROM graft_card('$rdir')").collect()
    }
    assert(notCard.getMessage.contains("graft_rollup"), notCard.getMessage)
    // a store without a sidecar (pre-round-7) names the self-heal path
    val bare = root + "/bare"
    graft.streaming.MergeSink.applyBatch(spark,
      Seq((1L, "I", 1L)).toDF("k", "op", "seq"),
      bare, "k", "op", "seq")
    val noSpec = intercept[Exception] {
      ext.sql(s"SELECT * FROM graft_rollup('$bare')").collect()
    }
    assert(noSpec.getMessage.contains("_graft_spec.json"), noSpec.getMessage)
  }

  test("graft_constraints parses its DSL and reports per-check (SQL-only)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tvf-dq").toString
    Seq((1L, Some(10.0), "x"), (2L, Some(99.0), "y"), (2L, None, "z"))
      .toDF("id", "v", "s").write.parquet(root + "/t.parquet")
    Seq(1L, 2L).toDF("id").write.parquet(root + "/dim.parquet")
    val rows = ext.sql(
      s"""SELECT check, violations, pass
          FROM graft_constraints('$root/t.parquet',
            'not_null:v;range:v:0:50;set:s:x|y;unique:id;
             pred:v_eq_10:v = 10;ref:id:$root/dim.parquet:id')
          ORDER BY check""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.toSeq === Seq(
      ("in_range(v)", 1L, false),   // 99 out of range; NULL passes
      ("in_set(s)", 1L, false),     // z
      ("not_null(v)", 1L, false),
      ("ref(id->id)", 0L, true),
      ("unique(id)", 2L, false),    // both id=2 rows count
      ("v_eq_10", 2L, false)))      // 99 fails, NULL is a violation
    // malformed DSL items fail analysis naming the bad item
    val bad = intercept[Exception] {
      ext.sql(s"SELECT * FROM graft_constraints('$root/t.parquet', " +
        "'range:v:zero:50')").collect()
    }
    assert(bad.getMessage.contains("non-numeric"), bad.getMessage)

    // ':' inside operands must parse: a URI-schemed ref dimPath
    // (file:/…) and a set value carrying a colon — the repo's own
    // object-store posture (s3a:// paths) depends on bounded splits
    val colons = ext.sql(
      s"""SELECT check, violations, pass
          FROM graft_constraints('$root/t.parquet',
            'ref:id:file:$root/dim.parquet:id;set:s:x|y:z')
          ORDER BY check""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(colons.toSeq === Seq(
      ("in_set(s)", 2L, false),  // set is {x, y:z}: rows y and z fail
      ("ref(id->id)", 0L, true)))
  }

  // register the reference view on the shared session before the test runs
  graft.sources.Tables.load(SparkSpec.spark, sf0001, "orders")
    .createOrReplaceTempView("oref")
}
