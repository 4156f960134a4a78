package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.model.DmsEnvelope

/** F1/P1/splitAll semantics on reference-faithful envelope fixtures
  * (FIXTURES.md §A; reference README.md:200-221, 255-310). */
class StreamSplitterSpec extends SparkSpec {
  import spark.implicits._

  private val personData = StructType(Seq(
    StructField("ID", IntegerType), StructField("full_name", StringType),
    StructField("last_name", StringType), StructField("first_name", StringType)))
  private val schema = DmsEnvelope.envelopeSchema(personData)

  private def meta(table: String, rt: String = "data", op: String = "load",
      ts: String = "2019-11-13T09:59:08.059607Z") =
    Row(ts, rt, op, "primary-key", "dms_sample", table)

  private def fixture = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(Row(3410177, "Anderson Aaron", "Aaron", "Anderson"), meta("person")),
      Row(Row(3410178, "Berta Bee", "Bee", "Berta"), meta("person", op = "insert")),
      Row(null, meta("person", rt = "control", op = "create-table")), // DDL ⇒ data null
      Row(Row(1, "x", "y", "z"), meta("seat"))
    )), schema)

  /** 4 input partitions, each holding 2 person rows, 1 seat row and
    * 1 control record: every read task sees both tables. */
  private def spread = spark.createDataFrame(
    spark.sparkContext.parallelize((0 until 4).flatMap(p => Seq(
      Row(Row(100 + 2 * p, s"P${2 * p}", "L", "F"), meta("person")),
      Row(Row(101 + 2 * p, s"P${2 * p + 1}", "L", "F"), meta("person")),
      Row(Row(200 + p, s"S$p", "L", "F"), meta("seat")),
      Row(null, meta("person", rt = "control", op = "create-table")))), 4),
    schema)

  /** part files per hive leaf of a split, keyed by `schema_name=…/table_name=…` */
  private def partFiles(dir: String): Map[String, Seq[java.io.File]] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("schema_name="))
      .flatMap(s => s.listFiles().filter(_.isDirectory).map(t =>
        s"${s.getName}/${t.getName}" -> t.listFiles().toSeq
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .sortBy(_.getName)))
      .toMap

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(String, Int, String)] =
    df.select(col("table_name"), col("data.ID"), col("data.full_name"))
      .as[(String, Int, String)].collect().toSeq.sorted

  test("demux keeps only the table's data records (F1)") {
    val out = StreamSplitter.demux(fixture, "dms_sample", "person")
    assert(out.count() === 2)
    assert(out.filter(col("data").isNull).count() === 0)
  }

  test("flatten produces the golden person schema (P1, image/image5.png)") {
    val out = StreamSplitter.flatten(
      StreamSplitter.demux(fixture, "dms_sample", "person"))
    assert(out.columns.toSeq === Seq("ID", "full_name", "last_name", "first_name", "timestamp"))
    assert(out.schema("timestamp").dataType === StringType)
    val r = out.orderBy("ID").head()
    assert(r.getAs[Int]("ID") === 3410177)
    assert(r.getAs[String]("timestamp") === "2019-11-13T09:59:08.059607Z")
  }

  test("splitAll conserves rows: sum of per-table splits + dropped controls = input") {
    val dir = java.nio.file.Files.createTempDirectory("splitall").toString
    StreamSplitter.splitAll(fixture, dir)
    val out = spark.read.parquet(dir)
    val controls = fixture.filter(col("data").isNull).count()
    assert(out.count() + controls === fixture.count())
    // hive layout: partition pruning per table
    val person = out.filter(col("table_name") === "person")
    assert(person.count() === 2)
    assert(new java.io.File(s"$dir/schema_name=dms_sample/table_name=person").exists())
  }

  test("readSplit reads both layouts: splitOne's explicit dirs and splitAll's hive dirs") {
    val d1 = java.nio.file.Files.createTempDirectory("rs-explicit").toString
    StreamSplitter.splitOne(fixture, "dms_sample", "person", d1)
    assert(StreamSplitter.readSplit(spark, d1, "dms_sample", "person").count() === 2)
    val d2 = java.nio.file.Files.createTempDirectory("rs-hive").toString
    StreamSplitter.splitAll(fixture, d2)
    val hive = StreamSplitter.readSplit(spark, d2, "dms_sample", "person")
    assert(hive.count() === 2) // was path-not-found before the layout probe
  }

  test("readSplit probes the ESCAPED hive leaf for special-charactered names") {
    // a table name with a character the partitioned writer percent-
    // escapes in the leaf dir (':' → '%3A'): the probe path must apply
    // the same escaping or it looks for a directory that never exists
    val weird = fixture.withColumn("metadata",
      struct(col("metadata.timestamp"), col("metadata.`record-type`"),
        col("metadata.operation"), col("metadata.`partition-key-type`"),
        col("metadata.`schema-name`"),
        when(col("metadata.`table-name`") === "person", lit("per:son"))
          .otherwise(col("metadata.`table-name`")).as("table-name")))
    val dir = java.nio.file.Files.createTempDirectory("rs-escape").toString
    StreamSplitter.splitAll(weird, dir)
    assert(new java.io.File(
      s"$dir/schema_name=dms_sample/table_name=per%3Ason").exists())
    assert(StreamSplitter.readSplit(spark, dir, "dms_sample", "per:son")
      .count() === 2)
  }

  test("registerSplitTable: persisted partitioned catalog table over the split (S7)") {
    val dir = java.nio.file.Files.createTempDirectory("splitcat").toString
    StreamSplitter.splitAll(fixture, dir)
    StreamSplitter.registerSplitTable(spark, dir, "cdc_split")
    assert(spark.catalog.tableExists("cdc_split"))
    // partitions recovered from the hive layout into the catalog
    val parts = spark.sql("SHOW PARTITIONS cdc_split").collect().map(_.getString(0))
    assert(parts.toSet === Set(
      "schema_name=dms_sample/table_name=person",
      "schema_name=dms_sample/table_name=seat"))
    // resolution + partition pruning through the catalog entry
    assert(spark.sql(
      "SELECT count(*) FROM cdc_split WHERE table_name = 'person'").head().getLong(0) === 2L)
    // catalog-backed scaled tables (the Glue-catalog analog for S4 reads)
    graft.sources.Tables.registerAllAsTables(spark, sf0001)
    assert(spark.catalog.tableExists("graft.orders"))
    val n = spark.sql("SELECT count(*) FROM graft.orders").head().getLong(0)
    assert(n > 0)
    // idempotent re-registration: same sfDir → no DROP+CREATE, the catalog
    // entry (createTime identity) survives the second call untouched
    val id = org.apache.spark.sql.catalyst.TableIdentifier("orders", Some("graft"))
    val created = spark.sessionState.catalog.getTableMetadata(id).createTime
    graft.sources.Tables.registerAllAsTables(spark, sf0001)
    assert(spark.sessionState.catalog.getTableMetadata(id).createTime === created)
    spark.sql("DROP TABLE cdc_split")
  }

  test("landing JSON → schema inference → split (S4/S5, crawler analog)") {
    // two tables' payloads in one landing file: inference produces the
    // union-of-tables data struct, exactly the crawler's view
    // (reference image/image2.png)
    val lines = Seq(
      """{"data": {"ID": 1, "full_name": "A B"}, "metadata": {"timestamp": "t1", "record-type": "data", "operation": "load", "partition-key-type": "primary-key", "schema-name": "dms_sample", "table-name": "person"}}""",
      """{"data": {"id": 7, "ticket_price": 46.57}, "metadata": {"timestamp": "t2", "record-type": "data", "operation": "load", "partition-key-type": "primary-key", "schema-name": "dms_sample", "table-name": "sporting_event_ticket"}}""",
      """{"data": null, "metadata": {"timestamp": "t0", "record-type": "control", "operation": "create-table", "partition-key-type": "schema-table", "schema-name": "dms_sample", "table-name": "person"}}""")
    val f = java.nio.file.Files.createTempFile("landing", ".json")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    // the union schema case-collides (`id` ticket vs `ID` person,
    // reference image/image2.png) — landing reads need case-sensitive
    // resolution (SURVEY §7.3 risk #2); this IS the documented policy
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val env = spark.read.json(f.toString)
      val dataFields = env.schema("data").dataType
        .asInstanceOf[StructType].fieldNames.toSet
      assert(dataFields === Set("ID", "full_name", "id", "ticket_price"))
      val person = StreamSplitter.flatten(
        StreamSplitter.demux(env, "dms_sample", "person"))
      assert(person.count() === 1)
      assert(person.select("full_name").head().getString(0) === "A B")
    } finally spark.conf.set("spark.sql.caseSensitive", "false")
  }

  test("splitOne writes hive-partitioned parquet (R1+S6)") {
    val dir = java.nio.file.Files.createTempDirectory("splitone").toString
    StreamSplitter.splitOne(fixture, "dms_sample", "person", dir,
      partitionKeys = Seq("first_name"))
    assert(new java.io.File(s"$dir/dms_sample/person/first_name=Anderson").exists())
    val back = spark.read.parquet(s"$dir/dms_sample/person")
    assert(back.count() === 2)
  }

  test("readSplit merges drifted schemas across appended micro-batches (risk #4)") {
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    // batch 1: the original 4-column person schema
    StreamSplitter.splitOne(fixture, "dms_sample", "person", dir)
    // batch 2: source table gained an `email` column mid-stream
    val personV2 = StructType(personData.fields :+ StructField("email", StringType))
    val batch2 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Row(3410179, "Cara Cee", "Cee", "Cara", "cc@example.com"),
          meta("person", op = "insert", ts = "2019-11-13T10:00:00.000000Z")))),
      DmsEnvelope.envelopeSchema(personV2))
    StreamSplitter.splitOne(batch2, "dms_sample", "person", dir,
      mode = org.apache.spark.sql.SaveMode.Append)
    val merged = StreamSplitter.readSplit(spark, dir, "dms_sample", "person")
    // union schema: new column present; pre-drift rows read it as NULL
    assert(merged.columns.contains("email"))
    assert(merged.count() === 3)
    assert(merged.filter(col("email").isNull).count() === 2)
    assert(merged.filter(col("email") === "cc@example.com").count() === 1)
    // a plain read (no mergeSchema) picks ONE footer and may miss the
    // column — the helper exists precisely because of this
  }

  test("replayAll overwrites only the partitions present in the batch") {
    val dir = java.nio.file.Files.createTempDirectory("replay").toString
    StreamSplitter.splitAll(fixture, dir) // person(2 rows) + seat(1 row)
    // replay touches ONLY person, with corrected contents (1 row)
    val replay = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Row(3410177, "Anderson Aaron FIXED", "Aaron", "Anderson"),
          meta("person")))), schema)
    StreamSplitter.replayAll(replay, dir)
    val back = spark.read.parquet(dir)
    // person replaced (2 → 1 rows), seat untouched
    assert(back.filter(col("table_name") === "person").count() === 1)
    assert(back.filter(col("table_name") === "seat").count() === 1)
    assert(back.filter(col("data.full_name") === "Anderson Aaron FIXED").count() === 1)
    // conf restored: session default is static again
    assert(!spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("dynamic"))
  }

  test("splitAllObserved reports routing counters from the write pass") {
    val dir = java.nio.file.Files.createTempDirectory("observed").toString
    val m = StreamSplitter.splitAllObserved(fixture, dir)
    assert(m("n_input") === 4L)
    assert(m("n_kept") === 3L)
    assert(m("n_controls_dropped") === 1L)
    assert(m("n_tables").asInstanceOf[Long] >= 2L)
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("splitAll writes one part file per table partition, not one per read task") {
    assert(spread.rdd.getNumPartitions === 4)
    val dir = java.nio.file.Files.createTempDirectory("split-onefile").toString
    StreamSplitter.splitAll(spread, dir)
    val leaves = partFiles(dir)
    assert(leaves.keySet === Set("schema_name=dms_sample/table_name=person",
      "schema_name=dms_sample/table_name=seat"))
    leaves.foreach { case (leaf, files) => assert(files.size === 1, leaf) }
    val expected = spread.filter(col("data").isNotNull)
      .withColumn("table_name", StreamSplitter.tableNameCol)
    assert(rowsOf(spark.read.parquet(dir)) === rowsOf(expected))
    assert(rowsOf(expected).size === 12)
  }

  test("splitAllObserved counts exactly over a multi-partition input") {
    val dir = java.nio.file.Files.createTempDirectory("observed-spread").toString
    val m = StreamSplitter.splitAllObserved(spread, dir)
    assert(m("n_input") === 16L)
    assert(m("n_kept") === 12L)
    assert(m("n_controls_dropped") === 4L)
    assert(spark.read.parquet(dir).count() === 12)
    partFiles(dir).foreach { case (leaf, files) => assert(files.size === 1, leaf) }
  }

  test("replayAll rewrites the replayed partition as one file, the rest byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("replay-onefile").toString
    StreamSplitter.splitAll(spread, dir)
    val seatLeaf = "schema_name=dms_sample/table_name=seat"
    val before = partFiles(dir)(seatLeaf).map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
    // replay person only, still spread over 4 read tasks
    StreamSplitter.replayAll(spread.filter(StreamSplitter.tableNameCol === "person"), dir)
    val after = partFiles(dir)
    assert(after("schema_name=dms_sample/table_name=person").size === 1)
    assert(after(seatLeaf).map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq) === before)
    assert(spark.read.parquet(dir).filter(col("table_name") === "person").count() === 8)
  }

  test("registerSplitTable accepts a directory whose path holds a quote") {
    val base = java.nio.file.Files.createTempDirectory("o'brien").toString
    val dir = s"$base/split"
    StreamSplitter.splitAll(fixture, dir)
    StreamSplitter.registerSplitTable(spark, dir, "cdc_split_quoted")
    try {
      assert(spark.sql("SELECT count(*) FROM cdc_split_quoted " +
        "WHERE table_name = 'person'").head().getLong(0) === 2L)
      assert(spark.sql("SHOW PARTITIONS cdc_split_quoted").count() === 2)
      // re-registration drops the old entry first
      StreamSplitter.registerSplitTable(spark, dir, "cdc_split_quoted")
      assert(spark.table("cdc_split_quoted").count() === 3)
    } finally spark.sql("DROP TABLE IF EXISTS cdc_split_quoted")
  }
}
