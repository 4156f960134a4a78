package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Structured Streaming demux path (SURVEY §3.2): MemoryStream of raw
  * envelope JSON → parse → foreachBatch split / windowed op counts. */
class StreamingDemuxSpec extends SparkSpec {
  import spark.implicits._

  private def envJson(table: String, id: Int, ts: String,
      control: Boolean = false): String = {
    val data = if (control) "null" else s"""{"ID": $id}"""
    s"""{"data": $data, "metadata": {"timestamp": "$ts", "record-type": "${if (control) "control" else "data"}",
        "operation": "load", "partition-key-type": "primary-key",
        "schema-name": "dms_sample", "table-name": "$table"}}""".replaceAll("\n\\s*", " ")
  }

  test("streaming split: micro-batches demux to per-table hive dirs") {
    implicit val sqlCtx = spark.sqlContext
    // 4 source partitions, so every read task of a batch sees both tables
    val mem = MemoryStream[String](4)
    val out = java.nio.file.Files.createTempDirectory("streamsplit").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    // AvailableNow snapshots offsets at start — enqueue before starting
    mem.addData(
      envJson("person", 1, "2019-11-13T09:59:08.059607Z"),
      envJson("person", 2, "2019-11-13T09:59:09.000000Z"),
      envJson("seat", 3, "2019-11-13T09:59:10.000000Z"),
      envJson("person", 0, "2019-11-13T09:58:00.000000Z", control = true),
      envJson("person", 4, "2019-11-13T09:59:11.000000Z"),
      envJson("seat", 5, "2019-11-13T09:59:12.000000Z"),
      envJson("seat", 6, "2019-11-13T09:59:13.000000Z"),
      envJson("person", 7, "2019-11-13T09:59:14.000000Z"))
    val q = StreamingDemux.splitStream(
      StreamingDemux.parseEnvelopes(mem.toDF()), out, ckpt,
      trigger = Trigger.AvailableNow())
    awaitDrained(q, 60000)
    val split = spark.read.parquet(out)
    assert(split.count() === 7) // control dropped
    assert(split.filter(col("table_name") === "person").count() === 4)
    assert(split.filter(col("table_name") === "seat").count() === 3)
    // at most one new file per table per micro-batch
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 1)
    Seq("person", "seat").foreach { t =>
      val files = new java.io.File(s"$out/schema_name=dms_sample/table_name=$t")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= batches, s"$t: $files files over $batches batches")
    }
  }

  test("windowed per-table op counts with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val counts = StreamingDemux.opCountsByWindow(
      StreamingDemux.parseEnvelopes(mem.toDF()),
      windowDur = "10 minutes", watermark = "10 minutes")
    mem.addData(
      envJson("person", 1, "2019-11-13T09:59:08.000000Z"),
      envJson("person", 2, "2019-11-13T09:59:09.000000Z"),
      envJson("seat", 3, "2019-11-13T10:31:10.000000Z"))
    val q = counts.writeStream.format("memory").queryName("opcounts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    awaitDrained(q, 60000)
    val res = spark.table("opcounts")
      .select("table_name", "n").as[(String, Long)].collect().toMap
    assert(res === Map("person" -> 2L, "seat" -> 1L))
  }

  test("error routing: malformed records divert to the error prefix") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(
      envJson("person", 1, "2019-11-13T09:59:08.000000Z"),
      """{"this is": "not an envelope"}""",
      "total garbage {{{",
      envJson("seat", 2, "2019-11-13T09:59:09.000000Z"))
    val out = java.nio.file.Files.createTempDirectory("goodout").toString
    val err = java.nio.file.Files.createTempDirectory("errout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("errckpt").toString
    val q = StreamingDemux.splitStreamWithErrors(mem.toDF(), out, err, ckpt,
      trigger = Trigger.AvailableNow())
    awaitDrained(q, 60000)
    assert(spark.read.parquet(out).count() === 2)
    val errors = spark.read.text(err).collect().map(_.getString(0)).toSet
    assert(errors === Set("""{"this is": "not an envelope"}""", "total garbage {{{"))
  }

  test("streaming session windows merge events within the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    // person: two bursts 2h apart → 2 sessions; seat: one event
    mem.addData(
      envJson("person", 1, "2019-11-13T09:00:00.000000Z"),
      envJson("person", 2, "2019-11-13T09:10:00.000000Z"),
      envJson("person", 3, "2019-11-13T11:30:00.000000Z"),
      envJson("seat", 4, "2019-11-13T09:05:00.000000Z"))
    val q = StreamingDemux.sessionsByTable(
        StreamingDemux.parseEnvelopes(mem.toDF()), gap = "30 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    awaitDrained(q, 60000)
    val sessions = spark.table("sessions")
      .select("table_name", "n").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(sessions === Map("person" -> Seq(1L, 2L), "seat" -> Seq(1L)))
  }

  test("Firehose-analog lander: gzip json, date-partitioned (S3)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(
      envJson("person", 1, "2019-11-13T09:59:08.000000Z"),
      envJson("person", 2, "2019-11-14T10:00:00.000000Z"))
    val landing = java.nio.file.Files.createTempDirectory("landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("landckpt").toString
    val q = StreamingDemux.landToJson(
      StreamingDemux.parseEnvelopes(mem.toDF()), landing, ckpt,
      trigger = Trigger.AvailableNow()).start()
    awaitDrained(q, 60000)
    // date-templated prefix (reference README.md:76) + gzip (README.md:82)
    assert(new java.io.File(s"$landing/ingest_date=2019-11-13").exists())
    assert(new java.io.File(s"$landing/ingest_date=2019-11-14").exists())
    val files = new java.io.File(s"$landing/ingest_date=2019-11-13")
      .listFiles().filter(_.getName.endsWith(".json.gz"))
    assert(files.nonEmpty)
    val back = spark.read.json(landing)
    assert(back.count() === 2)
  }

  test("contract lander: clean rows land, violating rows quarantine with their violations") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(
      envJson("person", 1, "2019-11-13T09:59:08.000000Z"),
      envJson("person", 2, "2019-11-13T09:59:09.000000Z"),
      envJson("seat", 3, "2019-11-13T09:59:10.000000Z"),
      // control record: data null → violates the not-null contract
      envJson("person", 0, "2019-11-13T09:58:00.000000Z", control = true))
    val landing = java.nio.file.Files.createTempDirectory("cland").toString
    val quarantine = java.nio.file.Files.createTempDirectory("cquar").toString
    val ckpt = java.nio.file.Files.createTempDirectory("clandck").toString
    val checks = Seq(
      graft.operators.Constraints.NotNull("data"),
      graft.operators.Constraints.Predicate("known_table",
        col("metadata.`table-name`").isin("person", "seat")))
    val q = StreamingDemux.landWithContract(
      StreamingDemux.parseEnvelopes(mem.toDF()), landing, quarantine,
      checks, ckpt, trigger = Trigger.AvailableNow())
    awaitDrained(q, 60000)

    val clean = spark.read.json(landing)
    assert(clean.count() === 3)
    assert(clean.columns.toSet.contains("data"))
    assert(!clean.columns.contains("violated")) // contract is invisible
    // gzip + date layout preserved from the plain lander
    assert(new java.io.File(s"$landing/ingest_date=2019-11-13")
      .listFiles().exists(_.getName.endsWith(".json.gz")))

    val bad = spark.read.json(quarantine)
    assert(bad.count() === 1)
    assert(bad.select(explode(col("violated"))).as[String]
      .collect().toSeq === Seq("not_null(data)"))
  }

  test("streaming windowed counts match the equivalent batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val data = (0 until 50).map(i =>
      envJson(if (i % 3 == 0) "seat" else "person", i % 10,
        f"2019-11-13T09:${10 + i % 40}%02d:00.000000Z"))
    mem.addData(data: _*)
    val q = StreamingDemux.opCountsByWindow(
        StreamingDemux.parseEnvelopes(mem.toDF()), "10 minutes", "10 minutes")
      .writeStream.format("memory").queryName("parity")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    awaitDrained(q, 60000)
    val streamed = spark.table("parity")
      .select(col("window.start").cast("string"), col("table_name"), col("n"))
      .as[(String, String, Long)].collect().toSet
    val batch = StreamingDemux.parseEnvelopes(
        spark.createDataset(data).toDF("value"))
      .groupBy(window(col("event_ts"), "10 minutes"),
        col("metadata.`table-name`").as("table_name"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string"), col("table_name"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("idempotentBatch runs each batchId's side effects exactly once") {
    val commits = java.nio.file.Files.createTempDirectory("commits").toString
    var calls = List.empty[Long]
    val body = StreamingDemux.idempotentBatch(commits) { (_, id) =>
      calls = id :: calls
    }
    val df = spark.range(1).toDF()
    body(df, 0L); body(df, 1L)
    body(df, 0L) // re-delivery after a simulated sink/checkpoint crash
    body(df, 1L); body(df, 2L)
    assert(calls.reverse === List(0L, 1L, 2L))
    // a fresh wrapper over the SAME commit log stays idempotent (driver restart)
    val body2 = StreamingDemux.idempotentBatch(commits) { (_, id) =>
      calls = id :: calls
    }
    body2(df, 2L); body2(df, 3L)
    assert(calls.reverse === List(0L, 1L, 2L, 3L))
  }
}
