package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.model.DmsEnvelope
import graft.operators.StreamSplitter

/** Crawler analog: per-table schema inference over raw (string-`data`)
  * envelopes + late-bound from_json demux. */
class SchemaRegistrySpec extends SparkSpec {

  private def meta(table: String, rt: String = "data", schema: String = "dms_sample") =
    Row("2019-11-13T09:59:08.059607Z", rt, "load", "primary-key", schema, table)

  private def envelopes(rows: Seq[Row], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices),
      DmsEnvelope.rawEnvelopeSchema)

  // every shape JSON inference distinguishes, spread over 4 partitions
  // so the per-partition fold and the driver merge both run
  private def crawlFixture = envelopes(Seq(
    // choice type (int vs string) and drift (`late` only in later records)
    Row("""{"id": 1, "v": 5}""", meta("conflict")),
    Row("""{"id": 2, "v": "five"}""", meta("conflict")),
    Row("""{"id": 3, "v": 6, "late": true}""", meta("conflict")),
    Row("""{"id": 4, "late": false, "v": 7.5}""", meta("conflict")),
    // nested struct, arrays of structs, an always-null field
    Row("""{"n": {"a": 1, "b": [{"c": "x"}]}, "gone": null}""", meta("nested")),
    Row("""{"n": {"a": 2, "b": [{"c": "y", "d": 1.5}, {"c": "z"}]}, "gone": null}""",
      meta("nested")),
    Row("""{"n": {"b": []}, "arr": [1, 2], "gone": null}""", meta("nested")),
    // every payload empty → the empty struct
    Row("{}", meta("empty")), Row("{}", meta("empty")), Row("{}", meta("empty")),
    // one malformed payload → the session's corrupt-record column
    Row("""{"id": 1, "ok": "yes"}""", meta("broken")),
    Row("""{"id": 2, "ok": """, meta("broken")),
    Row("""{"id": 3}""", meta("broken")),
    // a table name that is not an identifier
    Row("""{"k": "a"}""", meta("odd.name-x")),
    Row("""{"k": 1}""", meta("odd.name-x")),
    // the same table name under two schema names, different payloads
    Row("""{"ID": 1, "full_name": "A B"}""", meta("person")),
    Row("""{"person_id": 9, "score": 0.5}""", meta("person", schema = "other_schema")),
    Row("""{"ID": 2, "email": "cd@x.com"}""", meta("person")),
    // controls carry no payload and list no table
    Row(null, meta("conflict", rt = "control")),
    Row(null, meta("control_only", rt = "control"))
  ), 4)

  // raw envelopes: data is a JSON STRING (streaming-safe form)
  private def raw = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("""{"ID": 1, "full_name": "A B"}""", meta("person")),
      Row("""{"ID": 2, "full_name": "C D", "email": "cd@x.com"}""", meta("person")),
      Row("""{"id": 7, "ticket_price": 46.57}""", meta("sporting_event_ticket")),
      Row(null, meta("person", rt = "control"))
    )), DmsEnvelope.rawEnvelopeSchema)

  test("inferAll crawls every table present and registers union schemas") {
    val reg = new SchemaRegistry
    val keys = reg.inferAll(spark, raw)
    assert(keys === Seq("dms_sample" -> "person", "dms_sample" -> "sporting_event_ticket"))
    val person = reg.get("dms_sample", "person").get
    // union across records: email appears though only one record has it
    assert(person.fieldNames.toSet === Set("ID", "full_name", "email"))
    assert(person("ID").dataType === LongType) // JSON inference widens ints
  }

  test("bindTable decodes and flattens with the registered schema") {
    val reg = new SchemaRegistry
    reg.infer(spark, raw, "dms_sample", "person")
    val person = reg.bindTable(raw, "dms_sample", "person")
    assert(person.columns.toSeq.sorted === Seq("ID", "email", "full_name", "timestamp"))
    assert(person.count() === 2) // control dropped
    assert(person.filter(col("email").isNull).count() === 1)
  }

  test("bindTable without a registered schema fails loudly") {
    val reg = new SchemaRegistry
    intercept[IllegalArgumentException] {
      reg.bindTable(raw, "dms_sample", "person")
    }
  }

  test("bindTable works identically on a streaming DataFrame") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // registry populated from the batch crawl (the reference's
    // crawler-then-job order); the stream late-binds with it
    val reg = new SchemaRegistry
    reg.infer(spark, raw, "dms_sample", "person")
    val mem = MemoryStream[String]
    mem.addData(
      """{"data": "{\"ID\": 5, \"full_name\": \"E F\"}", "metadata": {"timestamp": "2019-11-13T09:59:11.000000Z", "record-type": "data", "operation": "insert", "partition-key-type": "primary-key", "schema-name": "dms_sample", "table-name": "person"}}""",
      """{"data": "{\"id\": 9}", "metadata": {"timestamp": "2019-11-13T09:59:12.000000Z", "record-type": "data", "operation": "insert", "partition-key-type": "primary-key", "schema-name": "dms_sample", "table-name": "sporting_event_ticket"}}""")
    val parsed = mem.toDF().select(
      from_json(col("value"), DmsEnvelope.rawEnvelopeSchema).as("env"))
      .select(col("env.data").as("data"), col("env.metadata").as("metadata"))
    val bound = reg.bindTable(parsed, "dms_sample", "person")
    assert(bound.isStreaming)
    val q = bound.writeStream.format("memory").queryName("bound_person")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("bound_person").collect()
    assert(rows.length === 1) // ticket record demuxed away
    assert(rows.head.getAs[Long]("ID") === 5L)
    assert(rows.head.getAs[String]("full_name") === "E F")
  }

  test("inferAll equals spark.read.json per table and lists the distinct tables") {
    import spark.implicits._
    val raw = crawlFixture
    val reg = new SchemaRegistry
    val keys = reg.inferAll(spark, raw)
    val distinctKeys = raw.filter(col("data").isNotNull)
      .select(StreamSplitter.schemaNameCol, StreamSplitter.tableNameCol)
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(keys === distinctKeys)
    assert(keys.size === 7)
    keys.foreach { case (s, t) =>
      val single = spark.read
        .json(StreamSplitter.demux(raw, s, t).select("data").as[String]).schema
      assert(reg.get(s, t) === Some(single), s"$s.$t")
    }
    // the fixture exercises what it claims to
    val conflict = reg.get("dms_sample", "conflict").get
    assert(conflict("v").dataType === StringType)
    assert(conflict.fieldNames.contains("late"))
    val nested = reg.get("dms_sample", "nested").get
    assert(nested("gone").dataType === StringType)
    assert(nested("n").dataType.asInstanceOf[StructType]("b").dataType ===
      ArrayType(StructType(Seq(StructField("c", StringType), StructField("d", DoubleType)))))
    assert(reg.get("dms_sample", "empty") === Some(StructType(Nil)))
    assert(reg.get("dms_sample", "broken").get.fieldNames
      .contains(spark.conf.get("spark.sql.columnNameOfCorruptRecord")))
    assert(reg.get("dms_sample", "person") !== reg.get("other_schema", "person"))
  }

  test("infer with a samplingRatio samples exactly as spark.read.json does") {
    import spark.implicits._
    // one distinct field per record, so the sampled schema names the sample
    val raw = envelopes((0 until 200).map(i => Row(s"""{"f$i": $i}""", meta("wide"))), 4)
    val expected = spark.read.option("samplingRatio", 0.5)
      .json(StreamSplitter.demux(raw, "dms_sample", "wide").select("data").as[String]).schema
    val reg = new SchemaRegistry
    assert(reg.infer(spark, raw, "dms_sample", "wide", samplingRatio = 0.5) === expected)
    assert(expected.size > 0 && expected.size < 200)
    assert(reg.infer(spark, raw, "dms_sample", "wide").size === 200)
  }

  test("inferAll over a multi-table backlog submits exactly one Spark job") {
    val raw = crawlFixture
    val reg = new SchemaRegistry
    var keys = Seq.empty[(String, String)]
    assert(jobsOf { keys = reg.inferAll(spark, raw) } === 1)
    assert(keys.size === 7)
  }
}
