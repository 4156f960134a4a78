package graft.sources

import java.io.CharConversionException
import java.nio.charset.MalformedInputException

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.json.{JSONOptions, JsonInferBridge, JsonInferSchema}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

import graft.operators.StreamSplitter

/**
 * Per-table payload-schema registry — the engine's crawler analog
 * (reference README.md:34, 188-190, 314: a crawler infers the landing
 * schema and a second one re-crawls the split output).
 *
 * Envelopes arrive with `data` as a raw JSON string
 * ([[graft.model.DmsEnvelope.rawEnvelopeSchema]] — the streaming-safe
 * form, since Structured Streaming fixes schemas at query start). The
 * registry supplies each table's concrete payload schema for late-bound
 * `from_json`:
 *
 *  - [[SchemaRegistry.infer]] — "crawl": sample a table's `data` strings
 *    from landed envelopes and infer the schema (the distributed
 *    `spark.read.json` inference the reference's crawler performs;
 *    conflicting batches union field-wise exactly like choice types —
 *    settle policy via [[graft.operators.ChoiceResolver]]);
 *  - [[SchemaRegistry.inferAll]] — crawl every table of a multiplexed
 *    backlog in ONE keyed inference pass (one Spark job, one scan);
 *    each schema equals the single-table [[SchemaRegistry.infer]],
 *    which runs the same keyed routine with one key;
 *  - [[SchemaRegistry.bindTable]] — demux one table and decode+flatten
 *    its payload with the registered schema.
 *
 * The registry itself is a plain concurrent map: schemas are small
 * driver-side metadata (the catalog pattern), the inference and binding
 * are fully distributed.
 */
final class SchemaRegistry {

  private val schemas = TrieMap.empty[(String, String), StructType]

  def put(schemaName: String, tableName: String, schema: StructType): Unit =
    schemas.put((schemaName, tableName), schema)

  def get(schemaName: String, tableName: String): Option[StructType] =
    schemas.get((schemaName, tableName))

  def tables: Seq[(String, String)] = schemas.keys.toSeq.sorted

  /**
   * Crawl: infer `(schemaName, tableName)`'s payload schema from raw
   * envelopes (`data` string column), register and return it.
   * `samplingRatio` < 1.0 samples the JSON strings like the reference
   * crawler samples S3 objects — Spark's own rule (`JsonUtils.sample`):
   * a ratio above 0.99 reads every record, otherwise a seed-1 sample
   * without replacement over the demuxed rows.
   */
  def infer(spark: SparkSession, rawEnvelopes: DataFrame,
      schemaName: String, tableName: String,
      samplingRatio: Double = 1.0): StructType = {
    require(samplingRatio > 0,
      s"samplingRatio ($samplingRatio) should be greater than 0")
    val data = StreamSplitter.demux(rawEnvelopes, schemaName, tableName)
      .select(col("data"))
    val sampled =
      if (samplingRatio > 0.99) data
      else data.sample(withReplacement = false, samplingRatio, seed = 1)
    val inferred = SchemaRegistry.inferKeyed(spark,
      sampled.select(lit(schemaName), lit(tableName), col("data")))
      .getOrElse((schemaName, tableName), StructType(Nil))
    put(schemaName, tableName, inferred)
    inferred
  }

  /** Crawl every (schema, table) present in `rawEnvelopes` in one keyed
    * inference pass, register each schema and return the sorted keys.
    * Envelopes missing either name never demux, so they are skipped. */
  def inferAll(spark: SparkSession, rawEnvelopes: DataFrame): Seq[(String, String)] = {
    val keyed = rawEnvelopes
      .filter(col("data").isNotNull && StreamSplitter.schemaNameCol.isNotNull &&
        StreamSplitter.tableNameCol.isNotNull)
      .select(StreamSplitter.schemaNameCol, StreamSplitter.tableNameCol, col("data"))
    val inferred = SchemaRegistry.inferKeyed(spark, keyed)
    inferred.foreach { case ((s, t), schema) => put(s, t, schema) }
    inferred.keys.toSeq.sorted
  }

  /**
   * Late binding: demux one table from raw envelopes and decode its
   * `data` JSON with the registered schema — output is the flattened
   * golden shape (`data.*` + `timestamp`), same as the struct path's
   * [[StreamSplitter.flatten]]. Works identically on batch and
   * streaming DataFrames (from_json is a per-row expression).
   */
  def bindTable(rawEnvelopes: DataFrame, schemaName: String, tableName: String): DataFrame = {
    val schema = get(schemaName, tableName).getOrElse(throw new IllegalArgumentException(
      s"no schema registered for $schemaName.$tableName — run infer() or put() first"))
    StreamSplitter.demux(rawEnvelopes, schemaName, tableName)
      .select(from_json(col("data"), schema).as("data"),
        col("metadata.timestamp").as("timestamp"))
      .select(col("data.*"), col("timestamp"))
  }
}

object SchemaRegistry {

  /**
   * Each (schema, table)'s payload schema from `keyed` rows of
   * (schema name, table name, non-null `data` JSON string) in ONE Spark
   * job, equal to what `spark.read.json` infers from that table's
   * strings alone. It is Spark's own inference (`JsonInferSchema.infer`
   * over a `Dataset[String]`) with the fold keyed by table: the same
   * per-record `inferField` and malformed-record rule, the same root
   * merger reduced per partition and folded on the driver from the
   * empty struct, and the same canonicalization.
   */
  private def inferKeyed(spark: SparkSession,
      keyed: DataFrame): Map[(String, String), StructType] = {
    val conf = spark.sessionState.conf
    // as DataFrameReader.json(Dataset[String]) builds them; no reader
    // options, so the parse mode is PERMISSIVE
    val options = new JSONOptions(Map.empty[String, String],
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val inference = new JsonInferSchema(options)
    val merge = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)
    val corrupt: DataType =
      StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))
    val rows = keyed.queryExecution.toRdd
    val perPartition = SQLExecution.withSQLConfPropagated(
        spark.asInstanceOf[classic.SparkSession]) {
      rows.mapPartitions { it =>
        val factory = options.buildJsonFactory()
        val acc = mutable.HashMap.empty[(String, String), DataType]
        it.foreach { row =>
          val json = row.getBinary(2)
          val t = try {
            val parser = factory.createParser(json, 0, json.length)
            try { parser.nextToken(); inference.inferField(parser) }
            finally parser.close()
          } catch {
            case _: RuntimeException | _: JsonProcessingException |
                _: MalformedInputException | _: CharConversionException => corrupt
          }
          val key = (row.getString(0), row.getString(1))
          acc(key) = acc.get(key).fold(t)(merge(_, t))
        }
        Iterator.single(acc.toMap)
      }.collect()
    }
    SQLConf.withExistingConf(conf) {
      val roots = perPartition.foldLeft(Map.empty[(String, String), DataType]) {
        (roots, part) => part.foldLeft(roots) { case (r, (k, t)) =>
          r.updated(k, merge(r.getOrElse(k, StructType(Nil)), t))
        }
      }
      roots.map { case (k, root) =>
        // canonicalization erases empty structs, the root one included
        k -> JsonInferBridge.canonicalizeType(inference, root, options)
          .collect { case s: StructType => s }.getOrElse(StructType(Nil))
      }
    }
  }
}
