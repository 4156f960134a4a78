package org.apache.spark.sql.catalyst.json

import org.apache.spark.sql.types.DataType

/**
 * The one `private[json]` step of Spark's JSON schema inference that a
 * keyed, many-tables-in-one-job fold ([[graft.sources.SchemaRegistry]])
 * needs: the final canonicalization. Lives under
 * `org.apache.spark.sql.catalyst.json` for access; contains no logic.
 */
object JsonInferBridge {
  def canonicalizeType(inference: JsonInferSchema, t: DataType,
      options: JSONOptions): Option[DataType] =
    inference.canonicalizeType(t, options)
}
