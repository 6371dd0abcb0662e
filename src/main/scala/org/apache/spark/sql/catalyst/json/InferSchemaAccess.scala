package org.apache.spark.sql.catalyst.json

import org.apache.spark.sql.types.DataType

/** Forwarder to the finishing step of Spark's JSON schema inference,
  * which Spark keeps `private[catalyst]`. `graft.sources.EsJson` folds
  * documents with [[JsonInferSchema.inferField]] one at a time and must
  * finish the merged type exactly as `JsonInferSchema.infer` does
  * (null → string, empty structs erased), so it calls Spark's own method
  * instead of a copy.
  */
object InferSchemaAccess {
  def canonicalizeType(inference: JsonInferSchema, tpe: DataType,
      options: JSONOptions): Option[DataType] =
    inference.canonicalizeType(tpe, options)
}
