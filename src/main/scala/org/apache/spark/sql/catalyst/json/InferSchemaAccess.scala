package org.apache.spark.sql.catalyst.json

import org.apache.spark.sql.types.DataType

/** Forwarders to steps of Spark's JSON schema inference that Spark keeps
  * `private[catalyst]`. `graft.sources.EsJson` folds documents with
  * [[JsonInferSchema.inferField]] one at a time and must finish the
  * merged type exactly as `JsonInferSchema.infer` does (null → string,
  * empty structs erased), and merge two types exactly as it merges them,
  * so it calls Spark's own methods instead of copies.
  */
object InferSchemaAccess {
  def canonicalizeType(inference: JsonInferSchema, tpe: DataType,
      options: JSONOptions): Option[DataType] =
    inference.canonicalizeType(tpe, options)

  def compatibleType(t1: DataType, t2: DataType): DataType =
    JsonInferSchema.compatibleType(t1, t2)
}
