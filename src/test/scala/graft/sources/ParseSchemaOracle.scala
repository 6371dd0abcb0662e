package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.flatten.EmptyShapes

/** Reference derivation of an export's parse schema that the specs check
  * [[EsJson.ParseSchemaFold]] against, by the route the engine took before
  * the fold: Spark's JSON inference job over the files (`spark.read.json`
  * with the reader options of every export read), then the keys inference
  * drops grafted back from the shape of the documents, each read whole on
  * the driver (one per file when `multiLine`, else one per line) and
  * absorbed by an [[EmptyShapes.Fold]] when it parses. Zero files give the
  * empty schema, which is what `JsonInferSchema` gives over no records
  * (Spark's JSON source refuses to infer a schema without files).
  */
object ParseSchemaOracle {

  def apply(spark: SparkSession, paths: Seq[String],
      multiLine: Boolean = true): StructType = {
    val text =
      (if (multiLine) spark.read.option("wholetext", "true") else spark.read)
        .text(paths: _*)
    if (text.inputFiles.isEmpty) StructType(Nil)
    else {
      val inferred = spark.read
        .option("multiLine", multiLine).option("inferTimestamp", false)
        .option("inferDate", false).option("prefersDecimal", false)
        .json(paths: _*).schema
      val mapper = new ObjectMapper
      val shapes = new EmptyShapes.Fold
      text.as(Encoders.STRING).collect().foreach { doc =>
        try shapes.add(doc, mapper.readTree(doc))
        catch { case _: Exception => () } // malformed: inference's business
      }
      EmptyShapes.graftOnto(inferred, shapes.result)
    }
  }
}
