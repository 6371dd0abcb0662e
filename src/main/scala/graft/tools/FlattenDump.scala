package graft.tools

import org.apache.spark.sql.SparkSession

/** Flatten a JSONL document file to a single TSV — the Spark half of the
  * cross-language differential test (`tools/differential.py`).
  */
object FlattenDump {
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def rd = spark.read
      .option("inferTimestamp", false).option("inferDate", false)
    val inferred = rd.json(in)
    // recover inference-dropped empty-object keys (the seed-51 class) —
    // the same augmentation the production EsJson read path applies
    val schema = graft.flatten.EmptyShapes.augment(spark,
      inferred.schema, Seq(in), wholeFile = false)
    val df = if (schema eq inferred.schema) inferred
             else rd.schema(schema).json(in)
    // the production TSV path end to end
    val tmp = out + ".dir"
    graft.flatten.Flattener.flattenToTsv(df, tmp, singleFile = true)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("part-")).get
    java.nio.file.Files.move(part, java.nio.file.Paths.get(out),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.stop()
  }
}
