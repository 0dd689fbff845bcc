package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File sources/sinks beyond Kafka (SURVEY.md §2.2 "Scans/sources" and
  * "Sinks" rows): Parquet, JSON-lines, CSV — batch and streaming — plus
  * the write-side layout helpers that matter at 100 TB (partition
  * pruning only works if the data was written partitioned; co-located
  * joins only work if both sides were bucketed).
  */
object Files {

  /** JSON-lines source, FAILFAST/PERMISSIVE like the Kafka serde. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType,
                mode: JsonSerde.Mode = JsonSerde.Permissive): DataFrame =
    spark.read.schema(
        if (mode == JsonSerde.Permissive) schema.add(JsonSerde.CorruptCol, "string")
        else schema)
      .option("mode", mode.sparkMode)
      .option("columnNameOfCorruptRecord", JsonSerde.CorruptCol)
      .json(path)

  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** Hive-style partitioned parquet write: the layout that makes
    * partition pruning (`WHERE part_col = x` skipping whole directories)
    * work on the read side. Partition columns should be low-cardinality. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed write (requires a table name — bucketing lives in the
    * catalog): pre-shuffles data into `n` buckets on `cols` so later
    * equi-joins/aggregations on those keys skip their shuffle entirely.
    * The write-once-join-many pattern for big fact tables. */
  def writeBucketed(df: DataFrame, table: String, n: Int, cols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(n, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .saveAsTable(table)
}
