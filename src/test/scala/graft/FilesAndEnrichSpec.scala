package graft

import graft.sources.{Files, JsonSerde}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files => JFiles}

class FilesAndEnrichSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new StructType().add("source", "string").add("count", "long")

  test("json-lines source: permissive dead-letters, failfast throws") {
    val dir = JFiles.createTempDirectory("graft_json").toString
    JFiles.writeString(java.nio.file.Paths.get(s"$dir/a.json"),
      """{"source":"origin","count":1}
        |{oops
        |{"source":"other","count":2}""".stripMargin)
    // cache: Spark disallows corrupt-column-only queries on raw JSON scans
    val perm = Files.jsonLines(spark, dir, schema, JsonSerde.Permissive).cache()
    assert(perm.where(col(JsonSerde.CorruptCol).isNull).count() === 2)
    assert(perm.where(col(JsonSerde.CorruptCol).isNotNull).count() === 1)
    val e = intercept[Exception] {
      Files.jsonLines(spark, dir, schema, JsonSerde.FailFast).collect()
    }
    assert(e.getMessage.toLowerCase.contains("malformed") ||
      Option(e.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }

  test("csv source reads typed columns") {
    val dir = JFiles.createTempDirectory("graft_csv").toString
    JFiles.writeString(java.nio.file.Paths.get(s"$dir/a.csv"),
      "source,count\norigin,5\nother,7\n")
    val df = Files.csv(spark, dir, schema)
    assert(df.where(col("source") === "origin").head().getAs[Long]("count") === 5L)
  }

  test("partitioned parquet write enables partition pruning on read") {
    val dir = JFiles.createTempDirectory("graft_part").toString + "/t"
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
    Files.writePartitioned(df, dir, Seq("k"))
    assert(new java.io.File(s"$dir/k=a").exists())
    val read = spark.read.parquet(dir).where(col("k") === "a")
    assert(read.count() === 2)
    // pruning: only the k=a directory's files appear in the scan
    val scanned = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scanned.contains("k=b"))
  }
}
