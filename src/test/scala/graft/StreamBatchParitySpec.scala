package graft

import graft.streaming.{Pipelines, StreamSinks}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unified-model guarantee on the driver's real data: the SAME windowed
  * aggregation gives identical results run as a file stream (AvailableNow
  * drain) and as a batch query — Spark's batch/streaming unification,
  * which is what lets the DuckDB-checked batch twins vouch for the
  * streaming operators. */
class StreamBatchParitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("windowed counts over events: streaming == batch") {
    val rawSchema = new StructType()
      .add("event_id", LongType).add("ts", LongType).add("user_id", LongType)
      .add("event_type", StringType).add("value", DoubleType).add("props", StringType)

    def prep(df: org.apache.spark.sql.DataFrame) =
      Pipelines.windowedCounts(
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)")),
        "ts", delay = "0 seconds", windowDur = "1 hour", keyCols = Seq("event_type"))

    val batch = prep(spark.read.schema(rawSchema).parquet(s"$dir/events.parquet"))
      .orderBy("window_start", "event_type")
      .collect().toSeq

    // FileStreamSource needs a directory: stage the file into one
    val streamDir = java.nio.file.Files.createTempDirectory("graft_evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = prep(spark.readStream.schema(rawSchema).parquet(streamDir.toString))
    val q = StreamSinks.availableNow(
      stream.writeStream.format("memory").queryName("parity_out")
        .outputMode("complete")).start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.sql(
        "SELECT * FROM parity_out ORDER BY window_start, event_type").collect().toSeq
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }
}
