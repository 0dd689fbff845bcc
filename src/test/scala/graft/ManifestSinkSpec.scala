package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.{Duplex, JsonSerde}
import graft.streaming.{ParquetAppend, Pipelines}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.types.StructType

/** `Pipelines.manifestSink` and the broadcast-conf parquet writer behind
  * it, against `df.write.parquet` of the same frames. */
class ManifestSinkSpec extends SparkSpec {
  import spark.implicits._

  private val made = new ConcurrentLinkedQueue[java.io.File]()
  private def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.delete()
    made.add(d)
    d.getAbsolutePath
  }
  override def afterAll(): Unit = {
    made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    super.afterAll()
  }
  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
  private def ids(df: DataFrame): Seq[Long] = df.select(col("id")).as[Long].collect().toSeq.sorted
  /** Rows as JSON text, sorted: compares maps, binary and nested values. */
  private def asJson(df: DataFrame): Seq[String] =
    df.select(to_json(struct(col("*")))).as[String].collect().toSeq.sorted
  private def parquetFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
  private def withConf[A](k: String, v: String)(f: => A): A = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("a replay of a committed batch keeps the first delivery and writes nothing") {
    val dir = tmpDir("manifest-replay")
    val sink = Pipelines.manifestSink(dir)
    sink(Seq(1L, 2L).toDF("id"), 0L)
    val before = parquetFiles(s"$dir/data/batch=0")
    sink(Seq(7L, 8L, 9L).toDF("id"), 0L)
    assert(ids(Pipelines.readCommitted(spark, dir)) === Seq(1L, 2L))
    assert(parquetFiles(s"$dir/data/batch=0") === before)
  }

  test("a failed and a duplicate task attempt never reach the committed batch") {
    val dir = tmpDir("manifest-attempts")
    val df = Seq(1L, 2L, 3L).toDF("id").coalesce(1)
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    val task = new ParquetAppend().prepare(df, s"$dir/data/batch=0")
    // attempt 1 dies after its first row, as on a lost executor
    val lost = rows.iterator.take(1) ++
      Iterator.continually[org.apache.spark.sql.catalyst.InternalRow](
        throw new RuntimeException("executor lost")).take(1)
    intercept[RuntimeException](task.write(0, 1L, lost))
    assert(parquetFiles(s"$dir/data/batch=0") === Nil, "a failed attempt removes its file")
    val winner = task.write(0, 2L, rows.iterator).get
    // a speculative copy that also finished, but whose result was not taken
    val loser = task.write(0, 3L, rows.iterator).get
    assert(winner != loser)
    assert(parquetFiles(s"$dir/data/batch=0") === Seq(winner, loser).sorted)
    Pipelines.commitManifest(fs(dir), dir, 0L, Seq(s"batch=0/$winner"))
    assert(ids(Pipelines.readCommitted(spark, dir)) === Seq(1L, 2L, 3L))
  }

  test("the sink's job is described as manifestSink batch=<id>, and the old description restored") {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    try {
      sc.setJobDescription("outer")
      Pipelines.manifestSink(tmpDir("manifest-desc"))(Seq(1L).toDF("id"), 7L)
      assert(sc.getLocalProperty("spark.job.description") === "outer")
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains("manifestSink batch=7") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.toSeq.contains("manifestSink batch=7"), seen.asScala.toSeq)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("nested, decimal, timestamp, binary and null values read back equal to df.write.parquet") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, named_struct('a', 1, 'b', array(1.5D, NULL), 'c', named_struct('d', 'x')),
        |   array('p', NULL, 'q'), map('k1', 1L, 'k2', NULL), CAST(12345.67 AS DECIMAL(12, 2)),
        |   TIMESTAMP'2024-02-29 23:59:59.123456', X'CAFE00', 'text'),
        |  (2L, NULL, array(), map(), NULL, NULL, NULL, NULL),
        |  (3L, named_struct('a', NULL, 'b', NULL, 'c', NULL), NULL, NULL,
        |   CAST(-0.01 AS DECIMAL(12, 2)), TIMESTAMP'1970-01-01 00:00:00', X'', '')
        |  AS t(id, s, arr, m, dec, ts, bin, str)""".stripMargin).repartition(2)
    val stock = tmpDir("manifest-stock")
    df.write.parquet(stock)
    val expected = spark.read.parquet(stock)
    val dir = tmpDir("manifest-parity")
    Pipelines.manifestSink(dir)(df, 0L)
    val got = Pipelines.readCommitted(spark, dir)
    assert(got.schema === expected.schema)
    assert(!got.schema.fieldNames.contains("batch"))
    assert(asJson(got) === asJson(expected))
    assert(asJson(got).size === 3)
  }

  test("a codec change between batches shows in the next footers; the old conf broadcast is destroyed") {
    def codecs(dir: String): Set[String] = parquetFiles(dir).flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(dir, f), spark.sessionState.newHadoopConf()))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).map(_.getCodec.name)
      finally r.close()
    }.toSet
    val dir = tmpDir("manifest-codec")
    val sink = Pipelines.manifestSink(dir)
    val frame = spark.range(0, 100, 1, 2).toDF("id")
    withConf("spark.sql.parquet.compression.codec", "snappy") {
      sink(frame, 0L)
      sink(frame, 1L)
    }
    withConf("spark.sql.parquet.compression.codec", "gzip")(sink(frame, 2L))
    assert(codecs(s"$dir/data/batch=0") === Set("SNAPPY"))
    assert(codecs(s"$dir/data/batch=2") === Set("GZIP"))
    assert(Pipelines.readCommitted(spark, dir).count() === 300L)

    // the same through the writer: an equal conf reuses its broadcast,
    // a changed one replaces it and destroys the old
    val w = new ParquetAppend
    withConf("spark.sql.parquet.compression.codec", "snappy") {
      w(frame, s"$dir/w0")
      val first = w.confBroadcast.get
      w(frame, s"$dir/w1")
      assert(w.confBroadcast.get.id === first.id)
      withConf("spark.sql.parquet.compression.codec", "gzip")(w(frame, s"$dir/w2"))
      assert(w.confBroadcast.get.id !== first.id)
      intercept[SparkException](first.value)
    }
    assert(codecs(s"$dir/w2") === Set("GZIP"))
  }

  test("the conf broadcast is reused across the micro-batches of one stream") {
    implicit val sqlc = spark.sqlContext
    val in = MemoryStream[Long]
    val w = new ParquetAppend
    val dir = tmpDir("manifest-stream")
    val seen = new ConcurrentLinkedQueue[Long]()
    val q = in.toDF().toDF("id").writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      w(b, s"$dir/batch=$id")
      seen.add(w.confBroadcast.get.id)
      ()
    }.start()
    try {
      (1 to 3).foreach { k => in.addData(k.toLong); q.processAllAvailable() }
    } finally q.stop()
    assert(seen.size === 3 && seen.asScala.toSet.size === 1, seen)
  }

  test("a malformed record under FailFast fails the batch and commits nothing") {
    val schema = new StructType().add("source", "string").add("index", "long")
    val raw = Seq("""{"source":"origin","index":1}""", """{"source":"origin","""")
      .toDF("value").repartition(2)
    val frame = Duplex.transformPipeline(raw, schema, JsonSerde.FailFast)(identity)
    val dir = tmpDir("manifest-failfast")
    val sink = Pipelines.manifestSink(dir)
    sink(Seq("""{"source":"origin","index":0}""").toDF("value"), 0L)
    intercept[Exception](sink(frame, 1L))
    assert(!fs(dir).exists(new Path(s"$dir/manifest/1")))
    assert(Pipelines.readCommitted(spark, dir).count() === 1L)
  }

  test("empty partitions follow df.write: only partition 0 writes a file when empty") {
    val cases = Seq(
      "empty partition 0" -> spark.range(0, 3, 1, 4),
      "one row in the last partition" -> spark.range(0, 1, 1, 4),
      "no rows at all" -> spark.range(0, 0, 1, 4),
      "no partitions at all" -> Seq.empty[Long].toDF("id"))
    for ((what, frame) <- cases) {
      val stock = tmpDir("manifest-empty-stock")
      frame.write.parquet(stock)
      val dir = tmpDir("manifest-empty")
      Pipelines.manifestSink(dir)(frame.toDF(), 0L)
      val files = parquetFiles(s"$dir/data/batch=0")
      assert(files.size === parquetFiles(stock).size, what)
      assert(files.exists(_.startsWith("part-00000-")), what)
      val got = Pipelines.readCommitted(spark, dir)
      assert(got.schema === spark.read.parquet(stock).schema, what)
      assert(ids(got) === ids(frame.toDF()), what)
    }
  }

  test("an entry in the earlier format, the bare batch=<id> line, reads the whole dir") {
    val dir = tmpDir("manifest-old")
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/data/batch=0")
    Pipelines.commitManifest(fs(dir), dir, 0L, Seq("batch=0"))
    Pipelines.manifestSink(dir)(Seq(3L).toDF("id"), 1L)
    assert(ids(Pipelines.readCommitted(spark, dir)) === Seq(1L, 2L, 3L))
  }
}
