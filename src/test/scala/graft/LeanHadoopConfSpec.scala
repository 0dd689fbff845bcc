package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The session's Hadoop conf and its copies carry no per-key property
  * sources (`GraftSession.leanHadoopConf`), through everything that
  * reloads a conf, and still hold every value. On a Hadoop without the
  * source field the clear is a no-op, and this spec fails. */
class LeanHadoopConfSpec extends SparkSpec {
  import spark.implicits._

  private def asMap(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def written(c: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    c.write(new DataOutputStream(bytes))
    bytes.toByteArray
  }

  /** `c` as it was before the clear: a copy that reads every resource
    * again, recording each key's sources, over the same set values. */
  private def withSources(c: Configuration): Configuration = {
    val twin = new Configuration(c)
    twin.reloadConfiguration()
    twin
  }

  test("the session's Hadoop conf and its copies report no property source after reloads, and keep every value") {
    // everything that reloads a conf or registers a default resource
    val dir = Files.createTempDirectory("lean-conf")
    try {
      Seq(1L, 2L).toDF("id").write.parquet(dir.resolve("t").toString)
      new org.apache.hadoop.mapred.JobConf()
      new org.apache.hadoop.hdfs.HdfsConfiguration()
      // what registering a new default resource does to every conf
      spark.sparkContext.hadoopConfiguration.reloadConfiguration()
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Long]
      in.addData(1L, 2L, 3L)
      assert(streaming.Pipelines.runToMemory(in.toDF()).count() === 3L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)

    // the keys read from a resource (a copy's programmatic sets keep no source)
    val loaded = {
      val twin = withSources(spark.sparkContext.hadoopConfiguration)
      asMap(twin).keys.filter(k => twin.getPropertySources(k) != null)
    }
    assert(loaded.size > 1000, s"${loaded.size} keys with sources")
    val confs = Seq("sc.hadoopConfiguration" -> spark.sparkContext.hadoopConfiguration,
      "sessionState.newHadoopConf()" -> spark.sessionState.newHadoopConf())
    for ((name, c) <- confs) {
      val twin = withSources(c)
      val sourced = loaded.filter(k => c.getPropertySources(k) != null)
      assert(sourced.isEmpty, s"$name reports sources for ${sourced.take(5)}")
      assert(asMap(c) === asMap(twin), name)
      val back = new Configuration(false)
      back.readFields(new DataInputStream(new ByteArrayInputStream(written(c))))
      assert(asMap(back) === asMap(twin), name)
      assert(written(c).length < written(twin).length, name)
    }
  }
}
