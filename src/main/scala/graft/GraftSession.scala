package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

/** Session factory for the graft engine.
  *
  * Tuned for the local[32] test harness but with settings chosen for
  * cluster scale: AQE on (runtime re-planning, skew-join handling,
  * partition coalescing), a modest shuffle-partition default that AQE
  * can coalesce further, and UTC timestamps so results are stable
  * across environments (the driver oracle runs in UTC too).
  */
object GraftSession {

  /** Extra confs from SPARK_GRAFT_CONF ("k=v;k=v") — the cluster/bench
    * parameterization seam (and the local A/B-experiment hook): applied
    * LAST so they override the baked defaults below. */
  private def extraConf(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(b) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2)
        bb.config(k.trim, v.trim)
      }
  }

  /** Apply graft's standard configuration to any builder. */
  def configure(b0: SparkSession.Builder): SparkSession.Builder = {
   val b = b0
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // testdata's events.ts is TIMESTAMP(NANOS) which Spark cannot read
    // natively; read as long (Tables.events converts to micros timestamp)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // static conf — the default generated-code cache holds only 100
    // entries; a workload of ~50 multi-stage queries compiles ~500
    // codegen units, so the default thrashes and EVERY run pays full
    // janino recompilation (5-8x steady-state cost). Size it to hold the
    // whole workload once.
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    // static conf — must be set at session build; bucketed-table tests
    // and any saveAsTable land here instead of ./spark-warehouse
    .config("spark.sql.warehouse.dir",
      sys.props.getOrElse("graft.warehouse.dir", "file:/tmp/graft-warehouse"))
    .config("spark.ui.enabled", "false")
    // `file:` for both Hadoop APIs without a chmod/readlink process per
    // file operation (LocalFs.scala). Pinned, too, because otherwise the
    // last service registration on the classpath wins. The FileSystem
    // cache is JVM-wide and its key ignores the conf, so this holds only
    // if no `file:` FileSystem was created before the first session.
    .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[ForkFreeLocalFs].getName)
   extraConf(b)
  }

  /** Local session with `cores` threads; shuffle partitions sized to the
    * core count (not the 200 default, which just fragments small data —
    * on a real cluster this is set to ~2-3x total executor cores and AQE
    * coalesces from there).
    */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    leanHadoopConf(spark)
    spark
  }

  /** Empties, for good, the per-key source lists of the SparkContext's
    * Hadoop conf, which every `newHadoopConf` copies. No value changes.
    *
    * Hadoop keeps, beside each of the ~1 100 default properties, the
    * list of resources that set it (`updatingResource`). Only
    * `getPropertySources` and the XML dumps read those lists, but
    * `Configuration.write` gzips them one string at a time, and Spark
    * writes a conf into every broadcast `SerializableConfiguration`: a
    * stream-stream join builds one per copy of its physical node, many
    * times per micro-batch, and each parquet scan, write and state store
    * builds one too. Without the lists such a broadcast costs a quarter
    * as much or less (12–14 ms → 2.3–3.5 ms at the median, warm, on a
    * 4-core VM).
    *
    * The conf gets a source map that drops every write, so no reload
    * brings the lists back: not the one building the session state
    * makes (a filesystem's class init registers a default resource), a
    * `JobConf` or `HdfsConfiguration` class init, nor an `addResource`.
    * Where this Hadoop has no such field, it warns and changes nothing. */
  private def leanHadoopConf(spark: SparkSession): Unit =
    try {
      val sources = classOf[Configuration].getDeclaredField("updatingResource")
      sources.setAccessible(true)
      val conf = spark.sparkContext.hadoopConfiguration
      conf.synchronized(sources.set(conf, NoSources))
    } catch {
      case e: ReflectiveOperationException =>
        LoggerFactory.getLogger(getClass).warn(
          s"Hadoop conf keeps its property sources: $e")
    }

  /** A property-source map that stays empty. Hadoop reads it only with
    * `get` and copies it by iterating its entries. */
  private object NoSources extends java.util.AbstractMap[String, Array[String]] {
    override def put(k: String, v: Array[String]): Array[String] = null
    def entrySet(): java.util.Set[java.util.Map.Entry[String, Array[String]]] =
      java.util.Collections.emptySet()
  }
}
