package graft

import org.apache.spark.sql.SparkSession

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
    spark
  }
}
