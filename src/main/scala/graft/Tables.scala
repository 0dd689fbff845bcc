package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's Parquet star schema (TESTDATA.md).
  *
  * All access goes through `spark.read.parquet` so Catalyst applies
  * predicate pushdown + column pruning at the scan — at 100 TB that is
  * the difference between reading a column slice of a few row groups and
  * reading everything.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Loads are deliberately NOT wrapped in [[graft.operators.FanOut]]:
    * a blanket repartition-above-scan changes every plan — measured
    * here, it suppresses runtime bloom-filter injection (the optimizer
    * pattern doesn't fire through a Repartition) and adds an exchange
    * to queries whose scan stage is cheap columnar codegen anyway.
    * Fan-out belongs at the OPERATOR level, directly under the
    * explode/score pipelines whose scan-stage compute dwarfs the scan
    * (shingling, simhash, cosine) — which is where it is applied. */
  /** Schema memo per (session, path): every bare `read.parquet(path)`
    * CALL runs a footer schema-inference job at plan-build time, and
    * the registry's queries load these ten tables thousands of times
    * per bench run — identical footers re-read every time. Passing the
    * memoized StructType via `.schema(...)` skips that job; the scan
    * itself (pushdown, pruning) is unchanged. Weak session keys so a
    * stopped session's entries are collectible. */
  private val schemaCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String,
        org.apache.spark.sql.types.StructType]]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    val perSession = schemaCache.synchronized {
      var m = schemaCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String,
          org.apache.spark.sql.types.StructType]()
        schemaCache.put(spark, m)
      }
      m
    }
    val schema =
      perSession.computeIfAbsent(p, _ => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(p)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped in two fixture generations: parquet
    * TIMESTAMP(NANOS) (no native Spark type — readable only as a raw
    * nanos long under the legacy conf) and, since the round-5 regen,
    * plain `timestamp[us]` (scanned as TIMESTAMP_NTZ because the file
    * is not UTC-adjusted). Branch on the SCANNED dtype so both
    * generations load: the long path applies the nanos→micros shim, the
    * native path casts NTZ→TIMESTAMP (an identity on values under the
    * session's UTC timezone, restoring the exact `ts` type every
    * consumer and the DuckDB oracle saw before the regen).
    * Sub-microsecond ordering ties are broken by event_id in every
    * consumer of this table.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // Harmless for the micros fixture; required before the scan for the
    // nanos one (the reader rejects TIMESTAMP(NANOS) without it).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
