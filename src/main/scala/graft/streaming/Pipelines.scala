package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming analytics over the engine's event schema
  * (SURVEY.md §2.2 "Streaming" rows): watermarks, tumbling/sliding/
  * session windows, stateful sessionization, streaming dedup.
  *
  * All operators work identically on batch frames (Spark's unified
  * model), which is how their DuckDB-checkable batch twins in
  * graft.queries verify the same logic.
  */
object Pipelines {

  /** The one open path for every persistent store dir: heal a torn
    * [[swapStore]] at `live` (see there for the crash windows), then
    * answer whether the store exists. Resolved through Hadoop's
    * FileSystem so the check works for ANY scheme the cluster can read
    * (hdfs://, s3a://, file:, bare local paths) — `java.io.File.exists`
    * is local-only and would silently disable cross-run dedup on
    * exactly the filesystems a 100 TB deployment uses. A healthy store
    * costs one `exists` call. */
  private def openStore(spark: org.apache.spark.sql.SparkSession,
                        live: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(live)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) || {
      recoverTornSwap(fs, p, Seq("_next", "_compacting", "_old")
        .map(s => new org.apache.hadoop.fs.Path(live + s)))
      fs.exists(p)
    }
  }

  /** Blue/green replacement of the store dir `live` — the one swap
    * behind every compaction and the per-batch reservoir rewrite. In
    * order: heal a torn earlier swap ([[openStore]]), delete debris at
    * `live + aside` and `live_old`, run `rewrite(live + aside)` — it
    * reads `live`, writes the complete replacement at the given path
    * and runs its own check (row count, live keys, members, mass),
    * throwing to abort — then rename `live` → `live_old`, the
    * replacement → `live`, and delete `live_old`.
    *
    * Crash contract. Nothing is deleted before its replacement is fully
    * written and checked, so every crash leaves a complete copy:
    *  - before the first rename: `live` is intact; the next swap deletes
    *    the half-written or unpromoted aside as debris;
    *  - between the renames: `live` is missing, `live_old` holds the
    *    pre-swap copy and the aside the checked replacement;
    *  - after the second rename: `live` is the replacement, and a
    *    leftover `live_old` is debris.
    * The missing-`live` window is healed by [[openStore]], which every
    * reader, writer and retried swap calls first: it promotes the first
    * complete (`_SUCCESS`-marked) copy among `live_next`,
    * `live_compacting` and `live_old` — the newer copy wins, and both
    * hold the same read-out (a replayed batch re-merges idempotently).
    * Without it the store would read as empty, the next batch would
    * re-emit already-ingested rows, and the next swap would delete the
    * last copy of the history as debris.
    *
    * Single-writer: run a swap with no concurrent batch or swap on the
    * same store (the discipline any streaming-append table's compaction
    * needs). Returns what `rewrite` returns. */
  private def swapStore[A](spark: org.apache.spark.sql.SparkSession,
                           live: String, aside: String = "_compacting")(
      rewrite: String => A): A = {
    val livePath = new org.apache.hadoop.fs.Path(live)
    val fs = livePath.getFileSystem(spark.sessionState.newHadoopConf())
    val asidePath = new org.apache.hadoop.fs.Path(live + aside)
    val old = new org.apache.hadoop.fs.Path(live + "_old")
    val haveLive = openStore(spark, live)
    fs.delete(asidePath, true); fs.delete(old, true)
    val out = rewrite(asidePath.toString)
    if (haveLive)
      require(fs.rename(livePath, old), s"cannot move $live aside")
    require(fs.rename(asidePath, livePath), s"cannot promote $asidePath")
    fs.delete(old, true)
    out
  }

  /** Data files per leaf dir under `dir` (recursive), excluding
    * bookkeeping (`_SUCCESS`, `.crc`) — the driver-side small-file
    * census behind every compaction trigger; no Spark job. Empty when
    * `dir` does not exist. */
  private def leafFileCounts(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Iterable[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val perDir = scala.collection.mutable.HashMap.empty[String, Long]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next().getPath
        if (!f.getName.startsWith("_") && !f.getName.startsWith("."))
          perDir(f.getParent.toString) =
            perDir.getOrElse(f.getParent.toString, 0L) + 1L
      }
    }
    perDir.values
  }

  /** Schema memo per (session, store data path) — the
    * [[graft.Tables.load]] rationale applied to the persistent stores:
    * every bare `spark.read.parquet(path)` CALL pays a footer
    * schema-inference job at plan-build time, and the streaming ingest
    * paths re-open their store one or more times PER MICRO-BATCH. A
    * store's schema is pinned for its lifetime (the config row pins the
    * parameters that shape its rows, and the compaction rewrites
    * preserve columns), so the repeated footer read is pure latency.
    * Only the SCHEMA job is skipped: the file index is still rebuilt on
    * every call, so each read sees all appends up to that point. Weak
    * session keys so a stopped session's entries are collectible. */
  private val storeSchemaCache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[String,
        org.apache.spark.sql.types.StructType]]()

  private[graft] def readStore(spark: org.apache.spark.sql.SparkSession,
                               path: String): DataFrame = {
    openStore(spark, path)
    val perSession = storeSchemaCache.synchronized {
      var m = storeSchemaCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String,
          org.apache.spark.sql.types.StructType]()
        storeSchemaCache.put(spark, m)
      }
      m
    }
    val schema =
      perSession.computeIfAbsent(path, _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** The schema sidecar of a store data dir: a store whose first
    * micro-batch is empty appends no row, so its data dir does not
    * exist yet and a read-out has no footer to take a schema from. The
    * writer then records the schema its appends will carry in
    * `<data>.schema.json` ([[noteStoreSchema]]), and
    * [[readStoreOrEmpty]] reads it back as an empty frame. */
  private def schemaSidecar(data: String) =
    new org.apache.hadoop.fs.Path(s"$data.schema.json")

  /** Record `schema` as the row shape of the not-yet-written store
    * data dir `data`: one small file through the Hadoop FS (no Spark
    * job), written aside and renamed into place so a crash never
    * leaves a torn sidecar; a no-op once the sidecar exists. */
  private[graft] def noteStoreSchema(spark: org.apache.spark.sql.SparkSession,
                                     data: String,
                                     schema: org.apache.spark.sql.types.StructType): Unit = {
    val p = schemaSidecar(data)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) {
      val tmp = new org.apache.hadoop.fs.Path(s"$p.tmp")
      val out = fs.create(tmp, true)
      try out.write(schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, p)) fs.delete(tmp, false)
    }
  }

  /** [[readStore]] of `data`, or — when no row has been appended yet
    * but an empty first micro-batch recorded the store's schema
    * ([[noteStoreSchema]]) — an empty frame of that schema, so a
    * read-out over it is empty instead of failing with PATH_NOT_FOUND.
    * A store no writer ever opened still fails as [[readStore]] does. */
  private[graft] def readStoreOrEmpty(spark: org.apache.spark.sql.SparkSession,
                                      data: String): DataFrame = {
    val p = schemaSidecar(data)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (openStore(spark, data) || !fs.exists(p)) readStore(spark, data)
    else {
      val in = fs.open(p)
      val json =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Heal a torn [[swapStore]] (crash windows documented there): if
    * the live dir is missing but a candidate copy is complete
    * (`_SUCCESS` present — every candidate was itself a fully-written
    * Spark parquet dir), promote the FIRST complete candidate back to
    * the live path; candidates come newest-first. No-op when live
    * exists (normal) or nothing exists (genuinely fresh store). Called
    * only through [[openStore]]. */
  private[graft] def recoverTornSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      candidates: Seq[org.apache.hadoop.fs.Path]): Unit =
    if (!fs.exists(live)) {
      def complete(p: org.apache.hadoop.fs.Path): Boolean =
        fs.exists(p) &&
          fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      candidates.find(complete).foreach { p =>
        require(fs.rename(p, live),
          s"cannot recover torn swap: $p -> $live")
      }
    }

  /** Driver-side census of the `pb` values flowing through a plan —
    * filled by a SET accumulator evaluated inside an ALREADY-RUNNING
    * materialization job, so deriving a frontier's bucket set costs
    * zero extra Spark jobs (a distinct+collect action per use
    * otherwise). Set semantics make task retries and speculation
    * idempotent; the value is ≤ `buckets` ints — legal driver state. */
  private[graft] class PbSetAccumulator
      extends org.apache.spark.util.AccumulatorV2[Int, Set[Int]] {
    private val s = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def isZero: Boolean = s.isEmpty
    override def copy(): PbSetAccumulator = {
      val c = new PbSetAccumulator
      s.forEach(v => c.s.add(v))
      c
    }
    override def reset(): Unit = s.clear()
    override def add(v: Int): Unit = s.add(v)
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[Int, Set[Int]]): Unit =
      o.value.foreach(s.add)
    override def value: Set[Int] = {
      val b = Set.newBuilder[Int]
      s.forEach(v => b += v)
      b.result()
    }
  }

  /** Tumbling (or sliding, when `slide` differs) event-time window
    * counts with a watermark: late rows beyond `delay` are dropped —
    * semantics the reference cannot express (it forwards timestamps
    * untouched, src/Consumer.coffee:96). */
  def windowedCounts(events: DataFrame, tsCol: String, delay: String,
                     windowDur: String, slide: Option[String] = None,
                     keyCols: Seq[String] = Nil): DataFrame = {
    val win = slide match {
      case Some(sl) => window(col(tsCol), windowDur, sl)
      case None => window(col(tsCol), windowDur)
    }
    events.withWatermark(tsCol, delay)
      .groupBy(win +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(Seq(col("window.start").as("window_start"),
        col("window.end").as("window_end")) ++ keyCols.map(col) :+ col("n"): _*)
  }

  /** Stream-stream event-time INTERVAL join — two UNBOUNDED fact
    * streams correlated on a key plus a time-range condition
    * (`rightTs ∈ [leftTs, leftTs + within]`), the fact×fact
    * complement of [[PitEnricher]]'s fact×dim as-of enrichment.
    * Both sides carry watermarks, which is what makes the plan's
    * symmetric-hash join state BOUNDED: a buffered left row is
    * evicted once the global watermark proves no future right row can
    * land inside its interval, and a right row older than the
    * watermark is dropped at ingestion — state is (delay + within)
    * deep per key, never history-deep (spec-asserted both ways).
    * Scale: the join shuffles both streams on the equi-key exactly as
    * a batch equi-join would; the range predicate prunes inside each
    * key's buffer. Callers pre-rename so no columns collide (the
    * [[graft.operators.AsOfJoin.leftAsOf]] convention).
    *
    * `joinType = "left_outer"` adds the STATE-TIMEOUT EMISSION shape:
    * a left row that found no partner emits null-padded exactly once,
    * when the watermark proves its interval can no longer be hit —
    * so unmatched results are themselves watermark-gated, and a left
    * row younger than `maxEventTime − delay − within` at stream end
    * is still buffered, not yet reported unmatched. Callers comparing
    * against full-knowledge batch semantics must restrict to rows
    * older than that flush horizon (q333 does, on both sides). */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
                          leftKey: String, rightKey: String,
                          leftTs: String, rightTs: String,
                          delay: String, within: String,
                          joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, delay)
      .join(right.withWatermark(rightTs, delay),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"),
        joinType)

  /** Drive a streaming frame to completion through a memory sink and
    * hand back the materialized result — the query-harness driver for
    * append-mode streaming plans (the fixture file arrives through
    * the real file-stream source, so the plan under test is the
    * streaming one, e.g. StreamingSymmetricHashJoin — not a batch
    * rewrite). The memory sink is driver-resident by design, so this
    * is for oracle-gated result sets, not corpus-sized output. */
  private val memSinkSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** State-store partition count for streaming plans driven through
    * [[runToMemory]]. A stateful operator creates one state-store
    * instance PER SHUFFLE PARTITION per internal store (a symmetric
    * hash join keeps four stores per partition), and every micro-batch
    * commits every instance — a delta file write + fsync each, even
    * when the batch touched nothing. Sizing state partitions to the
    * CORE count (the batch default) therefore multiplies pure
    * commit latency: measured on q331 at sf0.1, 32 partitions spend
    * ~45 s cumulative in `commitTimeMs` per batch vs ~2 s at 8
    * (25x — concurrent tiny fsyncs contend), 6.9 s → 2.8 s wall.
    * State partitioning is a pure physical choice: outputs are
    * identical (hash-verified), so this is conf, not semantics.
    * Production tuning: size to state VOLUME (state bytes per
    * partition in the 64-256 MB band), not executor count — set the
    * env for a cluster run. The default, min(8, the session's default
    * parallelism), keeps one store instance per core and caps commit
    * fan-out at 8: on fewer than 8 cores a drained stream never
    * commits more instances per batch than there are cores to run
    * them, and on 8 or more the count is the flat 8 it always was. */
  private def streamStatePartitions(spark: org.apache.spark.sql.SparkSession): Int =
    sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS").map(_.toInt)
      .getOrElse(math.min(8, spark.sparkContext.defaultParallelism))

  def runToMemory(streamDf: DataFrame): DataFrame = {
    val spark = streamDf.sparkSession
    val name = s"graft_mem_sink_${memSinkSeq.incrementAndGet()}"
    // shuffle.partitions is read at stream start and pinned into the
    // checkpoint as the state-partition count; set it for the stream
    // only and restore for the batch plans around it (restored after
    // stop so the stream thread never races a narrower window)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      streamStatePartitions(spark).toString)
    try {
      val q = streamDf.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  /** Session windows via the built-in `session_window` (gap-based). */
  def sessionWindowAgg(events: DataFrame, tsCol: String, delay: String,
                       gap: String, keyCol: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming exact dedup: state bounded by the watermark horizon —
    * the 100 TB-safe form of `dropDuplicates`. */
  def streamingDedup(df: DataFrame, tsCol: String, delay: String,
                     keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming ingestion curation — the per-row subset of the batch
    * curation stack, composed streaming-safe: PII redaction (pure map),
    * row-computable quality rules (token count and distinct-token
    * fraction via array expressions — no aggregation), then
    * watermark-bounded exact dedup on the post-redaction fingerprint.
    * The only state is the dedup store, bounded by the watermark
    * horizon. Rules that need corpus aggregation (top-bigram fraction,
    * cross-doc spans, LM scores) stay in the batch cascade —
    * [[graft.operators.TextStats.qualityCascade]]. Works identically
    * on batch frames (unified model). */
  def curateStream(df: DataFrame, tsCol: String, delay: String,
                   textCol: String, minTokens: Int = 15,
                   minFracDistinct: Double = 0.35): DataFrame = {
    import graft.functions.TextFunctions
    val toks = TextFunctions.tokens(col(textCol))
    // REPLACE the text column with its redacted form — emitting the
    // scrubbed value beside the raw one would defeat the scrub (any
    // consumer reading the natural column would get the PII back)
    df.withColumn(textCol, TextFunctions.redact(col(textCol)))
      .withColumn("__nt", size(toks))
      .withColumn("__fd",
        when(col("__nt") > 0,
          size(array_distinct(toks)).cast("double") / col("__nt"))
          .otherwise(lit(0.0)))
      .where(col("__nt") >= minTokens && col("__fd") >= minFracDistinct)
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__nt", "__fd", "__fp")
  }

  /** Sliding-window corpus-quality monitor — the observability twin of
    * [[curateStream]] (ingest → curate → MONITOR closes the streaming
    * curation loop): per (event-time window, source), document count,
    * mean composite quality, mean token count, and an approximate
    * distinct-fingerprint count giving the in-window exact-dup rate
    * (`1 − distinct/n`). A quality or dup-rate step change per source
    * is the standard alarm for a broken upstream feed.
    *
    * Scale/state: every aggregate is map-side partial;
    * `approx_count_distinct` keeps constant HLL state per (window,
    * source) where exact distinct would buffer every fingerprint; total
    * state is bounded by the watermark horizon × source count. Works
    * identically on batch frames (unified model), which is how the spec
    * asserts exact window contents. */
  def qualityMonitorStream(df: DataFrame, tsCol: String, delay: String,
                           textCol: String, sourceCol: String,
                           windowDur: String = "5 minutes",
                           slide: Option[String] = None): DataFrame = {
    import graft.functions.TextFunctions
    val win = slide match {
      case Some(sl) => window(col(tsCol), windowDur, sl)
      case None => window(col(tsCol), windowDur)
    }
    df.withColumn("__q",
        TextFunctions.qualityScore(col(textCol), length(col(textCol))))
      .withColumn("__nt", TextFunctions.tokenCount(col(textCol)))
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .groupBy(win, col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("__q")), 4).as("avg_quality"),
        round(avg(col("__nt")), 2).as("avg_tokens"),
        approx_count_distinct(col("__fp")).as("approx_distinct"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(sourceCol),
        col("n_docs"), col("avg_quality"), col("avg_tokens"),
        col("approx_distinct"),
        round(lit(1.0) - col("approx_distinct") / col("n_docs"), 4)
          .as("dup_rate_est"))
  }

  /** Sliding-window MEDIA-ingest monitor — the multimodal twin of
    * [[qualityMonitorStream]], closing the loop for blob feeds: per
    * (event-time window, modality), blob count, corrupt count and
    * fraction (each blob probed by the REAL kernel for its modality —
    * ImageIO header / RIFF chunk walk / ISO-BMFF box walk), and total
    * payload bytes. A corrupt-rate step change is the standard alarm
    * for a broken upstream encoder or a truncating transport.
    *
    * The probe rides in a scalar UDF rather than `mapPartitions`:
    * streaming frames cannot detour through the RDD API, and the
    * kernel is an opaque JVM byte walk either way — this is the same
    * narrow UDF seam as the Bloom `mightContain` prefilter (documented
    * exceptions to the functions-first rule). State per (window,
    * modality) is three counters — bounded by the watermark horizon ×
    * modality count. Works identically on batch frames (unified
    * model), which is how the spec pins exact window contents. */
  def mediaMonitorStream(df: DataFrame, tsCol: String, delay: String,
                         blobCol: String, modalityCol: String,
                         windowDur: String = "5 minutes"): DataFrame = {
    import graft.operators.Multimodal
    // null-guard first: the kernels are fuzz-proven total on non-null
    // bytes only — a null blob (or modality) must degrade to a corrupt
    // count, not NPE inside the probe and kill the streaming query
    val probeFormat = udf((modality: String, bytes: Array[Byte]) =>
      if (bytes == null) "corrupt"
      else modality match {
        case "image" => Multimodal.ImageIoCodec.probe(bytes, "img")._1
        case "audio" => Multimodal.WavCodec.probe(bytes, "wav")._1
        case "video" => Multimodal.Mp4Codec.probe(bytes, "mp4")._1
        case _       => "corrupt"
      })
    df.withColumn("__fmt", probeFormat(col(modalityCol), col(blobCol)))
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur), col(modalityCol))
      .agg(count(lit(1)).as("n_blobs"),
        sum(when(col("__fmt") === "corrupt", 1L).otherwise(0L))
          .as("n_corrupt"),
        sum(length(col(blobCol)).cast("long")).as("total_bytes"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(modalityCol),
        col("n_blobs"), col("n_corrupt"),
        round(col("n_corrupt").cast("double") / col("n_blobs"), 4)
          .as("frac_corrupt"),
        col("total_bytes"))
  }

  /** Bucketed layout shared by every store that keeps its history and
    * absorbs replays against it: the cross-run dedup stores, the score
    * cache, the SCD2 change store (and [[PitEnricher]] over it), the
    * cluster members, and — on `id` — the hierarchy log.
    *
    *   - `path/data` — rows parquet-PARTITIONED BY `pb`, a stable
    *     xxhash64 bucket of the family's join key. Appends repartition
    *     by `pb` first (one file per touched dir per batch); compact a
    *     long-lived store ([[compactStoreIfNeeded]]) as with any
    *     streaming-append table.
    *   - `path/config` — 1 row pinning the parameters that shaped the
    *     stored rows (bucket count, banding scheme). Written by the
    *     first writer and validated on every open ([[openOrInit]]): a
    *     later run with different parameters would silently join
    *     mismatched keys and MISS matches, so it is a hard error.
    *
    * A micro-batch's read of the store makes three decisions, all of
    * them here:
    *   1. the bucket COUNT is the store's pinned one ([[pinnedBuckets]]).
    *      Only writers, which create and validate the config row, take
    *      `buckets`; a reader bucketing at any other count would prune
    *      to the wrong dirs and silently miss stored rows;
    *   2. the batch's bucket SET comes from [[census]]: it adds `pb`,
    *      checkpoints the frame, and harvests the set inside that
    *      checkpoint job, so the set costs no job of its own;
    *   3. the SLICE ([[slice]]) reads only those `pb` dirs — a
    *      directory-level PARTITION filter, so per-batch read cost is the
    *      batch's share of the store, never its accumulated history —
    *      and joins them to the BROADCAST batch keys, so the store side
    *      is never shuffled or sorted (both plan-asserted in the spec).
    * Size `buckets` ≫ the expected batch key count (default 256, up to
    * 65536) so the set prunes most dirs. */
  private[graft] object DedupStore {
    def bucketOf(key: Column, buckets: Int): Column =
      pmod(xxhash64(key), lit(buckets.toLong)).cast("int")

    def hasData(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
      openStore(spark, s"$path/data")

    // (path, params) already validated in THIS process — openOrInit
    // runs once per micro-batch, and re-reading the one-row config
    // parquet is a whole Spark job of pure latency on the streaming
    // hot path. Correctness is unchanged: config is write-once, and a
    // concurrent writer with different params is already outside the
    // single-writer discipline every store documents. `pinned` is the
    // same memo for the bucket count, path → count.
    private val validated =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val pinned =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()

    /** Config row: write-if-absent, validate-if-present. */
    def openOrInit(spark: org.apache.spark.sql.SparkSession, path: String,
                   params: Seq[(String, Int)]): Unit = {
      val memoKey = path + "|" + params.map(p => s"${p._1}=${p._2}").mkString(",")
      val haveConfig = openStore(spark, s"$path/config")
      if (validated.contains(memoKey) && haveConfig) return
      if (!haveConfig) {
        val row = org.apache.spark.sql.Row.fromSeq(params.map(_._2))
        val schema = org.apache.spark.sql.types.StructType(params.map {
          case (n, _) => org.apache.spark.sql.types.StructField(
            n, org.apache.spark.sql.types.IntegerType, nullable = false) })
        spark.createDataFrame(java.util.List.of(row), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$path/config")
      } else {
        val have = spark.read.parquet(s"$path/config").head()
        val bad = params.filter { case (n, v) =>
          have.getInt(have.fieldIndex(n)) != v }
        require(bad.isEmpty,
          s"dedup store $path was built with different parameters: " +
            bad.map { case (n, v) =>
              s"$n stored=${have.getInt(have.fieldIndex(n))} requested=$v" }
              .mkString(", "))
      }
      params.collectFirst { case ("buckets", b) => pinned.put(path, b) }
      validated.add(memoKey)
      ()
    }

    /** The bucket count pinned in `path/config`; None before any writer
      * has opened the store. */
    private def pinnedBuckets(spark: org.apache.spark.sql.SparkSession,
                              path: String): Option[Int] =
      if (!openStore(spark, s"$path/config")) None
      else Some(pinned.computeIfAbsent(path, _ => Int.box(
        spark.read.parquet(s"$path/config").head().getAs[Int]("buckets")))
        .intValue)

    def append(df: DataFrame, path: String): Unit =
      df.repartition(col("pb")).write.mode("append")
        .partitionBy("pb").parquet(s"$path/data")

    /** Bucket census of a batch frame against the store at `path`: `df`
      * with `pb` (the bucket of `key` at the pinned count) added and
      * checkpointed, plus the batch's sorted bucket set. When the store
      * whose data the set will prune (`path + sub`) holds no data there
      * is nothing to slice: the set is empty and the checkpoint is lazy
      * (its first consumer materializes it, as a `persist` would), so an
      * empty store pays no job for its census. */
    def census(path: String, df: DataFrame, key: Column,
               sub: String = ""): (DataFrame, Seq[Int]) = {
      val spark = df.sparkSession
      pinnedBuckets(spark, path) match {
        case Some(b) if hasData(spark, path + sub) =>
          harvest(df.withColumn("pb", bucketOf(key, b)))
        case b =>
          (df.withColumn("pb", b.fold(lit(null).cast("int"))(bucketOf(key, _)))
            .localCheckpoint(false), Nil)
      }
    }

    /** Eager checkpoint of `df`, which carries `pb`, and its sorted
      * bucket set, harvested by a [[PbSetAccumulator]] inside the
      * checkpoint job. */
    def harvest(df: DataFrame): (DataFrame, Seq[Int]) = {
      val acc = new PbSetAccumulator
      df.sparkSession.sparkContext.register(acc, "pb-census")
      val add = udf { (pb: java.lang.Integer) =>
        if (pb != null) acc.add(pb.toInt)
        pb
      }
      val out = df.withColumn("pb", add(col("pb"))).localCheckpoint(true)
      (out, acc.value.toSeq.sorted)
    }

    /** The batch's slice of the store at `path`: its `pbs` dirs, joined
      * (`how`) to the BROADCAST batch `keys` on `on`. The schema comes
      * from the per-session memo ([[readStore]]), so the slice pays no
      * footer-inference job; the file index (and so visibility of
      * appends) is rebuilt per call. None when the store has no data or
      * the batch no buckets. */
    def slice(path: String, pbs: Seq[Int], keys: DataFrame, on: Seq[String],
              how: String = "left_semi"): Option[DataFrame] = {
      val spark = keys.sparkSession
      if (pbs.isEmpty || !hasData(spark, path)) None
      else Some(readStore(spark, s"$path/data").where(col("pb").isin(pbs: _*))
        .join(broadcast(keys), on, how))
    }
  }

  /** Offline compaction for a [[DedupStore]] (any of the three
    * cross-run stores — they share the layout). Every streaming append
    * leaves one file per touched `pb` dir per micro-batch, so a
    * long-lived deployment accumulates O(batches) small files per
    * partition; this rewrites `path/data` to ONE file per `pb` dir
    * (`repartition(pb)` hash-routes each bucket to exactly one task,
    * the same trick the append path uses) without changing a single
    * row, partition value, or the pinned `config`. The rewrite is a
    * row-count-checked [[swapStore]] (crash contract there).
    *
    * Returns (rows, filesBefore, filesAfter). */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
                   path: String): (Long, Long, Long) = {
    val data = s"$path/data"
    require(openStore(spark, data), s"no dedup store data at $data")
    val filesBefore = leafFileCounts(spark, data).sum
    val rows = swapStore(spark, data) { aside =>
      val before = spark.read.parquet(data)
      val nBefore = before.count()
      before.repartition(col("pb")).write.mode("overwrite")
        .partitionBy("pb").parquet(aside)
      val nAfter = spark.read.parquet(aside).count()
      require(nAfter == nBefore,
        s"compaction row drift: $nBefore before, $nAfter after — aborting swap")
      nAfter
    }
    (rows, filesBefore, leafFileCounts(spark, data).sum)
  }

  /** Outcome of [[compactStoreIfNeeded]]: the file census of the dir —
    * its largest per-leaf-dir data-file count and its total — and what
    * the compaction returned, when the threshold was crossed. */
  final case class CompactDecision[A](maxFilesPerDir: Long, files: Long,
                                      result: Option[A]) {
    def compacted: Boolean = result.isDefined
  }

  /** The one file-count compaction trigger of every store family: run
    * `compact` only when some leaf dir under `dir` holds more than
    * `maxFilesPerDir` data files. Each streaming append leaves one file
    * per touched leaf dir (a `pb` dir; `merges/` is one flat dir), so
    * the census counts batches since the last compaction. The census is
    * a driver-side listing ([[leafFileCounts]]) — no Spark job — so a
    * healthy store costs nothing and touches no file, whether this runs
    * after every batch (the hierarchy and cluster ingests wire it in)
    * or from a maintenance cron. A missing `dir` is a no-op. Same
    * single-writer discipline as the compaction it runs. */
  def compactStoreIfNeeded[A](spark: org.apache.spark.sql.SparkSession,
                              dir: String, maxFilesPerDir: Int)(
      compact: => A): CompactDecision[A] = {
    val perDir = leafFileCounts(spark, dir)
    val maxPer = perDir.foldLeft(0L)(math.max)
    CompactDecision(maxPer, perDir.sum,
      if (maxPer > maxFilesPerDir) Some(compact) else None)
  }

  /** Per-batch core of [[dedupAgainstStore]], factored out so the spec
    * can plan-assert the pruned scan + broadcast-only joins: returns
    * the batch rows whose normalized-text fingerprint is new to both
    * the batch and the store, with `fingerprint`/`pb` still attached
    * (the append side needs them). */
  private[graft] def dedupFresh(batch: DataFrame, textCol: String,
                                storePath: String): DataFrame = {
    val (fp, pbs) = DedupStore.census(storePath, batch
      .withColumn("fingerprint",
        graft.functions.TextFunctions.fingerprint(col(textCol)))
      .dropDuplicates("fingerprint"), col("fingerprint"))
    // the store slice is semi-joined on the batch's fingerprints; the
    // ≤batch-sized hit list then anti-joins back
    DedupStore.slice(storePath, pbs, fp.select("fingerprint"), Seq("fingerprint"))
      .fold(fp)(hits => fp.join(broadcast(hits.select("fingerprint")),
        Seq("fingerprint"), "left_anti"))
  }

  /** Incremental ingestion dedup against a persistent fingerprint store:
    * each micro-batch is deduped within itself, checked against the
    * store (docs already ingested in ANY earlier batch or run), handed
    * to `sink`, and its new fingerprints appended to the store.
    *
    * This is the cross-run complement of [[streamingDedup]]:
    * `dropDuplicatesWithinWatermark` bounds state to the watermark
    * horizon, while the store carries the full ingestion history as a
    * TABLE in the [[DedupStore]] bucketed layout, so per-batch cost
    * tracks the batch, not the deployment lifetime. Delivery is
    * at-least-once: a crash between `sink` and the store append can
    * re-emit a batch's docs; land the sink idempotently (same
    * fingerprint key) for exactly-once end-to-end. */
  def dedupAgainstStore(textCol: String, storePath: String,
                        buckets: Int = 256)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = {
    // the foreachBatch body: stream.writeStream.foreachBatch(this)
    (batch: DataFrame, _: Long) => {
      val spark = batch.sparkSession
      DedupStore.openOrInit(spark, storePath, Seq("buckets" -> buckets))
      val fresh = dedupFresh(batch, textCol, storePath).persist()
      sink(fresh.drop("fingerprint", "pb"))
      DedupStore.append(fresh.select("fingerprint", "pb"), storePath)
      fresh.unpersist()
      ()
    }
  }

  /** Incremental NEAR-dup ingestion: the approximate sibling of
    * [[dedupAgainstStore]]. Each micro-batch is MinHash-signed and
    * banded; a batch document is dropped when any band bucket collides
    * with the store (or an earlier in-batch doc) AND the signature
    * agreement — the standard MinHash Jaccard estimate, here exact
    * agreement fraction over k components — reaches `minEstJaccard`.
    * Survivors go to `sink` and their banded signatures append to the
    * store: only (id, sig, band, bucket) rows persist, never text, so
    * the store is ~k longs per document regardless of doc size.
    *
    * Documents shorter than `n` tokens have no signature and always
    * pass (nothing to estimate against). At-least-once like
    * [[dedupAgainstStore]]; the [[DedupStore]] key is (band, bucket).
    * `n`/`k`/`bands` shape the stored signatures, so they are pinned in
    * the store config and validated on every open; `minEstJaccard` is a
    * read-time threshold, free to vary per run. */
  def nearDupAgainstStore(idCol: String, textCol: String, storePath: String,
                          n: Int = 3, k: Int = 9, bands: Int = 3,
                          minEstJaccard: Double = 0.8, buckets: Int = 256)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = {
    import graft.operators.Dedup
    bandedDedupAgainstStore(idCol, storePath,
      Seq("n" -> n, "k" -> k, "bands" -> bands, "buckets" -> buckets),
      Seq("band", "bucket"), "sig", minhashClose(k, minEstJaccard))(batch =>
      Dedup.lshBuckets(Dedup.minhashSignatures(batch, idCol, textCol, n, k),
        k, bands))(sink)
  }

  /** MinHash closeness: the exact agreement fraction over the `k`
    * signature components — the Jaccard estimate — reaches
    * `minEstJaccard`. */
  private[graft] def minhashClose(k: Int, minEstJaccard: Double)(
      a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / k >= minEstJaccard

  /** Perceptual closeness: the Hamming distance of two 64-bit signature
    * strings is at most `maxHamming`. */
  private[graft] def hammingClose(maxHamming: Int)(a: Column, b: Column): Column =
    call_function(graft.plans.HammingDist.fnName, a, b) <= maxHamming

  /** The one per-batch body of the banded signature stores
    * ([[nearDupAgainstStore]], [[imageDedupAgainstStore]],
    * [[videoDedupAgainstStore]]): open the store, band the batch
    * (`band` → id, `sig`, `keys`…), census it on its band key, sink the
    * [[bandedFresh]] rows and append the survivors' bands. */
  private def bandedDedupAgainstStore(idCol: String, storePath: String,
                                      params: Seq[(String, Int)],
                                      keys: Seq[String], sig: String,
                                      close: (Column, Column) => Column)(
      band: DataFrame => DataFrame)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      DedupStore.openOrInit(batch.sparkSession, storePath, params)
      val (banded, pbs) = DedupStore.census(storePath, band(batch),
        concat_ws(":", keys.map(col): _*))
      val fresh = bandedFresh(batch, banded, pbs, idCol, storePath, keys,
        sig, close).persist()
      sink(fresh)
      DedupStore.append(
        banded.join(fresh.select(col(idCol).as("id")), Seq("id"), "left_semi"),
        storePath)
      fresh.unpersist()
      ()
    }

  /** Per-batch core of the banded signature stores (factored for the
    * spec's plan assertions): `banded` is the batch's censused band
    * frame (id, `sig`, `keys`…, pb) and `pbs` its bucket set. Returns
    * the batch rows that are `close` to no row sharing a band key —
    * neither in the store nor earlier (smaller id) in the batch. */
  private[graft] def bandedFresh(batch: DataFrame, banded: DataFrame,
                                 pbs: Seq[Int], idCol: String,
                                 storePath: String, keys: Seq[String],
                                 sig: String,
                                 close: (Column, Column) => Column): DataFrame = {
    def side(s: String) = banded.select(
      col("id").as(s"id_$s") +: col(sig).as(s"sig_$s") +: keys.map(col): _*)
    // within the batch: keep the smaller id of a close pair (one side
    // broadcast — a micro-batch is broadcastable by contract)
    val dupInBatch = side("b").join(broadcast(side("a")), keys)
      .where(col("id_a") < col("id_b") && close(col("sig_a"), col("sig_b")))
      .select(col("id_b").as("id"))
    // the store slice's output is collision-bounded (≤ batch × bands)
    val dups = DedupStore.slice(storePath, pbs, side("b"), keys, "inner")
      .fold(dupInBatch)(_.where(close(col(sig), col("sig_b")))
        .select(col("id_b").as("id")).unionByName(dupInBatch))
    batch.join(broadcast(dups.withColumnRenamed("id", idCol).distinct()),
      Seq(idCol), "left_anti")
  }

  /** Cross-run IMAGE ingestion dedup — [[nearDupAgainstStore]]'s
    * perceptual sibling: each micro-batch of (id, blob) rows is REALLY
    * pixel-decoded and dHashed
    * ([[graft.operators.Multimodal.DHashCodec]]), banded with the
    * pigeonhole split, and checked against a persistent banded
    * signature store + within the batch; only FIRST-seen images reach
    * the sink, and only their signatures append to the store. A
    * re-encoded copy (PNG↔BMP, recompressed) hashes identically and a
    * lightly edited one lands within `maxHamming`, so both are
    * suppressed where byte-level dedup would pass them. Corrupt blobs
    * bypass dedup and flow to the sink (quarantine is the monitor's
    * job — [[mediaMonitorStream]]). At-least-once redelivery is
    * absorbed BY CONSTRUCTION: a replayed image collides with its own
    * stored signature at distance 0, so nothing re-emits and nothing
    * re-appends (spec-asserted). Store joins are (band, key) equi-joins
    * over the [[DedupStore]] slice — never a full-store Hamming scan.
    * `maxHamming` fixes the pigeonhole band split that shaped the
    * stored keys, so it is pinned in the store config and a later run
    * with a different value is a hard error instead of silently missed
    * duplicates. */
  def imageDedupAgainstStore(idCol: String, blobCol: String,
                             storePath: String, maxHamming: Int = 3,
                             buckets: Int = 256)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    bandedDedupAgainstStore(idCol, storePath,
      Seq("maxHamming" -> maxHamming, "buckets" -> buckets),
      Seq("band", "key"), "dhash", hammingClose(maxHamming))(
      imageBanded(_, blobCol, idCol, maxHamming))(sink)

  /** Pigeonhole band split over ANY (id, dhash) 64-bit-string signature
    * frame → (id, dhash, band, key) — signature-agnostic, shared by the
    * image (dHash) and video (frame-size profile) stores, whose
    * closeness test ([[hammingClose]]) it registers. */
  private[graft] def sigBanded(sigs: DataFrame, maxHamming: Int): DataFrame = {
    graft.plans.HammingDist.register(sigs.sparkSession)
    val b = maxHamming + 1
    val bounds = (0 to b).map(i => 1 + i * 64 / b)
    val bandCols = (0 until b).map { i =>
      struct(lit(i).as("band"),
        substring(col("dhash"), bounds(i), bounds(i + 1) - bounds(i)).as("key"))
    }
    sigs
      .select(col("id"), col("dhash"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("dhash"),
        col("bb.band").as("band"), col("bb.key").as("key"))
  }

  /** A batch's banded dHash frame (id, dhash, band, key): REAL pixel
    * decode → dHash → [[sigBanded]]. */
  private[graft] def imageBanded(batch: DataFrame, blobCol: String,
                                 idCol: String, maxHamming: Int): DataFrame = {
    import graft.operators.Multimodal
    sigBanded(
      Multimodal.decodeImageHashPartitions(batch, blobCol, idCol)
        .where(col("format") =!= "corrupt")
        .select(col("id"), col("dhash")),
      maxHamming)
  }

  /** Cross-run VIDEO ingestion dedup — [[imageDedupAgainstStore]]'s
    * video sibling over [[graft.operators.Multimodal.VideoSigCodec]]
    * frame-size-profile fingerprints: a re-muxed copy of a stream
    * (same samples, different container bytes/branding/keyframe
    * settings) fingerprints identically and is suppressed where
    * byte-level dedup would pass it; a lightly re-encoded one lands
    * within `maxHamming`. Same store, config pinning, at-least-once
    * absorption, and corrupt-bypass contract as the image store. */
  def videoDedupAgainstStore(idCol: String, blobCol: String,
                             storePath: String, maxHamming: Int = 3,
                             buckets: Int = 256)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = {
    import graft.operators.Multimodal
    bandedDedupAgainstStore(idCol, storePath,
      Seq("maxHamming" -> maxHamming, "buckets" -> buckets),
      Seq("band", "key"), "dhash", hammingClose(maxHamming))(batch =>
      sigBanded(
        Multimodal.decodeVideoSigPartitions(batch, blobCol, idCol)
          .where(col("format") =!= "corrupt")
          .select(col("id"), col("vsig").as("dhash")),
        maxHamming))(sink)
  }

  /** Cross-run SHIFTED-CONTENT ingestion dedup — the content-defined-
    * chunking member of the store family. The exact store
    * ([[dedupAgainstStore]]) misses a redelivered document the moment
    * anything prepends/edits it (the whole-text fingerprint changes);
    * CDC boundaries re-synchronize one window past an edit
    * ([[graft.plans.CdcChunks]]), so the edited copy still shares
    * nearly all chunk hashes with history. A batch document is
    * suppressed when ≥ `minOverlap` of its chunks are already known —
    * to the store (any earlier batch or run) or to an earlier
    * (smaller-id) document in the same batch. Documents with no chunks
    * (empty text) always pass.
    *
    * Store rows are (chunk md5, pb) only — no ids, no text — and a
    * chunk is appended once: fresh documents' chunks are anti-joined
    * against the already-known set before the append, so a viral
    * boilerplate chunk occupies ONE store row no matter how many
    * documents carry it. Same [[DedupStore]] layout as the siblings,
    * batch side broadcast everywhere, `w`/`mask` pinned in the config,
    * at-least-once replays absorbed by construction (a redelivered
    * doc's chunks all hit → overlap 1). `minOverlap` is a read-time
    * threshold, free to vary per run. */
  def cdcDedupAgainstStore(idCol: String, textCol: String, storePath: String,
                           w: Int = 8, mask: Int = 64,
                           minOverlap: Double = 0.5, buckets: Int = 256)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(minOverlap > 0.0 && minOverlap <= 1.0,
      "minOverlap must be in (0, 1]")
    (batch: DataFrame, _: Long) => {
      val spark = batch.sparkSession
      DedupStore.openOrInit(spark, storePath,
        Seq("w" -> w, "mask" -> mask, "buckets" -> buckets))
      val (chunks, pbs) = DedupStore.census(storePath,
        cdcHashed(batch, idCol, textCol, w, mask), col("ch"))
      val known = cdcKnown(chunks, pbs, storePath).persist()
      val fresh = cdcFresh(batch, chunks, known, idCol, minOverlap).persist()
      sink(fresh)
      DedupStore.append(
        chunks.join(fresh.select(col(idCol).as("id")), Seq("id"), "left_semi")
          .join(broadcast(known), Seq("ch"), "left_anti")
          .select("ch", "pb").distinct(),
        storePath)
      known.unpersist(); fresh.unpersist()
      ()
    }
  }

  /** A batch's distinct (id, chunk-md5) frame — pure fused map + one
    * batch-bounded distinct. */
  private[graft] def cdcHashed(batch: DataFrame, idCol: String,
                               textCol: String, w: Int, mask: Int): DataFrame =
    graft.operators.Dedup.cdcChunks(
        batch.select(col(idCol).as("id"), col(textCol)), "id", textCol,
        w, mask)
      .select(col("id"), md5(col("chunk")).as("ch"))
      .distinct()

  /** The batch's already-known chunk hashes: the store slice of the
    * censused batch `chunks` (bucket set `pbs`), semi-joined on its
    * chunk set — batch-bounded output. */
  private[graft] def cdcKnown(chunks: DataFrame, pbs: Seq[Int],
                              storePath: String): DataFrame =
    DedupStore.slice(storePath, pbs, chunks.select("ch").distinct(), Seq("ch"))
      .fold(chunks.select("ch").limit(0))(_.select("ch").distinct())

  /** Per-batch core of [[cdcDedupAgainstStore]] (factored for the
    * spec's plan assertions): suppress batch docs whose chunk-overlap
    * with `known` ∪ earlier-in-batch ownership reaches `minOverlap`. */
  private[graft] def cdcFresh(batch: DataFrame, chunks: DataFrame,
                              known: DataFrame, idCol: String,
                              minOverlap: Double): DataFrame = {
    val owner = chunks.groupBy(col("ch")).agg(min(col("id")).as("min_owner"))
    val dupIds = chunks
      .join(broadcast(known.withColumn("in_store", lit(1))), Seq("ch"), "left")
      .join(broadcast(owner), Seq("ch"))
      .withColumn("hit",
        when(col("in_store").isNotNull || col("min_owner") < col("id"), 1L)
          .otherwise(0L))
      .groupBy(col("id"))
      .agg(sum(col("hit")).as("n_hit"), count(lit(1)).as("n"))
      .where(col("n_hit").cast("double") / col("n") >= minOverlap)
      .select(col("id"))
    batch.join(broadcast(dupIds.withColumnRenamed("id", idCol).distinct()),
      Seq(idCol), "left_anti")
  }

  /** Content-addressed score cache — the streaming form of
    * `Dedup.incrementalRecompute`. `compute` (typically the EXPENSIVE
    * per-document stage: model scoring, feature extraction) runs only
    * over content the deployment has never seen: results are cached in
    * a persistent store KEYED BY NORMALIZED FINGERPRINT, so a
    * redelivered batch, a re-crawl under new ids, or a
    * whitespace-drifted copy all reuse the cached row instead of
    * recomputing. Each emitted row carries `from_cache: boolean`.
    *
    * Contract for `compute`: input is one representative row per new
    * fingerprint (all batch columns plus `fingerprint`); output must
    * carry `fingerprint` plus the result columns, one row per input
    * fingerprint, and be a pure function of the (normalized) content —
    * the same purity `incrementalRecompute` requires. Result columns
    * must keep a stable schema across batches (they are the store's
    * schema).
    *
    * The store is a [[DedupStore]] keyed on the fingerprint, so
    * per-batch cost tracks the batch, not the deployment lifetime.
    * At-least-once: a crash between `sink` and the append recomputes
    * (not corrupts) on replay; the append is anti-joined against the
    * cache so each fingerprint is stored once. */
  def scoreAgainstStore(idCol: String, textCol: String, storePath: String,
                        buckets: Int = 256)(
      compute: DataFrame => DataFrame)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, _: Long) => {
      val spark = batch.sparkSession
      DedupStore.openOrInit(spark, storePath, Seq("buckets" -> buckets))
      val (fp, pbs) = DedupStore.census(storePath, batch
        .withColumn("fingerprint",
          graft.functions.TextFunctions.fingerprint(col(textCol))),
        col("fingerprint"))
      val cached = scoreCacheLookup(fp, pbs, storePath).map(_.persist())
      val knownFps = cached.map(_.select("fingerprint"))
        .getOrElse(fp.select("fingerprint").limit(0))
      // one representative row per fingerprint the cache has never seen
      val reps = fp
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("fingerprint")).orderBy(col(idCol))))
        .where(col("__rn") === 1).drop("__rn")
        .join(broadcast(knownFps), Seq("fingerprint"), "left_anti")
      val computed = compute(reps.drop("pb")).persist()
      val results = cached match {
        case Some(c) => c.drop("pb").withColumn("from_cache", lit(true))
          .unionByName(computed.withColumn("from_cache", lit(false)))
        case None => computed.withColumn("from_cache", lit(false))
      }
      sink(fp.select(col(idCol), col("fingerprint"))
        .join(broadcast(results), Seq("fingerprint")))
      DedupStore.append(
        computed.withColumn("pb",
          DedupStore.bucketOf(col("fingerprint"), buckets)),
        storePath)
      cached.foreach(_.unpersist()); computed.unpersist()
      ()
    }
  }

  /** The batch's cached result rows: the store slice of the censused
    * batch `fp` (bucket set `pbs`), semi-joined on its fingerprints.
    * None when the cache has no data or the batch no fingerprints
    * (first batch — the result schema is not knowable until `compute`
    * defines it). */
  private[graft] def scoreCacheLookup(fp: DataFrame, pbs: Seq[Int],
                                      storePath: String): Option[DataFrame] =
    DedupStore.slice(storePath, pbs, fp.select("fingerprint").distinct(),
      Seq("fingerprint"))

  /** Streaming weighted reservoir: maintain, across micro-batches and
    * restarts, the per-stratum k-sample a batch A-ES pass
    * ([[graft.operators.Sampling.weightedTopKSample]]) would draw over
    * EVERYTHING ingested so far. Exactness is structural, not
    * approximate: A-ES ranking keys are item-intrinsic (md5 coin — no
    * RNG state), so "merge new candidates with the stored reservoir,
    * keep the k smallest keys per stratum" is bit-equal to ranking the
    * full history; truncating to k per batch loses nothing a later
    * batch could need. State is ≤ k rows per stratum FOREVER — the
    * per-batch cost is batch + reservoir, never history (contrast the
    * dedup stores, whose state must grow; a sampler's must not).
    *
    * Redelivery is idempotent (same id ⇒ same key ⇒ dropDuplicates by
    * merge); a re-arrival with a HIGHER weight improves the item's key
    * (min-key merge — monotone), a lower one is ignored. The reservoir
    * dir is replaced per batch by a [[swapStore]] (aside
    * `reservoir_next`; crash contract there), so a crash never loses
    * the reservoir. `sink` receives the post-merge reservoir (stratum,
    * id, w4, key10, rn). */
  def weightedSampleAgainstStore(idCol: String, weightCol: String,
                                 stratumCol: String, storePath: String,
                                 k: Int)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(k >= 1, "k must be >= 1")
    (batch: DataFrame, _: Long) => {
      val spark = batch.sparkSession
      DedupStore.openOrInit(spark, storePath, Seq("k" -> k))
      val cand = graft.operators.Sampling.aresKeys(
          batch.select(col(stratumCol).as("stratum"), col(idCol).as("id"),
            col(weightCol).as("__w")),
          "id", "__w")
        .select("stratum", "id", "w4", "key10")
      val live = s"$storePath/reservoir"
      val merged = swapStore(spark, live, "_next") { next =>
        val merged0 =
          if (openStore(spark, live)) readStore(spark, live)
            .select("stratum", "id", "w4", "key10").unionByName(cand)
          else cand
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("stratum")).orderBy(col("key10"), col("id"))
        val out = merged0
          .groupBy("stratum", "id")
          .agg(max(col("w4")).as("w4"), min(col("key10")).as("key10"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= k)
          .persist()
        out.coalesce(1).write.mode("overwrite").parquet(next)
        out
      }
      sink(merged)
      merged.unpersist()
      ()
    }
  }

  /** Streaming SCD2 ingestion — the incremental form of
    * [[graft.operators.Scd.scd2Build]]: dimension snapshot rows
    * `(key, snapTs, attrs…)` arrive in micro-batches and fold into a
    * persistent CHANGE store; only rows whose attributes differ from
    * the key's current state are appended, so unchanged re-snapshots
    * and replays are absorbed (the store IS the compression). The
    * store is a [[DedupStore]] keyed on `key`; each batch recovers its
    * keys' current state from its slice, so per-batch cost tracks batch
    * size, not dimension history. Intervals are derived at read time by
    * [[scd2StoreIntervals]].
    *
    * Delivery contract (same as `transitionStream`): per-key
    * non-decreasing snapshot timestamps across batches; a snapshot
    * older than the key's current state is DROPPED (late data), and
    * within a batch rows fold in `(snapTs)` order. Attribute
    * comparison is null-safe, matching `scd2Build`. The store enforces
    * STRICT `(key, snapTs)` uniqueness: a row at a timestamp the key
    * already has a change for — stored, or earlier in the same batch —
    * is kept only as an exact replay; if its attributes DIFFER it is
    * dropped as conflicting (first-writer-wins, with a deterministic
    * attribute-order tie-break inside a batch), because appending it
    * would create two change rows at one valid-from and make
    * [[scd2StoreIntervalsAsOf]]'s `lead` ordering ambiguous —
    * nondeterministic `valid_to` / zero-length intervals. */
  def scd2IngestStream(keyCol: String, snapCol: String,
                       attrCols: Seq[String], storePath: String,
                       buckets: Int = 64)(
      sink: DataFrame => Unit = _ => ()): (DataFrame, Long) => Unit = {
    require(attrCols.nonEmpty, "need at least one attribute")
    (batch0: DataFrame, batchId: Long) => {
      val spark = batch0.sparkSession
      DedupStore.openOrInit(spark, storePath, Seq("buckets" -> buckets))
      // the census checkpoint also stops the window ladder below from
      // re-deriving the batch's (possibly deep) source plan per consumer
      val (batch, pbs) = DedupStore.census(storePath, batch0
        .select(col(keyCol).as("k") +: col(snapCol).as("snap_ts") +:
          attrCols.map(col): _*)
        .withColumn("seed", lit(false)), col("k"))
      // seed rows: the touched keys' FULL stored change history — the
      // store slice semi-joined on the batch keys.
      // Using the history directly (instead of a groupBy max-struct
      // "current state" aggregate plus a current-ts guard join) keeps
      // the whole cycle one keyed window ladder: the late-data guard
      // becomes a per-key max over the seed rows, and the change-lag
      // chain is indifferent to the extra seeds — stored rows are
      // changes by construction (each differs from its predecessor)
      // and never re-emit, so the first surviving batch row still
      // chains off the key's latest stored state.
      val guarded = DedupStore.slice(storePath, pbs,
          batch.select("k").distinct(), Seq("k"))
        .fold(batch) { slice =>
          val hist = slice
            .select(col("k") +: col("snap_ts") +: attrCols.map(col) :+
              col("pb"): _*)
            .withColumn("seed", lit(true))
          // late-data guard: batch rows older than the key's current
          // state (= latest seed ts) drop
          val wc = org.apache.spark.sql.expressions.Window
            .partitionBy(col("k"))
          batch.unionByName(hist)
            .withColumn("__cur_ts",
              max(when(col("seed"), col("snap_ts"))).over(wc))
            .where(col("seed") || col("__cur_ts").isNull ||
              col("snap_ts") >= col("__cur_ts"))
            .drop("__cur_ts")
        }
      // strict (k, snap_ts) uniqueness resolves FIRST: one row per
      // (k, snap_ts) survives — the seed (stored state) if present,
      // else the first batch row in attribute order (first-writer-wins
      // with a deterministic tie-break). A dropped conflicting
      // restatement must NOT feed the change-lag chain below: if it
      // did, a later row restating the dropped attrs would compare
      // equal to a row that never landed (a real change silently
      // lost) and a later row restating the kept attrs would compare
      // different (a spurious append) — breaking streamed ≡ scd2Build.
      val wts = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k"), col("snap_ts"))
        .orderBy(col("seed").desc +: attrCols.map(col): _*)
      val kept = guarded
        .withColumn("__rn", row_number().over(wts))
        .where(col("__rn") === 1)
        .drop("__rn")
      // change detection over KEPT rows only; (k, snap_ts) is unique
      // now, so ordering by snap_ts alone is total per key and every
      // lag partner is strictly earlier — an exact replay of the
      // stored change collapsed into its seed above and appends
      // nothing
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("snap_ts"))
      val changed = attrCols
        .map(a => !(col(a) <=> lag(col(a), 1).over(wk)))
        .reduce(_ || _)
      // the KNOWLEDGE-time stamp: which micro-batch learned this change
      // (valid time is snap_ts) — the bitemporal axis scd2StoreIntervalsAsOf
      // reads; a replayed batch re-appends nothing, so stamps are stable
      val changes = kept
        .withColumn("__chg", changed)
        .where(!col("seed") && col("__chg"))
        .select(col("k") +: col("snap_ts") +: attrCols.map(col) :+
          col("pb"): _*)
        .withColumn("batch_id", lit(batchId))
        .persist()
      // no emptiness probe on the steady-state path: appending an
      // EMPTY frame to an EXISTING store writes no part files, so the
      // probe was a whole extra job per micro-batch spent avoiding a
      // no-op — the append IS the materializing action (it populates
      // the cache `sink` then reads). Only while the store does NOT
      // yet exist is emptiness checked first: an empty partitioned
      // write would create a schema-less `data/` dir and poison the
      // next batch's read.
      if (DedupStore.hasData(spark, storePath) || !changes.isEmpty)
        DedupStore.append(changes, storePath)
      else noteStoreSchema(spark, s"$storePath/data", changes.schema)
      sink(changes)
      changes.unpersist()
      ()
    }
  }

  /** Validity intervals from a [[scd2IngestStream]] store — equals
    * [[graft.operators.Scd.scd2Build]] over the full snapshot history
    * (spec-asserted): the store holds exactly the change rows, so
    * intervals are one keyed `lead` away. */
  def scd2StoreIntervals(spark: org.apache.spark.sql.SparkSession,
                         storePath: String,
                         attrCols: Seq[String]): DataFrame =
    scd2StoreIntervalsAsOf(spark, storePath, attrCols, Long.MaxValue)

  /** BITEMPORAL read of the [[scd2IngestStream]] store: the validity
    * intervals as the dimension was KNOWN after micro-batch
    * `asOfBatch` — change rows learned later are invisible, so a
    * report re-run "as of" an earlier ingest reproduces exactly what
    * that ingest could have known (valid time = snap_ts, knowledge
    * time = batch_id; the two-axis contract every audited warehouse
    * restatement needs). Equals a from-scratch [[graft.operators.Scd
    * .scd2Build]] over the history ingested up to that batch
    * (spec-asserted). */
  def scd2StoreIntervalsAsOf(spark: org.apache.spark.sql.SparkSession,
                             storePath: String, attrCols: Seq[String],
                             asOfBatch: Long): DataFrame = {
    // batch_id completes the ordering: ingest enforces strict
    // (k, snap_ts) uniqueness, but a store written before that
    // enforcement could carry equal-ts rows — knowledge order is the
    // deterministic tie-break for them
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("valid_from"), col("batch_id"))
    readStoreOrEmpty(spark, s"$storePath/data")
      .where(col("batch_id") <= asOfBatch)
      .select(col("k") +: col("snap_ts").as("valid_from") +:
        attrCols.map(col) :+ col("batch_id"): _*)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wk))
      .drop("batch_id")
  }

  /** Stream-stream temporal (as-of) enrichment — the bitemporal
    * composition the warehouse micro-batch loop runs: dimension
    * snapshots stream into an [[scd2IngestStream]] change store, and
    * each FACT micro-batch enriches against the dimension AS KNOWN SO
    * FAR, as-of each fact's own event time ([[graft.operators.Scd
    * .pointInTimeJoin]] over [[scd2StoreIntervals]]).
    *
    * Delivery contract: within a micro-batch cycle, ingest the dim
    * slice BEFORE enriching the fact slice (the standard dim-first
    * discipline), and facts must not run ahead of the dim stream's
    * event time — a fact enriched before a dim change with
    * `valid_from ≤ factTs` lands reads the older interval (exactly
    * what a from-scratch PIT join over the fuller history would NOT
    * do). When the two streams are time-aligned — every fact batch's
    * timestamps precede the next dim batch's snapshot ts — the UNION
    * of per-batch enrichments equals the batch point-in-time join over
    * the complete histories (spec- and oracle-asserted, q329).
    *
    * Scale: the enrich side reads the fact batch's [[DedupStore]]
    * slice of the change store, so per-batch enrich cost tracks the
    * batch's share of the dimension, never total dim HISTORY. A key's
    * full change history lives inside its one `pb` bucket, so the slice
    * carries every interval the as-of lookup can need. The as-of join
    * itself is the audited [[graft.operators.AsOfJoin.leftAsOf]] keyed
    * shuffle, and the point-in-time lookup needs only each key's
    * `valid_from` ladder — no `valid_to` lead window on the hot path.
    * `buckets` shapes the store, so only [[ingestDim]] uses it; the
    * enrich side reads the store's pinned count. */
  final case class PitEnricher(storePath: String, attrCols: Seq[String],
                               buckets: Int = 64) {
    /** Feed one dimension micro-batch (cols: k, snap_ts, attrs). */
    val ingestDim: (DataFrame, Long) => Unit =
      scd2IngestStream("k", "snap_ts", attrCols, storePath, buckets)()
    /** Enrich one fact micro-batch against the store as known now. */
    def enrich(facts: DataFrame, factKey: String, factTs: String): DataFrame =
      enrichAsOfBatch(facts, factKey, factTs, Long.MaxValue)
    /** BITEMPORAL replay: enrich as-of the dimension KNOWN after dim
      * micro-batch `asOfBatch` — reproduces exactly what an enrichment
      * run at that point of the stream could have seen (the audited
      *-restatement answer to "what did this report say then"), via
      * the change store's knowledge-time axis (as
      * [[scd2StoreIntervalsAsOf]]). Before the store holds any change
      * row every fact enriches to null attributes, as a point-in-time
      * join against an empty dimension does. */
    def enrichAsOfBatch(facts: DataFrame, factKey: String, factTs: String,
                        asOfBatch: Long): DataFrame = {
      val dim = dimSliceFor(facts, factKey, asOfBatch).getOrElse(
        facts.select(col(factKey).as("k") +: col(factTs).as("valid_from") +:
          attrCols.map(lit(null).as(_)): _*).limit(0))
      graft.operators.Scd.pointInTimeJoin(
        facts, dim, factKey, "k", factTs, attrCols)
    }
    /** The fact batch's slice of the change store, knowledge-filtered
      * to `asOfBatch`. `valid_from` rows only —
      * [[graft.operators.Scd.pointInTimeJoin]] drops `valid_to`, so
      * deriving it here would be a pure window-exchange tax. */
    private def dimSliceFor(facts: DataFrame, factKey: String,
                            asOfBatch: Long): Option[DataFrame] = {
      val (keys, pbs) = DedupStore.census(storePath, facts
        .select(col(factKey).as("k")).where(col("k").isNotNull).distinct(),
        col("k"))
      DedupStore.slice(storePath, pbs, keys.select("k"), Seq("k"))
        .map(_.where(col("batch_id") <= asOfBatch)
          .select(col("k") +: col("snap_ts").as("valid_from") +:
            attrCols.map(col): _*))
    }
  }

  // ---- streaming incremental hierarchy maintenance ----

  /** Streaming hierarchy maintenance — the incremental form of
    * [[graft.operators.GraphOps.subtreeAggregate]]: upsert events
    * `(id, parent, value)` (insert / reparent / value restatement)
    * arrive in micro-batches and fold into a persistent store whose
    * read-out ([[hierStoreAggregates]]) is bit-equal to a from-scratch
    * batch rollup over the CURRENT pointer forest (spec- and
    * oracle-asserted, q332). The warehouse shape: an org chart / BOM
    * under reorg churn, where "headcount under every manager" must
    * stay current without re-walking the whole tree per change.
    *
    * Layout — ONE append-only log, `log/data`, parquet-partitioned by
    * `(fam, pb)` ([[DedupStore]] bucket on `id` as everywhere):
    *  - `fam=n` rows — `(id, parent, value, batch_id)` pointer/value
    *    upserts; a node's current row is its max `batch_id` (strictly
    *    one event per node per batch, enforced);
    *  - `fam=a` rows — `(id, n_subtree, subtree_sum, batch_id)`
    *    maintained subtree aggregates, same latest-wins read.
    * `fam` is a PARTITION column, so each family's reads
    * directory-prune to their own subtree exactly as the former
    * separate `nodes/`/`acc/` dirs did — but the batch's two row
    * families land in ONE parquet commit (one job, one file per
    * touched dir) instead of two sequential appends, which both
    * halves the per-micro-batch write floor and CLOSES the
    * crash window between the appends: a batch is either entirely
    * in the store or entirely absent (to the same all-or-nothing
    * granularity a single parquet append already had).
    *
    * Per-batch algorithm — DELTA PROPAGATION along FINAL-pointer
    * ancestor chains, no tree recomputation:
    *  - insert v            → `(+1, +value)` along ancestors-of-self
    *    of v;
    *  - value change v by Δ → `(0, +Δ)` along ancestors-of-self of v;
    *  - reparent v p→p'     → `(−n, −sum)` of v's STORED subtree
    *    aggregate along ancestors-of-self of p, `(+n, +sum)` along
    *    ancestors-of-self of p'.
    * All chains walk the POST-BATCH pointer table (stored latest
    * overridden by the batch's own events), which makes simultaneous
    * events compose exactly: an event strictly inside a moved subtree
    * rides its own chain THROUGH the new position, so moving the
    * PRE-BATCH stored aggregate is precisely complementary (the same
    * decomposition argument as bitemporal SCD2 restatements). A
    * reparent creating a cycle makes its chain never terminate and
    * fails loud at `maxDepth`. Replay-safe UNDER AT-LEAST-ONCE
    * delivery: both row families land in ONE commit, and every batch
    * probes the log for its own `batch_id` (harvested by an
    * accumulator inside the current-state scan, which provably covers
    * the committed rows — a redelivered batch carries the same event
    * ids — so the probe costs zero extra jobs). A hit
    * means a prior attempt of THIS batch already committed — its
    * deltas are applied and its events stored — so the replay appends
    * nothing (repeated replays cannot grow the store) and re-emits
    * the batch's recovered acc rows to the change-feed sink (a first
    * attempt that crashed between the commit and sink() would
    * otherwise drop that batch's output forever). Without the probe,
    * a replay would recompute the deltas against its OWN stored
    * events and acc rows — applying them twice.
    *
    * Contract: strictly one event per node per batch (enforced), and
    * an event's `parent` must be null (root), an already-stored node,
    * or a node inserted in the same batch — a DANGLING parent id
    * fails loud (`raise_error` inside the chain walk, so the guard
    * costs zero extra jobs), like the cycle and uniqueness guards;
    * silently crediting a delta to a nonexistent node would emit a
    * phantom id from [[hierStoreAggregates]].
    *
    * Scale: per batch, reads prune to the touched keys' buckets and
    * semi-join the broadcast batch; chain frames are
    * (events × depth)-sized, never corpus-sized; the walk is ≤ depth
    * rounds of frontier joins (the bfsHops ladder). The store never
    * scans by parent — child enumeration is exactly what the delta
    * algebra avoids. Superseded versions retire automatically:
    * `autoCompactFilesPerDir` (0 disables) triggers [[hierCompact]]
    * off one driver-side listing per batch
    * ([[compactStoreIfNeeded]]) once some `pb` dir accumulates that
    * many files, bounding store growth under unbounded churn. */
  def hierarchyIngestStream(storePath: String, buckets: Int = 64,
                            maxDepth: Int = 30,
                            autoCompactFilesPerDir: Int = 16)(
      sink: DataFrame => Unit = _ => ()): (DataFrame, Long) => Unit =
    (batch0: DataFrame, batchId: Long) =>
      hierarchyFoldBatch(batch0, batchId, storePath, buckets, maxDepth,
        autoCompactFilesPerDir, sink)

  /** One [[hierarchyIngestStream]] micro-batch (a method so the
    * empty-batch and replay paths can return early). */
  private def hierarchyFoldBatch(batch0: DataFrame, batchId: Long,
                                 storePath: String, buckets: Int,
                                 maxDepth: Int,
                                 autoCompactFilesPerDir: Int,
                                 sink: DataFrame => Unit): Unit = {
    {
      val spark = batch0.sparkSession
      DedupStore.openOrInit(spark, storePath, Seq("buckets" -> buckets))
      val logP = s"$storePath/log"
      val ev = batch0.select(col("id"), col("parent"), col("value"))
        .withColumn("pb", DedupStore.bucketOf(col("id"), buckets))
        // LAZY: the uniqueness/bucket probe right below aggregates the
        // whole frame, materializing the checkpoint inside its own job
        .localCheckpoint(false)
      // ONE ≤buckets-row driver probe serves both the per-node
      // uniqueness guard and the bucket set (micro-batch latency is
      // job-count-bound)
      val probe = ev.groupBy(col("pb"))
        .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("nd"))
        .collect()
      require(probe.forall(r => r.getLong(1) == r.getLong(2)),
        "hierarchyIngestStream: one event per node per batch")
      val pbs = probe.map(_.getInt(0)).toSeq
      val emptyOut = ev.select(col("id"), lit(0L).as("n_subtree"),
        lit(0L).as("subtree_sum")).limit(0)
      // the batch's log rows: both row families, null-padded to the
      // union schema, in ONE frame (see the commit below)
      def logRows(accNew: DataFrame): DataFrame = {
        val pT = ev.schema("parent").dataType
        val vT = ev.schema("value").dataType
        val nodeRows = ev.select(col("id"), col("parent"), col("value"),
          lit(null).cast("long").as("n_subtree"),
          lit(null).cast("long").as("subtree_sum"),
          lit("n").as("fam"), col("pb"))
        val accRows = accNew.select(col("id"),
          lit(null).cast(pT).as("parent"), lit(null).cast(vT).as("value"),
          col("n_subtree"), col("subtree_sum"),
          lit("a").as("fam"), col("pb"))
        nodeRows.unionByName(accRows).withColumn("batch_id", lit(batchId))
      }
      if (pbs.isEmpty) {
        // An EMPTY micro-batch (foreachBatch can deliver one) folds to
        // nothing and must APPEND nothing: appending a zero-row frame
        // to a FRESH store would create a schema-less data dir holding
        // only _SUCCESS, poisoning every later read with 'Unable to
        // infer schema'. A fresh store records its row schema instead.
        if (!DedupStore.hasData(spark, logP))
          noteStoreSchema(spark, s"$logP/data",
            logRows(emptyOut.withColumn("pb", lit(0))).schema)
        sink(emptyOut)
        return
      }
      // ONE relation snapshot per batch: every spark.read.parquet
      // builds a fresh file index (a listing job), and the chain walk
      // below would otherwise re-list the log every round. The batch's
      // own append happens only at the END, so a single snapshot is
      // consistent for the whole batch. `fam` is a partition column:
      // each family's reads below directory-prune to their own subtree.
      val rel =
        if (DedupStore.hasData(spark, logP))
          Some(readStore(spark, s"$logP/data"))
        else None
      val nodesRel = rel.map(_.where(col("fam") === "n"))
      val accRel = rel.map(_.where(col("fam") === "a"))
      // REPLAY probe (see the scaladoc): did a prior attempt of THIS
      // batch already commit? FUSED into st's checkpoint job: a
      // committed batch's fam=n rows carry exactly THIS batch's event
      // ids (an at-least-once redelivery re-delivers the same batch
      // content), so the `latest(nodes)` scan below — pruned to the
      // events' buckets and semi-joined on the event ids — sees a row
      // with batch_id == batchId iff a prior attempt committed. A long
      // accumulator harvested on that scan answers the probe with ZERO
      // extra jobs; retry-safe for the emptiness decision (a retried
      // task only re-counts rows that exist; zero stays zero). Both
      // families ride one commit, so ANY hit means the whole batch
      // (events + deltas) is in the store.
      val replayAcc = spark.sparkContext.longAccumulator("hier-replay-hits")
      val replayHarvest = udf { (b: java.lang.Long) =>
        if (b != null && b.longValue() == batchId) replayAcc.add(1L)
        b
      }
      def latest(rel: DataFrame, cols: Seq[String],
                 probe: Boolean): DataFrame = {
        // current row per touched id: max batch_id wins (batch ids are
        // unique per id by the one-event rule)
        val rows0 = rel.where(col("pb").isin(pbs: _*))
          .join(broadcast(ev.select("id")), Seq("id"), "left_semi")
        val rows =
          if (probe) rows0.withColumn("batch_id",
            replayHarvest(col("batch_id")))
          else rows0
        rows.groupBy(col("id"))
          .agg(max(struct(col("batch_id") +: cols.map(col): _*)).as("m"))
          .select(col("id") +: cols.map(c => col(s"m.$c").as(c)): _*)
      }
      val cur = nodesRel.filter(_ => pbs.nonEmpty)
        .map(rel => latest(rel, Seq("parent", "value"), probe = true)
          .select(col("id"), col("parent").as("parent_old"),
            col("value").as("value_old")))
        .getOrElse(ev.select(col("id"), col("parent").as("parent_old"),
          col("value").as("value_old")).limit(0))
      val accCur = accRel.filter(_ => pbs.nonEmpty)
        .map(rel => latest(rel, Seq("n_subtree", "subtree_sum"),
          probe = false))
        .getOrElse(ev.select(col("id"), lit(0L).as("n_subtree"),
          lit(0L).as("subtree_sum")).limit(0))
      val st = ev.join(cur, Seq("id"), "left")
        .join(accCur, Seq("id"), "left")
        .localCheckpoint(true)
      if (replayAcc.value > 0L) {
        // The change feed must still carry this batch's aggregate rows:
        // if the FIRST attempt crashed between the commit and sink(),
        // an empty replay frame would silently drop the batch's output
        // forever even though the rows sit recovered in the store.
        // Re-emitting on every redelivery is the at-least-once contract
        // downstream sinks already absorb (latest-wins / batch_id-keyed),
        // exactly like the store appends themselves.
        sink(accRel.get.where(col("batch_id") === lit(batchId))
          .select(col("id"), col("n_subtree"), col("subtree_sum")))
        return
      }
      // chain seeds: (start, dn, dsum) — up to three per event
      val insertSeeds = st.where(col("value_old").isNull)
        .select(col("id").as("start"), lit(1L).as("dn"),
          col("value").as("dsum"))
      val valueSeeds = st.where(col("value_old").isNotNull &&
          col("value") =!= col("value_old"))
        .select(col("id").as("start"), lit(0L).as("dn"),
          (col("value") - col("value_old")).as("dsum"))
      val repar = st.where(col("value_old").isNotNull &&
        !(col("parent") <=> col("parent_old")))
      val reparSeeds = repar
        .select(col("parent_old").as("start"),
          (-col("n_subtree")).as("dn"), (-col("subtree_sum")).as("dsum"))
        .unionByName(repar.select(col("parent").as("start"),
          col("n_subtree").as("dn"), col("subtree_sum").as("dsum")))
        .where(col("start").isNotNull)
      // every frontier (the seeds included) goes through the bucket
      // census ([[DedupStore.harvest]]): its checkpoint job also yields
      // the round's bucket set, so the bucket probe AND the emptiness
      // check cost ZERO extra jobs (previously a distinct+collect
      // action per round, the dominant share of the micro-batch job
      // ladder)
      def checkpointWithPbs(df: DataFrame): (DataFrame, Seq[Int]) =
        DedupStore.harvest(
          df.withColumn("pb", DedupStore.bucketOf(col("start"), buckets)))
      var (frontier, fpbs) = checkpointWithPbs(
        insertSeeds.unionByName(valueSeeds).unionByName(reparSeeds))
      // visited stays a lazy union of CHECKPOINTED frontiers — the
      // union tree is depth-bounded and each leaf is materialized, so
      // no per-round visited materialization job is needed
      var visited = frontier
      val allPbs = scala.collection.mutable.SortedSet.empty[Int]
      allPbs ++= fpbs
      var depth = 0
      while (fpbs.nonEmpty) {
        depth += 1
        require(depth <= maxDepth,
          s"hierarchy deeper than maxDepth=$maxDepth (cycle?)")
        // parent of each frontier node under POST-BATCH pointers: the
        // batch's own events override the stored latest. The semi-join
        // broadcasts the checkpointed frontier directly — duplicates
        // are harmless to a semi-join and a distinct would add an
        // exchange (and its query-stage job) per round.
        val storedParent = nodesRel.map { rel =>
            val rows = rel.where(col("pb").isin(fpbs: _*))
              .join(broadcast(frontier.select(col("start").as("id"))),
                Seq("id"), "left_semi")
            rows.groupBy(col("id"))
              .agg(max(struct(col("batch_id"), col("parent"))).as("m"))
              .select(col("id"), col("m.parent").as("sparent"),
                lit(true).as("in_store"))
          }.getOrElse(
            ev.select(col("id"), lit(null).as("sparent"),
              lit(true).as("in_store")).limit(0))
        // an event's parent wins even when it is NULL (reparent to
        // root) — a coalesce would silently resurrect the stored
        // pointer there. A frontier id with NEITHER an event NOR a
        // stored row is a dangling parent reference: fail loud (the
        // raise_error rides this round's checkpoint job, so the
        // guard is free), instead of crediting its delta to a node
        // that does not exist. Fires before any append, so a failed
        // batch writes nothing.
        val (next, npbs) = checkpointWithPbs(frontier
          .join(broadcast(ev.select(col("id").as("start"),
            col("parent").as("eparent"), lit(true).as("in_ev"))),
            Seq("start"), "left")
          .join(broadcast(storedParent.select(col("id").as("start"),
            col("sparent"), col("in_store"))), Seq("start"), "left")
          .select(when(col("in_ev"), col("eparent"))
            .when(col("in_store"), col("sparent"))
            .otherwise(raise_error(concat(
              lit("hierarchyIngestStream: dangling parent id "),
              col("start").cast("string")))).as("start"),
            col("dn"), col("dsum"))
          .where(col("start").isNotNull))
        frontier = next
        fpbs = npbs
        allPbs ++= fpbs
        visited = visited.unionByName(frontier)
      }
      val delta = visited.groupBy(col("start").as("id"))
        .agg(sum(col("dn")).as("dn"), sum(col("dsum")).as("dsum"))
        .where(col("dn") =!= 0L || col("dsum") =!= 0L)
      // new acc rows: stored (or zero) + delta, only for changed
      // nodes. delta re-aggregates the checkpointed frontier union on
      // each use — cheaper than a dedicated materialization job
      val dpb = delta
        .withColumn("pb", DedupStore.bucketOf(col("id"), buckets))
      // the touched ids are exactly the harvested frontiers, so their
      // bucket union is a sound (slightly wide when some deltas cancel
      // to zero) pruning set — no dedicated distinct+collect job
      val dpbs = allPbs.toSeq
      val accBase = accRel.filter(_ => dpbs.nonEmpty).map { rel =>
          val rows = rel.where(col("pb").isin(dpbs: _*))
            .join(broadcast(dpb.select("id")), Seq("id"), "left_semi")
          rows.groupBy(col("id"))
            .agg(max(struct(col("batch_id"), col("n_subtree"),
              col("subtree_sum"))).as("m"))
            .select(col("id"), col("m.n_subtree").as("bn"),
              col("m.subtree_sum").as("bs"))
        }.getOrElse(dpb.select(col("id"), lit(0L).as("bn"),
          lit(0L).as("bs")).limit(0))
      val accNew = dpb.join(accBase, Seq("id"), "left")
        .select(col("id"),
          (coalesce(col("bn"), lit(0L)) + col("dn")).as("n_subtree"),
          (coalesce(col("bs"), lit(0L)) + col("dsum")).as("subtree_sum"),
          col("pb"))
        .persist()
      // ONE commit per batch: both row families in a single partitioned
      // append (null-padded to the union schema; `fam` is a partition
      // dir, so neither family's reads scan the other's rows). The
      // events guarantee a non-empty frame (pbs.nonEmpty above), so a
      // fresh store can never be poisoned by a schema-less dir and no
      // emptiness probe is needed. The write is the materializing
      // action for accNew; sink() below reads it from the persist cache.
      logRows(accNew)
        .repartition(col("pb"))
        .write.mode("append").partitionBy("fam", "pb")
        .parquet(s"$logP/data")
      sink(accNew.select(col("id"), col("n_subtree"), col("subtree_sum")))
      accNew.unpersist()
      if (autoCompactFilesPerDir > 0)
        compactStoreIfNeeded(spark, s"$logP/data", autoCompactFilesPerDir)(
          hierCompact(spark, storePath))
      ()
    }
  }

  /** The store's full `(id, n_subtree, subtree_sum)` map — bit-equal
    * to [[graft.operators.GraphOps.subtreeAggregate]] over the current
    * pointer forest (spec-asserted at every batch boundary). */
  def hierStoreAggregates(spark: org.apache.spark.sql.SparkSession,
                          storePath: String): DataFrame =
    readStoreOrEmpty(spark, s"$storePath/log/data")
      .where(col("fam") === "a")
      .groupBy(col("id"))
      .agg(max(struct(col("batch_id"), col("n_subtree"),
        col("subtree_sum"))).as("m"))
      .select(col("id"), col("m.n_subtree").as("n_subtree"),
        col("m.subtree_sum").as("subtree_sum"))

  /** Compact a [[hierarchyIngestStream]] store: both row families are
    * latest-wins (a node's current row is its max `batch_id`), so
    * superseded versions are dead weight that grows with CHURN — this
    * rewrites `log/data` keeping only each (id, fam)'s latest row
    * (surviving `batch_id`s preserved, so replayed old batches still
    * absorb; same partitioned layout — ids don't move, so `(fam, pb)`
    * doesn't). Read-out is bit-identical before and after
    * (spec-asserted); the rewrite is a live-key-checked [[swapStore]]
    * (crash contract there). Returns (live nodes, rows retired). */
  def hierCompact(spark: org.apache.spark.sql.SparkSession,
                  storePath: String): (Long, Long) = {
    val dataPath = s"$storePath/log/data"
    if (!openStore(spark, dataPath)) (0L, 0L)   // store never received a batch
    else swapStore(spark, dataPath) { aside =>
      val rows = spark.read.parquet(dataPath)
      val nBefore = rows.count()
      val latest = rows.groupBy(col("id"), col("fam"), col("pb"))
        .agg(max(struct(col("batch_id"), col("parent"), col("value"),
          col("n_subtree"), col("subtree_sum"))).as("m"))
        .select(col("id"), col("m.parent").as("parent"),
          col("m.value").as("value"), col("m.n_subtree").as("n_subtree"),
          col("m.subtree_sum").as("subtree_sum"),
          col("m.batch_id").as("batch_id"), col("fam"), col("pb"))
      latest.repartition(col("pb")).write.mode("overwrite")
        .partitionBy("fam", "pb").parquet(aside)
      val out = spark.read.parquet(aside)
      val nAfter = out.count()
      val nKeys = rows.select("id", "fam").distinct().count()
      require(nAfter == nKeys,
        s"hier compaction drift: $nKeys live (id, fam) keys, $nAfter rows")
      (out.where(col("fam") === "n").count(), nBefore - nAfter)
    }
  }

  // ---- streaming incremental near-dup clustering ----

  /** Streaming cluster maintenance — the incremental form of
    * [[graft.operators.Dedup.dupClusters]]: near-dup pair edges
    * `(id_a, id_b)` arrive in micro-batches and fold into a persistent
    * cluster store whose read-out ([[clusterStoreReps]]) is bit-equal
    * to a from-scratch batch CC over every edge ingested so far
    * (spec- and oracle-asserted). This completes the incremental-
    * corpus story the signature stores started: they answer "is this
    * content a dup of ANYTHING seen", this maintains "which cluster
    * is it in" without ever re-clustering history.
    *
    * Layout (two row families):
    *  - `members/data` — a [[DedupStore]]: `(id, cid, pb)` with
    *    `pb = hash(id) % buckets`, APPEND-ONLY: a vertex's stored cid
    *    is its component's min id as of the batch that first saw the
    *    vertex, never rewritten;
    *  - `merges` — `(cid, parent)` union events: when a later edge
    *    merges two live clusters, the losing root points at the
    *    winner. A root loses at most once, so each cid has one parent
    *    and the structure is a forest whose roots are live cluster
    *    minima.
    *
    * Per-batch cost is batch-bounded: the member read is the batch's
    * [[DedupStore]] slice ([[memberCids]]); the CC runs over SUPERNODES (known vertices collapse to their
    * resolved cid), so its input is edges-in-batch-sized — and below
    * `driverCcMaxEdges` it is solved by a driver union-find off one
    * bounded collect (micro-batch latency is job-count-bound, and the
    * result is broadcast back anyway), with the distributed O(log n)
    * rewiring CC taking over beyond the cutoff; the merges
    * table is merge-event-bounded (≤ clusters ever merged, NOT corpus)
    * and resolution pointer-jumps over it, never over members — and
    * `autoCompactMergeFiles` retires the forest automatically once it
    * crosses the threshold ([[compactStoreIfNeeded]]: one driver-side
    * dir listing per batch, a [[clusterCompact]] rewrite only when
    * triggered), so resolution cost is bounded by merges since the
    * LAST retirement over an unbounded ingest lifetime (0 disables —
    * maintenance-cron discipline).
    * Invariant: every resolved cid is the true min id of its live
    * component — later winners are computed with plain `least`, which
    * is what makes the streamed read-out equal batch CC.
    *
    * Replay-idempotent: a redelivered batch collapses to self-loop
    * supernode edges (its vertices are now known and co-clustered), so
    * it appends no members and no merges. `sink` receives the batch's
    * vertices with their post-merge cluster_rep. */
  def clusterIngestStream(storePath: String, buckets: Int = 256,
                          driverCcMaxEdges: Int = 100000,
                          autoCompactMergeFiles: Int = 64)(
      sink: DataFrame => Unit = _ => ()): (DataFrame, Long) => Unit = {
    (batch0: DataFrame, _: Long) => {
      val spark = batch0.sparkSession
      DedupStore.openOrInit(spark, storePath, Seq("buckets" -> buckets))
      val members = s"$storePath/members"
      // localCheckpoint (not persist): the batch frame may be a
      // DERIVED SLICE of a deep pipeline (q303 feeds a shingle-join
      // pair graph); without truncation every one of the ~10 actions
      // below re-plans that whole logical tree — measured 8-10 s of
      // pure Catalyst time per micro-batch on an 80-edge batch. Lazy:
      // the vertex census job below materializes it.
      val pairs = batch0.select(col("id_a"), col("id_b"))
        .where(col("id_a").isNotNull && col("id_b").isNotNull &&
          col("id_a") =!= col("id_b"))
        .distinct()
        .localCheckpoint(false)
      val (verts, stored) = memberCids(spark, storePath,
        pairs.select(col("id_a").as("id"))
          .unionByName(pairs.select(col("id_b").as("id"))).distinct())
      val known = stored.map(_.localCheckpoint(true))
        .getOrElse(verts.select(col("id"), col("id").as("cid")).limit(0))
      // supernode edges: known endpoints collapse to their resolved
      // root; self-loops (both ends already co-clustered — e.g. a
      // replayed batch) drop out entirely
      val sedges = pairs
        .join(known.select(col("id").as("id_a"), col("cid").as("ca")),
          Seq("id_a"), "left")
        .join(known.select(col("id").as("id_b"), col("cid").as("cb")),
          Seq("id_b"), "left")
        .select(coalesce(col("ca"), col("id_a")).as("id_a"),
          coalesce(col("cb"), col("id_b")).as("id_b"))
        .where(col("id_a") =!= col("id_b"))
      // batch-bounded CC: supernode → its component's min (the winner).
      // At steady state the supernode edge set is tiny relative to the
      // batch (known vertices collapse to their resolved roots; a
      // replayed batch collapses to nothing), and per-micro-batch
      // latency is dominated by JOB COUNT, not data — so up to
      // `driverCcMaxEdges` edges the components are solved by a driver
      // union-find off ONE bounded collect (the [[resolveCids]]
      // rationale: the result is broadcast-joined right back, so it
      // had to fit in a broadcast anyway). A larger batch falls back
      // to the distributed O(log n) edge-rewiring CC unchanged — the
      // 100 TB path never collects.
      // `driverCcMaxEdges <= 0` means NEVER collect (the shared
      // [[graft.operators.DriverPath.collectWithin]] probe runs no job
      // then), and the fallback passes the CC a zero budget: the edge
      // set is already known to be over this one, or the setting means
      // to force the distributed rewiring loop.
      val probe = graft.operators.DriverPath.collectWithin(sedges, driverCcMaxEdges)
      val comp: DataFrame =
        if (probe.isDefined) {
          // min-rooted union-find (shared with [[graft.operators.Dedup
          // .dupClusters]]' bounded driver path): the smaller root
          // adopts the larger, so every tree's root is its component
          // minimum — exactly dupClusters' cluster_rep (spec-asserted
          // equal on both paths), in Spark's id order.
          val (find, vs) = graft.operators.Dedup.driverMinForest(probe.get)
          val idType = pairs.schema("id_a").dataType
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("snode", idType),
            org.apache.spark.sql.types.StructField("winner", idType)))
          broadcast(graft.operators.DriverPath.localFrame(spark, schema,
            vs.iterator.map(v => org.apache.spark.sql.Row(v, find(v))).toSeq))
        } else {
          val snodes = sedges.select(col("id_a").as("id"))
            .unionByName(sedges.select(col("id_b").as("id"))).distinct()
          graft.operators.Dedup.dupClusters(snodes, "id", sedges,
              driverMaxEdges = 0)
            .select(col("id").as("snode"), col("cluster_rep").as("winner"))
        }
      // ONE accumulator frame — (id, pb, kcid, rep) per batch vertex —
      // materialized once; member append, merge events, and the sink
      // read-out are all cheap scans of it (formerly three independent
      // join chains, each re-running the known-resolve + CC reads)
      // emptiness of the two derived append frames is harvested by
      // accumulators INSIDE acc's checkpoint job — the former
      // `.isEmpty` probe jobs per micro-batch are gone. Retry-safe for
      // an emptiness decision: a retried task only re-adds counts for
      // rows that exist, and zero stays zero.
      val newAcc = spark.sparkContext.longAccumulator("clst-new-members")
      val mergeAcc = spark.sparkContext.longAccumulator("clst-merges")
      val cntHarvest = udf { (pb: java.lang.Integer, isNew: Boolean,
                              isMerge: Boolean) =>
        if (isNew) newAcc.add(1L)
        if (isMerge) mergeAcc.add(1L)
        pb
      }
      val acc = verts
        .join(known.select(col("id"), col("cid").as("kcid")),
          Seq("id"), "left")
        .withColumn("snode", coalesce(col("kcid"), col("id")))
        .join(comp, Seq("snode"), "left")
        .withColumn("rep", coalesce(col("winner"), col("snode")))
        .select(col("id"),
          cntHarvest(col("pb"), col("kcid").isNull,
            col("kcid").isNotNull && col("rep") =!= col("kcid")).as("pb"),
          col("kcid"), col("rep"))
        .localCheckpoint(true)
      // new members: first-seen vertices, stored with the winner cid
      // their supernode resolved to this batch (supernode = the raw id
      // for unknown vertices; a lone new vertex pair keeps itself).
      // Until the store exists an all-known (or empty) batch must NOT
      // write: an empty partitioned append would create a schema-less
      // `members/data` dir and poison the next batch's pruned read.
      val newMembers = acc.where(col("kcid").isNull)
        .select(col("id"), col("rep").as("cid"), col("pb"))
      if (DedupStore.hasData(spark, members) || newAcc.value > 0L)
        DedupStore.append(newMembers, members)
      else noteStoreSchema(spark, s"$members/data", newMembers.schema)
      // merge events: a KNOWN root that lost its minimum points at the
      // winner; roots that stayed minimal append nothing
      if (mergeAcc.value > 0L) {
        val merged = acc
          .where(col("kcid").isNotNull && col("rep") =!= col("kcid"))
          .select(col("kcid").as("cid"), col("rep").as("parent"))
          .distinct()
        merged.coalesce(1).write.mode("append").parquet(s"$storePath/merges")
      }
      sink(acc.select(col("id"), col("rep").as("cluster_rep")))
      // automatic forest retirement: the decision is one driver-side
      // dir listing (no Spark job while healthy), and the triggered
      // rewrite keeps resolveCids' per-batch collect bounded by merges
      // SINCE LAST RETIREMENT over an unbounded ingest lifetime
      if (autoCompactMergeFiles > 0)
        compactStoreIfNeeded(spark, s"$storePath/merges",
          autoCompactMergeFiles)(clusterCompact(spark, storePath))
      ()
    }
  }

  /** Canonicalize stored cids through the merge forest: collect the
    * (small, merge-event-bounded — a root loses at most once, and
    * [[clusterCompact]] retires it) `merges` table ONCE, path-compress
    * to roots driver-side, then ONE broadcast join onto the member
    * rows — the member set is never shuffled by resolution. The
    * driver-side fold is scale-neutral: the forest already had to fit
    * in the broadcast this join ships, and it replaces the former
    * pointer-jump ladder (one join + checkpoint + emptiness probe per
    * doubling level) with a single collect — the per-micro-batch job
    * count is what dominates streaming-ingest latency. */
  private[graft] def resolveCids(spark: org.apache.spark.sql.SparkSession,
                                 rows: DataFrame,
                                 storePath: String): DataFrame = {
    if (!openStore(spark, s"$storePath/merges")) rows
    else {
      val raw = readStore(spark, s"$storePath/merges")
        .select("cid", "parent").distinct()
      val parent = new scala.collection.mutable.HashMap[Any, Any]
      raw.collect().foreach(r => parent.update(r.get(0), r.get(1)))
      if (parent.isEmpty) rows
      else {
        def root(x: Any): Any = {
          var r = x
          var hops = 0
          while (parent.contains(r)) {
            r = parent(r)
            hops += 1
            require(hops <= parent.size, s"merge forest cycle at $x")
          }
          r
        }
        val cidType = rows.schema("cid").dataType
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid", cidType),
          org.apache.spark.sql.types.StructField("parent", cidType)))
        val resolved = parent.keysIterator
          .map(k => org.apache.spark.sql.Row(k, root(k))).toSeq
        val mdf = spark.createDataFrame(
          spark.sparkContext.parallelize(resolved, 1), schema)
        rows.join(broadcast(mdf), Seq("cid"), "left")
          .select(col("id"), coalesce(col("parent"), col("cid")).as("cid"))
      }
    }
  }

  /** The one member read of the cluster store: `ids` (one `id` column)
    * through the [[DedupStore]] census against `members/`, plus — when
    * the store holds members — each stored id's current cid: its member
    * slice resolved through the merge forest ([[resolveCids]]), min cid
    * per id. Shared by [[clusterIngestStream]] and [[splitAgainstStore]]. */
  private def memberCids(spark: org.apache.spark.sql.SparkSession,
                         storePath: String,
                         ids: DataFrame): (DataFrame, Option[DataFrame]) = {
    val (censused, pbs) = DedupStore.census(storePath, ids, col("id"), "/members")
    (censused, DedupStore.slice(s"$storePath/members", pbs,
        censused.select("id"), Seq("id")).map(slice =>
      resolveCids(spark, slice.select("id", "cid"), storePath)
        .groupBy(col("id")).agg(min(col("cid")).as("cid"))))
  }

  /** The store's full cluster map `(id, cluster_rep)` — bit-equal to
    * [[graft.operators.Dedup.dupClusters]] over every pair ingested so
    * far, restricted to paired vertices (join your corpus with
    * `coalesce` for singleton semantics, as the batch operator does). */
  def clusterStoreReps(spark: org.apache.spark.sql.SparkSession,
                       storePath: String): DataFrame =
    resolveCids(spark,
      readStoreOrEmpty(spark, s"$storePath/members/data").select("id", "cid"),
      storePath)
      .groupBy(col("id")).agg(min(col("cid")).as("cluster_rep"))

  /** Leakage-safe train/test split AGAINST the streaming cluster
    * store — the incremental face of
    * [[graft.operators.Sampling.groupTrainTestSplit]] (q341): in a
    * live ingest, a document arriving AFTER its near-dup cluster was
    * assigned must land in the SAME split or evaluation leakage
    * returns. Resolves each doc's CURRENT cluster rep from a
    * [[clusterIngestStream]] store ([[memberCids]] — the
    * [[clusterStoreReps]] path restricted to the batch) and splits
    * on the rep; unclustered docs fall back to their own id, exactly
    * the batch operator's null-group rule.
    *
    * Consistency contract (spec-asserted at every batch boundary):
    * streamed ≡ batch `groupTrainTestSplit` over all edges ingested so
    * far. A cluster MERGE restates the losing side's split to the
    * winner's on the next read — reps are component minima, so the
    * winner's members never move — which is precisely what re-running
    * the batch split would do; at any instant no cluster straddles
    * train and test. Replay-idempotent because the underlying store
    * is. Returns `docs` + (cluster_rep, split). */
  def splitAgainstStore(spark: org.apache.spark.sql.SparkSession,
                        storePath: String, docs: DataFrame,
                        idCol: String, testPct: Int): DataFrame = {
    val (ids, stored) = memberCids(spark, storePath,
      docs.select(col(idCol).as("id")).distinct())
    val reps = stored.getOrElse(ids.select(col("id"), col("id").as("cid")).limit(0))
      .select(col("id").as(idCol), col("cid").as("cluster_rep"))
    graft.operators.Sampling.groupTrainTestSplit(
        docs.join(reps, Seq(idCol), "left"),
        "cluster_rep", idCol, testPct)
      .withColumn("cluster_rep",
        coalesce(col("cluster_rep"), col(idCol)))
  }

  /** Compact a [[clusterIngestStream]] store: resolve every member's
    * cid to its live root ONCE, rewrite `members/data` (same bucketed
    * layout — ids don't change, so `pb` doesn't) by a member-count-
    * checked [[swapStore]], then retire the merge forest. Read-out is
    * bit-identical before and after (spec-asserted) and later batches
    * resolve against an empty forest until new merges accrue — this is
    * the path-compression step that keeps resolution pointer-jumping
    * O(merges-since-last-compaction) over an unbounded ingest life.
    * Crash-ordering: the member swap completes BEFORE merges are
    * dropped, and resolving an already-resolved member against a stale
    * forest is a no-op, so every crash window re-reads correctly.
    * Returns (member rows, merge entries retired). */
  def clusterCompact(spark: org.apache.spark.sql.SparkSession,
                     storePath: String): (Long, Long) = {
    val dataPath = s"$storePath/members/data"
    val mergesPath = s"$storePath/merges"
    val nMerges =
      if (openStore(spark, mergesPath)) spark.read.parquet(mergesPath).count()
      else 0L
    val after = swapStore(spark, dataPath) { aside =>
      val live = spark.read.parquet(dataPath)
      // count DISTINCT members: replayed appends can hold one id twice
      // (with cids that resolve identically) — compaction absorbs them
      val before = live.select("id").distinct().count()
      resolveCids(spark, live.select("id", "cid"), storePath)
        .groupBy(col("id")).agg(min(col("cid")).as("cid"))
        .join(live.select(col("id"), col("pb")).distinct(), Seq("id"))
        .repartition(col("pb"))
        .write.partitionBy("pb").mode("overwrite").parquet(aside)
      val after = spark.read.parquet(aside).count()
      require(after == before,
        s"cluster compaction member drift: $before -> $after — aborting")
      after
    }
    val merges = new org.apache.hadoop.fs.Path(mergesPath)
    merges.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(merges, true)
    (after, nMerges)
  }

  /** Stream-static join: enrich a stream against a (broadcastable) batch
    * dimension — the streaming analog of the q03 star join. The static
    * side is re-read per micro-batch, so dimension updates are picked up
    * without restarting the query. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  // ---- arbitrary-state sessionization (flatMapGroupsWithState) ----

  final case class SessionEvent(user_id: Long, ts_ms: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
                              n_events: Int, value_sum: Double)

  /** Custom stateful sessionization: emits a session when `gapMs` of
    * event-time silence passes (enforced via event-time timeout, so state
    * size is bounded by watermark + gap, not by history). The reference's
    * only state is a pair of counters (SURVEY.md §2.2); this is the
    * general replacement. */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
                 watermarkDelay: String): Dataset[SessionOut] = {
    import events.sparkSession.implicits._

    def flush(uid: Long, st: SessionState): SessionOut =
      SessionOut(uid, st.start, st.last, st.n, st.sum)

    events
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Double, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(flush(uid, _)).iterator
            state.remove()
            out
          } else {
            val sorted = rows.map(r => (r._2, r._3)).toSeq.sortBy(_._1)
            var st = state.getOption.orNull
            val closed = Seq.newBuilder[SessionOut]
            for ((ts, v) <- sorted) {
              if (st == null) st = SessionState(ts, ts, 1, v)
              else if (ts - st.last > gapMs) {
                closed += flush(uid, st)
                st = SessionState(ts, ts, 1, v)
              } else st = SessionState(st.start, ts, st.n + 1, st.sum + v)
            }
            state.update(st)
            state.setTimeoutTimestamp(st.last + gapMs)
            closed.result().iterator
          }
      }
  }

  final case class TransEvent(user_id: Long, ts_ms: Long, event_id: Long,
                              event_type: String)
  final case class TransState(ts_ms: Long, event_id: Long, event_type: String)
  final case class Transition(user_id: Long, from_type: String,
                              to_type: String, ts_ms: Long)

  /** Streaming event-type transitions — the incremental form of
    * [[graft.operators.EventOps.transitionCounts]]: per user, emit one
    * (from, to) row per consecutive event pair as events arrive. State
    * is exactly ONE row per user (the last event seen — ts, id, type),
    * bounded forever; each batch's rows are processed in (ts, event_id)
    * order, so any delivery that preserves per-user order across
    * batches yields transitions bit-equal to the batch census over the
    * same history (spec-asserted), regardless of how the stream is cut
    * into batches.
    *
    * Delivery caveat (documented, same as the ingestion stores): a
    * cross-batch REORDER (an event older than the user's stored last
    * event) would register under the arrival order; redelivered
    * duplicates register as self-transitions. Run the stream through
    * [[streamingDedup]] (event_id key) and a watermark upstream for
    * at-least-once sources. Downstream, count transitions per window
    * or feed [[withTrendLift]]-style baselines — the emission here is
    * append-only and composes with either. */
  def transitionStream(events: Dataset[TransEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TransEvent],
         state: GroupState[TransState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_ms, e.event_id))
          var st = state.getOption.orNull
          val out = Seq.newBuilder[Transition]
          for (e <- sorted) {
            if (st != null)
              out += Transition(uid, st.event_type, e.event_type, e.ts_ms)
            st = TransState(e.ts_ms, e.event_id, e.event_type)
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  final case class FunnelProgress(user_id: Long, stage: Int, ts_ms: Long)

  /** Streaming ordered funnel — the incremental form of
    * [[graft.operators.EventOps.funnelTimes]]: per user, track the
    * earliest strictly-ordered completion time of each step and emit a
    * [[FunnelProgress]] row whenever a user ADVANCES a stage. State is
    * exactly `steps.length` timestamps per user, bounded forever.
    *
    * Exactness contract (same as [[transitionStream]]): under
    * per-user order-preserving delivery, a step-i event can improve
    * t_i only when t_{i-1} is set and t_i is not — once set, an
    * earlier qualifying event cannot arrive — so the stored vector
    * equals the batch funnel over the full history at every batch
    * boundary regardless of how the stream is cut (spec-asserted).
    * Out-of-order or duplicate delivery follows arrival order; route
    * at-least-once sources through [[streamingDedup]] upstream. */
  def funnelStream(events: Dataset[TransEvent],
                   steps: Seq[String]): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Long], FunnelProgress](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TransEvent],
         state: GroupState[Array[Long]]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_ms, e.event_id))
          val t = state.getOption.getOrElse(Array.fill(steps.length)(-1L))
          val out = Seq.newBuilder[FunnelProgress]
          for (e <- sorted; i <- stepIdx.get(e.event_type)) {
            val prevDone = i == 0 || t(i - 1) >= 0
            val qualifies = prevDone && t(i) < 0 &&
              (i == 0 || e.ts_ms > t(i - 1))
            if (qualifies) {
              t(i) = e.ts_ms
              out += FunnelProgress(uid, i, e.ts_ms)
            }
          }
          state.update(t)
          out.result().iterator
      }
  }

  /** Exactly-once file publication for at-least-once foreachBatch. A
    * batch's rows land as parquet files under `data/batch=<id>/`, and the
    * batch becomes visible only when its manifest entry commits: written
    * to a temp name and RENAMED into `manifest/<id>` (atomic on a real
    * filesystem), write-if-absent. The entry lists the batch's files, one
    * `batch=<id>/<file>` per line, relative to `data/`.
    *
    * A replay of a committed batch is skipped before it writes anything
    * (as Spark's `FileStreamSink` does), so the committed data is never
    * rewritten under a reader. A delivery of an uncommitted batch first
    * deletes what an earlier, failed or torn delivery left in its dir; a
    * crash between data write and commit leaves files that no entry
    * names and no reader sees, and re-delivery completes the batch. This
    * is the sink-side delivery contract the dedup stores assume
    * ("idempotent sink"), made concrete.
    *
    * The files are written by one [[ParquetAppend]] per sink: one job
    * per batch, named `manifestSink batch=<id>` in its job description,
    * whose tasks read the Hadoop conf from a broadcast the sink keeps
    * across batches instead of deserializing it from every task's
    * closure. One file per non-empty partition (partition 0 always);
    * `spark.sql.files.maxRecordsPerFile` is not honoured. */
  def manifestSink(outDir: String): (DataFrame, Long) => Unit = {
    val files = new ParquetAppend
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val m = new org.apache.hadoop.fs.Path(s"$outDir/manifest/$batchId")
      val fs = m.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(m)) {
        val dir = new org.apache.hadoop.fs.Path(s"$outDir/data/batch=$batchId")
        fs.delete(dir, true)
        val sc = spark.sparkContext
        val desc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(s"manifestSink batch=$batchId")
        val names =
          try files(batch, dir.toString)
          finally sc.setLocalProperty("spark.job.description", desc)
        commitManifest(fs, outDir, batchId, names.map(n => s"batch=$batchId/$n"))
      }
    }
  }

  /** Commits batch `batchId` of a [[manifestSink]] dir as the files
    * `entries` (relative to `data/`): temp file, then rename, so a
    * concurrent committer of the same batch loses cleanly. */
  private[graft] def commitManifest(fs: org.apache.hadoop.fs.FileSystem, outDir: String,
                                    batchId: Long, entries: Seq[String]): Unit = {
    val m = new org.apache.hadoop.fs.Path(s"$outDir/manifest/$batchId")
    fs.mkdirs(m.getParent)
    val tmp = new org.apache.hadoop.fs.Path(s"$outDir/manifest/.$batchId.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // rename may race a concurrent committer of the SAME batch —
    // losing the race means the entry exists, which is success
    if (!fs.rename(tmp, m)) fs.delete(tmp, false)
  }

  /** Every row of every COMMITTED batch of a [[manifestSink]] dir: the
    * files each manifest entry lists, with no listing of the batch dirs,
    * so uncommitted files are invisible. An entry in the earlier format,
    * the bare line `batch=<id>`, reads that batch's whole dir. */
  def readCommitted(spark: org.apache.spark.sql.SparkSession,
                    outDir: String): DataFrame = {
    val m = new org.apache.hadoop.fs.Path(s"$outDir/manifest")
    val fs = m.getFileSystem(spark.sessionState.newHadoopConf())
    val entries =
      if (!fs.exists(m)) Array.empty[org.apache.hadoop.fs.Path]
      else fs.listStatus(m).map(_.getPath)
        .filterNot(_.getName.startsWith(".")).sortBy(_.getName)
    require(entries.nonEmpty, s"no committed batches under $outDir")
    val paths = entries.flatMap { e =>
      val in = fs.open(e)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(rel => s"$outDir/data/$rel").toList
      finally in.close()
    }
    spark.read.parquet(paths.toIndexedSeq: _*)
  }

  final case class DayCount(key: String, day: Long, n: Long)
  final case class EwmaOut(key: String, day: Long, n: Long,
                           ewma4: Long, dev4: Long)
  final case class EwmaState(last_day: Long, ewma4: Long)

  /** Streaming EWMA anomaly baseline — the incremental form of
    * [[graft.operators.EventOps.ewmaBaseline]]: input is FINALIZED
    * per-day counts (the append-mode output of an upstream
    * watermark-closed windowed count — a day must not span emissions),
    * state per key is TWO longs (last folded day + current baseline),
    * and each emitted row carries the day's count, the folded baseline,
    * and the deviation. Days absent between a key's observations fold
    * as ZEROS (the die-off alarm), exactly like the batch spine;
    * the one contract difference (documented): state starts at the
    * key's FIRST observed day, where the batch op folds the global
    * spine from the corpus's first day — feed keys present from day
    * one (or pre-seed) when bit-parity with the batch report matters
    * (the spec does). Same integer fold, floor at every step. */
  def ewmaStream(counts: Dataset[DayCount], alphaNum: Int = 1,
                 alphaDen: Int = 4): Dataset[EwmaOut] = {
    require(alphaNum >= 1 && alphaDen > alphaNum, "need 0 < α < 1 rational")
    import counts.sparkSession.implicits._
    val keep = (alphaDen - alphaNum).toLong
    counts
      .groupByKey(_.key)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[DayCount],
         state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(_.day)
          var st = state.getOption.getOrElse(EwmaState(Long.MinValue, 0L))
          val out = Seq.newBuilder[EwmaOut]
          for (r <- sorted if st.last_day == Long.MinValue
              || r.day > st.last_day) {
            if (st.last_day != Long.MinValue) {
              var d = st.last_day + 1
              while (d < r.day) {   // gap days fold as zeros
                st = EwmaState(d,
                  Math.floorDiv(st.ewma4 * keep, alphaDen.toLong))
                d += 1
              }
            }
            val e = Math.floorDiv(
              st.ewma4 * keep + r.n * 10000L * alphaNum, alphaDen.toLong)
            st = EwmaState(r.day, e)
            out += EwmaOut(k, r.day, r.n, e, r.n * 10000L - e)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class CusumOut(key: String, day: Long, n: Long, c4: Long,
                            alarmed: Boolean)
  final case class CusumState(last_day: Long, c4: Long)

  /** Streaming one-sided CUSUM — the incremental form of
    * [[graft.operators.EventOps.cusum]] with an EXPLICIT target
    * (streaming can't self-baseline over a horizon it hasn't seen;
    * feed the build-time mean, e.g. from the histogram store): per
    * key, two longs of state, gap days accumulate as zero-count days
    * (which DRIVE the statistic when the target is positive — a feed
    * going quiet alarms), and each emission carries the folded
    * statistic and whether it crossed `threshold4`. Input contract as
    * [[ewmaStream]]: finalized per-day counts. */
  def cusumStream(counts: Dataset[DayCount], target4: Long,
                  slack4: Long, threshold4: Long): Dataset[CusumOut] = {
    import counts.sparkSession.implicits._
    def step(c4: Long, n: Long): Long =
      math.max(0L, c4 + n * 10000L - target4 - slack4)
    counts
      .groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[DayCount],
         state: GroupState[CusumState]) =>
          val sorted = rows.toSeq.sortBy(_.day)
          var st = state.getOption.getOrElse(CusumState(Long.MinValue, 0L))
          val out = Seq.newBuilder[CusumOut]
          for (r <- sorted if st.last_day == Long.MinValue
              || r.day > st.last_day) {
            if (st.last_day != Long.MinValue) {
              var d = st.last_day + 1
              while (d < r.day) {   // gap days fold as zero counts
                st = CusumState(d, step(st.c4, 0L))
                d += 1
              }
            }
            val c = step(st.c4, r.n)
            st = CusumState(r.day, c)
            out += CusumOut(k, r.day, r.n, c, c >= threshold4)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class RateState(window: Long, n: Long)

  /** Per-key rate limiter — ingestion protection: at most `k` events
    * per key per tumbling `windowMs` window pass through, the rest are
    * dropped; kept events are the FIRST k in (ts, tie id) order, so
    * the policy is deterministic and equals the batch rewrite
    * `row_number() OVER (PARTITION BY key, window ORDER BY ts, id) ≤ k`
    * (spec-asserted, batch-cut invariant). State per key is TWO longs
    * (current window + its count) — bounded forever, reset on window
    * roll; a hot key costs the same state as a quiet one. Delivery
    * contract as [[transitionStream]]: per-key order-preserving
    * delivery; a cross-batch reorder follows arrival order. */
  def rateLimitStream(events: Dataset[TransEvent], windowMs: Long,
                      k: Int): Dataset[TransEvent] = {
    require(windowMs > 0 && k >= 1, "bad rate limit parameters")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, TransEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TransEvent],
         state: GroupState[RateState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_ms, e.event_id))
          var st = state.getOption.getOrElse(RateState(Long.MinValue, 0L))
          val out = Seq.newBuilder[TransEvent]
          for (e <- sorted) {
            val w = Math.floorDiv(e.ts_ms, windowMs)
            if (w != st.window) st = RateState(w, 0L)
            if (st.n < k) {
              out += e
              st = st.copy(n = st.n + 1)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class TouchEvent(user_id: Long, ts_ms: Long, event_id: Long,
                              event_type: String, value: Double)
  final case class Attribution(user_id: Long, conv_ts_ms: Long,
                               event_id: Long, first_touch: String,
                               last_touch: String, v2: Long)

  /** Streaming first/last-touch attribution — the incremental form of
    * [[graft.operators.EventOps.touchAttribution]]: per user, keep the
    * touches inside the lookback horizon and emit one [[Attribution]]
    * row per conversion as it arrives (same contracts as the batch op:
    * touches strictly BEFORE the conversion instant; same-instant
    * ties broken by touch-type index; `(none)` when the window is
    * empty; value on the 1e-2 grid).
    *
    * State: the encoded `ts·K+idx` touches within `lookbackMs` of the
    * user's latest event — pruned on EVERY event, so state is bounded
    * by touch-rate × lookback per user regardless of stream length
    * (the streaming analog of the batch RANGE frame's working set),
    * never by history. Delivery contract as [[transitionStream]]:
    * per-user order-preserving delivery makes emissions batch-cut
    * invariant and equal to the batch model over the same history
    * (spec-asserted); route at-least-once sources through
    * [[streamingDedup]] upstream. */
  def attributionStream(events: Dataset[TouchEvent],
                        touchTypes: Seq[String], convType: String,
                        lookbackMs: Long): Dataset[Attribution] = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    import events.sparkSession.implicits._
    val k = touchTypes.size + 1
    val idxOf = touchTypes.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TouchEvent],
         state: GroupState[List[Long]]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_ms, e.event_id))
          var st = state.getOption.getOrElse(List.empty[Long])
          val out = Seq.newBuilder[Attribution]
          for (e <- sorted) {
            st = st.filter(enc => enc / k >= e.ts_ms - lookbackMs)
            idxOf.get(e.event_type) match {
              case Some(i) =>
                st = (e.ts_ms * k + (i + 1)) :: st
              case None if e.event_type == convType =>
                val valid = st.filter(enc => enc / k < e.ts_ms)
                val (ft, lt) =
                  if (valid.isEmpty) ("(none)", "(none)")
                  else (touchTypes((valid.min % k).toInt - 1),
                    touchTypes((valid.max % k).toInt - 1))
                out += Attribution(uid, e.ts_ms, e.event_id, ft, lt,
                  math.round(e.value * 100))
              case _ => ()
            }
          }
          if (st.isEmpty) state.remove() else state.update(st)
          out.result().iterator
      }
  }

  /** Trending-term detection, stage 1 (streaming-safe): per event-time
    * window, each term's in-window count joined against a static
    * baseline census — the raw material for "what is spiking right
    * now" (a boilerplate burst, a crawler loop, a new domain).
    * Tokenize + explode is stateless, the windowed count is a standard
    * watermark-bounded aggregate, and the baseline joins in as a
    * static vocabulary-sized broadcast — the stream never shuffles
    * against anything unbounded. Baseline = a stored
    * [[graft.operators.TextStats.topNgrams]]-style census (s,
    * n_occurrences), refreshed offline at 100 TB.
    *
    * Lift needs the per-window token TOTAL — a second aggregate over
    * the same stream, which one streaming query cannot chain — so lift
    * is [[withTrendLift]], applied per materialized window in
    * `foreachBatch` (or directly in batch mode, which is how the spec
    * asserts exact values).
    *
    * `minCount` trims the per-window long tail at the source (smaller
    * state/output); note that raising it above 1 makes stage 2's
    * win_total — and so the lift denominator — a truncated-tail
    * approximation. Default 1 = exact. */
  def trendingTermCounts(df: DataFrame, tsCol: String, delay: String,
                         textCol: String, baseline: DataFrame,
                         windowDur: String = "5 minutes",
                         minCount: Long = 1): DataFrame = {
    val baseTot = baseline.agg(sum(col("n_occurrences")).as("base_total"))
    df.withWatermark(tsCol, delay)
      .select(col(tsCol), explode(
        graft.functions.TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(window(col(tsCol), windowDur), col("term"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .join(broadcast(baseline.select(col("s").as("term"),
        col("n_occurrences").as("base_n"))), Seq("term"), "left_outer")
      .crossJoin(broadcast(baseTot))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("term"), col("n"),
        col("base_n"), col("base_total"))
  }

  /** Trending-term detection, stage 2 (batch / per-foreachBatch): adds
    * the per-window token total and the exact lift
    * (n / win_total) / (base_n / base_total). Terms absent from the
    * baseline get a null lift — the "brand new term" signal consumers
    * alert on separately. One window-keyed aggregate + broadcast back. */
  def withTrendLift(counts: DataFrame): DataFrame = {
    val totals = counts.groupBy(col("window_start"))
      .agg(sum(col("n")).as("win_total"))
    counts.join(broadcast(totals), "window_start")
      .withColumn("lift",
        when(col("base_n").isNotNull, round(
          (col("n") / col("win_total").cast("double")) /
            (col("base_n") / col("base_total").cast("double")), 4)))
  }

  /** Incremental distinct-count sketching: each micro-batch appends one
    * HLL sketch row per key ([[graft.operators.Sketches.distinctSketch]])
    * to a persistent store; any later report — per key or corpus-wide —
    * is a lossless sketch UNION over the KB-sized store, never a
    * re-scan of ingested data. The streaming face of the
    * [[graft.operators.Sketches]] pattern.
    *
    * Delivery: at-least-once batch REPLAYS are harmless BY CONSTRUCTION
    * — HLL union is idempotent (A ∪ A = A), so a re-appended batch
    * sketch cannot change any report (asserted in `SketchSpec`). This
    * is stronger than [[dedupAgainstStore]]'s contract, which needs an
    * idempotent sink; here the store itself absorbs replays. */
  def sketchStream(keyCol: String, valueCol: String, storePath: String)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      graft.operators.Sketches.distinctSketch(batch, keyCol, valueCol)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(storePath)
      ()
    }

  /** Incremental ANN index ingestion — the streaming half of the IVF
    * build/query split: each micro-batch of (id, vector) rows is
    * assigned to its nearest centroid (broadcast centroid literals,
    * pure map — [[graft.operators.Similarity.ivfAssign]]) and APPENDED
    * to the persisted inverted-list store, partitioned by `cid` so
    * probe-side readers partition-prune to their nprobe lists. The
    * centroids are FIXED at ingest time (trained once on a seed
    * corpus, [[graft.operators.Similarity.ivfTrain]]/`ivfLoad`) — the
    * production pattern: re-training moves assignments, so a centroid
    * refresh is a rebuild, not an append — [[ivfRebuild]]. Use as
    * `writeStream.foreachBatch(ivfIngestStream(...))`.
    *
    * `metricsPath` (optional) appends one (batch_id, n, mean_d2) row
    * per batch — the batch's mean assignment distance. Compared against
    * the [[graft.operators.Similarity.ivfStatsSave]] build baseline
    * ([[graft.operators.Similarity.ivfDriftReport]]) this is the
    * DRIFT alarm: fixed centroids degrade recall silently as the
    * ingested distribution shifts, and a sustained mean-distance spike
    * is the signal to rebuild. One extra aggregate row per batch. */
  def ivfIngestStream(idCol: String, vecCol: String,
                      centroids: Array[(Int, Array[Double])],
                      storePath: String,
                      metricsPath: Option[String] = None)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val assigned = graft.operators.Similarity
        .ivfAssignDist(batch, idCol, vecCol, centroids)
        .persist()
      assigned.drop("d2").withColumn("batch_id", lit(batchId))
        .write.mode("append").partitionBy("cid").parquet(storePath)
      metricsPath.foreach { mp =>
        assigned.agg(count(lit(1)).as("n"), avg(col("d2")).as("mean_d2"))
          .withColumn("batch_id", lit(batchId))
          .coalesce(1).write.mode("append").parquet(mp)
      }
      assigned.unpersist()
      ()
    }

  /** Centroid refresh for an [[ivfIngestStream]] store — the rebuild
    * the drift alarm triggers: re-train on the store's LATEST vector
    * per id (the same upsert view [[ivfStoreRead]] serves), re-assign,
    * and write a fresh single-generation store to `newStorePath`
    * (NEVER in place — readers keep the old store until the pointer
    * swaps, the standard blue/green index cutover). Returns the new
    * centroid matrix; persist it with `ivfSave` + `ivfStatsSave` to
    * re-arm the drift baseline. Deterministic: same stored vectors →
    * bit-identical centroids, assignments, and probe results as a
    * from-scratch build (spec-asserted). */
  def ivfRebuild(spark: org.apache.spark.sql.SparkSession,
                 storePath: String, newStorePath: String,
                 nlist: Int, iters: Int = 5): Array[(Int, Array[Double])] = {
    import graft.operators.Similarity
    require(newStorePath != storePath,
      "rebuild must write a NEW store generation (blue/green), not overwrite in place")
    val vecs = ivfStoreRead(spark, storePath)
      .select(col("corpus_id"), col("cv"))
      .persist()
    val cents = Similarity.ivfTrain(vecs, "corpus_id", "cv", nlist, iters)
    Similarity.ivfAssign(vecs, "corpus_id", "cv", cents)
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("cid").parquet(newStorePath)
    vecs.unpersist()
    cents
  }

  /** Probe-ready reader over an [[ivfIngestStream]] store: one row per
    * corpus id, LATEST batch wins (`max_by` on batch_id) — which both
    * absorbs at-least-once redelivery (replayed rows lose the tie to
    * themselves harmlessly) and gives re-ingested ids upsert
    * semantics. One corpus_id-keyed aggregate; the result feeds
    * [[graft.operators.Similarity.ivfProbe]] unchanged. */
  def ivfStoreRead(spark: org.apache.spark.sql.SparkSession,
                   storePath: String): DataFrame =
    spark.read.parquet(storePath)
      .groupBy(col("corpus_id"))
      .agg(max_by(struct(col("cv"), col("cid")), col("batch_id")).as("r"))
      .select(col("corpus_id"), col("r.cv").as("cv"), col("r.cid").as("cid"))

  /** Incremental SEARCH-index ingestion — the postings sibling of
    * [[ivfIngestStream]]: each micro-batch tokenizes its documents and
    * APPENDS (id, pos, term, batch_id) rows to a term-bucket-partitioned
    * postings store plus (id, len, batch_id) doc lengths — the
    * [[graft.operators.Search.writePostings]] layout made appendable.
    * No stats row is frozen at build time; readers derive exact corpus
    * totals from the latest-version doc lengths, so BM25 stays correct
    * as the index grows.
    *
    * Versioning: `batch_id` (monotone under a checkpointed query —
    * Structured Streaming continues epochs across restarts) makes every
    * ingest of a doc a new VERSION. Readers keep only each doc's
    * latest-version rows, which gives (a) replay absorption — a
    * redelivered batch rewrites identical rows of the same version, and
    * the slice dedup collapses them — and (b) upsert — re-ingesting a
    * changed doc supersedes ALL its old postings, including ones in
    * buckets the query never touches, because the version map comes
    * from the doclens table, not the probed slice.
    *
    * Scale: the append repartitions by `tb` (one file per touched
    * bucket dir per batch — compact offline like any streaming-append
    * table); a query reads only its terms' bucket dirs (partition
    * pruning, same as the batch index); the version map is one keyed
    * aggregate over the THIN doclens table, semi-joined down to the
    * slice's docs before broadcasting back. */
  def postingsIngestStream(idCol: String, textCol: String, indexPath: String,
                           buckets: Int = 64): (DataFrame, Long) => Unit = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (16 md5 bits), got $buckets")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      DedupStore.openOrInit(spark, indexPath, Seq("buckets" -> buckets))
      val toks = graft.operators.TextStats
        .tokenized(batch, idCol, textCol).persist()
      graft.operators.Search.positionalPostings(toks)
        .withColumn("tb",
          (conv(substring(md5(col("term")), 1, 4), 16, 10)
            .cast("int") % buckets))
        .withColumn("batch_id", lit(batchId))
        .repartition(col("tb"))
        .write.mode("append").partitionBy("tb").parquet(s"$indexPath/postings")
      toks.select(col("id"), size(col("ws")).cast("long").as("len"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$indexPath/doclens")
      toks.unpersist()
      ()
    }
  }

  /** Latest ingested version per doc from a [[postingsIngestStream]]
    * store: (id, len, vb) — one keyed max_by over the thin doclens
    * table, the postings-store analog of [[ivfStoreRead]].
    *
    * Scale note: this pass is linear in CORPUS COUNT (thin rows — two
    * longs per ingested version), not in postings. A deployment running
    * many queries against one store state should materialize this view
    * once per analysis session (or per compaction) and hand it to the
    * readers — the same amortization `ivfRebuild` applies to the
    * vector store; per-query work is then slice-sized only. */
  private def postingsStoreVersions(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/doclens")
      .groupBy(col("id"))
      .agg(max_by(col("len"), col("batch_id")).as("len"),
        max(col("batch_id")).as("vb"))

  /** The query terms' CURRENT posting lists from a streamed index:
    * partition-pruned to the terms' buckets, replay-deduped, and
    * version-filtered to each doc's latest ingest. */
  private[graft] def postingsStoreFor(
      spark: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    val buckets = spark.read.parquet(s"$path/config").head().getInt(0)
    val tbs = terms.map(graft.operators.Search.termBucket(_, buckets)).distinct
    val slice = spark.read.parquet(s"$path/postings")
      .where(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
      .dropDuplicates("id", "pos", "term", "batch_id")
    val ver = postingsStoreVersions(spark, path)
      .join(broadcast(slice.select("id").distinct()), Seq("id"), "left_semi")
    slice.join(broadcast(ver.select(col("id"), col("vb"))), Seq("id"))
      .where(col("batch_id") === col("vb"))
      .select(col("id"), col("pos"), col("term"))
  }

  /** [[graft.operators.Search.phraseOccurrences]] over a streamed
    * index — ≡ the batch-built index over the same (latest) corpus. */
  def phraseFromPostingsStore(spark: org.apache.spark.sql.SparkSession,
                              path: String, phrase: Seq[String]): DataFrame =
    graft.operators.Search.phraseOccurrences(
      postingsStoreFor(spark, path, phrase.distinct), phrase)

  /** BM25 over a streamed index: tf from the pruned current slice,
    * lengths and exact corpus totals from the latest-version doclens —
    * scores bit-identical to a batch index built on the same corpus
    * state (spec-asserted). */
  def bm25FromPostingsStore(spark: org.apache.spark.sql.SparkSession,
                            path: String, query: Seq[String],
                            k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    val tf = postingsStoreFor(spark, path, query.distinct)
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val lens = postingsStoreVersions(spark, path).select(col("id"), col("len"))
    val tot = lens.agg(count(lit(1)).as("n"), sum(col("len")).as("sl"))
    graft.operators.Search.bm25Score(tf, lens, tot, k1, b)
  }

  /** Rolling w-day distinct-reach estimates from a [[sketchStream]]
    * store keyed by DAY — the 100 TB face of
    * [[graft.operators.EventOps.rollingReach]]: the exact form must
    * revisit w× the (user, day) frame per report, while here each
    * day's users are absorbed into a 4 KB HLL once and every rolling
    * window is a w-way sketch union (mergeability is the whole
    * point — the same store answers any window length after the
    * fact). Estimates carry HLL error (±~1.6% at lgK 12; accuracy vs
    * the exact operator is spec-asserted), and batch replays are
    * absorbed by union idempotence like every sketch-store reader.
    * Returns (day, reach_est). */
  def sketchRollingReach(spark: org.apache.spark.sql.SparkSession,
                         storePath: String,
                         windowDays: Int): DataFrame = {
    require(windowDays >= 1, "windowDays must be positive")
    val daily = spark.read.parquet(storePath)
      .groupBy(col("key").cast("long").as("day"))
      .agg(hll_union_agg(col("sketch"), false).as("sk"))
    val days = daily.select(col("day").as("wday"))
    val offs = spark.range(0, windowDays).select(col("id").as("o"))
    daily.crossJoin(broadcast(offs))
      .withColumn("wday", col("day") + col("o"))
      .join(days, "wday")
      .groupBy("wday")
      .agg(hll_union_agg(col("sk"), false).as("m"))
      .select(col("wday").as("day"),
        hll_sketch_estimate(col("m")).cast("long").as("reach_est"))
  }

  /** Report over a [[sketchStream]] store: per-key distinct estimates
    * (sketches unioned across batches) plus the corpus-wide
    * `__all__` row. */
  def sketchReport(spark: org.apache.spark.sql.SparkSession,
                   storePath: String): DataFrame = {
    val store = spark.read.parquet(storePath)
    val perKey = store.groupBy(col("key"))
      .agg(hll_union_agg(col("sketch"), false).as("merged"))
      .select(col("key"), hll_sketch_estimate(col("merged")).as("estimate"))
    perKey.unionAll(
      graft.operators.Sketches.unionEstimate(
          store.select(col("sketch")))
        .select(lit("__all__").as("key"), col("estimate")))
  }

  /** Incremental EXACT quantiles: each micro-batch appends its
    * grid-cell histogram — one `(batch_id, grp, s4, n)` row per
    * occupied 1e-4 cell — to a persistent store; any later quantile
    * report ([[histReport]]) is a cell-sum over the store, never a
    * re-scan of ingested data. The exact sibling of [[sketchStream]]:
    * grid histograms are mergeable like sketches (merge = summing cell
    * counts) but LOSSLESS, so the incremental report is bit-equal to a
    * single whole-history [[graft.operators.TextStats.groupQuantiles]]
    * pass (asserted in `SketchSpec`).
    *
    * Delivery: at-least-once replays are absorbed at READ time —
    * a replayed batch re-appends identical cells under the same
    * batch_id, and [[histCells]] collapses to one row per
    * (batch_id, grp, s4) before summing. Store size is bounded by
    * (batches × groups × occupied cells), KB-scale rows — per-batch
    * work never touches the store at all (append-only). */
  def histStream(keyCol: String, scoreCol: String, storePath: String)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      // writers open (heal) first: an append into a torn store's
      // missing live dir would recreate it fresh and strand the full
      // history under the swap's aside names
      openStore(batch.sparkSession, storePath)
      batch.select(col(keyCol).as("grp"),
          round(col(scoreCol) * 1e4).cast("long").as("s4"))
        .groupBy("grp", "s4").agg(count(lit(1)).as("n"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(storePath)
      ()
    }

  /** The merged histogram of a [[histStream]] store: the
    * [[absorbedCounts]] read over the grid cells, then cell counts
    * summed across batches → `(grp, s4, n)`. */
  def histCells(spark: org.apache.spark.sql.SparkSession,
                storePath: String): DataFrame =
    absorbedCounts(spark, storePath, Seq("grp", "s4"))
      .groupBy("grp", "s4").agg(sum(col("n")).as("n"))

  /** The replay-absorbed rows of a watermark-compacted count dir (a
    * [[histStream]] store or one [[basketStream]] family): rows below
    * the compaction watermark are dropped (their mass lives in the
    * baseline row set, batch_id −1 — see [[baselineCompact]]), and one
    * row per (batch_id, keys) survives, since a replayed batch
    * re-appends identical counts under the same batch_id →
    * `(batch_id, keys…, n)`. */
  private def absorbedCounts(spark: org.apache.spark.sql.SparkSession,
                             dir: String, keys: Seq[String]): DataFrame = {
    val wm = histWatermark(spark, dir)
    spark.read.parquet(dir)
      .where(col("batch_id") === -1L || col("batch_id") > wm)
      .groupBy(("batch_id" +: keys).map(col): _*).agg(max(col("n")).as("n"))
  }

  /** The store's compaction watermark: batches ≤ this id have been
    * merged into the baseline rows (batch_id −1) and their raw rows —
    * including any at-least-once REPLAY that arrives after the
    * compaction — are ignored by every reader. Carried as an
    * underscore-prefixed file INSIDE the parquet dir (parquet readers
    * skip `_`-files), so the compaction's rename swap moves data and
    * watermark atomically — no window where they disagree. Every
    * reader resolves the watermark first, so it opens (heals) the
    * store here. */
  private[graft] def histWatermark(spark: org.apache.spark.sql.SparkSession,
                                   storePath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$storePath/_graft_wm")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    openStore(spark, storePath)
    if (!fs.exists(p)) Long.MinValue
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** Compact a [[histStream]] store: merge every batch with id ≤
    * `upToBatchId` (plus any prior baseline) into ONE baseline cell
    * set (batch_id −1) and keep later batches raw — the
    * [[baselineCompact]] over the grid-cell keys. The store stays
    * bounded over an unbounded ingest life while every report stays
    * bit-identical (spec-asserted), and a pre-watermark batch REPLAYED
    * after compaction is ignored by readers instead of double-counting.
    * Returns (cell rows after, total mass). */
  def histCompact(spark: org.apache.spark.sql.SparkSession,
                  storePath: String, upToBatchId: Long): (Long, Long) =
    baselineCompact(spark, storePath, Seq("grp", "s4"), upToBatchId)

  /** Watermark-baseline compaction of one count dir (a [[histStream]]
    * store, one [[basketStream]] family) over its key columns: the
    * [[absorbedCounts]] rows with batch_id ≤ `upToBatchId` sum into ONE
    * baseline row per key (batch_id −1), later batches stay raw, and
    * the new watermark rides inside the rewritten dir. A mass-checked
    * [[swapStore]] (crash contract there). Returns (rows after,
    * mass). */
  private def baselineCompact(spark: org.apache.spark.sql.SparkSession,
                              dir: String, keys: Seq[String],
                              upToBatchId: Long): (Long, Long) = {
    require(upToBatchId >= 0L, s"bad watermark: $upToBatchId")
    def mass(df: DataFrame): Long =
      df.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    swapStore(spark, dir) { aside =>
      val valid = absorbedCounts(spark, dir, keys)
      val massBefore = mass(valid)
      val baseline = valid.where(col("batch_id") <= upToBatchId)
        .groupBy(keys.map(col): _*).agg(sum(col("n")).as("n"))
        .where(col("n").isNotNull)   // keyless, no pre-watermark batch → no row
        .select((keys.map(col) :+ col("n")) :+ lit(-1L).as("batch_id"): _*)
      val rest = valid.where(col("batch_id") > upToBatchId)
        .select((keys.map(col) :+ col("n")) :+ col("batch_id"): _*)
      baseline.unionByName(rest).coalesce(2)
        .write.mode("overwrite").parquet(aside)
      val wm = new org.apache.hadoop.fs.Path(s"$aside/_graft_wm")
      val outWm = wm.getFileSystem(spark.sessionState.newHadoopConf())
        .create(wm, true)
      try outWm.write(upToBatchId.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally outWm.close()
      val after = spark.read.parquet(aside)
      val massAfter = mass(after)
      require(massAfter == massBefore,
        s"$dir compaction mass drift: $massBefore -> $massAfter — aborting")
      (after.count(), massAfter)
    }
  }

  /** Streaming market-basket census — the incremental face of
    * [[graft.operators.Itemsets.pairAssociations]]: each micro-batch
    * (basket-complete by contract — a basket's rows arrive in ONE
    * batch, the shape an upstream emitting finished orders produces)
    * appends three row families under its batch_id: distinct item
    * counts, within-basket pair counts, and the basket count. Raw
    * counts only — NO threshold is applied at write time, so the
    * support fraction is a READ-time policy knob: yesterday's store
    * answers today's tighter threshold without re-ingesting anything.
    * At-least-once replays are absorbed at read like [[histStream]]
    * (max per (batch_id, key) before summing). Per-batch pair work is
    * Σ|basket|² within the batch only — the store is never read.
    *
    * Store size is (batches × occupied cells), vocabulary²-bounded
    * per batch family; [[basketCompact]] bounds it if batch count ever
    * dominates. */
  def basketStream(basketCol: String, itemCol: String, storePath: String)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      // open (heal) every family before appending, as histStream does
      basketFamilies.foreach { case (fam, _) =>
        openStore(batch.sparkSession, s"$storePath/$fam") }
      val d = batch.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
        .where(col("__b").isNotNull && col("__i").isNotNull)
        .distinct()
        .persist()
      try {
        d.groupBy(col("__i").as("item")).agg(count(lit(1)).as("n"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(s"$storePath/items")
        d.as("a").join(d.as("b"),
            col("a.__b") === col("b.__b") && col("a.__i") < col("b.__i"))
          .groupBy(col("a.__i").as("item_a"), col("b.__i").as("item_b"))
          .agg(count(lit(1)).as("n"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(s"$storePath/pairs")
        d.agg(countDistinct(col("__b")).as("n"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(s"$storePath/baskets")
      } finally { d.unpersist(); () }
    }

  /** Association rules over everything a [[basketStream]] store has
    * ingested, at a caller-chosen support fraction — bit-identical to
    * running [[graft.operators.Itemsets.pairAssociations]] on the
    * union of all ingested batches (spec-asserted), because both paths
    * end in the same [[graft.operators.Itemsets.rules]] arithmetic.
    * Reads are census-sized (items + pair cells + one basket row per
    * batch — and per-family compaction watermarks keep "per batch"
    * from growing without bound over the store's life, see
    * [[basketCompact]]), never data-sized. */
  def basketRulesFromStore(spark: org.apache.spark.sql.SparkSession,
                           storePath: String,
                           minSupportFrac: Double): DataFrame = {
    import graft.operators.Itemsets
    def absorbed(fam: String, keys: Seq[String]): DataFrame =
      absorbedCounts(spark, s"$storePath/$fam", keys)
    val nB = Itemsets.thresholdOf(
      absorbed("baskets", Nil).agg(sum(col("n")).as("__nb")),
      minSupportFrac)
    val items = absorbed("items", Seq("item"))
      .groupBy(col("item").as("__i")).agg(sum(col("n")).as("__n"))
    val freq = items.crossJoin(broadcast(nB))
      .where(col("__n") >= col("__min"))
      .select(col("__i"), col("__n"))
    val pairs = absorbed("pairs", Seq("item_a", "item_b"))
      .groupBy("item_a", "item_b").agg(sum(col("n")).as("pair_n"))
    Itemsets.rules(freq, pairs, nB)
  }

  /** A [[basketStream]] store's count families and their key columns. */
  private val basketFamilies = Seq("items" -> Seq("item"),
    "pairs" -> Seq("item_a", "item_b"), "baskets" -> Seq.empty[String])

  /** Compact a [[basketStream]] store: each count family (items /
    * pairs / baskets) gets the [[baselineCompact]] treatment — batches
    * ≤ `upToBatchId` merge into ONE baseline row set (batch_id −1) and
    * the family's watermark rides inside its parquet dir. Bounds the
    * store (and every [[basketRulesFromStore]] read) over an unbounded
    * ingest life; a pre-watermark batch replayed after compaction is
    * ignored by readers. Returns (family, rows, mass) per family. */
  def basketCompact(spark: org.apache.spark.sql.SparkSession,
                    storePath: String,
                    upToBatchId: Long): Seq[(String, Long, Long)] =
    basketFamilies.map { case (fam, keys) =>
      val (rows, mass) =
        baselineCompact(spark, s"$storePath/$fam", keys, upToBatchId)
      (fam, rows, mass)
    }

  /** Incremental data profiling: each micro-batch appends its
    * [[graft.operators.Profiling.profileSketched]] rows (one per
    * profiled column — counts, grid/string min-max, HLL value sketch)
    * to a persistent store; [[profileReport]] merges them losslessly
    * (counts sum, min/max fold, sketches union) into the whole-history
    * profile. Exact fields are bit-equal to a single
    * whole-data [[graft.operators.Profiling.profile]] pass; distincts
    * carry HLL error (±1.6% at lgK 12) — both spec-asserted. Replays
    * are absorbed at read like [[histCells]]; per-batch work never
    * reads the store. */
  def profileStream(numericCols: Seq[String], stringCols: Seq[String],
                    storePath: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      graft.operators.Profiling
        .profileSketched(batch, numericCols, stringCols)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(storePath)
      ()
    }

  /** Merged whole-history profile over a [[profileStream]] store. */
  def profileReport(spark: org.apache.spark.sql.SparkSession,
                    storePath: String): DataFrame =
    spark.read.parquet(storePath)
      // replay absorption: one row per (batch_id, column) — duplicates
      // are bit-identical, so min/max/union pick the same row back
      .groupBy("batch_id", "column")
      .agg(max(col("n_rows")).as("n_rows"), max(col("n_null")).as("n_null"),
        min(col("min4")).as("min4"), max(col("max4")).as("max4"),
        min(col("min_s")).as("min_s"), max(col("max_s")).as("max_s"),
        hll_union_agg(col("sketch"), true).as("sketch"))
      .groupBy("column")
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_null")).as("n_null"),
        min(col("min4")).as("min4"), max(col("max4")).as("max4"),
        min(col("min_s")).as("min_s"), max(col("max_s")).as("max_s"),
        hll_union_agg(col("sketch"), true).as("merged"))
      .select(col("column"), col("n_rows"), col("n_null"),
        hll_sketch_estimate(col("merged")).cast("long").as("n_distinct_est"),
        col("min4"), col("max4"), col("min_s"), col("max_s"))

  /** Drift report over a [[histStream]] store: per-BATCH exact KS
    * distance against the whole-store distribution (every batch's CDF
    * vs the merged CDF, both on the grid) — the "which ingest batch
    * shifted the score distribution" alarm, the histogram-store analog
    * of [[graft.operators.Similarity.ivfDriftReport]]. All from the
    * persisted cells; ingested rows are never re-scanned. */
  def histDriftReport(spark: org.apache.spark.sql.SparkSession,
                      storePath: String): DataFrame =
    graft.operators.TextStats.groupScoreDriftFromCells(
      absorbedCounts(spark, storePath, Seq("grp", "s4"))
        .groupBy(col("batch_id").as("grp"), col("s4"))
        .agg(sum(col("n")).as("n")))
      .select(col("grp").as("batch_id"), col("n_rows"), col("ks4"))

  /** Per-batch PSI against the merged store (see
    * [[graft.operators.TextStats.groupPsiFromCells]]) — the
    * whole-distribution companion of [[histDriftReport]]'s KS over the
    * same persisted cells: KS flags the worst CDF gap, PSI the
    * integrated mismatch with its standard 0.1/0.25 action
    * thresholds. Same replay-absorption and watermark discipline. */
  def histPsiReport(spark: org.apache.spark.sql.SparkSession,
                    storePath: String): DataFrame =
    graft.operators.TextStats.groupPsiFromCells(
      absorbedCounts(spark, storePath, Seq("grp", "s4"))
        .groupBy(col("batch_id").as("grp"), col("s4"))
        .agg(sum(col("n")).as("n")))
      .select(col("grp").as("batch_id"), col("n_rows"), col("psi8"))

  /** Quantile report over a [[histStream]] store: per-key exact
    * quantiles at the requested per-10000 points, plus the corpus-wide
    * `__all__` row — all from the persisted cells. */
  def histReport(spark: org.apache.spark.sql.SparkSession,
                 storePath: String, qs: Seq[Int]): DataFrame = {
    // cells are (groups × occupied grid cells) rows — KB-scale; the
    // two branches below recompute them rather than pin a cache for a
    // one-shot report
    val cells = histCells(spark, storePath)
    val perKey = graft.operators.TextStats.groupQuantilesFromCells(cells, qs)
    val overall = graft.operators.TextStats.groupQuantilesFromCells(
      cells.groupBy("s4").agg(sum(col("n")).as("n"))
        .select(lit("__all__").as("grp"), col("s4"), col("n")), qs)
    perKey.unionAll(overall)
  }

  /** Streaming 2-D skyline (Pareto-front) store: each micro-batch is
    * reduced to (u, t) cells, every cell STRICTLY dominated by the
    * already-stored front is dropped — dominance is monotone under
    * inserts (cells are only ever added), so a dominated cell can
    * never re-enter any future front and the drop is safe forever —
    * and the survivors append batch-stamped. Equal cells are NOT
    * dominated (strictness on one axis), so a front cell recurring in
    * a later batch appends again and its counts accumulate at read.
    *
    * Scale: per-batch work is one batch census + one anti-join
    * against the broadcast stored front; the store grows with front
    * CANDIDATES (cells undominated at append time), not with distinct
    * cells ingested. Redelivered batches re-append identical rows;
    * [[skylineReport]] absorbs them. */
  def skylineIngestStream(maxCol: String, minCol: String,
                          storePath: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val cells = batch.select(col(maxCol).as("u"), col(minCol).as("t"))
        .groupBy("u", "t").agg(count(lit(1)).as("n"))
      val pruned =
        if (!openStore(spark, storePath)) cells
        else {
          val front = graft.operators.Profiling.skylineOfCells(
            spark.read.parquet(storePath)
              .groupBy("u", "t").agg(count(lit(1)).as("n_rows")))
          cells.join(
            broadcast(front.select(col("u").as("fu"), col("t").as("ft"))),
            col("fu") >= col("u") && col("ft") <= col("t")
              && (col("fu") > col("u") || col("ft") < col("t")),
            "left_anti")
        }
      pruned.withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(storePath)
      ()
    }

  /** The live Pareto front of a [[skylineIngestStream]] store:
    * replay-absorb (one row per (batch_id, u, t) survives — a
    * redelivered batch wrote bit-identical rows), sum each cell's
    * count across batches, then the q285 sweep. Equals the batch
    * [[graft.operators.Profiling.skyline2d]] over everything ever
    * ingested (spec-asserted). */
  def skylineReport(spark: org.apache.spark.sql.SparkSession,
                    storePath: String): DataFrame =
    graft.operators.Profiling.skylineOfCells(
      spark.read.parquet(storePath)
        .groupBy("batch_id", "u", "t").agg(max(col("n")).as("n"))
        .groupBy("u", "t").agg(sum(col("n")).as("n_rows")))
}
