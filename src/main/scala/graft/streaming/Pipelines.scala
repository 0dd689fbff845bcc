package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The streaming layer every registry query, main and benchmark runs:
  *  - event-time operators (watermarked tumbling/sliding/session
  *    windows, the stream-stream interval join) and [[runToMemory]],
  *    which drains a streaming plan for the oracle-gated queries
  *    (q331, q333–q335); the operators work identically on batch
  *    frames (Spark's unified model), which is how their
  *    DuckDB-checkable batch twins in graft.queries verify the logic;
  *  - the persistent micro-batch stores — cross-run exact and CDC
  *    dedup, the weighted reservoir, the SCD2 change store with its
  *    point-in-time enricher, the hierarchy log and the near-dup
  *    cluster store — sharing one bucketed layout ([[DedupStore]]), one
  *    open ([[openStore]]), one swap ([[swapStore]]) and one compaction
  *    trigger ([[compactStoreIfNeeded]]);
  *  - [[manifestSink]], the exactly-once file sink of the duplex bus.
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
  private[graft] def swapStore[A](spark: org.apache.spark.sql.SparkSession,
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

  /** Memory-sink name sequence of [[runToMemory]]. */
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
    * The count is min(8, the session's default parallelism): one store
    * instance per core, commit fan-out capped at 8. On fewer than 8
    * cores a drained stream never commits more instances per batch
    * than there are cores to run them; on 8 or more it is a flat 8.
    * (A production deployment sizes state partitions to state VOLUME —
    * 64-256 MB of state per partition — not to the executor count.) */
  private def streamStatePartitions(spark: org.apache.spark.sql.SparkSession): Int =
    math.min(8, spark.sparkContext.defaultParallelism)

  /** Drive a streaming frame to completion through a memory sink and
    * hand back the materialized result — the query-harness driver for
    * append-mode streaming plans (the fixture file arrives through
    * the real file-stream source, so the plan under test is the
    * streaming one, e.g. StreamingSymmetricHashJoin — not a batch
    * rewrite). The memory sink is driver-resident by design, so this
    * is for oracle-gated result sets, not corpus-sized output. */
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

  /** Bucketed layout shared by every store that keeps its history and
    * absorbs replays against it: the cross-run dedup stores, the SCD2
    * change store (and [[PitEnricher]] over it), the cluster members,
    * and — on `id` — the hierarchy log.
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

  /** Offline compaction for a [[DedupStore]] (the exact and CDC dedup
    * stores share the layout). Kept with no caller in a query or main:
    * it is the only compaction of the dedup and CDC stores that Soak
    * gates, and it backs the dedup row of the torn-swap spec. Every
    * streaming append
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
    * This is the cross-run complement of Spark's
    * `dropDuplicatesWithinWatermark`, which bounds state to the
    * watermark horizon: the store carries the full ingestion history as a
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
    * documents carry it. Same [[DedupStore]] layout as the exact store,
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
    * Delivery contract: per-key
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
    * intervals are one keyed `lead` away. Kept with no caller in a
    * query or main: with [[scd2StoreIntervalsAsOf]] it is the only
    * read-out of the SCD2 store that Soak writes. */
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
    * (spec-asserted). Kept with no caller in a query or main, for the
    * reason [[scd2StoreIntervals]] gives. */
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
    * (spec- and oracle-asserted). The dedup stores answer "is this
    * content a dup of ANYTHING seen"; this maintains "which cluster is
    * it in" without ever re-clustering history.
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
    * [[DedupStore]] slice ([[memberCids]]); the CC runs over
    * SUPERNODES (known vertices collapse to their resolved cid), so its
    * input is edges-in-batch-sized — and below `driverCcMaxEdges` (by
    * default the shared [[graft.operators.DriverPath.budget]]; 0 never
    * collects) it is solved by a driver union-find off one
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
                          driverCcMaxEdges: Int = -1,
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
      // `driverCcMaxEdges` resolves through the one driver-path budget
      // ([[graft.operators.DriverPath.budget]]: negative → the env
      // budget). `0` means NEVER collect (the shared
      // [[graft.operators.DriverPath.collectWithin]] probe runs no job
      // then), and the fallback passes the CC a zero budget: the edge
      // set is already known to be over this one, or the setting means
      // to force the distributed rewiring loop.
      val probe = graft.operators.DriverPath.collectWithin(sedges,
        graft.operators.DriverPath.budget(driverCcMaxEdges))
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
        val mdf = graft.operators.DriverPath.localFrame(spark, schema, resolved)
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
}
