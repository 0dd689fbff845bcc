package graft

import graft.streaming.Pipelines
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import java.sql.Timestamp

/** Event-time streaming semantics (watermark late-data drop, tumbling,
  * sliding and session windows) and the persistent micro-batch stores. */
class StreamingPipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0) =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  test("tumbling window counts with watermark drops late rows") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val counts = Pipelines.windowedCounts(
      in.toDF().toDF("ts", "uid"), "ts", delay = "10 minutes", windowDur = "5 minutes")

    val q = counts.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      in.addData((ts(0), 1L), (ts(1), 1L), (ts(4), 2L), (ts(6), 1L))
      q.processAllAvailable()
      // advance watermark far past the first windows so they finalize
      in.addData((ts(40), 9L))
      q.processAllAvailable()
      // a very late row for the first window must be dropped
      in.addData((ts(2), 3L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT window_start, n FROM win_out ORDER BY window_start")
        .as[(Timestamp, Long)].collect().toSeq
      assert(rows.contains((ts(0), 3L)))   // 10:00-10:05 → 3 rows, late row NOT added
      assert(rows.contains((ts(5), 1L)))   // 10:05-10:10 → 1 row
    } finally q.stop()
  }

  test("sliding windows emit overlapping buckets") {
    val batch = Seq((ts(0), 1L), (ts(4), 1L), (ts(7), 1L)).toDF("ts", "uid")
    val out = Pipelines.windowedCounts(batch, "ts", "0 seconds", "10 minutes",
        slide = Some("5 minutes"))
      .orderBy("window_start")
      .as[(Timestamp, Timestamp, Long)].collect().toSeq
    // 09:55-10:05 sees 2; 10:00-10:10 sees 3; 10:05-10:15 sees 1
    assert(out.map(_._3) === Seq(2L, 3L, 1L))
  }

  test("session_window groups by gap (batch twin of streaming path)") {
    val batch = Seq(
      (ts(0), 7L), (ts(1), 7L), (ts(2), 7L),   // session 1
      (ts(20), 7L), (ts(21), 7L),              // session 2 (gap 18 min > 5)
      (ts(0), 8L)                              // other user
    ).toDF("ts", "uid")
    val out = Pipelines.sessionWindowAgg(batch, "ts", "0 seconds", "5 minutes", "uid")
      .orderBy("uid", "session_start")
      .select("uid", "n_events").as[(Long, Long)].collect().toSeq
    assert(out === Seq((7L, 3L), (7L, 2L), (8L, 1L)))
  }

  test("dedupAgainstStore drops repeats within a batch, across batches, and across restarts") {
    implicit val sc = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("fpstore").toFile
    store.delete()  // foreachBatch body creates it on first append
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    // `file:` URI: java.io.File can't resolve it, Hadoop FileSystem must —
    // proves the store check works on generic filesystems (hdfs://, s3a://)
    def body = Pipelines.dedupAgainstStore("text", "file:" + store.getAbsolutePath) { fresh =>
      seen ++= fresh.select("doc_id").as[Long].collect()
    }

    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream.foreachBatch(body).start()
    try {
      in.addData((1L, "alpha text"), (2L, "beta text"), (3L, "alpha  TEXT"))
      q.processAllAvailable()                       // 3 normalizes like 1 → dropped
      assert(seen.sorted === Seq(1L, 2L))
      in.addData((4L, "beta text"), (5L, "gamma text"))
      q.processAllAvailable()                       // 4 is a cross-batch repeat of 2
      assert(seen.sorted === Seq(1L, 2L, 5L))
    } finally q.stop()

    // a brand-new query (restart) still sees the persisted store
    val in2 = MemoryStream[(Long, String)]
    val q2 = in2.toDF().toDF("doc_id", "text").writeStream.foreachBatch(body).start()
    try {
      in2.addData((6L, "gamma text"), (7L, "delta text"))
      q2.processAllAvailable()
      assert(seen.sorted === Seq(1L, 2L, 5L, 7L))
    } finally q2.stop()
  }

  test("dedup stores: per-batch read partition-prunes to the batch's buckets; no store-side shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val store = java.nio.file.Files.createTempDirectory("prunestore").toString
    val buckets = 64
    // seed the store with many fingerprints spread over the buckets
    val seed = (1L to 400L).map(i => (i, s"seed document number $i unique text"))
      .toDF("doc_id", "text")
    Pipelines.dedupAgainstStore("text", store, buckets) { _ => () }(seed, 0L)
    val dirs = new java.io.File(s"$store/data")
      .listFiles().count(_.getName.startsWith("pb="))
    assert(dirs > 16, s"seed must spread over many bucket dirs, got $dirs")
    // a 2-doc batch touches ≤2 buckets → the store scan must prune to them
    val batch = Seq((900L, "tiny batch doc alpha"), (901L, "tiny batch doc beta"))
      .toDF("doc_id", "text")
    val fresh = Pipelines.dedupFresh(batch, "text", store)
    val plan = fresh.queryExecution.sparkPlan
    val storeScans = plan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("prunestore")) => f
    }
    assert(storeScans.nonEmpty, s"store file scan must appear in the plan:\n$plan")
    assert(storeScans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "pb"))),
      s"store scan must carry a pb partition filter:\n$plan")
    assert(storeScans.forall(_.selectedPartitions.partitionCount <= 2),
      s"expected ≤2 pruned partitions, got " +
        storeScans.map(_.selectedPartitions.partitionCount).mkString(","))
    // and the store side joins as broadcast, never a sort-merge shuffle
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"store joins must broadcast the batch side:\n$plan")
    // semantics unchanged: both docs are new → both fresh
    assert(fresh.count() === 2L)

    // same laws for the CDC chunk store
    def checkPlan(df: org.apache.spark.sql.DataFrame, marker: String,
                  maxParts: Int): Unit = {
      val p = df.queryExecution.sparkPlan
      val scans = p.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(marker)) => f
      }
      assert(scans.nonEmpty, s"store scan missing from plan:\n$p")
      assert(scans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "pb"))), s"no pb partition filter:\n$p")
      assert(scans.forall(_.selectedPartitions.partitionCount <= maxParts),
        s"pruned too little: " +
          scans.map(_.selectedPartitions.partitionCount).mkString(","))
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"store join must broadcast:\n$p")
    }
    // CDC chunk store: a short 1-doc probe touches few chunk buckets
    val cdcStore = java.nio.file.Files.createTempDirectory("prunecdc").toString
    val cdcSeed = (1L to 200L).map(i =>
      (i, (1 to 30).map(j => s"seed $i clause $j with words").mkString(" ")))
      .toDF("doc_id", "text")
    Pipelines.cdcDedupAgainstStore("doc_id", "text", cdcStore,
      buckets = buckets) { _ => () }(cdcSeed, 0L)
    val cdcProbe = Seq((900L, "short probe text with a few words only"))
      .toDF("doc_id", "text")
    val (cdcChunks, cdcPbs) = Pipelines.DedupStore.census(cdcStore,
      Pipelines.cdcHashed(cdcProbe, "doc_id", "text", w = 8, mask = 64),
      col("ch"))
    val nChunks = cdcChunks.count().toInt
    val cdcKnown = Pipelines.cdcKnown(cdcChunks, cdcPbs, cdcStore)
    checkPlan(cdcKnown, "prunecdc", maxParts = nChunks)
    // and the fresh computation itself stays broadcast-only
    val cdcPlan = Pipelines.cdcFresh(cdcProbe, cdcChunks, cdcKnown,
      "doc_id", 0.5).queryExecution.sparkPlan
    assert(cdcPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"cdcFresh must broadcast every join:\n$cdcPlan")
  }

  test("cdcDedupAgainstStore: shifted-content redeliveries suppressed where exact fingerprints differ") {
    val store = java.nio.file.Files.createTempDirectory("cdcstore").toString
    val baseText = (1 to 60).map(i => s"clause $i of the canonical text").mkString(" ")
    val novelA = (1 to 40).map(i => s"independent passage $i on another topic").mkString(" ")
    val novelB = (1 to 40).map(i => s"third unrelated treatise part $i here").mkString(" ")
    var emitted = Vector.empty[Long]
    val ingest = Pipelines.cdcDedupAgainstStore("doc_id", "text", store) { f =>
      emitted ++= f.select("doc_id").as[Long].collect().sorted
    }
    ingest(Seq((1L, baseText), (2L, novelA)).toDF("doc_id", "text"), 0L)
    assert(emitted === Vector(1L, 2L))
    // batch 2: id 3 is doc 1 with a PREFIX EDIT — its whole-text
    // fingerprint differs (the exact store would pass it), but its CDC
    // chunks re-synchronize → suppressed; id 4 is genuinely new
    val edited = "INSERTED PREAMBLE SENTENCE " + baseText
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions.col
    val fps = Seq(baseText, edited).toDF("text")
      .select(TextFunctions.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) !== fps(1), "precondition: exact fingerprints must differ")
    ingest(Seq((3L, edited), (4L, novelB)).toDF("doc_id", "text"), 1L)
    assert(emitted === Vector(1L, 2L, 4L))
    // redelivery of batch 1: overlap 1.0 → absorbed
    ingest(Seq((1L, baseText), (2L, novelA)).toDF("doc_id", "text"), 2L)
    assert(emitted === Vector(1L, 2L, 4L))
    // in-batch shifted copy: the later id is suppressed, first kept
    val novelC = (1 to 40).map(i => s"fresh chronicle segment $i text").mkString(" ")
    ingest(Seq((5L, novelC), (6L, "TACKED ON FRONT " + novelC))
      .toDF("doc_id", "text"), 3L)
    assert(emitted === Vector(1L, 2L, 4L, 5L))
    // empty text has no chunks → always passes
    ingest(Seq((7L, "")).toDF("doc_id", "text"), 4L)
    assert(emitted === Vector(1L, 2L, 4L, 5L, 7L))
    // store holds each chunk hash ONCE (viral chunks don't accumulate)
    val chs = spark.read.parquet(s"$store/data").select("ch").as[String].collect()
    assert(chs.length === chs.distinct.length, "store must not hold duplicate chunks")
    // chunking params are pinned: a different window is a hard error
    val err = intercept[IllegalArgumentException] {
      Pipelines.cdcDedupAgainstStore("doc_id", "text", store, w = 9) { _ => () }(
        Seq((8L, "anything")).toDF("doc_id", "text"), 5L)
    }
    assert(err.getMessage.contains("w"))
  }

  test("cdcDedupAgainstStore over BINARY blobs: re-containered copy suppressed") {
    // the same machinery, pointed at a blob column: a media payload
    // re-wrapped behind a different metadata prefix still collides on
    // its essence chunks where whole-blob hashing passes it
    val store = java.nio.file.Files.createTempDirectory("cdcblob").toString
    val essence = (1 to 400).map(i => (i * 31 % 251).toByte).toArray
    val other = (1 to 400).map(i => (i * 97 % 251).toByte).toArray
    var emitted = Vector.empty[Long]
    val ingest = Pipelines.cdcDedupAgainstStore("id", "blob", store) { f =>
      emitted ++= f.select("id").as[Long].collect().sorted
    }
    ingest(Seq((1L, essence)).toDF("id", "blob"), 0L)
    val reWrapped = "RIFFXXXXmeta".getBytes("UTF-8") ++ essence
    assert(!java.util.Arrays.equals(reWrapped, essence))
    ingest(Seq((2L, reWrapped), (3L, other)).toDF("id", "blob"), 1L)
    assert(emitted === Vector(1L, 3L),
      "the re-containered blob must be suppressed, the novel one kept")
  }

  test("compactStore: one file per pb dir, rows/config intact, store still dedups") {
    val store = java.nio.file.Files.createTempDirectory("compactstore").toString
    val buckets = 16   // small → batches keep hitting the same dirs
    // five appends land five files in every repeatedly-touched bucket dir
    (0 until 5).foreach { b =>
      val batch = (1L to 40L).map(i => (b * 1000L + i, s"doc $b-$i body text"))
        .toDF("doc_id", "text")
      Pipelines.dedupAgainstStore("text", store, buckets) { _ => () }(batch, b.toLong)
    }
    val rowsBefore = spark.read.parquet(s"$store/data")
      .select("fingerprint", "pb").collect().map(_.toString).sorted.toSeq
    val dirs = new java.io.File(s"$store/data")
      .listFiles().filter(_.getName.startsWith("pb=")).toSeq
    assert(dirs.exists(_.listFiles().count(_.getName.endsWith(".parquet")) > 1),
      "precondition: some bucket dir must hold several small files")

    val (rows, before, after) = Pipelines.compactStore(spark, store)
    assert(rows === 200L)
    assert(after < before, s"compaction must shrink the file census ($before -> $after)")
    // exactly one data file per surviving bucket dir
    val dirsAfter = new java.io.File(s"$store/data")
      .listFiles().filter(_.getName.startsWith("pb=")).toSeq
    assert(dirsAfter.nonEmpty)
    dirsAfter.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"dir ${d.getName} not compacted to one file")
    }
    assert(new java.io.File(s"$store/data_old").exists() === false)
    assert(new java.io.File(s"$store/data_compacting").exists() === false)
    // rows bit-identical, config untouched, store still functional
    val rowsAfter = spark.read.parquet(s"$store/data")
      .select("fingerprint", "pb").collect().map(_.toString).sorted.toSeq
    assert(rowsAfter === rowsBefore)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val next = Seq((9000L, "doc 0-1 body text"), (9001L, "wholly new text"))
      .toDF("doc_id", "text")
    Pipelines.dedupAgainstStore("text", store, buckets) { fresh =>
      seen ++= fresh.select("doc_id").as[Long].collect()
    }(next, 99L)
    assert(seen.toSeq === Seq(9001L))   // stored fingerprint still recognized
  }

  test("compactStoreIfNeeded: no-op below the threshold, compacts above it") {
    val store = java.nio.file.Files.createTempDirectory("compactpolicy").toString
    (0 until 4).foreach { b =>
      val batch = (1L to 30L).map(i => (b * 1000L + i, s"pol $b-$i body"))
        .toDF("doc_id", "text")
      Pipelines.dedupAgainstStore("text", store, 8) { _ => () }(batch, b.toLong)
    }
    def fileSet() = {
      val fs = new java.io.File(s"$store/data").listFiles()
        .filter(_.getName.startsWith("pb="))
        .flatMap(_.listFiles().map(_.getAbsolutePath)).sorted.toSeq
      fs
    }
    val beforeFiles = fileSet()
    // generous threshold: healthy store, decision reports but touches nothing
    def policy(maxFilesPerDir: Int) = Pipelines.compactStoreIfNeeded(spark,
      s"$store/data", maxFilesPerDir)(Pipelines.compactStore(spark, store))
    val noop = policy(maxFilesPerDir = 100)
    assert(!noop.compacted && noop.result === None)
    assert(policy(maxFilesPerDir = 100).files === noop.files)
    assert(fileSet() === beforeFiles, "no-op path must not rewrite any file")
    assert(noop.maxFilesPerDir > 1, "several appends must stack files per dir")
    // tight threshold: the same census now triggers the real compaction
    val did = policy(maxFilesPerDir = 1)
    val Some((rows, filesBefore, filesAfter)) = did.result
    assert(did.compacted && rows === 120L)
    assert(filesAfter < filesBefore)
    new java.io.File(s"$store/data").listFiles()
      .filter(_.getName.startsWith("pb=")).foreach { d =>
        assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1)
      }
  }

  test("weightedSampleAgainstStore: streamed reservoir equals the batch A-ES sample") {
    import graft.operators.Sampling
    val store = java.nio.file.Files.createTempDirectory("wreservoir").toString
    val k = 3
    var reservoir: Seq[(String, Long, Int)] = Nil   // (stratum, id, rn)
    def body = Pipelines.weightedSampleAgainstStore(
        "item_id", "w", "src", store, k) { r =>
      reservoir = r.select(col("stratum"), col("id"), col("rn"))
        .as[(String, Long, Int)].collect().toSeq.sortBy(x => (x._1, x._3))
    }
    def expected(rows: Seq[(Long, Double, String)]): Seq[(String, Long, Int)] =
      rows.map(_._3).distinct.sorted.flatMap { s =>
        Sampling.weightedTopKSample(
            rows.filter(_._3 == s).toDF("item_id", "w", "src"),
            "item_id", "w", k)
          .select(col("item_id").cast("long"), col("rn"))
          .as[(Long, Int)].collect().toSeq.sortBy(_._2)
          .map { case (i, rn) => (s, i, rn) }
      }

    val b1 = Seq((1L, 1.0, "a"), (2L, 5.0, "a"), (3L, 0.5, "a"), (4L, 2.0, "a"),
      (10L, 1.0, "b"))
    body(b1.toDF("item_id", "w", "src"), 0L)
    assert(reservoir === expected(b1))
    // second batch merges; truncation to k after batch 1 lost nothing
    val b2 = Seq((5L, 9.0, "a"), (6L, 0.1, "a"), (11L, 3.0, "b"))
    body(b2.toDF("item_id", "w", "src"), 1L)
    assert(reservoir === expected(b1 ++ b2))
    // redelivery is a no-op; a weight BOOST re-ranks monotonically
    body(b2.toDF("item_id", "w", "src"), 2L)
    assert(reservoir === expected(b1 ++ b2))
    val boosted = Seq((3L, 50.0, "a"))
    body(boosted.toDF("item_id", "w", "src"), 3L)
    assert(reservoir.contains(("a", 3L, 1)),
      s"boosted item must take rank 1, got $reservoir")
    // restart: a fresh body over the persisted store continues exactly
    var after: Seq[(String, Long, Int)] = Nil
    val body2 = Pipelines.weightedSampleAgainstStore(
        "item_id", "w", "src", store, k) { r =>
      after = r.select(col("stratum"), col("id"), col("rn"))
        .as[(String, Long, Int)].collect().toSeq.sortBy(x => (x._1, x._3))
    }
    body2(Seq((12L, 8.0, "b")).toDF("item_id", "w", "src"), 4L)
    assert(after.filter(_._1 == "b") ===
      expected(b1 ++ b2 ++ Seq((12L, 8.0, "b"))).filter(_._1 == "b"))
    // k pinned in config: opening with a different k is a hard error
    val e = intercept[IllegalArgumentException] {
      Pipelines.weightedSampleAgainstStore("item_id", "w", "src", store, k + 1) {
        _ => () }(b1.toDF("item_id", "w", "src"), 5L)
    }
    assert(e.getMessage.contains("k"))
  }

  test("clusterIngestStream: streamed cluster reps ≡ batch dupClusters at every batch boundary") {
    import graft.operators.Dedup
    val store = java.nio.file.Files.createTempDirectory("clstore").toString
    val ingest = Pipelines.clusterIngestStream(store)()
    def repsNow(): Map[Long, Long] =
      Pipelines.clusterStoreReps(spark, store)
        .as[(Long, Long)].collect().toMap
    def batchCc(allPairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val vs = allPairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(Tuple1(_)).toDF("id")
      Dedup.dupClusters(vs, "id", allPairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
    }
    // batch 1: two separate clusters {1,2} and {4,5}
    val b1 = Seq((2L, 1L), (4L, 5L))
    ingest(b1.toDF("id_a", "id_b"), 0L)
    assert(repsNow() === batchCc(b1))
    // batch 2: an edge MERGES the two stored clusters (root 4 loses to 1)
    val b2 = Seq((2L, 4L))
    ingest(b2.toDF("id_a", "id_b"), 1L)
    assert(repsNow() === batchCc(b1 ++ b2))
    assert(repsNow().values.toSet === Set(1L))
    // batch 3: a NEW smaller vertex takes over the merged cluster, plus
    // an unrelated new cluster {8,9}
    val b3 = Seq((0L, 5L), (9L, 8L))
    ingest(b3.toDF("id_a", "id_b"), 2L)
    assert(repsNow() === batchCc(b1 ++ b2 ++ b3))
    assert(repsNow()(5L) === 0L && repsNow()(2L) === 0L)
    // replay of batch 2 (at-least-once): absorbed, nothing changes
    ingest(b2.toDF("id_a", "id_b"), 1L)
    assert(repsNow() === batchCc(b1 ++ b2 ++ b3))
    // restart: a fresh closure over the same store continues exactly
    val ingest2 = Pipelines.clusterIngestStream(store)()
    val b4 = Seq((7L, 9L))   // extends {8,9} via a chain
    ingest2(b4.toDF("id_a", "id_b"), 3L)
    assert(repsNow() === batchCc(b1 ++ b2 ++ b3 ++ b4))
    // compaction: read-out identical, merge forest retired, and later
    // batches (including another cross-cluster merge) still exact
    val expect = repsNow()
    val (nm, retired) = Pipelines.clusterCompact(spark, store)
    assert(repsNow() === expect)
    assert(nm === expect.size.toLong && retired >= 1L)
    assert(!new java.io.File(s"$store/merges").exists())
    val b5 = Seq((5L, 7L))   // merges the two remaining clusters
    ingest2(b5.toDF("id_a", "id_b"), 4L)
    assert(repsNow() === batchCc(b1 ++ b2 ++ b3 ++ b4 ++ b5))
  }

  test("clusterCompactIfNeeded: healthy forest is a listing-only no-op; crossing the threshold retires it with read-out bit-identical") {
    import graft.operators.Dedup
    val store = java.nio.file.Files.createTempDirectory("clauto").toString
    // auto-compaction OFF so the test drives the policy explicitly
    val ingest = Pipelines.clusterIngestStream(store,
      autoCompactMergeFiles = 0)()
    def repsNow(): Map[Long, Long] =
      Pipelines.clusterStoreReps(spark, store)
        .as[(Long, Long)].collect().toMap
    // three batches, each merging previously-stored clusters → 2 merge
    // files accrue (batch 1 creates clusters, 2 and 3 each merge)
    ingest(Seq((2L, 3L), (5L, 6L), (8L, 9L)).toDF("id_a", "id_b"), 0L)
    ingest(Seq((3L, 5L)).toDF("id_a", "id_b"), 1L)
    ingest(Seq((6L, 8L)).toDF("id_a", "id_b"), 2L)
    val mergesDir = new java.io.File(s"$store/merges")
    def mergeFiles(): Long = mergesDir.listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).toLong
    assert(mergeFiles() === 2L)
    val expect = repsNow()
    // healthy: threshold not crossed → no-op, forest untouched
    def policy(maxMergeFiles: Int) = Pipelines.compactStoreIfNeeded(spark,
      s"$store/merges", maxMergeFiles)(Pipelines.clusterCompact(spark, store))
    val noop = policy(maxMergeFiles = 2)
    assert(!noop.compacted && noop.files === 2L &&
      noop.result === None && mergeFiles() === 2L)
    assert(repsNow() === expect)
    // crossed: forest retires, members resolve to live roots, read-out
    // bit-identical
    val did = policy(maxMergeFiles = 1)
    assert(did.compacted && did.files === 2L && did.result.get._2 === 2L)
    assert(!mergesDir.exists())
    assert(repsNow() === expect)

    // AUTO wiring: with autoCompactMergeFiles = 1, a second merge file
    // triggers retirement inside the ingest itself — no caller cron
    val store2 = java.nio.file.Files.createTempDirectory("clauto2").toString
    val auto = Pipelines.clusterIngestStream(store2,
      autoCompactMergeFiles = 1)()
    val b = Seq(Seq((2L, 3L), (5L, 6L), (8L, 9L)), Seq((3L, 5L)),
      Seq((6L, 8L)))
    b.zipWithIndex.foreach { case (p, i) => auto(p.toDF("id_a", "id_b"), i.toLong) }
    // the 2nd merge file crossed the threshold → forest auto-retired
    assert(!new java.io.File(s"$store2/merges").exists())
    val all = b.flatten
    val vs = all.flatMap(p => Seq(p._1, p._2)).distinct.map(Tuple1(_)).toDF("id")
    val batchCc = Dedup.dupClusters(vs, "id", all.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(Pipelines.clusterStoreReps(spark, store2)
      .as[(Long, Long)].collect().toMap === batchCc)
  }

  test("hierarchyIngestStream: streamed subtree aggregates ≡ batch rollup at every boundary; replay absorbed; cycle fails loud") {
    import graft.operators.GraphOps
    val store = java.nio.file.Files.createTempDirectory("hierstore").toString
    val ingest = Pipelines.hierarchyIngestStream(store, buckets = 8)()
    def aggNow(): Map[Long, (Long, Long)] =
      Pipelines.hierStoreAggregates(spark, store)
        .as[(Long, Long, Long)].collect()
        .map { case (i, n, s) => i -> (n, s) }.toMap
    def batchAgg(nodes: Seq[(Long, Option[Long], Long)]): Map[Long, (Long, Long)] =
      GraphOps.subtreeAggregate(nodes.toDF("id", "parent", "value"))
        .select(col("id"), col("n_subtree"), col("subtree_sum"))
        .as[(Long, Long, Long)].collect()
        .map { case (i, n, s) => i -> (n, s) }.toMap
    // batch 0: pure inserts — 0(10){1(1){3(3){5(5)},4(4)},2(2)}
    val t0: Seq[(Long, Option[Long], Long)] = Seq(
      (0L, None, 10L), (1L, Some(0L), 1L), (2L, Some(0L), 2L),
      (3L, Some(1L), 3L), (4L, Some(1L), 4L), (5L, Some(3L), 5L))
    def df(rows: Seq[(Long, Option[Long], Long)]) =
      rows.toDF("id", "parent", "value")
    ingest(df(t0), 0L)
    assert(aggNow() === batchAgg(t0))
    assert(aggNow()(0L) === ((6L, 25L)))
    // batch 1: value restatement deep in the tree propagates up
    ingest(df(Seq((4L, Some(1L), 7L))), 1L)
    val t1 = t0.map { case (4L, p, _) => (4L, p, 7L); case r => r }
    assert(aggNow() === batchAgg(t1))
    assert(aggNow()(0L) === ((6L, 28L)))
    // batch 2: reparent a SUBTREE (3 carries 5 along): 1 loses, 2 gains
    ingest(df(Seq((3L, Some(2L), 3L))), 2L)
    val t2 = t1.map { case (3L, _, v) => (3L, Some(2L), v); case r => r }
    assert(aggNow() === batchAgg(t2))
    assert(aggNow()(1L) === ((2L, 8L)) && aggNow()(2L) === ((3L, 10L)))
    // batch 3: SIMULTANEOUS insert + reparent + value change with
    // overlapping chains — the delta algebra must compose exactly
    ingest(df(Seq((6L, Some(5L), 6L), (4L, Some(0L), 7L),
      (2L, Some(0L), 20L))), 3L)
    val t3 = t2.map {
      case (4L, _, v) => (4L, Some(0L), v)
      case (2L, p, _) => (2L, p, 20L)
      case r => r
    } :+ ((6L, Some(5L): Option[Long], 6L))
    assert(aggNow() === batchAgg(t3))
    assert(aggNow()(0L) === ((7L, 52L)))
    // replay of batch 3 (at-least-once): absorbed, nothing changes —
    // NEITHER row family may grow (a plain redelivery re-appending
    // event rows would grow the store without bound when
    // auto-compaction is off), and the change feed re-emits the
    // batch's recovered aggregate rows (not an empty frame)
    def famCount(fam: String): Long =
      spark.read.parquet(s"$store/log/data")
        .where(col("fam") === fam).count()
    val accRows = famCount("a")
    val nodeRows = famCount("n")
    val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ingestRec = Pipelines.hierarchyIngestStream(store, buckets = 8)(
      out => sunk ++= out.as[(Long, Long, Long)].collect())
    ingestRec(df(Seq((6L, Some(5L), 6L), (4L, Some(0L), 7L),
      (2L, Some(0L), 20L))), 3L)
    assert(famCount("a") === accRows,
      "replayed batch must append zero acc rows")
    assert(famCount("n") === nodeRows,
      "plain redelivery must append zero event rows")
    assert(sunk.nonEmpty && sunk.map(_._1).toSet ===
      spark.read.parquet(s"$store/log/data")
        .where(col("fam") === "a" && col("batch_id") === 3L)
        .select(col("id")).as[Long].collect().toSet,
      "replay must re-emit the batch's recovered acc rows to the sink")
    assert(aggNow() === batchAgg(t3))
    // compaction: superseded versions retire, read-out bit-identical,
    // replayed old batches STILL absorb (surviving batch_ids kept)
    val (live, retiredRows) = Pipelines.hierCompact(spark, store)
    assert(live === 7L && retiredRows >= 1L)
    assert(famCount("n") === 7L)
    assert(famCount("a") === 7L)
    assert(aggNow() === batchAgg(t3))
    val accRows2 = famCount("a")
    ingest(df(Seq((6L, Some(5L), 6L), (4L, Some(0L), 7L),
      (2L, Some(0L), 20L))), 3L)
    assert(famCount("a") === accRows2,
      "replay after compaction must append zero acc rows")
    assert(aggNow() === batchAgg(t3))
    // restart: a fresh closure over the same store continues exactly,
    // and a reparent UNDER OWN DESCENDANT fails loud (cycle)
    val ingest2 = Pipelines.hierarchyIngestStream(store, buckets = 8)()
    val e = intercept[Exception] {
      ingest2(df(Seq((0L, Some(5L), 10L))), 4L)
    }
    assert(e.getMessage.contains("maxDepth"))
    // duplicate ids in one batch fail loud
    val dup = intercept[Exception] {
      ingest2(df(Seq((9L, Some(0L), 1L), (9L, Some(1L), 2L))), 5L)
    }
    assert(dup.getMessage.contains("one event per node"))
    // and post-compaction churn still folds exactly: move 4 back
    ingest2(df(Seq((4L, Some(1L), 7L))), 6L)
    val t4 = t3.map { case (4L, _, v) => (4L, Some(1L), v); case r => r }
    assert(aggNow() === batchAgg(t4))
  }

  test("hierarchyIngestStream property: random forests + random churn + random replays/empty batches ≡ batch rollup at every boundary") {
    import graft.operators.GraphOps
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(1000L + seed)
      val store = java.nio.file.Files
        .createTempDirectory(s"hierprop$seed").toString
      val ingest = Pipelines.hierarchyIngestStream(store, buckets = 8)()
      // model: id -> (parent, value); acyclic by construction (parent
      // strictly smaller than child, the prefix-forest trick)
      var model = (0 until 20).map { i =>
        i.toLong -> (if (i == 0) None
                     else Some(rnd.nextInt(i).toLong),
                     rnd.nextInt(1000).toLong - 500L)
      }.toMap
      var nextId = 20L
      def df(rows: Seq[(Long, Option[Long], Long)]) =
        rows.toDF("id", "parent", "value")
      def check(): Unit = {
        val nodes = model.toSeq.map { case (i, (p, v)) => (i, p, v) }
        val batch = GraphOps.subtreeAggregate(df(nodes))
          .select(col("id"), col("n_subtree"), col("subtree_sum"))
          .as[(Long, Long, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        val streamed = Pipelines.hierStoreAggregates(spark, store)
          .as[(Long, Long, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(streamed === batch, s"seed=$seed diverged")
      }
      ingest(df(model.toSeq.map { case (i, (p, v)) => (i, p, v) }), 0L)
      check()
      for (b <- 1 to 4) {
        // each batch: a few inserts + reparents/value changes on
        // DISTINCT existing nodes (the one-event-per-node contract)
        val inserts = (0 until rnd.nextInt(3)).map { _ =>
          val id = nextId; nextId += 1
          // parent = any EXISTING node (new id exceeds all → acyclic)
          val ex = model.keys.toSeq.sorted
          val ev = (id, Some(ex(rnd.nextInt(ex.size))),
            rnd.nextInt(1000).toLong - 500L)
          model += id -> (ev._2, ev._3); ev
        }
        val touched = rnd.shuffle(model.keys.filter(_ > 0).toSeq)
          .take(rnd.nextInt(5) + 1)
          .filterNot(i => inserts.exists(_._1 == i))
        val updates = touched.map { i =>
          // parent = an existing STRICTLY SMALLER node → acyclic
          val cand = model.keys.filter(_ < i).toSeq.sorted
          val p = Some(cand(rnd.nextInt(cand.size)))
          val v = rnd.nextInt(1000).toLong - 500L
          model += i -> (p, v); (i, p, v)
        }
        val evs = inserts ++ updates
        if (evs.nonEmpty) { ingest(df(evs), b.toLong); check() }
        // at-least-once delivery: replay the SAME batch sometimes —
        // must be absorbed exactly (acc row count unchanged, read-out
        // still ≡ batch)
        if (evs.nonEmpty && rnd.nextBoolean()) {
          val accRows = spark.read.parquet(s"$store/log/data")
            .where(col("fam") === "a").count()
          ingest(df(evs), b.toLong)
          assert(spark.read.parquet(s"$store/log/data")
            .where(col("fam") === "a").count() === accRows,
            s"seed=$seed batch=$b replay appended acc rows")
          check()
        }
        // foreachBatch can deliver an empty batch anywhere — a no-op
        if (rnd.nextInt(3) == 0) {
          ingest(df(Seq.empty), 100L + b)
          check()
        }
      }
    }
  }

  test("hierarchyIngestStream: empty first batch appends nothing (no schema-less poison dir); crash between commit and sink replays exactly once; dangling parent fails loud") {
    import graft.operators.GraphOps
    import graft.streaming.Pipelines.DedupStore
    val store = java.nio.file.Files.createTempDirectory("hiertorn").toString
    val ingest = Pipelines.hierarchyIngestStream(store, buckets = 8)()
    def df(rows: Seq[(Long, Option[Long], Long)]) =
      rows.toDF("id", "parent", "value")
    def aggNow(): Map[Long, (Long, Long)] =
      Pipelines.hierStoreAggregates(spark, store)
        .as[(Long, Long, Long)].collect()
        .map { case (i, n, s) => i -> (n, s) }.toMap
    def batchAgg(nodes: Seq[(Long, Option[Long], Long)]): Map[Long, (Long, Long)] =
      GraphOps.subtreeAggregate(nodes.toDF("id", "parent", "value"))
        .select(col("id"), col("n_subtree"), col("subtree_sum"))
        .as[(Long, Long, Long)].collect()
        .map { case (i, n, s) => i -> (n, s) }.toMap
    def famCount(fam: String): Long =
      spark.read.parquet(s"$store/log/data")
        .where(col("fam") === fam).count()
    // EMPTY first micro-batch: nothing may be appended — a zero-row
    // append to a fresh store would leave a schema-less data dir that
    // poisons every later read
    ingest(df(Seq.empty), 0L)
    assert(!DedupStore.hasData(spark, s"$store/log"))
    assert(!new java.io.File(s"$store/log/data").exists(),
      "empty batch must not create the log data dir at all")
    // the store still works after the empty batch
    val t0: Seq[(Long, Option[Long], Long)] = Seq(
      (0L, None, 10L), (1L, Some(0L), 1L), (2L, Some(0L), 2L),
      (3L, Some(1L), 3L), (4L, Some(1L), 4L), (5L, Some(3L), 5L))
    ingest(df(t0), 1L)
    assert(aggNow() === batchAgg(t0))
    // an empty MID-stream batch is also a no-op
    val accRows0 = famCount("a")
    ingest(df(Seq.empty), 2L)
    assert(famCount("a") === accRows0)
    assert(aggNow() === batchAgg(t0))
    // CRASH BETWEEN COMMIT AND SINK: the batch's single commit landed
    // (both row families — the inter-append torn window no longer
    // exists) but the process died before sink() ran. Simulate by
    // hand-committing exactly what batch 3 (node 4's value 4→7,
    // Δ=+3 along 4,1,0) would write, with no sink call.
    val committed = Seq(
      (4L, Option(1L), Option(7L), Option.empty[Long], Option.empty[Long], "n"),
      (4L, Option.empty[Long], Option.empty[Long], Option(1L), Option(7L), "a"),
      (1L, Option.empty[Long], Option.empty[Long], Option(4L), Option(16L), "a"),
      (0L, Option.empty[Long], Option.empty[Long], Option(6L), Option(28L), "a"))
      .toDF("id", "parent", "value", "n_subtree", "subtree_sum", "fam")
      .withColumn("pb", DedupStore.bucketOf(col("id"), 8))
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(3L))
    committed.repartition(col("pb")).write.mode("append")
      .partitionBy("fam", "pb").parquet(s"$store/log/data")
    val accRowsCommitted = famCount("a")
    assert(accRowsCommitted === accRows0 + 3)
    // the at-least-once replay of batch 3: must DETECT the committed
    // batch (skip derivation — the deltas would apply twice), append
    // nothing, and re-emit the RECOVERED acc rows to the sink — the
    // first attempt crashed before sink() ever ran, so an empty
    // replay frame would drop the batch's change-feed output forever
    val recSunk =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ingestT = Pipelines.hierarchyIngestStream(store, buckets = 8)(
      out => recSunk ++= out.as[(Long, Long, Long)].collect())
    ingestT(df(Seq((4L, Some(1L), 7L))), 3L)
    assert(famCount("a") === accRowsCommitted,
      "replay of a committed batch must not re-derive deltas " +
        "(they would apply twice)")
    assert(recSunk.sortBy(_._1) ===
      Seq((0L, 6L, 28L), (1L, 4L, 16L), (4L, 1L, 7L)),
      "replay must sink the recovered rows, not an empty frame")
    val t1 = t0.map { case (4L, p, _) => (4L, p, 7L); case r => r }
    assert(aggNow() === batchAgg(t1))
    // node 4's latest stored value is 7 (the committed event row)
    val n4 = spark.read.parquet(s"$store/log/data")
      .where(col("fam") === "n" && col("id") === 4L)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct(col("batch_id"), col("value"))))
      .head().getStruct(0)
    assert(n4.getLong(0) === 3L && n4.getLong(1) === 7L)
    // a LATER batch folds correctly on top of the recovered store
    ingest(df(Seq((2L, Some(0L), 20L))), 4L)
    val t2 = t1.map { case (2L, p, _) => (2L, p, 20L); case r => r }
    assert(aggNow() === batchAgg(t2))
    // DANGLING parent: fails loud (no phantom acc row), nothing appended
    val accRows2 = famCount("a")
    val e = intercept[Exception] {
      ingest(df(Seq((9L, Some(99L), 1L))), 5L)
    }
    assert(e.getMessage.contains("dangling parent id") ||
      e.getCause != null && e.getCause.getMessage.contains("dangling parent id"),
      s"got: ${e.getMessage}")
    assert(famCount("a") === accRows2,
      "failed batch must append nothing")
    assert(aggNow() === batchAgg(t2))
    // dangling parent on a FRESH store (first batch) also fails loud
    val store2 = java.nio.file.Files.createTempDirectory("hierdangle").toString
    val ingestF = Pipelines.hierarchyIngestStream(store2, buckets = 8)()
    intercept[Exception] {
      ingestF(df(Seq((1L, Some(5L), 1L))), 0L)
    }
    assert(!DedupStore.hasData(spark, s"$store2/log"))
  }

  test("hierCompactIfNeeded: healthy store is a byte-level no-op; past threshold retires superseded versions with bit-identical read-out; auto-wired into ingestion") {
    import graft.operators.GraphOps
    val store = java.nio.file.Files.createTempDirectory("hierauto").toString
    // threshold high enough that nothing triggers during ingestion
    val ingest = Pipelines.hierarchyIngestStream(store, buckets = 4,
      autoCompactFilesPerDir = 100)()
    def df(rows: Seq[(Long, Option[Long], Long)]) =
      rows.toDF("id", "parent", "value")
    def aggNow(): Map[Long, (Long, Long)] =
      Pipelines.hierStoreAggregates(spark, store)
        .as[(Long, Long, Long)].collect()
        .map { case (i, n, s) => i -> (n, s) }.toMap
    val t0: Seq[(Long, Option[Long], Long)] = Seq(
      (0L, None, 10L), (1L, Some(0L), 1L), (2L, Some(0L), 2L),
      (3L, Some(1L), 3L))
    ingest(df(t0), 0L)
    // churn the same node repeatedly — superseded versions pile up
    for (b <- 1 to 5)
      ingest(df(Seq((3L, Some(1L), 3L + b))), b.toLong)
    val before = aggNow()
    def fileCensus(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(store))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    // healthy: below threshold → no-op, not a single file touched
    val census0 = fileCensus()
    def policy(maxFilesPerDir: Int) = Pipelines.compactStoreIfNeeded(spark,
      s"$store/log/data", maxFilesPerDir)(Pipelines.hierCompact(spark, store))
    val noop = policy(maxFilesPerDir = 100)
    assert(!noop.compacted && noop.result === None)
    assert(fileCensus() === census0, "no-op path must touch no file")
    // past threshold: retirement, read-out bit-identical
    val did = policy(maxFilesPerDir = 1)
    assert(did.compacted && did.result.get._2 >= 1L)
    assert(aggNow() === before)
    assert(spark.read.parquet(s"$store/log/data")
      .where(col("fam") === "a").count() === 4L)
    // AUTO wiring: a tight threshold keeps the store compacted as it
    // ingests — after the final batch the store holds exactly one row
    // per live id in both families
    val store2 = java.nio.file.Files.createTempDirectory("hierauto2").toString
    val ingest2 = Pipelines.hierarchyIngestStream(store2, buckets = 4,
      autoCompactFilesPerDir = 1)()
    ingest2(df(t0), 0L)
    var model = t0
    for (b <- 1 to 4) {
      ingest2(df(Seq((3L, Some(1L), 30L + b))), b.toLong)
      model = model.map { case (3L, p, _) => (3L, p, 30L + b); case r => r }
    }
    val expect = GraphOps.subtreeAggregate(df(model))
      .select(col("id"), col("n_subtree"), col("subtree_sum"))
      .as[(Long, Long, Long)].collect()
      .map { case (i, n, s) => i -> (n, s) }.toMap
    assert(Pipelines.hierStoreAggregates(spark, store2)
      .as[(Long, Long, Long)].collect()
      .map { case (i, n, s) => i -> (n, s) }.toMap === expect)
    def fam2Count(fam: String): Long =
      spark.read.parquet(s"$store2/log/data")
        .where(col("fam") === fam).count()
    assert(fam2Count("a") === 4L,
      "auto-compaction must keep exactly one live acc row per id")
    assert(fam2Count("n") === 4L)
    // replay of the final batch is still absorbed post-auto-compaction
    val accRows = fam2Count("a")
    ingest2(df(Seq((3L, Some(1L), 34L))), 4L)
    assert(fam2Count("a") === accRows)
  }

  test("PitEnricher: time-aligned streamed enrichment ≡ batch point-in-time join") {
    def d(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val store = java.nio.file.Files.createTempDirectory("pitenrich").toString
    val enr = Pipelines.PitEnricher(store, Seq("seg"), buckets = 4)
    // dim stream: key 1 changes A→B at Feb; key 2 stays X throughout
    val dim1 = Seq((1L, d("2020-01-01"), "A"), (2L, d("2020-01-01"), "X"))
    val dim2 = Seq((1L, d("2020-02-01"), "B"), (2L, d("2020-02-01"), "X"))
    // fact stream, time-aligned: batch 1 strictly before the second
    // dim snapshot, batch 2 from it onward; one pre-history fact
    val f1 = Seq((1L, d("2019-12-25"), 5.0), (1L, d("2020-01-10"), 10.0),
      (2L, d("2020-01-20"), 20.0))
    val f2 = Seq((1L, d("2020-02-10"), 30.0), (2L, d("2020-03-01"), 40.0))
    def facts(rows: Seq[(Long, Timestamp, Double)]) =
      rows.toDF("ck", "ts", "amt")
    enr.ingestDim(dim1.toDF("k", "snap_ts", "seg"), 0L)
    val e1 = enr.enrich(facts(f1), "ck", "ts").localCheckpoint(true)
    enr.ingestDim(dim2.toDF("k", "snap_ts", "seg"), 1L)
    val e2 = enr.enrich(facts(f2), "ck", "ts").localCheckpoint(true)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("ck"), col("ts"), col("amt"), col("seg"))
        .as[(Long, Timestamp, Double, Option[String])]
        .collect().sortBy(r => (r._1, r._2.getTime)).toSeq
    // batch equivalent: PIT join of ALL facts against the FULL history
    val batch = graft.operators.Scd.pointInTimeJoin(
      facts(f1 ++ f2),
      graft.operators.Scd.scd2Build(
        (dim1 ++ dim2).toDF("k", "snap_ts", "seg"),
        "k", "snap_ts", Seq("seg")),
      "ck", "k", "ts", Seq("seg"))
    assert(canon(e1.unionByName(e2)) === canon(batch))
    // the pre-history fact carries no segment in both worlds
    assert(canon(e1).head._4 === None)
    // key 1's post-change fact sees B, its pre-change fact sees A
    assert(canon(e1.unionByName(e2)).filter(_._1 == 1L).flatMap(_._4)
      === Seq("A", "B"))
  }

  test("PitEnricher: a fact running ahead of the dim stream reads the older state (documented contract)") {
    def d(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val store = java.nio.file.Files.createTempDirectory("pitahead").toString
    val enr = Pipelines.PitEnricher(store, Seq("seg"), buckets = 4)
    enr.ingestDim(Seq((1L, d("2020-01-01"), "A"))
      .toDF("k", "snap_ts", "seg"), 0L)
    // MISALIGNED: this fact's ts is AFTER a dim change that has not
    // streamed in yet — it reads A (the state as known), which is the
    // documented dim-first/time-aligned delivery contract, not a bug
    val early = enr.enrich(
      Seq((1L, d("2020-03-01"), 1.0)).toDF("ck", "ts", "amt"), "ck", "ts")
      .select("seg").as[String].collect()
    assert(early.toSeq === Seq("A"))
    enr.ingestDim(Seq((1L, d("2020-02-01"), "B"))
      .toDF("k", "snap_ts", "seg"), 1L)
    // the same fact enriched AFTER the change arrives reads B — and a
    // batch PIT join over the full history agrees with the late read,
    // which is why the alignment precondition matters
    val late = enr.enrich(
      Seq((1L, d("2020-03-01"), 1.0)).toDF("ck", "ts", "amt"), "ck", "ts")
      .select("seg").as[String].collect()
    assert(late.toSeq === Seq("B"))
    // bitemporal replay: as-of knowledge batch 0 the change to B is
    // invisible — the early read is REPRODUCIBLE after the fact
    val replay = enr.enrichAsOfBatch(
      Seq((1L, d("2020-03-01"), 1.0)).toDF("ck", "ts", "amt"),
      "ck", "ts", asOfBatch = 0L)
      .select("seg").as[String].collect()
    assert(replay.toSeq === Seq("A"))
  }

  test("PitEnricher: the enrich-side store read partition-prunes to the fact batch's buckets") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def d(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val store = java.nio.file.Files.createTempDirectory("pitprune").toString
    val enr = Pipelines.PitEnricher(store, Seq("seg"), buckets = 64)
    // many keys spread over the buckets, two snapshot generations each
    // (so the store carries HISTORY, the thing the read must not pay
    // for wholesale)
    enr.ingestDim((1L to 400L).map(k => (k, d("2020-01-01"), s"s$k"))
      .toDF("k", "snap_ts", "seg"), 0L)
    enr.ingestDim((1L to 400L).map(k => (k, d("2020-02-01"), s"t$k"))
      .toDF("k", "snap_ts", "seg"), 1L)
    val dirs = new java.io.File(s"$store/data")
      .listFiles().count(_.getName.startsWith("pb="))
    assert(dirs > 16, s"store must spread over many bucket dirs, got $dirs")
    // a 2-key fact batch touches ≤2 buckets → the store scan must
    // prune to them (the DedupStore convention, plan-asserted)
    val facts = Seq((7L, d("2020-03-01"), 1.0), (9L, d("2020-01-15"), 2.0))
      .toDF("ck", "ts", "amt")
    val out = enr.enrich(facts, "ck", "ts")
    val plan = out.queryExecution.sparkPlan
    val storeScans = plan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("pitprune")) => f
    }
    assert(storeScans.nonEmpty, s"store scan must appear in the plan:\n$plan")
    assert(storeScans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "pb"))),
      s"store scan must carry a pb partition filter:\n$plan")
    assert(storeScans.forall(_.selectedPartitions.partitionCount <= 2),
      s"expected ≤2 pruned partitions, got " +
        storeScans.map(_.selectedPartitions.partitionCount).mkString(","))
    // semantics unchanged: each fact reads its as-of interval
    val got = out.select(col("ck"), col("seg")).as[(Long, String)]
      .collect().toMap
    assert(got === Map(7L -> "t7", 9L -> "s9"))
  }

  test("PitEnricher: against a store with no change rows, facts enrich to null attributes like a point-in-time join against an empty dim") {
    def d(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val emptyDim = Seq.empty[(Long, Timestamp, String)].toDF("k", "snap_ts", "seg")
    val facts = Seq((1L, d("2020-01-10"), 10.0), (2L, d("2020-02-01"), 20.0))
      .toDF("ck", "ts", "amt")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("ck"), col("ts"), col("amt"), col("seg"))
        .as[(Long, Timestamp, Double, Option[String])]
        .collect().sortBy(_._1).toSeq
    val batch = canon(graft.operators.Scd.pointInTimeJoin(facts,
      graft.operators.Scd.scd2Build(emptyDim, "k", "snap_ts", Seq("seg")),
      "ck", "k", "ts", Seq("seg")))
    assert(batch.map(_._4) === Seq(None, None))
    // an empty first dim batch appends nothing: the store has its config
    // but no data dir yet
    val enr = Pipelines.PitEnricher(
      java.nio.file.Files.createTempDirectory("pitempty").toString, Seq("seg"))
    enr.ingestDim(emptyDim, 0L)
    assert(canon(enr.enrich(facts, "ck", "ts")) === batch)
    // and before any dim batch at all (no config either)
    val fresh = Pipelines.PitEnricher(
      java.nio.file.Files.createTempDirectory("pitnone").toString, Seq("seg"))
    assert(canon(fresh.enrich(facts, "ck", "ts")) === batch)
  }

  /** (name, type) of each column: the shape a read-out promises. */
  private def shape(df: org.apache.spark.sql.DataFrame) =
    df.schema.map(f => f.name -> f.dataType)

  /** An scd2 store whose first micro-batch was empty, its ingest, and
    * one non-empty dim batch for it. */
  private def scd2AfterEmptyBatch() = {
    val store = java.nio.file.Files.createTempDirectory("scdempty").toString
    val ingest = Pipelines.scd2IngestStream("k", "snap_ts", Seq("seg"), store,
      buckets = 8)()
    val dim = Seq((1L, ts(0), "a"), (2L, ts(1), "b")).toDF("k", "snap_ts", "seg")
    ingest(dim.limit(0), 0L)
    (store, ingest, dim)
  }

  test("scd2StoreIntervals after an empty first micro-batch: empty, with the schema a non-empty store reads back") {
    val (store, ingest, dim) = scd2AfterEmptyBatch()
    val empty = Pipelines.scd2StoreIntervals(spark, store, Seq("seg"))
    assert(empty.count() === 0L)
    ingest(dim, 1L)
    val full = Pipelines.scd2StoreIntervals(spark, store, Seq("seg"))
    assert(full.count() === 2L)
    assert(shape(empty) === shape(full))
  }

  test("scd2StoreIntervalsAsOf after an empty first micro-batch: empty, with the schema a non-empty store reads back") {
    val (store, ingest, dim) = scd2AfterEmptyBatch()
    val empty = Pipelines.scd2StoreIntervalsAsOf(spark, store, Seq("seg"), 0L)
    assert(empty.count() === 0L)
    ingest(dim, 1L)
    assert(Pipelines.scd2StoreIntervalsAsOf(spark, store, Seq("seg"), 0L)
      .count() === 0L, "batch 1's changes are invisible as of batch 0")
    val full = Pipelines.scd2StoreIntervalsAsOf(spark, store, Seq("seg"), 1L)
    assert(full.count() === 2L)
    assert(shape(empty) === shape(full))
  }

  test("hierStoreAggregates after an empty first micro-batch: empty, with the schema a non-empty store reads back") {
    val store = java.nio.file.Files.createTempDirectory("hierempty").toString
    val ingest = Pipelines.hierarchyIngestStream(store, buckets = 8)()
    val nodes = Seq((1L, Option.empty[Long], 5L), (2L, Some(1L), 7L))
      .toDF("id", "parent", "value")
    ingest(nodes.limit(0), 0L)
    val empty = Pipelines.hierStoreAggregates(spark, store)
    assert(empty.count() === 0L)
    ingest(nodes, 1L)
    val full = Pipelines.hierStoreAggregates(spark, store)
    assert(full.as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 2L, 12L), (2L, 1L, 7L)))
    assert(shape(empty) === shape(full))
  }

  test("clusterStoreReps after an empty first micro-batch: empty, with the schema a non-empty store reads back") {
    val store = java.nio.file.Files.createTempDirectory("clstempty").toString
    val ingest = Pipelines.clusterIngestStream(store, buckets = 8)()
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    ingest(pairs.limit(0), 0L)
    val empty = Pipelines.clusterStoreReps(spark, store)
    assert(empty.count() === 0L)
    ingest(pairs, 1L)
    val full = Pipelines.clusterStoreReps(spark, store)
    assert(full.as[(Long, Long)].collect().toSet ===
      Set((1L, 1L), (2L, 1L), (3L, 1L)))
    assert(shape(empty) === shape(full))
  }

  test("splitAgainstStore: reads the store's pinned bucket count, not a default of its own") {
    import graft.operators.{Dedup, Sampling}
    val store = java.nio.file.Files.createTempDirectory("splpinned").toString
    val pairs = (0L until 40L).map(i => (2 * i, 2 * i + 1))
    Pipelines.clusterIngestStream(store, buckets = 16)()(
      pairs.toDF("id_a", "id_b"), 0L)
    val docs = (0L until 80L).map(Tuple1(_)).toDF("doc_id")
    def canon(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String)] =
      df.select(col("doc_id"), col("cluster_rep"), col("split"))
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val streamed = canon(
      Pipelines.splitAgainstStore(spark, store, docs, "doc_id", 50))
    val batch = canon(Sampling.groupTrainTestSplit(
      docs.join(Dedup.dupClusters(docs, "doc_id", pairs.toDF("id_a", "id_b")),
        Seq("doc_id")),
      "cluster_rep", "doc_id", 50))
    assert(streamed === batch)
    // every odd doc is clustered with its even partner
    assert(streamed.count { case (id, (rep, _)) => rep != id } === 40)
  }

  test("splitAgainstStore: streamed ≡ batch groupTrainTestSplit at every boundary; cross-batch consistency; merge restatement; replay idempotent") {
    import graft.operators.{Dedup, Sampling}
    val store = java.nio.file.Files.createTempDirectory("splstore").toString
    val ingest = Pipelines.clusterIngestStream(store, buckets = 8)()
    val docs = (0L to 9L).map(Tuple1(_)).toDF("doc_id")
    val Pct = 50
    def streamed(): Map[Long, (Long, String)] =
      Pipelines.splitAgainstStore(spark, store, docs, "doc_id", Pct)
        .select(col("doc_id"), col("cluster_rep"), col("split"))
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    def batch(allPairs: Seq[(Long, Long)]): Map[Long, (Long, String)] =
      Sampling.groupTrainTestSplit(
        docs.join(Dedup.dupClusters(docs, "doc_id",
          allPairs.toDF("id_a", "id_b")), Seq("doc_id")),
        "cluster_rep", "doc_id", Pct)
        .select(col("doc_id"), col("cluster_rep"), col("split"))
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // empty store: every doc is its own group (the batch null-group
    // rule), streamed ≡ batch over zero edges
    assert(streamed() === batch(Seq.empty))
    // both splits actually occur at 50% on these ids (fixture sanity)
    assert(streamed().values.map(_._2).toSet === Set("train", "test"))
    // batch 1: cluster {1,2}
    val b1 = Seq((1L, 2L))
    ingest(b1.toDF("id_a", "id_b"), 0L)
    assert(streamed() === batch(b1))
    // CROSS-BATCH CONSISTENCY: doc 3 joins the cluster a batch later
    // and must land in the EARLIER members' split (rep stays 1)
    val b2 = Seq((2L, 3L), (5L, 6L))
    ingest(b2.toDF("id_a", "id_b"), 1L)
    val s2 = streamed()
    assert(s2(3L) === s2(1L) && s2(3L) === s2(2L))
    assert(s2 === batch(b1 ++ b2))
    // MERGE RESTATEMENT: edge (0,1) merges {0} into {1,2,3} and the
    // new rep 0 restates the whole cluster to 0's split — exactly
    // what re-running the batch split does; no cluster straddles
    val b3 = Seq((0L, 1L))
    ingest(b3.toDF("id_a", "id_b"), 2L)
    val s3 = streamed()
    assert(s3 === batch(b1 ++ b2 ++ b3))
    assert(Seq(0L, 1L, 2L, 3L).map(s3(_)).toSet.size === 1,
      "merged cluster must not straddle the split")
    // REPLAY IDEMPOTENCE: redelivering batch 2 changes nothing
    ingest(b2.toDF("id_a", "id_b"), 1L)
    assert(streamed() === s3)
  }

  test("clusterIngestStream: distributed-CC fallback path ≡ driver union-find path") {
    // driverCcMaxEdges = 0 forces every batch through the distributed
    // edge-rewiring CC — the 100 TB path must produce bit-identical
    // stores to the small-batch driver path the default takes
    val stores = Seq(0, 100000).map { cutoff =>
      val store = java.nio.file.Files
        .createTempDirectory(s"clpath$cutoff").toString
      val ingest = Pipelines.clusterIngestStream(store,
        driverCcMaxEdges = cutoff)()
      ingest(Seq((2L, 1L), (4L, 5L)).toDF("id_a", "id_b"), 0L)
      ingest(Seq((2L, 4L), (9L, 8L)).toDF("id_a", "id_b"), 1L)
      ingest(Seq((0L, 5L), (7L, 9L)).toDF("id_a", "id_b"), 2L)
      // replay-idempotence must hold on BOTH CC paths: redelivered
      // edges collapse to supernode self-loops and append nothing
      val before = spark.read.parquet(s"$store/members/data").count()
      ingest(Seq((2L, 4L), (9L, 8L)).toDF("id_a", "id_b"), 1L)
      assert(spark.read.parquet(s"$store/members/data").count() === before,
        s"replay appended members on cutoff=$cutoff path")
      Pipelines.clusterStoreReps(spark, store)
        .as[(Long, Long)].collect().toMap
    }
    assert(stores(0) === stores(1))
    assert(stores(0).values.toSet === Set(0L, 7L))

    // string ids with SUPPLEMENTARY-PLANE characters: Java's
    // String.compareTo (UTF-16 code units) ranks U+FFFF above a
    // surrogate pair while Spark's min() (UTF-8 bytes) ranks it below
    // — the driver union-find must match the distributed minimum, so
    // the two paths' stores must still be bit-identical here
    val smiley = "\ud83d\ude00" // U+1F600, UTF-8 F0 9F 98 80
    val ffff = "\uffff"           // UTF-8 EF BF BF — the true UTF-8 min
    val sStores = Seq(0, 100000).map { cutoff =>
      val store = java.nio.file.Files
        .createTempDirectory(s"clutf$cutoff").toString
      val ingest = Pipelines.clusterIngestStream(store,
        driverCcMaxEdges = cutoff)()
      ingest(Seq((smiley, ffff), ("aa", "bb")).toDF("id_a", "id_b"), 0L)
      Pipelines.clusterStoreReps(spark, store)
        .as[(String, String)].collect().toMap
    }
    assert(sStores(0) === sStores(1))
    // the exotic component's rep is the UTF-8 minimum (U+FFFF), which
    // UTF-16 code-unit comparison would have ranked ABOVE the smiley
    assert(sStores(0).values.toSet === Set(ffff, "aa"))
    assert(sStores(0)(smiley) === ffff)
  }

  test("weightedSampleAgainstStore: a crash between the swap renames recovers the reservoir") {
    import graft.operators.Sampling
    val store = java.nio.file.Files.createTempDirectory("wrescrash").toString
    val k = 3
    var reservoir: Seq[(String, Long, Int)] = Nil
    def body = Pipelines.weightedSampleAgainstStore(
        "item_id", "w", "src", store, k) { r =>
      reservoir = r.select(col("stratum"), col("id"), col("rn"))
        .as[(String, Long, Int)].collect().toSeq.sortBy(x => (x._1, x._3))
    }
    def expected(rows: Seq[(Long, Double, String)]): Seq[(String, Long, Int)] =
      rows.map(_._3).distinct.sorted.flatMap { s =>
        Sampling.weightedTopKSample(
            rows.filter(_._3 == s).toDF("item_id", "w", "src"),
            "item_id", "w", k)
          .select(col("item_id").cast("long"), col("rn"))
          .as[(Long, Int)].collect().toSeq.sortBy(_._2)
          .map { case (i, rn) => (s, i, rn) }
      }
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$store/$s")
    val b1 = Seq((1L, 1.0, "a"), (2L, 5.0, "a"), (3L, 0.5, "a"),
      (4L, 2.0, "a"))
    body(b1.toDF("item_id", "w", "src"), 0L)
    // crash window A: live moved aside, replacement not yet promoted,
    // only `_old` survives — the old code's delete-asides-first would
    // silently restart from empty here
    assert(fs.rename(p("reservoir"), p("reservoir_old")))
    val b2 = Seq((5L, 9.0, "a"), (6L, 0.1, "a"))
    body(b2.toDF("item_id", "w", "src"), 1L)
    assert(reservoir === expected(b1 ++ b2),
      "recovery from reservoir_old must keep pre-crash history")
    // crash window B: the complete `_next` survives instead (newer copy
    // preferred; re-merging the replayed batch is idempotent)
    assert(fs.rename(p("reservoir"), p("reservoir_next")))
    body(b2.toDF("item_id", "w", "src"), 1L)
    assert(reservoir === expected(b1 ++ b2),
      "recovery from reservoir_next must keep pre-crash history")
  }

  test("swapStore: a promotion that finds no replacement leaves the pre-swap copy for the next open") {
    val store = java.nio.file.Files.createTempDirectory("swapfail").toString
    Pipelines.dedupAgainstStore("text", store, 8) { _ => () }(
      Seq((1L, "alpha one"), (2L, "beta two")).toDF("doc_id", "text"), 0L)
    val data = s"$store/data"
    def fingerprints(): Seq[String] = Pipelines.readStore(spark, data)
      .select("fingerprint").as[String].collect().sorted.toSeq
    val before = fingerprints()
    // the replacement never lands at the aside, so the swap fails
    // between its two renames (the local FS throws on renaming a
    // missing dir; others return false and the swap's `require` throws)
    intercept[Exception] {
      Pipelines.swapStore(spark, data)(_ => ())
    }
    assert(fingerprints() === before, "a failed promotion must keep a complete copy")
  }

  test("torn swap, every store family: the next batch and a retried compaction see the full history") {
    import org.apache.hadoop.fs.Path
    // one row per family: its three micro-batches (each returns what
    // the batch emitted), its compaction, its read-out, and the live
    // dirs its swap replaces
    final case class Family(name: String, live: Seq[String],
                            ingest: (String, Int) => Seq[String],
                            compact: String => Unit,
                            readOut: String => Seq[String])
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def collecting(run: (org.apache.spark.sql.DataFrame => Unit) => Unit)
        : Seq[String] = {
      var out = Seq.empty[String]
      run(df => out = rows(df))
      out
    }
    val docs = Seq(Seq((1L, "alpha one"), (2L, "beta two")),
      Seq((3L, "gamma three"), (4L, "alpha one")),
      Seq((5L, "beta two"), (6L, "delta four")))
    val nodes: Seq[Seq[(Long, Option[Long], Long)]] = Seq(
      Seq((1L, None, 10L), (2L, Some(1L), 5L)),
      Seq((3L, Some(2L), 7L), (2L, Some(1L), 6L)),
      Seq((4L, Some(3L), 1L)))
    val edges = Seq(Seq((1L, 2L), (3L, 4L)), Seq((2L, 3L)),
      Seq((4L, 5L), (6L, 7L)))
    val families = Seq(
      Family("dedup", Seq("data"),
        (s, b) => collecting(sink => Pipelines.dedupAgainstStore("text", s, 8) {
          f => sink(f.select("doc_id")) }(docs(b).toDF("doc_id", "text"), b.toLong)),
        s => Pipelines.compactStore(spark, s),
        s => rows(Pipelines.readStore(spark, s"$s/data").select("fingerprint"))),
      Family("hierarchy", Seq("log/data"),
        (s, b) => collecting(sink => Pipelines.hierarchyIngestStream(s,
          buckets = 8, autoCompactFilesPerDir = 0)(sink)(
          nodes(b).toDF("id", "parent", "value"), b.toLong)),
        s => Pipelines.hierCompact(spark, s),
        s => rows(Pipelines.hierStoreAggregates(spark, s))),
      Family("cluster", Seq("members/data"),
        (s, b) => collecting(sink => Pipelines.clusterIngestStream(s,
          buckets = 8, autoCompactMergeFiles = 0)(sink)(
          edges(b).toDF("id_a", "id_b"), b.toLong)),
        s => Pipelines.clusterCompact(spark, s),
        s => rows(Pipelines.clusterStoreReps(spark, s))))
    val conf = spark.sessionState.newHadoopConf()
    families.foreach { f =>
      val base = java.nio.file.Files.createTempDirectory(s"torn-${f.name}").toString
      f.ingest(base, 0); f.ingest(base, 1); f.compact(base)
      val pre = f.readOut(base)
      val fs = new Path(base).getFileSystem(conf)
      def copyOf(suffix: String): String = {
        assert(org.apache.hadoop.fs.FileUtil.copy(fs, new Path(base),
          fs, new Path(base + suffix), false, conf))
        base + suffix
      }
      // the uncrashed twin: its batch-2 output and read-out are the
      // pre-crash state plus the new batch
      val twin = copyOf("-twin")
      val emitted = f.ingest(twin, 2)
      val post = f.readOut(twin)
      assert(post !== pre, s"${f.name}: batch 2 must change the read-out")
      Seq("_old", "_compacting").foreach { window =>
        val tag = s"${f.name}, only $window survives"
        val s = copyOf(s"-torn$window")
        // a crash between the swap's two renames, with one copy left
        def tear(): Unit = f.live.foreach { d =>
          assert(fs.rename(new Path(s"$s/$d"), new Path(s"$s/$d$window")), tag)
        }
        // a reader that comes first heals the store before any write
        tear()
        assert(f.readOut(s) === pre, s"$tag: read-out before any write lost history")
        tear()
        assert(f.ingest(s, 2) === emitted,
          s"$tag: the next batch re-emitted already-ingested rows")
        assert(f.readOut(s) === post, s"$tag: read-out lost pre-crash history")
        tear()
        f.compact(s)
        assert(f.readOut(s) === post, s"$tag: retried compaction lost history")
        f.live.foreach { d =>
          Seq("_old", "_compacting").foreach { aside =>
            assert(!fs.exists(new Path(s"$s/$d$aside")), s"$tag: $d$aside left")
          }
        }
      }
    }
  }

  test("scd2IngestStream: equal-timestamp conflicting restatements drop deterministically") {
    def d(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val store = java.nio.file.Files.createTempDirectory("scd2ties").toString
    val ingest = Pipelines.scd2IngestStream("k", "snap_ts", Seq("seg"), store)()
    ingest(Seq((1L, d("2020-01-01"), "A")).toDF("k", "snap_ts", "seg"), 0L)
    // same key, same snap_ts, DIFFERENT attribute: a conflicting
    // restatement — dropped (stored row wins), not double-appended
    ingest(Seq((1L, d("2020-01-01"), "B")).toDF("k", "snap_ts", "seg"), 1L)
    val stored = spark.read.parquet(s"$store/data")
    assert(stored.count() === 1L)
    assert(stored.select("seg").head().getString(0) === "A")
    // within ONE batch: two rows at the same ts with different attrs —
    // exactly one appends, chosen by the deterministic attr-order
    // tie-break (first in (snap_ts, attrs) order wins)
    ingest(Seq((2L, d("2020-02-01"), "D"), (2L, d("2020-02-01"), "C"))
      .toDF("k", "snap_ts", "seg"), 2L)
    val k2 = spark.read.parquet(s"$store/data").where(col("k") === 2L)
    assert(k2.count() === 1L)
    assert(k2.select("seg").head().getString(0) === "C")
    // intervals stay unambiguous: one row per (k, valid_from), no
    // zero-length intervals
    val iv = Pipelines.scd2StoreIntervals(spark, store, Seq("seg"))
    assert(iv.count() === 2L)
    assert(iv.where(col("valid_to") <=> col("valid_from")).isEmpty)
  }

  test("scd2IngestStream: dropped conflict does not poison later rows' change lag") {
    def d(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val store = java.nio.file.Files.createTempDirectory("scd2chain").toString
    val ingest = Pipelines.scd2IngestStream("k", "snap_ts", Seq("seg"), store)()
    ingest(Seq((1L, d("2020-01-01"), "A"), (2L, d("2020-01-01"), "X"))
      .toDF("k", "snap_ts", "seg"), 0L)
    // ONE batch per key: a conflicting restatement at the stored ts
    // (dropped) followed by a later row. Key 1's later row restates the
    // DROPPED attrs — a real change vs stored state A, must append.
    // Key 2's later row restates the CURRENT attrs — no change, must
    // not append. Lagging over the dropped rows inverts both.
    ingest(Seq(
      (1L, d("2020-01-01"), "B"), (1L, d("2020-02-01"), "B"),
      (2L, d("2020-01-01"), "Y"), (2L, d("2020-02-01"), "X"))
      .toDF("k", "snap_ts", "seg"), 1L)
    val stored = spark.read.parquet(s"$store/data")
      .select("k", "snap_ts", "seg")
      .as[(Long, Timestamp, String)].collect().sortBy(r => (r._1, r._2.getTime))
    assert(stored.toSeq === Seq(
      (1L, d("2020-01-01"), "A"), (1L, d("2020-02-01"), "B"),
      (2L, d("2020-01-01"), "X")))
    // streamed ≡ batch scd2Build over the KEPT history
    val history = Seq(
      (1L, d("2020-01-01"), "A"), (1L, d("2020-02-01"), "B"),
      (2L, d("2020-01-01"), "X"), (2L, d("2020-02-01"), "X"))
      .toDF("k", "snap_ts", "seg")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "seg", "valid_from", "valid_to")
        .as[(Long, String, Timestamp, Option[Timestamp])]
        .collect().sortBy(r => (r._1, r._3.getTime)).toSeq
    assert(canon(Pipelines.scd2StoreIntervals(spark, store, Seq("seg"))) ===
      canon(graft.operators.Scd.scd2Build(history, "k", "snap_ts", Seq("seg"))))
  }

  test("scd2IngestStream: change-only store; streamed ≡ batch scd2Build; replay/late/restart") {
    def d(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val store = java.nio.file.Files.createTempDirectory("scd2store").toString
    val ingest = Pipelines.scd2IngestStream("k", "snap_ts", Seq("seg"), store)()
    // batch 1: both keys appear
    ingest(Seq((1L, d("2020-01-01"), "A"), (2L, d("2020-01-01"), "C"))
      .toDF("k", "snap_ts", "seg"), 0L)
    // batch 2: key 1 changes; key 2 re-snapshots unchanged (absorbed);
    // plus an exact replay of key 1's stored change (absorbed)
    ingest(Seq((1L, d("2020-02-01"), "B"), (2L, d("2020-02-01"), "C"),
      (1L, d("2020-01-01"), "A")).toDF("k", "snap_ts", "seg"), 1L)
    // restart: fresh closure over the same store (checkpointed batch
    // ids continue, per the streaming restart contract)
    val ingest2 = Pipelines.scd2IngestStream("k", "snap_ts", Seq("seg"), store)()
    // batch 3: key 2 changes; key 1 delivers a LATE snapshot → dropped
    ingest2(Seq((2L, d("2020-03-01"), "D"), (1L, d("2020-01-15"), "Z"))
      .toDF("k", "snap_ts", "seg"), 2L)
    // the store holds exactly the four change rows
    val stored = spark.read.parquet(s"$store/data")
    assert(stored.count() === 4L)
    // intervals from the store ≡ batch scd2Build over the kept history
    val history = Seq(
      (1L, d("2020-01-01"), "A"), (1L, d("2020-02-01"), "B"),
      (2L, d("2020-01-01"), "C"), (2L, d("2020-02-01"), "C"),
      (2L, d("2020-03-01"), "D")).toDF("k", "snap_ts", "seg")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "seg", "valid_from", "valid_to")
        .as[(Long, String, Timestamp, Option[Timestamp])]
        .collect().sortBy(r => (r._1, r._3.getTime)).toSeq
    assert(canon(Pipelines.scd2StoreIntervals(spark, store, Seq("seg"))) ===
      canon(graft.operators.Scd.scd2Build(history, "k", "snap_ts", Seq("seg"))))
    // BITEMPORAL: as-of an earlier knowledge batch, later changes are
    // invisible and the intervals equal a build over only that history
    val hist01 = Seq(
      (1L, d("2020-01-01"), "A"), (1L, d("2020-02-01"), "B"),
      (2L, d("2020-01-01"), "C")).toDF("k", "snap_ts", "seg")
    assert(canon(Pipelines.scd2StoreIntervalsAsOf(spark, store, Seq("seg"), 1L))
      === canon(graft.operators.Scd.scd2Build(hist01, "k", "snap_ts",
        Seq("seg"))))
    val hist0 = Seq((1L, d("2020-01-01"), "A"), (2L, d("2020-01-01"), "C"))
      .toDF("k", "snap_ts", "seg")
    assert(canon(Pipelines.scd2StoreIntervalsAsOf(spark, store, Seq("seg"), 0L))
      === canon(graft.operators.Scd.scd2Build(hist0, "k", "snap_ts",
        Seq("seg"))))
  }
}
