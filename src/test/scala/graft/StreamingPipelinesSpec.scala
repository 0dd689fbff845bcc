package graft

import graft.streaming.Pipelines
import graft.streaming.Pipelines.{SessionEvent, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, floor, row_number, sum}
import java.sql.Timestamp

/** Event-time streaming semantics: watermark late-data drop, tumbling
  * windows, stateful sessionization, bounded-state dedup. */
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

  test("flatMapGroupsWithState sessionization closes sessions after the gap") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val sessions = Pipelines.sessionize(in.toDS(), gapMs = 60000L, watermarkDelay = "0 seconds")

    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      val base = ts(0).getTime
      in.addData(SessionEvent(1L, base, 1.0), SessionEvent(1L, base + 10000, 2.0))
      q.processAllAvailable()
      // 10 minutes later: closes user 1's first session via timeout/new data
      in.addData(SessionEvent(1L, base + 600000, 5.0))
      q.processAllAvailable()
      in.addData(SessionEvent(1L, base + 1800000, 7.0))
      q.processAllAvailable()
      val out = spark.sql("SELECT user_id, n_events, value_sum FROM sess_out ORDER BY start_ms")
        .as[(Long, Int, Double)].collect().toSeq
      assert(out.nonEmpty)
      assert(out.head === ((1L, 2, 3.0)))
    } finally q.stop()
  }

  test("streaming dedup within watermark emits each key once") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val deduped = Pipelines.streamingDedup(
      in.toDF().toDF("ts", "uid"), "ts", "10 minutes", Seq("uid"))

    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData((ts(0), 1L), (ts(1), 1L), (ts(2), 2L))
      q.processAllAvailable()
      in.addData((ts(3), 1L), (ts(3), 3L))
      q.processAllAvailable()
      val n = spark.sql("SELECT uid FROM dedup_out").as[Long].collect().toSeq
      assert(n.sorted === Seq(1L, 2L, 3L))
    } finally q.stop()
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

  test("nearDupAgainstStore drops near-duplicates across batches, keeps novel docs") {
    implicit val sc = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("lshstore").toFile
    store.delete()
    val base = "the quick brown fox jumps over the lazy dog every single day"
    val nearDup = base + " indeed"              // shingle jaccard 10/11 vs base
    val novel = "completely different material about entirely other topics here now"
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def body = Pipelines.nearDupAgainstStore("doc_id", "text",
        "file:" + store.getAbsolutePath, minEstJaccard = 0.5) { fresh =>
      seen ++= fresh.select("doc_id").as[Long].collect()
    }

    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream.foreachBatch(body).start()
    try {
      in.addData((1L, base), (2L, base))        // in-batch exact dup → keep 1
      q.processAllAvailable()
      assert(seen.sorted === Seq(1L))
      in.addData((3L, nearDup), (4L, novel))    // 3 near-dups stored 1; 4 is new
      q.processAllAvailable()
      assert(seen.sorted === Seq(1L, 4L))
    } finally q.stop()
  }

  test("curateStream redacts, drops low-quality rows, and dedups post-redaction copies") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val good = "the quick brown fox jumps over one lazy dog near the old stone bridge today"
    val curated = Pipelines.curateStream(
      in.toDF().toDF("ts", "id", "text"), "ts", "10 minutes", "text",
      minTokens = 10, minFracDistinct = 0.5)

    val q = curated.writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    try {
      in.addData(
        (ts(0), 1L, s"ping 10.0.0.1 about $good"),
        (ts(1), 2L, "too short"),                      // fails minTokens
        (ts(2), 3L, ("spam " * 20).trim),              // fails distinct fraction
        (ts(3), 4L, s"ping 10.99.4.7 about $good"))    // same text after redaction
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, text FROM curate_out ORDER BY id")
        .as[(Long, String)].collect()
      // low-quality rows gone; the two address-variant copies collapse
      // to one because dedup keys on the POST-redaction fingerprint —
      // and the output's text column IS the redacted form (the raw
      // column must not survive curation)
      assert(rows.map(_._1).toSeq === Seq(1L))
      assert(rows.head._2 === s"ping <ip> about $good")
      assert(spark.table("curate_out").columns.count(_ == "text") === 1)
    } finally q.stop()
  }

  test("qualityMonitorStream: per-(window, source) stats with in-window dup-rate; late rows dropped") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, String)]
    val textA = "the quick brown fox jumps over the lazy dog near a stone bridge"
    val textB = "a completely different document with many unique and varied words inside"
    val mon = Pipelines.qualityMonitorStream(
      in.toDF().toDF("ts", "source", "text"), "ts", delay = "10 minutes",
      textCol = "text", sourceCol = "source", windowDur = "5 minutes")

    val q = mon.writeStream.format("memory").queryName("mon_out")
      .outputMode("append").start()
    try {
      in.addData(
        (ts(0), "web", textA),
        (ts(1), "web", textA),     // exact dup within the window
        (ts(2), "web", textB),
        (ts(3), "books", textB))
      q.processAllAvailable()
      in.addData((ts(40), "web", textA))   // advance watermark, finalize
      q.processAllAvailable()
      in.addData((ts(2), "web", textB))    // late: must NOT change the closed window
      q.processAllAvailable()
      val rows = spark.sql(
          """SELECT source, n_docs, approx_distinct, dup_rate_est
            |FROM mon_out WHERE window_start = '2024-01-01 10:00:00'
            |ORDER BY source""".stripMargin)
        .as[(String, Long, Long, Double)].collect().toSeq
      assert(rows === Seq(
        ("books", 1L, 1L, 0.0),
        ("web", 3L, 2L, round4(1.0 - 2.0 / 3))))
      // quality/token stats exist and are sane
      val stats = spark.sql(
          "SELECT avg_quality, avg_tokens FROM mon_out WHERE source = 'books'")
        .as[(Double, Double)].head()
      assert(stats._1 > 0.0 && stats._1 <= 1.0)
      assert(stats._2 === 11.0)
    } finally q.stop()
  }

  private def round4(d: Double): Double = math.rint(d * 10000) / 10000

  test("ivfIngestStream: streamed index ≡ batch assign; replay absorbed; upsert wins") {
    import graft.operators.Similarity
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf_ingest").toString
    val store = s"$dir/index"
    def vec(xs: Double*) = xs.map(_.toFloat)
    val seed = Seq(
      (100L, vec(1, 0, 0)), (101L, vec(0.9, 0.1, 0)),
      (102L, vec(0, 1, 0)), (103L, vec(0, 0.9, 0.1)),
      (104L, vec(0, 0, 1)), (105L, vec(0.1, 0, 0.9))).toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(seed, "vec_id", "embedding",
      nlist = 3, iters = 3)
    val ingest = Pipelines.ivfIngestStream("vec_id", "embedding",
      centroids, store)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(ingest).start()
    try {
      in.addData((1L, vec(1, 0.1, 0)), (2L, vec(0, 1, 0.1)))
      q.processAllAvailable()
      in.addData((3L, vec(0.1, 0, 1)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Pipelines.ivfStoreRead(spark, store)
      .select("corpus_id", "cid").as[(Long, Int)].collect().toSet
    val direct = Similarity.ivfAssign(
        Seq((1L, vec(1, 0.1, 0)), (2L, vec(0, 1, 0.1)), (3L, vec(0.1, 0, 1)))
          .toDF("vec_id", "embedding"), "vec_id", "embedding", centroids)
      .select("corpus_id", "cid").as[(Long, Int)].collect().toSet
    assert(streamed === direct)
    // at-least-once redelivery: the same rows appended again under a new
    // batch id must not change the reader's output
    ingest(Seq((1L, vec(1, 0.1, 0))).toDF("vec_id", "embedding"), 99L)
    assert(Pipelines.ivfStoreRead(spark, store)
      .select("corpus_id", "cid").as[(Long, Int)].collect().toSet === direct)
    // upsert: a re-ingested id with a NEW vector takes the latest row
    ingest(Seq((1L, vec(0, 1, 0))).toDF("vec_id", "embedding"), 100L)
    val after = Pipelines.ivfStoreRead(spark, store)
    assert(after.count() === 3L)
    val cid1 = after.where(org.apache.spark.sql.functions.col("corpus_id") === 1L)
      .select("cid").as[Int].head()
    val cid2 = after.where(org.apache.spark.sql.functions.col("corpus_id") === 2L)
      .select("cid").as[Int].head()
    assert(cid1 === cid2)  // id 1 now lives in id 2's inverted list
    // the store feeds the standard probe unchanged
    val topk = Similarity.ivfProbe(Pipelines.ivfStoreRead(spark, store),
      centroids, Seq((50L, vec(0, 1, 0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 2, nprobe = 2, excludeSelf = false)
    assert(topk.count() === 2L)
  }

  test("ivf drift metric spikes on a shifted batch; rebuild ≡ from-scratch build bit-identically") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivf_drift").toString
    val store = s"$dir/index"; val metrics = s"$dir/metrics"
    val stats = s"$dir/stats"; val store2 = s"$dir/index_v2"
    def vec(xs: Double*) = xs.map(_.toFloat)
    val seed = Seq(
      (100L, vec(1, 0, 0)), (101L, vec(0.9, 0.1, 0)),
      (102L, vec(0, 1, 0)), (103L, vec(0, 0.9, 0.1)),
      (104L, vec(0, 0, 1)), (105L, vec(0.1, 0, 0.9))).toDF("vec_id", "embedding")
    val cents = Similarity.ivfTrain(seed, "vec_id", "embedding",
      nlist = 3, iters = 3)
    Similarity.ivfStatsSave(seed, "vec_id", "embedding", cents, stats)
    val ingest = Pipelines.ivfIngestStream("vec_id", "embedding", cents,
      store, metricsPath = Some(metrics))
    // batch 0 draws from the trained distribution; batch 1 is SHIFTED
    // far off every centroid — the silent-recall-decay scenario
    ingest(Seq((1L, vec(0.95, 0.05, 0)), (2L, vec(0, 1, 0.05)))
      .toDF("vec_id", "embedding"), 0L)
    ingest(Seq((3L, vec(8, 8, 8)), (4L, vec(9, 7, 8)))
      .toDF("vec_id", "embedding"), 1L)
    import org.apache.spark.sql.functions.col
    val drift = Similarity.ivfDriftReport(spark, metrics, stats)
      .select(col("batch_id"), col("drift_ratio"))
      .as[(Long, Double)].collect().toMap
    assert(drift(0L) < 5.0, s"in-distribution batch must not alarm: $drift")
    assert(drift(1L) > 100.0, s"shifted batch must spike the ratio: $drift")
    // rebuild: a NEW store generation trained on the store's latest
    // vectors must equal a from-scratch build bit-identically
    val cents2 = Pipelines.ivfRebuild(spark, store, store2, nlist = 3, iters = 3)
    val vecs = Pipelines.ivfStoreRead(spark, store)
      .select(col("corpus_id"), col("cv"))
    val refCents = Similarity.ivfTrain(vecs, "corpus_id", "cv", nlist = 3, iters = 3)
    assert(cents2.map { case (c, v) => (c, v.toSeq) }.toSeq ===
      refCents.map { case (c, v) => (c, v.toSeq) }.toSeq)
    val qs = Seq((50L, vec(7.5, 8.2, 8.0))).toDF("vec_id", "embedding")
    def probe(idx: org.apache.spark.sql.DataFrame,
              cs: Array[(Int, Array[Double])]) =
      Similarity.ivfProbe(idx, cs, qs, "vec_id", "embedding",
          k = 2, nprobe = 2, excludeSelf = false)
        .orderBy("rn").collect().toSeq
    assert(probe(Pipelines.ivfStoreRead(spark, store2), cents2) ===
      probe(Similarity.ivfAssign(vecs, "corpus_id", "cv", refCents), refCents))
    // in-place rebuild is refused — readers hold the old generation
    intercept[IllegalArgumentException] {
      Pipelines.ivfRebuild(spark, store, store, nlist = 3)
    }
  }

  test("imageDedupAgainstStore: re-encoded copies suppressed cross-batch; replay absorbed; corrupt passes") {
    import graft.operators.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("img_dedup").toString
    val store = s"$dir/sig_store"
    var emitted = Vector.empty[Long]
    val ingest = Pipelines.imageDedupAgainstStore("id", "blob", store,
      maxHamming = 0) { fresh =>
      emitted ++= fresh.select("id").as[Long].collect().sorted
    }
    def png(seed: Long) = Multimodal.encodePng(20, 16, seed = seed)
    def bmp(seed: Long): Array[Byte] = {
      // same raster as png(seed), different container/bytes
      val img = new java.awt.image.BufferedImage(
        20, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 20)
        img.setRGB(x, y, ((seed + x * 31L + y * 131L) & 0xffffff).toInt)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try javax.imageio.ImageIO.write(img, "bmp", ios) finally ios.close()
      bos.toByteArray
    }
    ingest(Seq((1L, png(1L)), (2L, png(2L))).toDF("id", "blob"), 0L)
    assert(emitted === Vector(1L, 2L))
    // batch 2: id 3 is image 1 RE-ENCODED as BMP (byte-different,
    // pixel-identical → dup), id 4 is new, id 5 is corrupt (passes)
    ingest(Seq((3L, bmp(1L)), (4L, png(4L)),
      (5L, "garbage".getBytes("UTF-8"))).toDF("id", "blob"), 1L)
    assert(emitted === Vector(1L, 2L, 4L, 5L))
    // redelivery of batch 2: every image collides with its own stored
    // signature; the corrupt blob has no signature and passes again
    // (dedup of undecodable bytes is the exact-hash store's job)
    ingest(Seq((3L, bmp(1L)), (4L, png(4L)),
      (5L, "garbage".getBytes("UTF-8"))).toDF("id", "blob"), 2L)
    assert(emitted === Vector(1L, 2L, 4L, 5L, 5L))
    // the store holds signatures only for first-seen DECODABLE images
    val stored = spark.read.parquet(s"$store/data").select("id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(stored === Seq(1L, 2L, 4L))
    // the banding params that shaped the stored keys are pinned: a
    // later run with a different maxHamming would join mismatched band
    // keys and silently miss duplicates, so it must be a hard error
    val err = intercept[IllegalArgumentException] {
      Pipelines.imageDedupAgainstStore("id", "blob", store,
        maxHamming = 2) { _ => () }(Seq((9L, png(9L))).toDF("id", "blob"), 3L)
    }
    assert(err.getMessage.contains("maxHamming"))
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

    // same laws for the OTHER two stores
    import org.apache.spark.sql.functions.{col, concat_ws}
    import graft.operators.{Dedup, Multimodal}
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
    // MinHash band store: 1-doc batch → ≤ 3 band buckets
    val lshStore = java.nio.file.Files.createTempDirectory("prunelsh").toString
    val lshSeed = (1L to 300L).map(i =>
      (i, s"document number $i carries its own words entirely"))
      .toDF("doc_id", "text")
    Pipelines.nearDupAgainstStore("doc_id", "text", lshStore,
      buckets = buckets) { _ => () }(lshSeed, 0L)
    val probe = Seq((900L, "a wholly novel probe sentence about nothing else"))
      .toDF("doc_id", "text")
    val (probeBanded, probePbs) = Pipelines.DedupStore.census(lshStore,
      Dedup.lshBuckets(
        Dedup.minhashSignatures(probe, "doc_id", "text", 3, 9), 9, 3),
      concat_ws(":", col("band"), col("bucket")))
    checkPlan(Pipelines.bandedFresh(probe, probeBanded, probePbs, "doc_id",
      lshStore, Seq("band", "bucket"), "sig", Pipelines.minhashClose(9, 0.8)),
      "prunelsh", maxParts = 3)
    // image dHash store: 1-image batch at maxHamming=0 → exactly 1 bucket
    val imgStore = java.nio.file.Files.createTempDirectory("pruneimg").toString
    val imgSeed = (1L to 120L).map(i =>
      (i, Multimodal.encodePng(12, 10, seed = i))).toDF("id", "blob")
    Pipelines.imageDedupAgainstStore("id", "blob", imgStore,
      maxHamming = 0, buckets = buckets) { _ => () }(imgSeed, 0L)
    val imgProbe = Seq((900L, Multimodal.encodePng(12, 10, seed = 900L)))
      .toDF("id", "blob")
    val (imgBanded, imgPbs) = Pipelines.DedupStore.census(imgStore,
      Pipelines.imageBanded(imgProbe, "blob", "id", maxHamming = 0),
      concat_ws(":", col("band"), col("key")))
    checkPlan(Pipelines.bandedFresh(imgProbe, imgBanded, imgPbs, "id",
      imgStore, Seq("band", "key"), "dhash", Pipelines.hammingClose(0)),
      "pruneimg", maxParts = 1)
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
    // content-addressed score cache: lookup prunes to the batch's buckets
    import org.apache.spark.sql.functions.length
    val scStore = java.nio.file.Files.createTempDirectory("prunescore").toString
    val scSeed = (1L to 300L).map(i => (i, s"cached corpus doc $i distinct body"))
      .toDF("doc_id", "text")
    Pipelines.scoreAgainstStore("doc_id", "text", scStore, buckets) { reps =>
      reps.select(col("fingerprint"), length(col("text")).as("score"))
    } { _ => () }(scSeed, 0L)
    val (scProbe, scPbs) = Pipelines.DedupStore.census(scStore,
      Seq((900L, "cached corpus doc 7 distinct body"),
        (901L, "unseen probe body")).toDF("doc_id", "text")
        .withColumn("fingerprint",
          graft.functions.TextFunctions.fingerprint(col("text"))),
      col("fingerprint"))
    checkPlan(Pipelines.scoreCacheLookup(scProbe, scPbs, scStore).get,
      "prunescore", maxParts = 2)
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

  test("videoDedupAgainstStore: re-muxed streams suppressed cross-batch; replay absorbed; corrupt passes") {
    import graft.operators.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("vid_dedup").toString
    val store = s"$dir/sig_store"
    var emitted = Vector.empty[Long]
    val ingest = Pipelines.videoDedupAgainstStore("id", "blob", store,
      maxHamming = 0) { fresh =>
      emitted ++= fresh.select("id").as[Long].collect().sorted
    }
    def mp4(seed: Long, keyEvery: Int = 3, w: Int = 320) =
      Multimodal.encodeMp4Sampled(w, 240, nFrames = 100, keyEvery = keyEvery,
        trackTimescale = 12000, delta1 = 300, delta2 = 364,
        uniformSize = 0, seed = seed)
    ingest(Seq((1L, mp4(1L)), (2L, mp4(20L))).toDF("id", "blob"), 0L)
    assert(emitted === Vector(1L, 2L))
    // batch 2: id 3 is stream 1 RE-MUXED (different keyframe cadence
    // and display size — same samples → same fingerprint → dup), id 4
    // is a new stream, id 5 is corrupt (bypasses to the sink)
    ingest(Seq((3L, mp4(1L, keyEvery = 7, w = 640)), (4L, mp4(90L)),
      (5L, "garbage".getBytes("UTF-8"))).toDF("id", "blob"), 1L)
    assert(emitted === Vector(1L, 2L, 4L, 5L))
    // redelivery: every stream collides with its own stored signature;
    // the corrupt blob has no signature and passes again
    ingest(Seq((3L, mp4(1L, keyEvery = 7, w = 640)), (4L, mp4(90L)),
      (5L, "garbage".getBytes("UTF-8"))).toDF("id", "blob"), 2L)
    assert(emitted === Vector(1L, 2L, 4L, 5L, 5L))
    val stored = spark.read.parquet(s"$store/data").select("id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(stored === Seq(1L, 2L, 4L))
  }

  test("mediaMonitorStream: per-(window, modality) corrupt rates from real kernels") {
    import graft.operators.Multimodal
    implicit val sc = spark.sqlContext
    val png = Multimodal.encodePng(16, 12, seed = 1L)
    val wav = Multimodal.encodeWav(8000, 1, 100, seed = 2L)
    val mp4 = Multimodal.encodeMp4(600, 1200L, 320, 240, nTracks = 1)
    val junk = "truncated".getBytes("UTF-8")
    val in = MemoryStream[(Timestamp, String, Array[Byte])]
    val mon = Pipelines.mediaMonitorStream(
      in.toDF().toDF("ts", "modality", "blob"), "ts", delay = "10 minutes",
      blobCol = "blob", modalityCol = "modality", windowDur = "5 minutes")
    val q = mon.writeStream.format("memory").queryName("media_mon")
      .outputMode("append").start()
    try {
      in.addData(
        (ts(0), "image", png),
        (ts(1), "image", junk),      // ImageIO: no reader → corrupt
        (ts(2), "audio", wav),
        (ts(2), "audio", wav),
        (ts(3), "video", mp4),
        (ts(3), "video", junk),      // box walk finds no brand → corrupt
        (ts(4), "image", null))      // null blob → corrupt count, NOT an NPE
      q.processAllAvailable()
      in.addData((ts(40), "image", png))   // advance watermark, close window
      q.processAllAvailable()
      val rows = spark.sql(
          """SELECT modality, n_blobs, n_corrupt, frac_corrupt
            |FROM media_mon WHERE window_start = '2024-01-01 10:00:00'
            |ORDER BY modality""".stripMargin)
        .as[(String, Long, Long, Double)].collect().toSeq
      assert(rows === Seq(
        ("audio", 2L, 0L, 0.0),
        ("image", 3L, 2L, round4(2.0 / 3)),
        ("video", 2L, 1L, 0.5)))
      // total_bytes is the exact payload sum for the clean audio window
      val tb = spark.sql(
          "SELECT total_bytes FROM media_mon WHERE modality = 'audio'")
        .as[Long].head()
      assert(tb === 2L * wav.length)
    } finally q.stop()
  }

  test("trending terms: exact lift vs baseline in batch; streaming windowed counts match") {
    import org.apache.spark.sql.functions._
    // baseline census: 'common' 80 of 100, 'rare' 20 of 100
    val baseline = Seq(("common", 80L), ("rare", 20L)).toDF("s", "n_occurrences")
    // one 5-min window where 'rare' spikes: 6 of 10 tokens vs 2/10 baseline share
    val batch = Seq(
      (ts(1), "rare rare rare common"),
      (ts(2), "rare rare rare common common common")).toDF("ts", "text")
    val counts = Pipelines.trendingTermCounts(batch, "ts", "10 minutes",
      "text", baseline)
    val lifted = Pipelines.withTrendLift(counts)
      .select(col("term"), col("n"), col("lift"))
      .as[(String, Long, java.lang.Double)].collect()
      .map { case (t, n, l) => t -> ((n, Option(l).map(_.toDouble))) }.toMap
    // rare: share 6/10 vs 20/100 -> lift 3.0; common: 4/10 vs 80/100 -> 0.5
    assert(lifted("rare") == ((6L, Some(3.0))))
    assert(lifted("common") == ((4L, Some(0.5))))
    // a term with no baseline row gets a null lift (the new-term signal)
    val withNew = Pipelines.withTrendLift(Pipelines.trendingTermCounts(
      Seq((ts(1), "brandnew common")).toDF("ts", "text"),
      "ts", "10 minutes", "text", baseline))
      .select(col("term"), col("lift")).as[(String, java.lang.Double)]
      .collect().toMap
    assert(withNew("brandnew") == null)
    // streaming: the same counts arrive through a MemoryStream query
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = Pipelines.trendingTermCounts(in.toDF().toDF("ts", "text"),
        "ts", "10 minutes", "text", baseline)
      .writeStream.format("memory").queryName("trend_out")
      .outputMode("append").start()
    try {
      in.addData((ts(1), "rare rare rare common"),
        (ts(2), "rare rare rare common common common"))
      q.processAllAvailable()
      in.addData((ts(40), "common"))   // advances the watermark past window 1
      q.processAllAvailable()
      val rows = spark.sql("SELECT term, n FROM trend_out")
        .as[(String, Long)].collect().toMap
      assert(rows("rare") == 6L && rows("common") == 4L)
    } finally q.stop()
  }

  test("postingsIngestStream: streamed ≡ batch index; replay absorbed; upsert supersedes everywhere") {
    import graft.operators.{Search, TextStats}
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("pidx").toString
    val store = s"$dir/streamed"
    val ingest = Pipelines.postingsIngestStream("doc_id", "text", store, buckets = 16)
    val b0 = Seq((1L, "the quick brown fox jumps"),
      (2L, "lazy dog sleeps all day"),
      (3L, "quick brown dog barks")).toDF("doc_id", "text")
    val b1 = Seq((4L, "another quick brown fox appears"),
      (5L, "dogs and foxes differ")).toDF("doc_id", "text")
    ingest(b0, 0L); ingest(b1, 1L)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    def batchTwin(corpus: org.apache.spark.sql.DataFrame, p: String): String = {
      Search.writePostings(TextStats.tokenized(corpus, "doc_id", "text"), p, 16)
      p
    }
    val twin1 = batchTwin(b0.unionByName(b1), s"$dir/batch1")
    assert(rows(Pipelines.phraseFromPostingsStore(spark, store, Seq("quick", "brown")))
      === rows(Search.phraseFromPostings(spark, twin1, Seq("quick", "brown"))))
    assert(rows(Pipelines.bm25FromPostingsStore(spark, store, Seq("quick", "dog")))
      === rows(Search.bm25FromPostings(spark, twin1, Seq("quick", "dog"))))
    // replay of batch 1: identical rows of the same version — absorbed
    ingest(b1, 1L)
    assert(rows(Pipelines.bm25FromPostingsStore(spark, store, Seq("quick", "dog")))
      === rows(Search.bm25FromPostings(spark, twin1, Seq("quick", "dog"))))
    // upsert: doc 2 is re-ingested WITHOUT its animal and with a new
    // length — all its old postings must be superseded, even the ones
    // in buckets a given query never reads
    val d2v2 = "rewritten second document mentioning nothing relevant"
    ingest(Seq((2L, d2v2)).toDF("doc_id", "text"), 2L)
    val updated = Seq((1L, "the quick brown fox jumps"), (2L, d2v2),
      (3L, "quick brown dog barks"),
      (4L, "another quick brown fox appears"),
      (5L, "dogs and foxes differ")).toDF("doc_id", "text")
    val twin2 = batchTwin(updated, s"$dir/batch2")
    assert(rows(Pipelines.phraseFromPostingsStore(spark, store, Seq("lazy", "dog")))
      === rows(Search.phraseFromPostings(spark, twin2, Seq("lazy", "dog"))))
    assert(rows(Pipelines.bm25FromPostingsStore(spark, store, Seq("quick", "dog")))
      === rows(Search.bm25FromPostings(spark, twin2, Seq("quick", "dog"))))
    assert(!Pipelines.phraseFromPostingsStore(spark, store, Seq("dog"))
      .select("id").as[Long].collect().contains(2L),
      "superseded postings must not match")
    // the streamed read partition-prunes to the query terms' buckets
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = Pipelines.postingsStoreFor(spark, store, Seq("quick"))
      .queryExecution.sparkPlan
    val scans = plan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("streamed/postings")) => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.exists(
      _.references.exists(_.name == "tb"))), s"no tb partition filter:\n$plan")
    assert(scans.forall(_.selectedPartitions.partitionCount <= 1))
  }

  test("scoreAgainstStore: compute runs once per content; redelivery, re-ingest, and drift hit the cache") {
    import org.apache.spark.sql.functions.{col, length, lit}
    val store = java.nio.file.Files.createTempDirectory("scorecache").toString
    var computeSaw = 0L
    var emitted = Vector.empty[(Long, Int, Boolean)]
    val ingest = Pipelines.scoreAgainstStore("doc_id", "text", store) { reps =>
      computeSaw += reps.count()
      reps.select(col("fingerprint"), length(col("text")).as("score"))
    } { out =>
      emitted ++= out.select("doc_id", "score", "from_cache")
        .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    }
    // batch 1: three docs, two distinct contents → compute sees 2
    ingest(Seq((1L, "alpha body"), (2L, "beta body"), (3L, "alpha body"))
      .toDF("doc_id", "text"), 0L)
    assert(computeSaw === 2L)
    assert(emitted === Vector((1L, 10, false), (2L, 9, false), (3L, 10, false)))
    emitted = Vector.empty
    // batch 2: redelivered content under a NEW id, whitespace-drifted
    // copy, and one genuinely new doc → compute sees only the new one
    ingest(Seq((4L, "beta body"), (5L, "  Alpha   BODY "), (6L, "gamma body"))
      .toDF("doc_id", "text"), 1L)
    assert(computeSaw === 3L, "only the new content may be recomputed")
    assert(emitted.map(r => (r._1, r._3)) ===
      Vector((4L, true), (5L, true), (6L, false)))
    // NOTE: the drifted copy reuses the ORIGINAL's cached score (score
    // is a function of normalized content by the compute contract)
    assert(emitted(0)._2 === 9 && emitted(1)._2 === 10)
    emitted = Vector.empty
    // restart (fresh closure state): everything cached, compute never runs
    var computeSaw2 = 0L
    val ingest2 = Pipelines.scoreAgainstStore("doc_id", "text", store) { reps =>
      computeSaw2 += reps.count()
      reps.select(col("fingerprint"), length(col("text")).as("score"))
    } { out =>
      emitted ++= out.select("doc_id", "score", "from_cache")
        .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    }
    ingest2(Seq((7L, "alpha body"), (8L, "gamma body")).toDF("doc_id", "text"), 0L)
    assert(computeSaw2 === 0L)
    assert(emitted === Vector((7L, 10, true), (8L, 10, true)))
    // each fingerprint stored exactly once
    val fps = spark.read.parquet(s"$store/data").select("fingerprint")
      .as[String].collect()
    assert(fps.length === 3 && fps.distinct.length === 3)
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

  test("transitionStream: any batch cut emits the batch census, one-row state") {
    implicit val sc = spark.sqlContext
    import Pipelines.TransEvent
    val evs = Seq(
      TransEvent(1L, 1000L, 1L, "view"), TransEvent(1L, 2000L, 2L, "click"),
      TransEvent(1L, 3000L, 3L, "purchase"),
      TransEvent(2L, 1000L, 4L, "click"), TransEvent(2L, 2000L, 5L, "view"))
    def run(tag: String, cuts: Seq[Seq[TransEvent]]): Seq[(Long, String, String)] = {
      val in = MemoryStream[TransEvent]
      val q = Pipelines.transitionStream(in.toDS()).writeStream
        .format("memory").queryName(s"transout_$tag").outputMode("append").start()
      try cuts.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(s"transout_$tag")
        .select("user_id", "from_type", "to_type")
        .as[(Long, String, String)].collect().toSeq.sorted
    }
    val oneBatch = run("a", Seq(evs))
    val split = run("b", Seq(evs.take(2), evs.drop(2)))   // cut mid-user
    assert(oneBatch === split, "batch cut must not change emissions")
    assert(oneBatch === Seq(
      (1L, "click", "purchase"), (1L, "view", "click"),
      (2L, "click", "view")))
    // and the streamed emissions aggregate to the batch census
    val census = graft.operators.EventOps.transitionCounts(
        evs.toDF(), "user_id", "ts_ms", "event_id", "event_type")
      .as[(String, String, Long)].collect().toSeq.sorted
    val streamedCensus = oneBatch.groupBy(t => (t._2, t._3))
      .map { case ((f, t), rs) => (f, t, rs.size.toLong) }.toSeq.sorted
    assert(streamedCensus === census)
  }

  test("funnelStream: stage advances match the batch funnel under any cut") {
    implicit val sc = spark.sqlContext
    import Pipelines.TransEvent
    val steps = Seq("view", "click", "purchase")
    // user 1 completes in order; user 2's click precedes its view (never
    // advances past stage 0); user 3 stalls at click
    val evs = Seq(
      TransEvent(1L, 1000L, 1L, "view"), TransEvent(1L, 2000L, 2L, "click"),
      TransEvent(1L, 3000L, 3L, "purchase"),
      TransEvent(2L, 1000L, 4L, "click"), TransEvent(2L, 2000L, 5L, "view"),
      TransEvent(2L, 3000L, 6L, "error"),
      TransEvent(3L, 1000L, 7L, "view"), TransEvent(3L, 2000L, 8L, "click"))
    def run(tag: String, cuts: Seq[Seq[TransEvent]]): Seq[(Long, Int, Long)] = {
      val in = MemoryStream[TransEvent]
      val q = Pipelines.funnelStream(in.toDS(), steps).writeStream
        .format("memory").queryName(s"funout_$tag").outputMode("append").start()
      try cuts.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(s"funout_$tag").select("user_id", "stage", "ts_ms")
        .as[(Long, Int, Long)].collect().toSeq.sorted
    }
    val one = run("a", Seq(evs))
    val cut = run("b", Seq(evs.take(4), evs.drop(4)))   // cut mid-user-1? no: mid-stream
    assert(one === cut, "batch cut must not change funnel advances")
    assert(one === Seq(
      (1L, 0, 1000L), (1L, 1, 2000L), (1L, 2, 3000L),
      (2L, 0, 2000L),
      (3L, 0, 1000L), (3L, 1, 2000L)))
    // final stages equal the batch funnelTimes verdicts
    val ft = graft.operators.EventOps.funnelTimes(
        evs.toDF().withColumn("ts", col("ts_ms")), "user_id", "ts",
        "event_type", steps)
      .select(col("user_id"),
        (col("t2").isNotNull.cast("int") + col("t1").isNotNull.cast("int")
          + col("t0").isNotNull.cast("int")).as("stage_count"))
      .as[(Long, Int)].collect().toMap
    val streamedMax = one.groupBy(_._1).view.mapValues(_.map(_._2).max + 1).toMap
    assert(streamedMax === ft.filter(_._2 > 0))
  }

  test("ewmaStream: integer fold with zero gap days; cut-invariant; matches batch on full keys") {
    implicit val sc = spark.sqlContext
    import Pipelines.{DayCount, EwmaOut}
    // key a: days 0 (n=4), GAP day 1 (zero-fold), day 2 (n=8)
    //   e0 = ⌊40000/4⌋ = 10000; e1 = ⌊30000/4⌋ = 7500;
    //   e2 = ⌊(22500 + 80000)/4⌋ = 25625
    // key b: day 0 (n=2) → 5000; day 1 (n=6) → ⌊(15000+60000)/4⌋ = 18750
    val cts = Seq(DayCount("a", 0L, 4L), DayCount("b", 0L, 2L),
      DayCount("b", 1L, 6L), DayCount("a", 2L, 8L))
    def run(tag: String, cuts: Seq[Seq[DayCount]]): Seq[EwmaOut] = {
      val in = MemoryStream[DayCount]
      val q = Pipelines.ewmaStream(in.toDS()).writeStream
        .format("memory").queryName(s"ewout_$tag").outputMode("append")
        .start()
      try cuts.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(s"ewout_$tag").as[EwmaOut].collect().toSeq
        .sortBy(e => (e.key, e.day))
    }
    val one = run("a", Seq(cts))
    val cut = run("b", Seq(cts.take(2), cts.drop(2)))   // later days split
    assert(one === cut, "batch cut must not change emissions")
    assert(one === Seq(
      EwmaOut("a", 0L, 4L, 10000L, 30000L),
      EwmaOut("a", 2L, 8L, 25625L, 54375L),
      EwmaOut("b", 0L, 2L, 5000L, 15000L),
      EwmaOut("b", 1L, 6L, 18750L, 41250L)))
    // key a observes the last spine day, so its final baseline equals
    // the batch ewmaBaseline over the equivalent event set
    def d(day: Int, sec: Int) =
      new Timestamp((day * 86400 + sec) * 1000L)
    val evs = ((1 to 4).map(i => (d(0, i), "a")) ++
      (1 to 8).map(i => (d(2, i), "a")) ++
      (1 to 2).map(i => (d(0, i), "b")) ++
      (1 to 6).map(i => (d(1, i), "b"))).toDF("ts", "event_type")
    val batch = graft.operators.EventOps
      .ewmaBaseline(evs, "ts", "event_type")
      .select("etype", "ewma4").as[(String, Long)].collect().toMap
    assert(one.filter(_.key == "a").last.ewma4 === batch("a"))
  }

  test("cusumStream: explicit-target fold, zero-count gap days, alarm crossing, cut-invariant") {
    implicit val sc = spark.sqlContext
    import Pipelines.{CusumOut, DayCount}
    // target4 50000, slack4 5000, threshold4 100000
    // key a: day0 n=20 → c = max(0, 200000−55000) = 145000 (ALARM);
    //   gap day1 → max(0, 145000−55000) = 90000 (below);
    //   day2 n=1 → max(0, 90000+10000−55000) = 45000
    val cts = Seq(DayCount("a", 0L, 20L), DayCount("a", 2L, 1L))
    def run(tag: String, cuts: Seq[Seq[DayCount]]): Seq[CusumOut] = {
      val in = MemoryStream[DayCount]
      val q = Pipelines.cusumStream(in.toDS(), target4 = 50000L,
          slack4 = 5000L, threshold4 = 100000L).writeStream
        .format("memory").queryName(s"csout_$tag").outputMode("append")
        .start()
      try cuts.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(s"csout_$tag").as[CusumOut].collect().toSeq
        .sortBy(e => (e.key, e.day))
    }
    val one = run("a", Seq(cts))
    val cut = run("b", Seq(cts.take(1), cts.drop(1)))
    assert(one === cut)
    assert(one === Seq(
      CusumOut("a", 0L, 20L, 145000L, true),
      CusumOut("a", 2L, 1L, 45000L, false)))
  }

  test("rateLimitStream: first-k-per-window policy equals the batch row_number rewrite") {
    implicit val sc = spark.sqlContext
    import Pipelines.TransEvent
    val windowMs = 1000L
    // user 1: 4 events in window 0 (k=2 keeps the first two by (ts, id)),
    // then 1 in window 1; user 2: 2 events, both kept; the batch cut
    // splits user 1's window-0 burst across batches
    val evs = Seq(
      TransEvent(1L, 100L, 1L, "a"), TransEvent(1L, 100L, 2L, "b"),
      TransEvent(1L, 200L, 3L, "c"), TransEvent(1L, 300L, 4L, "d"),
      TransEvent(1L, 1200L, 5L, "e"),
      TransEvent(2L, 500L, 6L, "f"), TransEvent(2L, 600L, 7L, "g"))
    def run(tag: String, cuts: Seq[Seq[TransEvent]]): Set[Long] = {
      val in = MemoryStream[TransEvent]
      val q = Pipelines.rateLimitStream(in.toDS(), windowMs, k = 2)
        .writeStream.format("memory").queryName(s"rlout_$tag")
        .outputMode("append").start()
      try cuts.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(s"rlout_$tag").select("event_id")
        .as[Long].collect().toSet
    }
    val one = run("a", Seq(evs))
    val cut = run("b", Seq(evs.take(2), evs.drop(2)))
    assert(one === cut, "batch cut must not change the kept set")
    assert(one === Set(1L, 2L, 5L, 6L, 7L))
    // equals the batch rewrite
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), floor(col("ts_ms") / windowMs))
      .orderBy(col("ts_ms"), col("event_id"))
    val batch = evs.toDF()
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .select("event_id").as[Long].collect().toSet
    assert(one === batch)
  }

  test("attributionStream: conversions credit like the batch model under any cut") {
    implicit val sc = spark.sqlContext
    import Pipelines.{Attribution, TouchEvent}
    val lookbackMs = 100000L   // 100 s
    // user 1: view click buy             — first=view last=click
    // user 2: view(1s) … buy(200s)       — touch expired → (none)
    // user 3: buy with no touches        — (none)
    // user 4: view+click SAME instant, buy — tie: first=view last=click
    // user 5: touch in batch 1, buy in batch 2 (state carries over)
    val evs = Seq(
      TouchEvent(1L, 1000L, 1L, "view", 0.0),
      TouchEvent(1L, 2000L, 2L, "click", 0.0),
      TouchEvent(1L, 3000L, 3L, "purchase", 10.0),
      TouchEvent(2L, 1000L, 4L, "view", 0.0),
      TouchEvent(2L, 200000L, 5L, "purchase", 20.0),
      TouchEvent(3L, 5000L, 6L, "purchase", 40.0),
      TouchEvent(4L, 1000L, 7L, "view", 0.0),
      TouchEvent(4L, 1000L, 8L, "click", 0.0),
      TouchEvent(4L, 2000L, 9L, "purchase", 80.0),
      TouchEvent(5L, 90000L, 10L, "click", 0.0),
      TouchEvent(5L, 150000L, 11L, "purchase", 1.5))
    def run(tag: String, cuts: Seq[Seq[TouchEvent]]) = {
      val in = MemoryStream[TouchEvent]
      val q = Pipelines.attributionStream(in.toDS(), Seq("view", "click"),
          "purchase", lookbackMs).writeStream
        .format("memory").queryName(s"attrout_$tag").outputMode("append").start()
      try cuts.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(s"attrout_$tag").as[Attribution].collect().toSeq
        .sortBy(a => (a.user_id, a.conv_ts_ms))
    }
    val one = run("a", Seq(evs))
    val cut = run("b", Seq(evs.take(9), evs.drop(9)))  // user 5 split across batches
    assert(one === cut, "batch cut must not change attributions")
    assert(one === Seq(
      Attribution(1L, 3000L, 3L, "view", "click", 1000L),
      Attribution(2L, 200000L, 5L, "(none)", "(none)", 2000L),
      Attribution(3L, 5000L, 6L, "(none)", "(none)", 4000L),
      Attribution(4L, 2000L, 9L, "view", "click", 8000L),
      Attribution(5L, 150000L, 11L, "click", "click", 150L)))
    // aggregated emissions equal the batch touchAttribution report
    val batchIn = evs.toDF()
      .select(col("user_id"),
        (col("ts_ms") / 1000.0).cast("timestamp").as("ts"),
        col("event_type"), col("value"))
    val batch = graft.operators.EventOps.touchAttribution(batchIn,
        "user_id", "ts", "event_type", "value",
        Seq("view", "click"), "purchase", lookbackSec = 100L)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    def agg(sel: Attribution => String, model: String) =
      one.groupBy(sel).map { case (t, rs) =>
        (model, t) -> ((rs.size.toLong, rs.map(_.v2).sum)) }
    assert((agg(_.first_touch, "first") ++ agg(_.last_touch, "last")).toMap
      === batch)
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

  test("histCompact: a torn compaction swap heals at the next read, write, or retry") {
    val store = java.nio.file.Files.createTempDirectory("histcrash").toString + "/hist"
    val ingest = Pipelines.histStream("grp", "score", store)
    ingest(Seq(("a", 0.10), ("a", 0.10), ("b", 0.20))
      .toDF("grp", "score"), 0L)
    ingest(Seq(("a", 0.30), ("b", 0.20)).toDF("grp", "score"), 1L)
    Pipelines.histCompact(spark, store, 0L)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def mass(): Long = Pipelines.histCells(spark, store)
      .agg(sum(col("n"))).head().getLong(0)
    val m = mass()
    // torn swap: live dir gone, `_old` holds the only complete copy
    assert(fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(s"${store}_old")))
    assert(mass() === m, "a reader heals the torn swap via histWatermark")
    // torn again — this time a RETRIED compaction must restore before
    // its deletes instead of destroying the last copy
    assert(fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(s"${store}_old")))
    Pipelines.histCompact(spark, store, 1L)
    assert(mass() === m, "retried compaction preserves the full mass")
    // torn before an append: the writer heals first, so the append
    // lands on the FULL history, not a fresh empty dir
    assert(fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(s"${store}_old")))
    ingest(Seq(("c", 0.50)).toDF("grp", "score"), 2L)
    assert(mass() === m + 1, "append after heal keeps pre-crash history")
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
    val baskets = Seq(Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "z")),
      Seq((3L, "x"), (3L, "y")), Seq((4L, "y"), (4L, "z"), (5L, "x"), (5L, "y")))
    val families = Seq(
      Family("dedup", Seq("data"),
        (s, b) => collecting(sink => Pipelines.dedupAgainstStore("text", s, 8) {
          f => sink(f.select("doc_id")) }(docs(b).toDF("doc_id", "text"), b.toLong)),
        s => Pipelines.compactStore(spark, s),
        s => rows(spark.read.parquet(s"$s/data").select("fingerprint"))),
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
        s => rows(Pipelines.clusterStoreReps(spark, s))),
      Family("basket", Seq("items", "pairs", "baskets"),
        (s, b) => {
          Pipelines.basketStream("b", "i", s)(baskets(b).toDF("b", "i"), b.toLong)
          Nil
        },
        s => Pipelines.basketCompact(spark, s, 1L),
        s => rows(Pipelines.basketRulesFromStore(spark, s, 0.2))))
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

  test("skyline store: streamed ≡ batch, dominated cells pruned, replay absorbed") {
    val store = java.nio.file.Files.createTempDirectory("skystore").toFile
    store.delete()
    val body = Pipelines.skylineIngestStream("u", "t",
      "file:" + store.getAbsolutePath)
    def sky() = Pipelines
      .skylineReport(spark, "file:" + store.getAbsolutePath)
      .as[(Long, Long, Long)].collect().toSet
    // batch 0: (10,3)×2 and (5,1) — both on the front
    val b0 = Seq((10L, 3L), (10L, 3L), (5L, 1L)).toDF("u", "t")
    body(b0, 0L)
    assert(sky() === Set((10L, 3L, 2L), (5L, 1L, 1L)))
    // batch 1: (8,2) joins the front, (10,3) recurs and accumulates,
    // (4,7) is dominated by (5,1) → pruned at APPEND time
    val b1 = Seq((8L, 2L), (4L, 7L), (10L, 3L)).toDF("u", "t")
    body(b1, 1L)
    assert(sky() === Set((10L, 3L, 3L), (8L, 2L, 1L), (5L, 1L, 1L)))
    // the pruned cell never reached the store
    val stored = spark.read.parquet("file:" + store.getAbsolutePath)
      .select("u", "t").distinct().as[(Long, Long)].collect().toSet
    assert(!stored.contains((4L, 7L)))
    // redelivery of batch 1 (same batch_id, identical rows) → no change
    body(b1, 1L)
    assert(sky() === Set((10L, 3L, 3L), (8L, 2L, 1L), (5L, 1L, 1L)))
    // streamed ≡ batch skyline over everything ever ingested
    val batchSky = graft.operators.Profiling
      .skyline2d(b0.unionAll(b1), "u", "t")
      .as[(Long, Long, Long)].collect().toSet
    assert(sky() === batchSky)
    // a later batch can still dominate OLD front cells at read time:
    // (11,1) beats (10,3) and (8,2) outright, and (5,1) via the
    // t-tie with strictly larger u — the whole front collapses to it
    body(Seq((11L, 1L)).toDF("u", "t"), 2L)
    assert(sky() === Set((11L, 1L, 1L)))
  }
}
