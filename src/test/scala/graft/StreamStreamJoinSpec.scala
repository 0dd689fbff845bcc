package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Stream-stream join with watermarks + time-range condition (SURVEY.md
  * §2.2): impressions joined to clicks within a bounded interval — the
  * canonical two-stream correlation. Both sides carry watermarks so join
  * state is evicted once the range can no longer match (bounded state at
  * scale). */
class StreamStreamJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  test("interval-bounded stream-stream inner join") {
    implicit val sc = spark.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]

    val imp = impressions.toDF().toDF("ad", "imp_ts").withWatermark("imp_ts", "10 minutes")
    val clk = clicks.toDF().toDF("ad_c", "clk_ts").withWatermark("clk_ts", "10 minutes")

    val joined = imp.join(clk,
      col("ad") === col("ad_c") &&
        col("clk_ts") >= col("imp_ts") &&
        col("clk_ts") <= col("imp_ts") + expr("INTERVAL 5 MINUTES"))

    val q = joined.select("ad", "imp_ts", "clk_ts")
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      impressions.addData((1L, ts(0)), (2L, ts(0)))
      clicks.addData((1L, ts(3)))   // within 5 min → joins
      clicks.addData((2L, ts(9)))   // 9 min later → outside the range
      q.processAllAvailable()
      val rows = spark.sql("SELECT ad FROM ssj_out").as[Long].collect().toSeq
      assert(rows === Seq(1L))
    } finally q.stop()
  }

  test("intervalJoinStreams: joins across micro-batches; watermark drops late rows (bounded state)") {
    import graft.streaming.Pipelines
    implicit val sc = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = Pipelines.intervalJoinStreams(
      views.toDF().toDF("u", "view_ts"),
      clicks.toDF().toDF("u_c", "clk_ts"),
      "u", "u_c", "view_ts", "clk_ts",
      delay = "10 minutes", within = "5 minutes")
    val q = joined.select(col("u"), col("view_ts"), col("clk_ts"))
      .writeStream.format("memory").queryName("ivj_out")
      .outputMode("append").start()
    try {
      // batch 1: two views, no clicks yet — the join must buffer them
      views.addData((1L, ts(0)), (2L, ts(1)))
      q.processAllAvailable()
      // batch 2: a click for view 1 arrives a WHOLE BATCH later but
      // inside its 5-minute interval → cross-batch pair
      clicks.addData((1L, ts(3)))
      q.processAllAvailable()
      assert(spark.sql("SELECT u FROM ivj_out").as[Long].collect().toSeq
        === Seq(1L))
      // batch 3: BOTH sides advance far (the global watermark is the
      // MIN across sources — one side alone would hold it back), so
      // the watermark passes 10:01 + 5 min + 10 min
      views.addData((9L, ts(50)))
      clicks.addData((9L, ts(51))) // also joins: within 5 min of view 9
      q.processAllAvailable()
      // batch 4: a click for view 2, inside its interval by EVENT time
      // but older than the watermark → dropped at ingestion, state for
      // view 2 already evicted — NO pair (this is what makes the state
      // bounded at 100 TB: history-deep keys cannot accumulate)
      clicks.addData((2L, ts(4)))
      q.processAllAvailable()
      val all = spark.sql("SELECT u FROM ivj_out ORDER BY u")
        .as[Long].collect().toSeq
      assert(all === Seq(1L, 9L), s"late click must be dropped, got $all")
    } finally q.stop()
  }

  test("intervalJoinStreams left_outer: unmatched rows null-emit exactly once, watermark-gated") {
    import graft.streaming.Pipelines
    implicit val sc = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = Pipelines.intervalJoinStreams(
      views.toDF().toDF("u", "view_ts"),
      clicks.toDF().toDF("u_c", "clk_ts"),
      "u", "u_c", "view_ts", "clk_ts",
      delay = "10 minutes", within = "5 minutes",
      joinType = "left_outer")
    val q = joined.select(col("u"), col("view_ts"), col("clk_ts"))
      .writeStream.format("memory").queryName("ivjo_out")
      .outputMode("append").start()
    def rows() = spark
      .sql("SELECT u, clk_ts IS NULL FROM ivjo_out ORDER BY u")
      .as[(Long, Boolean)].collect().toSeq
    try {
      // batch 1: view 1 will match, view 2 never will
      views.addData((1L, ts(0)), (2L, ts(1)))
      clicks.addData((1L, ts(3)))
      q.processAllAvailable()
      // view 2's window is still open — NO null row yet (emitting it
      // now could be contradicted by a click in the next batch)
      assert(rows() === Seq((1L, false)))
      // batch 2: both sides advance past view 2's window + delay —
      // the no-longer-matchable view 2 null-emits exactly once
      views.addData((9L, ts(40)))
      clicks.addData((9L, ts(41)))
      q.processAllAvailable()
      assert(rows() === Seq((1L, false), (2L, true), (9L, false)))
      // batch 3: more watermark advance must NOT re-emit view 2
      views.addData((8L, ts(55)))
      clicks.addData((8L, ts(56)))
      q.processAllAvailable()
      assert(rows() === Seq((1L, false), (2L, true), (8L, false),
        (9L, false)))
    } finally q.stop()
  }

  test("intervalJoinStreams full_outer: BOTH sides null-emit exactly once, watermark-gated") {
    import graft.streaming.Pipelines
    implicit val sc = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = Pipelines.intervalJoinStreams(
      views.toDF().toDF("u", "view_ts"),
      clicks.toDF().toDF("u_c", "clk_ts"),
      "u", "u_c", "view_ts", "clk_ts",
      delay = "10 minutes", within = "5 minutes",
      joinType = "full_outer")
    val q = joined.select(col("u"), col("u_c"), col("view_ts"), col("clk_ts"))
      .writeStream.format("memory").queryName("ivjf_out")
      .outputMode("append").start()
    // (key, isUnmatchedView, isUnmatchedClick) — key from whichever
    // side is present
    def rows() = spark
      .sql("""SELECT coalesce(u, u_c), clk_ts IS NULL, view_ts IS NULL
             |FROM ivjf_out ORDER BY 1, 2, 3""".stripMargin)
      .as[(Long, Boolean, Boolean)].collect().toSeq
    try {
      // batch 1: view 1 matches click 1; view 2 never converts;
      // click 3 has no view at all (a click with NO preceding view)
      views.addData((1L, ts(0)), (2L, ts(1)))
      clicks.addData((1L, ts(3)), (3L, ts(2)))
      q.processAllAvailable()
      // windows still open on both sides — only the match emits
      assert(rows() === Seq((1L, false, false)))
      // batch 2: both watermarks advance far past every window — the
      // unconverted VIEW null-emits AND the orphan CLICK null-emits,
      // each exactly once, from the same join state
      views.addData((9L, ts(40)))
      clicks.addData((9L, ts(41)))
      q.processAllAvailable()
      assert(rows() === Seq((1L, false, false), (2L, true, false),
        (3L, false, true), (9L, false, false)))
      // batch 3: further advance re-emits NOTHING
      views.addData((8L, ts(55)))
      clicks.addData((8L, ts(56)))
      q.processAllAvailable()
      assert(rows() === Seq((1L, false, false), (2L, true, false),
        (3L, false, true), (8L, false, false), (9L, false, false)))
    } finally q.stop()
  }

  test("intervalJoinStreams: join state stays watermark-bounded over a long stream") {
    import graft.streaming.Pipelines
    implicit val sc = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(min: Int) = new Timestamp(base + min * 60000L)
    val lStream = MemoryStream[(Long, Timestamp)]
    val rStream = MemoryStream[(Long, Timestamp)]
    val joined = Pipelines.intervalJoinStreams(
      lStream.toDF().toDF("u", "l_ts"),
      rStream.toDF().toDF("u_r", "r_ts"),
      "u", "u_r", "l_ts", "r_ts",
      delay = "10 minutes", within = "5 minutes")
    val q = joined.select(col("u"))
      .writeStream.format("memory").queryName("ivjs_out")
      .outputMode("append").start()
    try {
      // 20 batches × 50 rows/side, event time advancing 10 min/batch:
      // 2000 rows enter the join, but the watermark retires anything
      // older than ~(delay + interval) — state must stay a small
      // multiple of one batch, NOT grow with the stream
      var fed = 0L
      for (b <- 0 until 20) {
        val rows = (0 until 50).map(i =>
          ((i % 7).toLong, at(b * 10 + (i % 10))))
        lStream.addData(rows: _*)
        rStream.addData(rows: _*)
        fed += 2 * rows.size
        q.processAllAvailable()
      }
      val state = q.lastProgress.stateOperators
      assert(state.nonEmpty, "join must report state metrics")
      val rowsInState = state.map(_.numRowsTotal).sum
      assert(rowsInState < fed / 4,
        s"state must be watermark-bounded: $rowsInState of $fed fed")
      assert(rowsInState > 0L)
    } finally q.stop()
  }

  test("chained stateful operators: interval join → window agg emits each window once, after the propagated watermark") {
    import graft.streaming.Pipelines
    implicit val sc = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val daily = Pipelines.intervalJoinStreams(
        views.toDF().toDF("u", "view_ts"),
        clicks.toDF().toDF("u_c", "clk_ts"),
        "u", "u_c", "view_ts", "clk_ts",
        delay = "10 minutes", within = "5 minutes")
      .groupBy(window(col("view_ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("h"), col("n"))
    val q = daily.writeStream.format("memory").queryName("csj_out")
      .outputMode("append").start()
    def rows() = spark.sql("SELECT h, n FROM csj_out ORDER BY h")
      .as[(Timestamp, Long)].collect().toSeq
    try {
      // hour 10:00 gets two pairs, across two micro-batches
      views.addData((1L, ts(0)), (2L, ts(10)))
      clicks.addData((1L, ts(2)))
      q.processAllAvailable()
      assert(rows() === Nil,
        "open window must not emit before the watermark closes it")
      clicks.addData((2L, ts(12)))
      q.processAllAvailable()
      assert(rows() === Nil)
      // advance BOTH streams well past hour 10:00 + join horizon +
      // delay — the 10:00 window closes with BOTH pairs, exactly once
      views.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00")))
      clicks.addData((9L, Timestamp.valueOf("2024-01-01 13:01:00")))
      q.processAllAvailable()
      assert(rows() === Seq((Timestamp.valueOf("2024-01-01 10:00:00"), 2L)))
      // further advance must not re-emit the closed window
      views.addData((8L, Timestamp.valueOf("2024-01-01 16:00:00")))
      clicks.addData((8L, Timestamp.valueOf("2024-01-01 16:01:00")))
      q.processAllAvailable()
      val r = rows()
      assert(r.count(_._1 == Timestamp.valueOf("2024-01-01 10:00:00")) === 1)
    } finally q.stop()
  }

  test("intervalJoinStreams property: time-ordered random batches ≡ in-memory interval join") {
    import graft.streaming.Pipelines
    implicit val sc = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(min: Int) = new Timestamp(base + min * 60000L)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(2000L + seed)
      def gen() = (1 to 40)
        .map(_ => (rnd.nextInt(5).toLong + 1L, rnd.nextInt(120)))
        .sortBy(_._2)
      val ls = gen(); val rs = gen()
      val expected = (for {
        (lu, lt) <- ls
        (ru, rt) <- rs
        if lu == ru && rt >= lt && rt <= lt + 5
      } yield (lu, lt, rt)).sorted
      val lStream = MemoryStream[(Long, Timestamp)]
      val rStream = MemoryStream[(Long, Timestamp)]
      val joined = Pipelines.intervalJoinStreams(
        lStream.toDF().toDF("u", "l_ts"),
        rStream.toDF().toDF("u_r", "r_ts"),
        "u", "u_r", "l_ts", "r_ts",
        delay = "3 hours", within = "5 minutes")
      val q = joined.select(col("u"), col("l_ts"), col("r_ts"))
        .writeStream.format("memory").queryName(s"ivjp_$seed")
        .outputMode("append").start()
      try {
        // four time-ordered micro-batch slices per side — pairs must
        // form across slice boundaries exactly as in one batch
        for (k <- 0 until 4) {
          val lo = k * 30; val hi = lo + 30
          lStream.addData(ls.filter(e => e._2 >= lo && e._2 < hi)
            .map { case (u, m) => (u, at(m)) }: _*)
          rStream.addData(rs.filter(e => e._2 >= lo && e._2 < hi)
            .map { case (u, m) => (u, at(m)) }: _*)
          q.processAllAvailable()
        }
        val got = spark.sql(s"SELECT u, l_ts, r_ts FROM ivjp_$seed")
          .as[(Long, Timestamp, Timestamp)].collect()
          .map { case (u, l, r) =>
            (u, ((l.getTime - base) / 60000L).toInt,
              ((r.getTime - base) / 60000L).toInt) }
          .sorted.toSeq
        assert(got === expected, s"seed=$seed diverged")
      } finally q.stop()
    }
  }

  /** The hand-off `runToMemory` made before it returned driver rows:
    * the memory sink's rows, checkpointed. */
  private def drainByCheckpoint(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  test("runToMemory hands the sink's rows on without a job, as one partition, on the q331 and q333 shapes") {
    import graft.streaming.Pipelines
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    // views and clicks of 6 users over 10 hours, through the file source
    val rnd = new scala.util.Random(331L)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (1 to 240).map { i =>
      (rnd.nextInt(6).toLong, i.toLong, if (rnd.nextInt(3) == 0) "click" else "view",
        new Timestamp(base + rnd.nextInt(600) * 60000L))
    }.sortBy(_._4.getTime)
    val dir = java.nio.file.Files.createTempDirectory("handoff").toString
    events.toDF("user_id", "event_id", "event_type", "ts").write.parquet(s"$dir/events")
    val schema = spark.read.parquet(s"$dir/events").schema
    def shape(joinType: String): DataFrame = {
      val ev = spark.readStream.schema(schema).parquet(s"$dir/events")
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id").as("uid_c"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      Pipelines.intervalJoinStreams(views, clicks, "user_id", "uid_c",
          "view_ts", "click_ts", delay = "1 hour", within = "2 hours", joinType)
        .select(col("user_id"), col("view_id"), col("click_id"),
          (unix_timestamp(col("click_ts")) - unix_timestamp(col("view_ts"))).as("lag_s"))
    }
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      for (joinType <- Seq("inner", "left_outer")) {
        val want = drainByCheckpoint(shape(joinType), s"handoff_$joinType")
          .collect().map(_.toString).sorted.toSeq
        seen.clear()
        // the stream's batches carry their own description; the
        // hand-off after the stream stops runs under this one
        sc.setJobDescription("hand-off")
        val got = try Pipelines.runToMemory(shape(joinType))
          finally sc.setJobDescription(null)
        sc.setJobDescription("sentinel")
        try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
        val deadline = System.nanoTime() + 10000000000L
        while (!seen.contains("sentinel") && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(seen.contains("sentinel"))
        assert(!seen.contains("hand-off"), s"$joinType: ${seen.asScala.toSeq}")
        assert(got.collect().map(_.toString).sorted.toSeq === want, joinType)
        assert(want.nonEmpty && (joinType == "inner" || want.exists(_.contains("null"))))
        val agg = got.groupBy(col("user_id")).agg(count(col("click_id")).as("n"))
          .orderBy(col("user_id"))
        agg.collect()
        val plan = agg.queryExecution.executedPlan
        assert(Aqe.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
          s"$joinType:\n$plan")
      }
    } finally {
      sc.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
