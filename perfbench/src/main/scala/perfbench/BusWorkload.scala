package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.concurrent.locks.LockSupport

import graft.sources.{Duplex, JsonSerde}
import graft.streaming.Pipelines
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Open-loop duplex loopback: the reference's `getDuplex` test run on a
  * schedule. One generator thread appends reference-shaped JSON to an
  * in-memory source with a fixed partition count (standing in for a
  * topic); `Duplex.transformPipeline` keeps `source == "origin"` and
  * rewrites it to "transform"; `Pipelines.manifestSink` commits each
  * micro-batch.
  *
  * Phases: an unmeasured warm-up at `low_eps` with one backlog in its
  * middle (per-batch code is still getting faster after 6 s, and the
  * backlog warms the large-batch path), 60 % of `seconds` at `low_eps`,
  * then `Drains` overload cycles over the remaining 40 %: each appends a
  * backlog of half a cycle's worth of `plateau_eps` events at once, so
  * the committed rate is the loop's drain rate of that backlog, and then
  * resumes the low rate until the next cycle, so the heap is read with
  * the loop back in its low-rate state. Bursts follow the reference
  * Producer test's pacing of 100 messages per [5, 20, 5, 20, 5] ms,
  * scaled to the phase rate; the seed draws the payload mix, the
  * template rotation and a +-20 % gap jitter. A generator that is behind
  * appends every burst already due in one call, as a producer batches.
  * Latency is from an event's scheduled send to the manifest commit of
  * the batch that carried it, so a stall counts against every event
  * scheduled behind it. The per-window latency quantiles and the drain
  * walls are also written as samples, which run.py pools over the run's
  * JVMs.
  */
object BusWorkload {
  val Template: Array[Double] = Array(5.0, 20.0, 5.0, 20.0, 5.0)
  val BurstSize = 100
  val WarmSeconds = 12.0
  val Drains = 3
  /** Equal windows of the low-rate phase, by scheduled send time. */
  val LatWindows = 2
  val Partitions = 4
  val Schema: StructType = new StructType()
    .add("source", "string").add("count", "long")
    .add("index", "long").add("timeout", "long")

  sealed trait Phase { def name: String }
  /** Bursts paced by the template at `eps` events per second. */
  final case class Paced(name: String, secs: Double, eps: Double) extends Phase
  /** `events` events all due at once: a backlog. */
  final case class Backlog(name: String, events: Int) extends Phase

  /** The full send schedule, drawn from the seed before the run. */
  final class Schedule(seed: Long, phases: Seq[Phase]) {
    private val rng = new scala.util.Random(seed)
    private val rot = rng.nextInt(Template.length)
    private val bursts = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Boolean)]
    locally {
      var t = 0.0
      var k = 0
      phases.foreach {
        case Paced(phase, secs, eps) =>
          val scale = BurstSize / (eps * Template.sum / Template.length / 1000.0)
          val end = t + secs * 1000.0
          while (t < end) {
            bursts += ((math.round(t * 1e6), phase, false))
            t += Template((k + rot) % Template.length) * scale * (0.8 + 0.4 * rng.nextDouble())
            k += 1
          }
        case Backlog(phase, events) =>
          (0 until events / BurstSize).foreach(_ => bursts += ((math.round(t * 1e6), phase, true)))
      }
    }
    val n: Int = bursts.size * BurstSize
    val dueNs: Array[Long] = bursts.map(_._1).toArray
    val phase: Array[String] = bursts.map(_._2).toArray
    val backlog: Array[Boolean] = bursts.map(_._3).toArray
    val origin: Array[Boolean] = Array.fill(n)(rng.nextBoolean())
    val timeout: Array[Int] = Array.fill(n)(1 + rng.nextInt(20))
    def burstOf(i: Long): Int = (i / BurstSize).toInt
    def payload(i: Int): String = {
      val src = if (origin(i)) "origin" else "other"
      s"""{"source":"$src","count":${burstOf(i)},"index":$i,"timeout":${timeout(i)}}"""
    }
  }

  def run(ctx: Harness.Ctx): Unit = {
    import ctx._
    val lowEps = opts("low_eps").toDouble
    // each overload backlog takes about half its cycle to drain at the
    // loop's nominal plateau rate (NOTES.md, capacity sweep)
    val cycle = 0.4 * seconds / Drains
    val backlogEvents = (0.5 * cycle * opts("plateau_eps").toDouble).toInt
    // the first burst is the set-up's first execution; the warm-up lets
    // the first micro-batches' JIT and codegen settle before measuring
    val sched = new Schedule(seed, Seq(
      Paced("setup", 0.001, lowEps),
      Paced("warm", WarmSeconds / 2, lowEps),
      Backlog("warm", backlogEvents),
      Paced("warm", WarmSeconds / 2, lowEps),
      Paced("low", 0.6 * seconds, lowEps)) ++
      (0 until Drains).flatMap(k =>
        Seq(Backlog(s"high$k", backlogEvents), Paced("cycle", cycle, lowEps))))
    // payloads are built before the clock starts, so the generator is
    // not what limits the backlog's append
    var payloads = Array.tabulate(sched.n)(sched.payload)

    val t0 = System.nanoTime()
    val spark: SparkSession = tracer.span("setup.session")(session())
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sinkDir = out.resolve("bus_sink").toString
    val commitNs = new ConcurrentHashMap[Long, Long]()
    val genAtCommit = new ConcurrentHashMap[Long, Long]()
    val generated = new AtomicLong(0)
    val sinkNs = new AtomicLong(0)
    val sink = Pipelines.manifestSink(sinkDir)
    // fault injection for the benchmark's own tests: lose one batch
    val dropBatch = opts.get("drop_batch").map(_.toLong)
    val commit: (DataFrame, Long) => Unit = (batch, id) => {
      val s0 = System.nanoTime()
      if (!dropBatch.contains(id))
        tracer.span("sink.manifest", calls = "Pipelines.scala")(sink(batch, id))
      val s1 = System.nanoTime()
      sinkNs.addAndGet(s1 - s0)
      genAtCommit.put(id, generated.get)
      commitNs.put(id, s1)
    }

    // a topic's fixed partition count; the source's default (one
    // partition per append) is the defect recorded in NOTES.md
    val input = MemoryStream[String](spark, Partitions)(Encoders.STRING)
    val transformed = Duplex.transformPipeline(
      input.toDF().select(col("value")), Schema, JsonSerde.FailFast) { p =>
      p.filter(col("source") === "origin").withColumn("source", lit("transform"))
    }
    val query = transformed.writeStream
      .foreachBatch(commit)
      .option("checkpointLocation", out.resolve("bus_ckpt").toString)
      .trigger(Trigger.ProcessingTime(0))
      .start()

    // generator: appends each burst when due, never waiting on the sink
    val sentNs = new Array[Long](sched.dueNs.length)
    val failure = new AtomicReference[Throwable](null)
    /** Send burst `b` when due, with every later burst before `end`
      * already due; returns the next burst to send. */
    def send(b: Int, end: Int, origin: Long): Int = {
      val due = origin + sched.dueNs(b)
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      var e = b + 1
      while (e < end && origin + sched.dueNs(e) <= now) e += 1
      input.addData(payloads.slice(b * BurstSize, e * BurstSize).toSeq)
      val sent = System.nanoTime() - origin
      (b until e).foreach(sentNs(_) = sent)
      generated.addAndGet((e - b) * BurstSize)
      e
    }
    val setupBursts = sched.phase.count(_ == "setup")
    val end = sched.dueNs.length
    tracer.span("setup.first_commit") {
      val now = System.nanoTime()
      var b = 0
      while (b < setupBursts) b = send(b, setupBursts, now)
      while (commitNs.isEmpty && query.isActive) Thread.sleep(1)
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    // the schedule starts once set-up is done
    val origin0 = System.nanoTime()
    val gen = new Thread(() =>
      try {
        var b = setupBursts
        while (b < end) b = send(b, end, origin0)
      } catch { case e: Throwable => failure.set(e) }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()

    val warmEnd = origin0 + sched.dueNs(sched.phase.indexOf("low"))
    while (System.nanoTime() < warmEnd) Thread.sleep(5)
    probes.clear() // the stream never goes quiet, so no drain here
    sinkNs.set(0)
    val timedMs0 = Clock.nowMs
    gen.join()
    tracer.span("bus.drain")(query.processAllAvailable())
    val timedMs1 = Clock.nowMs
    if (failure.get != null) throw failure.get
    val sinkMs = sinkNs.get / 1e6
    if (traced) { probes.drain(); putCounters(1.0) }
    payloads = null
    val heapMb = Harness.liveHeapMb()
    graft.sources.Lifecycle.destroy(query)

    // check: every origin event committed once, rewritten; nothing else
    val BatchDir = """batch=(\d+)""".r.unanchored
    val rows = tracer.span("bus.check") {
      Pipelines.readCommitted(spark, sinkDir)
        .select(from_json(col("value"), Schema).as("v"), input_file_name().as("f"))
        .select("v.*", "f").collect()
    }
    val drainOf: Array[Int] = sched.phase.map {
      case p if p.startsWith("high") => p.stripPrefix("high").toInt
      case _ => -1
    }
    val seen = new Array[Int](sched.n)
    var wrong = 0L
    val lowStart = sched.dueNs(sched.phase.indexOf("low"))
    val lowSpan = sched.dueNs(sched.phase.lastIndexOf("low")) - lowStart + 1
    val latMs = Array.fill(LatWindows)(scala.collection.mutable.ArrayBuffer.empty[Double])
    // per overload cycle: its last commit, its first batch, its batches
    val lastHighCommit = Array.fill(Drains)(0L)
    val firstHighBatch = Array.fill(Drains)(Long.MaxValue)
    val highBatches = Array.fill(Drains)(scala.collection.mutable.Set.empty[Long])
    for (r <- rows) {
      val i = r.getAs[Long]("index").toInt
      val batch = r.getAs[String]("f") match {
        case BatchDir(id) => id.toLong
        case _ => -1L
      }
      val ok = i >= 0 && i < sched.n && sched.origin(i) &&
        r.getAs[String]("source") == "transform" &&
        r.getAs[Long]("count") == sched.burstOf(i) &&
        r.getAs[Long]("timeout") == sched.timeout(i) && commitNs.containsKey(batch)
      if (!ok) wrong += 1
      else {
        seen(i) += 1
        val b = sched.burstOf(i)
        val c = commitNs.get(batch)
        if (sched.phase(b) == "low")
          latMs(((sched.dueNs(b) - lowStart) * LatWindows / lowSpan).toInt) +=
            (c - origin0 - sched.dueNs(b)) / 1e6
        val k = drainOf(b)
        if (k >= 0) {
          lastHighCommit(k) = lastHighCommit(k) max c
          firstHighBatch(k) = firstHighBatch(k) min batch
          highBatches(k) += batch
        }
      }
    }
    val expected = (0 until sched.n).count(sched.origin(_))
    val missing = (0 until sched.n).count(i => sched.origin(i) && seen(i) == 0)
    val dup = seen.map(s => (s - 1) max 0).sum.toLong
    attempted = sched.n
    failed = wrong + missing + dup
    if (failed > 0) errors += s"bus: expected $expected, missing $missing, duplicated $dup, wrong $wrong"

    // a cycle's drain starts when the loop is free to take its backlog:
    // when the append has returned, or when the batch then in flight
    // commits
    val drainWalls = (0 until Drains).map { k =>
      val first = drainOf.indexOf(k)
      val prior = firstHighBatch(k) - 1
      val sent = origin0 + sentNs(first)
      val start = if (commitNs.containsKey(prior)) commitNs.get(prior) max sent else sent
      (lastHighCommit(k) - start) / 1e9
    }
    val drainS = Stats.median(drainWalls)
    val highDue = origin0 + sched.dueNs(drainOf.indexOf(0))
    metrics("setup.session_s") = sessionS
    metrics("setup.warm_s") = setupS - sessionS
    metrics("setup_s") = setupS
    // each latency quantile is taken per window, and run.py reports the
    // median over all windows of the run, so a stall of the shared host
    // during one window does not set the run's tail
    val latP50 = latMs.toSeq.map(w => Stats.quantile(w.toSeq, 0.5))
    val latP90 = latMs.toSeq.map(w => Stats.quantile(w.toSeq, 0.9))
    metrics("lat_p50_ms") = Stats.median(latP50)
    metrics("lat_p90_ms") = Stats.median(latP90)
    metrics("pass_s") = drainS
    metrics("peak_eps") = Stats.median(drainWalls.map(backlogEvents / _))
    metrics("heap_live_mb") = heapMb
    val lowBatches = commitNs.asScala.count { case (_, c) =>
      c >= warmEnd && c < highDue }
    metrics("lat_samples") = latMs.map(_.size).sum.toDouble
    metrics("low_batches") = lowBatches.toDouble
    metrics("drain_batches") = highBatches.map(_.size).sum.toDouble
    samples("lat_p50_ms") = latP50
    samples("lat_p90_ms") = latP90
    samples("drain_s") = drainWalls
    samples("drain_eps") = drainWalls.map(backlogEvents / _)

    if (traced) {
      metrics("driver.idle_ms") = probes.idleMs(timedMs0, timedMs1)
      metrics("trace.pass_s") = drainS
      metrics("sources.rows_out") = rows.length.toDouble
      metrics("sources.out_per_in") = rows.length.toDouble / sched.n
      metrics("sink.call_ms") = sinkMs
      val dirs = Option(new java.io.File(s"$sinkDir/data").listFiles).toSeq.flatten
      metrics("sink.files_per_batch") = if (dirs.isEmpty) 0.0 else dirs.map(d =>
        Option(d.listFiles).toSeq.flatten.count(_.getName.endsWith(".parquet"))).sum.toDouble / dirs.size
      // generated minus consumed offsets at each commit
      var consumed = 0.0
      var backlog = 0.0
      for (id <- commitNs.keySet.asScala.toSeq.sorted) {
        consumed += probes.batchInput.getOrDefault(id, 0L)
        backlog = backlog max (genAtCommit.get(id) - consumed)
      }
      metrics("bus.backlog_max") = backlog
      val lates = sched.dueNs.indices.drop(setupBursts)
        .filterNot(sched.backlog) // a backlog is appended at once
        .map(b => (sentNs(b) - sched.dueNs(b)) / 1e6)
      metrics("bus.gen_late_ms") = if (lates.isEmpty) 0.0 else lates.max
    }
    spark.stop()
  }
}
