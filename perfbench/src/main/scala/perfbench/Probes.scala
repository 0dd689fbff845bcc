package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Epoch milliseconds with sub-millisecond resolution; the same clock as
  * Spark's listener event times, so bench spans and job spans nest. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory spans around the benchmark's own calls into the engine,
  * with Spark jobs and stages recorded as their child spans. A disabled
  * tracer records nothing and only runs the body. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String,
                        startMs: Double, endMs: Double)

  val SpanProp = "perfbench.span"
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(1)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  @volatile var sc: Option[SparkContext] = None

  def newId(): Long = ids.getAndIncrement()

  def record(id: Long, parent: Long, name: String, s: Double, e: Double): Unit =
    if (enabled) spans.add(Span(id, parent, name, s, e))

  /** Engine file a span calls into, for spans that name one. */
  val callee = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** Run `body` inside a span; Spark jobs it launches name it as parent.
    * `calls` names the engine file the body calls into, for jobs whose
    * own call site cannot: micro-batch jobs carry the call site of the
    * stream's `start()`. */
  def span[T](name: String, calls: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent: Long = current.get
      current.set(id)
      if (calls.nonEmpty) callee.put(id, calls)
      val prevProp = sc.map(_.getLocalProperty(SpanProp)).orNull
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
      val t0 = Clock.nowMs
      try body
      finally {
        record(id, parent, name, t0, Clock.nowMs)
        current.set(parent)
        sc.foreach(_.setLocalProperty(SpanProp, prevProp))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Counters and samples fed by Spark's public listeners. */
final class Counters {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  def add(k: String, v: Double): Unit = synchronized { sums(k) += v }
  def sample(k: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  }
  def sum(k: String): Double = synchronized(sums(k))
  def samplesOf(k: String): Seq[Double] =
    synchronized(samples.get(k).map(_.toSeq).getOrElse(Nil))
  def clear(): Unit = synchronized { sums.clear(); samples.clear() }
}

/** Attributes a Spark job to the engine module whose file launched it,
  * from the short call site ("save at Pipelines.scala:2363"). */
final class Modules(fileToModule: Map[String, String]) {
  private val At = """\bat ([A-Za-z0-9_$]+\.scala):\d+""".r
  private val Frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r
  def fileOf(callSite: String): Option[String] =
    Option(callSite).flatMap(cs => At.findFirstMatchIn(cs).map(_.group(1)))
      .filter(fileToModule.contains)
  /** Innermost engine or bench file of a long-form call site (a stack). */
  def firstFile(longForm: String): Option[String] =
    Option(longForm).flatMap(s => Frame.findAllMatchIn(s).map(_.group(1))
      .find(fileToModule.contains))
  def of(file: Option[String]): String =
    file.flatMap(fileToModule.get).getOrElse("unattributed")
}

object Modules {
  val names: Seq[String] = Seq("operators", "streaming", "queries", "sources",
    "plans", "functions", "core", "bench", "unattributed")

  /** Map every engine source file under `srcRoot` to its module (the
    * sub-directory of `graft/`, or `core` for top-level files) and the
    * benchmark's own files to `bench`. */
  def scan(srcRoot: java.io.File, benchFiles: Seq[String]): Modules = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val engine = walk(srcRoot).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = srcRoot.toPath.relativize(f.toPath)
      val module = if (rel.getNameCount > 1) rel.getName(0).toString else "core"
      f.getName -> module
    }
    new Modules((engine ++ benchFiles.map(_ -> "bench")).toMap)
  }
}

/** Job/stage/task counters, Catalyst phase times and micro-batch
  * progress, all from Spark's public listener interfaces. */
final class Probes(modules: Modules, tracer: Tracer) extends SparkListener {
  val c = new Counters
  private val jobStart = mutable.Map.empty[Int, (Double, String, Long, Boolean)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Double, Double)]
  private val openJobs = new AtomicLong(0)
  /** Call sites of jobs no module claimed, with their counts. */
  val unattributed = mutable.Map.empty[String, Int]
  /** Input rows per micro-batch id; kept across [[clear]]. */
  val batchInput = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  @volatile private var lastEventMs = Clock.nowMs

  private val execSite = mutable.Map.empty[Long, String]

  private def touch(): Unit = lastEventMs = Clock.nowMs

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = s.details }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized { execSite.remove(s.executionId) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch(); openJobs.incrementAndGet()
    val props = Option(e.properties)
    // a stage's name is the short call site of the job that made it
    val cs = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).orNull
    val parent = props.flatMap(p => Option(p.getProperty(tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    // jobs of a SQL execution (AQE stages run on a pool thread whose call
    // site names no user file) take the execution's call site
    val execCs = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
    val file = Option(tracer.callee.get(parent))
      .orElse(execCs.flatMap(modules.firstFile)).orElse(modules.fileOf(cs))
    val module = modules.of(file)
    val isStore = file.contains("Pipelines.scala")
    jobStart(e.jobId) = (e.time.toDouble, module, parent, isStore)
    jobSpan(e.jobId) = tracer.newId()
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    c.add("jobs.total", 1); c.add(s"jobs.$module", 1)
    if (module == "unattributed")
      unattributed(String.valueOf(cs)) = unattributed.getOrElse(String.valueOf(cs), 0) + 1
    if (isStore) c.add("store.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch(); openJobs.decrementAndGet()
    jobStart.remove(e.jobId).foreach { case (t0, module, parent, isStore) =>
      val t1 = e.time.toDouble
      intervals += ((t0, t1))
      if (isStore) c.add("store.job_ms", t1 - t0)
      tracer.record(jobSpan.getOrElse(e.jobId, tracer.newId()), parent,
        s"job.$module", t0, t1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val info = e.stageInfo
    c.add("stages.total", 1)
    for (t0 <- info.submissionTime; t1 <- info.completionTime) {
      val parent = stageJob.get(info.stageId).flatMap(jobSpan.get).getOrElse(0L)
      tracer.record(tracer.newId(), parent, s"stage.${info.stageId}",
        t0.toDouble, t1.toDouble)
    }
    stageTasks.remove(info.stageId).filter(_.size >= 2).foreach { ds =>
      val sorted = ds.sorted
      val median = sorted(sorted.size / 2).max(1L)
      c.sample("stage.skew", sorted.last.toDouble / median)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    c.add("tasks.total", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("exec.run_ms", m.executorRunTime.toDouble)
      c.add("exec.cpu_ms", m.executorCpuTime / 1e6)
      c.add("exec.gc_ms", m.jvmGCTime.toDouble)
      c.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      c.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      c.add("spill_mb", m.diskBytesSpilled / 1048576.0)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
      val store = stageJob.get(e.stageId).flatMap(jobStart.get).exists(_._4)
      if (store) {
        c.add("store.write_mb", m.outputMetrics.bytesWritten / 1048576.0)
        c.add("store.rows_written", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  /** Milliseconds of [t0, t1] during which no Spark job was running. */
  def idleMs(t0: Double, t1: Double): Double = synchronized {
    val clipped = intervals.map { case (a, b) => (a max t0, b min t1) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var end = t0
    for ((a, b) <- clipped) {
      val s = a max end
      if (b > s) { covered += b - s; end = b }
    }
    (t1 - t0) - covered
  }

  /** Wait until every started job has ended and no event arrived for a
    * short quiet period (listener delivery is asynchronous). */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = Clock.nowMs + timeoutMs
    while (Clock.nowMs < deadline &&
        (openJobs.get > 0 || Clock.nowMs - lastEventMs < 300)) Thread.sleep(20)
  }

  def clear(): Unit = synchronized { c.clear(); intervals.clear(); unattributed.clear() }

  /** Catalyst phase times per executed query. */
  val plans: QueryExecutionListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      touch()
      val ph = qe.tracker.phases
      c.add("catalyst.executions", 1)
      Seq("analysis", "optimization", "planning").foreach { p =>
        c.add(s"catalyst.${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = add(qe)
  }

  /** Micro-batch duration split and state-store progress. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      touch()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      def ms(keys: String*): Double = keys.map(d.getOrElse(_, 0.0)).sum
      c.add("stream.batches", 1)
      c.sample("stream.trigger_ms", ms("triggerExecution"))
      c.add("stream.plan_ms", ms("queryPlanning"))
      c.add("stream.addbatch_ms", ms("addBatch"))
      c.add("stream.wal_ms", ms("walCommit"))
      c.add("stream.commit_ms", ms("commitOffsets"))
      c.add("stream.offset_ms", ms("latestOffset", "getBatch", "getOffset",
        "setOffsetRange"))
      c.add("sources.rows_in", p.numInputRows.toDouble)
      val ops = p.stateOperators.toSeq
      if (ops.nonEmpty) {
        c.add("state.commit_ms", ops.map(_.commitTimeMs).sum.toDouble)
        c.add("state.late_dropped", ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
        // rows and memory held across all state stores after this batch
        c.sample("state.rows", ops.map(_.numRowsTotal).sum.toDouble)
        c.sample("state.mb", ops.map(_.memoryUsedBytes).sum / 1048576.0)
      }
      batchInput.put(p.batchId, p.numInputRows)
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (0 <= q <= 1) of `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
