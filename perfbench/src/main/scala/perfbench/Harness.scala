package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Entry point of the benchmark's JVM half. `run.py` generates the
  * inputs, launches this main, and checks outputs against DuckDB.
  *
  *   --workload W --seed N --seconds S --trace 0|1 --out DIR --cores N
  *   --src DIR (engine sources, for job attribution)
  *   batch: --data DIR --queries a,b,c --passes N
  *   bus:   --low_eps R --plateau_eps R [--drop_batch ID]
  *
  * Writes `<out>/result.json`: every metric measured (by name), the
  * failures seen, and — traced — `<out>/spans.jsonl`.
  */
object Harness {
  val benchFiles: Seq[String] =
    Seq("Harness.scala", "Probes.scala", "BatchWorkload.scala", "BusWorkload.scala")

  final class Ctx(val opts: Map[String, String]) {
    val workload: String = opts("workload")
    val seed: Long = opts("seed").toLong
    val seconds: Double = opts("seconds").toDouble
    val traced: Boolean = opts("trace") == "1"
    val cores: Int = opts.getOrElse("cores", "4").toInt
    val data: String = opts.getOrElse("data", "")
    val out: Path = Paths.get(opts("out"))
    val tracer = new Tracer(traced)
    val probes = new Probes(
      Modules.scan(new java.io.File(opts("src")), benchFiles), tracer)
    /** Metrics by name; run.py picks the ones the trace mode reports. */
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    /** Raw samples by name, which run.py pools over the run's JVMs. */
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]

    def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = tracer.span(name)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }

    /** Session build, with listeners attached only on a traced run. */
    def session(): SparkSession = {
      val spark = GraftSession.local(cores, s"perfbench-$workload")
      tracer.sc = Some(spark.sparkContext)
      if (traced) {
        spark.sparkContext.addSparkListener(probes)
        spark.listenerManager.register(probes.plans)
        spark.streams.addListener(probes.streams)
      }
      spark
    }

    /** Per-layer counters of the timed phase, divided by `per`. */
    def putCounters(per: Double): Unit = {
      val c = probes.c
      val sums = Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "catalyst.executions", "jobs.total",
        "stages.total", "tasks.total", "exec.run_ms", "exec.cpu_ms",
        "exec.gc_ms", "shuffle.read_mb", "shuffle.write_mb", "spill_mb",
        "stream.batches", "stream.plan_ms", "stream.addbatch_ms",
        "stream.wal_ms", "stream.commit_ms", "stream.offset_ms",
        "store.jobs", "store.job_ms", "store.write_mb", "store.rows_written",
        "state.commit_ms", "state.late_dropped", "sources.rows_in") ++ Modules.names.map(m => s"jobs.$m")
      sums.foreach(k => metrics(k) = c.sum(k) / per)
      val jobs = c.sum("jobs.total")
      metrics("jobs.unattributed_frac") =
        if (jobs > 0) c.sum("jobs.unattributed") / jobs else 0.0
      val trig = c.samplesOf("stream.trigger_ms")
      metrics("stream.trigger_ms_p50") = nz(Stats.quantile(trig, 0.5))
      metrics("stream.trigger_ms_p90") = nz(Stats.quantile(trig, 0.9))
      // peak state held by any batch, not divided: it is a size
      metrics("state.rows") = c.samplesOf("state.rows").maxOption.getOrElse(0.0)
      metrics("state.mb") = c.samplesOf("state.mb").maxOption.getOrElse(0.0)
      metrics("stage.skew_p90") = nz(Stats.quantile(c.samplesOf("stage.skew"), 0.9))
    }

    def write(): Unit = {
      val body = Json.obj(Seq(
        "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "samples" -> Json.obj(samples.toSeq.map { case (k, vs) =>
          k -> vs.map(Json.num).mkString("[", ",", "]") }),
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
        "unattributed_sites" -> Json.obj(probes.unattributed.toSeq
          .sortBy(-_._2).take(10).map { case (k, n) => k -> n.toString })))
      Files.writeString(out.resolve("result.json"), body)
      if (traced) tracer.writeJsonl(out.resolve("spans.jsonl"))
    }
  }

  def nz(v: Double): Double = if (v.isNaN) 0.0 else v

  /** Driver heap in use after full collections. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val ctx = new Ctx(opts)
    Files.createDirectories(ctx.out)
    if (ctx.workload == "bus") BusWorkload.run(ctx)
    else BatchWorkload.run(ctx, opts("queries").split(",").toSeq.filter(_.nonEmpty))
    ctx.write()
  }
}
