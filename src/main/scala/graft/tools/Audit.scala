package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.{GraftSession, Tables}
import graft.queries.{GQuery, Registry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryListener}
import org.apache.spark.storage.BroadcastBlockId

/** One main for the engine's per-query numbers. Wall time on a shared
  * box swings ±15 % run to run, so round-over-round judging uses the two
  * counters that are deterministic, each query's Spark job count and its
  * shuffle bytes (`perf`); the other modes split one query's wall by job,
  * by planning phase or by micro-batch, or inspect its physical plan.
  *
  * {{{
  *   Audit perf <out.json> [sfDir]  every query warm, then measured: JSON of jobs,
  *                                  shuffle MB, wall; top 15; exit 1 over 8 GB
  *   Audit jobs <query>             job and broadcast counts, then each job's
  *                                  cost, task deserialization, description
  *                                  and stages
  *   Audit time <q1,…> [reps]       build / plan / exec split of each rep
  *   Audit stream <query> [reps]    each micro-batch's durationMs and state
  *   Audit plans [q…]               static-plan census (exit 1 on a cartesian
  *                                  product), size ranking, named plans' text
  * }}}
  *
  * Run as `scripts/run.sh graft.tools.Audit <mode> …`, all output on stdout.
  * `SPARK_GRAFT_SF_DIR` sets the data dir (default sf0.01 for perf, sf0.001
  * for plans, else sf0.1). Cores set the shuffle partitions and so the
  * counts: perf and plans use 8, jobs 32, time and stream `SPARK_GRAFT_CPUS`
  * (default 32). `SPARK_GRAFT_ONLY` keeps the perf and name-less plans
  * queries that start with one of its comma-separated prefixes. Walls are
  * informational: `scripts/perf_diff.py` flags only job or shuffle growth.
  */
object Audit {

  /** No query at the test scale factors legitimately shuffles this much. */
  val MaxShuffleBytes: Long = 8000000000L

  /** One finished job: its description (first line, "" if unset), stage
    * names and the executor deserialization time of its tasks. */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: String,
      description: String, deserializeMs: Long)
  final case class Batch(query: String, id: Long, rows: Long,
      durationMs: Map[String, Long], state: Seq[StateOperatorProgress])

  /** Jobs, per-job timings, descriptions, stage names and task
    * deserialization time, shuffle bytes of completed stages, broadcasts
    * and stream micro-batch progress, fed by one SparkListener and one
    * StreamingQueryListener. */
  private[graft] final class Collector {
    import Collector.Open
    private val jobs, readBytes, writeBytes = new AtomicLong
    val finished = new ConcurrentLinkedQueue[Job]
    val batches = new ConcurrentLinkedQueue[Batch]
    private val events = new AtomicLong
    private val broadcastIds = ConcurrentHashMap.newKeySet[java.lang.Long]()
    private val open = new ConcurrentHashMap[Int, Open]
    private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]

    private def firstLine(s: String) = s.takeWhile(_ != '\n')
    private val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val desc = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        open.put(j.jobId, Open(j.time, desc.map(firstLine).getOrElse(""),
          j.stageInfos.map(s => firstLine(s.name)).mkString(" | "), j.stageIds, new AtomicLong))
        // a stage two open jobs share counts once, for the job that listed it first
        j.stageIds.foreach(stageJob.putIfAbsent(_, j.jobId))
        events.incrementAndGet()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(open.remove(j.jobId)).foreach { o =>
          o.stageIds.foreach(stageJob.remove(_, j.jobId))
          finished.add(Job(j.jobId, o.startMs, j.time, o.stages, o.description,
            o.deserializeMs.get))
        }
        events.incrementAndGet()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        readBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        writeBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        // a stage completes before the job that ran it ends
        stageJob.get(s.stageInfo.stageId).flatMap(id => Option(open.get(id)))
          .foreach(_.deserializeMs.addAndGet(m.executorDeserializeTime))
        events.incrementAndGet()
      }
      // every broadcast reports its pieces to the master as it is written
      override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
        b.blockUpdatedInfo.blockId match {
          case BroadcastBlockId(id, _) if b.blockUpdatedInfo.storageLevel.isValid =>
            broadcastIds.add(id)
          case _ =>
        }
        events.incrementAndGet()
      }
    }
    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        batches.add(Batch(p.name, p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.toSeq))
        events.incrementAndGet()
      }
    }

    def attach(spark: SparkSession): this.type = {
      spark.sparkContext.addSparkListener(jobListener)
      spark.streams.addListener(streamListener)
      this
    }
    def detach(spark: SparkSession): Unit = {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.streams.removeListener(streamListener)
    }

    /** Listener events arrive asynchronously and runs here are serial, so
      * wait until no event has arrived for 30 ms (at most 3 s); returns
      * (jobs, shuffle read bytes, shuffle write bytes). */
    def settle(): (Long, Long, Long) = {
      var (prev, tries) = (-1L, 0)
      while (prev != events.get && tries < 100) {
        prev = events.get; Thread.sleep(30); tries += 1
      }
      (jobs.get, readBytes.get, writeBytes.get)
    }

    /** Distinct broadcasts written so far; read after [[settle]]. */
    def broadcasts: Long = broadcastIds.size.toLong
  }
  private[graft] object Collector {
    private final case class Open(startMs: Long, description: String, stages: String,
        stageIds: Seq[Int], deserializeMs: AtomicLong)
  }

  /** One query's counts: measured pass deltas, plus the warm pass's
    * shuffle write so the budget sees every byte. */
  final case class Run(name: String, jobs: Long, readBytes: Long, writeBytes: Long,
      wall: Double, ok: Boolean, warmWriteBytes: Long, broadcasts: Long)

  /** Runs `q` into the noop sink twice and measures the second pass: the
    * warm pass fills the session-shared caches, so the measured ladder does
    * not depend on what ran before (measured cold, registering q338 once
    * shifted q100 by a false +4 jobs). A failed pass marks the run failed. */
  private[graft] def warmThenMeasure(spark: SparkSession, dir: String, q: GQuery,
      c: Collector): Run = {
    def once(): Boolean =
      try { noop(spark, dir, q); true } catch { case e: Throwable =>
        println(s"[audit] ${q.name} FAILED: ${e.getMessage}")
        false
      }
    val (_, _, w0) = c.settle()
    once()
    val (j1, r1, w1) = c.settle()
    val b1 = c.broadcasts
    c.finished.clear(); c.batches.clear()
    val (ok, wall) = timed(once())
    val (j2, r2, w2) = c.settle()
    Run(q.name, j2 - j1, r2 - r1, w2 - w1, wall, ok, w1 - w0, c.broadcasts - b1)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
  private def noop(spark: SparkSession, dir: String, q: GQuery): Double =
    timed(q.run(spark, dir).write.format("noop").mode("overwrite").save())._2

  /** The artifact `scripts/perf_diff.py` and `RegistryReport --check` read. */
  def perfJson(sfDir: String, cores: Int, rows: Seq[Run]): String = {
    def mb(b: Long) = math.round(b / 1e4) / 100.0
    val items = rows.map { r =>
      s""""${r.name}":{"jobs":${r.jobs},"shuffle_read_mb":${mb(r.readBytes)},""" +
        s""""shuffle_write_mb":${mb(r.writeBytes)},"wall_s":${math.round(r.wall * 100) / 100.0}""" +
        (if (r.ok) "}" else ""","failed":true}""")
    }.mkString(",")
    val totals =
      s"""{"queries":${rows.size},"jobs":${rows.map(_.jobs).sum},""" +
        s""""shuffle_read_mb":${mb(rows.map(_.readBytes).sum)},""" +
        s""""shuffle_write_mb":${mb(rows.map(_.writeBytes).sum)},""" +
        s""""failed":${rows.count(!_.ok)}}"""
    s"""{"sf_dir":"$sfDir","cores":$cores,"totals":$totals,"queries":{$items}}"""
  }

  /** Runs whose warm or measured pass shuffled more than [[MaxShuffleBytes]]. */
  def overBudget(rows: Seq[Run]): Seq[Run] =
    rows.filter(r => math.max(r.writeBytes, r.warmWriteBytes) > MaxShuffleBytes)

  /** Shuffle and join operators of a physical plan. A non-broadcast
    * CartesianProduct is `flagged`: at scale that plan never finishes. */
  final case class Census(shuffles: Int, bhj: Int, smj: Int, bnlj: Int, cartesian: Int) {
    def flagged: Boolean = cartesian > 0
  }
  def census(plan: SparkPlan): Census = {
    def n(f: PartialFunction[SparkPlan, Unit]): Int = plan.collect(f).size
    Census(n { case _: ShuffleExchangeExec => }, n { case _: BroadcastHashJoinExec => },
      n { case _: SortMergeJoinExec => }, n { case _: BroadcastNestedLoopJoinExec => },
      n { case _: CartesianProductExec => })
  }

  /** The named queries, else every query, sorted, whose name starts with
    * one of `SPARK_GRAFT_ONLY`'s comma-separated prefixes. */
  private[graft] def selected(names: Seq[String]): Seq[GQuery] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty))
    if (names.nonEmpty) {
      val byName = Registry.byName
      names.map(n => byName.getOrElse(n, sys.error(s"unknown query: $n")))
    } else Registry.all.sortBy(_.name).filter(q => only.forall(_.exists(q.name.startsWith)))
  }

  /** Reads every table's footer once so no query pays the listing job. */
  private def warmFooters(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach(n => Tables.load(spark, dir, n).schema)

  def main(args: Array[String]): Unit = {
    val (mode, rest) = (args.headOption.getOrElse(""), args.drop(1).toSeq)
    def arg(i: Int, default: String) = rest.lift(i).getOrElse(default)
    val (dir0, cores) = mode match {
      case "perf" => ("/root/testdata/sf0.01", 8)
      case "plans" => ("/root/testdata/sf0.001", 8)
      case "jobs" => ("/root/testdata/sf0.1", 32)
      case "time" | "stream" =>
        ("/root/testdata/sf0.1", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      case _ =>
        println("usage: Audit perf <out.json> [sfDir] | jobs <query> | time " +
          "<q1,...> [reps] | stream <query> [reps] | plans [q...]"); sys.exit(2)
    }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", dir0)
    val spark = GraftSession.local(cores, s"graft-audit-$mode")
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Collector().attach(spark)
    def named(default: String) = selected(arg(0, default).split(",").toSeq)
    val code = try mode match {
      case "perf" => perf(spark, arg(1, dir), cores, arg(0, "PERF.json"), c)
      case "plans" => plans(spark, dir, rest)
      case "jobs" =>
        val r = warmThenMeasure(spark, dir, named("q329_streaming_pit_enrich").head, c)
        val js = c.finished.asScala.toSeq.map(j => (j.endMs - j.startMs, j)).sortBy(-_._1)
        println(f"[jobs] ${r.name}: ${r.jobs} jobs, ${r.broadcasts} broadcasts, ${r.wall}%.2f s")
        println(f"[jobs] job-sum=${js.map(_._1).sum / 1e3}%.2f s")
        println(f"[jobs] deserialize-sum=${js.map(_._2.deserializeMs).sum / 1e3}%.2f s")
        for ((ms, j) <- js.take(40)) println(f"[jobs] $ms%8d ms  job#${j.id}  " +
          f"deser=${j.deserializeMs}%d ms  ${if (j.description.isEmpty) "" else s"[${j.description}] "}" +
          j.stages)
        0
      case "time" =>
        val qs = named("q127_curation_v7")
        for (rep <- 1 to arg(1, "3").toInt; q <- qs) {
          val (df, build) = timed(q.run(spark, dir))
          val (_, plan) = timed(df.queryExecution.executedPlan)
          val (_, exec) = timed(df.write.format("noop").mode("overwrite").save())
          println(f"[time] ${q.name} rep $rep: wall=${build + plan + exec}%.2f build=$build%.2f " +
            f"plan=$plan%.2f exec=$exec%.2f")
        }
        0
      case "stream" =>
        val q = named("q331_stream_stream_interval_join").head
        for (rep <- 1 to arg(1, "2").toInt) {
          c.settle(); c.batches.clear()
          val s = noop(spark, dir, q)
          c.settle()
          c.batches.forEach { b =>
            println(s"[stream] ${b.query} batch=${b.id} rows=${b.rows} durations=${b.durationMs}")
            b.state.foreach(so => println(s"[stream]   state op=${so.operatorName} " +
              s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
              s"commitMs=${so.commitTimeMs} memUsed=${so.memoryUsedBytes}"))
          }
          println(f"[stream] ${q.name} rep $rep total $s%.2f s")
        }
        0
    } finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  private def perf(spark: SparkSession, dir: String, cores: Int, out: String,
      c: Collector): Int = {
    warmFooters(spark, dir)
    val rows = selected(Nil).map(warmThenMeasure(spark, dir, _, c))
    Files.write(Paths.get(out), perfJson(dir, cores, rows).getBytes("UTF-8"))
    def mb(b: Long) = b / 1e6
    println(s"[perfaudit] ${rows.size} queries, ${rows.map(_.jobs).sum} jobs, " +
      f"write=${math.round(rows.map(_.writeBytes).sum / 1e4) / 100.0}%.1f MB → $out")
    println("[shuffleaudit] top 15 by shuffle write:")
    rows.sortBy(-_.writeBytes).take(15).foreach { r =>
      println(f"[shuffleaudit] ${r.name}%-30s write=${mb(r.writeBytes)}%9.1f MB " +
        f"read=${mb(r.readBytes)}%9.1f MB")
    }
    println(f"[shuffleaudit] TOTAL write=${mb(rows.map(_.writeBytes).sum)}%.1f MB " +
      f"read=${mb(rows.map(_.readBytes).sum)}%.1f MB over ${rows.size} queries")
    // the roster lets `RegistryReport --check` hold a saved copy to the registry
    println(s"[shuffleaudit] audited (${rows.size}): " + rows.map(_.name).sorted.mkString(", "))
    val bad = overBudget(rows)
    if (bad.nonEmpty) {
      println("[shuffleaudit] FAIL over-budget: " + bad.map(r =>
        f"${r.name} ${mb(math.max(r.writeBytes, r.warmWriteBytes))}%.0f MB").mkString(", "))
      1
    } else { println("[shuffleaudit] OK: every query within the shuffle budget"); 0 }
  }

  /** Census, size and (for named queries) text of each static plan: AQE is
    * off, or the plan hides in an AdaptiveSparkPlanExec until execution. Not
    * a dry run: a build runs its shared frames' one-time materialization jobs. */
  private def plans(spark: SparkSession, dir: String, names: Seq[String]): Int = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    warmFooters(spark, dir)
    val rows = selected(names).map { q =>
      val qe = q.run(spark, dir).queryExecution
      val k = census(qe.executedPlan)
      println(f"[planlint] ${q.name}%-28s shuffles=${k.shuffles} bhj=${k.bhj} " +
        f"smj=${k.smj} bnlj=${k.bnlj} cartesian=${k.cartesian}")
      val text = qe.explainString(FormattedMode)
      if (names.nonEmpty) println(s"\n========== ${q.name} ==========\n$text")
      (q.name, k, text.length, text.linesIterator.size)
    }
    rows.sortBy(-_._3).takeWhile(_._3 >= 20000).foreach { case (q, _, b, l) =>
      println(f"[plansizes] $b%9d B $l%6d lines  $q")
    }
    println(s"[plansizes] TOTAL ${rows.map(_._3.toLong).sum} B over ${rows.size} queries")
    val bad = rows.filter(_._2.flagged).map(_._1)
    if (bad.nonEmpty) {
      println(s"[planlint] FAIL: CartesianProduct in: ${bad.mkString(", ")}")
      1
    } else { println("[planlint] OK: no non-broadcast cartesian products"); 0 }
  }
}
