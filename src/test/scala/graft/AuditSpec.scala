package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.tools.{Audit, RegistryReport}

/** `tools.Audit`'s collector against an independent listener, its two
  * gates as pure functions, and the perf artifact's shape. */
class AuditSpec extends SparkSpec {

  /** Runs `f` with session confs set, then puts the old values back. */
  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("after settle, job and shuffle deltas of a two-stage groupBy equal a task-level count") {
    val (jobs, read, write) = (new AtomicLong, new AtomicLong, new AtomicLong)
    // registered first, so it sees every event before the collector does
    val independent = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Option(t.taskMetrics).foreach { m =>
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(independent)
    val c = new Audit.Collector().attach(spark)
    try {
      val (j0, r0, w0) = c.settle()
      val base = (jobs.get, read.get, write.get)
      spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count().collect()
      val (j1, r1, w1) = c.settle()
      val seen = (jobs.get - base._1, read.get - base._2, write.get - base._3)
      assert((j1 - j0, r1 - r0, w1 - w0) === seen)
      assert(seen._1 >= 2 && seen._2 > 0 && seen._3 > 0, s"$seen")
      assert(c.finished.asScala.exists(_.stages.nonEmpty))
    } finally {
      c.detach(spark)
      spark.sparkContext.removeSparkListener(independent)
    }
  }

  test("the census flags a non-broadcast cartesian product and passes a broadcast one") {
    val (a, b) = (spark.range(50).toDF("a"), spark.range(50).toDF("b"))
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plain = Audit.census(a.crossJoin(b).queryExecution.executedPlan)
      assert(plain.cartesian === 1 && plain.flagged, s"$plain")
      val hinted = Audit.census(a.crossJoin(broadcast(b)).queryExecution.executedPlan)
      assert(hinted.bnlj === 1 && hinted.cartesian === 0 && !hinted.flagged, s"$hinted")
    }
  }

  test("the shuffle budget flags a query above 8 GB on its warm or measured pass") {
    def run(name: String, write: Long, warm: Long) =
      Audit.Run(name, jobs = 3, readBytes = 0L, writeBytes = write, wall = 0.1, ok = true,
        warmWriteBytes = warm)
    val rows = Seq(run("q_small", 1L << 20, 1L << 20), run("q_at_bound", 8000000000L, 0L),
      run("q_measured", 8000000001L, 0L), run("q_warm", 0L, 9000000000L))
    assert(Audit.overBudget(rows).map(_.name) === Seq("q_measured", "q_warm"))
  }

  test("the perf JSON of two sf0.001 queries parses and names exactly those two") {
    val dir = "/root/testdata/sf0.001"
    val names = Seq("q01_pricing_summary", "q02_filter_project")
    val c = new Audit.Collector().attach(spark)
    val rows =
      try Audit.selected(names).map(Audit.warmThenMeasure(spark, dir, _, c))
      finally c.detach(spark)
    assert(rows.forall(r => r.ok && r.jobs > 0), s"$rows")
    val tree = new ObjectMapper().readTree(Audit.perfJson(dir, 4, rows))
    assert(tree.fieldNames.asScala.toSet === Set("sf_dir", "cores", "totals", "queries"))
    assert(tree.get("totals").fieldNames.asScala.toSet ===
      Set("queries", "jobs", "shuffle_read_mb", "shuffle_write_mb", "failed"))
    assert(tree.get("totals").get("jobs").asLong === rows.map(_.jobs).sum)
    val queries = tree.get("queries")
    assert(queries.fieldNames.asScala.toSeq === names)
    names.foreach(n => assert(queries.get(n).fieldNames.asScala.toSet ===
      Set("jobs", "shuffle_read_mb", "shuffle_write_mb", "wall_s")))
    val f = Files.createTempFile("audit-perf", ".json")
    try {
      Files.writeString(f, Audit.perfJson(dir, 4, rows))
      assert(RegistryReport.artifactNames(f.toString) === names.toSet)
    } finally Files.delete(f)
  }
}
