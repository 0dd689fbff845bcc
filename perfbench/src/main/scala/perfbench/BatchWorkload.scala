package perfbench

import graft.Tables
import graft.queries.{GQuery, Registry}

import scala.collection.mutable

/** Closed-loop batch workload: one query at a time, each result fully
  * materialized through the `noop` sink.
  *
  * Set-up is the session, the table footers and one untimed check pass
  * (the first execution), which writes every result to parquet for the
  * DuckDB oracle compare. The timed phase then runs `passes` full passes
  * in the given order: a fixed count, not a fixed time, so every run
  * does the same work and retains the same frames.
  */
object BatchWorkload {
  def run(ctx: Harness.Ctx, names: Seq[String]): Unit = {
    import ctx._
    val passCount = opts("passes").toInt
    val byName = Registry.byName
    val queries: Seq[GQuery] = names.map(n =>
      byName.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))

    val (spark, sessionS) = timed("setup.session")(session())
    val (_, footersS) = timed("setup.footers") {
      Tables.names.foreach(n => Tables.load(spark, data, n).schema)
    }
    val checkDir = out.resolve("check")
    val (_, warmS) = timed("setup.warm") {
      queries.foreach { q =>
        attempted += 1
        try tracer.span(s"check.${q.name}") {
          q.run(spark, data).write.mode("overwrite")
            .parquet(checkDir.resolve(q.name).toString)
        } catch {
          case e: Throwable =>
            failed += 1
            errors += s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        }
      }
    }
    java.nio.file.Files.writeString(out.resolve("oracle.json"), Json.obj(
      queries.flatMap(q => q.oracle.map(sql => q.name -> Json.str(sql)))))
    metrics("setup.session_s") = sessionS
    metrics("setup.footers_s") = footersS
    metrics("setup.warm_s") = warmS
    metrics("setup_s") = sessionS + footersS + warmS

    probes.drain(); probes.clear()
    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var buildS = 0.0
    var execS = 0.0
    val startMs = Clock.nowMs
    val start = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    while (passWalls.size < passCount) {
      val p0 = System.nanoTime()
      tracer.span("pass") {
        queries.foreach { q =>
          attempted += 1
          val q0 = System.nanoTime()
          try tracer.span(s"query.${q.name}") {
            val (df, b) = timed("queries.build")(q.run(spark, data))
            val (_, x) = timed("queries.exec") {
              df.write.format("noop").mode("overwrite").save()
            }
            buildS += b
            execS += x
          } catch {
            case e: Throwable =>
              failed += 1
              errors += s"${q.name} (timed): ${e.getMessage}".take(500)
          }
          walls.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) +=
            (System.nanoTime() - q0) / 1e9
        }
      }
      passWalls += (System.nanoTime() - p0) / 1e9
    }
    val total = elapsed
    val endMs = Clock.nowMs
    val passes = passWalls.size.toDouble
    val all = walls.values.flatten.toSeq
    metrics("pass_s") = Stats.median(passWalls.toSeq)
    metrics("lat_p50_ms") = Stats.quantile(all, 0.5) * 1000
    metrics("lat_p90_ms") = Stats.quantile(all, 0.9) * 1000
    metrics("peak_eps") = all.size / total
    metrics("heap_live_mb") = Harness.liveHeapMb()
    metrics("passes") = passes
    metrics("lat_samples") = all.size.toDouble

    if (traced) {
      probes.drain()
      putCounters(passes)
      metrics("queries.build_s") = buildS / passes
      metrics("queries.exec_s") = execS / passes
      walls.foreach { case (n, ws) => metrics(s"query.${n}_s") = Stats.median(ws.toSeq) }
      metrics("driver.idle_ms") = probes.idleMs(startMs, endMs) / passes
      metrics("trace.pass_s") = metrics("pass_s")
    }
    spark.stop()
  }
}
