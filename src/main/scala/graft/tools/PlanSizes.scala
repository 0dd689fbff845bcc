package graft.tools

import graft.{GraftSession, Tables}
import graft.queries.Registry

/** Per-query formatted-plan string size — the fat-plan detector that
  * found the round's localCheckpoint-leaf wins (a consumer whose plan
  * string is hundreds of KB re-pays analysis + AQE re-optimization of
  * the embedded subtree at every stage). Prints name, plan bytes and
  * node-ish line count, largest first.
  *
  * Not a dry run: building a query runs the one-time materialization
  * jobs of the session-shared frames it uses (`Materialized`,
  * `SessionCache`), so the first consumer of each pays real Spark work.
  *
  * Usage: runMain graft.tools.PlanSizes [minBytes]
  */
object PlanSizes {
  def main(args: Array[String]): Unit = {
    val minBytes = args.headOption.fold(20000)(a => a.toIntOption.getOrElse {
      System.err.println(
        s"usage: runMain graft.tools.PlanSizes [minBytes] (an integer, got '$a')")
      sys.exit(2)
    })
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "plan-sizes")
    spark.sparkContext.setLogLevel("ERROR")
    Tables.names.foreach(n => Tables.load(spark, dir, n).schema)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val rows = Registry.all
      .filter(q => only.forall(_.exists(q.name.startsWith)))
      .flatMap { q =>
        try {
          val s = q.run(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Some((q.name, s.length, s.linesIterator.size))
        } catch {
          case e: Throwable =>
            System.err.println(s"[plansizes] ${q.name} failed: ${e.getMessage}")
            None
        }
      }
      .sortBy(-_._2)
    rows.takeWhile(_._2 >= minBytes).foreach { case (n, b, l) =>
      println(f"[plansizes] $b%9d B $l%6d lines  $n")
    }
    println(f"[plansizes] TOTAL ${rows.map(_._2.toLong).sum}%d B over " +
      s"${rows.size} queries")
    spark.stop()
  }
}
