package graft

import graft.operators.Sketches
import org.apache.spark.sql.functions._

/** Mergeable HLL sketches: the lossless-merge law (incremental path ≡
  * full-scan path, exactly) and an accuracy bound vs exact distinct
  * counts, on the driver's real documents (sf0.001). */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private lazy val toks = graft.operators.TextStats
    .tokenized(Tables.documents(spark, dir), "doc_id", "text").cache()

  test("union of per-source sketches equals the single whole-corpus sketch estimate EXACTLY") {
    val srcs = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("source"))
    val perSource = Sketches.tokenSketchBySource(toks, srcs)
    val merged = Sketches.unionEstimate(perSource)
      .as[Double].head()
    val whole = Sketches.distinctSketch(
        toks.select(lit("all").as("g"), explode(col("ws")).as("tok")), "g", "tok")
      .select(col("estimate")).as[Double].head()
    assert(merged == whole,
      s"HLL merge must be lossless: merged=$merged whole=$whole")
  }

  test("sketch of two disjoint halves unions to the full sketch (incremental ingestion law)") {
    val occ = toks.select(col("id"), explode(col("ws")).as("tok"))
    val halves = occ.withColumn("g",
      when(col("id") % 2 === 0, "a").otherwise("b"))
    val merged = Sketches.unionEstimate(
        Sketches.distinctSketch(halves, "g", "tok"))
      .as[Double].head()
    val whole = Sketches.distinctSketch(
        occ.select(lit("all").as("g"), col("tok")), "g", "tok")
      .select(col("estimate")).as[Double].head()
    assert(merged == whole)
  }

  test("estimates are within ±5% of exact distinct counts per source") {
    val srcs = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("source"))
    val est = Sketches.tokenSketchBySource(toks, srcs)
      .select(col("key"), col("estimate")).as[(String, Double)].collect().toMap
    val exact = toks.join(srcs, "id")
      .select(col("source"), explode(col("ws")).as("tok"))
      .groupBy("source").agg(countDistinct(col("tok")).as("d"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (src, d) =>
      val e = est(src)
      assert(math.abs(e - d) <= 0.05 * d + 1,
        s"$src: estimate $e vs exact $d out of tolerance")
    }
  }
}
