package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns using higher-order
  * functions (zip_with / aggregate) — fully codegen'd, no UDF
  * serialization, operating in double precision.
  */
object VectorFunctions {

  private val zero = lit(0.0)

  /** Dot product via zip_with + ordered left fold (deterministic
    * summation order: index 0..n-1). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      zero, (acc, x) => acc + x)

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity in [-1, 1]. Zero-vector convention — shared with the
    * native [[graft.plans.CosineSim]] expression: cos(0,0) = 1.0 (identical
    * inputs are fully similar), cos(0, y≠0) = 0.0. The denominator is
    * `sqrt(|a|²·|b|²)` (one sqrt of the product, not a product of sqrts) so
    * that for a == b the result is EXACTLY 1.0 — IEEE-754 guarantees
    * `sqrt(fl(x·x)) == |x|` absent over/underflow — keeping the
    * FoldSelfCosine optimizer rule an identity rewrite. */
  def cosine(a: Column, b: Column): Column = {
    val na = normSq(a); val nb = normSq(b)
    val denom = sqrt(na * nb)
    // hot path first: one condition + one division (HOF folds are
    // interpreted, so the branch shape sets the per-row fold count);
    // denom == 0 means at least one zero vector — 1.0 iff both are.
    when(denom > 0, dot(a, b) / denom)
      .otherwise(when(na === nb, lit(1.0)).otherwise(lit(0.0)))
  }

  /** DuckDB SQL text for a fully-unrolled dot product over a KNOWN
    * dimension (1-based list indexing), summed left to right. */
  def dotSql(a: String, b: String, dim: Int): String =
    (1 to dim).map(i =>
      s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")

  /** Same zero-vector convention and single-sqrt denominator as [[cosine]]
    * so DuckDB reproduces Spark's doubles bit-for-bit. */
  def cosineSql(a: String, b: String, dim: Int): String = {
    val naa = s"(${dotSql(a, a, dim)})"
    val nbb = s"(${dotSql(b, b, dim)})"
    s"""CASE WHEN $naa = 0 AND $nbb = 0 THEN CAST(1.0 AS DOUBLE)
       | WHEN $naa = 0 OR $nbb = 0 THEN CAST(0.0 AS DOUBLE)
       | ELSE (${dotSql(a, b, dim)}) / sqrt($naa * $nbb) END""".stripMargin.replace("\n", "")
  }

  /** Sign-bit LSH bucket over the first `bits` dimensions: a cheap,
    * deterministic coarse quantizer ('1' if dim ≥ 0 else '0', concatenated).
    * At scale: bucket once, shuffle by bucket, search within bucket —
    * turns O(N·Q) brute force into O(N·Q / 2^bits) expected. */
  def signBucket(a: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(a, i) >= 0, lit("1")).otherwise(lit("0"))): _*)

  def signBucketSql(a: String, bits: Int): String =
    (1 to bits).map(i =>
      s"CASE WHEN $a[$i] >= 0 THEN '1' ELSE '0' END").mkString("concat(", ", ", ")")
}
