package graft

import graft.operators.AsOfJoin

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("leftAsOf picks most recent right row at-or-before left ts, per key") {
    val left = Seq(
      (1L, 100L, "a"), (1L, 205L, "b"), (1L, 300L, "c"),
      (2L, 150L, "d"),
      (3L, 50L, "e")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, 100L, 10.0), (1L, 200L, 20.0), (1L, 301L, 30.0),
      (2L, 149L, 40.0)).toDF("rk", "rt", "rv")

    val out = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt", Seq("rv"))
      .orderBy("k", "t")
      .select($"k", $"t", $"tag", $"rv").as[(Long, Long, String, Option[Double])]
      .collect().toSeq

    assert(out === Seq(
      (1L, 100L, "a", Some(10.0)),   // exact-tie: right at same ts counts
      (1L, 205L, "b", Some(20.0)),   // most recent earlier
      (1L, 300L, "c", Some(20.0)),   // 301 is in the future → still 200
      (2L, 150L, "d", Some(40.0)),   // per-key isolation
      (3L, 50L, "e", None)))         // no right row → null
  }

  test("tolerance nulls out matches older than the window") {
    val left = Seq((1L, 100L, "a"), (1L, 300L, "b")).toDF("k", "t", "tag")
    val right = Seq((1L, 95L, 1.0)).toDF("rk", "rt", "rv")
    val out = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt", Seq("rv"),
        toleranceMs = Some(10L))
      .orderBy("t").select($"t", $"rv").as[(Long, Option[Double])]
      .collect().toSeq
    assert(out === Seq(
      (100L, Some(1.0)),   // age 5 ≤ 10 → kept
      (300L, None)))       // age 205 > 10 → nulled
  }

  test("inner as-of drops unmatched left rows, including tolerance-expired ones") {
    val left = Seq(
      (1L, 100L, "a"), (1L, 300L, "b"),
      (3L, 50L, "e")).toDF("k", "t", "tag")
    val right = Seq((1L, 95L, 1.0)).toDF("rk", "rt", "rv")
    val out = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt", Seq("rv"),
        toleranceMs = Some(10L), inner = true)
      .orderBy("t").select($"t", $"rv").as[(Long, Double)]
      .collect().toSeq
    // (1,300) had a match but it expired (age 205 > 10); (3,50) never
    // matched — inner semantics drop both instead of null-padding
    assert(out === Seq((100L, 1.0)))
  }

  test("string keys join in their native type (no numeric cast)") {
    // "u1"/"u10" would both cast to NULL under the old numeric-key cast,
    // silently cross-matching users; native string keys keep them apart.
    val left = Seq(
      ("u1", 100L, "a"), ("u10", 100L, "b")).toDF("k", "t", "tag")
    val right = Seq(
      ("u1", 50L, 1.0), ("u10", 60L, 2.0)).toDF("rk", "rt", "rv")
    val out = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt", Seq("rv"))
      .orderBy("k").select($"k", $"rv").as[(String, Option[Double])]
      .collect().toSeq
    assert(out === Seq(("u1", Some(1.0)), ("u10", Some(2.0))))
  }

  test("mismatched key types are rejected up front") {
    val l = Seq((1L, 1L, "x")).toDF("k", "t", "tag")
    val r = Seq(("1", 1L, 1.0)).toDF("rk", "rt", "rv")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.leftAsOf(l, r, "k", "rk", "t", "rt", Seq("rv"))
    }
    assert(e.getMessage.contains("key types must match"))
  }

  test("collision between right payload and left column names is rejected") {
    val l = Seq((1L, 1L, "x")).toDF("k", "t", "rv")
    val r = Seq((1L, 1L, 1.0)).toDF("rk", "rt", "rv")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.leftAsOf(l, r, "k", "rk", "t", "rt", Seq("rv"))
    }
    assert(e.getMessage.contains("collides"))
  }
}
