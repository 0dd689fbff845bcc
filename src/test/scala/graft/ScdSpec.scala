package graft

import graft.operators.Scd
import java.sql.Timestamp

class ScdSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private lazy val snaps = Seq(
    // key 1: seg changes at t3
    (1L, ts("2020-01-01"), "A", "x"),
    (1L, ts("2020-02-01"), "A", "x"),
    (1L, ts("2020-03-01"), "B", "x"),
    // key 2: tier changes at t2, seg stable
    (2L, ts("2020-01-01"), "C", "x"),
    (2L, ts("2020-02-01"), "C", "y"),
    (2L, ts("2020-03-01"), "C", "y"),
    // key 3: appears only at t2
    (3L, ts("2020-02-01"), "D", "x")
  ).toDF("k", "snap_ts", "seg", "tier")

  test("scd2Build: unchanged snapshots merge, each change opens an interval") {
    val out = Scd.scd2Build(snaps, "k", "snap_ts", Seq("seg", "tier"))
      .select("k", "seg", "tier", "valid_from", "valid_to")
      .as[(Long, String, String, Timestamp, Option[Timestamp])]
      .collect().sortBy(r => (r._1, r._4.getTime)).toSeq
    assert(out === Seq(
      (1L, "A", "x", ts("2020-01-01"), Some(ts("2020-03-01"))),
      (1L, "B", "x", ts("2020-03-01"), None),
      (2L, "C", "x", ts("2020-01-01"), Some(ts("2020-02-01"))),
      (2L, "C", "y", ts("2020-02-01"), None),
      (3L, "D", "x", ts("2020-02-01"), None)))
  }

  test("scd2Build: null-safe attribute comparison — null==null continues an island") {
    val s = Seq(
      (9L, ts("2020-01-01"), Option.empty[String], "x"),
      (9L, ts("2020-02-01"), Option.empty[String], "x"),
      (9L, ts("2020-03-01"), Some("E"), "x")
    ).toDF("k", "snap_ts", "seg", "tier")
    val out = Scd.scd2Build(s, "k", "snap_ts", Seq("seg", "tier"))
      .select("k", "seg", "tier", "valid_from", "valid_to")
      .as[(Long, Option[String], String, Timestamp, Option[Timestamp])]
      .collect().sortBy(_._4.getTime).toSeq
    assert(out === Seq(
      (9L, None, "x", ts("2020-01-01"), Some(ts("2020-03-01"))),
      (9L, Some("E"), "x", ts("2020-03-01"), None)))
  }

  test("pointInTimeJoin: facts resolve to the interval containing them") {
    val dim = Scd.scd2Build(snaps, "k", "snap_ts", Seq("seg", "tier"))
    val facts = Seq(
      (1L, ts("2019-12-15"), 10.0), // before first snapshot → nulls
      (1L, ts("2020-02-15"), 20.0), // inside (A,x)
      (1L, ts("2020-03-01"), 30.0), // exactly at the change → new value
      (2L, ts("2020-05-01"), 40.0)  // open interval → current value
    ).toDF("ck", "fts", "amt")
    val out = Scd.pointInTimeJoin(facts, dim, "ck", "k", "fts",
        Seq("seg", "tier"))
      .select("ck", "fts", "seg", "tier")
      .as[(Long, Timestamp, Option[String], Option[String])]
      .collect().sortBy(r => (r._1, r._2.getTime)).toSeq
    assert(out === Seq(
      (1L, ts("2019-12-15"), None, None),
      (1L, ts("2020-02-15"), Some("A"), Some("x")),
      (1L, ts("2020-03-01"), Some("B"), Some("x")),
      (2L, ts("2020-05-01"), Some("C"), Some("y"))))
  }
}
