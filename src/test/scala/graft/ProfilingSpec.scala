package graft

import graft.operators.Profiling
import org.apache.spark.sql.functions._

class ProfilingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val t = Seq(
    (Some(1L), Some(2.5), Some("b")),
    (Some(1L), None, Some("a")),
    (Some(3L), Some(-1.25), None),
    (None, Some(2.5), Some("c"))
  ).toDF("k", "v", "s")

  test("profile: one row per column, exact counts, grid numeric min/max, verbatim strings") {
    val p = Profiling.profile(t, numericCols = Seq("k", "v"),
        stringCols = Seq("s"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    assert(p.keySet === Set("k", "v", "s"))
    val k = p("k")
    assert(k.getAs[Long]("n_rows") === 4L && k.getAs[Long]("n_null") === 1L)
    assert(k.getAs[Long]("n_distinct") === 2L)   // countDistinct skips null
    assert(k.getAs[Long]("min4") === 10000L && k.getAs[Long]("max4") === 30000L)
    assert(k.isNullAt(k.fieldIndex("min_s")))
    val v = p("v")
    assert(v.getAs[Long]("min4") === -12500L && v.getAs[Long]("max4") === 25000L)
    val s = p("s")
    assert(s.getAs[String]("min_s") === "a" && s.getAs[String]("max_s") === "c")
    assert(s.isNullAt(s.fieldIndex("min4")))
  }

  test("uniqueViolations / orphanCount / rangeViolations: exact, null-FK excluded, empty-safe") {
    val uv = Profiling.uniqueViolations(t, Seq("k")).head()
    // key 1 appears twice (one dup key, one surplus row); nulls group too
    assert(uv.getAs[Long]("n_dup_keys") === 1L)
    assert(uv.getAs[Long]("n_surplus_rows") === 1L)
    val clean = Profiling.uniqueViolations(t, Seq("k", "v", "s")).head()
    assert(clean.getAs[Long]("n_dup_keys") === 0L &&
      clean.getAs[Long]("n_surplus_rows") === 0L)
    val parent = Seq(1L).toDF("pk")
    // children: 1 matches, 3 orphaned, null FK NOT an orphan
    assert(Profiling.orphanCount(t, "k", parent, "pk")
      .head().getAs[Long]("n_orphans") === 1L)
    assert(Profiling.rangeViolations(t, "v", 0.0, 2.5)
      .head().getAs[Long]("n_violations") === 1L)   // only -1.25; nulls skip
  }

  test("groupLinFit: perfect line recovered exactly; zero-variance group dropped") {
    val rows = Seq(
      // group a: y = 2x + 3 exactly
      ("a", 1L, 5L), ("a", 2L, 7L), ("a", 3L, 9L), ("a", 10L, 23L),
      // group b: symmetric V around x=2 → slope 0, R² 0
      ("b", 1L, 10L), ("b", 2L, 0L), ("b", 3L, 10L),
      // group c: no x variance → dropped
      ("c", 4L, 1L), ("c", 4L, 9L)
    ).toDF("g", "x", "y")
    val out = graft.operators.Profiling.groupLinFit(rows, "g", "x", "y")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out.keySet === Set("a", "b"))
    assert(out("a") === ((4L, 2000000L, 3L, 10000L)))
    assert(out("b") === ((3L, 0L, 7L, 0L)))   // mean y = 20/3 → round 7
  }

  test("skewCensus: deterministic top-k, exact shares, ceiling salt factor") {
    val df = (Seq.fill(7)("hot") ++ Seq.fill(2)("warm") ++ Seq("cold"))
      .toDF("k")
    val out = Profiling.skewCensus(df, "k", k = 2, targetPerTask = 3L)
      .as[(String, Long, Long, Long)].collect().toSeq
    // hot: 7 rows → share 7000, salt ceil(7/3)=3; warm: 2 → 2000, salt 1
    assert(out === Seq(("hot", 7L, 7000L, 3L), ("warm", 2L, 2000L, 1L)))
  }

  test("categoricalAssociation: hand-computed 2×2 MI, chi-square, Cramér's V") {
    // cells: (a,0)=2 (a,1)=1 (b,0)=1 (b,1)=2; all marginals 3, n=6, e=1.5
    // chi² parts: 4 × round(1e4·0.25/1.5) = 4·1667 = 6668
    // MI parts: 2 × round(1e8·(2/6)·ln(4/3)) + 2 × round(1e8·(1/6)·ln(2/3))
    //         = 2·9589402 − 2·6757752 = 5663300
    // V = sqrt((6668/1e4)/(6·1)) → 3334
    val rows = Seq(("a", 0L), ("a", 0L), ("a", 1L),
      ("b", 0L), ("b", 1L), ("b", 1L)).toDF("x", "y")
    val out = Profiling.categoricalAssociation(rows, "x", "y")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((6L, 2L, 2L, 5663300L, 6668L, 3334L)))
  }

  test("categoricalAssociation: single-level column → zero association") {
    val rows = Seq(("a", 1L), ("b", 1L), ("a", 1L)).toDF("x", "y")
    val out = Profiling.categoricalAssociation(rows, "x", "y")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((3L, 2L, 1L, 0L, 0L, 0L)))
  }

  test("psi: union bin spine, add-half smoothing, replayed parts") {
    // W=10: side1 [5,15,15] → bins {0:1, 1:2}; side2 [5,25] → {0:1, 2:1}
    // union B=3, t1=3, t2=2
    val d1 = Seq(5L, 15L, 15L).toDF("v")
    val d2 = Seq(5L, 25L).toDF("v")
    val out = Profiling.psi(d1, d2, "v", binWidth = 10L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    def part8(n1: Long, n2: Long): Long = {
      val p = (n1 + 0.5) / (3 + 0.5 * 3); val q = (n2 + 0.5) / (2 + 0.5 * 3)
      java.math.BigDecimal.valueOf(1e8 * ((p - q) * math.log(p / q)))
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    }
    val expected = part8(1, 1) + part8(2, 0) + part8(0, 1)
    assert(out === Seq((3L, 2L, 3L, expected)))
    assert(expected > 0) // genuinely shifted distributions
  }

  test("psi: identical sides → exactly zero") {
    val d = Seq(1L, 11L, 21L, 21L).toDF("v")
    val out = Profiling.psi(d, d, "v", binWidth = 10L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((4L, 4L, 3L, 0L)))
  }

  test("welchT: hand-computed t and Welch–Satterthwaite df") {
    // g1 = [1,2,3]: mean 2, var 1, se 1/3 (v4 units: se1 = 1e8/3)
    // g2 = [2,4]:   mean 3, var 2, se 1   (se2 = 1e8)
    // t = −1/sqrt(4/3) = −0.8660 → −8660
    // df = (4/3)² / ((1/3)²/2 + 1) = 1.6842 → 16842
    // g3 = [5]: n < 2 → excluded entirely
    val rows = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 4.0), ("c", 5.0)).toDF("g", "v")
    val out = Profiling.welchT(rows, "g", "v")
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(out === Seq(("a", "b", 3L, 2L, 20000L, 30000L, -8660L, 16842L)))
  }

  test("decisionStump: hand-computed Gini gain picks the clean split") {
    // cells: s=0 → 3 neg; s=5 → 1 pos 1 neg; s=10 → 2 pos (P=3, N=4)
    // parent imp 24/49; t=5 → gain 27/98 → 2755; t=10 → 2612; t=0 → 0
    val rows = Seq((0L, false), (0L, false), (0L, false),
      (5L, true), (5L, false), (10L, true), (10L, true))
      .toDF("s", "y")
    val out = Profiling.decisionStump(rows, "s", "y")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((7L, 3L, 5L, 2755L, 3L, 4L)))
  }

  test("varianceExplained: perfect separation → 1, no separation → 0, constant → null") {
    // groups fully determine the value → η² = 1
    val sep = Seq(("a", 1.0), ("a", 1.0), ("b", 3.0), ("b", 3.0)).toDF("g", "v")
    assert(Profiling.varianceExplained(sep, "g", "v")
      .as[(Long, Option[Long])].head() === ((4L, Some(10000L))))
    // identical group distributions → η² = 0
    val none = Seq(("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0)).toDF("g", "v")
    assert(Profiling.varianceExplained(none, "g", "v")
      .as[(Long, Option[Long])].head() === ((4L, Some(0L))))
    // constant value → SS_total = 0 → null
    val const = Seq(("a", 2.0), ("b", 2.0)).toDF("g", "v")
    assert(Profiling.varianceExplained(const, "g", "v")
      .as[(Long, Option[Long])].head() === ((2L, None)))
  }

  test("fdViolations: modal-repair count; holding and failing FDs") {
    // a→b: a=1 maps {x:2, y:1} → 1 violation; a=2 maps {x:1} → 0
    // b→a: x maps {1:2, 2:1} → 1; y maps {1:1} → 0
    val rows = Seq((1L, "x"), (1L, "x"), (1L, "y"), (2L, "x"))
      .toDF("a", "b")
    val out = Profiling.fdViolations(rows, Seq(("a", "b"), ("b", "a")))
      .as[(String, String, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out === Map(
      ("a", "b") -> ((4L, 1L, false)),
      ("b", "a") -> ((4L, 1L, false))))
    val ok = Profiling.fdViolations(
        Seq((1L, "x"), (2L, "y")).toDF("a", "b"), Seq(("a", "b")))
      .as[(String, String, Long, Long, Boolean)].collect().head
    assert(ok === (("a", "b", 2L, 0L, true)))
  }

  test("kAnonymity: class census, risk counts, exact fraction") {
    // classes: (a,1)×3, (a,2)×1, (b,1)×2 → k=3: two classes below
    val rows = Seq(("a", 1L), ("a", 1L), ("a", 1L), ("a", 2L),
      ("b", 1L), ("b", 1L)).toDF("q1", "q2")
    val out = Profiling.kAnonymity(rows, Seq("q1", "q2"), k = 3L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((6L, 3L, 1L, 2L, 3L, 5000L)))
  }

  test("paretoPoint: exact largest-first count to 80% mass, within-cell ceiling") {
    // a: [10,5,3,1,1] total 20 → desc cum 10,15,18 ≥ 16 at k=3 → f=.6
    // b: [4,4,4,4,4] total 20 → one cell, needs exactly 4 of 5 docs
    val rows = (Seq(10L, 5L, 3L, 1L, 1L).map(("a", _)) ++
      Seq.fill(5)(("b", 4L))).toDF("g", "mass")
    val out = Profiling.paretoPoint(rows, "g", "mass")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out === Map(
      "a" -> ((5L, 20L, 3L, 6000L)),
      "b" -> ((5L, 20L, 4L, 8000L))))
  }

  test("giniByGroup: hand-computed ranks, ties, and degenerate groups") {
    val rows = Seq(
      ("a", 1L), ("a", 1L), ("a", 2L),  // G = 2/12 → 1667
      ("b", 7L),                        // single row → 0
      ("c", 0L), ("c", 10L),            // one row holds all → (n−1)/n = .5
      ("d", 5L), ("d", 5L)              // perfect equality → 0
    ).toDF("g", "mass")
    val out = Profiling.giniByGroup(rows, "g", "mass")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out === Map(
      "a" -> ((3L, 4L, 1667L)), "b" -> ((1L, 7L, 0L)),
      "c" -> ((2L, 10L, 5000L)), "d" -> ((2L, 10L, 0L))))
  }

  test("lDiversity: homogeneous class flagged even when k-anonymous") {
    // class A: 4 rows, all status 'x' → lv 1 (k-anonymous at k=4, yet
    // fully exposed); class B: 2 rows, statuses differ → lv 2
    val rows = Seq(("A", "x"), ("A", "x"), ("A", "x"), ("A", "x"),
      ("B", "x"), ("B", "y")).toDF("qi", "sv")
    val out = Profiling.lDiversity(rows, Seq("qi"), "sv", l = 2L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(out === ((6L, 2L, 1L, 1L, 4L, 6667L)))
    // k-anonymity on the same frame sees NO risk at k = 2
    val ka = Profiling.kAnonymity(rows, Seq("qi"), k = 2L)
      .select("n_small_classes").as[Long].collect().head
    assert(ka === 0L)
  }

  test("ebShrinkRates: hand-computed prior fit, pull direction, degenerate spread") {
    // groups: a 2/4 (raw6 500000), b 1/1 (1000000), c 0/5 (0)
    // m = 3/10; s1 = 1.5e6, s2 = 1.25e12, vv = 3·1.25e12 − 2.25e12 = 1.5e12
    // vr = 1.5e12/(9·1e12) = 1/6; k = .3·.7·6 − 1 = 0.26
    // a: (2+.078)/4.26 → 487793;  b: 1.078/1.26 → 855556;  c: .078/5.26 → 14829
    val rows = (Seq(true, true, false, false).map(("a", _)) ++
      Seq(("b", true)) ++ Seq.fill(5)(("c", false))).toDF("g", "ok")
    val out = Profiling.ebShrinkRates(rows, "g", "ok")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out === Map(
      "a" -> ((4L, 2L, 500000L, 487793L)),
      "b" -> ((1L, 1L, 1000000L, 855556L)),
      "c" -> ((5L, 0L, 0L, 14829L))))
    // small group moved most, large group least (shrinkage direction):
    assert(math.abs(1000000L - 855556L) > math.abs(500000L - 487793L))
    // degenerate spread: every group at the same rate → vv = 0 → raw kept
    val eq = Seq(("a", true), ("a", false), ("b", true), ("b", false))
      .toDF("g", "ok")
    val keep = Profiling.ebShrinkRates(eq, "g", "ok")
      .select("raw6", "shrunk6").as[(Long, Long)].collect()
    assert(keep.forall { case (r, s) => r === s && r === 500000L })
  }

  test("tCloseness: hand-computed TVD incl. absent-value mass; threshold split") {
    // A: x,x,x,y  B: x,y  C: y   → n=7, gx=4, gy=3
    // A: |21−16|+|7−12| = 10 → 10/56 → 1786
    // B: |7−8|+|7−6|   =  2 → 2/28  →  714
    // C: present y |7−3| = 4, ABSENT x adds 1·(7−3) = 4 → 8/14 → 5714
    val rows = (Seq("x", "x", "x", "y").map(("A", _)) ++
      Seq(("B", "x"), ("B", "y")) ++ Seq(("C", "y"))).toDF("qi", "sv")
    val out = Profiling.tCloseness(rows, Seq("qi"), "sv", t4 = 1000L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    // far: A (1786) and C (5714) → 2 classes, 5 rows, 7143 frac
    assert(out === ((7L, 3L, 5714L, 2L, 5L, 7143L)))
    // class distribution == global → TVD exactly 0
    val unif = Seq(("A", "x"), ("A", "y"), ("B", "x"), ("B", "y"))
      .toDF("qi", "sv")
    val z = Profiling.tCloseness(unif, Seq("qi"), "sv", t4 = 0L)
      .select("max_tvd4", "n_far_classes").as[(Long, Long)].collect().head
    assert(z === ((0L, 0L)))
  }

  test("mannWhitneyU: doubled midranks, tie correction, hand-computed z") {
    // A = [1, 2, 2], B = [2, 3] → pooled midranks 1, 3,3,3, 5
    // R_a = 7 (doubled 14); U_a = 5 (u2 = 10); ties Σe³−e = 24
    // var = .5·(6 − 24/20) = 2.4; z = 2/√2.4 = 1.29099 → 12910
    val rows = (Seq(1.0, 2.0, 2.0).map(("a", _)) ++ Seq(2.0, 3.0)
      .map(("b", _))).toDF("g", "v")
    val out = Profiling.mannWhitneyU(rows, "g", "v", "a", "b")
      .select(col("n_a"), col("n_b"), col("r2_a").cast("long"),
        col("u2_a").cast("long"), col("tie3").cast("long"), col("z4"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(out === ((3L, 2L, 14L, 10L, 24L, 12910L)))
    // identical samples → U = n²/2, z = 0
    val same = (Seq(1.0, 2.0).map(("a", _)) ++ Seq(1.0, 2.0)
      .map(("b", _))).toDF("g", "v")
    val s = Profiling.mannWhitneyU(same, "g", "v", "a", "b")
      .select(col("u2_a").cast("long"), col("z4"))
      .as[(Long, Long)].collect().head
    assert(s === ((4L, 0L)))
  }

  test("ksTwoSample: max ECDF gap, smallest attaining value") {
    // A = [1, 2, 2], B = [2, 3]: gaps at v: 1→|2−0|, 2→|6−3|, 3→0
    // max 3 of n_a·n_b = 6 → d6 = 500000 at v4 = 20000
    val rows = (Seq(1.0, 2.0, 2.0).map(("a", _)) ++ Seq(2.0, 3.0)
      .map(("b", _))).toDF("g", "v")
    val out = Profiling.ksTwoSample(rows, "g", "v", "a", "b")
      .as[(Long, Long, Long, Long)].collect().head
    assert(out === ((3L, 2L, 500000L, 20000L)))
    // identical distributions → D = 0 (argmax tie-break: smallest v)
    val same = (Seq(1.0, 2.0).map(("a", _)) ++ Seq(1.0, 2.0)
      .map(("b", _))).toDF("g", "v")
    val s = Profiling.ksTwoSample(same, "g", "v", "a", "b")
      .as[(Long, Long, Long, Long)].collect().head
    assert(s === ((2L, 2L, 0L, 10000L)))
  }

  test("skyline2d: strict dominance, same-axis ties dominated, dup cells counted") {
    // maximize u, minimize t. (10,3) beats (10,5) (same u, later t);
    // (9,4) dominated by (10,3); (8,2)×2 survives with count 2;
    // (6,2) dominated by (7,1); (5,1) dominated by (7,1) — a t-tie
    // with smaller u is OUT (strict dominance on the other axis).
    val rows = Seq((10L, 5L), (10L, 3L), (8L, 2L), (8L, 2L), (9L, 4L),
      (7L, 1L), (6L, 2L), (5L, 1L)).toDF("u", "t")
    val out = Profiling.skyline2d(rows, "u", "t")
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((10L, 3L, 1L), (8L, 2L, 2L), (7L, 1L, 1L)))
    // a single row is trivially the whole skyline
    val one = Profiling.skyline2d(Seq((1L, 1L)).toDF("u", "t"), "u", "t")
    assert(one.as[(Long, Long, Long)].collect().toSeq === Seq((1L, 1L, 1L)))
  }

  test("woeIv: separating bins get symmetric WOE; midpoint rule keeps tied cells") {
    // v = 1..8 one row each, label true iff v ≥ 5, 4 bins → two rows
    // per bin; bins 1-2 all-negative, 3-4 all-positive. Smoothed
    // shares .5/6 vs 2.5/6 → ln(1/5) = ∓16094 on the 1e4 grid;
    // iv_part = (1/3)·ln 5 → 536479 on the 1e6 grid, same all bins.
    val rows = (1L to 8L).map(v => (v, v >= 5L)).toDF("v", "y")
    val out = Profiling.woeIv(rows, "v", "y", bins = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 2L, 0L, -16094L, 536479L), (2L, 2L, 0L, -16094L, 536479L),
      (3L, 2L, 2L, 16094L, 536479L), (4L, 2L, 2L, 16094L, 536479L)))
    // a heavy tied cell straddling the boundary: v=1 ×5 then v=2 ×3,
    // 2 bins — the MIDPOINT rule bins the big cell where most of it
    // lives (bin 1); the endpoint rule would strand bin 1 empty
    val ties = (Seq.fill(5)((1L, false)) ++ Seq.fill(3)((2L, true)))
      .toDF("v", "y")
    val b = Profiling.woeIv(ties, "v", "y", bins = 2)
      .select("bin", "n").as[(Long, Long)].collect().toMap
    assert(b === Map(1L -> 5L, 2L -> 3L))
  }

  test("didEstimate: hand-computed 2×2 cells cancel level and trend") {
    // ctrl pre [10,20] → 15; ctrl post [30] → 30 (trend +15)
    // treat pre [20] → 20; treat post [50,60] → 55 (trend +35)
    // DiD = 35 − 15 = 20 → 200000 on the 1e4 grid
    val rows = Seq((0, false, 10L), (0, false, 20L), (0, true, 30L),
      (1, false, 20L), (1, true, 50L), (1, true, 60L))
      .toDF("arm", "post", "v")
    val out = Profiling.didEstimate(rows, "arm", "post", "v")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    assert(out === ((2L, 1L, 1L, 2L,
      150000L, 300000L, 200000L, 550000L, 200000L)))
  }

  test("cuped: perfect covariate explains the whole arm gap, ρ² = 1") {
    // y = 2x exactly → θ = 2, var_reduction = 1; the raw means differ
    // (4 vs 6) but the ADJUSTED means agree at 5 — the covariate, not
    // the arm, carried the difference
    val rows = Seq((0L, 1L, 2L), (0L, 3L, 6L), (1L, 2L, 4L),
      (1L, 4L, 8L)).toDF("variant", "x", "y")
    val out = Profiling.cuped(rows, "variant", "x", "y")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out === Map(
      0L -> ((2L, 40000L, 50000L, 20000L, 10000L)),
      1L -> ((2L, 60000L, 50000L, 20000L, 10000L))))
  }

  test("quantileNormalize: nearest-rank corpus mapping; single group is identity") {
    // corpus = {1,2,3,4,5}; A = [1,5] (m=2), B = [2,3,4] (m=3)
    // A: r1 → ⌈5/2⌉=3 → 3;  r2 → 5 → 5
    // B: r1 → ⌈5/3⌉=2 → 2;  r2 → ⌈10/3⌉=4 → 4;  r3 → 5 → 5
    val rows = Seq(("A", 1L, 10L), ("A", 5L, 11L), ("B", 2L, 12L),
      ("B", 3L, 13L), ("B", 4L, 14L)).toDF("g", "v", "id")
    val out = Profiling.quantileNormalize(rows, "g", "v", "id")
      .select("id", "qnorm").as[(Long, Long)].collect().toMap
    assert(out === Map(10L -> 3L, 11L -> 5L, 12L -> 2L, 13L -> 4L,
      14L -> 5L))
    // one group: the map is the identity (each rank maps to itself)
    val one = Seq(("A", 7L, 1L), ("A", 2L, 2L), ("A", 7L, 3L))
      .toDF("g", "v", "id")
    val idm = Profiling.quantileNormalize(one, "g", "v", "id")
      .select("v", "qnorm").as[(Long, Long)].collect()
    assert(idm.forall { case (v, q) => v === q })
  }

  test("itemCosine: minCo floor, both directions, windowed top-k tie-break") {
    import graft.operators.Itemsets
    // b1{x,y} b2{x,y} b3{x,z} b4{y} → n: x3 y3 z1; co: (x,y)=2, (x,z)=1
    val rows = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "y")).toDF("b", "i")
    // minCo 2 kills (x,z); cosine(x,y) = 2/√9 → 666667; both directions
    val strict = Itemsets.itemCosine(rows, "b", "i", minCo = 2L, k = 3)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSet
    assert(strict === Set(
      ("x", "y", 3L, 3L, 2L, 666667L, 1L),
      ("y", "x", 3L, 3L, 2L, 666667L, 1L)))
    // minCo 1: x ranks y (666667) above z (1/√3 → 577350)
    val loose = Itemsets.itemCosine(rows, "b", "i", minCo = 1L, k = 2)
      .where(col("item") === "x")
      .select("nbr", "cosine6", "rk")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._3)
    assert(loose === Seq(("y", 666667L, 1L), ("z", 577350L, 2L)))
    // k truncates: k = 1 keeps only the top neighbor
    assert(Itemsets.itemCosine(rows, "b", "i", 1L, 1)
      .where(col("item") === "x").count() === 1L)
  }

  test("pairAssociations: a-priori prune, duplicate rows, and exact lift") {
    import graft.operators.Itemsets
    // 4 baskets; item z appears in only 1 basket (< ceil(.5·4)=2) — the
    // a-priori prune must drop it BEFORE pairing, so (x,z)/(y,z) never
    // form. Basket 1 lists x twice: the distinct pass collapses it.
    val rows = Seq(
      (1L, "x"), (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"),
      (3L, "x"),
      (4L, "y")).toDF("b", "i")
    val out = Itemsets.pairAssociations(rows, "b", "i", 0.5)
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect()
    // x in 3 baskets, y in 3, pair (x,y) in 2 of 4:
    // support = 2/4 = .5 → 500000; conf x⇒y = 2/3 → 666667;
    // lift = 2·4/(3·3) = 8/9 → 888889 (mildly negative association)
    assert(out.toSeq === Seq(
      ("x", "y", 3L, 3L, 2L, 500000L, 666667L, 888889L)))
    // pair threshold also enforced: at frac .75 (min 3), (x,y) with
    // pair_n = 2 is itself infrequent even though both items pass
    val strict = Itemsets.pairAssociations(rows, "b", "i", 0.75)
    assert(strict.count() === 0L)
  }
}
