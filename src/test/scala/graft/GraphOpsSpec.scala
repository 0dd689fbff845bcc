package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._

/** PageRank over pair graphs: hand-computed values, determinism, and
  * ordering properties. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // path 1—2—3 (symmetrized) plus isolated vertex 4
  private def fixture = {
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L))
    val edges = pairs.toDF("src", "dst")
      .unionAll(pairs.map(_.swap).toDF("src", "dst"))
    (vertices, edges)
  }

  private def ranks(iters: Int): Map[Long, Double] = {
    val (v, e) = fixture
    GraphOps.pageRank(v, e, iters = iters)
      .select(col("id"), col("p")).as[(Long, Double)].collect().toMap
  }

  test("one iteration matches the hand computation") {
    // deg: 1→1, 2→2, 3→1; p0 = 1/4 each
    // contributions: v1 ← p0(2)/2 = 0.125; v2 ← p0(1)/1 + p0(3)/1 = 0.5;
    //                v3 ← 0.125; v4 ← nothing
    // p1(v) = 0.15/4 + 0.85·s
    val p = ranks(1)
    assert(math.abs(p(1L) - (0.15 / 4 + 0.85 * 0.125)) < 1e-9)
    assert(math.abs(p(2L) - (0.15 / 4 + 0.85 * 0.5)) < 1e-9)
    assert(math.abs(p(3L) - (0.15 / 4 + 0.85 * 0.125)) < 1e-9)
    assert(math.abs(p(4L) - 0.15 / 4) < 1e-9)
  }

  test("iterated ranks order center > leaves > isolated, stay positive, and are deterministic") {
    val p = ranks(3)
    val p2 = ranks(3)
    assert(p == p2, "bit-identical across runs")
    assert(p(2L) > p(1L) && p(1L) > p(4L))
    assert(p(1L) == p(3L), "symmetric leaves must tie exactly")
    assert(p.values.forall(_ > 0))
  }

  test("isolated vertices keep exactly the teleport mass at any depth") {
    assert(ranks(4)(4L) == (1 - 0.85) / 4)
  }

  test("labelPropagation: two bridged triangles stay separate communities; synchronous rounds hand-computed; isolated keeps own label") {
    // triangles {1,2,3} and {4,5,6} joined by bridge 3—4; isolated 7
    val vertices = (1L to 7L).toDF("id")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val edges = pairs.toDF("src", "dst")
      .unionAll(pairs.map(_.swap).toDF("src", "dst"))
    def lp(iters: Int): Map[Long, Long] =
      GraphOps.labelPropagation(vertices, edges, iters)
        .as[(Long, Long)].collect().toMap
    // round 1 from own-id labels (plurality of neighbor labels,
    // ties → min): 1 sees {2,3}→2; 2 sees {1,3}→1; 3 sees {1,2,4}→1;
    // 4 sees {3,5,6}→3; 5 sees {4,6}→4; 6 sees {4,5}→4; 7 isolated
    assert(lp(1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L,
      5L -> 4L, 6L -> 4L, 7L -> 7L))
    // after 3 synchronous rounds the triangles have settled on one
    // label each — and the bridge did NOT merge them (CC would)
    val got = lp(3)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L,
      5L -> 3L, 6L -> 3L, 7L -> 7L))
    assert(lp(3) === got, "label propagation must be deterministic")
  }

  test("modularity: hand-computed integer parts on the bridged triangles; isolated is a zero singleton") {
    // same fixture as the LPA test: m = 7 undirected edges, E2 = 14
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val edges = pairs.toDF("src", "dst")
      .unionAll(pairs.map(_.swap).toDF("src", "dst"))
    val labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L, 7L -> 7L).toDF("id", "community")
    val got = GraphOps.modularity(labels, edges)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // c1: degrees 2+2+3 = 7, intra 3 undirected = 6 directed →
    //   part = 14·6 − 7² = 35; c3 symmetric; c7 isolated → 0
    assert(got.toSeq === Seq(
      (1L, 3L, 7L, 6L, 35L, 14L),
      (3L, 3L, 7L, 6L, 35L, 14L),
      (7L, 1L, 0L, 0L, 0L, 14L)))
    // Q = Σ parts / E2² = 70/196 ≈ 0.357 — denser than chance, as a
    // two-community split of bridged triangles should be
    assert(got.map(_._5).sum.toDouble / (14.0 * 14.0) > 0.3)
  }

  test("modularityRefineRound: hand-computed gain moves the mislabeled bridge vertex; gain adds exactly to the Q-part delta; settled partition is a fixpoint") {
    // bridged triangles; v4 deliberately mislabeled into community 1
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val edges = pairs.toDF("src", "dst")
      .unionAll(pairs.map(_.swap).toDF("src", "dst"))
    val bad = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L).toDF("id", "community")
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      GraphOps.modularity(labels, edges)
        .agg(sum(col("q_4m2_part"))).head().getLong(0)
    val before = q(bad)
    val refined = GraphOps.modularityRefineRound(bad, edges)
    val got = refined.as[(Long, Long)].collect().toMap
    // v4: a=1, k_4,c5=2, k_4,c1=1, d=3, D_1=10, D_5=4, E2=14 →
    // gain = 2·14·(2−1) + 2·3·(10−4) − 2·9 = 46 > 0 → move to 5;
    // v5/v6 would LOSE by moving (−32) and stay; c1's triangle stays
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 5L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // the move's exact gain equals the Q-part delta: 24 → 70
    assert(before === 24L && q(refined) === 70L)
    assert(q(refined) - before === 46L)
    // a settled partition is a fixpoint of the sweep
    val again = GraphOps.modularityRefineRound(refined, edges)
      .as[(Long, Long)].collect().toMap
    assert(again === got)
  }

  test("louvain: swap guard merges the isolated pair, two levels recover both triangles, Q non-decreasing, coarsening preserves exact Q parts") {
    // bridged triangles (1-2-3, 4-5-6, bridge 3-4) + isolated pair
    // (8,9) + isolated vertex 7; E2 = 16 directed rows
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L), (8L, 9L))
    val edges = pairs.toDF("src", "dst")
      .unionAll(pairs.map(_.swap).toDF("src", "dst"))
    val verts = (1L to 9L).toDF("id")
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      GraphOps.modularity(labels, edges)
        .agg(sum(col("q_4m2_part"))).head().getLong(0)
    // LEVEL 1 (two synchronous sweeps from singletons, hand-traced):
    // sweep 1 merges v2,v3 into c1 and the PAIR into c8 (v9→c8 allowed,
    // v8→c9 blocked by the singleton-swap guard — without it they swap
    // labels forever and never merge); sweep 2 pulls v5 into c3 while
    // v6 overshoots to the just-vacated c4 (synchronous overshoot,
    // accepted)
    val l1 = GraphOps.louvain(verts, edges, levels = 1, sweepsPerLevel = 2)
      .as[(Long, Long)].collect().toMap
    assert(l1 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L,
      5L -> 3L, 6L -> 4L, 7L -> 7L, 8L -> 8L, 9L -> 8L))
    // LEVEL 2 coarsens and the supervertex {6} folds into {4,5}:
    // the final partition is the ideal one
    val l2df = GraphOps.louvain(verts, edges, levels = 2, sweepsPerLevel = 2)
    val l2 = l2df.as[(Long, Long)].collect().toMap
    assert(l2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L,
      5L -> 3L, 6L -> 3L, 7L -> 7L, 8L -> 8L, 9L -> 8L))
    // modularity non-decreasing across levels, exact 4m² parts:
    // singletons −36 → level 1: 78 → level 2: 122
    val singles = verts.select(col("id"), col("id").as("community"))
    val q0 = q(singles); val q1 = q(l1.toSeq.toDF("id", "community"))
    val q2 = q(l2df)
    assert(q0 === -36L && q1 === 78L && q2 === 122L)
    assert(q0 <= q1 && q1 <= q2)
    // a third level is a no-op: the partition is a cross-level fixpoint
    val l3 = GraphOps.louvain(verts, edges, levels = 3, sweepsPerLevel = 2)
      .as[(Long, Long)].collect().toMap
    assert(l3 === l2)
    // and the final partition is a fixpoint of the plain sweep too
    val again = GraphOps.modularityRefineRound(l2df, edges)
      .as[(Long, Long)].collect().toMap
    assert(again === l2)
    // COARSENING LAW: the coarse multigraph (communities as vertices,
    // weight as row multiplicity, intra rows as self-loops) scores
    // the SAME exact Q parts as the composed partition on the
    // original graph — E2, degree sums and intra counts all preserved
    val l1df = l1.toSeq.toDF("id", "community")
    val coarse = GraphOps.coarsen(l1df, edges)
    val coarseLabels = l1df.select(col("community").as("id")).distinct()
      .select(col("id"), col("id").as("community"))
    def parts(m: org.apache.spark.sql.DataFrame) =
      m.select(col("community"), col("d_c"), col("intra_dir"),
        col("q_4m2_part"), col("e2"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(parts(GraphOps.modularity(coarseLabels, coarse)) ===
      parts(GraphOps.modularity(l1df, edges)))
  }

  test("repairCommunityConnectivity: disconnected community splits with exact Q gain 2·D1·D2; connected partitions keep their member sets") {
    // two triangles with NO connecting edge, plus a pair; E2 = 14
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (8L, 9L))
    val edges = pairs.toDF("src", "dst")
      .unionAll(pairs.map(_.swap).toDF("src", "dst"))
    // community 1 is internally DISCONNECTED (both triangles), the
    // Louvain failure mode Leiden repairs
    val bad = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 8L -> 8L, 9L -> 8L).toDF("id", "community")
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      GraphOps.modularity(labels, edges)
        .agg(sum(col("q_4m2_part"))).head().getLong(0)
    val repaired = GraphOps.repairCommunityConnectivity(bad, edges)
      .localCheckpoint()
    val got = repaired.as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 4L, 6L -> 4L, 8L -> 8L, 9L -> 8L))
    // exact Q gain from the split: D1 = D2 = 6 → Δ(4m²Q) = 2·6·6 = 72
    assert(q(repaired) - q(bad) === 72L)
    // a CONNECTED partition keeps its member sets (labels canonicalize
    // to component minima)
    def sets(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      df.as[(Long, Long)].collect().groupBy(_._2)
        .values.map(_.map(_._1).toSet).toSet
    val again = GraphOps.repairCommunityConnectivity(repaired, edges)
    assert(sets(again) === sets(repaired))
    assert(again.as[(Long, Long)].collect().toMap === got,
      "already-canonical labels are a fixpoint")
  }

  test("pageRankWeighted: mass follows weight; w=1 equals unweighted bit-for-bit; hand-computed one-iteration split") {
    // star: 1 — 2 (weight 3), 1 — 3 (weight 1); v1's mass splits 3:1
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val wpairs = Seq((1L, 2L, 3L), (1L, 3L, 1L))
    val wedges = wpairs.toDF("src", "dst", "w")
      .unionAll(wpairs.map(t => (t._2, t._1, t._3)).toDF("src", "dst", "w"))
    val p = GraphOps.pageRankWeighted(verts, wedges, iters = 1)
      .as[(Long, Double)].collect().toMap
    // r0 = 1 each; contributions to v2: 1·3/4 = 0.75, to v3: 0.25,
    // to v1: 1 + 1 = 2 (each leaf sends all mass); p = (0.15 + 0.85·s)/3
    assert(math.abs(p(2L) - (0.15 + 0.85 * 0.75) / 3) < 1e-9)
    assert(math.abs(p(3L) - (0.15 + 0.85 * 0.25) / 3) < 1e-9)
    assert(math.abs(p(1L) - (0.15 + 0.85 * 2.0) / 3) < 1e-9)
    assert(p(2L) > p(3L), "the heavy edge carries more centrality")
    // w = 1 ≡ unweighted, bit-for-bit (same grid, same float ops)
    val ones = wedges.select(col("src"), col("dst")).withColumn("w", lit(1L))
    val pw = GraphOps.pageRankWeighted(verts, ones, iters = 3)
      .as[(Long, Double)].collect().toMap
    val pu = GraphOps.pageRank(verts,
        wedges.select(col("src"), col("dst")), iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(pw === pu)
  }

  test("labelPropagationWeighted: one heavy edge outvotes two light ones; unweighted tie falls to the smallest label; w=1 degrades to unweighted") {
    // v3's neighbors: 9 (weight 3), 4 and 5 (weight 1 each)
    val verts = Seq(3L, 4L, 5L, 9L).toDF("id")
    val wpairs = Seq((3L, 9L, 3L), (3L, 4L, 1L), (3L, 5L, 1L))
    val wedges = wpairs.toDF("src", "dst", "w")
      .unionAll(wpairs.map(t => (t._2, t._1, t._3)).toDF("src", "dst", "w"))
    val wgot = GraphOps.labelPropagationWeighted(verts, wedges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(wgot(3L) === 9L, "weight-sum plurality: 3 beats 1+1 ties")
    val ugot = GraphOps.labelPropagation(verts,
        wedges.select(col("src"), col("dst")), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(ugot(3L) === 4L, "unweighted three-way tie -> smallest label")
    val onesGot = GraphOps.labelPropagationWeighted(verts,
        wedges.select(col("src"), col("dst")).withColumn("w", lit(1L)),
        iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(onesGot === ugot)
  }

  test("louvainWeighted: weight flips the partition vs unweighted on the same topology; exact weighted Q parts; w=1 degrades to unweighted; weighted coarsening preserves exact parts") {
    // topology: 1—2, 1—3, 3—4, 3—5, 4—5. Weighted: the 1—2 and 1—3
    // edges carry weight 10, the rest weight 1 — v3 is tied to v1 by
    // ONE heavy near-identity edge and to {4,5} by TWO light edges.
    val verts = (1L to 5L).toDF("id")
    val wpairs = Seq((1L, 2L, 10L), (1L, 3L, 10L), (3L, 4L, 1L),
      (3L, 5L, 1L), (4L, 5L, 1L))
    val wedges = wpairs.toDF("src", "dst", "w")
      .unionAll(wpairs.map(t => (t._2, t._1, t._3)).toDF("src", "dst", "w"))
    val edges = wedges.select(col("src"), col("dst"))
    // hand-traced (sweep 1: v2→c1, v3→c1 [gain 440 beats 44 to the
    // light side], v4→c3, v5→c4; sweep 2: v5→c3): {1,2,3} + {4,5}
    val lw = GraphOps.louvainWeighted(verts, wedges,
      levels = 1, sweepsPerLevel = 2).as[(Long, Long)].collect().toMap
    assert(lw === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L))
    // UNWEIGHTED on the same topology: v3's two light edges outvote
    // the single heavy one (sweep 2 gain +6 toward c3) → {1,2} + {3,4,5}
    val lu = GraphOps.louvain(verts, edges,
      levels = 1, sweepsPerLevel = 2).as[(Long, Long)].collect().toMap
    assert(lu === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
    // weighted modularity, hand-computed on the 4W² scale: E2 = 46;
    // c1: d_c = 42, intra_w = 40 → 46·40 − 42² = 76; c3: d_c = 4,
    // intra_w = 2 → 46·2 − 16 = 76
    val lwDf = lw.toSeq.toDF("id", "community")
    val mw = GraphOps.modularityWeighted(lwDf, wedges)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(mw.toSeq === Seq((1L, 3L, 42L, 40L, 76L, 46L),
      (3L, 2L, 4L, 2L, 76L, 46L)))
    // a second level is a fixpoint (both coarse supervertices lose
    // −152 by merging)
    val lw2 = GraphOps.louvainWeighted(verts, wedges,
      levels = 2, sweepsPerLevel = 2).as[(Long, Long)].collect().toMap
    assert(lw2 === lw)
    // w = 1 degrades exactly to the unweighted algorithm + census
    val ones = edges.withColumn("w", lit(1L))
    val lw1 = GraphOps.louvainWeighted(verts, ones,
      levels = 1, sweepsPerLevel = 2).as[(Long, Long)].collect().toMap
    assert(lw1 === lu)
    val luDf = lu.toSeq.toDF("id", "community")
    val uw = GraphOps.modularity(luDf, edges)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val w1 = GraphOps.modularityWeighted(luDf, ones)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(w1 === uw)
    // WEIGHTED COARSENING LAW: weight-summing coarsening preserves the
    // exact 4W² parts of the composed partition (n_members excluded —
    // supervertices are singletons)
    def parts(m: org.apache.spark.sql.DataFrame) =
      m.select(col("community"), col("d_c"), col("intra_w"),
        col("q_4w2_part"), col("e2"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val coarse = GraphOps.coarsenWeighted(lwDf, wedges)
    val coarseLabels = lwDf.select(col("community").as("id")).distinct()
      .select(col("id"), col("id").as("community"))
    assert(parts(GraphOps.modularityWeighted(coarseLabels, coarse)) ===
      parts(GraphOps.modularityWeighted(lwDf, wedges)))
    // the coarse graph collapsed parallel rows: 4 rows (two self-loops
    // + the two directed inter rows), not E2-many
    assert(coarse.count() === 4L)
  }

  test("smoothScores: hand-computed integer rounds; isolated vertex untouched") {
    val scores = Seq((1L, 1.0), (2L, 0.0), (3L, 0.5)).toDF("id", "score")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = GraphOps.smoothScores(scores, pairs, "score", iters = 2)
      .orderBy("id").select("id", "s4_initial", "s4_smoothed")
      .as[(Long, Long, Long)].collect()
    // round 1: nb(1)=floor(1/2)=0 → s1(1)=floor(10001/2)=5000;
    //          nb(2)=floor(20001/2)=10000 → s1(2)=floor(10001/2)=5000;
    // round 2: both stay 5000 — the pair equalizes; 3 never changes
    assert(out === Array((1L, 10000L, 5000L), (2L, 0L, 5000L),
      (3L, 5000L, 5000L)))
    // odd-value rounding path: floor((3+0+1)/2)=2 and floor((0+3+1)/2)=2
    val tiny = GraphOps.smoothScores(
        Seq((1L, 0.0003), (2L, 0.0)).toDF("id", "score"),
        pairs, "score", iters = 1)
      .orderBy("id").select("id", "s4_smoothed").as[(Long, Long)].collect()
    assert(tiny === Array((1L, 2L), (2L, 2L)))
  }

  test("triangleStats: hand-computed triangle/wedge census; hub star has zero triangles") {
    // triangle 1-2-3 plus chain 3-4-5: 1 triangle; degrees 2,2,3,2,1 →
    // wedges 1+1+3+1+0 = 6; coeff = floor(1e4·3/6) = 5000
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val out = graft.operators.GraphOps.triangleStats(g)
      .as[(Long, Long, Long, Long)].head()
    assert(out === ((1L, 6L, 5L, 5000L)))
    // a pure star (the viral-image hub): many wedges, zero triangles —
    // and the degree orientation means the hub emits NO wedge pairs
    // itself (all its edges point inward), so no quadratic blow-up
    val star = (2L to 30L).map(i => (1L, i)).toDF("id_a", "id_b")
    val so = graft.operators.GraphOps.triangleStats(star)
      .as[(Long, Long, Long, Long)].head()
    assert(so._1 === 0L && so._2 === (29L * 28L) / 2 && so._4 === 0L)
  }

  test("kCore: pendant chain peels ROUND BY ROUND, clique survives, core degrees exact") {
    def core(k: Int, pairs: Seq[(Long, Long)]) =
      graft.operators.GraphOps.kCore(pairs.toDF("id_a", "id_b"), k)
        .as[(Long, Long)].collect().toMap
    // K4 {1..4} with a pendant CHAIN 4-5-6-7: the chain must peel in
    // CASCADE (7 drops, then 6, then 5 — one round each; a single
    // degree filter would leave 5 and 6 behind)
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    assert(core(2, g) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 3-core: identical (K4 is 3-regular after the chain strips)
    assert(core(3, g) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 4-core of K4 is empty — peeling must terminate on the empty graph
    assert(core(4, g) === Map.empty)
    // two K3s joined by one bridge edge: the 2-core keeps BOTH
    // triangles but the bridge endpoints keep their bridge degree
    val two = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    assert(core(2, two) === Map(1L -> 2L, 2L -> 2L, 3L -> 3L,
      4L -> 3L, 5L -> 2L, 6L -> 2L))
  }

  test("commonNeighborCandidates: non-edges only, exact counts and Jaccard") {
    // square 1-2-3-4-1: diagonals (1,3) and (2,4) each share 2
    // neighbors, Jaccard 2/(2+2-2) = 1 → 1000000; edges themselves
    // must NOT appear even where they share a neighbor
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val out = graft.operators.GraphOps.commonNeighborCandidates(
        square.toDF("id_a", "id_b"), minCommon = 2L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 3L, 2L, 2L, 2L, 1000000L),
      (2L, 4L, 2L, 2L, 2L, 1000000L)))
    // triangle + pendant: (1,4) share only {2} → below minCommon 2;
    // with minCommon 1 it appears with Jaccard 1/(2+1-1) = .5, and the
    // EDGE (1,3) sharing neighbor 2 stays excluded
    val tp = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L))
    val one = graft.operators.GraphOps.commonNeighborCandidates(
        tp.toDF("id_a", "id_b"), minCommon = 1L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(one === Set((1L, 4L, 1L, 2L, 1L, 500000L),
      (3L, 4L, 1L, 2L, 1L, 500000L)))
  }

  test("commonNeighborCandidates: maxDegree drops the hub from the center role") {
    // hub 0 linked to 1..1000, plus a square 1-2-3-4-1: uncapped, the
    // hub alone generates ~500k wedges vouching for every leaf pair;
    // capped below its degree, only the square's sub-cap centers count
    val hub = (1L to 1000L).map(i => (0L, i))
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val out = graft.operators.GraphOps.commonNeighborCandidates(
        (hub ++ square).toDF("id_a", "id_b"), minCommon = 2L,
        maxDegree = Some(100L))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // diagonals share {2,4} / {1,3} — both sub-cap; the hub is every
    // vertex's neighbor but vouches for nothing. Endpoint degrees stay
    // EXACT (square corners have degree 3: two square edges + hub), so
    // jaccard6 = 2/(3+3-2) = .5. No leaf pair (common = {0} only,
    // capped away) appears.
    assert(out === Set((1L, 3L, 2L, 3L, 3L, 500000L),
      (2L, 4L, 2L, 3L, 3L, 500000L)))
    // cap ABOVE the max degree ≡ uncapped: the hub's wedges return —
    // every leaf pair shares the hub, and the diagonals now also count
    // the hub as a third witness
    val capped = graft.operators.GraphOps.commonNeighborCandidates(
      (hub ++ square).toDF("id_a", "id_b"), minCommon = 2L,
      maxDegree = Some(2000L))
    val uncapped = graft.operators.GraphOps.commonNeighborCandidates(
      (hub ++ square).toDF("id_a", "id_b"), minCommon = 2L,
      maxDegree = None)
    assert(capped.unionAll(uncapped).distinct().count() === uncapped.count())
    assert(uncapped.count() === capped.count())
  }

  test("commonNeighborCandidates: a NULL endpoint is no edge, on the long and the encoded string path alike") {
    // the square again, plus edges with one or both endpoints NULL:
    // they must count toward no degree on either path
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
      .map { case (a, b) => (Option(a), Option(b)) }
    val edges = (square ++ Seq((Some(1L), None), (None, Some(3L)), (None, None)))
      .toDF("id_a", "id_b")
    val longs = graft.operators.GraphOps.commonNeighborCandidates(edges)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(longs === Set((1L, 3L, 2L, 2L, 2L, 1000000L),
      (2L, 4L, 2L, 2L, 2L, 1000000L)))
    val strings = graft.operators.GraphOps.commonNeighborCandidates(
        edges.select(col("id_a").cast("string").as("id_a"),
          col("id_b").cast("string").as("id_b")))
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(strings === longs.map { case (a, b, c, da, db, j) =>
      (a.toString, b.toString, c, da, db, j) })
  }

  test("assortativity: path and star are perfectly disassortative; regular graph null") {
    def r(pairs: Seq[(Long, Long)]) =
      graft.operators.GraphOps.assortativity(pairs.toDF("id_a", "id_b"))
        .as[(Long, Option[Long])].collect().head
    // path a-b-c: degrees (1,2,1) → r = −1
    assert(r(Seq((1L, 2L), (2L, 3L))) === ((2L, Some(-10000L))))
    // star: hub degree 3 vs leaves 1 → r = −1
    assert(r(Seq((1L, 2L), (1L, 3L), (1L, 4L))) === ((3L, Some(-10000L))))
    // triangle: degree-regular → zero variance → null
    assert(r(Seq((1L, 2L), (2L, 3L), (1L, 3L))) === ((3L, None)))
  }

  test("personalizedPageRank: seed-concentrated teleport, zero off-component") {
    import graft.operators.GraphOps
    // path 1—2—3 + isolated 4, seed {1}, 2 iters, hand-computed:
    // r0 = (4, 0, 0, 0); tele₁ = .15·4 = .6
    // it1: r = (.6, 3.4, 0, 0)    it2: r = (.6+.85·1.7, .85·.6, .85·1.7, 0)
    val (vertices, edges) = fixture
    val seeds = Seq(1L).toDF("id")
    val p = GraphOps.personalizedPageRank(vertices, edges, seeds,
        iters = 2, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(p(1L) - 2.045 / 4) < 1e-9)
    assert(math.abs(p(2L) - 0.51 / 4) < 1e-9)
    assert(math.abs(p(3L) - 1.445 / 4) < 1e-9)
    // isolated non-seed: EXACTLY zero (no uniform teleport leakage)
    assert(p(4L) === 0.0)
    // seeding the isolated vertex: it keeps full teleport mass forever
    val p4 = GraphOps.personalizedPageRank(vertices, edges,
        Seq(4L).toDF("id"), iters = 3, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(p4(4L) - 0.6 / 4) < 1e-9)
    assert(p4(1L) === 0.0 && p4(2L) === 0.0 && p4(3L) === 0.0)
  }

  test("hits: integer max-norm iterations separate hubs from authorities") {
    import graft.operators.GraphOps
    // c1 → {s1, s2}, c2 → {s1}: s1 is the stronger authority (two
    // hubs point at it), c1 the stronger hub (points at both). Three
    // grid iterations, hand-walked: a₃(s2) = round(1e6·1e6/1625000)
    // = 615385; h₃(c2) = round(1e6·1e6/1615385) = 619047.
    val e = Seq(("c1", "s1"), ("c1", "s2"), ("c2", "s1"))
      .toDF("src", "dst")
    val out = GraphOps.hits(e, iters = 3)
      .as[(String, String, Long)].collect()
      .map(r => (r._2, r._1) -> r._3).toMap
    assert(out === Map(
      ("hub", "c1") -> 1000000L, ("hub", "c2") -> 619047L,
      ("auth", "s1") -> 1000000L, ("auth", "s2") -> 615385L))
    // symmetric graph: everyone maxes out
    val sym = Seq(("x", "u"), ("y", "v")).toDF("src", "dst")
    assert(GraphOps.hits(sym, iters = 2)
      .select("score6").as[Long].collect().forall(_ === 1000000L))
  }

  test("dbscan: core/border/noise split; isolated pair is noise, not a cluster") {
    import graft.operators.GraphOps
    // triangle a-b-c (all deg ≥ 2 → core, rep a) + pendant d (border)
    // + isolated pair e-f (deg 1 each → noise: plain CC would call it
    // a cluster) + isolated vertex g (noise)
    val pairs = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"),
      ("e", "f")).toDF("id_a", "id_b")
    val vs = Seq("a", "b", "c", "d", "e", "f", "g").toDF("id")
    val out = GraphOps.dbscan(vs, pairs, minPts = 2L)
      .as[(String, String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out === Map(
      "a" -> (("core", Some("a"))), "b" -> (("core", Some("a"))),
      "c" -> (("core", Some("a"))), "d" -> (("border", Some("a"))),
      "e" -> (("noise", None)), "f" -> (("noise", None)),
      "g" -> (("noise", None))))
    // minPts = 1: every paired vertex is core; e-f becomes a cluster
    val loose = GraphOps.dbscan(vs, pairs, minPts = 1L)
      .as[(String, String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(loose("e") === (("core", Some("e"))))
    assert(loose("f") === (("core", Some("e"))))
    assert(loose("g") === (("noise", None)))
  }

  test("bfsHops: min-hop, multi-source, hop cap, unreachable absent") {
    import graft.operators.GraphOps
    def run(pairs: Seq[(String, String)], seeds: Seq[String],
            maxHops: Int): Map[String, Long] =
      GraphOps.bfsHops(pairs.toDF("id_a", "id_b"), seeds.toDF("id"),
          maxHops)
        .as[(String, Long)].collect().toMap
    // chain a—b—c—d—e plus component x—y; seeds {a, x}, cap 2:
    // d is 3 hops away → absent; e absent; y found from the second seed
    val chain = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "x" -> "y")
    assert(run(chain, Seq("a", "x"), 2) ===
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "x" -> 0L, "y" -> 1L))
    // maxHops 0 → seeds only
    assert(run(chain, Seq("a", "x"), 0) === Map("a" -> 0L, "x" -> 0L))
    // a shortcut edge a—c must give c hop 1, not 2 (min-hop semantics)
    assert(run(chain :+ ("a" -> "c"), Seq("a"), 4)("c") === 1L)
    // a seed reachable from another seed keeps hop 0
    assert(run(chain, Seq("a", "b"), 1) ===
      Map("a" -> 0L, "b" -> 0L, "c" -> 1L))
  }

  test("bfsHops stride 2 ≡ stride 1: exact min-hops at odd and even caps") {
    import graft.operators.GraphOps
    // chain with shortcuts and a cycle — shapes where a sloppy 2-hop
    // expansion would overshoot min-hops (a—c reachable in 1 AND 2)
    val pairs = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "e" -> "f", "a" -> "c", "d" -> "b", "x" -> "y")
    def run(maxHops: Int, stride: Int): Map[String, Long] =
      GraphOps.bfsHops(pairs.toDF("id_a", "id_b"),
          Seq("a", "x").toDF("id"), maxHops, stride)
        .as[(String, Long)].collect().toMap
    for (cap <- Seq(0, 1, 2, 3, 4, 5))
      assert(run(cap, 2) === run(cap, 1), s"stride mismatch at cap=$cap")
  }

  test("subtreeAggregate: hand-computed rollup, forest, negatives, cycle fails loud") {
    import graft.operators.GraphOps
    // tree 1→(2,3), 2→(4,5); separate root 9; values incl. negatives
    val nodes = Seq(
      (1L, None, 10L), (2L, Some(1L), -3L), (3L, Some(1L), 5L),
      (4L, Some(2L), 7L), (5L, Some(2L), 1L), (9L, None, 100L))
      .toDF("id", "parent", "value")
    val m = GraphOps.subtreeAggregate(nodes)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m === Map(
      1L -> ((5L, 20L)),   // 10 - 3 + 5 + 7 + 1
      2L -> ((3L, 5L)),    // -3 + 7 + 1
      3L -> ((1L, 5L)), 4L -> ((1L, 7L)), 5L -> ((1L, 1L)),
      9L -> ((1L, 100L))))
    // deep chain 0←1←2←…←6 converges within its depth
    val chain = (0L to 6L).map(i =>
      (i, if (i == 0) None else Some(i - 1), 1L)).toDF("id", "parent", "value")
    val c = GraphOps.subtreeAggregate(chain, maxDepth = 10)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(c === (0L to 6L).map(i => i -> (7L - i)).toMap)
    // a parent-pointer CYCLE must fail loud, not loop or undercount
    val cyc = Seq((1L, Some(2L), 1L), (2L, Some(1L), 1L))
      .toDF("id", "parent", "value")
    val e = intercept[IllegalArgumentException] {
      GraphOps.subtreeAggregate(cyc, maxDepth = 5)
    }
    assert(e.getMessage.contains("cycle"))
    // WEIGHTED (BOM) fold: truck(1) needs 3× axle(2), axle needs
    // 5× bolt(4) and 1× hub(5) — bolt cost multiplies 3·5 = 15 up at
    // the truck: 100 + 3·(20 + 5·2 + 1·7) = 100 + 3·37 = 211
    val bom = Seq(
      (1L, None, 100L, 1L), (2L, Some(1L), 20L, 3L),
      (4L, Some(2L), 2L, 5L), (5L, Some(2L), 7L, 1L))
      .toDF("id", "parent", "value", "qty")
    val w = GraphOps.subtreeAggregate(bom, qtyCol = Some("qty"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(w === Map(1L -> ((4L, 211L)), 2L -> ((3L, 37L)),
      4L -> ((1L, 2L)), 5L -> ((1L, 7L))))
  }

  test("bfsHops driver path ≡ distributed path; over-budget falls back") {
    import graft.operators.GraphOps
    val pairs = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "e" -> "f", "a" -> "c", "d" -> "b", "x" -> "y")
    def run(maxHops: Int, budget: Int): Map[String, Long] =
      GraphOps.bfsHops(pairs.toDF("id_a", "id_b"),
          Seq("a", "x").toDF("id"), maxHops, driverMaxEdges = budget)
        .as[(String, Long)].collect().toMap
    for (cap <- Seq(0, 1, 2, 3, 5)) {
      val dist = run(cap, 0)              // budget 0 = never collect
      assert(run(cap, 1000) === dist, s"driver path differs at cap=$cap")
      // budget BELOW the edge count: must fall back, same answer
      assert(run(cap, 3) === dist, s"fallback differs at cap=$cap")
    }
    // seeds share the budget: a seed frame BIGGER than driverMaxEdges
    // must not be collected — tiny edge list or not, the distributed
    // loop takes over and the answer is unchanged
    val manySeeds = (Seq("a", "x") ++ (1 to 50).map(i => s"seed$i"))
      .toDF("id")
    val tiny = Seq("a" -> "b", "x" -> "y").toDF("id_a", "id_b")
    val viaDist = GraphOps.bfsHops(tiny, manySeeds, 2, driverMaxEdges = 0)
      .as[(String, Long)].collect().toMap
    val viaBudget = GraphOps.bfsHops(tiny, manySeeds, 2, driverMaxEdges = 10)
      .as[(String, Long)].collect().toMap
    assert(viaBudget === viaDist)
    // and mismatched id types skip the driver path instead of failing
    // at materialization (seeds int, pairs long — distributed coerces)
    val intSeeds = Seq(1, 3).toDF("id")
    val longPairs = Seq(1L -> 2L, 3L -> 4L).toDF("id_a", "id_b")
    val coerced = GraphOps.bfsHops(longPairs, intSeeds, 1,
        driverMaxEdges = 1000)
      .select(col("id").cast("long"), col("hop"))
      .as[(Long, Long)].collect().toMap
    assert(coerced === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }
}
