package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph-signal operators over pair graphs (the near-dup pair graph,
  * link graphs): iterative vertex scoring beyond the connected
  * components in [[Dedup.dupClusters]].
  */
object GraphOps {

  /** Damped PageRank over a DIRECTED edge list (symmetrize first for
    * undirected graphs): p'(v) = (1−d)/N + d·Σ_{u→v} p(u)/deg(u), a
    * fixed iteration count. Over the near-dup graph this is
    * "duplication centrality" — q91's neighbor count is the local
    * signal, this is its transitive closure (a doc in a dense
    * duplication neighborhood scores high even when its direct degree
    * is modest). Vertices without outgoing edges simply leak their
    * mass (the simplified formulation; no dangling redistribution) —
    * fine for signals, where only the ordering matters.
    *
    * Engine-exact determinism (the [[Embeddings.meanPool]] idiom): the
    * iteration runs on the RANK MASS r = p·N (r₀ = 1, r' =
    * (1−d) + d·Σ r(u)/deg(u)), and each edge contribution r(u)/deg(u)
    * is quantized to a 1e-6 fixed-point LONG before the per-vertex
    * sum — integer sums are order-independent, so each iteration's
    * ranks are bit-identical in any engine at any partitioning, and an
    * oracle can replay the iterations as plain SQL. Working on r, not
    * p, keeps the grid RELATIVE: r is O(1) per vertex at any corpus
    * size (an absolute grid on p = O(1/N) would round every
    * contribution to zero at large N and collapse the signal to
    * teleport mass). Headroom: a vertex's contribution sum is bounded
    * by the total mass N, so longs hold to N ≈ 9·10¹². p = r/N is one
    * exact division at the end.
    *
    * Scale shape: the canonical distributed PageRank — per iteration,
    * ONE join of the edge list against the vertex-sized (id, p) table
    * (shuffle keyed on src; AQE broadcasts the rank table while it
    * fits) + ONE dst-keyed sum; the rank table never exceeds one row
    * per vertex. The out-degree table is computed once. Iterations
    * chain lazily; for many iterations at 100 TB, checkpoint the rank
    * table every few rounds exactly like the CC loop
    * ([[Dedup.dupClusters]]) does.
    *
    * Cache lifecycle: the degree-annotated edge list (src, dst, deg)
    * is persisted (it is joined once per iteration, and caching it
    * hash-partitioned on src means only the vertex-sized rank table
    * shuffles per round — InMemoryRelation preserves the join's
    * outputPartitioning) and the returned plan references it lazily,
    * so this function cannot unpersist it. This does NOT leak one copy
    * per call — Spark's CacheManager dedupes by canonicalized plan, so
    * repeated calls over the same `edges` frame share ONE cache entry.
    * A session thus holds at most one edge-sized entry per distinct
    * edge list; callers that need zero cache residue can pass
    * `persistDeg = false`, at the cost of recomputing the degree join
    * `iters` times.
    */
  def pageRank(vertices: DataFrame, edges: DataFrame,
               iters: Int = 3, damping: Double = 0.85,
               persistDeg: Boolean = true): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val v = vertices.select(col("id"))
    val e = edges.select(col("src"), col("dst"))
    val n = v.select(count(lit(1)).as("n"))
    val edeg0 = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")),
      "src")
    val edeg =
      if (persistDeg)
        edeg0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else edeg0
    var r = v.select(col("id"), lit(1.0).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edeg
        .join(r.select(col("id").as("src"), col("r")), "src")
        .select(col("dst").as("id"),
          round(col("r") / col("deg") * lit(1e6)).cast("long").as("c"))
      val sums = contrib.groupBy(col("id")).agg(sum(col("c")).as("s"))
      r = v.join(sums, Seq("id"), "left")
        .select(col("id"),
          (lit(1 - damping) +
            lit(damping) * (coalesce(col("s"), lit(0L)).cast("double") / lit(1e6)))
            .as("r"))
    }
    r.crossJoin(broadcast(n))
      .select(col("id"), (col("r") / col("n")).as("p"))
  }

  /** [[pageRank]] over an integer-weighted edge list `(src, dst, w)`:
    * a vertex's mass splits across out-edges PROPORTIONALLY TO WEIGHT
    * — r' = (1−d) + d·Σ r(u)·w(u,v)/wdeg(u) with wdeg the weighted
    * out-degree — so on the near-dup graph a doc pushes most of its
    * duplication centrality toward its STRONGEST near-duplicates
    * instead of splitting evenly. Same engine-exact determinism
    * contract: each edge contribution quantizes to the 1e-6
    * fixed-point grid before the order-free per-vertex sum, so the
    * iterations replay bit-for-bit in SQL; same scale shape and cache
    * lifecycle as [[pageRank]] (the weighted-degree-annotated edge
    * list persists once). w = 1 degrades exactly to the unweighted
    * ranks (spec-asserted). */
  def pageRankWeighted(vertices: DataFrame, edges: DataFrame,
                       iters: Int = 3, damping: Double = 0.85,
                       persistDeg: Boolean = true): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val v = vertices.select(col("id"))
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    val n = v.select(count(lit(1)).as("n"))
    val edeg0 = e.join(e.groupBy(col("src")).agg(sum(col("w")).as("wdeg")),
      "src")
    val edeg =
      if (persistDeg)
        edeg0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else edeg0
    var r = v.select(col("id"), lit(1.0).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edeg
        .join(r.select(col("id").as("src"), col("r")), "src")
        .select(col("dst").as("id"),
          round(col("r") * col("w") / col("wdeg") * lit(1e6)).cast("long")
            .as("c"))
      val sums = contrib.groupBy(col("id")).agg(sum(col("c")).as("s"))
      r = v.join(sums, Seq("id"), "left")
        .select(col("id"),
          (lit(1 - damping) +
            lit(damping) * (coalesce(col("s"), lit(0L)).cast("double") / lit(1e6)))
            .as("r"))
    }
    r.crossJoin(broadcast(n))
      .select(col("id"), (col("r") / col("n")).as("p"))
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, LPA) over a symmetrized edge list — communities emerge
    * from plurality voting with no parameter but the round count:
    * every vertex starts as its own label; each round it adopts the
    * label held by MOST of its neighbors, ties to the SMALLEST label,
    * all vertices updating simultaneously from the PREVIOUS round's
    * labels (the synchronous variant — deterministic, replayable in
    * SQL, unlike the literature's randomized asynchronous sweep; the
    * known cost is possible two-coloring oscillation on bipartite
    * structure, which fixed `iters` bounds). Isolated vertices keep
    * their own label. The near-dup clustering ([[Dedup.dupClusters]])
    * answers "connected at all"; LPA answers the finer "densely
    * connected to WHICH side" — a bridge edge between two triangles
    * does not merge them here.
    *
    * Scale: per round ONE edge⋈label join shuffled on the edge key,
    * one (vertex, label) count, and one per-vertex argmax window —
    * all keyed, nothing corpus-crossing; labels localCheckpoint per
    * round (lineage truncation, the [[pageRank]] discipline). Returns
    * (id, community).
    *
    * Small graphs solve on the driver ([[DriverPath]]): when the edge
    * list and the vertex frame both fit the budget (`driverMaxEdges`:
    * negative → [[DriverPath.maxEdges]], 0 → never collect), the rounds
    * run over one collect of each and the labels come back as a local
    * relation — bit-identical to the distributed rounds (ties to the
    * smallest label in Spark's order, isolated vertices keep their
    * own, an edge whose `dst` is not a vertex casts no vote;
    * spec-asserted). A null id, a null weight, a duplicate vertex id
    * or an id type outside [[DriverPath.supported]] takes the
    * distributed path. */
  def labelPropagation(vertices: DataFrame, edges: DataFrame,
                       iters: Int = 3, driverMaxEdges: Int = -1): DataFrame =
    labelPropagationImpl(vertices, edges, iters, weighted = false,
      driverMaxEdges)

  /** WEIGHTED synchronous label propagation over an integer-weighted
    * symmetrized edge list `(src, dst, w)`: each round a vertex adopts
    * the label with the largest incident WEIGHT SUM (ties → smallest
    * label) — one heavy near-identity edge outvotes several light
    * ones, which is the right call on a similarity-weighted dup graph.
    * Same determinism/scale contract and driver path as
    * [[labelPropagation]]; w = 1 degrades to it exactly
    * (spec-asserted). */
  def labelPropagationWeighted(vertices: DataFrame, edges: DataFrame,
                               iters: Int = 3,
                               driverMaxEdges: Int = -1): DataFrame =
    labelPropagationImpl(vertices, edges, iters, weighted = true,
      driverMaxEdges)

  private def labelPropagationImpl(vertices: DataFrame, edges: DataFrame,
                                   iters: Int, weighted: Boolean,
                                   driverMaxEdges: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val v = vertices.select(col("id"))
    val e =
      if (weighted) edges.select(col("src"), col("dst"),
        col("w").cast("long").as("w"))
      else edges.select(col("src"), col("dst"))
    val spark = v.sparkSession
    val budget = DriverPath.budget(driverMaxEdges)
    val onDriver =
      if (!driverIds(e, v.schema("id"))) None
      else DriverPath.described(spark, "GraphOps.lpa probe") {
        for {
          er <- DriverPath.collectWithin(e, budget)
          if er.forall(r => !r.anyNull)
          vr <- DriverPath.collectWithin(v, budget)
          out <- lpaOnDriver(spark, v.schema("id"), vr, er, iters, weighted)
        } yield out
      }
    onDriver.getOrElse {
      var labels = v.select(col("id"), col("id").as("lbl"))
      for (k <- 1 to iters) {
        val votes = e
          .join(labels.select(col("id").as("dst"), col("lbl")), "dst")
          .groupBy(col("src"), col("lbl"))
          .agg((if (weighted) sum(col("w")) else count(lit(1))).as("c"))
        val best = votes
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
              .orderBy(col("c").desc, col("lbl").asc)))
          .where(col("rn") === 1)
          .select(col("src").as("id"), col("lbl").as("nlbl"))
        labels = DriverPath.described(spark, s"GraphOps.lpa round=$k") {
          labels.join(best, Seq("id"), "left")
            .select(col("id"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
            .localCheckpoint()
        }
      }
      labels.select(col("id"), col("lbl").as("community"))
    }
  }

  /** Whether a graph's ids can take the driver path: `id`'s type is
    * [[DriverPath.supported]] and both edge endpoints share it (a
    * mixed-type join coerces in Spark, while driver-side lookups
    * compare boxed values of one type). */
  private def driverIds(e: DataFrame, id: org.apache.spark.sql.types.StructField)
      : Boolean =
    DriverPath.supported(id.dataType) &&
      e.schema("src").dataType == id.dataType &&
      e.schema("dst").dataType == id.dataType

  /** The synchronous rounds of [[labelPropagation]] over collected
    * vertex ids `vr` and edges `er` (src, dst[, w]), as a local
    * (id, community) relation; None on a null or duplicate vertex id.
    * Labels are vertex indices (every label is some vertex's id), and
    * a label's rank in [[DriverPath.idOrdering]] breaks vote ties. */
  private def lpaOnDriver(spark: org.apache.spark.sql.SparkSession,
                          id: org.apache.spark.sql.types.StructField,
                          vr: Array[org.apache.spark.sql.Row],
                          er: Array[org.apache.spark.sql.Row],
                          iters: Int, weighted: Boolean): Option[DataFrame] = {
    val n = vr.length
    val ids = vr.map(_.get(0))
    val index = new java.util.HashMap[Any, Integer](n * 2)
    ids.indices.foreach(i => index.put(ids(i), i))
    if (ids.contains(null) || index.size != n) return None
    val rank = new Array[Int](n)
    ids.indices.sortBy(ids(_))(DriverPath.idOrdering).zipWithIndex
      .foreach { case (i, r) => rank(i) = r }
    // adjacency over the edges whose endpoints are both vertices: an
    // edge whose dst is not a vertex casts no vote (the distributed
    // join on dst drops it), and a non-vertex src never lands a label
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[(Int, Long)])
    er.foreach { r =>
      val s = index.get(r.get(0)); val d = index.get(r.get(1))
      if (s != null && d != null)
        adj(s) += ((d.intValue, if (weighted) r.getLong(2) else 1L))
    }
    var lbl = Array.tabulate(n)(identity)
    for (_ <- 1 to iters) {
      val next = lbl.clone()
      for (u <- 0 until n if adj(u).nonEmpty) {
        val votes = scala.collection.mutable.HashMap.empty[Int, Long]
        for ((d, w) <- adj(u))
          votes(lbl(d)) = Math.addExact(votes.getOrElse(lbl(d), 0L), w)
        // the largest vote wins, ties to the smallest label
        next(u) = votes.maxBy { case (l, c) => (c, -rank(l)) }._1
      }
      lbl = next
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      id, id.copy(name = "community")))
    Some(DriverPath.localFrame(spark, schema,
      ids.indices.map(i => org.apache.spark.sql.Row(ids(i), ids(lbl(i))))))
  }

  /** Newman modularity of a vertex partition, in EXACT integers —
    * Q = Σ_c [L_c/m − (d_c/2m)²] rescaled by 4m² so every term is a
    * BIGINT: per community, `q_4m2_part = E2·intra_dir − d_c²` with
    * E2 the symmetrized (directed) edge-row count, `intra_dir` the
    * directed rows whose endpoints share the community, and `d_c` the
    * community's degree sum; Q = Σ parts / E2². No float touches the
    * computation, so an oracle replays it bit-for-bit. Headroom:
    * d_c² ≤ E2² needs E2 < 2³¹·√2 ≈ 3·10⁹ directed rows — past that,
    * lift to 128-bit decimal.
    *
    * Scale: two broadcast-joined label lookups on the edge list (or
    * shuffled joins when labels outgrow a broadcast), one keyed count
    * each, one 1-row edge count — nothing corpus-crossing. `labels`
    * is (id, community); `edges` the symmetrized (src, dst) list.
    * Returns (community, n_members, d_c, intra_dir, q_4m2_part, e2)
    * — isolated vertices appear as zero-contribution singletons.
    *
    * Small graphs solve on the driver ([[DriverPath]], the
    * [[labelPropagation]] rule: edge list and label frame both within
    * the budget, `driverMaxEdges` as there): one collect of each, the
    * census in driver hash maps, a local relation back — bit-identical
    * to the plan below (spec-asserted), with every integer step
    * overflow-checked (`Math.addExact`/`multiplyExact`/`subtractExact`)
    * so a past-headroom graph fails loudly, as the plan does under
    * ANSI arithmetic. A null id or community, a duplicate label id or
    * an id type outside [[DriverPath.supported]] takes the plan. */
  def modularity(labels: DataFrame, edges: DataFrame,
                 driverMaxEdges: Int = -1): DataFrame = {
    val l = labels.select(col("id"), col("community"))
    val e = edges.select(col("src"), col("dst"))
    modularityOnDriver(l, e, weighted = false, driverMaxEdges).getOrElse {
      val e2 = e.agg(count(lit(1)).as("e2"))
      val dg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val cm = l.join(dg, Seq("id"), "left")
        .groupBy(col("community"))
        .agg(count(lit(1)).as("n_members"),
          sum(coalesce(col("deg"), lit(0L))).as("d_c"))
      val intra = e
        .join(l.select(col("id").as("src"), col("community").as("ca")), "src")
        .join(l.select(col("id").as("dst"), col("community").as("cb")), "dst")
        .where(col("ca") === col("cb"))
        .groupBy(col("ca").as("community"))
        .agg(count(lit(1)).as("intra_dir"))
      cm.join(intra, Seq("community"), "left")
        .crossJoin(broadcast(e2))
        .select(col("community"), col("n_members"), col("d_c"),
          coalesce(col("intra_dir"), lit(0L)).as("intra_dir"),
          (col("e2") * coalesce(col("intra_dir"), lit(0L))
            - col("d_c") * col("d_c")).as("q_4m2_part"),
          col("e2"))
    }
  }

  /** [[modularity]] for an integer-weighted symmetrized edge list
    * `(src, dst, w)` — Newman's weighted Q with m, degrees and intra
    * counts replaced by weight sums: on the 4W² scale (E2 = Σw over
    * directed rows), `q_4w2_part = E2·intra_w − d_c²` with d_c the
    * community's weighted degree sum and intra_w the directed
    * intra-community weight. All BIGINT (headroom: Σw < 2³¹·√2 ≈
    * 3·10⁹ — past that, lift to 128-bit decimal), so an oracle replays
    * it bit-for-bit. Same shape and driver path as the unweighted
    * census (a null weight also takes the plan): two label lookups on
    * the edge list, keyed sums, one 1-row total. Returns
    * (community, n_members, d_c, intra_w, q_4w2_part, e2). */
  def modularityWeighted(labels: DataFrame, edges: DataFrame,
                         driverMaxEdges: Int = -1): DataFrame = {
    val l = labels.select(col("id"), col("community"))
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    modularityOnDriver(l, e, weighted = true, driverMaxEdges).getOrElse {
      val e2 = e.agg(coalesce(sum(col("w")), lit(0L)).as("e2"))
      val dg = e.groupBy(col("src").as("id")).agg(sum(col("w")).as("deg"))
      val cm = l.join(dg, Seq("id"), "left")
        .groupBy(col("community"))
        .agg(count(lit(1)).as("n_members"),
          sum(coalesce(col("deg"), lit(0L))).as("d_c"))
      val intra = e
        .join(l.select(col("id").as("src"), col("community").as("ca")), "src")
        .join(l.select(col("id").as("dst"), col("community").as("cb")), "dst")
        .where(col("ca") === col("cb"))
        .groupBy(col("ca").as("community"))
        .agg(sum(col("w")).as("intra_w"))
      cm.join(intra, Seq("community"), "left")
        .crossJoin(broadcast(e2))
        .select(col("community"), col("n_members"), col("d_c"),
          coalesce(col("intra_w"), lit(0L)).as("intra_w"),
          (col("e2") * coalesce(col("intra_w"), lit(0L))
            - col("d_c") * col("d_c")).as("q_4w2_part"),
          col("e2"))
    }
  }

  /** The driver census behind [[modularity]] / [[modularityWeighted]]
    * over `l` (id, community) and `e` (src, dst[, w: long]): None when
    * either frame is over the budget, an id type is unsupported, or a
    * null or duplicate label id turns up. Communities come back in the
    * label frame's first-seen order. */
  private def modularityOnDriver(l: DataFrame, e: DataFrame, weighted: Boolean,
                                 driverMaxEdges: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = l.sparkSession
    val comField = l.schema("community")
    if (!driverIds(e, l.schema("id")) ||
        !DriverPath.supported(comField.dataType)) return None
    val budget = DriverPath.budget(driverMaxEdges)
    DriverPath.described(spark, "GraphOps.modularity probe") {
      for {
        er <- DriverPath.collectWithin(e, budget)
        if er.forall(r => !r.anyNull)
        lr <- DriverPath.collectWithin(l, budget)
        if lr.forall(r => !r.anyNull)
        comm = lr.iterator.map(r => r.get(0) -> r.get(1)).toMap
        if comm.size == lr.length
      } yield {
        def w(r: org.apache.spark.sql.Row): Long = if (weighted) r.getLong(2) else 1L
        var e2 = 0L
        val deg = scala.collection.mutable.HashMap.empty[Any, Long]
        er.foreach { r =>
          e2 = Math.addExact(e2, w(r))
          deg(r.get(0)) = Math.addExact(deg.getOrElse(r.get(0), 0L), w(r))
        }
        // per community: (n_members, d_c, intra)
        val parts = scala.collection.mutable.LinkedHashMap.empty[Any, Array[Long]]
        lr.foreach { r =>
          val p = parts.getOrElseUpdate(r.get(1), new Array[Long](3))
          p(0) += 1
          p(1) = Math.addExact(p(1), deg.getOrElse(r.get(0), 0L))
        }
        er.foreach { r =>
          val ca = comm.get(r.get(0))
          if (ca.isDefined && ca == comm.get(r.get(1))) {
            val p = parts(ca.get)
            p(2) = Math.addExact(p(2), w(r))
          }
        }
        val (intraName, partName) =
          if (weighted) ("intra_w", "q_4w2_part") else ("intra_dir", "q_4m2_part")
        val schema = StructType(Seq(comField,
          StructField("n_members", LongType, nullable = false),
          StructField("d_c", LongType),
          StructField(intraName, LongType, nullable = false),
          StructField(partName, LongType),
          StructField("e2", LongType, nullable = false)))
        DriverPath.localFrame(spark, schema, parts.iterator.map { case (c, p) =>
          org.apache.spark.sql.Row(c, p(0), p(1), p(2),
            Math.subtractExact(Math.multiplyExact(e2, p(2)),
              Math.multiplyExact(p(1), p(1))), e2)
        }.toSeq)
      }
    }
  }

  /** One SYNCHRONOUS greedy modularity-refinement sweep (the Louvain
    * phase-1 move step, Blondel et al. 2008, in its deterministic
    * distributed form): every vertex simultaneously evaluates moving
    * to each NEIGHBOR community against the CURRENT partition and
    * takes the move with the largest modularity gain if positive
    * (ties → smallest community label). The gain is exact integer
    * arithmetic on the [[modularity]] 4m² scale: moving v from a to b
    * changes 4m²·Q by `2·E2·(k_vb − k_va) + 2·d_v·(D_a − D_b) −
    * 2·d_v²` with k_vc = directed rows v→c, d_v = v's degree, D_c =
    * community degree sums — every term a BIGINT, so an oracle
    * replays the sweep bit-for-bit. Headroom is TIGHTER than
    * [[modularity]]'s: the first term approaches 2·E2² on hub-heavy
    * graphs (k_vc ≤ d_v ≤ E2), so BIGINT holds only to
    * E2 < 2³¹ ≈ 2.1·10⁹ directed rows — past ~1e9 lift the gain
    * arithmetic to DECIMAL(38,0). Serial Louvain is
    * visit-order-dependent (not replayable, not distributed); the
    * synchronous sweep is the LPA-shaped form — simultaneous moves
    * may overshoot on pathological ties, which bounded sweep counts
    * accept (the q342 fixture's single sweep strictly improves Q, and
    * the spec asserts the per-move gain adds up exactly).
    *
    * Scale: one edge⋈label join for k_vc, two keyed aggregates (d_v,
    * D_c), a per-vertex argmax window — nothing corpus-crossing.
    * Returns the refined (id, community). */
  def modularityRefineRound(labels: DataFrame, edges: DataFrame): DataFrame =
    refineRoundImpl(labels, edges, selfLoops = false, swapGuard = false)

  /** The generalized sweep behind [[modularityRefineRound]] (which
    * keeps `selfLoops = swapGuard = false` so its plan — and the q342
    * oracle replaying it — is untouched) and [[louvain]] (both true).
    *
    *  - `selfLoops`: credit each vertex's self-loop rows s_v in the
    *    gain — `2·E2·(k_vb − k_va + s_v) + 2·d_v·(D_a − D_b) −
    *    2·d_v²`. Derivation: moving v from a to b shifts intra rows
    *    by −(2·(k_va − s_v) + s_v) on a and +(2·k_vb + s_v) on b (the
    *    self-loops travel WITH v), and k_va as counted by the kvc
    *    join includes s_v, hence the +s_v correction. On loop-free
    *    graphs s_v ≡ 0 and the formula degrades to q342's; after
    *    [[coarsen]] self-loops carry the intra-community weight and
    *    the term is load-bearing.
    *  - `swapGuard`: the Lu–Halappanavar–Kalyanaraman (2015) parallel-
    *    Louvain minimum-label heuristic — a vertex alone in its
    *    community may move into another SINGLETON community only
    *    toward the smaller label. Synchronous simultaneous moves
    *    otherwise make two adjacent singletons (an isolated near-dup
    *    pair — the most common component shape in a dup graph) swap
    *    labels forever without ever merging.
    */
  private def refineRoundImpl(labels: DataFrame, edges: DataFrame,
                              selfLoops: Boolean,
                              swapGuard: Boolean,
                              pre: Option[(DataFrame, Long)] = None,
                              weighted: Boolean = false): DataFrame = {
    require(!selfLoops || pre.isDefined,
      "selfLoops sweeps must pass the fused (deg, sv) census via pre")
    val l = labels.select(col("id"), col("community"))
    val e =
      if (weighted) edges.select(col("src"), col("dst"),
        col("w").cast("long").as("w"))
      else edges.select(col("src"), col("dst"))
    // Weighted mode: every occurrence count becomes a weight SUM — the
    // gain algebra is unchanged (k, d_v, D_c, s_v, E2 are all weighted
    // sums of BIGINTs), so integer edge weights keep the sweep exactly
    // replayable. Unweighted call sites keep count(1) aggregates.
    def occ: Column = if (weighted) sum(col("w")) else count(lit(1))
    val e2 = e.agg(occ.as("e2"))
    // `pre` ((degrees ⊕ self-loop census, E2)) hoists the LEVEL-
    // CONSTANT inputs out of the sweep: both depend only on the edge
    // list, and recomputing the EDGE-SIZED degree aggregate once per
    // sweep is the kind of cost that dominates at 10^12 edge rows.
    // None (the q342 path) computes the degree census inline.
    val dg = pre.map(_._1).getOrElse(
      e.groupBy(col("src").as("id")).agg(occ.as("deg")))
    // kvc and dC each feed two joins; the static plan duplicates their
    // subtrees (40 Exchanges in one sweep), but AQE's runtime stage
    // cache dedupes canonically-equal exchanges, so the edge-sized kvc
    // shuffle executes ONCE per sweep already — measured: inserting
    // explicit localCheckpoint reuse points here ADDED jobs (q342
    // 49 → 53) by splitting pipelined stages into materializations.
    // Leave sharing to the stage cache.
    val dC = l.join(dg.select(col("id"), col("deg")), Seq("id"), "left")
      .groupBy(col("community"))
      .agg(sum(coalesce(col("deg"), lit(0L))).as("dsum"),
        count(lit(1)).as("nmem"))
    val kvc = e
      .join(l.select(col("id").as("dst"), col("community").as("cb")), "dst")
      .groupBy(col("src").as("id"), col("cb"))
      .agg(occ.as("k"))
    // dv (and sv when the census carries it) ride the SAME dg join —
    // the separate self-loop join the previous shape paid is folded in
    val base = l.select(col("id"), col("community").as("a"))
      .join(dg, Seq("id"), "left")
      .select(col("id"), col("a"), coalesce(col("deg"), lit(0L)).as("dv"),
        (if (selfLoops) coalesce(col("sv"), lit(0L)) else lit(0L)).as("sv"))
      .join(dC.select(col("community").as("a"), col("dsum").as("da"),
        col("nmem").as("na")), "a")
    val withKva = base
      .join(kvc.select(col("id"), col("cb").as("a"), col("k").as("kva")),
        Seq("id", "a"), "left")
      .select(col("id"), col("a"), col("dv"), col("da"), col("na"),
        col("sv"), coalesce(col("kva"), lit(0L)).as("kva"))
    val cand0 = withKva
      .join(kvc.select(col("id"), col("cb").as("b"), col("k").as("kvb")),
        Seq("id"))
      .where(col("b") =!= col("a"))
      .join(dC.select(col("community").as("b"), col("dsum").as("db"),
        col("nmem").as("nb")), "b")
    val cand1 =
      if (!swapGuard) cand0
      else cand0.where(!(col("na") === 1L && col("nb") === 1L &&
        col("b") > col("a")))
    val gainOf: Column => Column = e2c =>
      (lit(2L) * e2c * (col("kvb") - col("kva") + col("sv"))
        + lit(2L) * col("dv") * (col("da") - col("db"))
        - lit(2L) * col("dv") * col("dv")).as("gain")
    val cand = pre match {
      case Some((_, e2v)) =>
        cand1.select(col("id"), col("b"), gainOf(lit(e2v)))
      case None =>
        cand1.crossJoin(broadcast(e2))
          .select(col("id"), col("b"), gainOf(col("e2")))
    }
    val best = cand
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("gain").desc, col("b").asc)))
      .where(col("rn") === 1 && col("gain") > 0L)
      .select(col("id"), col("b"))
    l.join(best, Seq("id"), "left")
      .select(col("id"), coalesce(col("b"), col("community")).as("community"))
  }

  /** Phase-2 Louvain coarsening: map every edge ROW endpoint-wise onto
    * its community — communities become vertices, intra-community rows
    * become self-loops, and edge WEIGHT stays represented as row
    * multiplicity, so the exact-integer count-based refine/modularity
    * algebra is automatically weight-correct on the coarse multigraph
    * (E2, degree sums and intra counts are all preserved: the coarse
    * partition-of-supervertices scores the SAME 4m²·Q parts as the
    * composed partition on the original graph — spec-asserted). One
    * edge-keyed join per endpoint, nothing corpus-crossing. */
  def coarsen(labels: DataFrame, edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .join(labels.select(col("id").as("src"), col("community").as("csrc")),
        "src")
      .join(labels.select(col("id").as("dst"), col("community").as("cdst")),
        "dst")
      .select(col("csrc").as("src"), col("cdst").as("dst"))

  /** [[coarsen]] for an integer-weighted edge list `(src, dst, w)`:
    * endpoints map onto communities and PARALLEL rows collapse with
    * their weights SUMMED — the coarse graph is (communities touched)²-
    * bounded instead of edge-row-bounded, and every weighted aggregate
    * (E2, degrees, k_vc, self-loops) is preserved exactly, so the
    * coarse partition scores the same 4W²·Q parts as the composed
    * partition on the original graph (spec-asserted). Two edge-keyed
    * joins + one keyed sum. */
  def coarsenWeighted(labels: DataFrame, edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("w"))
      .join(labels.select(col("id").as("src"), col("community").as("csrc")),
        "src")
      .join(labels.select(col("id").as("dst"), col("community").as("cdst")),
        "dst")
      .groupBy(col("csrc").as("src"), col("cdst").as("dst"))
      .agg(sum(col("w")).as("w"))

  /** Full Louvain (Blondel et al. 2008), distributed and
    * oracle-replayable: `levels` alternations of phase 1 — `
    * sweepsPerLevel` synchronous exact-integer refinement sweeps
    * ([[refineRoundImpl]] with the self-loop term and the
    * singleton-swap guard), starting from singletons — with phase 2,
    * [[coarsen]]. Returns the ORIGINAL ids mapped to their final
    * community (id, community).
    *
    * Fixed sweep counts instead of run-to-quiescence keep the job
    * ladder deterministic; a settled partition is a fixpoint of the
    * sweep (spec-asserted), so extra sweeps are semantically free.
    * Synchronous simultaneous moves may overshoot on pathological
    * ties (the q342 caveat) — bounded sweeps accept that; the spec
    * asserts modularity is non-decreasing across levels on the
    * fixture and the q343 oracle scores the final partition exactly.
    *
    * Scale: each sweep is the q342 shape (one edge⋈label join, keyed
    * aggregates, a per-vertex argmax window); coarsening is two
    * edge-keyed joins; every level's graph is no larger than the
    * last. Labels and coarse edges localCheckpoint per step (lineage
    * truncation — the [[pageRank]] discipline); on a multi-node
    * cluster use durable checkpointing. Gain headroom as documented
    * on [[modularityRefineRound]]: BIGINT to E2 ≈ 2·10⁹ directed
    * rows, lift to DECIMAL(38,0) past ~1e9. */
  def louvain(vertices: DataFrame, edges: DataFrame, levels: Int = 2,
              sweepsPerLevel: Int = 2): DataFrame =
    louvainImpl(vertices, edges, levels, sweepsPerLevel, weighted = false)

  /** WEIGHTED full Louvain over an integer-weighted symmetrized edge
    * list `(src, dst, w)` — the near-dup graph is naturally weighted
    * (shared-shingle counts, co-occurrence counts), and weight changes
    * the partition: a vertex tied to community A by one heavy edge
    * belongs with A even when MORE (light) edges point at B. Same
    * exact-integer algebra as [[louvain]] with every occurrence count
    * replaced by a weight SUM (E2 = Σw over directed rows, weighted
    * degrees/k_vc/self-loops), so the sweeps stay oracle-replayable
    * bit-for-bit. Coarsening ([[coarsenWeighted]]) SUMS weights onto
    * community endpoints instead of keeping row multiplicity — the
    * coarse graph is community²-bounded rows rather than edge-bounded.
    * Headroom: the gain term approaches 2·E2² — with E2 now Σw, BIGINT
    * holds to Σw ≈ 2·10⁹; lift to DECIMAL(38,0) past ~1e9 total
    * weight. Returns (id, community) over the ORIGINAL ids. */
  def louvainWeighted(vertices: DataFrame, edges: DataFrame,
                      levels: Int = 2, sweepsPerLevel: Int = 2): DataFrame =
    louvainImpl(vertices, edges, levels, sweepsPerLevel, weighted = true)

  private def louvainImpl(vertices: DataFrame, edges: DataFrame,
                          levels: Int, sweepsPerLevel: Int,
                          weighted: Boolean): DataFrame = {
    require(levels >= 1 && sweepsPerLevel >= 1,
      "levels and sweepsPerLevel must be >= 1")
    var mapping = vertices.select(col("id"), col("id").as("community"))
    var g =
      if (weighted) edges.select(col("src"), col("dst"),
        col("w").cast("long").as("w"))
      else edges.select(col("src"), col("dst"))
    def occ: Column = if (weighted) sum(col("w")) else count(lit(1))
    for (lvl <- 1 to levels) {
      var labels = mapping.select(col("community").as("id")).distinct()
        .select(col("id"), col("id").as("community"))
      // level-constant inputs, computed ONCE per level in ONE edge
      // pass: degrees and the self-loop census fuse into a single
      // src-keyed aggregate (they were two separate edge-sized passes
      // + two checkpoints + an extra per-sweep join), and E2 = Σ deg
      // comes off the vertex-sized census instead of a third edge scan
      val svOcc: Column =
        if (weighted)
          sum(when(col("src") === col("dst"), col("w")).otherwise(lit(0L)))
        else sum(when(col("src") === col("dst"), lit(1L)).otherwise(lit(0L)))
      val dg = g.groupBy(col("src").as("id"))
        .agg(occ.as("deg"), svOcc.as("sv")).localCheckpoint(false)
      val e2v = dg.agg(coalesce(sum(col("deg")), lit(0L)))
        .first().getLong(0)   // materializes the lazy census in-job
      for (_ <- 1 to sweepsPerLevel)
        labels = refineRoundImpl(labels, g, selfLoops = true,
          swapGuard = true, pre = Some((dg, e2v)),
          weighted = weighted).localCheckpoint()
      mapping = mapping
        .join(labels.select(col("id").as("community"),
          col("community").as("nc")), Seq("community"))
        .select(col("id"), col("nc").as("community"))
        .localCheckpoint()
      if (lvl < levels)
        g = (if (weighted) coarsenWeighted(labels, g)
             else coarsen(labels, g)).localCheckpoint()
    }
    mapping
  }

  /** CONNECTIVITY REPAIR — the Leiden guarantee (Traag, Waltman & van
    * Eck 2019): Louvain can emit communities that are internally
    * DISCONNECTED (a bridge vertex moves out and strands the two
    * halves it connected); Leiden's fix is to split every community
    * into its connected parts. Splitting a disconnected community
    * always raises modularity — intra counts are unchanged and the
    * degree term splits: Δ(4m²·Q) = 2·D_1·D_2 > 0 per split
    * (spec-asserted exactly). Repaired labels are CANONICAL: each
    * community relabels to its component-minimum member id (so a
    * connected partition keeps its member sets, relabeled to minima).
    *
    * Scale: two edge-keyed label lookups select the intra-community
    * edge subset, then [[Dedup.dupClusters]]'s O(log diameter)
    * pointer-jumping CC over that subset — components never span
    * communities, so the work is community-bounded. */
  def repairCommunityConnectivity(labels: DataFrame,
                                  edges: DataFrame): DataFrame = {
    val l = labels.select(col("id"), col("community"))
    val intra = edges.select(col("src"), col("dst"))
      .join(l.select(col("id").as("src"), col("community").as("ca")), "src")
      .join(l.select(col("id").as("dst"), col("community").as("cb")), "dst")
      .where(col("ca") === col("cb") && col("src") =!= col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    Dedup.dupClusters(l.select(col("id")), "id", intra)
      .select(col("id"), col("cluster_rep").as("community"))
  }

  /** HITS hubs-and-authorities (Kleinberg, '99) over a DIRECTED edge
    * list — src vertices accumulate HUB scores ("points at the good
    * stuff"), dst vertices AUTHORITY scores ("pointed at by good
    * hubs"); on a bipartite buyer→supplier graph this separates
    * broad-basket buyers from widely-bought suppliers, two signals one
    * PageRank cannot split. Fixed iterations; after each half-step the
    * scores renormalize by their MAXIMUM on the 1e-6 integer grid via
    * round-half-up integer division (2·10⁶·s + m) div (2m) — the whole
    * iteration is pure integer arithmetic, so a chained-CTE oracle
    * replays it bit-identically (a float L2 norm would drift).
    * Headroom: Σ of grid scores into a vertex is ≤ 10⁶·deg, and the
    * normalization product needs 2·10⁶·that ≤ 2⁶³ — holds to
    * deg ≈ 4.6·10⁶; past that, lift the sums to 128-bit decimal.
    *
    * Scale: per half-step ONE edge⋈score join + one keyed sum + a
    * 1-row max — the PageRank shape. Returns one row per vertex:
    * (id, kind ∈ hub|auth, score6). */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // pre-partition the edge list by the iteration's join key ONCE:
    // localCheckpoint preserves outputPartitioning, so the six
    // half-step joins reuse the exchange instead of re-shuffling the
    // (larger) edge side every time — only the vertex-sized score
    // frame moves per half-step
    val e0 = edges.select(col("src"), col("dst")).distinct()
    val eBySrc = e0.repartition(col("src")).localCheckpoint(true)
    val eByDst = eBySrc.repartition(col("dst")).localCheckpoint(true)
    var h = eBySrc.select(col("src").as("id")).distinct()
      .withColumn("s", lit(1000000L))
    var a = eBySrc.select(col("dst").as("id")).distinct()
      .withColumn("s", lit(0L))
    def renorm(raw0: DataFrame): DataFrame = {
      // truncate before the max: the nested aggregate would otherwise
      // re-evaluate the whole upstream half-step chain TWICE per
      // half-step (once under the max, once under the join) —
      // doubling work every iteration (measured 9.5 s → ~1 s at sf0.1).
      // LAZY checkpoint: the max aggregate materializes it, the join
      // then reuses the cached blocks — half the jobs of eager mode
      val raw = raw0.localCheckpoint(false)
      val mx = raw.agg(max(col("sr")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"),
          expr("(2000000L * sr + mx) div (2L * mx)").as("s"))
    }
    for (_ <- 1 to iters) {
      a = renorm(eBySrc.join(h.select(col("id").as("src"), col("s")), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("s")).as("sr")))
      h = renorm(eByDst.join(a.select(col("id").as("dst"), col("s")), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("s")).as("sr")))
    }
    h.select(col("id"), lit("hub").as("kind"), col("s").as("score6"))
      .unionByName(a.select(col("id"), lit("auth").as("kind"),
        col("s").as("score6")))
  }

  /** Graph DBSCAN (Ester et al., KDD '96) over a precomputed
    * ε-neighborhood pair graph: the pair list IS the "within ε"
    * relation (here typically a near-dup or similarity pair set, so ε
    * was already paid for by the banded/inverted-index join), and
    * density clustering reduces to graph rules — a vertex with ≥
    * `minPts` neighbors is CORE; clusters are connected components of
    * the core-core subgraph (via [[graft.operators.Dedup.dupClusters]]'
    * pointer-jumping hash-min CC); a non-core vertex adjacent to a
    * core is BORDER and joins its minimum core-neighbor's cluster
    * (the deterministic stand-in for DBSCAN's arbitrary first-finder
    * assignment); everything else is NOISE. This separates dense
    * template families from the bridge/chain structure that makes
    * plain CC (q51) over-merge — the density-based complement of
    * k-core's degree peeling.
    *
    * Scale: one degree census, core-filtered edges (never larger than
    * the pair graph), the audited CC loop on the core subgraph, one
    * border join — all keyed on vertices of the DUP population;
    * `vertices` (the corpus) is touched once at the end.
    * Returns per vertex: (id, role ∈ core|border|noise, cluster_rep —
    * null for noise).
    *
    * Cache lifecycle: the core vertex set is persisted with NO release
    * path (the [[graft.operators.Dedup.jaccardPairs]] contract) — it
    * feeds the core-pair filter, the CC loop, and the border
    * anti-join; one-shot jobs drop it with the session, long-running
    * sessions should `spark.catalog.clearCache()` between runs. */
  def dbscan(vertices: DataFrame, pairs: DataFrame,
             minPts: Long): DataFrame = {
    require(minPts >= 1, "minPts must be >= 1")
    val v = vertices.select(col("id"))
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val core = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= minPts)
      .select(col("src").as("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corePairs = p
      .join(core.select(col("id").as("id_a")), "id_a")
      .join(core.select(col("id").as("id_b")), "id_b")
      .select(col("id_a"), col("id_b"))
    val coreReps = Dedup.dupClusters(core, "id", corePairs)
    val borderReps = edges
      .join(coreReps.select(col("id").as("dst"), col("cluster_rep")),
        "dst")
      .select(col("src").as("id"), col("cluster_rep"))
      .join(core, Seq("id"), "left_anti")
      .groupBy(col("id")).agg(min(col("cluster_rep")).as("cluster_rep"))
    val labeled = coreReps
      .select(col("id"), lit("core").as("role"), col("cluster_rep"))
      .unionByName(borderReps.select(col("id"), lit("border").as("role"),
        col("cluster_rep")))
    v.join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("role"), lit("noise")).as("role"),
        col("cluster_rep"))
  }

  /** Personalized PageRank (random walk with restart): [[pageRank]]
    * with the teleport concentrated on a SEED set instead of spread
    * uniformly — the walker restarts at the seeds, so rank measures
    * proximity-weighted reachability FROM them: the graph
    * recommendation primitive ("related to these items"), equally the
    * audience-expansion and taint-propagation shape. Same grid-exact
    * iteration as [[pageRank]] (1e-6 fixed-point edge contributions →
    * order-free integer sums), with r₀ = N/|S| on seeds (total mass N,
    * matching the uniform variant's headroom analysis — per-vertex
    * contributions stay O(N/|S|), so longs hold while N·1e6/|S| does)
    * and per-vertex teleport (1−d)·N/|S|·1_seed. Non-seed components
    * get exactly zero — unreachable vertices rank 0, not teleport
    * noise.
    *
    * Scale: identical per-iteration shape to [[pageRank]] — one
    * edge⋈rank join + one dst-keyed sum; the seed join happens once
    * into a persisted base frame. */
  def personalizedPageRank(vertices: DataFrame, edges: DataFrame,
                           seeds: DataFrame, iters: Int = 3,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val v = vertices.select(col("id"))
    val e = edges.select(col("src"), col("dst"))
    val sd = seeds.select(col("id")).distinct()
    val counts = v.agg(count(lit(1)).as("n"))
      .crossJoin(sd.agg(count(lit(1)).as("ns")))
    val base = v
      .join(sd.select(col("id"), lit(1L).as("__s")), Seq("id"), "left")
      .crossJoin(broadcast(counts))
      .select(col("id"),
        when(col("__s").isNotNull,
          col("n").cast("double") / col("ns")).otherwise(lit(0.0))
          .as("r0"),
        col("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // degree-annotated edge list cached once (the pageRank idiom):
    // per iteration only the vertex-sized rank table shuffles
    val edeg = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")),
        "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var r = base.select(col("id"), col("r0").as("r"))
    for (_ <- 1 to iters) {
      val contrib = edeg
        .join(r.select(col("id").as("src"), col("r")), "src")
        .select(col("dst").as("id"),
          round(col("r") / col("deg") * lit(1e6)).cast("long").as("c"))
      val sums = contrib.groupBy(col("id")).agg(sum(col("c")).as("s"))
      r = base.join(sums, Seq("id"), "left")
        .select(col("id"),
          (lit(1 - damping) * col("r0") +
            lit(damping) * (coalesce(col("s"), lit(0L)).cast("double")
              / lit(1e6))).as("r"))
    }
    base.select(col("id"), col("n")).join(r, "id")
      .select(col("id"), (col("r") / col("n")).as("p"))
  }

  /** Multi-source BFS hop distance over an UNDIRECTED pair graph —
    * the recursive-CTE workload (org charts, lineage closures, "within
    * k degrees" audiences) expressed as the canonical distributed
    * frontier iteration: seeds start at hop 0; each round joins the
    * CURRENT frontier (not the whole visited set) against the edge
    * list and anti-joins already-visited vertices, so every vertex is
    * expanded exactly once and the per-round shuffle is
    * frontier-sized. Min-hop semantics are free: a vertex enters
    * `visited` the first round it is reachable. Rounds stop at
    * `maxHops` or an empty frontier, whichever comes first; each
    * round's frontier is localCheckpoint-truncated (the
    * [[graft.operators.Dedup.dupClusters]] lineage discipline), so
    * deep traversals never re-execute earlier rounds.
    * Returns (id, hop) for every vertex within `maxHops` of a seed —
    * unreachable vertices are simply absent. `stride = 2` expands two
    * layers per round over a precomputed 2-hop edge list (exact
    * min-hops either way), halving the sequential round count for
    * deep traversals on bounded-degree graphs.
    *
    * A bounded SQL oracle replays this as a recursive CTE capped at
    * `hop < maxHops` with min(hop) per vertex — hash-matching it
    * proves the distributed frontier iteration equals the textbook
    * fixpoint.
    *
    * `driverMaxEdges` opts into the shared small-graph path
    * ([[DriverPath]]): a deep traversal costs one sequential Spark job
    * per round — pure scheduler latency when the graph is small — so
    * within the budget (edges and distinct seeds alike) the edge list is
    * collected once and the BFS runs driver-side, bit-identically
    * (spec-asserted). Unlike the other graph operators the default is
    * 0, never collect; callers whose pair graphs are bounded by
    * construction (dup-population graphs, k-hop neighborhoods) pass an
    * explicit budget or a negative value for [[DriverPath.maxEdges]],
    * and anything over it falls back to the distributed frontier
    * iteration unchanged. */
  def bfsHops(pairs: DataFrame, seeds: DataFrame, maxHops: Int,
              stride: Int = 1,
              broadcastFrontier: Boolean = true,
              broadcastVisited: Boolean = false,
              driverMaxEdges: Int = 0): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    require(stride == 1 || stride == 2, "stride must be 1 or 2")
    // Driver path only when the two frames agree on the id type —
    // the hops map mixes seed values and pair values, and a mixed
    // (Integer, Long) map would fail at materialization where the
    // distributed path coerces through its unions/joins.
    val budget = DriverPath.budget(driverMaxEdges)
    val onDriver =
      if (seeds.schema("id").dataType != pairs.schema("id_a").dataType) None
      else DriverPath.described(pairs.sparkSession, "GraphOps.bfsHops probe") {
        for {
          probe <- DriverPath.collectWithin(pairs.select(col("id_a"), col("id_b")),
            budget)
          // Seeds share the edge budget: a corpus-sized seed frame with
          // a small edge list must NOT be collected — over budget falls
          // back to the distributed frontier loop like an over-budget
          // edge list does.
          seedProbe <- DriverPath.collectWithin(
            seeds.select(col("id")).distinct(), budget)
        } yield {
          val adj = new scala.collection.mutable.HashMap[
            Any, scala.collection.mutable.LinkedHashSet[Any]]
          def link(a: Any, b: Any): Unit =
            adj.getOrElseUpdate(a,
              scala.collection.mutable.LinkedHashSet.empty[Any]) += b
          probe.foreach { r => link(r.get(0), r.get(1)); link(r.get(1), r.get(0)) }
          val hops = new scala.collection.mutable.LinkedHashMap[Any, Long]
          seedProbe.foreach(r => hops.update(r.get(0), 0L))
          var frontier: Seq[Any] = hops.keys.toSeq
          var h = 1L
          while (h <= maxHops && frontier.nonEmpty) {
            val next = scala.collection.mutable.LinkedHashSet.empty[Any]
            frontier.foreach(u => adj.get(u).foreach(_.foreach { v =>
              if (!hops.contains(v)) { hops.update(v, h); next += v }
            }))
            frontier = next.toSeq
            h += 1
          }
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", seeds.schema("id").dataType),
            org.apache.spark.sql.types.StructField("hop",
              org.apache.spark.sql.types.LongType)))
          DriverPath.localFrame(pairs.sparkSession, schema,
            hops.iterator.map { case (v, d) => org.apache.spark.sql.Row(v, d) }.toSeq)
        }
      }
    if (onDriver.isDefined) return onDriver.get
    val e = pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stride 2: precompute the 2-hop edge list ONCE and expand two BFS
    // layers per round — min-hop exactness is preserved by taking
    // min(d) over the 1-hop ∪ 2-hop candidates before the visited
    // anti-join, and the sequential-round count (the real cost of deep
    // traversals: per-round job latency dominates frontier work) is
    // halved. The trade is |e2| ≤ Σ deg(v)² — fine for bounded-degree
    // graphs (edit-distance neighborhoods, lineage DAGs); keep
    // stride 1 where hub vertices make the 2-hop closure explode.
    val e2 =
      if (stride == 2 && maxHops >= 2)
        e.select(col("u"), col("v").as("w"))
          .join(e.select(col("u").as("w"), col("v")), "w")
          .where(col("u") =!= col("v"))
          .select("u", "v").distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else e
    var visited = seeds.select(col("id")).distinct()
      .select(col("id"), lit(0L).as("hop")).localCheckpoint()
    var frontier = visited.select(col("id"))
    var hop = 1
    var done = maxHops == 0
    while (!done) {
      val two = stride == 2 && hop + 1 <= maxHops
      // broadcast the frontier: the per-round join then streams the
      // CACHED edge list map-side instead of re-shuffling it every
      // hop (the dominant per-round cost — the edge shuffle is
      // |E|-sized, the frontier is one BFS layer). Frontier layers in
      // the closure workloads this serves (edit-distance
      // neighborhoods, lineage DAGs, "within k degrees" audiences)
      // are bounded; a graph whose layers outgrow the driver should
      // flip `broadcastFrontier` off and take the shuffle join.
      def fr(col0: Column): DataFrame = {
        val f = frontier.select(col0.as("u"))
        if (broadcastFrontier) broadcast(f) else f
      }
      val c1 = e.join(fr(col("id")), "u")
        .select(col("v").as("id"), lit(1).as("d"))
      val cand = if (two)
        c1.unionAll(e2.join(fr(col("id")), "u")
          .select(col("v").as("id"), lit(2).as("d")))
      else c1
      // visited broadcast is OPT-IN, decoupled from the frontier: a
      // frontier is one BFS layer (bounded), but visited grows toward
      // the full reachable component — broadcasting it by default
      // would be a driver-memory cliff on large graphs. Callers whose
      // reachable set is bounded by construction (k-hop edit-distance
      // neighborhoods, dup-population pair graphs) flip
      // `broadcastVisited` on for the map-side anti-join win.
      val vis = visited.select(col("id"))
      val next = cand
        .groupBy(col("id")).agg(min(col("d")).as("d"))
        .join(if (broadcastVisited) broadcast(vis) else vis,
          Seq("id"), "left_anti")
        .select(col("id"), (lit(hop - 1) + col("d")).cast("long").as("hop"))
        // LAZY: the layer-count pass right below materializes it (the
        // hits() renorm trick) — one job per round instead of an eager
        // checkpoint job plus a count job
        .localCheckpoint(false)
      // one cached-frame pass tells us both layers' sizes — no second
      // expansion job for the emptiness probes
      val layerN = next.groupBy(col("hop")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (layerN.isEmpty) done = true
      else {
        // no checkpoint here: visited is a shallow union of ≤hops
        // ALREADY-materialized frontier frames — re-checkpointing it
        // would re-scan all of visited every hop (O(V·hops) total)
        visited = visited.unionAll(next)
        // any vertex at min-hop h+1 must have a neighbor at min-hop h,
        // so an empty TOP layer in a two-step round (d=1 survivors but
        // no d=2) proves the traversal complete — no confirming round
        if (two && !layerN.contains(hop + 1L)) done = true
        else {
          val deepest = layerN.keys.max
          frontier = next.where(col("hop") === deepest).select(col("id"))
          hop = deepest.toInt + 1
          if (hop > maxHops) done = true
        }
      }
    }
    e.unpersist()
    if (!(e2 eq e)) e2.unpersist()
    visited
  }

  /** Score smoothing over an UNDIRECTED pair graph (label/trust
    * propagation, Zhu & Ghahramani 2002 shape with a fixed iteration
    * count): each round replaces a vertex's score with the mean of its
    * own and its neighborhood average — s' = (s + avgNb + 1) div 2 on
    * the 1e-4 integer grid. Over the near-dup graph this pushes a
    * trusted quality signal through duplicate clusters: a low-signal
    * copy inherits credibility from well-scored near-duplicates, and an
    * outlier score gets pulled toward its cluster. Isolated vertices
    * keep their score exactly.
    *
    * Cross-engine exactness: scores enter as `round(score·1e4)` longs;
    * the neighborhood average is `(2·Σ + n) div (2n)` (round-half-up of
    * an order-free integer sum) and the blend is pure integer
    * arithmetic — no float ever, so a SQL oracle chaining the same
    * rounds matches bit-for-bit.
    *
    * Scale: per round, one edge⋈score join keyed on the vertex + one
    * vertex-keyed aggregate — the PageRank shape; edges are the
    * near-dup pair graph (dup-population-sized, not corpus-sized). */
  def smoothScores(scores: DataFrame, pairs: DataFrame, scoreCol: String,
                   iters: Int = 2): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val s0 = scores.select(col("id"),
      round(col(scoreCol) * 1e4).cast("long").as("s4"))
    var s = s0
    for (_ <- 1 to iters) {
      val nb = edges.join(s.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src"))
        .agg(floor((lit(2) * sum(col("s4")) + count(lit(1))) /
          (lit(2) * count(lit(1)))).as("avg4"))
        .withColumnRenamed("src", "id")
      s = s.join(nb, Seq("id"), "left")
        .select(col("id"),
          when(col("avg4").isNull, col("s4"))
            .otherwise(floor((col("s4") + col("avg4") + lit(1)) / lit(2)))
            .as("s4"))
    }
    s0.withColumnRenamed("s4", "s4_initial")
      .join(s.withColumnRenamed("s4", "s4_smoothed"), Seq("id"))
      .withColumn("smoothed", col("s4_smoothed").cast("double") / 1e4)
  }

  /** Exact triangle count + global clustering coefficient over an
    * undirected pair graph `(id_a, id_b)` (id_a < id_b, no
    * multi-edges) — how CLIQUE-like the near-dup graph is at the
    * corpus level (many triangles = real duplicate families; a high
    * wedge count with few triangles = chained false positives, the
    * graph-level form of the q159 per-cluster coherence signal).
    *
    * Degree-oriented algorithm: every edge is directed from its
    * lower-(degree, id) endpoint to the higher, wedges are generated
    * by the self-join on the ORIENTED source, and a wedge closes iff
    * its (min, max) pair is itself an oriented edge. Orientation is
    * the scale move — out-degree is O(√m) regardless of hubs, so a
    * viral-image star node generates no quadratic wedge explosion
    * (the naive node-iterator dies exactly there). Cost: one degree
    * census, one oriented self-join, one semi-join.
    * coeff4 = ⌊10⁴·3·triangles / wedges⌋ on the grid (0 when
    * wedge-free); wedges = Σ d(d−1)/2 over true degrees. */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val und = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
    val deg = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
    // orient lower-(degree, id) → higher; encode the rank as d·2⁴⁰+id
    // (exact for d, id < 2⁴⁰ — corpus ids are ≤ 2³³ at 100 TB)
    val ku = col("du") * lit(1L << 40) + col("u")
    val kv = col("dv") * lit(1L << 40) + col("v")
    val oriented = withDeg.select(
      when(ku < kv, col("u")).otherwise(col("v")).as("src"),
      when(ku < kv, col("v")).otherwise(col("u")).as("dst"))
    val wedgePairs = oriented.select(col("src"), col("dst").as("w1"))
      .join(oriented.select(col("src"), col("dst").as("w2")), "src")
      .where(col("w1") < col("w2"))
    val canon = oriented.select(
      least(col("src"), col("dst")).as("e1"),
      greatest(col("src"), col("dst")).as("e2"))
    val triangles = wedgePairs
      .join(canon, col("w1") === col("e1") && col("w2") === col("e2"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = deg.agg(
      coalesce(sum((col("d") * (col("d") - 1) / 2).cast("long")), lit(0L))
        .as("n_wedges"),
      count(lit(1)).as("n_vertices"))
    triangles.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"), col("n_vertices"),
        when(col("n_wedges") > 0,
          floor(lit(10000L) * lit(3L) * col("n_triangles") / col("n_wedges")))
          .otherwise(lit(0L)).cast("long").as("coeff4"))
  }

  /** k-core decomposition membership (Seidman '83): the maximal
    * subgraph in which every vertex keeps degree ≥ k, computed by the
    * standard peeling fixpoint — repeatedly drop vertices whose degree
    * in the SURVIVING subgraph falls below k. Over the near-dup graph
    * the k-core separates genuinely dense duplicate families from
    * chains and stars that mere connected components lump together
    * (a CC of 10⁴ docs may be one boilerplate hub; its 3-core is the
    * actual template cluster). The fixpoint is unique and
    * order-independent, so any engine that peels to convergence gets
    * the identical vertex set — the replay contract the oracle uses
    * (a FIXED round count that the fixture converges within;
    * convergence is asserted, not hoped). Returns (id, core_deg) for
    * the surviving vertices — core_deg is each vertex's degree inside
    * the k-core.
    *
    * Scale: per round, one degree census + two semi-joins of the edge
    * list against the vertex-sized survivor set; the edge list only
    * shrinks. localCheckpoint truncates the per-round lineage exactly
    * like the CC loop; rounds needed is the peeling depth (small for
    * real dup graphs — long dependency chains, not web-scale cores,
    * are the adversarial case). */
  def kCore(pairs: DataFrame, k: Int, maxRounds: Int = 32): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // LAZY checkpoints: the count() right below materializes the
    // frame inside its own job (no-arg localCheckpoint is EAGER and
    // was paying a dedicated job per round on top of the count)
    var edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .localCheckpoint(false)
    var n = edges.count()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds && n > 0) {
      val deg = edges.select(col("u").as("id"))
        .unionAll(edges.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val keep = deg.where(col("d") >= k).select("id")
      val next = edges
        .join(keep.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
        .localCheckpoint(false)
      val m = next.count()
      converged = m == n
      edges = next
      n = m
      round += 1
    }
    require(converged || n == 0,
      s"k-core peeling did not converge within $maxRounds rounds")
    edges.select(col("u").as("id"))
      .unionAll(edges.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("core_deg"))
  }

  /** Common-neighbor link prediction (Liben-Nowell–Kleinberg '03 —
    * the classic structural candidate generator): for every NON-edge
    * (a, b) with at least `minCommon` shared neighbors, the common
    * count plus the neighborhood Jaccard |Γa∩Γb| / |Γa∪Γb| on the 1e-6
    * grid. Over a near-dup pair graph these are the pairs the verifier
    * MISSED but the structure vouches for — two docs sharing many dup
    * partners are themselves near-dup candidates, so this is the
    * recall-repair pass a banding pipeline runs after the fact.
    *
    * Scale: wedge generation is the exact cost Σ_w d(w)·(d(w)−1)/2 —
    * bounded by per-vertex degrees, the same budget the triangle
    * counter pays. `maxDegree` is the operator-owned guard (the
    * [[graft.operators.Dedup.jaccardPairs]] `maxDocFreq` convention):
    * a vertex whose degree exceeds the cap is dropped from the WEDGE
    * CENTER role — a 10⁶-degree boilerplate hub vouches for nothing,
    * and without the cap it alone costs O(d²) wedges. Endpoint
    * degrees (`deg_a`/`deg_b`, and the Jaccard denominator) stay
    * exact; only `common` is counted over sub-cap witnesses, so the
    * score is a lower bound exactly as the df-capped Jaccard is. The
    * DEFAULT is uncapped (exact — what the q266 oracle computes);
    * hub-heavy graphs must opt in to the cap (the Soak cnc_hub leg
    * does). The existing-edge subtraction is one anti-join; degrees
    * broadcast. */
  def commonNeighborCandidates(pairs: DataFrame,
                               minCommon: Long = 2L,
                               maxDegree: Option[Long] = None)
      : DataFrame = {
    // a NULL endpoint is no edge: dropped once here, so the degrees the
    // census counts agree on both paths (the string path's encoding
    // joins would drop it anyway)
    val und = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
    if (und.schema("u").dataType !=
        org.apache.spark.sql.types.StringType)
      return cncCore(und, minCommon, maxDegree)
    // STRING vertex ids: the census shuffles and hash-aggregates
    // Σ deg² wedge rows keyed by TWO strings (~40 B/row on name
    // graphs). Encode vertices to longs first — one vertex-sized
    // dedup + two edge joins (broadcast at small scale, edge-keyed at
    // large) — run the whole census on (long, long) keys, decode the
    // few surviving candidates at the end. Wedge rows dominate edges
    // whenever the census is worth running, so trading two edge joins
    // for ~4× narrower census keys wins. The id map is pinned with an
    // eager localCheckpoint: monotonically_increasing_id is stable
    // once materialized (block loss fails loud instead of silently
    // remapping), and ids never reach the output.
    val ids = und.select(col("u").as("name"))
      .unionAll(und.select(col("v").as("name")))
      .distinct()
      .withColumn("vid", monotonically_increasing_id())
      .localCheckpoint(true)
    val undI = und
      .join(ids.select(col("name").as("u"), col("vid").as("ui")), "u")
      .join(ids.select(col("name").as("v"), col("vid").as("vi")), "v")
      .select(col("ui").as("u"), col("vi").as("v"))
    // the census canonicalizes pairs by VID order; restore the
    // caller-visible (original-type) order on decode so rows are
    // bit-identical to the un-encoded path
    val outI = cncCore(undI, minCommon, maxDegree)
    outI
      .join(ids.select(col("vid").as("id_a"), col("name").as("na")), "id_a")
      .join(ids.select(col("vid").as("id_b"), col("name").as("nb")), "id_b")
      .select(
        least(col("na"), col("nb")).as("id_a"),
        greatest(col("na"), col("nb")).as("id_b"),
        col("common"),
        when(col("na") <= col("nb"), col("deg_a")).otherwise(col("deg_b"))
          .as("deg_a"),
        when(col("na") <= col("nb"), col("deg_b")).otherwise(col("deg_a"))
          .as("deg_b"),
        col("jaccard6"))
  }

  /** [[commonNeighborCandidates]] census body, id-type agnostic. */
  private def cncCore(und: DataFrame, minCommon: Long,
                      maxDegree: Option[Long]): DataFrame = {
    val adj = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val deg = adj.groupBy(col("u").as("id")).agg(count(lit(1)).as("d"))
    val centers = maxDegree match {
      case Some(cap) => adj.join(
        deg.where(col("d") <= cap).select(col("id").as("u")),
        Seq("u"), "left_semi")
      case None => adj
    }
    val wedges = centers.select(col("u").as("w"), col("v").as("a"))
      .join(centers.select(col("u").as("w"), col("v").as("b")), "w")
      .where(col("a") < col("b"))
      .groupBy(col("a").as("id_a"), col("b").as("id_b"))
      .agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
    val canon = und.select(least(col("u"), col("v")).as("id_a"),
      greatest(col("u"), col("v")).as("id_b"))
    wedges.join(canon, Seq("id_a", "id_b"), "left_anti")
      .join(deg.select(col("id").as("id_a"), col("d").as("deg_a")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("d").as("deg_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("common"),
        col("deg_a"), col("deg_b"),
        round(lit(1e6) * col("common")
          / (col("deg_a") + col("deg_b") - col("common"))).cast("long")
          .as("jaccard6"))
  }

  /** Recursive-hierarchy rollup (org chart / bill-of-materials): for
    * every node of a parent-pointer forest, the COUNT and SUM over its
    * entire subtree (descendants + self). The recursive-CTE workload
    * ("total headcount under each manager", "exploded BOM cost per
    * assembly") expressed as a bounded-depth iteration over
    * AGGREGATES — the BFS shape, but each round folds child
    * accumulators into parents instead of expanding a frontier:
    * acc₀(v) = (1, value v); acc₍ₖ₊₁₎(v) = own + Σ acc₍ₖ₎(children) —
    * after k rounds acc(v) covers descendants within k hops, so the
    * fixpoint (detected by the total-count aggregate going stable, one
    * job per round on the lazily-checkpointed frame — counts are
    * monotone even when values are negative) is the exact subtree
    * rollup at every node simultaneously.
    *
    * Input: (id, parent, value) with parent NULL for roots; value an
    * exact integer (cents/micros — the engine's grid discipline).
    * Returns (id, n_subtree, subtree_sum).
    *
    * `qtyCol` turns the additive rollup into the EXPLODED
    * bill-of-materials fold: cost(v) = value(v) + Σ_c qty(c)·cost(c),
    * i.e. each descendant's value enters multiplied by the PRODUCT of
    * the edge quantities on the path down to it ("3 axles per truck ×
    * 5 bolts per axle = 15 bolts of cost"). The convergence probe
    * stays the UNWEIGHTED descendant count — monotone regardless of
    * quantity or value signs. Omitted, every qty is 1 and the rollup
    * is the plain subtree sum.
    *
    * Scale: per round ONE parent-keyed shuffle aggregate + one join of
    * the node table against it — never more than node-table work, and
    * rounds = tree depth (org charts and BOMs are depth-bounded by
    * construction; `maxDepth` turns a parent-pointer CYCLE — where the
    * count aggregate never stabilizes — into a loud failure instead of
    * an infinite loop). */
  def subtreeAggregate(nodes: DataFrame, maxDepth: Int = 32,
                       qtyCol: Option[String] = None): DataFrame = {
    require(maxDepth >= 1, "maxDepth must be >= 1")
    val qty = qtyCol.map(col).getOrElse(lit(1L)).as("qty")
    val base = nodes.select(col("id"), col("parent"), col("value"), qty)
      .localCheckpoint(true)
    var acc = base
      .select(col("id"), lit(1L).as("n"), col("value").as("s"))
      .localCheckpoint(false)
    var total = acc.agg(sum(col("n"))).head().getLong(0)
    var done = false
    var round = 0
    while (!done && round < maxDepth) {
      val contrib = acc
        .join(base.select(col("id"), col("parent"), col("qty")), "id")
        .where(col("parent").isNotNull)
        .groupBy(col("parent").as("id"))
        .agg(sum(col("n")).as("cn"), sum(col("qty") * col("s")).as("cs"))
      val next = base
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(1L) + coalesce(col("cn"), lit(0L))).as("n"),
          (col("value") + coalesce(col("cs"), lit(0L))).as("s"))
        .localCheckpoint(false)
      val t = next.agg(sum(col("n"))).head().getLong(0)
      done = t == total
      total = t
      acc = next
      round += 1
    }
    require(done,
      s"subtreeAggregate did not stabilize within maxDepth=$maxDepth " +
        "rounds — tree deeper than the cap, or a parent-pointer cycle")
    acc.select(col("id"), col("n").as("n_subtree"),
      col("s").as("subtree_sum"))
  }

  /** Degree assortativity of an undirected pair graph — Newman's r:
    * the Pearson correlation of endpoint degrees over edges (both
    * orientations, the standard symmetric form). Positive = hubs link
    * hubs (one giant template family), negative = hubs link leaves
    * (a boilerplate hub quoted by many singletons) — structure a
    * dedup strategy reads before choosing canonical-keep rules. With
    * M = 2·edges, S = Σdx, Q = Σdx², P = Σdx·dy:
    * r = (M·P − S²) / (M·Q − S²) — exact integers into ONE double
    * division on the 1e-4 grid; a degree-regular graph (zero
    * variance) reports null. Returns one row (n_edges, r4).
    *
    * Scale: a degree census + two broadcast-able joins of the edge
    * list against it — never more than edge-list work. */
  def assortativity(pairs: DataFrame): DataFrame = {
    val und = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
    val deg = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val dir = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val num = col("m2") * col("pxy") - col("sx") * col("sx")
    val den = col("m2") * col("qx") - col("sx") * col("sx")
    dir.join(deg.select(col("id").as("u"), col("deg").as("dx")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dy")), "v")
      .agg(count(lit(1)).as("m2"), sum(col("dx")).as("sx"),
        sum(col("dx") * col("dx")).as("qx"),
        sum(col("dx") * col("dy")).as("pxy"))
      .select((col("m2") / 2).cast("long").as("n_edges"),
        when(den === 0L, lit(null).cast("long"))
          .otherwise(round(lit(1e4) * num.cast("double")
            / den.cast("double")).cast("long")).as("r4"))
  }
}
