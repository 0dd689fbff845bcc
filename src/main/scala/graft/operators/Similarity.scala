package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set against
  *    the full corpus; O(N·Q) dot products, no shuffle until the final
  *    per-query top-k. This is the oracle/ground-truth path.
  *  - [[signLshTopK]] — approximate: both sides bucketed by a
  *    deterministic sign-bit quantizer; candidates restricted to the
  *    query's bucket. At 100 TB the corpus is bucketed ONCE (write-time
  *    partitioning on the bucket), so a query touches 1/2^bits of data.
  */
object Similarity {

  /** Exact top-k cosine neighbors per query vector.
    * @param corpus  (idCol, vecCol) frame — the big side
    * @param queries (idCol, vecCol) frame — small, gets broadcast
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String,
                     k: Int, dim: Int, excludeSelf: Boolean = true): DataFrame = {
    val c = FanOut(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val pairs = c.join(broadcast(q),
      if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    val scored = pairs.withColumn("cosine",
      round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rn"))
  }

  /** Per-query recall@k report: the fraction of the exact top-k
    * ([[bruteForceTopK]]) an ANN result recovered — the metric every
    * index deployment monitors (probe/refine knobs are tuned against
    * exactly this table). Both inputs are `(query_id, corpus_id, …)`
    * top-k frames, so the join is (nQueries × k)-sized — index-output
    * work, never corpus work; queries with zero overlap surface as
    * recall = 0 rather than vanishing. */
  def annRecall(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e = exact.select(col("query_id"), col("corpus_id"))
    val a = approx.select(col("query_id"), col("corpus_id"))
    val hits = e.join(a, Seq("query_id", "corpus_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    e.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble), 4)
          .as("recall"))
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k most-similar corpus vectors with a DIFFERENT label — the
    * negatives that actually move the loss. Same broadcast + per-query
    * window shape as [[bruteForceTopK]] with the label inequality
    * pushed into the join condition, so same-label pairs are pruned
    * before any dot product is computed. At scale, swap the broadcast
    * brute-force stage for [[ivfProbe]] candidates and keep the label
    * filter + window unchanged. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, labelCol: String,
                    k: Int): DataFrame = {
    val c = FanOut(corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("cv"), col(labelCol).as("c_label")))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("q_label"))
    val pairs = c.join(broadcast(q), col("c_label") =!= col("q_label"))
    val scored = pairs.withColumn("cosine",
      round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rn"))
  }

  /** Contrastive training triplets: for each anchor (query), its
    * nearest SAME-label neighbor (the positive) paired with its top-k
    * most-similar DIFFERENT-label neighbors ([[hardNegatives]]) and the
    * per-pair margin pos_cosine − neg_cosine — the (anchor, positive,
    * hard-negative) table a contrastive/embedding trainer consumes,
    * assembled with the loss-relevant margin already attached.
    *
    * Two label-pruned broadcast top-k passes (the [[bruteForceTopK]]
    * shape) joined on the anchor — at scale, swap either pass for
    * [[ivfProbe]]/[[ivfPqTopK]] candidates and keep the join; the
    * anchor-keyed join is query-set-sized, never corpus-sized. */
  def contrastiveTriplets(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, labelCol: String,
                          kNeg: Int): DataFrame = {
    val c = FanOut(corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("cv"), col(labelCol).as("c_label")))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("q_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    val pos = c.join(broadcast(q),
        col("c_label") === col("q_label") && col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("query_id"), col("corpus_id").as("pos_id"),
        col("cosine").as("pos_cosine"))
    val neg = hardNegatives(corpus, queries, idCol, vecCol, labelCol, kNeg)
      .select(col("query_id"), col("corpus_id").as("neg_id"),
        col("cosine").as("neg_cosine"), col("rn").as("neg_rank"))
    pos.join(neg, "query_id")
      .withColumn("margin", col("pos_cosine") - col("neg_cosine"))
  }

  /** Approximate top-k: only corpus vectors in the query's sign-LSH
    * bucket are scored. Deterministic (no RNG), so results are exactly
    * reproducible in any engine. */
  def signLshTopK(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String,
                  k: Int, dim: Int, bits: Int = 8,
                  excludeSelf: Boolean = true): DataFrame = {
    val c = FanOut(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      signBucket(col(vecCol), bits).as("bucket")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      signBucket(col(vecCol), bits).as("bucket"))
    val pairs = c.join(broadcast(q), Seq("bucket"))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    val scored = pairs.withColumn("cosine",
      round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rn"))
  }

  /** Multi-probe variant of [[signLshTopK]]: each query also probes every
    * bucket at Hamming distance 1 from its own (bits+1 probes total),
    * recovering most boundary-crossing neighbors for ~(bits+1)× the
    * candidate volume — still a bucket-equi-join, still ~N·(bits+1)/2^bits
    * of the corpus per query instead of all of it. */
  def signLshTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String,
                            k: Int, dim: Int, bits: Int = 8,
                            excludeSelf: Boolean = true): DataFrame = {
    val c = FanOut(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      signBucket(col(vecCol), bits).as("bucket")))
    val flips = (0 until bits).map { i =>
      val pre = if (i > 0) substring(col("b0"), 1, i) else lit("")
      val bit = when(substring(col("b0"), i + 1, 1) === "1", "0").otherwise("1")
      val post = if (i < bits - 1) substring(col("b0"), i + 2, bits - i - 1) else lit("")
      concat(pre, bit, post)
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        signBucket(col(vecCol), bits).as("b0"))
      .withColumn("bucket", explode(array(col("b0") +: flips: _*)))
      .drop("b0")
    val pairs = c.join(broadcast(q), Seq("bucket"))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    val scored = pairs.withColumn("cosine",
      round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rn"))
  }

  /** IVF (inverted-file) approximate top-k: learn `nlist` centroids with
    * a few deterministic Lloyd iterations, assign every corpus vector to
    * its nearest centroid (the inverted list), and let each query score
    * only the lists of its `nprobe` nearest centroids — ~nprobe/nlist of
    * the corpus per query instead of all of it.
    *
    * Scale shape: training touches only a hash-sample (`trainMod` keeps
    * 1/trainMod of the corpus); each Lloyd step is one broadcast join +
    * one (cluster, dim) aggregate; only the nlist×dim centroid matrix is
    * ever collected (same driver footprint as any k-means impl). The
    * corpus is assigned ONCE — at 100 TB you'd persist the assignment as
    * a partitioned table and reuse it across query batches. Probing is a
    * broadcast equi-join on the centroid id.
    *
    * Deterministic: seeding is by md5(id) order, iteration count fixed,
    * per-dimension means rounded to 6 dp so float summation order cannot
    * flip an assignment. Learned centroids adapt to clustered real-world
    * embeddings where fixed sign-planes cannot. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String,
              k: Int, dim: Int, nlist: Int = 16, nprobe: Int = 4,
              iters: Int = 5, trainMod: Int = 1,
              excludeSelf: Boolean = true): DataFrame = {
    val centroids = ivfTrain(corpus, idCol, vecCol, nlist, iters, trainMod)
    ivfProbe(ivfAssign(corpus, idCol, vecCol, centroids), centroids,
      queries, idCol, vecCol, k, nprobe, excludeSelf)
  }

  private def dist2(v: Column, cent: Column): Column =
    aggregate(zip_with(v, cent, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)

  // Centroids live driver-side between steps (an nlist×dim matrix, the
  // k-means state every implementation keeps), so nearest-centroid
  // assignment is a PURE MAP: an argmin over literal centroid vectors —
  // array_min over (d2, cid) structs — with no join, no window, and no
  // shuffle of the vector column. Ties break to the smaller cid.
  private def distStructs(v: Column, cents: Array[(Int, Array[Double])]): Column =
    array(cents.toIndexedSeq.map { case (cid, cent) =>
      struct(dist2(v, typedLit(cent.toSeq)).as("d2"), lit(cid).as("cid"))
    }: _*)

  /** Train IVF centroids: deterministic Lloyd k-means (md5-ordered
    * seeding, fixed iteration count, 6-dp-rounded means so float
    * summation order cannot flip an assignment). Returns the nlist×dim
    * centroid matrix — the persistable "index model": at scale, train
    * once on a hash-sample, store the matrix, and reuse it across every
    * query batch and incremental corpus assignment. */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, iters: Int = 5,
               trainMod: Int = 1): Array[(Int, Array[Double])] = {
    val spark = corpus.sparkSession
    val c = FanOut(corpus.select(col(idCol).as("corpus_id"),
      transform(col(vecCol), _.cast("double")).as("cv")))
    // Persist the training sample: seeding + every Lloyd iteration is its
    // own job, and without this each one re-scans and re-casts the source
    // (iters+1 full reads). The sample is the k-means working set every
    // real IVF build holds resident; released before returning.
    val train = (if (trainMod > 1)
      c.where(pmod(abs(hash(col("corpus_id"))), lit(trainMod)) === 0) else c)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deterministic seeding: the nlist vectors with smallest md5(id)
    import spark.implicits._
    var centroids: Array[(Int, Array[Double])] = train
      .withColumn("h", md5(col("corpus_id").cast("string")))
      .orderBy("h").limit(nlist)
      .select(col("h"), col("cv")).as[(String, Seq[Double])].collect()
      .sortBy(_._1).zipWithIndex
      .map { case ((_, v), i) => (i, v.toArray) }
    for (_ <- 1 to iters) {
      val assigned = train.withColumn("cid",
        array_min(distStructs(col("cv"), centroids)).getField("cid"))
      // per-dimension mean, rounded so summation order can't leak in.
      // ONE shuffle per iteration: collect the (cid, pos, mean) cells
      // (nlist×dim rows — same driver-side footprint as the centroid
      // matrix itself) and assemble arrays here instead of a second
      // groupBy+collect_list job.
      val cells = assigned
        .select(col("cid"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(round(avg(col("x")), 6).as("m"))
        .as[(Int, Int, Double)].collect()
      centroids = cells.groupBy(_._1).toArray.sortBy(_._1)
        .map { case (cid, xs) => (cid, xs.sortBy(_._2).map(_._3)) }
    }
    train.unpersist(blocking = false)
    centroids
  }

  /** Persist a trained IVF centroid matrix as a (cid, cent) parquet
    * table — the stored "index model" the docstrings promise: train
    * once, save, and every later session [[ivfLoad]]s instead of
    * retraining. KB-sized regardless of corpus size. */
  def ivfSave(spark: org.apache.spark.sql.SparkSession,
              centroids: Array[(Int, Array[Double])], path: String): Unit = {
    import spark.implicits._
    centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read back an [[ivfSave]]d centroid matrix, bit-identical to the
    * trained one (doubles round-trip parquet exactly). */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession,
              path: String): Array[(Int, Array[Double])] = {
    import spark.implicits._
    spark.read.parquet(path).select(col("cid"), col("cent"))
      .as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map { case (cid, c) => (cid, c.toArray) }
  }

  /** Persist trained PQ codebooks as (sub, cid, cent) parquet; the PQ
    * sibling of [[ivfSave]]. */
  def pqSave(spark: org.apache.spark.sql.SparkSession,
             codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cent, cid) => (s, cid, cent.toSeq) }
    }.toSeq.toDF("sub", "cid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read back [[pqSave]]d codebooks, bit-identical. */
  def pqLoad(spark: org.apache.spark.sql.SparkSession,
             path: String): Array[Array[Array[Double]]] = {
    import spark.implicits._
    spark.read.parquet(path).select(col("sub"), col("cid"), col("cent"))
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3.toArray) }
  }

  /** Assign every corpus vector to its nearest centroid — the inverted
    * list build, (corpus_id, cv, cid). Pure map, no shuffle: at 100 TB
    * this frame is written ONCE as a table partitioned by `cid` and read
    * back per query batch instead of recomputed. */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: Array[(Int, Array[Double])]): DataFrame =
    FanOut(corpus.select(col(idCol).as("corpus_id"),
      transform(col(vecCol), _.cast("double")).as("cv")))
      .withColumn("cid", array_min(distStructs(col("cv"), centroids)).getField("cid"))
      .select(col("corpus_id"), col("cv"), col("cid"))

  /** Simplified-silhouette clustering-quality report (Hruschka et al.'s
    * centroid form of Rousseeuw '87): per vector, a = distance to its
    * OWN centroid and b = distance to the nearest OTHER centroid, and
    * s = (b − a)/max(a, b) — which, because assignment is argmin,
    * reduces to 1 − a/b over the two smallest centroid distances. The
    * full silhouette's per-vector pairwise pass is O(n²) and exists
    * only in textbooks; the centroid form is what clustering audits run
    * at scale, and it needs nothing beyond the distances the assignment
    * map already computes. Per cluster: size, mean s on the 1e-6 grid
    * (negative ⇒ the average member sits closer to a rival centroid —
    * retrain or split), and the count of individually negative vectors.
    *
    * Scale: a pure map over the corpus (the nlist-literal argmin of
    * [[ivfAssign]], sorted instead of min'd) followed by ONE nlist-sized
    * aggregate — no join, no vector shuffle; the same plan shape as
    * assignment itself. */
  def silhouetteReport(corpus: DataFrame, idCol: String, vecCol: String,
                       centroids: Array[(Int, Array[Double])]): DataFrame = {
    require(centroids.length >= 2, "silhouette needs >= 2 centroids")
    val scored = FanOut(corpus.select(col(idCol).as("corpus_id"),
        transform(col(vecCol), _.cast("double")).as("cv")))
      .withColumn("arr", array_sort(distStructs(col("cv"), centroids)))
      .select(col("arr").getItem(0).getField("cid").as("cid"),
        col("arr").getItem(0).getField("d2").as("a2"),
        col("arr").getItem(1).getField("d2").as("b2"))
      .withColumn("s6", when(col("b2") === 0.0, 0L)
        .otherwise(round(lit(1e6) *
          (lit(1.0) - sqrt(col("a2")) / sqrt(col("b2")))).cast("long")))
    scored.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("s6"))).cast("long").as("mean_s6"),
        sum(when(col("s6") < 0L, 1L).otherwise(0L)).as("n_neg"))
  }

  /** Probe a built IVF index: each query scores only the inverted lists
    * of its `nprobe` nearest centroids (a broadcast equi-join on cid —
    * ~nprobe/nlist of the corpus per query). */
  def ivfProbe(indexed: DataFrame, centroids: Array[(Int, Array[Double])],
               queries: DataFrame, idCol: String, vecCol: String,
               k: Int, nprobe: Int = 4,
               excludeSelf: Boolean = true): DataFrame = {
    require(nprobe <= centroids.length, "nprobe must be ≤ nlist")
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), _.cast("double")).as("qv0"))
    // nprobe nearest centroids per query: sort the same literal distance
    // array, slice, explode — again a pure map
    val probes = q
      .withColumn("pc", explode(slice(
        array_sort(distStructs(col("qv0"), centroids)), 1, nprobe)))
      .select(col("query_id"), col("qv0"), col("pc.cid").as("cid"))
    val pairs = indexed.join(broadcast(probes), Seq("cid"))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    val scored = pairs.withColumn("cosine",
      round(cosine(col("qv0"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rn"))
  }

  /** Attribute-FILTERED ANN probe — the production "vector search with
    * a WHERE clause" (per-tenant retrieval, language-restricted
    * near-dup, label-constrained hard negatives): each query carries a
    * target attribute in `targetCol`, the index carries per-vector
    * attributes in `attrCol` (a column ON `indexed` — at 100 TB the
    * filter attribute lives IN the index rows, written once at build
    * time, never joined at query time), and only matching vectors are
    * scored. The predicate applies right after the cid equi-join and
    * BEFORE any cosine — pre-filtering, not post-filtering, so a
    * selective attribute prunes the probe lists instead of starving
    * top-k below `k` the way filter-after-rank does. Same contract as
    * [[ivfProbe]] otherwise. */
  def ivfProbeFiltered(indexed: DataFrame,
                       centroids: Array[(Int, Array[Double])],
                       queries: DataFrame, idCol: String, vecCol: String,
                       attrCol: String, targetCol: String,
                       k: Int, nprobe: Int = 4,
                       excludeSelf: Boolean = true): DataFrame = {
    require(nprobe <= centroids.length, "nprobe must be ≤ nlist")
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), _.cast("double")).as("qv0"),
      col(targetCol).as("__target"))
    val probes = q
      .withColumn("pc", explode(slice(
        array_sort(distStructs(col("qv0"), centroids)), 1, nprobe)))
      .select(col("query_id"), col("qv0"), col("__target"),
        col("pc.cid").as("cid"))
    val pairs = indexed.join(broadcast(probes), Seq("cid"))
      .where(col(attrCol) === col("__target"))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    val scored = pairs.withColumn("cosine",
      round(cosine(col("qv0"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rn"))
  }

  /** GROUPED ANN probe — per-(query, group) quotas instead of one
    * global top-k: retrieve the best `perGroupK` vectors from EVERY
    * group (source, language, shard) for each query — the
    * source-balanced retrieval a grounded-generation stack uses so one
    * dominant corpus cannot crowd out the rest. Same probe and
    * attribute-in-index contract as [[ivfProbeFiltered]]; the only
    * change is the ranking window, partitioned by (query, group). Note
    * the recall caveat inherited from IVF: a group entirely absent
    * from a query's `nprobe` lists returns nothing for that query —
    * raise `nprobe` when per-group coverage matters more than probe
    * cost. */
  def ivfProbeGrouped(indexed: DataFrame,
                      centroids: Array[(Int, Array[Double])],
                      queries: DataFrame, idCol: String, vecCol: String,
                      groupCol: String, perGroupK: Int, nprobe: Int = 4,
                      excludeSelf: Boolean = true): DataFrame = {
    require(nprobe <= centroids.length, "nprobe must be ≤ nlist")
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), _.cast("double")).as("qv0"))
    val probes = q
      .withColumn("pc", explode(slice(
        array_sort(distStructs(col("qv0"), centroids)), 1, nprobe)))
      .select(col("query_id"), col("qv0"), col("pc.cid").as("cid"))
    val pairs = indexed.join(broadcast(probes), Seq("cid"))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    val scored = pairs.withColumn("cosine",
      round(cosine(col("qv0"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"), col(groupCol))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= perGroupK)
      .select(col("query_id"), col(groupCol), col("corpus_id"),
        col("cosine"), col("rn"))
  }

  /** Per-(query, group) quota probing with GROUP-AWARE WIDENING — the
    * fix for [[ivfProbeGrouped]]'s starvation caveat: a (query, group)
    * pair whose group lives only outside the query's `nprobe` nearest
    * lists returns fewer than `perGroupK` rows under a fixed probe set.
    * Instead of iterating probe rounds, the widening is CLOSED-FORM:
    * a per-(cid, group) member census (one aggregate over the index —
    * nlist × ngroups rows, the kind of metadata a 100 TB deployment
    * persists beside the index) joins each query's distance-ranked
    * centroid list, and each (query, group) keeps its first `nprobe`
    * lists PLUS the minimal prefix of further lists whose cumulative
    * membership reaches `perGroupK` — so a starved group escalates
    * exactly as far as needed (until quota is reachable or `maxProbe`/
    * nlist exhausts) while abundant groups probe exactly the default
    * lists and return BIT-IDENTICAL rows to [[ivfProbeGrouped]].
    * One window over (query, group) prefix sums, one equi-join on
    * (cid, group); still no all-pairs anything. */
  def ivfProbeGroupedWidened(indexed: DataFrame,
                             centroids: Array[(Int, Array[Double])],
                             queries: DataFrame, idCol: String, vecCol: String,
                             groupCol: String, perGroupK: Int, nprobe: Int = 4,
                             maxProbe: Int = Int.MaxValue,
                             excludeSelf: Boolean = true): DataFrame = {
    require(nprobe <= centroids.length, "nprobe must be ≤ nlist")
    val cap = math.min(maxProbe.toLong, centroids.length.toLong).toInt
    require(cap >= nprobe, "maxProbe must be ≥ nprobe")
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), _.cast("double")).as("qv0"))
    // every centroid per query in distance order with probe rank pr —
    // nlist rows per query, still a pure map over literal centroids
    val ranked = q.select(col("query_id"), col("qv0"),
        posexplode(slice(array_sort(distStructs(col("qv0"), centroids)),
          1, cap)))
      .select(col("query_id"), col("qv0"), (col("pos") + 1).as("pr"),
        col("col.cid").as("cid"))
    val counts = indexed.groupBy(col("cid"), col(groupCol))
      .agg(count(lit(1)).as("cnt"))
    // excludeSelf makes the census over-count by one exactly where the
    // query's own vector lives — without the adjustment a query's own
    // group can stop widening one member short of its quota
    val withCnt = {
      val base = ranked.join(broadcast(counts), Seq("cid"))
      if (!excludeSelf) base.withColumn("cnt_adj", col("cnt"))
      else {
        val selfLoc = indexed.join(broadcast(q.select(col("query_id"))),
            col("corpus_id") === col("query_id"))
          .select(col("query_id"), col("cid").as("__scid"),
            col(groupCol).as("__sg"))
        base.join(broadcast(selfLoc), Seq("query_id"), "left")
          .withColumn("cnt_adj", col("cnt") -
            when(col("cid") === col("__scid") &&
              col(groupCol) === col("__sg"), 1).otherwise(0))
      }
    }
    val cum = Window.partitionBy(col("query_id"), col(groupCol))
      .orderBy(col("pr")).rowsBetween(Window.unboundedPreceding, -1)
    val probes = withCnt
      .withColumn("cum_before",
        coalesce(sum(col("cnt_adj")).over(cum), lit(0L)))
      .where(col("pr") <= nprobe || col("cum_before") < perGroupK)
      .select(col("query_id"), col("qv0"), col(groupCol), col("cid"))
    val pairs = indexed.join(broadcast(probes), Seq("cid", groupCol))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    val scored = pairs.withColumn("cosine",
      round(cosine(col("qv0"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"), col(groupCol))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= perGroupK)
      .select(col("query_id"), col(groupCol), col("corpus_id"),
        col("cosine"), col("rn"))
  }

  /** [[ivfProbeFiltered]] with the same closed-form widening as
    * [[ivfProbeGroupedWidened]]: a query whose target attribute is
    * rare enough to live outside its `nprobe` nearest lists widens its
    * probe prefix until `k` matching vectors are reachable (or lists
    * exhaust), while queries whose attribute fills the default lists
    * probe exactly those and return bit-identical rows. */
  def ivfProbeFilteredWidened(indexed: DataFrame,
                              centroids: Array[(Int, Array[Double])],
                              queries: DataFrame, idCol: String, vecCol: String,
                              attrCol: String, targetCol: String,
                              k: Int, nprobe: Int = 4,
                              maxProbe: Int = Int.MaxValue,
                              excludeSelf: Boolean = true): DataFrame = {
    require(nprobe <= centroids.length, "nprobe must be ≤ nlist")
    val cap = math.min(maxProbe.toLong, centroids.length.toLong).toInt
    require(cap >= nprobe, "maxProbe must be ≥ nprobe")
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), _.cast("double")).as("qv0"),
      col(targetCol).as("__target"))
    val ranked = q.select(col("query_id"), col("qv0"), col("__target"),
        posexplode(slice(array_sort(distStructs(col("qv0"), centroids)),
          1, cap)))
      .select(col("query_id"), col("qv0"), col("__target"),
        (col("pos") + 1).as("pr"), col("col.cid").as("cid"))
    val counts = indexed.groupBy(col("cid"), col(attrCol))
      .agg(count(lit(1)).as("cnt"))
    val joined = ranked.join(broadcast(counts),
        ranked("cid") === counts("cid") && ranked("__target") === counts(attrCol))
      .drop(counts("cid")).drop(counts(attrCol))
    // same self-census adjustment as the grouped variant
    val withCnt =
      if (!excludeSelf) joined.withColumn("cnt_adj", col("cnt"))
      else {
        val selfLoc = indexed.join(broadcast(q.select(col("query_id"))),
            col("corpus_id") === col("query_id"))
          .select(col("query_id"), col("cid").as("__scid"),
            col(attrCol).as("__sa"))
        joined.join(broadcast(selfLoc), Seq("query_id"), "left")
          .withColumn("cnt_adj", col("cnt") -
            when(col("cid") === col("__scid") &&
              col("__target") === col("__sa"), 1).otherwise(0))
      }
    val cum = Window.partitionBy(col("query_id"))
      .orderBy(col("pr")).rowsBetween(Window.unboundedPreceding, -1)
    val probes = withCnt
      .withColumn("cum_before",
        coalesce(sum(col("cnt_adj")).over(cum), lit(0L)))
      .where(col("pr") <= nprobe || col("cum_before") < k)
      .select(col("query_id"), col("qv0"), col("__target"), col("cid"))
    val pairs = indexed.join(broadcast(probes), Seq("cid"))
      .where(col(attrCol) === col("__target"))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    val scored = pairs.withColumn("cosine",
      round(cosine(col("qv0"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rn"))
  }

  /** Maximal Marginal Relevance (MMR) diversity re-rank: from each
    * query's top-`m` candidate pool, greedily pick `k` maximizing
    * λ·relevance − (1−λ)·max-cosine-to-already-picked — the standard
    * diversity selection for curation/retrieval (near-identical
    * candidates stop crowding out coverage).
    *
    * Scale shape: the pool per query is small by construction (m in the
    * tens-hundreds, from any top-k operator), so the greedy O(k·m·dim)
    * loop is a per-ROW typed map over (query, pooled candidates) —
    * embarrassingly parallel across queries, no shuffle beyond the pool
    * collect. This is the one genuinely imperative per-row computation
    * in the similarity family, hence a typed Dataset map rather than a
    * Column expression. Deterministic: ties break to smaller corpus_id.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String,
              k: Int, m: Int, dim: Int, lambda: Double = 0.7,
              excludeSelf: Boolean = true): DataFrame = {
    require(k <= m, "k must be ≤ m (the candidate pool size)")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    val spark = corpus.sparkSession
    import spark.implicits._
    // ids cast to long and vectors to array<double> so the typed encoder
    // below accepts ANY integral id / float-or-double vector input (the
    // IVF family hands around array<double>) instead of imposing an
    // undocumented Long/Float contract on callers
    val pool = bruteForceTopK(corpus, queries, idCol, vecCol, m, dim, excludeSelf)
      .join(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv")), "corpus_id")
      .groupBy(col("query_id").cast("long").as("query_id"))
      .agg(array_sort(collect_list(struct(
        col("rn"), col("corpus_id").cast("long").as("corpus_id"), col("cosine"),
        transform(col("cv"), _.cast("double")).as("cv")))).as("cands"))
      .as[(Long, Seq[(Int, Long, Double, Seq[Double])])]
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length && i < b.length) {
        val x = a(i); val y = b(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0 && nb == 0) 1.0 else if (na == 0 || nb == 0) 0.0
      else dot / math.sqrt(na * nb)
    }
    pool.flatMap { case (qid, cands) =>
      val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
      val picked = Seq.newBuilder[(Long, Long, Double, Int)]
      val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
      var rank = 1
      while (rank <= k && remaining.nonEmpty) {
        val best = remaining.minBy { case (_, cid, rel, cv) =>
          val penalty =
            if (pickedVecs.isEmpty) 0.0
            else pickedVecs.iterator.map(pv => cos(cv, pv)).max
          (-(lambda * rel - (1 - lambda) * penalty), cid)   // max score, min id
        }
        // 7-dp output grid, NOT 6: λ · (6-dp relevance) is an EXACT
        // 7-decimal value, so rank-1 scores (penalty 0) would sit ON the
        // 6th-dp half boundary by construction and round differently
        // across engines; at 7 dp both engines are ~1e-17 from the grid
        // point. `== 0.0` then normalizes IEEE −0.0 (the meanPool idiom).
        val raw = lambda * best._3 - (1 - lambda) * (if (pickedVecs.isEmpty) 0.0
          else pickedVecs.iterator.map(pv => cos(best._4, pv)).max)
        val sc7 = math.rint(raw * 1e7) / 1e7
        picked += ((qid, best._2, if (sc7 == 0.0) 0.0 else sc7, rank))
        pickedVecs += best._4
        remaining -= best
        rank += 1
      }
      picked.result()
    }.toDF("query_id", "corpus_id", "mmr_score", "rank")
  }

  // ---------------------------------------------------------------- PQ

  /** Product-quantization codebooks (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): the vector is split into
    * `m` subspaces of `dim/m` dims and each subspace gets its own
    * `ksub`-centroid k-means codebook, so a vector compresses to `m`
    * small codes (m bytes for ksub ≤ 256 — 32× smaller than 64 floats)
    * while distances remain computable from the codes alone.
    *
    * All `m` codebooks train TOGETHER: the corpus explodes once to
    * (id, sub, subvector) rows and every Lloyd iteration is ONE
    * assignment map + ONE (sub, cid, pos) mean aggregate for all
    * subspaces — iterations cost the same shuffle count as [[ivfTrain]]
    * regardless of `m`. Only the m×ksub×(dim/m) = dim×ksub cell matrix
    * is ever collected (the codebook every PQ impl holds driver-side).
    *
    * Deterministic like [[ivfTrain]]: md5(id)-ordered seeding, fixed
    * iteration count, 6-dp-rounded means; empty cells keep their
    * previous centroid. Returns codebooks(sub)(cid) = centroid. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int = 8, ksub: Int = 16, iters: Int = 5,
              trainMod: Int = 1): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = FanOut(corpus.select(col(idCol).as("corpus_id"),
      transform(col(vecCol), _.cast("double")).as("cv")))
    val sample = (if (trainMod > 1)
      c.where(pmod(abs(hash(col("corpus_id"))), lit(trainMod)) === 0) else c)
    // one explode to (id, sub, sv) — the per-subspace working set; persisted
    // because seeding + every Lloyd step is its own job (same rationale as
    // ivfTrain's training-sample persist); released before returning.
    val subs = sample
      .select(col("corpus_id"), posexplode(array(
        (0 until m).map(s => slice(col("cv"), s * dsub + 1, dsub)): _*))
        .as(Seq("sub", "sv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deterministic seeding: the subvectors of the ksub docs with
    // smallest md5(id) (the same docs seed every subspace). Each doc
    // carries m rows sharing one h, so the ksub·m smallest (h, sub)
    // rows are exactly those docs × all subspaces — a distributed
    // TakeOrdered (like ivfTrain's seeding), not a per-sub window
    // sort of the whole training set.
    val seeds = subs
      .withColumn("h", md5(col("corpus_id").cast("string")))
      .orderBy(col("h"), col("sub")).limit(ksub * m)
      .select(col("h"), col("sub"), col("sv"))
      .as[(String, Int, Seq[Double])].collect()
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m) { s =>
        seeds.filter(_._2 == s).sortBy(_._1).map(_._3.toArray)
      }
    // a sample smaller than ksub seeds fewer centroids; the codebooks
    // simply shrink (codes stay dense in [0, kEff)) — same graceful
    // degradation as ivfTrain, instead of an out-of-bounds fallback in
    // the update loop below
    val kEff = books(0).length
    require(kEff > 0, "pqTrain needs a non-empty training sample")
    for (_ <- 1 to iters) {
      // nearest-centroid per (sub, sv) row: a chained CASE on `sub`, each
      // branch an argmin over that subspace's literal centroids — pure map
      val assign = (1 until m).foldLeft(
        when(col("sub") === 0,
          array_min(distStructs(col("sv"), books(0).zipWithIndex.map(_.swap)))
            .getField("cid"))) { (acc, s) =>
        acc.when(col("sub") === s,
          array_min(distStructs(col("sv"), books(s).zipWithIndex.map(_.swap)))
            .getField("cid"))
      }
      val cells = subs.withColumn("cid", assign)
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub", "cid", "pos").agg(round(avg(col("x")), 6).as("mn"))
        .as[(Int, Int, Int, Double)].collect()
      val byCell = cells.groupBy(t => (t._1, t._2))
      books = Array.tabulate(m) { s =>
        Array.tabulate(kEff) { cid =>
          byCell.get((s, cid))
            .map(_.sortBy(_._3).map(_._4))
            .getOrElse(books(s)(cid))   // empty cell: keep previous centroid
        }
      }
    }
    subs.unpersist(blocking = false)
    books
  }

  // the m PQ codes of a (double) vector column: per subspace, argmin
  // over that subspace's literal centroids — a pure map
  private def pqCodes(v: Column,
                      codebooks: Array[Array[Array[Double]]]): Column = {
    val dsub = codebooks(0)(0).length
    array(codebooks.indices.map { s =>
      array_min(distStructs(slice(v, s * dsub + 1, dsub),
        codebooks(s).zipWithIndex.map(_.swap))).getField("cid")
    }: _*)
  }

  // ADC score from a per-query table column and a corpus code column:
  // m array lookups, summed
  private def adcScore(tabs: Column, codes: Column, m: Int): Column =
    (0 until m).map { s =>
      element_at(element_at(tabs, s + 1), element_at(codes, s + 1) + 1)
    }.reduceLeft(_ + _)

  // per-query ADC table: tabs(s)(c) = ||qv_sub_s − codebook(s)(c)||²
  private def adcTables(qv: Column,
                        codebooks: Array[Array[Array[Double]]]): Column = {
    val dsub = codebooks(0)(0).length
    array(codebooks.indices.map { s =>
      array(codebooks(s).toIndexedSeq.map { cent =>
        dist2(slice(qv, s * dsub + 1, dsub), typedLit(cent.toSeq))
      }: _*)
    }: _*)
  }

  // shared tail of pqTopK / ivfPqTopK: keep each query's top-`refine`
  // candidates by ADC distance, rescore those exactly by cosine, emit
  // top-k — one definition so the refine/tie-break semantics cannot
  // drift between the two ANN paths. `pairs` carries (query_id,
  // corpus_id, qv, cv, tabs, codes).
  private def adcRefineTopK(pairs: DataFrame, m: Int,
                            k: Int, refine: Int): DataFrame = {
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("corpus_id"))
    val cand = pairs.withColumn("adc", adcScore(col("tabs"), col("codes"), m))
      .withColumn("arn", row_number().over(wAdc))
      .where(col("arn") <= refine)
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    cand.withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(wCos))
      .where(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rn"))
  }

  /** Encode every corpus vector to its `m` PQ codes — a pure map (argmin
    * over literal centroids per subspace), no shuffle. Keeps the exact
    * vector alongside the codes for the re-rank stage; at 100 TB the
    * (id, codes) projection alone is the in-memory ANN index (m bytes a
    * vector) and the exact vectors stay in cold parquet, fetched only
    * for the `refine` candidates. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame =
    FanOut(corpus.select(col(idCol).as("corpus_id"),
      transform(col(vecCol), _.cast("double")).as("cv")))
      .withColumn("codes", pqCodes(col("cv"), codebooks))
      .select(col("corpus_id"), col("cv"), col("codes"))

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus, with
    * exact re-rank: each query precomputes its m×ksub table of
    * subspace distances to every centroid (a pure map over literal
    * codebooks), the tables broadcast with the queries, and every
    * corpus row is scored by `m` TABLE LOOKUPS — no float math touches
    * the corpus vector until the top-`refine` ADC candidates per query
    * are rescored with the exact cosine. The production IVF-PQ shape:
    * scan compressed codes, refine a tiny candidate set from cold
    * storage.
    *
    * 100 TB story: the scored frame is (codes, broadcast tables) —
    * the corpus shuffles nothing and reads m ints per row instead of
    * dim floats; `refine` bounds the exact-vector fetch per query. */
  def pqTopK(encoded: DataFrame, codebooks: Array[Array[Array[Double]]],
             queries: DataFrame, idCol: String, vecCol: String,
             k: Int, refine: Int = 50,
             excludeSelf: Boolean = true): DataFrame = {
    require(refine >= k, "refine pool must be ≥ k")
    val m = codebooks.length
    val q = queries.select(col(idCol).as("query_id"),
        transform(col(vecCol), _.cast("double")).as("qv"))
      .withColumn("tabs", adcTables(col("qv"), codebooks))
    val pairs = encoded.join(broadcast(q),
      if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    adcRefineTopK(pairs, m, k, refine)
  }

  /** PQ codes attached to an [[ivfAssign]]-ed corpus — the combined
    * IVF-PQ index (corpus_id, cv, cid, codes): coarse quantizer for
    * list pruning + fine quantizer for in-list scanning. A pure map
    * over the assignment frame; at 100 TB the (id, cid, codes)
    * projection is the whole resident index (~m bytes + a cid per
    * vector) while exact vectors stay in cold storage. */
  def ivfPqEncode(assigned: DataFrame,
                  codebooks: Array[Array[Array[Double]]]): DataFrame =
    assigned.withColumn("codes", pqCodes(col("cv"), codebooks))

  /** IVF-PQ approximate top-k — the production ANN serving shape
    * (FAISS `IVFPQ`): each query probes only its `nprobe` nearest
    * inverted lists (the IVF cut: ~nprobe/nlist of the corpus), scans
    * those lists by ADC table lookups on the PQ codes (the compression
    * cut: no float math, m ints per row), and exact-reranks the top
    * `refine` candidates by cosine. Both cuts compose: per-query work
    * is (nprobe/nlist)·N table lookups + `refine` exact dots.
    *
    * The join is a broadcast equi-join on cid carrying each query's
    * precomputed ADC table — the corpus side never shuffles. */
  def ivfPqTopK(indexed: DataFrame, centroids: Array[(Int, Array[Double])],
                codebooks: Array[Array[Array[Double]]],
                queries: DataFrame, idCol: String, vecCol: String,
                k: Int, nprobe: Int = 4, refine: Int = 50,
                excludeSelf: Boolean = true): DataFrame = {
    require(refine >= k, "refine pool must be ≥ k")
    require(nprobe <= centroids.length, "nprobe must be ≤ nlist")
    val m = codebooks.length
    val probes = queries.select(col(idCol).as("query_id"),
        transform(col(vecCol), _.cast("double")).as("qv"))
      .withColumn("tabs", adcTables(col("qv"), codebooks))
      .withColumn("pc", explode(slice(
        array_sort(distStructs(col("qv"), centroids)), 1, nprobe)))
      .select(col("query_id"), col("qv"), col("tabs"), col("pc.cid").as("cid"))
    val pairs = indexed.join(broadcast(probes), Seq("cid"))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    adcRefineTopK(pairs, m, k, refine)
  }

  /** Exact near-duplicate pairs by embedding cosine ≥ threshold, via the
    * bucket join (both sides same corpus). Approximate recall (pairs
    * crossing a bucket boundary are missed) — the embedding-space analog
    * of MinHash candidate generation. */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         dim: Int, threshold: Double, bits: Int = 8): DataFrame = {
    val c = FanOut(corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      signBucket(col(vecCol), bits).as("bucket")))
    c.select(col("id").as("id_a"), col("v").as("va"), col("bucket"))
      .join(c.select(col("id").as("id_b"), col("v").as("vb"), col("bucket")), Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosine(col("va"), col("vb")), 6))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Near-duplicate pairs by cosine over SPARSE vectors in long format
    * (id, feature, weight) — the weighted bag-of-words sibling of
    * [[graft.operators.Dedup.jaccardPairs]] (which compares sets;
    * this compares counts, so 'the the the…' spam and genuine reuse
    * separate). Weights must be integral (e.g. hashed term frequencies
    * from [[TfIdf.hashedTf]]): dot products and norms are then LONG
    * sums — order-independent — and the single double division +
    * sqrt at the end is bit-identical in any engine.
    *
    * Features with document frequency > `maxDocFreq` are dropped
    * BEFORE norms and dots (cosine in the pruned feature space — the
    * classic stop-feature cut), which is also what bounds the work:
    * the pair candidates come from an inverted-index self-join keyed
    * on feature, so per-feature fan-out is ≤ maxDocFreq² and the
    * corpus never goes all-pairs. One df census + one feature-keyed
    * join + one (id_a, id_b) aggregate — the jaccardPairs shuffle
    * shape with weighted dots instead of overlap counts.
    *
    * The pruned vector frame feeds three consumers (norms + both join
    * sides), so it is persisted MEMORY_AND_DISK; like
    * [[graft.operators.Dedup.jaccardPairs]], plan-identity caching
    * dedups repeated calls in a session and a long-running service
    * should materialize the hashed vectors as a table instead. */
  def sparseCosineNearDups(vectors: DataFrame, idCol: String,
                           featCol: String, weightCol: String,
                           tau: Double, maxDocFreq: Long = 10000): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), col(featCol).as("f"),
      col(weightCol).cast("long").as("w"))
    // df census over the (already aggregated) long-format vectors; the
    // keep-list is vocabulary-sized → broadcast, corpus never reshuffles
    val keep = v.groupBy("f").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq).select(col("f"))
    val kept = v.join(broadcast(keep), Seq("f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = kept.groupBy(col("id"))
      .agg(sum(col("w") * col("w")).as("n2"))
    val dots = kept.select(col("f"), col("id").as("id_a"), col("w").as("wa"))
      .join(kept.select(col("f"), col("id").as("id_b"), col("w").as("wb")), Seq("f"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("n2").as("na")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("n2").as("nb")), Seq("id_b"))
      .withColumn("cosine", round(col("dot").cast("double") /
        sqrt((col("na") * col("nb")).cast("double")), 6))
      .where(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    * semantic dedup. Cluster with the IVF k-means ([[ivfTrain]] /
    * [[ivfAssign]]), then within each cluster evict every vector that
    * has a same-cluster neighbor with cosine ≥ `tau` and a smaller id
    * (deterministic min-id representative — single pass, no iteration;
    * the paper's keep-one-per-ε-group with a fixed tie-break). Returns
    * every vector as (vec_id, cid, kept).
    *
    * 100 TB story: pairwise work is confined within clusters — the
    * candidate join is keyed on cid, so total compare cost is
    * Σ|cluster|² with nlist sized ∝ N to bound cluster sizes (the
    * paper's setting; k-means balance keeps the cid shuffle from
    * skewing). The assignment frame feeds three consumers, so it is
    * persisted; Spark's CacheManager dedups plan-identical persists —
    * same caller-owned lifecycle as [[Dedup.jaccardPairs]]. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, iters: Int = 5, tau: Double = 0.97,
               trainMod: Int = 1): DataFrame = {
    val centroids = ivfTrain(emb, idCol, vecCol, nlist, iters, trainMod)
    semDedupAssigned(
      ivfAssign(emb, idCol, vecCol, centroids)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      tau)
  }

  /** [[semDedup]] over a pre-built [[ivfAssign]] frame
    * (corpus_id, cv, cid) — the caller owns the index lifecycle (a
    * pipeline trains/assigns once per corpus and both the ANN and the
    * semantic-dedup passes read the same stored index). */
  def semDedupAssigned(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned.select(col("cid"), col("corpus_id").as("id_a"),
      col("cv").as("va"))
    val b = assigned.select(col("cid"), col("corpus_id").as("id_b"),
      col("cv").as("vb"))
    val evicted = a.join(b, Seq("cid"))
      .where(col("id_b") < col("id_a"))
      .where(round(cosine(col("va"), col("vb")), 6) >= tau)
      .select(col("id_a")).distinct()
    assigned.join(evicted,
        assigned("corpus_id") === evicted("id_a"), "left_outer")
      .select(col("corpus_id").as("vec_id"), col("cid"),
        col("id_a").isNull.as("kept"))
  }

  /** [[mutualMarginPairs]] at corpus×corpus scale: each direction's
    * candidates come from an IVF probe against the OTHER population's
    * index (each side trains/assigns once — the write-time artifact),
    * so no full cross product is ever scored. A pair is emitted iff
    * each side's PROBED top-1 is the other; with `nprobe` = nlist this
    * is bit-equal to the brute-force miner (spec-asserted). A narrower
    * probe trades exactly like any ANN: it can MISS true mutual pairs
    * and can MINT probe-local ones (each side's "best" is best among
    * probed candidates only) — scores on emitted pairs are still exact
    * cosines. Populations must carry distinct ids (no self-exclusion
    * is applied across sides). */
  def mutualMarginPairsIvf(a: DataFrame, b: DataFrame, idCol: String,
                           vecCol: String, nlist: Int = 16, iters: Int = 5,
                           nprobe: Int = 4): DataFrame = {
    val centB = ivfTrain(b, idCol, vecCol, nlist, iters)
    val idxB = ivfAssign(b, idCol, vecCol, centB)
    val centA = ivfTrain(a, idCol, vecCol, nlist, iters)
    val idxA = ivfAssign(a, idCol, vecCol, centA)
    val topAB = ivfProbe(idxB, centB, a, idCol, vecCol, k = 2,
      nprobe = nprobe, excludeSelf = false)
    val topBA = ivfProbe(idxA, centA, b, idCol, vecCol, k = 2,
      nprobe = nprobe, excludeSelf = false)
    val topA = topAB.groupBy(col("query_id").as("id_a"))
      .agg(max(when(col("rn") === 1, col("corpus_id"))).as("best_b"),
        max(when(col("rn") === 1, col("cosine"))).as("cos_a"),
        coalesce(max(when(col("rn") === 2, col("cosine"))), lit(-1.0))
          .as("cos2_a"))
    val topB = topBA.groupBy(col("query_id").as("id_b"))
      .agg(max(when(col("rn") === 1, col("corpus_id"))).as("best_a"),
        coalesce(max(when(col("rn") === 2, col("cosine"))), lit(-1.0))
          .as("cos2_b"))
    topA.join(topB, topA("best_b") === topB("id_b")
        && topB("best_a") === topA("id_a"))
      .select(col("id_a"), col("id_b"), col("cos_a").as("cosine"),
        round(col("cos_a") - col("cos2_a"), 6).as("margin_a"),
        round(col("cos_a") - col("cos2_b"), 6).as("margin_b"))
  }

  /** Mutual-nearest-neighbor pair mining with margin scores between two
    * embedding populations — the bitext-mining shape (Artetxe &
    * Schwenk, "Margin-based Parallel Corpus Mining with Multilingual
    * Sentence Embeddings", ACL 2019): a pair (a, b) is emitted iff b is
    * a's top-1 neighbor in B AND a is b's top-1 in A (mutual NN), with
    * each side's margin = cos(top1) − cos(top2) — how decisively the
    * match beats its runner-up. High-margin mutual pairs are the
    * aligned-data candidates; the margins make the downstream threshold
    * auditable instead of baked in.
    *
    * Both directions share ONE scored A×B frame (B broadcast — the
    * query-set side; at corpus×corpus scale swap the scorer for
    * [[ivfProbe]] candidates per side and keep the windows + mutual
    * join, which are population-sized, never pair-sized). Singleton
    * populations surface margin = cos1 − (−1) (no runner-up).
    *
    * Cache lifecycle: the scored A×B frame is persisted with NO
    * release path (the [[graft.operators.Dedup.jaccardPairs]]
    * contract) — one-shot jobs drop it with the session; a
    * long-running session that mines many population pairs should
    * `spark.catalog.clearCache()` between rounds or consume the
    * result eagerly and unpersist via the returned plan's cache
    * entries. */
  def mutualMarginPairs(a: DataFrame, b: DataFrame,
                        idCol: String, vecCol: String): DataFrame = {
    val av = FanOut(a.select(col(idCol).as("id_a"), col(vecCol).as("va")))
    val bv = b.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    // persisted: both ranking directions consume this frame — without
    // it the A×B scoring pass would run twice (plan-branch duplication)
    val scored = av.join(broadcast(bv), lit(true))
      .withColumn("cosine", round(cosine(col("va"), col("vb")), 6))
      .select("id_a", "id_b", "cosine")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wa = Window.partitionBy(col("id_a"))
      .orderBy(col("cosine").desc, col("id_b"))
    val wb = Window.partitionBy(col("id_b"))
      .orderBy(col("cosine").desc, col("id_a"))
    val topA = scored.withColumn("rn", row_number().over(wa))
      .where(col("rn") <= 2)
      .groupBy(col("id_a"))
      .agg(max(when(col("rn") === 1, col("id_b"))).as("best_b"),
        max(when(col("rn") === 1, col("cosine"))).as("cos_a"),
        coalesce(max(when(col("rn") === 2, col("cosine"))), lit(-1.0))
          .as("cos2_a"))
    val topB = scored.withColumn("rn", row_number().over(wb))
      .where(col("rn") <= 2)
      .groupBy(col("id_b"))
      .agg(max(when(col("rn") === 1, col("id_a"))).as("best_a"),
        coalesce(max(when(col("rn") === 2, col("cosine"))), lit(-1.0))
          .as("cos2_b"))
    topA.join(topB, topA("best_b") === topB("id_b")
        && topB("best_a") === topA("id_a"))
      .select(col("id_a"), col("id_b"), col("cos_a").as("cosine"),
        round(col("cos_a") - col("cos2_a"), 6).as("margin_a"),
        round(col("cos_a") - col("cos2_b"), 6).as("margin_b"))
  }
}
