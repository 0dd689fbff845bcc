package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, shingle
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every pairwise stage goes through an inverted-index /
  * bucket join (shuffle keyed on shingle, LSH band bucket, or simhash
  * band) so candidate generation is linear in data + output, never the
  * O(n²) cross join. Frequent-shingle skew is controllable with
  * `maxDocFreq` (drop join keys that occur in too many docs — the
  * standard stop-shingle trick).
  */
object Dedup {

  /** Exact dedup: one representative (min id) per normalized-content
    * fingerprint. Plain hash aggregate — one shuffle on the fingerprint. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Corpus-level exact SPAN dedup (the C4/RefinedWeb line-dedup move,
    * span unit = `w`-word chunk): every chunk keeps only its first
    * occurrence in the corpus — smallest (doc id, position) — and each
    * document is rebuilt from its surviving chunks. Catches boilerplate
    * shared across otherwise-distinct documents, which whole-document
    * dedup cannot. First-occurrence selection is a map-side-partial
    * `min(struct(id, pos))` AGGREGATE, not a per-chunk window: the
    * heavy-hitter chunks this operator exists to remove would otherwise
    * pile every occurrence onto one window task. One shuffle keyed on
    * the chunk string, one keyed on doc id to reassemble. Documents
    * under `w` words, or left with no surviving chunks, vanish. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 w: Int = 5): DataFrame =
    chunkDedupFromTokens(TextStats.tokenized(df, idCol, textCol), w)

  /** [[chunkDedup]] over a pre-built [[TextStats.tokenized]] frame —
    * lets a pipeline running several token-family operators reuse one
    * corpus scan (see TextStats). */
  def chunkDedupFromTokens(toks: DataFrame, w: Int = 5): DataFrame =
    TextStats.posChunksFromTokens(toks, w)
      .groupBy(col("s"))
      .agg(min(struct(col("id"), col("pos"))).as("first"))
      .select(col("first.id").as("id"), col("first.pos").as("pos"), col("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept_chunks"),
        concat_ws(" ",
          array_sort(collect_list(struct(col("pos"), col("s"))))
            .getField("s")).as("dedup_text"))

  /** (id, shingle-set) pairs: distinct word n-grams per document.
    * The (id, text) projection is fanned out first: shingling is
    * interpreted higher-order-function work many times the input size,
    * and must not stay fused into a one-task scan of a small file. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleSetsFromTokens(TextStats.tokenized(df, idCol, textCol), n)

  /** [[shingleSets]] over a pre-built [[TextStats.tokenized]] frame:
    * when the token frame is persisted, the dedup family's shingle
    * index and the text family's stats derive from ONE corpus
    * scan+tokenize. */
  def shingleSetsFromTokens(toks: DataFrame, n: Int): DataFrame = {
    graft.plans.WordNgrams.register(toks.sparkSession)
    toks
      .where(size(col("ws")) >= n)
      // native codegen n-gram expression — total by construction (short
      // rows yield an empty array), so the historical when-guard against
      // pushdown/CSE evaluating a partial expression on too-short rows
      // is no longer needed
      .select(col("id"), array_distinct(
        call_function(graft.plans.WordNgrams.fnName,
          col("ws"), lit(n), lit(1))).as("shset"))
  }

  /** All-pairs shingle Jaccard ≥ `minJaccard` via inverted-index join:
    * explode shingles, self-join on the shingle (equi-shuffle join),
    * then exact Jaccard per pair.
    *
    * The shingle index feeds several consumers (frequency census,
    * self-join, verification), so it is persisted MEMORY_AND_DISK:
    * partition-local executor storage that scales with the cluster.
    * Spark's CacheManager dedups plan-identical persists, so repeated
    * calls over the same input in one session share ONE cached copy;
    * for explicit lifecycle control (long-running services, or reusing
    * a written-once index table at 100 TB) build the index yourself and
    * call [[jaccardPairsFromSets]] — this wrapper never unpersists. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, minJaccard: Double = 0.8,
                   maxDocFreq: Option[Int] = Some(10000)): DataFrame =
    jaccardPairsFromSets(
      shingleSets(df, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      minJaccard, maxDocFreq)

  /** [[jaccardPairs]] over a pre-built `(id, shset)` index — the caller
    * owns the index lifecycle (persist/unpersist, or a materialized
    * table read back from storage). This is the reuse point for
    * pipelines that run several shingle analyses over one corpus
    * (pairing, clustering, the curation capstone): build the index
    * once, feed it everywhere, release it when done.
    *
    * `maxDocFreq` (finite by default — one ubiquitous stop-shingle would
    * otherwise make the self-join key quadratic at scale): shingles
    * appearing in more docs than this are dropped from CANDIDATE
    * GENERATION only; every emitted pair's Jaccard is verified against
    * the full shingle sets, so scores are exact. The recall tradeoff is
    * precisely: a pair is missed iff every shingle it shares is
    * frequent — near-identical docs always share rare shingles unless
    * the whole corpus is near-identical. */
  def jaccardPairsFromSets(sets: DataFrame, minJaccard: Double = 0.8,
                           maxDocFreq: Option[Int] = Some(10000),
                           withInter: Boolean = false): DataFrame = {
    val ex0 = sets.select(col("id"), explode(col("shset")).as("s"))
    // `withInter` appends the exact shared-shingle count — the natural
    // integer EDGE WEIGHT for downstream weighted graph algorithms
    // ([[GraphOps.louvainWeighted]]); both branches already hold it.
    def out(base: DataFrame): DataFrame = {
      val cols = Seq(col("id_a"), col("id_b"),
        round(col("jaccard"), 4).as("jaccard")) ++
        (if (withInter) Seq(col("inter").cast("long").as("inter")) else Nil)
      base.select(cols: _*)
    }
    maxDocFreq match {
      case None =>
        // Exact count-based path: shared-shingle counts ARE the
        // intersection, so no arrays travel with the pair stream.
        val sizes = sets.select(col("id"), size(col("shset")).as("sz"))
        val shared = ex0.select(col("id").as("id_a"), col("s"))
          .join(ex0.select(col("id").as("id_b"), col("s")), "s")
          .where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("inter"))
        out(shared
          .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
          .withColumn("jaccard",
            col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
          .where(col("jaccard") >= minJaccard))
      case Some(maxDf) =>
        // Frequency-capped candidate generation with EXACT output scores.
        // true_inter = rare_inter + |freq_a ∩ freq_b|, so whenever either
        // doc holds no frequent shingle the rare-only count already IS
        // the exact intersection — those pairs are scored and emitted
        // straight from the count aggregate (the fast path; on a corpus
        // with no stop-shingles this is every pair). Only pairs where
        // BOTH docs contain frequent shingles are ambiguous; they are
        // prefiltered by the upper bound rare_inter + min(nf_a, nf_b)
        // and the survivors verified against the full sets.
        // The FREQUENT set is tiny by construction (≤ occurrences/maxDf
        // shingles), so it's applied via anti/inner joins that AQE
        // broadcasts at runtime — the big index never shuffles for it.
        val freq = ex0.groupBy("s").agg(count(lit(1)).as("df"))
          .where(col("df") > maxDf).select("s")
        val ex = ex0.join(freq, Seq("s"), "left_anti")
        val nFreq = ex0.join(freq, "s").groupBy("id").agg(count(lit(1)).as("n_freq"))
        val sizes = sets.select(col("id"), size(col("shset")).as("sz"))
          .join(nFreq, Seq("id"), "left")
          .select(col("id"), col("sz"),
            coalesce(col("n_freq"), lit(0L)).as("n_freq"))
        val shared = ex.select(col("id").as("id_a"), col("s"))
          .join(ex.select(col("id").as("id_b"), col("s")), "s")
          .where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("inter_rare"))
        val scored = shared
          .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a"),
            col("n_freq").as("nf_a")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b"),
            col("n_freq").as("nf_b")), "id_b")
        // ub_inter = rare_inter + min(nf): when either nf is 0 this IS
        // the exact intersection, so one bound-filter handles both cases
        // and the array join below only ever sees bound-passing pairs
        // (output-sized, not candidate-sized).
        val ubInter = col("inter_rare") + least(col("nf_a"), col("nf_b"))
        val ubJ = ubInter.cast("double") / (col("sz_a") + col("sz_b") - ubInter)
        out(scored
          .where(ubJ >= minJaccard)
          .select("id_a", "id_b")
          .join(sets.select(col("id").as("id_a"), col("shset").as("set_a")), "id_a")
          .join(sets.select(col("id").as("id_b"), col("shset").as("set_b")), "id_b")
          .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
          .withColumn("jaccard", col("inter").cast("double") /
            (size(col("set_a")) + size(col("set_b")) - col("inter")))
          .where(col("jaccard") >= minJaccard))
    }
  }

  /** Asymmetric shingle-containment pairs: C(sub→sup) =
    * |sh(sub) ∩ sh(sup)| / |sh(sub)|, emitted per DIRECTION with
    * C ≥ `minContainment`. Jaccard is symmetric and structurally blind
    * to the quote/truncation shape — a short doc fully embedded in a
    * long one scores J = |sub|/|sup| (arbitrarily low as the host
    * grows) while C(sub→sup) = 1. This is the Broder containment
    * measure ("On the resemblance and containment of documents",
    * SEQUENCES 1997) over the same word-shingle sets the Jaccard
    * family uses.
    *
    * Shape: identical inverted-index candidate join to
    * [[jaccardPairsFromSets]] — ONE shared-shingle count per unordered
    * pair, both directions derived arithmetically from
    * (inter, sz_a, sz_b), so detecting containment costs no more than
    * detecting resemblance. `maxDocFreq` caps candidate generation
    * only; bound-passing pairs are verified against the full sets, so
    * emitted scores are exact (recall caveat as in
    * [[jaccardPairsFromSets]]: a pair is missed iff every shared
    * shingle is corpus-frequent). */
  def containmentPairsFromSets(sets: DataFrame,
                               minContainment: Double = 0.9,
                               maxDocFreq: Option[Int] = Some(10000)): DataFrame =
    containmentPairsFromSetsManaged(sets, minContainment, maxDocFreq)._1

  /** [[containmentPairsFromSets]] with an explicit cache lifecycle
    * (the [[editDistancePairsManaged]] convention): the df-capped
    * branch persists its candidate frame — the returned `release`
    * thunk drops it once the pairs are consumed; the unmanaged
    * wrapper leaves it pinned for the session (fine for one-shot
    * jobs, not for long-running sessions). */
  def containmentPairsFromSetsManaged(sets: DataFrame,
                                      minContainment: Double = 0.9,
                                      maxDocFreq: Option[Int] = Some(10000))
      : (DataFrame, () => Unit) = {
    val ex0 = sets.select(col("id"), explode(col("shset")).as("s"))
    // (id_a < id_b, EXACT inter, sz_a, sz_b) -> both ordered directions.
    def emitBoth(pairs: DataFrame): DataFrame =
      pairs.select(col("id_a").as("id_sub"), col("id_b").as("id_sup"),
          (col("inter").cast("double") / col("sz_a")).as("containment"))
        .unionAll(pairs.select(col("id_b").as("id_sub"), col("id_a").as("id_sup"),
          (col("inter").cast("double") / col("sz_b")).as("containment")))
        .where(col("containment") >= minContainment)
        .select(col("id_sub"), col("id_sup"),
          round(col("containment"), 4).as("containment"))
    val sizes = sets.select(col("id"), size(col("shset")).as("sz"))
    maxDocFreq match {
      case None =>
        val shared = ex0.select(col("id").as("id_a"), col("s"))
          .join(ex0.select(col("id").as("id_b"), col("s")), "s")
          .where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        (emitBoth(shared
          .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")),
          () => ())
      case Some(maxDf) =>
        // Frequency-capped candidates with exact verification — the
        // jaccardPairsFromSets structure, but the upper bound is taken
        // against the SMALLER side (the containment denominator can be
        // either side, so a pair survives if EITHER direction's bound
        // clears the threshold).
        val freq = ex0.groupBy("s").agg(count(lit(1)).as("df"))
          .where(col("df") > maxDf).select("s")
        val ex = ex0.join(freq, Seq("s"), "left_anti")
        val nFreq = ex0.join(freq, "s").groupBy("id").agg(count(lit(1)).as("n_freq"))
        val szf = sizes.join(nFreq, Seq("id"), "left")
          .select(col("id"), col("sz"), coalesce(col("n_freq"), lit(0L)).as("n_freq"))
        val shared = ex.select(col("id").as("id_a"), col("s"))
          .join(ex.select(col("id").as("id_b"), col("s")), "s")
          .where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter_rare"))
        // persisted: the candidate frame (holding the expensive
        // inverted-index self-join) feeds BOTH the exact fast path and
        // the verify branch below — without this the join runs twice
        val bound = shared
          .join(szf.select(col("id").as("id_a"), col("sz").as("sz_a"),
            col("n_freq").as("nf_a")), "id_a")
          .join(szf.select(col("id").as("id_b"), col("sz").as("sz_b"),
            col("n_freq").as("nf_b")), "id_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // fast path: when either doc holds no frequent shingle,
        // inter_rare IS the exact intersection — scored directly, no
        // array join (on a corpus with no stop-shingles this is every
        // pair and the verify stage runs on an empty frame)
        val exact = bound.where(least(col("nf_a"), col("nf_b")) === 0)
          .select(col("id_a"), col("id_b"), col("inter_rare").as("inter"),
            col("sz_a"), col("sz_b"))
        val ubInter = col("inter_rare") + least(col("nf_a"), col("nf_b"))
        val verified = bound
          .where(least(col("nf_a"), col("nf_b")) > 0
            && ubInter.cast("double") / least(col("sz_a"), col("sz_b"))
              >= minContainment)
          .select("id_a", "id_b")
          .join(sets.select(col("id").as("id_a"), col("shset").as("set_a")), "id_a")
          .join(sets.select(col("id").as("id_b"), col("shset").as("set_b")), "id_b")
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("set_a"), col("set_b"))).as("inter"),
            size(col("set_a")).as("sz_a"), size(col("set_b")).as("sz_b"))
        (emitBoth(exact.unionByName(verified)),
          () => { bound.unpersist(); () })
    }
  }

  /** Prefix-filtered candidates for [[jaccardPairsPrefixFromSets]]:
    * tokens are globally ordered by (document frequency ASC, token),
    * each set indexes ONLY its first `|x| − ⌈t·|x|⌉ + 1` tokens under
    * that order, and candidates must share a prefix token AND pass
    * the size filter `min·10⁴ ≥ t₄·max`. Soundness (no true pair
    * missed): J(a,b) ≥ t implies the intersection exceeds ⌈t·|x|⌉ − 1
    * for each side, so a shared token must fall inside both prefixes.
    * The ceiling is computed in EXACT integer arithmetic
    * (⌊(t₄·sz + 9999)/10⁴⌋) — a float `ceil(0.7·10) = ceil(7.000…01)`
    * would shorten a prefix and silently break completeness. */
  private[graft] def prefixCandidates(sets: DataFrame,
                                      minJaccard: Double): DataFrame =
    prefixCandidatesManaged(sets, minJaccard)._1

  private[graft] def prefixCandidatesManaged(sets: DataFrame,
      minJaccard: Double): (DataFrame, () => Unit) = {
    val t4 = math.round(minJaccard * 10000).toInt
    val ex = sets.select(col("id"), explode(col("shset")).as("s"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("s"))
    val sz = sets.select(col("id"), size(col("shset")).as("sz"))
    val prefLen =
      col("sz") - floor((lit(t4) * col("sz") + 9999) / 10000) + 1
    // persisted: the ranked prefix index feeds BOTH sides of the
    // self-join — without this the df census + window sort run twice
    // (measured ~2× on the bench)
    val pref = ex.join(dfreq, "s")
      .withColumn("rn", row_number().over(w))
      .join(sz, "id")
      .where(col("rn") <= prefLen)
      .select(col("id"), col("s"), col("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = pref
      .select(col("id").as("id_a"), col("s"), col("sz").as("sz_a"))
      .join(pref.select(col("id").as("id_b"), col("s"),
        col("sz").as("sz_b")), "s")
      .where(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")) * 10000 >=
          lit(t4.toLong) * greatest(col("sz_a"), col("sz_b")))
      .select("id_a", "id_b").distinct()
    (cand, () => { pref.unpersist(); () })
  }

  /** PPJoin-style prefix-filtered exact set-similarity join
    * (Chaudhuri/Ganti/Kaushik prefix filter; Xiao et al. PPJoin
    * shape): same output as [[jaccardPairsFromSets]], far fewer
    * candidates. The inverted index holds only each set's df-ordered
    * PREFIX — the rarest `|x| − ⌈t·|x|⌉ + 1` tokens — so the index is
    * a fraction of the corpus and, because prefixes are built from
    * the LOWEST-df tokens, per-token fan-out is tiny exactly where the
    * full index explodes (stop-shingles never reach a prefix at high
    * t). Survivors verify EXACTLY against the full sets, so the
    * result is provably identical to the unfiltered join
    * (spec-asserted on the corpus fixture) — this is the 100 TB path
    * for exact-threshold Jaccard where the df-cap variant trades
    * completeness and banding trades exactness. */
  def jaccardPairsPrefixFromSets(sets: DataFrame,
                                 minJaccard: Double = 0.8): DataFrame =
    jaccardPairsPrefixFromSetsManaged(sets, minJaccard)._1

  /** [[jaccardPairsPrefixFromSets]] with an explicit cache lifecycle
    * (the [[editDistancePairsManaged]] convention): the ranked prefix
    * index is persisted to feed both self-join sides — `release`
    * drops it once the pairs are consumed; the unmanaged wrapper
    * leaves it pinned for the session. */
  def jaccardPairsPrefixFromSetsManaged(sets: DataFrame,
      minJaccard: Double = 0.8): (DataFrame, () => Unit) = {
    val (cand, release) = prefixCandidatesManaged(sets, minJaccard)
    val pairs = cand
      .join(sets.select(col("id").as("id_a"), col("shset").as("set_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shset").as("set_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("inter"),
        size(col("set_a")).as("sz_a"), size(col("set_b")).as("sz_b"))
      .withColumn("jaccard", col("inter").cast("double")
        / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 4).as("jaccard"))
    (pairs, release)
  }

  /** MOSS-style winnowing pairing (Schleimer/Wilkerson/Aiken): the
    * POSITION-AWARE near-dup candidate family member. Input is the
    * winnowed fingerprint selection
    * ([[graft.operators.TextStats.winnowedFps]] — distinct `(id, fp)`
    * rows); the selection guarantees any shared token run of
    * ≥ n + w − 1 tokens yields a shared fingerprint, so long verbatim
    * overlaps can NOT be missed — the property whole-set Jaccard and
    * MinHash lack (a 200-token verbatim block inside two otherwise
    * different documents barely moves Jaccard but always intersects
    * here). Output: (id_a, id_b, shared, n_fp_a, n_fp_b, ovl4) with
    * `ovl4` = ⌊1e4·shared / min(n_fp)⌉ on the integer grid.
    *
    * Scale shape: inverted index on fp (one shuffle), df-capped like
    * the shingle index — fingerprints in > maxDocFreq docs are
    * boilerplate and are dropped BEFORE the self-join, bounding any
    * fp's candidate fan-out at maxDocFreq²; `shared` then undercounts
    * by the capped fps (documented, same contract as the capped
    * Jaccard path's rare-intersection). Per-doc sizes come from the
    * UNCAPPED selection so ovl4's denominator is the true selection
    * size. */
  def winnowingPairs(fps: DataFrame, minShared: Long = 2L,
                     maxDocFreq: Int = 1000): DataFrame = {
    val sizes = fps.groupBy(col("id")).agg(count(lit(1)).as("n_fp"))
    val freq = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq).select("fp")
    val ex = fps.join(freq, Seq("fp"), "left_anti")
    val shared = ex.select(col("id").as("id_a"), col("fp"))
      .join(ex.select(col("id").as("id_b"), col("fp")), "fp")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_fp").as("n_fp_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_fp").as("n_fp_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared"),
        col("n_fp_a"), col("n_fp_b"),
        round(lit(1e4) * col("shared") / least(col("n_fp_a"), col("n_fp_b")))
          .cast("long").as("ovl4"))
  }

  /** Duplication-attribution matrix: for each unordered pair of
    * document attributes (source, crawl, license, …), how many near-dup
    * pairs cross them and the integer-grid sum of their similarities —
    * the report that tells a curation run WHICH feeds copy WHICH (a
    * mirror site shows up as a hot off-diagonal cell, boilerplate shows
    * up on the diagonal). `pairs` is any (id_a, id_b, simCol) frame
    * (e.g. [[jaccardPairsFromSets]]); `meta` maps id → attribute.
    * Cost: two id-keyed joins of the PAIR graph (dup-population-sized,
    * never corpus-sized) + one aggregate over ≤ |attr|² cells; sims are
    * summed on the 1e-4 integer grid so the cell totals are order-free. */
  def dupAttribution(pairs: DataFrame, meta: DataFrame,
                     idCol: String, attrCol: String,
                     simCol: String = "jaccard"): DataFrame = {
    val m = meta.select(col(idCol).as("id"), col(attrCol).as("attr"))
    pairs
      .join(m.select(col("id").as("id_a"), col("attr").as("attr_a")), "id_a")
      .join(m.select(col("id").as("id_b"), col("attr").as("attr_b")), "id_b")
      .select(least(col("attr_a"), col("attr_b")).as("attr_1"),
        greatest(col("attr_a"), col("attr_b")).as("attr_2"),
        round(col(simCol) * 1e4).cast("long").as("sim4"))
      .groupBy("attr_1", "attr_2")
      .agg(count(lit(1)).as("n_pairs"), sum(col("sim4")).as("sum_sim4"))
  }

  /** MinHash signatures as an ordered K-element `array<long>` column `sig`.
    *
    * Each shingle is md5-hashed ONCE; the K per-seed hash values are
    * derived arithmetically from the digest's two 48-bit halves:
    * h_k = a + (k+1)·b  (a, b < 2^48, so the sum stays inside signed 64
    * bits for k up to ~16000 — identical wrap-free arithmetic in every
    * engine, no RNG state). This halves-or-better the hashing cost vs
    * one md5 per (seed, shingle) while keeping the classic universal
    * a + k·b hash family.
    *
    * Long-format aggregation — (id, seed, h) rows grouped twice — rather
    * than K wide `min(...)` aggregates: a K-wide aggregate generates
    * enormous whole-stage-codegen methods (slow to compile, too big to
    * JIT), while this shape keeps every generated method small and both
    * aggregates enjoy map-side partials. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    minhashSignaturesFromSets(shingleSets(df, idCol, textCol, n), k)

  /** [[minhashSignatures]] over a pre-built `(id, shset)` index
    * (caller-owned lifecycle — see [[jaccardPairsFromSets]]). */
  def minhashSignaturesFromSets(sets: DataFrame, k: Int): DataFrame = {
    require(k <= 16000, "k too large for overflow-free 48-bit hash derivation")
    val ex = sets.select(col("id"), explode(col("shset")).as("s"))
    val halves = ex
      .withColumn("h128", md5(col("s")))
      .select(col("id"),
        conv(substring(col("h128"), 1, 12), 16, 10).cast("long").as("ha"),
        conv(substring(col("h128"), 13, 12), 16, 10).cast("long").as("hb"))
    val hashed = halves
      .select(col("id"), explode(sequence(lit(0), lit(k - 1))).as("seed"),
        col("ha"), col("hb"))
      .select(col("id"), col("seed"),
        (col("ha") + (col("seed") + 1) * col("hb")).as("h"))
    hashed.groupBy(col("id"), col("seed"))
      .agg(min(col("h")).as("m"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("seed"), col("m"))))
        .getField("m").as("sig"))
  }

  /** LSH candidate pairs: band the K-element signature into `bands`
    * groups of K/bands rows, bucket = md5(concat(band rows)), join on
    * (band, bucket). Probability a pair with Jaccard j becomes a
    * candidate: 1 - (1 - j^(K/bands))^bands. */
  /** Band a (id, sig) frame into (id, sig, band, bucket) rows —
    * bucket = md5 over the band's signature slice. */
  def lshBuckets(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",",
          transform(slice(col("sig"), b * rows + 1, rows), _.cast("string")))).as("bucket"))
    }
    sigs.select(col("id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, k: Int = 9, bands: Int = 3): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, n, k)
    val banded = lshBuckets(sigs, k, bands).drop("sig")
    banded.select(col("id").as("id_a"), col("band"), col("bucket"))
      .join(banded.select(col("id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** MinHash-LSH near-dedup: LSH candidates verified with true shingle
    * Jaccard. The verify join only touches candidate pairs. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 9, bands: Int = 3,
                   minJaccard: Double = 0.8): DataFrame =
    minhashDedupFromSets(shingleSets(df, idCol, textCol, n), k, bands, minJaccard)

  /** [[minhashDedup]] over a pre-built `(id, shset)` index
    * (caller-owned lifecycle — see [[jaccardPairsFromSets]]). */
  def minhashDedupFromSets(sets: DataFrame, k: Int = 9, bands: Int = 3,
                           minJaccard: Double = 0.8): DataFrame =
    minhashDedupFromSigs(minhashSignaturesFromSets(sets, k), sets, k, bands,
      minJaccard)

  /** [[minhashDedup]] over BOTH pre-built artifacts — the `(id, sig)`
    * signature table and the `(id, shset)` index (a pipeline typically
    * materializes the signatures once per corpus next to the shingle
    * index and re-bands/queries them many times). */
  def minhashDedupFromSigs(sigs: DataFrame, sets: DataFrame,
                           k: Int = 9, bands: Int = 3,
                           minJaccard: Double = 0.8): DataFrame = {
    val banded = lshBuckets(sigs, k, bands).drop("sig")
    val cands = banded.select(col("id").as("id_a"), col("band"), col("bucket"))
      .join(banded.select(col("id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(sets.select(col("id").as("id_a"), col("shset").as("set_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shset").as("set_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Benchmark decontamination: flag every training document that shares
    * at least one word n-gram with the benchmark/eval set — the standard
    * guard against test-set leakage in pretraining corpora.
    *
    * Scale shape: the benchmark shingle vocabulary is small (eval sets
    * are thousands of rows, not billions), so it is distinct-ed and
    * BROADCAST against the exploded corpus index — no shuffle of the
    * corpus at all; the per-doc hit count is one map-side-combined
    * aggregate. */
  def contaminationFlags(docs: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchIdCol: String,
                         benchTextCol: String, n: Int = 3): DataFrame = {
    val bsh = shingleSets(bench, benchIdCol, benchTextCol, n)
      .select(explode(col("shset")).as("s")).distinct()
    val hits = shingleSets(docs, idCol, textCol, n)
      .select(col("id"), explode(col("shset")).as("s"))
      .join(broadcast(bsh), "s")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Quality-aware canonical selection within near-dup clusters: keep
    * the HIGHEST-quality document of each cluster (min id breaks ties)
    * instead of [[dupClusters]]' min-id representative — the real
    * curation policy ("of these near-duplicates, keep the best copy,
    * not the first-crawled one").
    *
    * The winner is a map-side-partial `min(struct(-quality, id))`
    * aggregate per cluster joined back on the cluster key — NOT a
    * per-cluster window, so a pathological boilerplate mega-cluster
    * never piles onto one task. Two keyed shuffles (cluster key, then
    * the join), both linear.
    *
    * @param clusters `(idCol, repCol)` cluster map (e.g. [[dupClusters]])
    * @param quality  `(idCol, qualityCol)` per-doc score
    */
  def canonicalPerCluster(clusters: DataFrame, quality: DataFrame,
                          idCol: String, repCol: String,
                          qualityCol: String): DataFrame = {
    val scored = clusters.join(quality, idCol)
    // coalesce before negation: a NULL quality must sort LAST (never
    // canonical over a scored copy — and matching the oracle's
    // NULLS-LAST DESC), but Spark's struct ordering puts a null field
    // FIRST under min
    val best = scored.groupBy(col(repCol))
      .agg(min(struct(
        (-coalesce(col(qualityCol), lit(Double.NegativeInfinity))).as("nq"),
        col(idCol).as("bid"))).as("best"))
      .select(col(repCol), col("best.bid").as("__best_id"))
    scored.join(best, repCol)
      .select(col(idCol), col(repCol), col(qualityCol),
        (col(idCol) === col("__best_id")).as("keep"))
  }

  /** Continuous contamination score — the graded cousin of
    * [[contaminationFlags]]: per document, the FRACTION of its distinct
    * `n`-gram shingles that appear anywhere in the benchmark set, with
    * `contaminated` = rounded fraction ≥ `minFrac`. Real
    * decontamination uses a threshold (WebText/GPT-3 style 13-gram
    * overlap rules), not any-hit: one shared boilerplate phrase should
    * not nuke a long document.
    *
    * Same scale shape as the boolean variant: the benchmark vocabulary
    * is broadcast (the corpus never shuffles for the probe), the hit
    * count is a keyed per-doc aggregate.
    *
    * @param ids       one row per corpus document: `(id)` — keeps docs
    *                  too short to shingle in the output with frac 0
    * @param sets      `(id, shset)` corpus shingle index ([[shingleSets]])
    * @param benchSets `(id, shset)` benchmark shingle index
    */
  def contaminationFraction(ids: DataFrame, sets: DataFrame,
                            benchSets: DataFrame,
                            minFrac: Double = 0.2): DataFrame = {
    val bsh = benchSets.select(explode(col("shset")).as("s")).distinct()
    val hits = sets.select(col("id"), explode(col("shset")).as("s"))
      .join(broadcast(bsh), "s")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    ids
      .join(sets.select(col("id"), size(col("shset")).as("n_grams")),
        Seq("id"), "left")
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0)).cast("long").as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("frac_contaminated",
        coalesce(round(col("n_hits") / nullif(col("n_grams"), lit(0L)), 4),
          lit(0.0)))
      .withColumn("contaminated", col("frac_contaminated") >= minFrac)
  }

  /** WITHIN-document span dedup: every `w`-word chunk keeps only its
    * first occurrence inside its OWN document (the C4 "discard
    * repeated paragraphs within a page" move — corpus-level span dedup
    * is [[chunkDedup]]). Grouped on (doc, chunk) then doc — both keyed
    * shuffles distribute evenly; no corpus-wide census is needed, so
    * unlike [[chunkDedup]] this is embarrassingly parallel per document. */
  def intraDocChunkDedup(df: DataFrame, idCol: String, textCol: String,
                         w: Int = 5): DataFrame =
    intraDocChunkDedupFromTokens(TextStats.tokenized(df, idCol, textCol), w)

  /** [[intraDocChunkDedup]] over a pre-built [[TextStats.tokenized]]
    * frame. */
  def intraDocChunkDedupFromTokens(toks: DataFrame, w: Int = 5): DataFrame =
    TextStats.posChunksFromTokens(toks, w)
      .groupBy(col("id"), col("s"))
      .agg(min(col("pos")).as("pos"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept_chunks"),
        concat_ws(" ",
          array_sort(collect_list(struct(col("pos"), col("s"))))
            .getField("s")).as("dedup_text"))

  /** SimHash near-duplicate pairs: all (id_a < id_b) whose 64-bit
    * signatures differ in at most `maxHamming` bits.
    *
    * Pigeonhole banding: the signature splits into maxHamming+1
    * contiguous bands, and any pair within the budget must agree EXACTLY
    * on at least one band — so candidates come from an equi-join on
    * (band index, band bits), linear in data + matches like the MinHash
    * banding, never all-pairs. Candidates are verified with the native
    * [[graft.plans.HammingDist]] expression (fused codegen byte loop).
    * Complements Jaccard/MinHash: SimHash distance is a corpus-free
    * per-doc signature, so the pairing needs no shingle index. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame =
    hammingNearDupsFromSigs(simhash(df, idCol, textCol), maxHamming)

  /** Banded Hamming pairing over ANY (id, simhash64) 64-bit-string
    * signature frame — the core of [[simhashNearDups]], factored out so
    * other 64-bit perceptual signatures (the image dHash of
    * [[Multimodal.DHashCodec]]) reuse the same pigeonhole machinery:
    * split into `maxHamming`+1 bands, equi-join per band (any pair
    * within distance d must agree on ≥1 band), verify with the native
    * codegen `hamming_dist`. Candidate generation is linear in data +
    * matching-band pairs, never all-pairs. */
  def hammingNearDupsFromSigs(sigs: DataFrame,
                              maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    graft.plans.HammingDist.register(sigs.sparkSession)
    val b = maxHamming + 1
    val bounds = (0 to b).map(i => 1 + i * 64 / b)   // 1-based band starts
    val bandCols = (0 until b).map { i =>
      struct(lit(i).as("band"),
        substring(col("simhash64"), bounds(i), bounds(i + 1) - bounds(i)).as("key"))
    }
    val banded = sigs
      .select(col("id"), col("simhash64"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("simhash64"),
        col("bb.band").as("band"), col("bb.key").as("key"))
    banded.select(col("id").as("id_a"), col("simhash64").as("sig_a"),
        col("band"), col("key"))
      .join(banded.select(col("id").as("id_b"), col("simhash64").as("sig_b"),
        col("band"), col("key")), Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()   // multi-band matches once
      .withColumn("hamming",
        call_function(graft.plans.HammingDist.fnName, col("sig_a"), col("sig_b")))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** [[hammingNearDupsFromSigs]] with an exact-duplicate collapse in
    * front — the plan for signature streams with HEAVY duplication
    * (image corpora are dominated by byte-identical or
    * pixel-identical copies): identical signatures are collapsed to
    * one representative (min id) BEFORE banding, so the pigeonhole
    * join runs over distinct signatures only; identical-signature doc
    * pairs come from one output-sized hash-keyed self-join (distance
    * 0 by definition — never verified bit-by-bit), and cross-signature
    * band matches expand back through the group membership. Without
    * the collapse, a signature shared by n docs puts n·(bands) rows
    * into the band join and n² candidates into EVERY matching band —
    * at 50 copies per image that was measured 2.5× slower on the
    * whole query. Same output contract as [[hammingNearDupsFromSigs]].
    *
    * The COMPUTE is collapse-bounded, but the exact-dup OUTPUT is still
    * O(g²) pairs per identical-signature class (the pairs are the
    * answer): a viral-image 10⁵⁻⁶-copy class would emit 10¹⁰⁻¹² rows
    * regardless of plan. When classes can be that heavy, report them
    * with [[hammingDupGroups]] (one row per class) and keep pairing
    * for the cross-signature near-dups only.
    *
    * Caches an internal representatives frame for its three consumers;
    * use [[hammingNearDupsCollapsedManaged]] to release it after the
    * result is materialized (a one-shot query can let session teardown
    * reclaim it). */
  def hammingNearDupsCollapsed(sigs: DataFrame,
                               maxHamming: Int = 3): DataFrame =
    hammingNearDupsCollapsedManaged(sigs, maxHamming)._1

  /** [[hammingNearDupsCollapsed]] with an explicit cache lifecycle:
    * returns the pairs frame plus a `release` thunk dropping the
    * persisted representatives frame — call it once the pairs are
    * written/counted (recomputation after release stays correct, the
    * cache just rebuilds). */
  def hammingNearDupsCollapsedManaged(sigs: DataFrame,
      maxHamming: Int = 3): (DataFrame, () => Unit) = {
    val reps = sigs.groupBy(col("simhash64")).agg(min(col("id")).as("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repPairs = hammingNearDupsFromSigs(
      reps.select(col("id"), col("simhash64")), maxHamming)
    val hashPairs = repPairs
      .join(reps.select(col("id").as("id_a"), col("simhash64").as("ha")), "id_a")
      .join(reps.select(col("id").as("id_b"), col("simhash64").as("hb")), "id_b")
      .select(col("ha"), col("hb"), col("hamming"))
    val cross = hashPairs
      .join(sigs.select(col("id").as("da"), col("simhash64").as("ha")), "ha")
      .join(sigs.select(col("id").as("db"), col("simhash64").as("hb")), "hb")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("hamming"))
    val same = sigs.select(col("id").as("id_a"), col("simhash64"))
      .join(sigs.select(col("id").as("id_b"), col("simhash64")), "simhash64")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))
    (same.unionByName(cross), () => { reps.unpersist(); () })
  }

  /** Mega-class-safe exact-duplicate reporting over ANY (id, simhash64)
    * signature frame — the group-emission complement of the pair shape:
    * one row per identical-signature class with ≥2 members —
    * (simhash64, rep_id = min id, n_members, members ≤ `maxMembers`
    * smallest ids, n_overflow = members beyond the cap). A class of g
    * byte-identical copies costs ONE hash-keyed aggregate row here
    * versus g·(g−1)/2 pair rows (a 10⁵-copy viral image: 1 row vs
    * 5·10⁹) — emission is linear in input, never quadratic in class
    * size. The aggregation buffer holds the class's ids (8 B each —
    * ~1 MB even at 10⁵ copies, vs an unrepresentable pair blow-up);
    * `maxMembers` bounds the OUTPUT row width, and n_overflow
    * preserves the true census for classes past the cap. */
  def hammingDupGroups(sigs: DataFrame, maxMembers: Int = 100): DataFrame =
    sigs.groupBy(col("simhash64"))
      .agg(min(col("id")).as("rep_id"),
        count(lit(1)).as("n_members"),
        slice(array_sort(collect_list(col("id"))), 1, maxMembers).as("members"))
      .where(col("n_members") >= 2)
      .withColumn("n_overflow",
        greatest(col("n_members") - maxMembers, lit(0L)))

  /** Bloom-filter variant of [[contaminationFlags]] for benchmark
    * vocabularies too large to broadcast exactly: build a Bloom sketch
    * over the benchmark shingles (`fpp` false-positive rate), prefilter
    * the exploded corpus index with `mightContain` — output-sized, not
    * corpus-sized — then remove the sketch's false positives with the
    * exact join. Flags are IDENTICAL to the exact path; only the plan
    * changes: the corpus side entering the (possibly shuffle) join is
    * already pruned to near-hits, so at 100 TB the join moves ~hits
    * rows instead of the whole index. The sketch UDF is a coarse
    * prefilter only — correctness never depends on it. */
  def contaminationFlagsBloom(docs: DataFrame, idCol: String, textCol: String,
                              bench: DataFrame, benchIdCol: String,
                              benchTextCol: String, n: Int = 3,
                              fpp: Double = 0.001): DataFrame =
    contaminationFlagsBloomManaged(docs, idCol, textCol,
      bench, benchIdCol, benchTextCol, n, fpp)._1

  /** [[contaminationFlagsBloom]] with an explicit resource lifecycle:
    * returns the flags frame plus a `release` thunk that drops the
    * persisted benchmark-shingle cache and the Bloom broadcast blocks.
    * Call `release()` after the flags are materialized (written/counted)
    * — a long-lived service that flags many corpora against many
    * benchmark sets would otherwise accumulate one cached frame +
    * broadcast per DISTINCT benchmark input (identical inputs dedup via
    * the CacheManager). Re-materializing the frame after `release()`
    * stays correct: the cache recomputes and the broadcast re-ships. */
  def contaminationFlagsBloomManaged(
      docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 3, fpp: Double = 0.001): (DataFrame, () => Unit) = {
    val spark = docs.sparkSession
    // persisted through the index build AND the exact-verify join: the
    // three consumers (count, bloomFilter scan, verify) must not each
    // recompute the bench shingle pipeline
    val bsh = shingleSets(bench, benchIdCol, benchTextCol, n)
      .select(explode(col("shset")).as("s")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nProbes = math.max(bsh.count(), 64L)   // sketch sizing
    val bloom = bsh.stat.bloomFilter("s", nProbes, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => s != null && bloomB.value.mightContainString(s))
    val hits = shingleSets(docs, idCol, textCol, n)
      .select(col("id"), explode(col("shset")).as("s"))
      .where(mightContain(col("s")))      // sketch prefilter, output-sized
      .join(bsh, "s")                     // exact verify kills false positives
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    val flags = docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
    (flags, () => { bsh.unpersist(blocking = false); bloomB.unpersist() })
  }

  /** Exact-substring decontamination: flag every document whose text
    * contains ANY of the probe strings verbatim (the GPT-3/Pile-style
    * "exact overlap" check, complementing the n-gram overlap of
    * [[contaminationFlags]] — a probe hits even when tokenization
    * differs).
    *
    * Scale shape: eval-set probes are small by construction, so they are
    * collected into ONE array row and broadcast (a 1-row broadcast
    * nested loop); the corpus does a single pass with a short-circuiting
    * `exists` per row — no shuffle, no explosion. For probe sets beyond
    * broadcast size the n-gram path is the right tool. */
  def substringContamination(docs: DataFrame, idCol: String, textCol: String,
                             probes: DataFrame, probeCol: String): DataFrame = {
    val parr = probes
      .agg(array_sort(collect_list(col(probeCol))).as("__probes"))
    docs.select(col(idCol), col(textCol).as("__text"))
      .crossJoin(broadcast(parr))
      .select(col(idCol),
        // coalesce: `contains` null-propagates through `exists` for
        // null-text docs; the SQL EXISTS semantics this mirrors yield
        // false there, and downstream `!contaminated` filters (q63)
        // must keep such docs, not drop them as NULL would
        coalesce(exists(col("__probes"), p => col("__text").contains(p)),
          lit(false)).as("contaminated"))
  }

  /** Connected components over near-duplicate pairs: every document gets
    * a `cluster_rep` — the smallest id reachable through the dup graph —
    * so "keep one per cluster" is `where(id === cluster_rep)`. Docs in no
    * pair are their own singleton cluster.
    *
    * Algorithm: alternating large-star / small-star EDGE REWIRING
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Unlike label propagation — whose round count is bound by
    * the diameter of the label PLATEAUS that form mid-run (measured: 27
    * rounds on the sf0.1 name-edit chain, with pointer jumping) — each
    * rewiring round strictly flattens the graph toward a star forest
    * rooted at component minima, converging in O(log n) rounds in
    * practice (O(log² n) proven) REGARDLESS of chain shape. Each round
    * is two groupBy+join+dedup passes over the CURRENT edge set, which
    * only shrinks/flattens; the driver loop sees one boolean fixpoint
    * probe per round — edge state never leaves the executors. The
    * iteration runs over the PAIR-GRAPH edges only (docs with a
    * near-dup — a small derived set even at full scale); the corpus is
    * touched once at the end. */
  /** Driver-path edge budget for [[dupClusters]] (0 disables): env-
    * tunable for cluster runs, deliberately conservative by default —
    * the collected rows are (id, id) pairs, so 100k rows is a few MB
    * of driver state, the same class as a broadcast build. */
  private def ccDriverMaxEdges: Int = sys.env
    .getOrElse("SPARK_GRAFT_CC_DRIVER_MAX_EDGES", "100000").toInt

  def dupClusters(docs: DataFrame, idCol: String,
                  pairs: DataFrame, maxIters: Int = 20,
                  driverMaxEdges: Int = -1): DataFrame = {
    // Canonical orientation: src = the LARGER endpoint (ids need only
    // be orderable — string entity keys included); self-pairs drop
    // (no-op edges).
    val canon = pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .where(col("src") =!= col("dst"))
    // The pair graph may be an expensive pipeline (e.g. jaccardPairs) —
    // materialize the canonical edges ONCE, eagerly, BEFORE the path
    // probe: both paths read these blocks, so an over-cutoff graph
    // never evaluates the pair pipeline twice (a bare limit().collect()
    // probe would run the pipeline's shuffle map sides and then the
    // distributed loop would recompute them from scratch). The
    // under-cutoff cost is one extra cheap job (the collect then reads
    // cached blocks instead of re-running the pipeline).
    val base = canon.localCheckpoint(true)
    // BOUNDED DRIVER PATH (the [[graft.streaming.Pipelines
    // .clusterIngestStream]] precedent, spec-asserted equal): the
    // rewiring loop below costs ~2 jobs + 2 plan builds PER ROUND —
    // pure dispatch latency when the pair graph is small, which it is
    // for every shared-frame consumer at bench scale and for any
    // steady-state incremental batch. Up to `cutoff` edge rows the
    // components are solved by a min-rooted union-find off ONE bounded
    // collect (duplicates and orientation are irrelevant to a UF, so
    // the probe skips the distinct too); the labeling is bit-identical
    // by construction — cluster_rep IS the component minimum on both
    // paths (spec-asserted). Beyond the cutoff (or with it set <= 0,
    // e.g. by the round-count gates in the spec suite and Soak) the
    // distributed O(log n) loop runs unchanged — the 100 TB path never
    // collects. The probe is a limit() over the checkpointed blocks:
    // partition-local short-circuit, no recompute either way.
    val cutoff =
      if (driverMaxEdges >= 0) driverMaxEdges else ccDriverMaxEdges
    val probe =
      if (cutoff > 0) base.limit(cutoff + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (cutoff > 0 && probe.length <= cutoff) {
      val (roots, vs) = driverMinForest(probe)
      val idType = canon.schema("src").dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, idType),
        org.apache.spark.sql.types.StructField("rep", idType)))
      val spark = docs.sparkSession
      val labelRows = vs.iterator.flatMap { v =>
        val r = roots(v)
        if (r == v) None else Some(org.apache.spark.sql.Row(v, r))
      }.toSeq
      val labels = spark.createDataFrame(
        spark.sparkContext.parallelize(labelRows, 1), schema)
      return docs.select(col(idCol))
        .join(broadcast(labels), Seq(idCol), "left")
        .select(col(idCol), coalesce(col("rep"), col(idCol)).as("cluster_rep"))
    }
    // localCheckpoint (not just persist) on every iterative frame: it
    // TRUNCATES the logical plan, which otherwise doubles per round and
    // drives optimizer time exponential. On a multi-node cluster the
    // durable variant is checkpoint(dir) — same shape, fault-tolerant.
    // The distinct reads the already-checkpointed blocks, not the pair
    // pipeline.
    var edges = base
      .distinct()
      .localCheckpoint(true)
    var it = 0
    var converged = edges.isEmpty
    while (!converged && it < maxIters) {
      // large-star(u): m = min({u} ∪ Γ(u)); every STRICTLY LARGER
      // neighbor v > u rewires to (v, m). Runs over the symmetric view
      // so each endpoint plays the center role once. Output edges keep
      // the big→small orientation (v > u ≥ m).
      val sym = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = sym.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      val ls = sym.join(lsMin, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(true)
      // small-star(u): over big→small edges, m = min(N(u) ∪ {u}) =
      // min(N(u)); every smaller neighbor v ≠ m plus u itself rewires
      // to m. Orientation is preserved (everything emitted is > m).
      val ssMin = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val withM = ls.join(ssMin, "src")
      val ss = withM
        .where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(withM.select(col("src"), col("m").as("dst")))
        .distinct()
        // LAZY: the fixpoint probe right below aggregates the whole
        // frame, so it materializes the checkpoint inside its own job
        // — eager paid a dedicated job per round on top of the probe
        .localCheckpoint(false)
      // exact fixpoint probe: the edge set is a star forest rooted at
      // component minima iff every src has exactly ONE out-edge and no
      // vertex is both a src and a dst (the big→small orientation
      // already guarantees src > dst, so each star's root is its
      // component min — both phases leave such a set unchanged, and
      // Kiveris et al. §3 prove the fixpoints are exactly these star
      // forests). One vertex-keyed aggregate over the just-
      // checkpointed frame replaces the former two full-edge-set
      // anti-joins per round; type-agnostic, and it can fire one round
      // earlier (the round that FORMS the star forest), which leaves
      // the labeling unchanged since further rounds are no-ops.
      val viol = ss.select(col("src").as("v"), lit(1L).as("ns"), lit(0L).as("nd"))
        .unionByName(
          ss.select(col("dst").as("v"), lit(0L).as("ns"), lit(1L).as("nd")))
        .groupBy(col("v"))
        .agg(sum(col("ns")).as("ns"), sum(col("nd")).as("nd"))
        .where(col("ns") > 1 || (col("ns") > 0 && col("nd") > 0))
      converged = viol.isEmpty
      edges = ss
      it += 1
    }
    // hitting the cap un-converged means components may be silently
    // UNDER-merged (the q192 failure mode on a long name-edit chain) —
    // that is a wrong answer, not a degraded one; fail loud instead
    require(converged,
      s"dupClusters hit maxIters=$maxIters before converging — " +
        "raise maxIters (edge rewiring makes rounds O(log n) on any " +
        "chain shape)")
    // the converged star forest IS the labeling: (v, componentMin) for
    // every non-root vertex; roots and singletons label themselves
    val labels = edges.select(col("src").as("id"), col("dst").as("rep"))
    docs.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("rep"), col(idCol)).as("cluster_rep"))
  }

  /** Min-rooted driver union-find over collected edge rows (columns 0
    * and 1 are the endpoints): returns (vertex → component-min root,
    * every vertex seen, in first-seen order). The smaller root adopts
    * the larger at each union, so every tree's root is its component
    * MINIMUM — exactly the distributed [[dupClusters]] `cluster_rep`
    * (spec-asserted equal on both paths). Strings compare by UTF-8
    * bytes, matching Spark's min()/binary ordering — Java's
    * String.compareTo is UTF-16 code-unit order and diverges on
    * supplementary-plane characters. */
  private[graft] def driverMinForest(
      rows: Array[org.apache.spark.sql.Row])
      : (Any => Any, scala.collection.mutable.LinkedHashSet[Any]) = {
    val parent = new scala.collection.mutable.HashMap[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.contains(r)) r = parent(r)
      var c = x
      while (parent.contains(c)) {
        val n = parent(c); parent.update(c, r); c = n
      }
      r
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (sa: String, sb: String) =>
        val ba = sa.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bb = sb.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(ba.length, bb.length)
        while (i < n && ba(i) == bb(i)) i += 1
        if (i < n) (ba(i) & 0xff) < (bb(i) & 0xff)
        else ba.length < bb.length
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    rows.foreach { row =>
      val ra = find(row.get(0)); val rb = find(row.get(1))
      if (ra != rb) {
        if (lt(ra, rb)) parent.update(rb, ra)
        else parent.update(ra, rb)
      }
    }
    val vs = scala.collection.mutable.LinkedHashSet.empty[Any]
    rows.foreach { row => vs += row.get(0); vs += row.get(1) }
    (find, vs)
  }

  /** 64-bit SimHash as a bit string, built from md5 nibbles so the exact
    * same signature is computable in any engine with md5 — no
    * engine-specific hash. Bit b of token t = bit (b mod 4) of hex nibble
    * (b div 4) of md5(t); signature bit = majority vote over tokens
    * (ties → 1). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = FanOut(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), explode(TextFunctions.tokens(col("__text"))).as("w"))
      .withColumn("h", md5(col("w")))
    // one row per (token, nibble index 0..15)
    val nib = tok.select(col("id"), col("h"), explode(sequence(lit(0), lit(15))).as("i"))
      .withColumn("v", expr("instr('0123456789abcdef', substr(h, i + 1, 1)) - 1"))
    // The nibble's 4 bit-votes aggregate as 4 narrow sums per (id,
    // nibble) — arithmetic on the nibble value instead of a 4× explode
    // to one-row-per-bit (which made this the highest rows-per-input-
    // byte operator in the repo). vote_j = ±1 per token, so
    // score_j = 2·Σbit_j − n_tokens; the sign test (≥ 0) is unchanged.
    val voteSums = (0 to 3).map(j =>
      (sum(expr(s"(v >> $j) & 1")) * 2 - count(lit(1))).as(s"s$j"))
    val scores = nib.groupBy(col("id"), col("i"))
      .agg(voteSums.head, voteSums.tail: _*)
    val nibBits = scores.select(col("id"), col("i"),
      concat((0 to 3).map(j =>
        when(col(s"s$j") >= 0, lit("1")).otherwise(lit("0"))): _*).as("bits4"))
    nibBits.groupBy("id")
      .agg(concat_ws("", array_sort(collect_list(struct(col("i"), col("bits4"))))
        .getField("bits4")).as("simhash64"))
  }

  /** Boilerplate chunk removal — the document-frequency cousin of
    * [[chunkDedup]]: a `w`-word chunk occurring in at least `minDocs`
    * DISTINCT documents is template text (site headers, license
    * blurbs, navigation) and is removed from EVERY document.
    * [[chunkDedup]] keeps the FIRST occurrence of a repeated span (the
    * C4 rule — the text itself is worth one copy); this removes ALL
    * occurrences (the CCNet/RefinedWeb rule — template text carries no
    * training signal at any multiplicity). Reports per-document chunk
    * totals, removals, and the removed fraction.
    *
    * Scale shape: the document-frequency census is one shuffle on the
    * chunk string with a partial-aggregating approx-free
    * `count(distinct id)` per chunk (each doc contributes each chunk
    * at most a handful of times, so the distinct expansion is small);
    * verdicts return to the chunk stream by the same chunk key — AQE
    * broadcasts the frequent-chunk side when the threshold keeps it
    * small, and the per-doc report is the one doc-keyed combine. */
  def boilerplateChunkStats(toks: DataFrame, w: Int = 5,
                            minDocs: Long = 3): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val chunks = TextStats.posChunksFromTokens(toks, w)
    val frequent = chunks
      .groupBy(col("s"))
      .agg(countDistinct(col("id")).as("df"))
      .where(col("df") >= minDocs)
      .select(col("s"), lit(1).as("bp"))
    chunks
      .join(frequent, Seq("s"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("bp").isNotNull, 1L).otherwise(0L)).as("n_removed"))
      .withColumn("frac_removed",
        round(col("n_removed").cast("double") / col("n_chunks"), 4))
  }

  /** [[boilerplateChunkStats]]'s emitting sibling: REBUILDS each
    * document from its non-boilerplate chunks (the same df ≥ `minDocs`
    * remove-ALL rule), mirroring [[chunkDedupFromTokens]]'s
    * survivor-reassembly. This is the form a curation pipeline
    * consumes — cleaned text flows into the quality/dedup/selection
    * cascade instead of a stats report. Documents under `w` words, or
    * consisting entirely of template chunks, vanish (same contract as
    * [[chunkDedupFromTokens]]).
    *
    * Scale shape identical to the stats variant: one chunk-keyed census
    * shuffle, verdicts return by chunk key (AQE broadcasts the flagged
    * side when small), and the doc-keyed rebuild is the one combine —
    * the sort in reassembly is per-document `array_sort`, never a
    * global order. */
  def boilerplateStripFromTokens(toks: DataFrame, w: Int = 5,
                                 minDocs: Long = 3): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val chunks = TextStats.posChunksFromTokens(toks, w)
    val frequent = chunks
      .groupBy(col("s"))
      .agg(countDistinct(col("id")).as("df"))
      .where(col("df") >= minDocs)
      .select(col("s"), lit(1).as("bp"))
    chunks
      .join(frequent, Seq("s"), "left")
      .where(col("bp").isNull)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept_chunks"),
        concat_ws(" ",
          array_sort(collect_list(struct(col("pos"), col("s"))))
            .getField("s")).as("clean_text"))
  }

  /** MinHash estimator calibration census: over every LSH candidate
    * pair, the joint distribution of (signature agreement count, true
    * Jaccard decile) — the table that tells you what `minEstJaccard`
    * threshold actually means in true-similarity terms on YOUR corpus
    * and banding, before you commit a dedup run to it. Reads as a
    * confusion matrix: mass above the diagonal = pairs the estimator
    * would over-claim, below = near-dups the threshold would miss.
    *
    * Scale: candidates come from the band join (never all pairs); the
    * signature comparison is a k-component zip per candidate; the true
    * Jaccard joins the shingle sets only for candidate pairs. Output is
    * (k+1)×10 cells regardless of corpus size. */
  def minhashCalibration(sigs: DataFrame, sets: DataFrame, k: Int,
                         bands: Int): DataFrame = {
    val buckets = lshBuckets(sigs, k, bands)
    val cand = buckets.select(col("id").as("id_a"), col("band"), col("bucket"))
      .join(buckets.select(col("id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_agree",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, x) => a + x))
      .join(sets.select(col("id").as("id_a"), col("shset").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shset").as("sb")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .withColumn("j", round(col("inter") /
        (size(col("sa")) + size(col("sb")) - col("inter")), 4))
      .withColumn("j_bucket", least(floor(col("j") * 10), lit(9L)).cast("int"))
      .groupBy(col("est_agree"), col("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Corpus snapshot diff: id-level added / removed / changed /
    * unchanged between two versions of a corpus, the audit a recurring
    * ingestion pipeline runs before re-processing ("what actually
    * changed since the last crawl?"). "Changed" is content change
    * under the engine's normalized fingerprint
    * ([[graft.functions.TextFunctions.fingerprint]]) — whitespace and
    * case drift does NOT count as a change, the same equivalence every
    * exact-dedup operator here uses.
    *
    * Scale: each side reduces to (id, 16-byte fingerprint) AT THE SCAN
    * (text never shuffles), then one id-keyed full-outer join — the
    * natural co-partitioned/bucketed join at 100 TB, since both
    * snapshots are keyed by the same id. Output is corpus-sized only
    * if everything changed; callers filter to `status <> 'unchanged'`. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"),
      TextFunctions.fingerprint(col(textCol)).as("fp_old"))
    val n = newDf.select(col(idCol).as("id"),
      TextFunctions.fingerprint(col(textCol)).as("fp_new"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed"))
          .otherwise(lit("unchanged")))
      .select(col("id"), col("status"))
  }

  /** Chunk-level delta between a probe set and a baseline corpus: for
    * each probe document, how many of its content-defined chunks (and
    * characters) already exist ANYWHERE in the baseline — the rsync /
    * backup-storage estimate of how many bytes an incremental ingest
    * actually has to store or transfer. Because boundaries are
    * content-defined ([[graft.plans.CdcChunks]]), an edited re-crawl of
    * a baseline document still reuses nearly all of its chunks; a
    * fixed-stride delta would report ~zero reuse for the same edit.
    *
    * Scale: the baseline reduces to its DISTINCT chunk-hash set (one
    * pass + one chunk-keyed distinct — at 100 TB this set is the
    * already-persisted chunk store, see `Pipelines.cdcDedupAgainstStore`,
    * not a recompute); the probe side is churn-sized; the reuse check is
    * one hash-keyed join. */
  def cdcDelta(baseline: DataFrame, probe: DataFrame, idCol: String,
               textCol: String, w: Int = 8, mask: Int = 64): DataFrame = {
    val base = cdcChunks(baseline, idCol, textCol, w, mask)
      .select(md5(col("chunk")).as("ch")).distinct()
      .withColumn("hit", lit(1))
    cdcChunks(probe, idCol, textCol, w, mask)
      .select(col("id"), md5(col("chunk")).as("ch"),
        length(col("chunk")).cast("long").as("ln"))
      .join(base, Seq("ch"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_reused"),
        sum(col("ln")).as("n_chars"),
        sum(when(col("hit").isNotNull, col("ln")).otherwise(0L))
          .as("reused_chars"))
      .withColumn("reuse_frac",
        round(col("reused_chars").cast("double") / col("n_chars"), 4))
  }

  /** Incremental recompute over a [[snapshotDiff]]: produce the result
    * table for snapshot `next` by running `compute` ONLY over added /
    * changed documents and carrying forward `prevResult` rows for
    * unchanged ones (removed docs drop out). The output additionally
    * carries `recomputed: boolean` so downstream auditing can see what
    * was reprocessed.
    *
    * This is the move that makes recurring 100 TB curation affordable:
    * per-run cost is O(churn) + one fingerprint-sized diff join +
    * one id-keyed semi-join of the stored result table — the unchanged
    * 99% of the corpus is never tokenized, scored, or even read beyond
    * its fingerprint column. Correctness contract (spec-asserted):
    * the result is row-identical to running `compute` over all of
    * `next`, because "unchanged" means normalized-content-equal and
    * `compute` must be a pure per-document function of that content. */
  def incrementalRecompute(prev: DataFrame, prevResult: DataFrame,
                           next: DataFrame, idCol: String, textCol: String)(
      compute: DataFrame => DataFrame): DataFrame = {
    val diff = snapshotDiff(prev, next, idCol, textCol)
    val churn = diff.where(col("status").isin("added", "changed"))
      .select(col("id").as(idCol))
    val unchanged = diff.where(col("status") === "unchanged")
      .select(col("id").as(idCol))
    val recomputed = compute(next.join(churn, Seq(idCol)))
      .withColumn("recomputed", lit(true))
    val carried = prevResult.join(unchanged, Seq(idCol))
      .withColumn("recomputed", lit(false))
    carried.unionByName(recomputed)
  }

  /** Fuzzy string pairing by deletion-neighborhood banding (the
    * SymSpell move): every pair of distinct strings within Levenshtein
    * distance 1 — the typo/variant clusters an entity-resolution or
    * vocabulary-normalization pass consumes (near-identical customer /
    * product / author names that exact dedup cannot see). Candidate
    * rule: two strings within one edit ALWAYS share a member of each
    * other's ≤1-deletion neighborhood (substitution at i ⇒ both minus
    * position i agree; insertion/deletion ⇒ the shorter string is
    * itself a deletion variant of the longer), so banding on the
    * variant is COMPLETE for d ≤ 1; `levenshtein` then discards the
    * false candidates the band join admits (e.g. transpositions, which
    * share a variant but sit at distance 2).
    *
    * Scale: the computation is DISTINCT-VALUE-bounded, not row-bounded —
    * the input collapses to distinct strings first. Each string emits
    * len+1 variants; candidate generation is one variant-keyed
    * equi-join (inverted-index shape, never O(V²)); the verify is a
    * codegen'd `levenshtein` on candidate pairs only. `minLen` keeps
    * short strings out (their neighborhoods are dense and the matches
    * meaningless — the standard SymSpell guard). */
  def editDistancePairs(df: DataFrame, strCol: String,
                        minLen: Int = 4): DataFrame =
    editDistancePairsManaged(df, strCol, minLen)._1

  /** [[editDistancePairs]] with an explicit cache lifecycle: the
    * variant frame is PERSISTED — the deletion-neighborhood expansion
    * is an interpreted higher-order `transform`, and without the cache
    * the self-join evaluates it TWICE (once per side; 5.7× wall on the
    * sf0.1 names) — and the returned `release` thunk drops it once the
    * pairs are written/counted (recomputation after release stays
    * correct, the cache just rebuilds). */
  def editDistancePairsManaged(df: DataFrame, strCol: String,
      minLen: Int = 4): (DataFrame, () => Unit) = {
    require(minLen >= 2, "minLen must be >= 2")
    val vocab = df.select(col(strCol).as("w"))
      .where(col("w").isNotNull && length(col("w")) >= minLen)
      .distinct()
    val variants = vocab.select(col("w"), explode(
      array_union(
        array(col("w")),
        transform(sequence(lit(1), length(col("w"))), i =>
          concat(col("w").substr(lit(1), i - 1),
            col("w").substr(i + 1, length(col("w"))))))).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = variants.select(col("w").as("word_a"), col("d"))
    val b = variants.select(col("w").as("word_b"), col("d"))
    // verify BEFORE deduplicating: levenshtein is a codegen'd per-row
    // map, so running it on the raw (duplicated) candidate stream and
    // dropping the misses first keeps the distinct's shuffle at
    // true-pair size instead of Σ bucket² candidate size
    val pairs = a.join(b, Seq("d"))
      .where(col("word_a") < col("word_b"))
      .withColumn("dist", levenshtein(col("word_a"), col("word_b")))
      .where(col("dist") <= 1)
      .select(col("word_a"), col("word_b"), col("dist"))
      .distinct()
    (pairs, () => { variants.unpersist(); () })
  }

  /** Sorted-neighborhood blocking (the Hernández–Stolfo SNM move) —
    * the OTHER classic entity-resolution candidate generator beside
    * [[editDistancePairs]]'s SymSpell banding: sort the distinct keys
    * once, then only compare each key to the `window − 1` keys that
    * follow it in sort order, verifying survivors with the codegen'd
    * `levenshtein`. Complementary recall contract (spec-pinned, and
    * the honest trade every record-linkage text states): a true pair
    * whose keys sort within `window` ranks of each other is ALWAYS
    * found; a pair split farther apart — e.g. an edit in the FIRST
    * character, which scatters the two keys across the sort order —
    * is missed. SymSpell is complete for d ≤ 1 but pays a
    * neighborhood expansion; SNM is windowed-complete at any d the
    * verifier accepts and pays only a sort.
    *
    * Scale: distinct-value-bounded like the SymSpell path. The global
    * rank comes from the two-phase prefix sum (range partition +
    * local sort + per-partition counts broadcast back — never a
    * single-partition window); candidates are `(window − 1)`
    * rank-equi-join probes per key, so candidate volume is exactly
    * V·(window − 1) regardless of key skew, and the verify is a
    * per-row codegen map. No self-join blowup exists anywhere. */
  def sortedNeighborPairs(df: DataFrame, strCol: String, window: Int = 6,
                          maxDist: Int = 1, minLen: Int = 4,
                          parts: Int = 32): DataFrame =
    sortedNeighborPairsManaged(df, strCol, window, maxDist, minLen,
      parts)._1

  /** [[sortedNeighborPairs]] with the explicit cache lifecycle of
    * [[editDistancePairsManaged]]: the ranked vocabulary feeds BOTH
    * sides of the rank join, so it is persisted; `release` drops it. */
  def sortedNeighborPairsManaged(df: DataFrame, strCol: String,
      window: Int = 6, maxDist: Int = 1, minLen: Int = 4,
      parts: Int = 32): (DataFrame, () => Unit) = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val (cand, release) =
      sortedNeighborCandidatesManaged(df, strCol, window, minLen, parts)
    val pairs = cand
      .withColumn("dist", levenshtein(col("word_a"), col("word_b")))
      .where(col("dist") <= maxDist)
      .select(col("word_a"), col("word_b"), col("dist"))
    (pairs, release)
  }

  /** The candidate stage of [[sortedNeighborPairs]] with the verifier
    * left to the caller — (word_a, word_b) for every pair of distinct
    * keys within `window − 1` ranks of each other in sort order.
    * Callers plug in their own comparator (`levenshtein` above,
    * [[graft.plans.JaroWinkler]] for probabilistic linkage). Same
    * V·(window − 1) candidate bound and two-phase-prefix-sum ranking. */
  def sortedNeighborCandidatesManaged(df: DataFrame, strCol: String,
      window: Int = 6, minLen: Int = 4,
      parts: Int = 32): (DataFrame, () => Unit) = {
    require(window >= 2, "window must be >= 2")
    val vocab = df.select(col(strCol).as("w"))
      .where(col("w").isNotNull && length(col("w")) >= minLen)
      .distinct()
    val keyed = vocab
      .withColumn("__t", lit(1L))
      .repartitionByRange(parts, col("w"))
      .sortWithinPartitions(col("w"))
      .withColumn("__pid", spark_partition_id())
    val ranked = Packing.runningStart(keyed)
      .select(col("w"), col("__start").as("rk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = ranked.select(col("w").as("word_a"),
        explode(sequence(lit(1), lit(window - 1))).as("__j"), col("rk"))
      .select(col("word_a"), (col("rk") + col("__j")).as("rk"))
    val cand = probes
      .join(ranked.select(col("w").as("word_b"), col("rk")), "rk")
      .select(col("word_a"), col("word_b"))
    (cand, () => { ranked.unpersist(); () })
  }

  /** Fellegi–Sunter field-weight estimation — the probabilistic
    * record-linkage layer above the candidate generators
    * ([[editDistancePairs]] / [[sortedNeighborPairs]]): for each
    * comparison field, estimate
    *   m = P(field agrees | record pair is a match) from an observed
    *       match-proxy pair set (e.g. the verified fuzzy-name pairs),
    *   u = P(field agrees | random pair) EXACTLY from the field's
    *       value census — Σ n_v(n_v−1) / (N(N−1)) over unordered
    *       pairs, no sampling —
    * and the m/u agreement ratio (the odds factor whose log is the
    * classic F-S match weight; the log is left to the consumer so the
    * output stays a grid-exact ratio of integer products). Fields
    * with high m and low u (rare values that matches share) get large
    * ratios and dominate a linkage score; fields that agree by chance
    * (u ≈ m) hover near 1.
    *
    * `keyCol` must identify the pair endpoints (`id_a`/`id_b` in
    * `matchPairs` hold its values); duplicate keys would multiply
    * proxy pairs — acceptable for an estimate, but the cleaner call
    * site keys on a unique attribute.
    *
    * Scale: ONE pairs⋈records⋈records join (pair-set-sized, both
    * record sides reduced to the comparison fields), one global
    * aggregate over it, and one tiny value census per field —
    * everything after the joins is a handful of driver-sized rows.
    * Output: (field, n_pairs, n_agree, m4, u8, mu_ratio4). */
  def fellegiSunter(df: DataFrame, keyCol: String, matchPairs: DataFrame,
                    fields: Seq[(String, Column)]): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val spark = df.sparkSession
    val recs = df.select(col(keyCol).as("__k") +:
      fields.map { case (n, c) => c.as(s"__f_$n") }: _*)
    val aSide = recs.toDF(recs.columns.map(_ + "_a").toIndexedSeq: _*)
    val bSide = recs.toDF(recs.columns.map(_ + "_b").toIndexedSeq: _*)
    val joined = matchPairs
      .join(aSide, col("id_a") === col("__k_a"))
      .join(bSide, col("id_b") === col("__k_b"))
    // one aggregate row: total pairs + per-field agreement counts
    val mAgg = joined.agg(
      count(lit(1)).as("__t"),
      fields.map { case (n, _) =>
        sum(when(col(s"__f_${n}_a") <=> col(s"__f_${n}_b"), 1L)
          .otherwise(0L)).as(s"__a_$n")
      }: _*)
    val nRow = df.agg(count(lit(1)).as("__n"))
    // per-field exact agreement mass among unordered random pairs
    val perField = fields.map { case (n, c) =>
      df.groupBy(c.as("__v")).agg(count(lit(1)).as("__c"))
        .agg(sum(col("__c") * (col("__c") - 1L)).as("__s"))
        .select(lit(n).as("field"), col("__s"))
    }.reduce(_ unionByName _)
    val melted = fields.map { case (n, _) =>
      mAgg.select(lit(n).as("field"), col("__t").as("n_pairs"),
        col(s"__a_$n").as("n_agree"))
    }.reduce(_ unionByName _)
    melted
      .join(perField, "field")
      .crossJoin(broadcast(nRow))
      .select(col("field"), col("n_pairs"), col("n_agree"),
        round(lit(1e4) * col("n_agree").cast("double") / col("n_pairs"))
          .cast("long").as("m4"),
        round(lit(1e8) * col("__s").cast("double")
          / (col("__n") * (col("__n") - 1L))).cast("long").as("u8"),
        round(lit(1e4) * (col("n_agree") * col("__n") * (col("__n") - 1L))
          .cast("double") / (col("n_pairs") * col("__s")).cast("double"))
          .cast("long").as("mu_ratio4"))
  }

  /** Cross-group duplication provenance matrix: given a near-dup pair
    * graph and a document → group attribute (source, crawl, snapshot),
    * the census of pairs by UNORDERED group pair — which sources copy
    * from which. The diagonal (g, g) is within-source duplication
    * (template boilerplate); heavy off-diagonal cells are syndication /
    * mirror relationships and tell a curation pass which source to
    * demote as derivative. `share6` is each cell's fraction of all
    * pairs on the 1e-6 grid.
    *
    * Scale: two id-keyed joins sized by the PAIR graph (the corpus
    * never re-shuffles; docs reduce to (id, group) at the scan), one
    * group-pair census, and a 1-row total broadcast back. */
  def pairProvenanceMatrix(pairs: DataFrame, docs: DataFrame,
                           idCol: String, groupCol: String): DataFrame = {
    val g = docs.select(col(idCol).as("__id"), col(groupCol).as("__g"))
    val cells = pairs
      .join(g.select(col("__id").as("id_a"), col("__g").as("__ga")), "id_a")
      .join(g.select(col("__id").as("id_b"), col("__g").as("__gb")), "id_b")
      .groupBy(least(col("__ga"), col("__gb")).as("source_a"),
        greatest(col("__ga"), col("__gb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val tot = cells.agg(sum(col("n_pairs")).as("__t"))
    cells.crossJoin(broadcast(tot))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        round(lit(1e6) * col("n_pairs") / col("__t")).cast("long")
          .as("share6"))
  }

  /** Content-defined chunks per document: (id, pos, chunk), boundaries
    * cut by the [[graft.plans.CdcChunks]] rolling-hash rule. Unlike the
    * fixed-stride spans [[chunkDedupFromTokens]] keys on, CDC
    * boundaries depend only on local content — a prefix edit shifts
    * every fixed-stride chunk but leaves all CDC chunks past one
    * re-synchronization window byte-identical, so exact chunk-hash
    * dedup keeps working across insertions/deletions (the property
    * storage dedup systems are built on). Pure fused map per document,
    * zero shuffle. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                w: Int = 8, mask: Int = 64): DataFrame = {
    graft.plans.CdcChunks.register(df.sparkSession)
    df.select(col(idCol).as("id"),
        call_function(graft.plans.CdcChunks.fnName,
          col(textCol), lit(w), lit(mask)).as("chunks"))
      .select(col("id"), posexplode(col("chunks")).as(Seq("pos", "chunk")))
  }

  /** Corpus-level duplicated-content census over [[cdcChunks]]: for
    * each document, how many of its content-defined chunks (and what
    * fraction of its characters) appear in ≥ `minDocs` distinct
    * documents. The shift-robust sibling of
    * [[graft.operators.TextStats.dupChunkStats]] — a near-copy with an
    * inserted sentence still shows a high `dup_char_frac` here because
    * the chunk boundaries re-synchronize after the edit.
    *
    * Scale: one chunk-keyed census shuffle (count DISTINCT doc per
    * chunk — map-side partial), verdicts join back on the chunk key
    * (AQE broadcasts the census side when small), one id-keyed final
    * aggregate. Identical shape to the span-dedup family; chunk
    * payloads are ~mask-sized strings, and at 100 TB the join would
    * key on a chunk HASH instead of the chunk text (the census never
    * needs the bytes — same layout, smaller shuffle rows). */
  def cdcDupStats(df: DataFrame, idCol: String, textCol: String,
                  w: Int = 8, mask: Int = 64, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val chunks = cdcChunks(df, idCol, textCol, w, mask)
    val census = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("id")).as("df"))
    chunks.join(census, Seq("chunk"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(length(col("chunk")).cast("long")).as("n_chars"),
        sum(when(col("df") >= minDocs, length(col("chunk")).cast("long"))
          .otherwise(0L)).as("dup_chars"))
      .withColumn("dup_char_frac",
        round(col("dup_chars").cast("double") / col("n_chars"), 4))
  }

  /** Chunk-level provenance attribution: for each probe document (the
    * added/changed side of a snapshot diff), WHICH baseline documents
    * its content-defined chunks already live in — the lineage view the
    * delta report ([[cdcDelta]]) aggregates away. A v2 doc assembled
    * from two v1 docs (a merge) shows two strong contributors; a v1
    * doc split across several v2 docs shows up transposed; an edited
    * doc shows one dominant contributor (its former self, under any
    * id).
    *
    * Scale: both sides reduce to (id, chunk-hash) at the scan; the
    * join is chunk-keyed. `maxChunkDf` drops chunks present in more
    * baseline docs than the cap from ATTRIBUTION (a ubiquitous
    * boilerplate chunk names no meaningful contributor and would
    * multiply the join by its df); per-probe totals still count every
    * chunk, so `share_frac` is attribution-conservative. */
  def chunkProvenance(baseline: DataFrame, probe: DataFrame,
                      idCol: String, textCol: String,
                      w: Int = 8, mask: Int = 64,
                      maxChunkDf: Int = 100): DataFrame = {
    val b = cdcChunks(baseline, idCol, textCol, w, mask)
      .select(col("id").as("base_id"), md5(col("chunk")).as("ch")).distinct()
    val hot = b.groupBy("ch").agg(count(lit(1)).as("df"))
      .where(col("df") > maxChunkDf).select("ch")
    val bCapped = b.join(hot, Seq("ch"), "left_anti")
    val p = cdcChunks(probe, idCol, textCol, w, mask)
      .select(col("id").as("probe_id"), md5(col("chunk")).as("ch"),
        length(col("chunk")).cast("long").as("ln"))
    val tot = p.groupBy("probe_id").agg(count(lit(1)).as("n_chunks"),
      sum(col("ln")).as("n_chars"))
    p.join(bCapped, "ch")
      .groupBy("probe_id", "base_id")
      .agg(count(lit(1)).as("n_shared_chunks"),
        sum(col("ln")).as("shared_chars"))
      .join(tot.select("probe_id", "n_chars"), "probe_id")
      .withColumn("share_frac",
        round(col("shared_chars").cast("double") / col("n_chars"), 4))
      .select("probe_id", "base_id", "n_shared_chunks", "shared_chars",
        "n_chars", "share_frac")
  }

  /** Maximal shared token spans between document pairs — the pairwise
    * form of exact-substring dedup (cf. Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022, which
    * builds a corpus suffix array; here the anchor index plays that
    * role): every maximal run of ≥ `minLen` consecutive tokens shared
    * verbatim between two documents, with its start position on BOTH
    * sides — what a surgical span-removal or a plagiarism report needs,
    * where the census families (q68/q115/q136) only count.
    *
    * How: stride-1 positional `w`-gram anchors (md5-keyed), equi-join
    * on the anchor hash → match points (pa, pb); along one diagonal
    * (pb − pa constant) consecutive anchor matches are exactly the
    * shared token runs, so a gaps-and-islands pass (window PER (pair,
    * diagonal) — keyed, never global) merges them; a run of g anchors
    * = g + w − 1 shared tokens. Maximality is structural: an island
    * ends exactly where the tokens stop matching.
    *
    * `maxAnchorDf` drops anchors occurring more than that many times
    * corpus-wide from matching (each occurrence pair costs df² join
    * rows — the boilerplate guard). Unlike the Jaccard cap this is
    * SEMANTIC, not just recall: a span crossing a dropped hot anchor
    * splits into two reported spans. Oracles must replay the cap.
    *
    * Scale honesty: the OUTPUT (and the match-point frame behind it)
    * is pair-shaped — a class of g near-identical docs yields
    * g·(g−1)/2 span pairs, quadratic in g, exactly like any pairing
    * operator. The production discipline at 100 TB is to run EXACT
    * dedup first (one survivor per identical class) and span-pair only
    * the survivors; the df cap then bounds what boilerplate can cost,
    * and [[stripSharedSpans]] keeps the per-DOC output linear. */
  def sharedSpans(toks: DataFrame, w: Int = 5, minLen: Int = 8,
                  maxAnchorDf: Option[Int] = Some(1000)): DataFrame = {
    require(minLen >= w, "minLen must be >= anchor width w")
    val pg0 = TextStats.posShinglesFromTokens(toks, w)
      .select(col("id"), col("pos"), md5(col("s")).as("h"))
    val pg = maxAnchorDf match {
      case None => pg0
      case Some(cap) =>
        val hot = pg0.groupBy("h").agg(count(lit(1)).as("df"))
          .where(col("df") > cap).select("h")
        pg0.join(hot, Seq("h"), "left_anti")
    }
    val m = pg.select(col("id").as("id_a"), col("pos").as("pa"), col("h"))
      .join(pg.select(col("id").as("id_b"), col("pos").as("pb"), col("h")), "h")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"),
        (col("pb") - col("pa")).as("diag"))
    val byDiag = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "diag").orderBy("pa")
    m.withColumn("island", col("pa") - row_number().over(byDiag))
      .groupBy("id_a", "id_b", "diag", "island")
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (count(lit(1)) + (w - 1)).as("len_tokens"))
      .where(col("len_tokens") >= minLen)
      .select("id_a", "id_b", "start_a", "start_b", "len_tokens")
  }

  /** Surgical cross-document span removal: rebuild each document with
    * every token run it shares verbatim with an EARLIER (smaller-id)
    * document stripped — the first occurrence corpus-wide survives,
    * later copies lose exactly the shared tokens and keep their novel
    * content. This consumes [[sharedSpans]] (so the anchor-df-cap
    * semantics carry over) and is the remove-the-span counterpart of
    * the keep/drop verdicts the census families emit.
    *
    * Shape: spans → per-doc covered-position mask (explode is bounded
    * by SHARED tokens, not corpus tokens), one (id, pos) anti-join
    * against the positional token stream, one id-keyed ordered
    * reassembly — all keyed shuffles. Every input doc appears in the
    * output (docs with nothing shared pass through unchanged). */
  def stripSharedSpans(toks: DataFrame, w: Int = 5, minLen: Int = 8,
                       maxAnchorDf: Option[Int] = Some(1000)): DataFrame = {
    val spans = sharedSpans(toks, w, minLen, maxAnchorDf)
    val mask = spans.select(col("id_b").as("id"),
        explode(sequence(col("start_b"),
          col("start_b") + col("len_tokens") - 1)).as("pos"))
      .distinct()
    val words = toks.select(col("id"), posexplode(col("ws")).as(Seq("pos", "tok")))
    words.join(mask, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept_tokens"),
        array_join(array_sort(collect_list(struct(col("pos"), col("tok"))))
          .getField("tok"), " ").as("cleaned_text"))
      .join(toks.select(col("id"), size(col("ws")).as("n_tokens")), Seq("id"),
        "right_outer")
      .select(col("id"),
        col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }
}
