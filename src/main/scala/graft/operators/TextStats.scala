package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics operators for training-data quality pipelines:
  * repetition signals (the Gopher/C4 family of quality filters),
  * winnowing document fingerprints (the MOSS scheme), and corpus-level
  * n-gram counts.
  *
  * Scale design: per-document metrics explode to (doc, gram) rows and
  * aggregate back — both aggregates are map-side partial, shuffles are
  * keyed on (doc, gram) / doc so data distributes evenly; corpus-level
  * counts are the classic word-count shape (partial agg then one shuffle
  * keyed on the gram). All hashing is md5-derived so any engine
  * reproduces the exact values.
  *
  * Every operator comes in two forms: `f(df, idCol, textCol, …)` scans
  * and tokenizes the corpus itself, and `fFromTokens(toks, …)` consumes
  * a pre-built [[tokenized]] `(id, ws)` frame. At 100 TB the tokenize
  * pass IS the dominant cost of this family, so a pipeline running
  * several of these operators should materialize [[tokenized]] once
  * (persist locally, or write it as a table) and feed the `FromTokens`
  * forms — one corpus scan instead of one per operator.
  */
object TextStats {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The shared tokenized projection `(id, ws)` — one corpus scan +
    * tokenize that every operator in this family (and
    * [[Dedup.shingleSets]]) derives from. No length filter here: each
    * consumer applies its own `size(ws) >= n` bound so the frame is
    * reusable across n. */
  def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    FanOut(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), TextFunctions.tokens(col("__text")).as("ws"))

  /** Positional word n-grams — NOT deduplicated, with 0-based position:
    * (id, pos, s). The raw stream repetition and fingerprint operators
    * consume. */
  def posShingles(df: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    posShinglesFromTokens(tokenized(df, idCol, textCol), n)

  /** [[posShingles]] over a pre-built [[tokenized]] frame. */
  def posShinglesFromTokens(toks: DataFrame, n: Int): DataFrame = {
    graft.plans.WordNgrams.register(toks.sparkSession)
    toks
      .where(size(col("ws")) >= n)
      // native codegen n-gram expression — total by construction, so no
      // when-guard against pushdown/CSE evaluation on short rows needed
      .select(col("id"), posexplode(
        call_function(graft.plans.WordNgrams.fnName,
          col("ws"), lit(n), lit(1))))
      .toDF("id", "pos", "s")
  }

  /** Per-document repetition quality signals (the Gopher-style filters):
    * token count, distinct-token fraction, and the fraction of all
    * bigrams taken by the single most frequent bigram. High top-bigram
    * fraction or low distinct fraction flags boilerplate/spam for
    * pretraining-corpus filtering. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    repetitionStatsFromTokens(tokenized(df, idCol, textCol))

  /** [[repetitionStats]] over a pre-built [[tokenized]] frame. */
  def repetitionStatsFromTokens(toks0: DataFrame): DataFrame = {
    // ONE tokenize pass: the doc-level stats (token count, distinct
    // fraction) ride along the bigram explode as grouping keys — they
    // are functionally dependent on id, so the shuffle keys stay (id,
    // bigram) / id shaped. A separate `base` branch would tokenize the
    // corpus twice (two full scans at 100 TB). explode_outer keeps
    // bigram-less docs (single-token) as a null row so they surface
    // with top_bigram_frac = 0 without a corpus-side join.
    graft.plans.WordNgrams.register(toks0.sparkSession)
    val toks = toks0
      .where(size(col("ws")) >= 1)
      .select(col("id"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).as("n_distinct"),
        call_function(graft.plans.WordNgrams.fnName,
          col("ws"), lit(2), lit(1)).as("bigrams"))
    toks
      .select(col("id"), col("n_tokens"), col("n_distinct"),
        explode_outer(col("bigrams")).as("s"))
      .groupBy(col("id"), col("n_tokens"), col("n_distinct"), col("s"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id"), col("n_tokens"), col("n_distinct"))
      .agg(max(when(col("s").isNotNull, col("c"))).as("top"),
        sum(when(col("s").isNotNull, col("c"))).as("tot"))
      .select(col("id"), col("n_tokens"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 4)
          .as("frac_distinct"),
        coalesce(round(col("top").cast("double") / col("tot"), 4), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    * positional n-gram (48-bit md5 prefix), slide a window of `w`
    * consecutive hashes, keep the min of each window; a document's
    * fingerprint set is the distinct selected hashes. Guarantees any
    * shared run of ≥ n + w - 1 tokens yields a shared fingerprint —
    * positional near-dup detection that whole-set Jaccard can't give.
    *
    * One window pass per document partition (keyed shuffle on doc id),
    * then a per-doc aggregate — no pairwise work. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, w: Int = 4): DataFrame =
    winnowingFromTokens(tokenized(df, idCol, textCol), n, w)

  /** The winnowing SELECTION itself: each document's distinct set of
    * selected fingerprints, `(id, fp)` — the shared substrate for the
    * per-doc census ([[winnowingFromTokens]]) and the MOSS pairing
    * ([[graft.operators.Dedup.winnowingPairs]]). */
  def winnowedFps(toks: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    val hashed = posShinglesFromTokens(toks, n)
      .withColumn("h", conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long"))
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val m = Window.partitionBy(col("id"))
    hashed
      .withColumn("fp", min(col("h")).over(win))
      .withColumn("n_pos", count(lit(1)).over(m))
      .where(col("pos") <= col("n_pos") - w)   // only full windows
      .select(col("id"), col("fp")).distinct()
  }

  /** [[winnowingFingerprints]] over a pre-built [[tokenized]] frame. */
  def winnowingFromTokens(toks: DataFrame, n: Int = 3, w: Int = 4): DataFrame =
    winnowedFps(toks, n, w)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_fp"),
        min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))

  /** Corpus-level top-k n-grams by occurrence (positional, not
    * per-doc-distinct): the word-count shape — map-side partial count,
    * one shuffle on the gram, deterministic (count desc, gram) top-k. */
  def topNgrams(df: DataFrame, idCol: String, textCol: String,
                n: Int, k: Int): DataFrame =
    topNgramsFromTokens(tokenized(df, idCol, textCol), n, k)

  /** [[topNgrams]] over a pre-built [[tokenized]] frame. */
  def topNgramsFromTokens(toks: DataFrame, n: Int, k: Int): DataFrame =
    posShinglesFromTokens(toks, n)
      .groupBy(col("s")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("s"))
      .limit(k)

  /** Non-overlapping `w`-word chunks with 0-based chunk position:
    * (id, pos, s). Only full chunks — a trailing remainder shorter than
    * `w` words is dropped, and documents under `w` words vanish. The
    * span unit for corpus-level exact-span dedup and duplicated-span
    * quality signals. */
  def posChunks(df: DataFrame, idCol: String, textCol: String,
                w: Int): DataFrame =
    posChunksFromTokens(tokenized(df, idCol, textCol), w)

  /** [[posChunks]] over a pre-built [[tokenized]] frame. */
  def posChunksFromTokens(toks: DataFrame, w: Int): DataFrame = {
    graft.plans.WordNgrams.register(toks.sparkSession)
    toks
      .where(size(col("ws")) >= w)
      // stride = n gives the non-overlapping full chunks
      .select(col("id"), posexplode(
        call_function(graft.plans.WordNgrams.fnName,
          col("ws"), lit(w), lit(w))))
      .toDF("id", "pos", "s")
  }

  /** Cross-document duplicated-span fraction (the corpus-level cousin of
    * the Gopher duplicate-n-gram signals, which are within-document),
    * over a [[tokenized]] frame: per document, the fraction of its
    * `w`-word chunks that occur more than once ANYWHERE in the corpus.
    * High fractions flag boilerplate and template families that per-doc
    * repetition stats cannot see.
    *
    * The census is a map-side-partial count joined back on the chunk
    * string (a per-chunk window would pile every occurrence of a
    * boilerplate heavy-hitter chunk onto one task); the re-aggregation
    * shuffles on doc id — both keyed shuffles even, never pairwise. */
  def dupChunkStatsFromTokens(toks: DataFrame, w: Int = 5): DataFrame = {
    val chunks = posChunksFromTokens(toks, w)
    val census = chunks.groupBy(col("s")).agg(count(lit(1)).as("c"))
    chunks.join(census, Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("frac_dup_chunks",
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4))
  }

  /** EXACT corpus heavy hitters — every `n`-gram with ≥ `minCount`
    * occurrences, with exact counts — via a count-min-sketch candidate
    * pass. Pass 1 builds a depth×width CM sketch: d cell rows per
    * occurrence, map-side partial-aggregated down to ≤ d·w cells — the
    * only driver-held state (like the IVF centroid matrix). Pass 2
    * probes the sketch per occurrence as a pure map over broadcast
    * literal arrays, keeps occurrences whose estimate reaches
    * `minCount`, and exact-counts only the survivors. CM never
    * underestimates, so the candidate set is a superset of the true
    * heavy hitters and the final exact filter makes the output EXACT.
    *
    * 100 TB story: the exact q58-style count shuffles the FULL
    * vocabulary (unbounded at web scale); this shuffles two tiny
    * things — the d·w sketch cells and the candidate occurrences —
    * at the cost of reading the corpus twice, the standard
    * sketch-then-verify trade. */
  def heavyHitters(df: DataFrame, idCol: String, textCol: String,
                   n: Int, minCount: Long,
                   depth: Int = 4, width: Int = 1024): DataFrame =
    heavyHittersFromTokens(tokenized(df, idCol, textCol), n, minCount,
      depth, width)

  /** [[heavyHitters]] over a pre-built [[tokenized]] frame. */
  def heavyHittersFromTokens(toks: DataFrame, n: Int, minCount: Long,
                             depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 2 && width >= 2, "need depth, width >= 2")
    val grams = posShinglesFromTokens(toks, n).select(col("s"))
    val cellCols = (0 until depth).map(r =>
      struct(lit(r).as("r"), pmod(xxhash64(lit(r), col("s")), lit(width.toLong)).as("cell")))
    val cells = grams
      .select(explode(array(cellCols: _*)).as("rc"))
      .select(col("rc.r").as("r"), col("rc.cell").as("cell"))
      .groupBy(col("r"), col("cell")).agg(count(lit(1)).as("cnt"))
      .collect()
    val sketch = Array.fill(depth)(new Array[Long](width))
    cells.foreach(row =>
      sketch(row.getInt(0))(row.getLong(1).toInt) = row.getLong(2))
    val est = least((0 until depth).map(r =>
      element_at(typedLit(sketch(r).toSeq),
        (pmod(xxhash64(lit(r), col("s")), lit(width.toLong)) + 1).cast("int"))): _*)
    grams.where(est >= minCount)
      .groupBy(col("s")).agg(count(lit(1)).as("n_occurrences"))
      .where(col("n_occurrences") >= minCount)
  }

  /** Unigram language-model scoring (the CCNet/KenLM-style perplexity
    * quality filter, reduced to its unigram core): train add-one-
    * smoothed token probabilities on the corpus census, score each
    * document by its mean token log-probability. Low scores flag
    * gibberish / vocabulary-outlier documents.
    *
    * 100 TB story: the census is word-count shaped; the LM itself is
    * the top-`maxVocab` census rows BROADCAST back against the token
    * stream (left join), so the corpus never shuffles for scoring —
    * out-of-vocabulary tokens fall to the smoothing floor 1/(N+V),
    * exactly the role of the unk bucket in a real LM. Reads the token
    * stream twice (census pass + scoring pass), the same
    * train-then-apply trade as [[heavyHitters]] — both passes read the
    * shared tokenized frame when the caller persists it. N and V are
    * two driver scalars. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
                     maxVocab: Int = 1 << 20): DataFrame =
    unigramLogProbFromTokens(tokenized(df, idCol, textCol), maxVocab)

  /** [[unigramLogProb]] over a pre-built [[tokenized]] frame. */
  def unigramLogProbFromTokens(toks0: DataFrame,
                               maxVocab: Int = 1 << 20): DataFrame = {
    val toks = toks0.select(col("id"), explode(col("ws")).as("tok"))
    // The census feeds the totals ACTION and the broadcast LM in the
    // returned plan; persisting it keeps the train pass at one corpus
    // scan (the totals action materializes the cache, the lm subtree
    // reads it back). The returned plan references the cache, so the
    // lifecycle is the caller's — same convention as jaccardPairs;
    // plan-identity caching dedups repeated calls in one session.
    val census = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = census.agg(sum(col("c")), count(lit(1))).head()
    // empty corpus: sum(c) is NULL and no row ever reaches the scorer —
    // any positive denominator keeps the (never-evaluated) log total
    val denom = (if (totals.isNullAt(0)) 1L
                 else totals.getLong(0) + totals.getLong(1)).toDouble
    val vocabV = if (totals.isNullAt(0)) 0L else totals.getLong(1)
    // skip the top-N merge when the totals action proves the census fits
    // the cap; driver memory for the broadcast LM ≈ maxVocab × (key +
    // 48 B) — see [[bigramLogProbFromTokens]] for the sizing formula
    val lm =
      if (vocabV <= maxVocab) census
      else census.orderBy(col("c").desc, col("tok")).limit(maxVocab)
    // per-token log-prob quantized to a 1e-4 fixed-point LONG before the
    // per-doc sum: integer sums are order-independent, so the rounded
    // mean is bit-identical across engines/partitionings (a double
    // average rounds differently near 4-dp boundaries depending on
    // summation order). The grid is 1e-4, not 1e-6, because ln itself
    // differs by an ulp across libm implementations — a coarser grid
    // makes a quantization-boundary hit ~100x rarer while staying far
    // below filtering precision.
    toks.join(broadcast(lm), Seq("tok"), "left_outer")
      .withColumn("lq",
        round(log((coalesce(col("c"), lit(0L)) + 1).cast("double") / denom)
          * 1e4).cast("long"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lq")).as("__s"))
      .withColumn("avg_logprob",
        round(col("__s") / (col("n_tokens") * 1e4), 4))
      .drop("__s")
  }

  /** Out-of-vocabulary rate per group: the fraction of token
    * CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3): score every document with the corpus
    * unigram LM ([[unigramLogProbFromTokens]]) and split the corpus
    * into head / middle / tail thirds by LM score — the standard
    * quality partition fed to downstream mixture sampling (train
    * mostly on head, keep a tail slice for diversity).
    *
    * Scale shape: the two tercile thresholds are ONE exact-percentile
    * aggregate collapsing to two driver doubles (bounded model state,
    * like the IVF centroid matrix — at 100 TB you'd swap in
    * `approx_percentile` over a hash-sample, trading the oracle-exact
    * cut for a one-pass sketch); bucketing is then a pure map. The
    * corpus is never globally sorted — the naive ntile() formulation
    * would be a single-partition window, the scale-killer this shape
    * exists to avoid. Deterministic: scores are 4-dp fixed-point
    * ([[unigramLogProbFromTokens]]), thresholds interpolate those
    * rounded doubles identically in any engine (the q38 percentile
    * parity), and boundary docs resolve by `>=` on bit-equal values. */
  def perplexityBucketsFromTokens(toks0: DataFrame,
                                  maxVocab: Int = 1 << 20): DataFrame = {
    // The scored frame feeds the threshold ACTION and the returned
    // bucketed plan; the persist keeps scoring at one pass (the
    // threshold head() materializes the cache, the returned plan reads
    // it back). Caller-owned lifecycle, deduped by plan identity —
    // the unigramLogProbFromTokens census convention.
    val scored = unigramLogProbFromTokens(toks0, maxVocab)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = scored.agg(
      expr("percentile(avg_logprob, 2.0D / 3.0D)"),
      expr("percentile(avg_logprob, 1.0D / 3.0D)")).head()
    // Snap thresholds to the score's own 1e-4 grid: percentile
    // interpolation is a + f·(b−a) here but (1−f)·a + f·b in other
    // engines — an ulp apart when a ≠ b, which flips a whole tie-group
    // when the interpolant lands ON a grid point (k·2/3 hits the grid
    // whenever k ≡ 0 mod 3). With f ∈ {1/3, 2/3} over a 1e-4 grid the
    // exact interpolant's offset within a grid cell is always 0, 1/3 or
    // 2/3 — never the 1/2 rounding boundary — so a 4-dp HALF_UP snap is
    // bit-identical across engines and ulp noise cannot reach a
    // boundary.
    def snap(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (t.isNullAt(0)) scored.withColumn("bucket", lit("head"))
    else scored.withColumn("bucket",
      when(col("avg_logprob") >= snap(t.getDouble(0)), "head")
        .when(col("avg_logprob") >= snap(t.getDouble(1)), "middle")
        .otherwise("tail"))
  }

  /** Out-of-vocabulary rate per group: the fraction of token
    * OCCURRENCES not covered by the top-`vocabSize` corpus vocabulary
    * (by count desc, token asc — deterministic) — the statistic that
    * sizes a tokenizer's vocab and flags domain drift between sources.
    *
    * Census is word-count shaped; the vocabulary is a broadcast
    * left-anti-style membership (left join + null check) against the
    * token stream, so the corpus shuffles only for the per-group
    * aggregate. Same train/apply double read as [[unigramLogProb]] —
    * share the [[tokenized]] frame. */
  def oovRate(toks: DataFrame, groups: DataFrame, groupCol: String,
              vocabSize: Int): DataFrame = {
    val stream = toks
      .join(groups, "id")
      .select(col(groupCol), explode(col("ws")).as("tok"))
    val vocab = toks.select(explode(col("ws")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("__in"))
    stream.join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov") / col("n_tokens"), 4))
  }

  /** KL divergence of each group's token distribution from the whole
    * corpus — KL(P_group ‖ P_corpus) over unigrams, the
    * domain-shift-in-token-space census beside [[groupScoreDrift]]'s
    * score-space KS ("how differently does this source WRITE, not just
    * score"). No smoothing needed: every group token exists in the
    * corpus margin, so the log is always finite. Per-(group, token)
    * contributions are rounded to the 1e-8 nat grid as integers before
    * the order-free sum (the NB/BM25 part idiom). Returns
    * (grp, n_tokens, n_distinct, kl8).
    *
    * Scale: one (group, token) census off the shared tokenized frame;
    * the token margin joins word-keyed (inverted-index scale), group
    * totals broadcast. */
  def groupTokenKl(toks: DataFrame, groups: DataFrame,
                   groupCol: String): DataFrame = {
    val sw = toks.join(groups, "id")
      .select(col(groupCol).as("grp"), explode(col("ws")).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("n_sw"))
    val wt = sw.groupBy("tok").agg(sum(col("n_sw")).as("n_w"))
    val gt = sw.groupBy("grp").agg(sum(col("n_sw")).as("t_g"),
      countDistinct(col("tok")).as("n_distinct"))
    val tt = sw.agg(sum(col("n_sw")).as("t"))
    sw.join(wt, "tok").join(broadcast(gt), "grp").crossJoin(broadcast(tt))
      .withColumn("part8",
        round(lit(1e8) * (col("n_sw").cast("double") / col("t_g"))
          * log((col("n_sw").cast("double") * col("t"))
            / (col("n_w").cast("double") * col("t_g")))).cast("long"))
      .groupBy(col("grp"), col("t_g"), col("n_distinct"))
      .agg(sum(col("part8")).as("kl8"))
      .select(col("grp"), col("t_g").as("n_tokens"), col("n_distinct"),
        col("kl8"))
  }

  /** Flesch reading-ease census per group: the classic
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    * readability score with fully-replayable proxies — sentences =
    * terminal-punctuation runs (min 1), syllables = vowel-group runs
    * in the lowercased text (the standard regex approximation; both
    * are RE2 counts, so every engine counts identically). Scored per
    * document on the 1e-4 grid, then aggregated exactly: doc count,
    * integer-average score, and the share at or above the
    * "plain English" 60-point band — the readability axis of a
    * curation data card. Returns
    * (grp, n_docs, avg_flesch4, n_easy, easy_frac4). */
  def readability(df: DataFrame, groupCol: String,
                  textCol: String): DataFrame = {
    val w = size(split(trim(col(textCol)), "\\s+"))
    val s = greatest(size(regexp_extract_all(col(textCol),
      lit("[.!?]+"), lit(0))), lit(1))
    val y = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0)))
    val flesch = lit(206.835) -
      lit(1.015) * (w.cast("double") / s) -
      lit(84.6) * (y.cast("double") / w)
    df.where(col(textCol).isNotNull && w > 0)
      .select(col(groupCol).as("grp"),
        round(lit(1e4) * flesch).cast("long").as("f4"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("f4"))).cast("long").as("avg_flesch4"),
        sum(when(col("f4") >= 600000L, 1L).otherwise(0L)).as("n_easy"))
      .withColumn("easy_frac4",
        round(lit(1e4) * col("n_easy") / col("n_docs")).cast("long"))
  }

  /** Exact trimmed mean per group on the 1e-4 value grid: drop the
    * k = ⌊trimPct·n⌋ smallest and largest ROWS (integer count trim)
    * and average the middle — the robust location estimate between
    * mean (trim 0) and median (trim ½), immune to the tail garbage
    * that drags a plain average. Computed from value cells with
    * cumulative windows: a cell straddling a trim boundary contributes
    * exactly its in-range row count
    * (min(cum, n−k) − max(cum_before, k))⁺ — pure integers until the
    * final mean division. Returns (grp, n_rows, n_trimmed_each,
    * trimmed_mean4). Groups where 2k ≥ n are dropped (nothing left). */
  def groupTrimmedMean(df: DataFrame, groupCol: String, scoreCol: String,
                       trimPct: Double): DataFrame = {
    require(trimPct >= 0 && trimPct < 0.5, "trimPct must be in [0, 0.5)")
    val rows = df.where(col(scoreCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(scoreCol) * 1e4).cast("long").as("s4"))
    val cells = rows.groupBy("grp", "s4").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s4"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = cells.groupBy("grp").agg(sum(col("n")).as("t"))
      .withColumn("k", floor(col("t") * lit(trimPct)).cast("long"))
    val kept = greatest(lit(0L),
      least(col("cum"), col("t") - col("k"))
        - greatest(col("cum") - col("n"), col("k")))
    cells.withColumn("cum", sum(col("n")).over(w))
      .join(broadcast(tot), "grp")
      .where(col("t") - lit(2L) * col("k") > 0L)
      .groupBy(col("grp"), col("t"), col("k"))
      .agg(sum(col("s4") * kept).as("ts"))
      .select(col("grp"), col("t").as("n_rows"),
        col("k").as("n_trimmed_each"),
        round(col("ts").cast("double") / (col("t") - lit(2L) * col("k")))
          .cast("long").as("trimmed_mean4"))
  }

  /** Chao1 vocabulary-richness estimate per group: observed distinct
    * tokens plus the unseen-mass correction f₁(f₁−1)/(2(f₂+1)) from
    * the singleton (hapax) and doubleton counts — the standard
    * species-richness estimator telling a tokenizer/corpus planner how
    * much vocabulary the sample HASN'T seen yet (observed D is always
    * an undercount). Bias-corrected form, defined even when f₂ = 0.
    * All inputs are exact integers from one (group, token) census;
    * the estimate is one double expression rounded to an integer.
    * Returns (grp, n_tokens, d_observed, f1, f2, chao1). */
  def vocabRichness(toks: DataFrame, groups: DataFrame,
                    groupCol: String): DataFrame = {
    val counts = toks.join(groups, "id")
      .select(col(groupCol).as("grp"), explode(col("ws")).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("c"))
    counts.groupBy("grp")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("d_observed"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1",
        round(col("d_observed") + col("f1").cast("double")
          * (col("f1") - lit(1L)) / (lit(2.0) * (col("f2") + lit(1L))))
          .cast("long"))
  }

  /** Zipf rank-frequency fit per group: OLS slope of ln(freq) on
    * ln(rank) over the ranked token census — the classic corpus
    * sanity diagnostic (natural text slopes ≈ −1; a slope collapsing
    * toward 0 flags boilerplate/template floods, a super-steep one
    * flags vocabulary collapse). Deterministic: rank = row_number by
    * (freq DESC, token ASC); both logs snapped to the 1e4 nat grid as
    * integers; then the exact-integer-sufficient-stats OLS of
    * [[Profiling.groupLinFit]] (slope6 / intercept / r2_4 grids).
    * Restricted to tokens with freq ≥ `minCount` and rank ≤ `maxRank`
    * — the frequent regime where Zipf is linear AND what bounds the
    * per-group ranking window (the census shuffle dominates; the
    * window sees only the ≥ minCount survivors, Zipf-bounded ≪ vocab).
    * Returns (grp, n, slope6, intercept, r2_4). */
  def zipfFit(toks: DataFrame, groups: DataFrame, groupCol: String,
              minCount: Long = 5L, maxRank: Long = 500L): DataFrame = {
    val cen = toks.join(groups, "id")
      .select(col(groupCol).as("grp"), explode(col("ws")).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minCount)
    val xy = cen
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("freq").desc, col("tok").asc)))
      .where(col("rank") <= maxRank)
      .select(col("grp"),
        round(lit(1e4) * log(col("rank"))).cast("long").as("x"),
        round(lit(1e4) * log(col("freq"))).cast("long").as("y"))
    Profiling.groupLinFit(xy, "grp", "x", "y")
  }

  /** Heaps'-law vocabulary-growth fit per group: V(N) ≈ K·N^β, read
    * as the OLS slope of ln(cumulative distinct types) on
    * ln(cumulative tokens) sampled at id-bucket checkpoints — β ≈
    * 0.7–0.8 for natural text; β near 1 means the stream never stops
    * minting types (ids/hashes/noise), β near 0 a template loop. The
    * growth curve is computed WITHOUT per-doc windows: a type's first
    * occurrence is one keyed min (grp, tok → min id), token mass and
    * new-type counts aggregate per (grp, id-bucket of width
    * `bucketWidth`), and the prefix sums run over BUCKET rows only
    * (the two-phase prefix-sum discipline — the window partition is
    * docs/bucketWidth-bounded, never corpus rows; at 100 TB size the
    * bucket so the per-group bucket count stays ~1e5). Checkpoints
    * snap to the 1e4 nat grid; fit via [[Profiling.groupLinFit]].
    * Returns (grp, n, slope6, intercept, r2_4) — n = checkpoint
    * count. */
  def heapsFit(toks: DataFrame, groups: DataFrame, groupCol: String,
               bucketWidth: Long = 64L): DataFrame = {
    val stream = toks.join(groups, "id")
      .select(col(groupCol).as("grp"), col("id"), explode(col("ws")).as("tok"))
    val bkt: Column => Column = idc =>
      floor(idc / lit(bucketWidth.toDouble)).cast("long")
    val tk = stream.groupBy(col("grp"), bkt(col("id")).as("b"))
      .agg(count(lit(1)).as("ntok"))
    val nv = stream.groupBy(col("grp"), col("tok"))
      .agg(min(col("id")).as("fid"))
      .groupBy(col("grp"), bkt(col("fid")).as("b"))
      .agg(count(lit(1)).as("ntypes"))
    val w = Window.partitionBy(col("grp")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val xy = tk.join(nv, Seq("grp", "b"), "left")
      .select(col("grp"), col("b"), col("ntok"),
        coalesce(col("ntypes"), lit(0L)).as("ntypes"))
      .select(col("grp"),
        sum(col("ntok")).over(w).as("cum_tok"),
        sum(col("ntypes")).over(w).as("cum_types"))
      .where(col("cum_tok") > 0L)
      .select(col("grp"),
        round(lit(1e4) * log(col("cum_tok"))).cast("long").as("x"),
        round(lit(1e4) * log(col("cum_types"))).cast("long").as("y"))
    Profiling.groupLinFit(xy, "grp", "x", "y")
  }

  /** Vocabulary coverage curve per group: the share of token mass
    * covered by the top 2^k most frequent types, k = 0..`maxLog2` —
    * the readout that sizes a tokenizer/embedding vocab ("16k types
    * cover 97% of this source"). Rank = (freq DESC, token ASC);
    * cumulative mass via the per-group ranked prefix sum (the q113
    * vocabulary-build window — vocab-sized, Heaps-sublinear in the
    * corpus); share on the exact 1e-4 integer grid (the `div` idiom,
    * no float division). Emits one row per (group, k) with
    * rank 2^k ≤ vocab size. Returns
    * (grp, k, vocab_at_k, cum_tokens, total_tokens, coverage4). */
  def vocabCoverageCurve(toks: DataFrame, groups: DataFrame,
                         groupCol: String, maxLog2: Int = 14): DataFrame = {
    require(maxLog2 >= 0 && maxLog2 <= 30, "maxLog2 out of range")
    val cen = toks.join(groups, "id")
      .select(col(groupCol).as("grp"), explode(col("ws")).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("freq").desc, col("tok").asc)
    val tot = cen.groupBy("grp").agg(sum(col("freq")).as("total_tokens"))
    cen
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(col("freq")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where((0 to maxLog2).map(k => col("rank") === lit(1L << k))
        .reduce(_ || _))
      .join(broadcast(tot), "grp")
      .select(col("grp"),
        round(log(2.0, col("rank"))).cast("int").as("k"),
        col("rank").as("vocab_at_k"), col("cum_tokens"),
        col("total_tokens"),
        expr("(2 * 10000 * cum_tokens + total_tokens) div " +
          "(2 * total_tokens)").as("coverage4"))
  }

  /** Pairwise Jensen–Shannon divergence between group token
    * distributions over the corpus-global top-`vocabSize` vocabulary,
    * add-one smoothed — the SYMMETRIC bounded companion to
    * [[groupTokenKl]] (which scores each group against the corpus
    * margin): the domain-mixing planner's distance matrix ("how far
    * apart are these two sources in token space"). Smoothing over the
    * fixed top-K term space keeps every log finite for BOTH sides;
    * per-term contributions snap to the 1e7 nat grid as integers
    * before the order-free sum (the [[groupTokenKl]] part idiom).
    * JSD is in nats, ≤ ln 2 ≈ 0.693; jsd7 = round(1e7·JSD).
    *
    * Scale: one (group, token) census; the top-K vocab is a
    * TakeOrdered broadcast; the pair matrix is (groups² × K) rows —
    * groups is a handful of sources, never corpus-sized. Returns
    * (grp_a, grp_b, n_terms, jsd7) for grp_a < grp_b. */
  def jsDivergencePairs(toks: DataFrame, groups: DataFrame,
                        groupCol: String,
                        vocabSize: Int = 1024): DataFrame = {
    val sw = toks.join(groups, "id")
      .select(col(groupCol).as("grp"), explode(col("ws")).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("c"))
    val vocab = sw.groupBy("tok").agg(sum(col("c")).as("gc"))
      .orderBy(col("gc").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"))
    val grps = sw.select(col("grp")).distinct()
    val cells = grps.crossJoin(broadcast(vocab))
      .join(sw, Seq("grp", "tok"), "left")
      .select(col("grp"), col("tok"), coalesce(col("c"), lit(0L)).as("c"))
    val ns = cells.groupBy("grp").agg(sum(col("c")).as("n"))
    val p = cells.join(broadcast(ns), "grp")
      .select(col("grp"), col("tok"),
        ((col("c") + lit(1.0)) / (col("n") + lit(vocabSize.toLong)))
          .as("p"))
    val pa = p.select(col("grp").as("grp_a"), col("tok"), col("p").as("pa"))
    val pb = p.select(col("grp").as("grp_b"), col("tok"), col("p").as("pb"))
    pa.join(pb, Seq("tok"))
      .where(col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"),
        round(lit(1e7) * lit(0.5) *
          (col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb")))
            + col("pb") * log(lit(2.0) * col("pb")
              / (col("pa") + col("pb"))))).cast("long").as("t7"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_terms"), sum(col("t7")).as("jsd7"))
  }

  /** Per-group PII-pattern census — the MEASUREMENT face of
    * [[graft.functions.TextFunctions.redact]]'s scrub: for each
    * (group, pattern), how many rows contain a match and how many
    * matches total — the report a privacy review reads BEFORE deciding
    * to redact, and the regression gate that catches a feed suddenly
    * leaking addresses. One pure-map pattern scan per pattern (no
    * shuffle until the tiny census aggregate); patterns are
    * RE2-compatible so any engine counts identically. Returns
    * (grp, pattern, n_rows, n_rows_with, n_matches). */
  def piiCensus(df: DataFrame, groupCol: String, textCol: String,
                patterns: Seq[(String, String)]): DataFrame = {
    require(patterns.nonEmpty, "need at least one pattern")
    val base = df.where(col(textCol).isNotNull)
      .select(col(groupCol).as("grp"), col(textCol).as("t"))
    patterns.map { case (name, p) =>
      val m = size(regexp_extract_all(col("t"), lit(p), lit(0)))
      base.select(col("grp"), lit(name).as("pattern"),
        when(m > 0, 1L).otherwise(0L).as("hit"), m.cast("long").as("m"))
    }.reduce(_ unionAll _)
      .groupBy("grp", "pattern")
      .agg(count(lit(1)).as("n_rows"), sum(col("hit")).as("n_rows_with"),
        sum(col("m")).as("n_matches"))
  }

  /** Per-group population stability index against the all-groups mix,
    * from a pre-aggregated grid-cell histogram `(grp, s4, n)` — the
    * PSI face of the mergeable-histogram contract beside
    * [[groupScoreDriftFromCells]]'s KS: KS reports the worst single
    * CDF gap, PSI integrates mismatch over the whole distribution
    * (the deployed-model drift convention, with its 0.1/0.25
    * rules of thumb). Cells ride the corpus jump spine; add-half
    * smoothing keeps group-absent cells finite; per-cell parts round
    * to the 1e-8 grid as integers before the order-free sum. Returns
    * (grp, n_rows, psi8). */
  def groupPsiFromCells(cellsIn: DataFrame): DataFrame = {
    val gCells = cellsIn.select(col("grp"), col("s4"), col("n").as("n_g"))
    val aCells = gCells.groupBy("s4").agg(sum(col("n_g")).as("n_all"))
    val spine = gCells.select("grp").distinct()
      .join(broadcast(aCells), lit(true))
    val cells = spine
      .join(gCells.select(col("grp"), col("s4"), col("n_g")),
        Seq("grp", "s4"), "left")
      .select(col("grp"), col("s4"),
        coalesce(col("n_g"), lit(0L)).as("n_g"), col("n_all"))
    val totals = gCells.groupBy("grp").agg(sum(col("n_g")).as("t_g"))
      .crossJoin(broadcast(gCells.agg(sum(col("n_g")).as("t_all"))))
      .crossJoin(broadcast(aCells.agg(count(lit(1)).as("b"))))
    val p = (col("n_g") + lit(0.5)) / (col("t_g") + lit(0.5) * col("b"))
    val q = (col("n_all") + lit(0.5)) / (col("t_all") + lit(0.5) * col("b"))
    cells.join(totals, "grp")
      .withColumn("part8",
        round(lit(1e8) * ((p - q) * log(p / q))).cast("long"))
      .groupBy(col("grp"), col("t_g"))
      .agg(sum(col("part8")).as("psi8"))
      .select(col("grp"), col("t_g").as("n_rows"), col("psi8"))
  }

  /** Robust length-outlier filter: flag documents whose `lenCol`
    * deviates from the corpus MEDIAN by more than `k` MADs (median
    * absolute deviation) — the robust-statistics cousin of the fixed
    * min/max length rules in [[qualityCascade]]; medians don't move
    * when the corpus already contains the junk being hunted, unlike
    * mean/stddev. Emits `robust_z` = |x − median| / MAD (null when
    * MAD = 0) and the flag.
    *
    * Two-pass: median of the length, then median of the absolute
    * deviations; each scalar is a 1-row broadcast back into the plan,
    * so the corpus never shuffles. Spark's exact `median` aggregates
    * per-VALUE counts — bounded by the length domain (not the corpus),
    * so fine at 100 TB for integer lengths; for unbounded continuous
    * columns use `percentile_approx` instead. */
  def lengthOutliers(df: DataFrame, idCol: String, lenCol: String,
                     k: Double = 3.0): DataFrame = {
    require(k > 0, "k must be positive")
    val base = df.select(col(idCol).as("id"), col(lenCol).cast("double").as("x"))
    val med = base.agg(median(col("x")).as("med"))
    val dev = base.crossJoin(broadcast(med))
      .withColumn("ad", abs(col("x") - col("med")))
    val mad = dev.agg(median(col("ad")).as("mad"))
    dev.crossJoin(broadcast(mad))
      .select(col("id"), col("x").cast("long").as(lenCol),
        round(col("ad") / nullif(col("mad"), lit(0.0)), 4).as("robust_z"),
        (col("ad") > lit(k) * col("mad")).as("is_outlier"))
  }

  /** Interpolated bigram LM scoring — one order above
    * [[unigramLogProb]], the closer analog of the CCNet/KenLM
    * perplexity filter: each within-document bigram (w1, w2) scores
    * `log(λ·p(w2|w1) + (1−λ)·p(w2))` with add-one-smoothed conditional
    * and unigram probabilities trained on the corpus census; a
    * document's score is its mean over bigram positions. Catches
    * word-salad documents whose unigram mix looks normal.
    *
    * Same scale shape as the unigram: two word-count-shaped censuses
    * (unigram + bigram), both top-`maxVocab` BROADCAST against the
    * bigram stream, corpus shuffles only for the per-doc aggregate.
    * Per-position log-probs quantize to the 1e-4 fixed-point grid
    * before the sum (order-independent, libm-ulp-proof — see
    * [[unigramLogProbFromTokens]]).
    *
    * Driver memory: each broadcast LM is built on the driver, so it
    * costs ≈ maxVocab × (avg key bytes + 8 B count + ~40 B row
    * overhead) of driver heap — ~60 MB per million entries at typical
    * word/bigram lengths, ×2 tables (unigram + bigram). Size maxVocab
    * to the driver, not the corpus: the default 2^20 is ~120 MB total.
    * Truncation is part of the operator's CONTRACT, not an engine
    * artifact — the census keeps the top-maxVocab entries by
    * (count DESC, key ASC), truncated bigrams fall to the cb = 0
    * smoothing floor (the unk semantics one order up), and the q90
    * oracle replays the same deterministic truncation, so results
    * hash-match at any census size. A warning is logged when a census
    * actually hits the cap, because the LM's quality semantics coarsen
    * there. The top-N merge is SKIPPED (plain broadcast of the full
    * census) when the totals action proves the census fits the cap —
    * the common case everywhere below web scale. */
  def bigramLogProbFromTokens(toks0: DataFrame, lambda: Double = 0.7,
                              maxVocab: Int = 1 << 20): DataFrame = {
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    graft.plans.WordNgrams.register(toks0.sparkSession)
    val toks = toks0.select(col("id"), explode(col("ws")).as("tok"))
    val uniCensus = toks.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = uniCensus.agg(sum(col("cu")), count(lit(1))).head()
    val denomU = (if (totals.isNullAt(0)) 1L
                  else totals.getLong(0) + totals.getLong(1)).toDouble
    val vocabV = (if (totals.isNullAt(0)) 1L else totals.getLong(1)).toDouble
    if (vocabV > maxVocab) logger.warn(
      s"bigram LM: unigram census ${vocabV.toLong} > maxVocab $maxVocab — " +
        "truncating to the top entries; tail tokens score at the unk floor")
    val uni =
      if (vocabV <= maxVocab) uniCensus
      else uniCensus.orderBy(col("cu").desc, col("tok")).limit(maxVocab)
    val bigrams = toks0
      .where(size(col("ws")) >= 2)
      .select(col("id"), explode(
        call_function(graft.plans.WordNgrams.fnName,
          col("ws"), lit(2), lit(1))).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
    val biCensusFull = bigrams.groupBy(col("g")).agg(count(lit(1)).as("cb"))
    // distinct bigrams ≤ (distinct unigrams)², so a small unigram vocab
    // PROVES the bigram census fits and the top-N merge can be skipped
    // without a second counting action
    val biCensus =
      if (vocabV * vocabV <= maxVocab) biCensusFull
      else {
        logger.warn(s"bigram LM: bigram census may exceed maxVocab $maxVocab " +
          "(unigram vocab " + vocabV.toLong + ") — keeping the top entries " +
          "by (count DESC, bigram ASC); truncated bigrams take the cb = 0 floor")
        biCensusFull.orderBy(col("cb").desc, col("g")).limit(maxVocab)
      }
    // p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V); p(w2) = (c(w2) + 1) / (N + V)
    bigrams
      .join(broadcast(biCensus), Seq("g"), "left_outer")
      .join(broadcast(uni.select(col("tok").as("w1"), col("cu").as("cu1"))),
        Seq("w1"), "left_outer")
      .join(broadcast(uni.select(col("tok").as("w2"), col("cu").as("cu2"))),
        Seq("w2"), "left_outer")
      .withColumn("pb",
        (coalesce(col("cb"), lit(0L)) + 1).cast("double") /
          (coalesce(col("cu1"), lit(0L)).cast("double") + vocabV))
      .withColumn("pu",
        (coalesce(col("cu2"), lit(0L)) + 1).cast("double") / denomU)
      .withColumn("lq",
        round(log(lit(lambda) * col("pb") + lit(1 - lambda) * col("pu"))
          * 1e4).cast("long"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lq")).as("__s"))
      .withColumn("avg_logprob2",
        round(col("__s") / (col("n_bigrams") * 1e4), 4))
      .drop("__s")
  }

  /** Interpolated Kneser–Ney bigram scoring — the production n-gram
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1999's interpolated
    * form), one rung above [[bigramLogProbFromTokens]]'s add-one
    * interpolation: p(w2|w1) = (max(c(w1w2) − D, 0) + D·N₁₊(w1·)·
    * p_cont(w2)) / c(w1·) with the CONTINUATION probability
    * p_cont(w2) = (N₁₊(·w2) + 1) / (T + V) — how many distinct
    * contexts w2 follows, not how often it occurs, which is exactly
    * what demotes "Francisco" (frequent, one context). Add-one on the
    * continuation and a p_cont fallback for unseen left contexts keep
    * every log finite. All statistics are TYPE counts off the bigram
    * census (cl = Σ_w2 c(w1w2), N₁₊ row counts, T = census rows,
    * V = unigram vocab), so the whole model is integer-derived and
    * replayable; per-position log-probs snap to the 1e-4 grid before
    * the order-free per-doc sum.
    *
    * Scale contract identical to [[bigramLogProbFromTokens]]: the
    * bigram census (and the left/right type tables derived FROM the
    * truncated census, so the oracle replays truncation) broadcast;
    * the corpus shuffles only for the per-doc aggregate. Returns
    * (id, n_bigrams, avg_logprob_kn). */
  def knBigramLogProbFromTokens(toks0: DataFrame, discount: Double = 0.75,
                                maxVocab: Int = 1 << 20): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0, 1)")
    graft.plans.WordNgrams.register(toks0.sparkSession)
    val toks = toks0.select(col("id"), explode(col("ws")).as("tok"))
    val vocabV = toks.select(col("tok")).distinct().count()
    val bigrams = toks0
      .where(size(col("ws")) >= 2)
      .select(col("id"), explode(
        call_function(graft.plans.WordNgrams.fnName,
          col("ws"), lit(2), lit(1))).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
    val biCensusFull = bigrams.groupBy(col("g")).agg(count(lit(1)).as("cb"))
    val biCensus =
      (if (vocabV.toDouble * vocabV.toDouble <= maxVocab) biCensusFull
       else {
         logger.warn(s"KN LM: bigram census may exceed maxVocab $maxVocab " +
           "— keeping the top (count DESC, bigram ASC) entries; truncated " +
           "bigrams take the continuation floor")
         biCensusFull.orderBy(col("cb").desc, col("g")).limit(maxVocab)
       }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val typesT = biCensus.count()
    val lf = biCensus
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("cb")).as("cl"), count(lit(1)).as("n1p"))
    val rc = biCensus
      .groupBy(substring_index(col("g"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("nc"))
    val pcont = (coalesce(col("nc"), lit(0L)) + lit(1.0)) /
      lit((typesT + vocabV).toDouble)
    val pkn = when(col("cl").isNull, pcont)
      .otherwise((greatest(coalesce(col("cb"), lit(0L)) - lit(discount),
        lit(0.0)) + lit(discount) * col("n1p") * pcont) / col("cl"))
    val out = bigrams
      .join(broadcast(biCensus), Seq("g"), "left_outer")
      .join(broadcast(lf), Seq("w1"), "left_outer")
      .join(broadcast(rc), Seq("w2"), "left_outer")
      .withColumn("lq", round(log(pkn) * 1e4).cast("long"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lq")).as("__s"))
      .withColumn("avg_logprob_kn",
        round(col("__s") / (col("n_bigrams") * 1e4), 4))
      .drop("__s")
    out
  }

  /** First-failing-rule quality cascade — the Gopher-style rule stack
    * over [[repetitionStats]] signals: token-count bounds, minimum
    * distinct-token fraction, maximum top-bigram fraction. Emits every
    * document with its verdict and the FIRST rule it failed (real
    * pipelines keep per-rule drop tallies and audit samples, so drops
    * are annotated, not discarded). Same shuffle shape as
    * [[repetitionStats]]; the cascade itself is a pure map. */
  def qualityCascade(df: DataFrame, idCol: String, textCol: String,
                     minTokens: Long = 15, maxTokens: Long = 100000,
                     minFracDistinct: Double = 0.35,
                     maxTopBigramFrac: Double = 0.1): DataFrame =
    qualityCascadeFromTokens(tokenized(df, idCol, textCol),
      minTokens, maxTokens, minFracDistinct, maxTopBigramFrac)

  /** [[qualityCascade]] over a pre-built [[tokenized]] frame. */
  def qualityCascadeFromTokens(toks: DataFrame,
                               minTokens: Long = 15, maxTokens: Long = 100000,
                               minFracDistinct: Double = 0.35,
                               maxTopBigramFrac: Double = 0.1): DataFrame =
    repetitionStatsFromTokens(toks)
      .withColumn("reason",
        when(col("n_tokens") < minTokens, lit("too_short"))
          .when(col("n_tokens") > maxTokens, lit("too_long"))
          .when(col("frac_distinct") < minFracDistinct, lit("low_diversity"))
          .when(col("top_bigram_frac") > maxTopBigramFrac, lit("repetitive"))
          .otherwise(lit("")))
      .withColumn("keep", col("reason") === "")

  /** Vocabulary drift between two corpus snapshots: per term, document
    * frequency in each version and a status verdict — `new` (entered
    * the corpus), `gone` (left it), `stable` otherwise — plus the df
    * delta. The ingest-monitoring alarm for the [[graft.operators.Dedup
    * .snapshotDiff]] family: a crawler config change or an injection
    * shows up as a burst of `new` terms / df swings long before any
    * per-document signal trips.
    *
    * Scale: each side is one (term)-keyed distinct-doc census (the
    * word-count shape, map-side partial), then a term-keyed full-outer
    * join of two vocab-sized frames — the corpus shuffles once per
    * side, the join never touches it. */
  def vocabDrift(oldToks: DataFrame, newToks: DataFrame): DataFrame = {
    def census(toks: DataFrame) = toks
      .select(col("id"), explode(col("ws")).as("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    census(oldToks).select(col("term"), col("df").as("df_old"))
      .join(census(newToks).select(col("term"), col("df").as("df_new")),
        Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("df_old"), lit(0L)).as("df_old"),
        coalesce(col("df_new"), lit(0L)).as("df_new"))
      .withColumn("status",
        when(col("df_old") === 0, lit("new"))
          .when(col("df_new") === 0, lit("gone"))
          .otherwise(lit("stable")))
      .withColumn("df_delta", col("df_new") - col("df_old"))
  }

  /** Character-distribution entropy per document (see
    * [[graft.plans.CharStats]]): the gibberish / repeated-character /
    * keyboard-mash detector the token-level signals miss — a doc of
    * one repeated character has entropy 0 no matter how many "tokens"
    * it splits into. `entropy4` is the integer 1e-4-grid total (the
    * cross-engine-exact value); `entropy` the nats view of the same
    * integer. Empty docs are excluded (no distribution to measure).
    * Pure fused map, zero shuffle — never explodes characters. */
  def charEntropyStats(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    graft.plans.CharStats.register(df.sparkSession)
    df.where(length(col(textCol)) > 0)
      .select(col(idCol).as("id"),
        call_function(graft.plans.CharStats.fnName, col(textCol)).as("st"))
      .select(col("id"),
        col("st.n_chars").cast("long").as("n_chars"),
        col("st.n_distinct").cast("long").as("n_distinct"),
        col("st.entropy4").as("entropy4"),
        (col("st.entropy4") / 10000.0).as("entropy"))
  }

  /** Per-group distribution drift: the exact Kolmogorov–Smirnov
    * distance between each group's score distribution and the whole
    * corpus's, computed on the 1e-4 integer grid — which sources are
    * quality-skewed relative to the corpus (a miscalibrated feed, a
    * spam domain, a broken extractor) in ONE table, with none of the
    * binning arbitrariness of a histogram eyeball.
    *
    * Exactness without a sort: scores live on the grid, so each
    * group's CDF is a cumulative window over its (group, cell) counts
    * — group-keyed, cell-bounded (≤ grid cells per group, never row
    * count). The corpus CDF must be evaluated AT EVERY group's cells
    * (the sup runs over the union of jump points; a group missing a
    * corpus cell still diverges there), so the corpus cell frame
    * cross-applies per group via the same (group, cell) spine before
    * the windows run. ks4 = max |cdf_g − cdf_all| · 1e4, floor'd to
    * the grid. */
  def groupScoreDrift(df: DataFrame, groupCol: String,
                      scoreCol: String): DataFrame = {
    val s4 = round(col(scoreCol) * 1e4).cast("long").as("s4")
    val rows = df.select(col(groupCol).as("grp"), s4)
    groupScoreDriftFromCells(
      rows.groupBy("grp", "s4").agg(count(lit(1)).as("n")))
  }

  /** [[groupScoreDrift]] from a pre-aggregated grid-cell histogram
    * `(grp, s4, n)` — the drift face of the mergeable-histogram
    * contract ([[groupQuantilesFromCells]]): the corpus side is
    * derived by summing the per-group cells, so per-batch histograms
    * can answer "which batch shifted the distribution" without
    * re-scanning ingested rows. */
  def groupScoreDriftFromCells(cellsIn: DataFrame): DataFrame = {
    val gCells = cellsIn.select(col("grp"), col("s4"), col("n").as("n_g"))
    val aCells = gCells.groupBy("s4").agg(sum(col("n_g")).as("n_all"))
    // spine: every (group, corpus-jump-cell) pair, so both CDFs are
    // evaluated at every jump point of either distribution
    val spine = gCells.select("grp").distinct()
      .join(broadcast(aCells.select("s4")), lit(true))
    val cells = spine
      .join(gCells, Seq("grp", "s4"), "left")
      .join(aCells, Seq("s4"))
      .select(col("grp"), col("s4"),
        coalesce(col("n_g"), lit(0L)).as("n_g"), col("n_all"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s4"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val totals = gCells.groupBy("grp").agg(sum(col("n_g")).as("t_g"))
      .crossJoin(broadcast(
        gCells.agg(sum(col("n_g")).as("t_all"))))
    cells
      .withColumn("c_g", sum(col("n_g")).over(wg))
      .withColumn("c_all", sum(col("n_all")).over(wg))
      .join(totals, "grp")
      .withColumn("diff4",
        abs(round(lit(1e4) * col("c_g") / col("t_g")).cast("long")
          - round(lit(1e4) * col("c_all") / col("t_all")).cast("long")))
      .groupBy(col("grp"), col("t_g"))
      .agg(max(col("diff4")).as("ks4"))
      .select(col("grp"), col("t_g").as("n_rows"), col("ks4"))
  }

  /** Per-group robust outlier census: median/MAD outlier counts for a
    * grid score WITHIN each group — the per-source form of the q81
    * robust-z filter (a source whose own distribution is tight can
    * hide corpus-level outliers and vice versa). Median and MAD use
    * the explicit LOWER-median convention on the 1e-4 grid (smallest
    * cell with 2·cum ≥ n) computed from cumulative windows over
    * GRID-BOUNDED (group, cell) frames — deterministic in every
    * engine, no interpolation ambiguity, no sort of the rows. A group
    * with MAD 0 (over half its mass on one cell) reports outliers
    * against the k·MAD = 0 bound — any off-median row counts, the
    * standard degenerate-MAD behavior. */
  def groupRobustOutliers(df: DataFrame, groupCol: String,
                          scoreCol: String, k: Int = 3): DataFrame = {
    val rows = df.select(col(groupCol).as("grp"),
      round(col(scoreCol) * 1e4).cast("long").as("s4"))
    val tg = rows.groupBy("grp").agg(count(lit(1)).as("t_g"))
    def lowerMedian(cells: DataFrame, valCol: String, outCol: String)
        : DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col(valCol))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      cells.withColumn("cum", sum(col("n")).over(w))
        .join(tg, "grp")
        .where(col("cum") * 2 >= col("t_g"))
        .groupBy("grp").agg(min(col(valCol)).as(outCol))
    }
    val med = lowerMedian(
      rows.groupBy("grp", "s4").agg(count(lit(1)).as("n")), "s4", "med4")
    val devCells = rows.join(med, "grp")
      .select(col("grp"), abs(col("s4") - col("med4")).as("d4"))
      .groupBy("grp", "d4").agg(count(lit(1)).as("n"))
    val mad = lowerMedian(devCells, "d4", "mad4")
    rows.join(med, "grp").join(mad, "grp").join(tg, "grp")
      .groupBy(col("grp"), col("t_g"), col("med4"), col("mad4"))
      .agg(sum(when(abs(col("s4") - col("med4")) > lit(k) * col("mad4"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col("grp"), col("t_g").as("n_rows"), col("med4"), col("mad4"),
        col("n_outliers"))
  }

  /** Per-group EXACT quantiles on the grid: for each group, the
    * lower-quantile cells at the requested per-10000 points (2500 =
    * p25) — same cumulative-window-over-grid-cells machinery as
    * [[groupRobustOutliers]], generalized from the median to any
    * quantile vector in ONE pass (the quantile points ride the
    * cumulative as a literal array; no per-quantile scan, no sort, no
    * interpolation ambiguity). The exact replacement for
    * `approx_percentile` wherever scores live on a bounded grid. */
  def groupQuantiles(df: DataFrame, groupCol: String, scoreCol: String,
                     qs: Seq[Int]): DataFrame = {
    val rows = df.select(col(groupCol).as("grp"),
      round(col(scoreCol) * 1e4).cast("long").as("s4"))
    groupQuantilesFromCells(
      rows.groupBy("grp", "s4").agg(count(lit(1)).as("n")), qs)
  }

  /** [[groupQuantiles]] from a pre-aggregated grid-cell histogram
    * `(grp, s4, n)`. The cells are EXACT and MERGEABLE (merging two
    * histograms = summing cell counts), so this is the report side of
    * any incremental path that accumulates per-batch histograms:
    * quantiles come from the cell table alone — the ingested rows are
    * never re-scanned, and the answer is identical to a single
    * whole-corpus pass (the merge law q177 hash-matches). */
  def groupQuantilesFromCells(cells: DataFrame, qs: Seq[Int]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 10000),
      "quantile points are per-10000 in [1, 10000]")
    val tg = cells.groupBy("grp").agg(sum(col("n")).as("t_g"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s4"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val cum = cells
      .withColumn("cum", sum(col("n")).over(w))
      .join(tg, "grp")
    val aggs = qs.map(q =>
      min(when(col("cum") * 10000 >= col("t_g") * q, col("s4"))).as(s"p$q"))
    cum.groupBy("grp", "t_g")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("grp") +: col("t_g").as("n_rows") +:
        qs.map(q => col(s"p$q")): _*)
  }

  /** Collocation mining: the corpus's top-k adjacent word pairs by
    * pointwise mutual information, PMI = ln(P(ab) / (P(a)·P(b))) with
    * P(ab) = c_ab/B (bigram mass) and P(w) = c_w/T (token mass) —
    * the classic "strongly associated phrase" detector (church/hanks
    * collocations; feeds tokenizer-merge candidates and stop-phrase
    * lists). `minCount` floors the bigram count: PMI is notoriously
    * dominated by hapax pairs (two words that co-occur once have
    * maximal PMI), so rare pairs are excluded BEFORE ranking.
    *
    * Grid determinism: the PMI argument is assembled as one double
    * ratio from exact integer counts in a fixed order, then ln is
    * snapped to the 1e-4 grid (the BM25 idiom) — engines replay
    * bit-identically. Two word-count-shaped censuses (map-side
    * partials), two vocab-sized joins, TakeOrdered k — the corpus
    * never shuffles whole. */
  def collocations(toks: DataFrame, minCount: Int = 5,
                   k: Int = 50): DataFrame = {
    graft.plans.WordNgrams.register(toks.sparkSession)
    val bigrams = toks.where(size(col("ws")) >= 2)
      .select(explode(call_function(graft.plans.WordNgrams.fnName,
        col("ws"), lit(2), lit(1))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    val unigrams = toks
      .select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val totals = toks.agg(
      sum(size(col("ws")).cast("long")).as("t_tok"),
      sum(greatest(size(col("ws")) - 1, lit(0)).cast("long")).as("t_bg"))
    bigrams
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(unigrams.select(col("w").as("w1"), col("c_w").as("c_a")), "w1")
      .join(unigrams.select(col("w").as("w2"), col("c_w").as("c_b")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi4",
        round(lit(1e4) * log((col("c_ab").cast("double") * col("t_tok")
          * col("t_tok"))
          / (col("t_bg").cast("double") * col("c_a") * col("c_b"))))
          .cast("long"))
      .orderBy(col("pmi4").desc, col("bg"))
      .limit(k)
      .select(col("bg"), col("c_ab"), col("c_a"), col("c_b"), col("pmi4"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP '04):
    * PageRank over the word ADJACENCY graph — vertices are the
    * corpus's distinct tokens, an (undirected, unweighted) edge links
    * words that appear adjacent anywhere in the corpus, and
    * [[graft.operators.GraphOps.pageRank]]'s grid-exact iterations
    * rank them. Words central to many contexts rank high; where
    * [[collocations]] scores PAIR surprise (PMI), this scores WORD
    * importance through the whole graph's structure. Top-k by
    * (rank DESC, word).
    *
    * Scale: the edge list is the DISTINCT bigram census
    * (vocabulary²-bounded in principle, Zipf-bounded in practice —
    * never corpus-sized after the distinct), vertices are the
    * vocabulary, and each PageRank iteration is the audited
    * edge⋈rank join. The corpus contributes one tokenize +
    * bigram-census pass. */
  def textRankFromTokens(toks: DataFrame, iters: Int = 3,
                         damping: Double = 0.85, k: Int = 50): DataFrame = {
    graft.plans.WordNgrams.register(toks.sparkSession)
    val adj = toks.where(size(col("ws")) >= 2)
      .select(explode(call_function(graft.plans.WordNgrams.fnName,
        col("ws"), lit(2), lit(1))).as("bg"))
      .distinct()
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .where(col("w1") =!= col("w2"))
      .select(col("w1"), col("w2"))
    val edges = adj.select(col("w1").as("src"), col("w2").as("dst"))
      .unionAll(adj.select(col("w2").as("src"), col("w1").as("dst")))
      .distinct()
    val vertices = toks.select(explode(col("ws")).as("id")).distinct()
    GraphOps.pageRank(vertices, edges, iters, damping)
      .orderBy(col("p").desc, col("id"))
      .limit(k)
      .select(col("id").as("word"), col("p").as("textrank"))
  }
}
