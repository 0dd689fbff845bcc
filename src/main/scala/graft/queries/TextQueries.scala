package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Text analysis over `documents`: language ID, quality scoring, token
  * counting, fingerprinting. Oracle SQL is generated from the same
  * stopword tables / formulas as the Column implementations.
  */
object TextQueries {

  private def listSql(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB list literal of the English stopword table (shared with the
    * q77 capstone's inline quality formula). */
  private[queries] val stopListSql: String = listSql(TextFunctions.EnStopwords)

  private val hitsSql: String => String = { lang =>
    val words = TextFunctions.LangStopwords.toMap.apply(lang)
    s"len(list_filter(ws, x -> list_contains(${listSql(words)}, x)))"
  }

  /** Stopword-table language ID with fixed tie priority en>de>es>fr. */
  val q27 = GQuery("q27_langid",
    s"""WITH t AS (
       |  SELECT doc_id, lang AS lang_meta,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, lang_meta,
       |    ${hitsSql("en")} AS s_en,
       |    ${hitsSql("de")} AS s_de,
       |    ${hitsSql("es")} AS s_es,
       |    ${hitsSql("fr")} AS s_fr
       |  FROM t)
       |SELECT doc_id, lang_meta,
       |  CASE
       |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
       |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
       |    WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
       |    WHEN s_fr > 0 THEN 'fr'
       |    ELSE 'unknown' END AS lang_pred
       |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("lang_meta"),
        TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Cheap composite quality score (length sweet-spot + stopword density
    * + word-length sanity). */
  /** Shared oracle CTE chain ending in
    * `q(doc_id, n_tokens, quality)` — the q28 score, reused by the
    * token-budget selection (q70). [[qualityCtesOver]] parameterizes the
    * source so the same formula can score DERIVED text (e.g. the
    * boilerplate-cleaned corpus in q118); `src` must provide
    * (doc_id, text, n_chars). */
  private[queries] def qualityCtesOver(src: String): String =
    s"""t AS (
       |  SELECT doc_id, text, n_chars,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM $src),
       |c AS (
       |  SELECT doc_id, n_chars,
       |    len(ws) AS n_tok,
       |    CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0
       |         WHEN n_chars < 100 THEN n_chars / 100.0
       |         ELSE 5000.0 / n_chars END AS len_score,
       |    least(CASE WHEN len(ws) > 0
       |      THEN len(list_filter(ws, x -> list_contains(${listSql(TextFunctions.EnStopwords)}, x))) * 1.0 / len(ws)
       |      ELSE 0.0 END * 5.0, 1.0) AS stop_score,
       |    CASE WHEN len(ws) > 0 AND length(text) * 1.0 / len(ws) BETWEEN 3.0 AND 10.0
       |         THEN 1.0 ELSE 0.5 END AS wl_score
       |  FROM t),
       |q AS (
       |  SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
       |    round((len_score + stop_score + wl_score) / 3.0, 4) AS quality
       |  FROM c)""".stripMargin

  private[queries] val qualityCte: String = qualityCtesOver("documents")

  val q28 = GQuery("q28_quality_score",
    s"""WITH $qualityCte
       |SELECT doc_id, n_tokens, quality
       |FROM q ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Whitespace + BPE-ish token counts. */
  val q29 = GQuery("q29_token_count",
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpeish
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_ws_tokens"),
        TextFunctions.bpeishTokenCount(col("text")).as("n_bpeish"))
      .orderBy(col("doc_id"))
  }

  /** Content + bag fingerprints. */
  val q30 = GQuery("q30_fingerprint",
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  md5(array_to_string(list_sort(list_distinct(
      |    list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS bag_fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"),
        TextFunctions.bagFingerprint(col("text")).as("bag_fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF top-3 terms per doc, fully oracle-checked (ln and the
    * integer tf/df make the score deterministic across engines). */
  val q43 = GQuery("q43_tfidf",
    """WITH tok AS (
      |  SELECT doc_id AS doc, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc, term, count(*) AS tf FROM tok GROUP BY doc, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc, term, tf * ln(n_docs * 1.0 / df) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |rk AS (
      |  SELECT doc, term, tfidf,
      |    CAST(row_number() OVER (PARTITION BY doc ORDER BY tfidf DESC, term) AS INT) AS rn
      |  FROM scored)
      |SELECT doc, term, round(tfidf, 6) AS tfidf, rn
      |FROM rk WHERE rn <= 3 ORDER BY doc, rn""".stripMargin) { (s, dir) =>
    graft.operators.TfIdf.topTerms(Tables.documents(s, dir), "doc_id", "text", 3)
      .orderBy(col("doc"), col("rn"))
  }

  /** Shared oracle CTE: whitespace tokens per document. */
  private val tokCte =
    """tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents)""".stripMargin

  /** ONE persisted corpus scan+tokenize `(id, ws)` shared by the whole
    * token family (q54/q56/q58/q58b/q67/q68/q69/q73/q77) and, through
    * [[graft.operators.Dedup.shingleSetsFromTokens]], the dedup
    * family's shingle index. Plan-identical construction → the
    * CacheManager serves every query from one cached copy per session —
    * the single-session analog of materializing the token table once
    * per corpus and deriving every downstream operator from it. */
  private[queries] def sharedToks(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    Materialized(s, s"toks:$dir") {
      graft.operators.TextStats.tokenized(
        Tables.documents(s, dir), "doc_id", "text")
    }

  /** Gopher-style repetition quality signals (see
    * [[graft.operators.TextStats.repetitionStats]]). */
  val q54 = GQuery("q54_repetition_stats",
    s"""WITH $tokCte,
       |base AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
       |    round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS frac_distinct
       |  FROM tok WHERE len(ws) >= 1),
       |big AS (
       |  SELECT doc_id,
       |    unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS g
       |  FROM tok WHERE len(ws) >= 2),
       |cnt AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
       |tb AS (
       |  SELECT doc_id,
       |    round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_frac
       |  FROM cnt GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tokens, b.frac_distinct,
       |  coalesce(tb.top_bigram_frac, 0.0) AS top_bigram_frac
       |FROM base b LEFT JOIN tb USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.repetitionStatsFromTokens(sharedToks(s, dir))
      .select(col("id").as("doc_id"), col("n_tokens"), col("frac_distinct"),
        col("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing fingerprints (see
    * [[graft.operators.TextStats.winnowingFingerprints]]): n=3, w=4. */
  val q56 = GQuery("q56_winnowing",
    s"""WITH $tokCte,
       |pos AS (
       |  SELECT doc_id, u.pos AS pos, m, u.s AS s FROM (
       |    SELECT doc_id, len(ws) - 2 AS m,
       |      unnest([{'pos': i, 's': ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]}
       |              for i in range(1, len(ws) - 1)]) AS u
       |    FROM tok WHERE len(ws) >= 3)),
       |fp AS (
       |  SELECT doc_id, pos, m,
       |    min(CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT))
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
       |  FROM pos),
       |kept AS (SELECT doc_id, fp FROM fp WHERE pos <= m - 3)
       |SELECT doc_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_fp,
       |  min(fp) AS min_fp, max(fp) AS max_fp
       |FROM kept GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.winnowingFromTokens(sharedToks(s, dir), n = 3, w = 4)
      .select(col("id").as("doc_id"), col("n_fp"), col("min_fp"), col("max_fp"))
      .orderBy(col("doc_id"))
  }

  /** MOSS winnowing pairing (see
    * [[graft.operators.Dedup.winnowingPairs]]): position-aware near-dup
    * candidates over the q56 fingerprint selection — any shared token
    * run of ≥ n + w − 1 = 6 tokens guarantees a shared fingerprint.
    * df-cap 100, minShared 3. The oracle replays the full winnow
    * (window-min selection), the cap, and the self-join. */
  val q176 = GQuery("q176_winnowing_pairs",
    s"""WITH $tokCte,
       |pos AS (
       |  SELECT doc_id, u.pos AS pos, m, u.s AS s FROM (
       |    SELECT doc_id, len(ws) - 2 AS m,
       |      unnest([{'pos': i, 's': ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]}
       |              for i in range(1, len(ws) - 1)]) AS u
       |    FROM tok WHERE len(ws) >= 3)),
       |fpw AS (
       |  SELECT doc_id, pos, m,
       |    min(CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT))
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
       |  FROM pos),
       |kept AS (SELECT DISTINCT doc_id, fp FROM fpw WHERE pos <= m - 3),
       |sizes AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
       |freq AS (SELECT fp FROM kept GROUP BY fp HAVING count(*) > 100),
       |ex AS (SELECT doc_id, fp FROM kept ANTI JOIN freq USING (fp)),
       |sh AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS shared
       |  FROM ex a JOIN ex b USING (fp) WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3)
       |SELECT id_a, id_b, shared,
       |  CAST(sa.n_fp AS BIGINT) AS n_fp_a, CAST(sb.n_fp AS BIGINT) AS n_fp_b,
       |  CAST(round(1e4 * shared / least(sa.n_fp, sb.n_fp)) AS BIGINT) AS ovl4
       |FROM sh
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    // the selection feeds FOUR plan branches (sizes, df census, both
    // self-join sides) — persisted with plan-identical construction so
    // the CacheManager serves all of them (and q56, which shares the
    // same subtree) from one computed copy per session
    val fps = graft.operators.TextStats
      .winnowedFps(sharedToks(s, dir), n = 3, w = 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.operators.Dedup.winnowingPairs(fps, minShared = 3L, maxDocFreq = 100)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Mergeable-histogram quantiles (see
    * [[graft.operators.TextStats.groupQuantilesFromCells]]): per-source
    * token-length quantiles computed by building FOUR per-slice
    * grid-cell histograms (slice = doc_id mod 4 — standing in for
    * ingestion batches), SUMMING the cells, and reading quantiles off
    * the merged histogram. The oracle computes the same quantiles in
    * one direct pass over all rows — histogram merge is lossless, so
    * the incremental path must hash-match the single-pass answer. */
  val q177 = GQuery("q177_hist_merge_quantiles",
    s"""WITH $tokCte,
       |rws AS (
       |  SELECT d.source AS grp, CAST(len(t.ws) AS BIGINT) AS s4
       |  FROM tok t JOIN documents d USING (doc_id)),
       |tg AS (SELECT grp, count(*) AS t_g FROM rws GROUP BY grp),
       |sc AS (SELECT grp, s4, count(*) AS n FROM rws GROUP BY 1, 2),
       |cums AS (
       |  SELECT grp, s4,
       |    sum(n) OVER (PARTITION BY grp ORDER BY s4
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM sc),
       |j AS (SELECT c.grp, c.s4, c.cum, tg.t_g FROM cums c JOIN tg USING (grp))
       |SELECT grp AS source, CAST(t_g AS BIGINT) AS n_rows,
       |  min(CASE WHEN cum * 10000 >= t_g * 2500 THEN s4 END) AS p2500,
       |  min(CASE WHEN cum * 10000 >= t_g * 5000 THEN s4 END) AS p5000,
       |  min(CASE WHEN cum * 10000 >= t_g * 7500 THEN s4 END) AS p7500,
       |  min(CASE WHEN cum * 10000 >= t_g * 9500 THEN s4 END) AS p9500
       |FROM j GROUP BY 1, 2 ORDER BY source""".stripMargin) { (s, dir) =>
    val srcm = Tables.documents(s, dir)
      .select(col("doc_id").as("id"), col("source"))
    val rows = sharedToks(s, dir).join(srcm, "id")
      .select(col("source").as("grp"), size(col("ws")).cast("long").as("s4"),
        (col("id") % 4).as("slice"))
    // four independent slice histograms, then the lossless cell-sum merge
    val sliceCells = rows.groupBy("slice", "grp", "s4")
      .agg(count(lit(1)).as("n"))
    val merged = sliceCells.groupBy("grp", "s4").agg(sum(col("n")).as("n"))
    graft.operators.TextStats
      .groupQuantilesFromCells(merged, Seq(2500, 5000, 7500, 9500))
      .select(col("grp").as("source"), col("n_rows"),
        col("p2500"), col("p5000"), col("p7500"), col("p9500"))
      .orderBy(col("source"))
  }

  /** TOKEN-weighted per-source quality quantiles: the same
    * [[graft.operators.TextStats.groupQuantilesFromCells]] machinery
    * with cell mass = token counts instead of document counts — the
    * distribution the TRAINING RUN actually samples (a source whose
    * few long documents are low-quality looks fine doc-weighted and
    * bad token-weighted; the divergence between q169 and this is
    * itself the signal). Cells stay (group × grid)-bounded; weights
    * just ride the cell sum. */
  val q202 = GQuery("q202_token_weighted_quantiles",
    s"""WITH $qualityCte,
       |rws AS (
       |  SELECT d.source AS grp,
       |    CAST(round(q.quality * 1e4) AS BIGINT) AS s4,
       |    CAST(q.n_tokens AS BIGINT) AS wt
       |  FROM q JOIN documents d USING (doc_id)),
       |tg AS (SELECT grp, sum(wt) AS t_g FROM rws GROUP BY grp),
       |sc AS (SELECT grp, s4, sum(wt) AS n FROM rws GROUP BY 1, 2),
       |cums AS (
       |  SELECT grp, s4,
       |    sum(n) OVER (PARTITION BY grp ORDER BY s4
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM sc),
       |j AS (SELECT c.grp, c.s4, c.cum, tg.t_g FROM cums c JOIN tg USING (grp))
       |SELECT grp AS source, CAST(t_g AS BIGINT) AS n_tokens,
       |  min(CASE WHEN cum * 10000 >= t_g * 2500 THEN s4 END) AS p2500,
       |  min(CASE WHEN cum * 10000 >= t_g * 5000 THEN s4 END) AS p5000,
       |  min(CASE WHEN cum * 10000 >= t_g * 7500 THEN s4 END) AS p7500
       |FROM j GROUP BY 1, 2 ORDER BY source""".stripMargin) { (s, dir) =>
    val rows = Tables.documents(s, dir)
      .select(col("source"),
        round(TextFunctions.qualityScore(col("text"), col("n_chars")) * 1e4)
          .cast("long").as("s4"),
        TextFunctions.tokenCount(col("text")).cast("long").as("wt"))
    val cells = rows.groupBy(col("source").as("grp"), col("s4"))
      .agg(sum(col("wt")).as("n"))
    graft.operators.TextStats
      .groupQuantilesFromCells(cells, Seq(2500, 5000, 7500))
      .select(col("grp").as("source"), col("n_rows").as("n_tokens"),
        col("p2500"), col("p5000"), col("p7500"))
      .orderBy(col("source"))
  }

  /** Corpus-level top-25 trigrams — the word-count shape (see
    * [[graft.operators.TextStats.topNgrams]]). */
  val q58 = GQuery("q58_top_ngrams",
    s"""WITH $tokCte,
       |tri AS (
       |  SELECT unnest(
       |    [ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] for i in range(1, len(ws) - 1)]) AS s
       |  FROM tok WHERE len(ws) >= 3)
       |SELECT s, count(*) AS n_occurrences
       |FROM tri GROUP BY s
       |ORDER BY n_occurrences DESC, s LIMIT 25""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.topNgramsFromTokens(sharedToks(s, dir), n = 3, k = 25)
  }

  /** EXACT heavy hitters through a count-min candidate pass (see
    * [[graft.operators.TextStats.heavyHitters]]): bigrams with ≥ 40
    * occurrences. The sketch is engine-internal; the oracle is the
    * plain exact threshold count the operator provably equals. */
  val q58b = GQuery("q58b_heavy_hitters",
    s"""WITH $tokCte,
       |big AS (
       |  SELECT unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS s
       |  FROM tok WHERE len(ws) >= 2)
       |SELECT s, count(*) AS n_occurrences
       |FROM big GROUP BY s HAVING count(*) >= 40
       |ORDER BY n_occurrences DESC, s""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.heavyHittersFromTokens(sharedToks(s, dir),
        n = 2, minCount = 40)
      .orderBy(col("n_occurrences").desc, col("s"))
  }

  /** Cross-document duplicated-span fraction (see
    * [[graft.operators.TextStats.dupChunkStatsFromTokens]]): 5-word chunks. */
  val q67 = GQuery("q67_dup_chunks",
    s"""WITH $tokCte,
       |ch AS (
       |  SELECT doc_id, unnest([array_to_string(ws[(j*5+1):(j*5+5)], ' ')
       |                         for j in range(0, len(ws) // 5)]) AS s
       |  FROM tok WHERE len(ws) >= 5),
       |cen AS (SELECT s, count(*) AS c FROM ch GROUP BY s)
       |SELECT doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  round(CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
       |    AS frac_dup_chunks
       |FROM ch JOIN cen USING (s)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.dupChunkStatsFromTokens(sharedToks(s, dir), w = 5)
      .select(col("id").as("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("frac_dup_chunks"))
      .orderBy(col("doc_id"))
  }

  /** First-failing-rule quality cascade (see
    * [[graft.operators.TextStats.qualityCascade]]); thresholds sit
    * inside the fixture's signal ranges so all verdicts occur. */
  val q69 = GQuery("q69_quality_cascade",
    s"""WITH $tokCte,
       |base AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
       |    round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS frac_distinct
       |  FROM tok WHERE len(ws) >= 1),
       |big AS (
       |  SELECT doc_id,
       |    unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS g
       |  FROM tok WHERE len(ws) >= 2),
       |cnt AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
       |tb AS (
       |  SELECT doc_id,
       |    round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_frac
       |  FROM cnt GROUP BY doc_id),
       |sig AS (
       |  SELECT b.doc_id, b.n_tokens, b.frac_distinct,
       |    coalesce(tb.top_bigram_frac, 0.0) AS top_bigram_frac
       |  FROM base b LEFT JOIN tb USING (doc_id)),
       |v AS (
       |  SELECT *,
       |    CASE WHEN n_tokens < 15 THEN 'too_short'
       |         WHEN n_tokens > 100000 THEN 'too_long'
       |         WHEN frac_distinct < 0.35 THEN 'low_diversity'
       |         WHEN top_bigram_frac > 0.1 THEN 'repetitive'
       |         ELSE '' END AS reason
       |  FROM sig)
       |SELECT doc_id, n_tokens, frac_distinct, top_bigram_frac, reason,
       |  reason = '' AS keep
       |FROM v ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.qualityCascadeFromTokens(sharedToks(s, dir),
        minTokens = 15, maxTokens = 100000,
        minFracDistinct = 0.35, maxTopBigramFrac = 0.1)
      .select(col("id").as("doc_id"), col("n_tokens"), col("frac_distinct"),
        col("top_bigram_frac"), col("reason"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM quality scoring (see
    * [[graft.operators.TextStats.unigramLogProb]]): add-one-smoothed
    * corpus unigram probabilities, per-doc mean log-prob. The oracle
    * replays the operator's contractual top-maxVocab LM truncation
    * (count DESC, token ASC) via `cen_lm` — out-of-LM tokens take the
    * c = 0 unk floor — so the hash matches at any vocabulary size (at
    * fixture vocab the LIMIT is a no-op; totals stay over the full
    * census). */
  val q73 = GQuery("q73_unigram_logprob",
    s"""WITH $tokCte,
       |tk AS (SELECT doc_id, unnest(ws) AS tok FROM tok),
       |cen AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
       |cen_lm AS (SELECT tok, c FROM cen
       |           ORDER BY c DESC, tok LIMIT ${1 << 20}),
       |tot AS (SELECT sum(c) AS n, count(*) AS v FROM cen)
       |SELECT doc_id, count(*) AS n_tokens,
       |  round(sum(CAST(round(ln(CAST(coalesce(c, 0) + 1 AS DOUBLE) / (n + v))
       |    * 10000) AS BIGINT)) / (count(*) * 10000.0), 4) AS avg_logprob
       |FROM tk LEFT JOIN cen_lm USING (tok) CROSS JOIN tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.unigramLogProbFromTokens(sharedToks(s, dir))
      .select(col("id").as("doc_id"), col("n_tokens"), col("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity head/middle/tail buckets (see
    * [[graft.operators.TextStats.perplexityBucketsFromTokens]]): the
    * q73 LM scores cut at the exact corpus terciles — higher log-prob
    * is more head-like. The oracle reuses the q73 score CTE verbatim
    * and snaps both tercile thresholds to the score's 4-dp grid on
    * each side — interpolation formulas differ by an ulp across
    * engines (a + f·(b−a) vs (1−f)·a + f·b), and with f ∈ {1/3, 2/3}
    * the snap is provably boundary-safe (see the operator's comment);
    * boundary docs then resolve by `>=` on bit-equal doubles. */
  val q111 = GQuery("q111_ccnet_buckets",
    s"""WITH $tokCte,
       |tk AS (SELECT doc_id, unnest(ws) AS tok FROM tok),
       |cen AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
       |cen_lm AS (SELECT tok, c FROM cen
       |           ORDER BY c DESC, tok LIMIT ${1 << 20}),
       |tot AS (SELECT sum(c) AS n, count(*) AS v FROM cen),
       |scored AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    round(sum(CAST(round(ln(CAST(coalesce(c, 0) + 1 AS DOUBLE) / (n + v))
       |      * 10000) AS BIGINT)) / (count(*) * 10000.0), 4) AS avg_logprob
       |  FROM tk LEFT JOIN cen_lm USING (tok) CROSS JOIN tot
       |  GROUP BY doc_id),
       |th AS (SELECT round(quantile_cont(avg_logprob, 2.0 / 3.0), 4) AS hi,
       |              round(quantile_cont(avg_logprob, 1.0 / 3.0), 4) AS lo
       |       FROM scored)
       |SELECT doc_id, n_tokens, avg_logprob,
       |  CASE WHEN avg_logprob >= hi THEN 'head'
       |       WHEN avg_logprob >= lo THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM scored CROSS JOIN th
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.perplexityBucketsFromTokens(sharedToks(s, dir))
      .select(col("id").as("doc_id"), col("n_tokens"), col("avg_logprob"),
        col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** PII-style regex redaction over `events.props` (the corpus-scrub
    * pass); oracle SQL is generated from the SAME pattern table as the
    * Column chain — RE2-compatible patterns run verbatim in both. */
  val q71 = {
    val chain = TextFunctions.PiiPatterns.foldLeft("props") {
      case (acc, (name, p)) => s"regexp_replace($acc, '$p', '<$name>', 'g')"
    }
    GQuery("q71_redact",
      s"""SELECT event_id, $chain AS redacted
         |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          TextFunctions.redact(col("props")).as("redacted"))
        .orderBy(col("event_id"))
    }
  }

  /** Corpus data card: the per-source summary every dataset release
    * ships — doc/token counts, mean quality, language mix, exact-dup
    * rate (fingerprint census over the WHOLE corpus, re-aggregated per
    * source). Composes the quality, langid, and fingerprint machinery
    * under one oracle. */
  val q76 = GQuery("q76_corpus_stats",
    s"""WITH $qualityCte,
       |fp AS (
       |  SELECT doc_id, source, lang,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
       |  FROM documents),
       |cen AS (SELECT f, count(*) AS c FROM fp GROUP BY f)
       |SELECT source,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  round(avg(quality), 4) AS avg_quality,
       |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
       |FROM fp JOIN cen USING (f) JOIN q USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val fp = Tables.documents(s, dir).select(
      col("doc_id"), col("source"), col("lang"),
      TextFunctions.fingerprint(col("text")).as("f"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col("f"))
    fp.withColumn("c", count(lit(1)).over(cw))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        round(avg(col("quality")), 4).as("avg_quality"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .orderBy(col("source"))
  }

  /** Robust median/MAD length-outlier filter (see
    * [[graft.operators.TextStats.lengthOutliers]]): flag docs whose
    * n_chars is > 3 MADs from the corpus median. */
  val q81 = GQuery("q81_length_outliers",
    """WITH b AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS x FROM documents),
      |m AS (SELECT median(x) AS med FROM b),
      |d AS (SELECT doc_id, x, abs(x - med) AS ad FROM b CROSS JOIN m),
      |m2 AS (SELECT median(ad) AS mad FROM d)
      |SELECT doc_id, CAST(x AS BIGINT) AS n_chars,
      |  round(ad / nullif(mad, 0), 4) AS robust_z,
      |  ad > 3.0 * mad AS is_outlier
      |FROM d CROSS JOIN m2 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.lengthOutliers(
        Tables.documents(s, dir), "doc_id", "n_chars", k = 3.0)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Distributed BPE merge induction (see
    * [[graft.operators.Bpe.trainMergesFromTokens]]): 50 merges trained
    * on the corpus word census. The merge loop is fully deterministic
    * (census + count-desc/(l,r)-asc argmax + greedy left-to-right
    * fusing), so the oracle REPLAYS all 50 iterations as chained
    * MATERIALIZED CTEs (the q100 PageRank idiom — MATERIALIZED because
    * each iteration is referenced twice and plain CTE inlining would
    * nest exponentially). Greedy non-overlapping left-to-right pair
    * fusing is expressed as string `replace` over a segmentation
    * encoded with each symbol DOUBLE-wrapped in chr(31) separators
    * ("␟a␟␟b␟"): replace scans left-to-right over non-overlapping
    * matches — exactly BPE's application order — and the double wrap
    * keeps adjacent matches from sharing a delimiter. chr(31) never
    * occurs in whitespace-split tokens; early stop (best pair <
    * minPairCount) falls out of the per-iteration `WHERE c >= 2` +
    * no-op LEFT JOIN. `BpeSpec` still proves the algorithm against the
    * hand-computed Sennrich corpus. */
  /** The q83 BPE training-replay chain (census → N × (pairs, best, it)
    * MATERIALIZED CTEs) — shared with q113, which extends it with a
    * vocabulary apply chain. `S` is the segmentation delimiter. */
  private val bpeS = "chr(31)"
  private def bpeCte(name: String, body: String, mat: Boolean = true): String =
    s"$name AS ${if (mat) "MATERIALIZED " else ""}($body)"
  private def bpeTrainCtes(n: Int, byteLevel: Boolean = false): Seq[String] = {
    val S = bpeS
    def cte(name: String, body: String, mat: Boolean = true) =
      bpeCte(name, body, mat)
    // initial segmentation: one symbol per code point (string_split)
    // or, byte-level, one UPPERCASE HEX PAIR per UTF-8 byte — hex()
    // hexes the VARCHAR's UTF-8 encoding in both engines, so the
    // symbol streams match graft.operators.Bpe's %02X rendering
    val it0Body =
      if (byteLevel)
        s"""
           |  SELECT tok, cnt,
           |    array_to_string([$S || substr(hx, 2 * i - 1, 2) || $S
           |                     for i in range(1, len(hx) // 2 + 1)], '')
           |      || $S || '</w>' || $S AS seg
           |  FROM (SELECT tok, cnt, hex(tok) AS hx FROM cen)""".stripMargin
      else
        s"""
           |  SELECT tok, cnt,
           |    array_to_string([$S || c || $S for c in string_split(tok, '')], '')
           |      || $S || '</w>' || $S AS seg
           |  FROM cen""".stripMargin
    val head = Seq(
      cte("tok",
        """
          |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          |  FROM documents""".stripMargin, mat = false),
      cte("cen",
        s"""
           |  SELECT tok, count(*) AS cnt FROM (SELECT unnest(ws) AS tok FROM tok) t
           |  GROUP BY tok ORDER BY cnt DESC, tok LIMIT ${1 << 20}""".stripMargin),
      cte("it0", it0Body))
    val iters = (0 until n).flatMap { k =>
      Seq(
        cte(s"pairs$k",
          s"""
             |  SELECT u.l AS l, u.r AS r, sum(cnt) AS c FROM (
             |    SELECT cnt, unnest([{'l': sg[i], 'r': sg[i + 1]}
             |                        for i in range(1, len(sg))]) AS u
             |    FROM (SELECT cnt, string_split(trim(seg, $S), $S || $S) AS sg
             |          FROM it$k))
             |  GROUP BY 1, 2""".stripMargin),
        cte(s"best$k",
          s"""
             |  SELECT $k AS rank, l, r, c FROM pairs$k WHERE c >= 2
             |  ORDER BY c DESC, l, r LIMIT 1""".stripMargin),
        cte(s"it${k + 1}",
          s"""
             |  SELECT tok, cnt,
             |    CASE WHEN b.l IS NULL THEN seg
             |         ELSE replace(seg, $S || b.l || $S || $S || b.r || $S,
             |                      $S || b.l || b.r || $S) END AS seg
             |  FROM it$k LEFT JOIN best$k b ON TRUE""".stripMargin))
    }
    head ++ iters
  }

  val q83 = {
    val N = 50
    val union = (0 until N)
      .map(k => s"SELECT rank, l, r, c FROM best$k").mkString("\nUNION ALL\n")
    GQuery("q83_bpe_merges",
      "WITH " + bpeTrainCtes(N).mkString(",\n") +
        s"""
           |SELECT CAST(rank AS INT) AS rank, l AS "left", r AS "right",
           |  CAST(c AS BIGINT) AS pair_count
           |FROM ($union) ORDER BY rank""".stripMargin) { (s, dir) =>
      graft.operators.Bpe.trainMergesFromTokens(sharedToks(s, dir),
          nMerges = N)
        .orderBy(col("rank"))
    }
  }

  /** The trained tokenizer APPLIED corpus-wide (see
    * [[graft.operators.Bpe.applyMergesViaVocab]]): per-source word /
    * subword counts and the chars-per-subword compression ratio — the
    * statistic a tokenizer is judged by per domain. The oracle extends
    * the q83 training replay with an APPLY chain: the same 50
    * double-delimiter `replace` steps run over the full distinct-word
    * list (the operator's vocabulary path), subword counts come from
    * splitting the final segmentations, and the token stream joins
    * them back — merges replayed AND applied entirely in SQL. */
  val q113 = {
    val N = 50
    val S = bpeS
    val apply0 = bpeCte("ap0", s"""
      |  SELECT tok,
      |    array_to_string([$S || c || $S for c in string_split(tok, '')], '')
      |      || $S || '</w>' || $S AS seg
      |  FROM (SELECT DISTINCT unnest(ws) AS tok FROM tok)""".stripMargin)
    val applyIters = (0 until N).map { k =>
      bpeCte(s"ap${k + 1}", s"""
        |  SELECT tok,
        |    CASE WHEN b.l IS NULL THEN seg
        |         ELSE replace(seg, $S || b.l || $S || $S || b.r || $S,
        |                      $S || b.l || b.r || $S) END AS seg
        |  FROM ap$k LEFT JOIN best$k b ON TRUE""".stripMargin)
    }
    val tail = Seq(
      bpeCte("subc", s"""
        |  SELECT tok,
        |    CAST(len(string_split(trim(seg, $S), $S || $S)) AS BIGINT) AS n_sub
        |  FROM ap$N""".stripMargin),
      bpeCte("docsub", """
        |  SELECT t.doc_id, count(*) AS n_words, sum(s.n_sub) AS n_subwords
        |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
        |  JOIN subc s USING (tok)
        |  GROUP BY t.doc_id""".stripMargin))
    GQuery("q113_bpe_tokenize",
      "WITH " + (bpeTrainCtes(N) ++ (apply0 +: applyIters) ++ tail)
        .mkString(",\n") + s"""
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(j.n_words) AS BIGINT) AS n_words,
        |  CAST(sum(j.n_subwords) AS BIGINT) AS n_subwords,
        |  round(CAST(sum(d.n_chars) AS DOUBLE)
        |    / CAST(sum(j.n_subwords) AS DOUBLE), 4) AS chars_per_subword
        |FROM docsub j JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      import s.implicits._
      val toks = sharedToks(s, dir)
      val merges = graft.operators.Bpe.trainMergesFromTokens(toks, nMerges = N)
        .orderBy(col("rank"))
        .select(col("left"), col("right")).as[(String, String)]
        .collect().toSeq
      graft.operators.Bpe.applyMergesViaVocab(toks, merges)
        .join(Tables.documents(s, dir)
          .select(col("doc_id").as("id"), col("source"), col("n_chars")),
          Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"),
          round(sum(col("n_chars")).cast("double")
            / sum(col("n_subwords")).cast("double"), 4)
            .as("chars_per_subword"))
        .orderBy(col("source"))
    }
  }

  /** BYTE-LEVEL BPE merge induction (see
    * [[graft.operators.Bpe.trainByteMergesFromTokens]] — the GPT-2
    * alphabet): the q83 chain over UTF-8 BYTES rendered as uppercase
    * hex pairs (`hex()` both engines), 256 base symbols so every
    * input is covered with no UNK ever. The oracle is the q83 replay
    * with the hex-comprehension it0. */
  val q345 = {
    val N = 50
    val union = (0 until N)
      .map(k => s"SELECT rank, l, r, c FROM best$k").mkString("\nUNION ALL\n")
    GQuery("q345_byte_bpe_merges",
      "WITH " + bpeTrainCtes(N, byteLevel = true).mkString(",\n") +
        s"""
           |SELECT CAST(rank AS INT) AS rank, l AS "left", r AS "right",
           |  CAST(c AS BIGINT) AS pair_count
           |FROM ($union) ORDER BY rank""".stripMargin) { (s, dir) =>
      graft.operators.Bpe.trainByteMergesFromTokens(sharedToks(s, dir),
          nMerges = N)
        .orderBy(col("rank"))
    }
  }

  /** The byte-level tokenizer APPLIED corpus-wide (see
    * [[graft.operators.Bpe.applyByteMergesViaVocab]]): per-source
    * word / subword counts and bytes-per-subword compression — q113's
    * statistic under the byte alphabet (the denominator counts UTF-8
    * BYTES via the hex length, not characters: the compression a
    * byte-level tokenizer is actually judged by). Same oracle shape:
    * the q345 training replay + the 50-step apply chain over the
    * distinct-word list, with the hex it0. */
  val q346 = {
    val N = 50
    val S = bpeS
    val apply0 = bpeCte("ap0", s"""
      |  SELECT tok,
      |    array_to_string([$S || substr(hx, 2 * i - 1, 2) || $S
      |                     for i in range(1, len(hx) // 2 + 1)], '')
      |      || $S || '</w>' || $S AS seg
      |  FROM (SELECT tok, hex(tok) AS hx
      |        FROM (SELECT DISTINCT unnest(ws) AS tok FROM tok))""".stripMargin)
    val applyIters = (0 until N).map { k =>
      bpeCte(s"ap${k + 1}", s"""
        |  SELECT tok,
        |    CASE WHEN b.l IS NULL THEN seg
        |         ELSE replace(seg, $S || b.l || $S || $S || b.r || $S,
        |                      $S || b.l || b.r || $S) END AS seg
        |  FROM ap$k LEFT JOIN best$k b ON TRUE""".stripMargin)
    }
    val tail = Seq(
      bpeCte("subc", s"""
        |  SELECT tok,
        |    CAST(len(string_split(trim(seg, $S), $S || $S)) AS BIGINT) AS n_sub,
        |    CAST(len(hex(tok)) // 2 AS BIGINT) AS n_bytes
        |  FROM ap$N""".stripMargin),
      bpeCte("docsub", """
        |  SELECT t.doc_id, count(*) AS n_words, sum(s.n_sub) AS n_subwords,
        |    sum(s.n_bytes) AS n_bytes
        |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
        |  JOIN subc s USING (tok)
        |  GROUP BY t.doc_id""".stripMargin))
    GQuery("q346_byte_bpe_tokenize",
      "WITH " + (bpeTrainCtes(N, byteLevel = true) ++ (apply0 +: applyIters)
        ++ tail).mkString(",\n") + s"""
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(j.n_words) AS BIGINT) AS n_words,
        |  CAST(sum(j.n_subwords) AS BIGINT) AS n_subwords,
        |  CAST(sum(j.n_bytes) AS BIGINT) AS n_word_bytes,
        |  round(CAST(sum(j.n_bytes) AS DOUBLE)
        |    / CAST(sum(j.n_subwords) AS DOUBLE), 4) AS bytes_per_subword
        |FROM docsub j JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      import s.implicits._
      val toks = sharedToks(s, dir)
      val merges = graft.operators.Bpe
        .trainByteMergesFromTokens(toks, nMerges = N)
        .orderBy(col("rank"))
        .select(col("left"), col("right")).as[(String, String)]
        .collect().toSeq
      val bytesUdf = udf((w: String) =>
        w.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
      val wordBytes = toks.where(size(col("ws")) >= 1)
        .select(col("id"), explode(col("ws")).as("tok"))
        .groupBy(col("id"))
        .agg(sum(bytesUdf(col("tok"))).as("n_bytes"))
      graft.operators.Bpe.applyByteMergesViaVocab(toks, merges)
        .join(wordBytes, Seq("id"))
        .join(Tables.documents(s, dir)
          .select(col("doc_id").as("id"), col("source")), Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"),
          sum(col("n_bytes")).as("n_word_bytes"),
          round(sum(col("n_bytes")).cast("double")
            / sum(col("n_subwords")).cast("double"), 4)
            .as("bytes_per_subword"))
        .orderBy(col("source"))
    }
  }

  /** Word-vocabulary induction + token-id encoding (see
    * [[graft.operators.Vocab]]): top-500 vocabulary by
    * (count DESC, word ASC), contiguous ids 1..V, 0 = OOV; per-doc
    * token/OOV counts plus the order-sensitive checksum
    * `sum((pos+1)·id)` that pins the EXACT encoded sequence without
    * materializing array columns. The oracle rebuilds the census, the
    * ranked vocabulary (same contractual tie-break), and the positional
    * encode entirely in SQL. */
  val q114 = {
    val V = 500
    GQuery("q114_vocab_encode",
      s"""WITH $tokCte,
         |cen AS (
         |  SELECT tok AS word, count(*) AS cnt
         |  FROM (SELECT unnest(ws) AS tok FROM tok) t GROUP BY 1),
         |voc AS (
         |  SELECT word, row_number() OVER (ORDER BY cnt DESC, word ASC) AS wid
         |  FROM (SELECT * FROM cen ORDER BY cnt DESC, word ASC LIMIT $V)),
         |wpos AS (
         |  SELECT doc_id, u.pos AS pos, u.w AS word FROM (
         |    SELECT doc_id,
         |      unnest([{'pos': i, 'w': ws[i]} for i in range(1, len(ws) + 1)]) AS u
         |    FROM tok WHERE len(ws) >= 1)),
         |enc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN v.wid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_unk,
         |    CAST(sum(pos * coalesce(v.wid, 0)) AS BIGINT) AS id_checksum
         |  FROM wpos LEFT JOIN voc v USING (word) GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_unk, id_checksum
         |FROM enc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = sharedToks(s, dir)
      graft.operators.Vocab
        .encodeStats(toks, graft.operators.Vocab.buildFromTokens(toks, V))
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_unk"),
          col("id_checksum"))
        .orderBy(col("doc_id"))
    }
  }

  /** Boilerplate chunk removal (see
    * [[graft.operators.Dedup.boilerplateChunkStats]]): 5-word chunks in
    * >= 3 distinct documents are template text, removed from every
    * document — the remove-ALL document-frequency rule, vs q68's
    * keep-first span dedup. */
  val q115 = GQuery("q115_boilerplate_strip",
    s"""WITH $tokCte,
       |ch AS (
       |  SELECT doc_id, unnest([array_to_string(ws[(j*5+1):(j*5+5)], ' ')
       |                         for j in range(0, len(ws) // 5)]) AS s
       |  FROM tok WHERE len(ws) >= 5),
       |bp AS (
       |  SELECT s, 1 AS flag
       |  FROM (SELECT s, count(DISTINCT doc_id) AS df FROM ch GROUP BY s)
       |  WHERE df >= 3)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN flag IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_removed,
       |  round(CAST(sum(CASE WHEN flag IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |    / count(*), 4) AS frac_removed
       |FROM ch LEFT JOIN bp USING (s)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Dedup
      .boilerplateChunkStats(sharedToks(s, dir), w = 5, minDocs = 3)
      .select(col("id").as("doc_id"), col("n_chunks"), col("n_removed"),
        col("frac_removed"))
      .orderBy(col("doc_id"))
  }

  /** [[q115]]'s emitting sibling (see
    * [[graft.operators.Dedup.boilerplateStripFromTokens]]): documents
    * REBUILT from their non-template chunks — the cleaned-text form a
    * curation pipeline consumes. Same df >= 3 remove-ALL rule; docs
    * left with no surviving chunks vanish (q68 contract). */
  val q117 = GQuery("q117_boilerplate_clean",
    s"""WITH $tokCte,
       |ch AS (
       |  SELECT doc_id, u.pos AS pos, u.s AS s FROM (
       |    SELECT doc_id,
       |      unnest([{'pos': j, 's': array_to_string(ws[(j*5+1):(j*5+5)], ' ')}
       |              for j in range(0, len(ws) // 5)]) AS u
       |    FROM tok WHERE len(ws) >= 5)),
       |bp AS (
       |  SELECT s, 1 AS flag
       |  FROM (SELECT s, count(DISTINCT doc_id) AS df FROM ch GROUP BY s)
       |  WHERE df >= 3)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_chunks,
       |  string_agg(s, ' ' ORDER BY pos) AS clean_text
       |FROM ch LEFT JOIN bp USING (s)
       |WHERE flag IS NULL
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Dedup
      .boilerplateStripFromTokens(sharedToks(s, dir), w = 5, minDocs = 3)
      .select(col("id").as("doc_id"), col("n_kept_chunks"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Capstone curation v5 — the boilerplate-aware stack under ONE
    * end-to-end oracle: template-chunk strip (q117's remove-ALL rule)
    * → quality RE-SCORED on the CLEANED text (stripping boilerplate
    * changes length/stopword/word-length signals, so selection must
    * run downstream of cleaning — the point of emitting text instead
    * of stats) → threshold keep (quality ≥ 0.5 on the 4-dp grid) →
    * curriculum packing (q106 rule, quality DESC) → per-shard summary.
    * Fixed-point q4 sums keep the hash exact across engines. */
  val q118 = {
    val MaxTok = 4096L
    GQuery("q118_curation_v5",
      s"""WITH $tokCte,
         |ch AS (
         |  SELECT doc_id, u.pos AS pos, u.s AS s FROM (
         |    SELECT doc_id,
         |      unnest([{'pos': j, 's': array_to_string(ws[(j*5+1):(j*5+5)], ' ')}
         |              for j in range(0, len(ws) // 5)]) AS u
         |    FROM tok WHERE len(ws) >= 5)),
         |bp AS (
         |  SELECT s, 1 AS flag
         |  FROM (SELECT s, count(DISTINCT doc_id) AS df FROM ch GROUP BY s)
         |  WHERE df >= 3),
         |cleaned AS (
         |  SELECT doc_id, string_agg(s, ' ' ORDER BY pos) AS text,
         |    length(string_agg(s, ' ' ORDER BY pos)) AS n_chars
         |  FROM ch LEFT JOIN bp USING (s)
         |  WHERE flag IS NULL GROUP BY doc_id),
         |${qualityCtesOver("cleaned")},
         |kept AS (SELECT doc_id, n_tokens, quality FROM q
         |         WHERE quality >= 0.5),
         |packed AS (
         |  SELECT doc_id, n_tokens, quality,
         |    CAST(floor((sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens) / $MaxTok) AS BIGINT)
         |      AS shard_id
         |  FROM kept)
         |SELECT shard_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(CAST(round(quality * 1e4) AS BIGINT)) AS BIGINT) AS q4_sum,
         |  round(CAST(sum(n_tokens) AS DOUBLE) / $MaxTok, 4) AS fill_ratio
         |FROM packed GROUP BY shard_id
         |ORDER BY shard_id""".stripMargin) { (s, dir) =>
      val cleaned = graft.operators.Dedup
        .boilerplateStripFromTokens(sharedToks(s, dir), w = 5, minDocs = 3)
        .select(col("id").as("doc_id"), col("clean_text"))
      val scored = cleaned.select(col("doc_id"),
        TextFunctions.tokenCount(col("clean_text")).cast("long").as("n_tokens"),
        TextFunctions.qualityScore(col("clean_text"),
          length(col("clean_text"))).as("quality"))
      val kept = scored.where(col("quality") >= 0.5)
      graft.operators.Packing
        .packByOrder(kept, "doc_id", "n_tokens", "quality", MaxTok)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(round(col("quality") * 1e4).cast("long")).as("q4_sum"))
        .withColumn("fill_ratio",
          round(col("sum_tokens").cast("double") / MaxTok, 4))
        .orderBy(col("shard_id"))
    }
  }

  /** Per-source out-of-vocabulary rate against the corpus top-20
    * vocabulary (see [[graft.operators.TextStats.oovRate]]) — the
    * tokenizer-sizing / domain-drift statistic that pairs with the BPE
    * trainer. */
  val q84 = GQuery("q84_oov_rate",
    s"""WITH $tokCte,
       |tk AS (SELECT doc_id, unnest(ws) AS tok FROM tok),
       |cen AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
       |voc AS (SELECT tok FROM cen ORDER BY c DESC, tok LIMIT 20),
       |st AS (SELECT d.source, t.tok FROM tk t JOIN documents d USING (doc_id))
       |SELECT source, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
       |    AS oov_rate
       |FROM st LEFT JOIN voc v USING (tok)
       |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.oovRate(
        sharedToks(s, dir),
        Tables.documents(s, dir).select(col("doc_id").as("id"), col("source")),
        "source", vocabSize = 20)
      .orderBy(col("source"))
  }

  /** Per-document quality-signal feature assembly — the wide table a
    * fasttext/logreg quality CLASSIFIER trains on: composite heuristic
    * score (q28), repetition signals (q54), unigram-LM log-prob (q73),
    * corpus-duplicated-span fraction (q67), and benchmark-contamination
    * fraction (q79), one row per document under ONE oracle. Every
    * signal derives from the shared token/shingle caches, so the
    * assembly is five keyed aggregates + doc-id left joins — at scale,
    * exactly the feature-store materialization a curation pipeline
    * writes once and trains many models from. */
  /** The q85 feature-signal CTE chain (rep/lm/dc/cf over tok + the
    * shingle index) — shared verbatim by the NB classifier oracle
    * (q126), which learns from the SAME features the wide table
    * reports. Requires `shingleCtes` and `qualityCte` in scope. */
  private[queries] val featureCtes: String =
    s"""base AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
       |    round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS frac_distinct
       |  FROM tok WHERE len(ws) >= 1),
       |big AS (
       |  SELECT doc_id,
       |    unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS g
       |  FROM tok WHERE len(ws) >= 2),
       |cntb AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
       |tb AS (
       |  SELECT doc_id,
       |    round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_frac
       |  FROM cntb GROUP BY doc_id),
       |rep AS (
       |  SELECT b.doc_id, b.n_tokens, b.frac_distinct,
       |    coalesce(tb.top_bigram_frac, 0.0) AS top_bigram_frac
       |  FROM base b LEFT JOIN tb USING (doc_id)),
       |tk AS (SELECT doc_id, unnest(ws) AS tok FROM tok),
       |cen_lm AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
       |tot AS (SELECT sum(c) AS n, count(*) AS v FROM cen_lm),
       |lm AS (
       |  SELECT doc_id,
       |    round(sum(CAST(round(ln(CAST(c + 1 AS DOUBLE) / (n + v)) * 10000)
       |      AS BIGINT)) / (count(*) * 10000.0), 4) AS avg_logprob
       |  FROM tk JOIN cen_lm USING (tok) CROSS JOIN tot GROUP BY doc_id),
       |ch AS (
       |  SELECT doc_id, unnest([array_to_string(ws[(j*5+1):(j*5+5)], ' ')
       |                         for j in range(0, len(ws) // 5)]) AS s
       |  FROM tok WHERE len(ws) >= 5),
       |cen_ch AS (SELECT s, count(*) AS c FROM ch GROUP BY s),
       |dc AS (
       |  SELECT doc_id,
       |    round(CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
       |      AS frac_dup_chunks
       |  FROM ch JOIN cen_ch USING (s) GROUP BY doc_id),
       |bsh AS (
       |  SELECT DISTINCT s FROM (
       |    SELECT unnest(shset) AS s FROM sh WHERE doc_id % 97 = 0)),
       |hits AS (
       |  SELECT e.doc_id, count(*) AS n_hits
       |  FROM ex e JOIN bsh USING (s) GROUP BY e.doc_id),
       |cf AS (
       |  SELECT d.doc_id,
       |    coalesce(round(coalesce(h.n_hits, 0) * 1.0
       |      / nullif(coalesce(z.sz, 0), 0), 4), 0.0) AS frac_contaminated
       |  FROM documents d
       |  LEFT JOIN sz z USING (doc_id)
       |  LEFT JOIN hits h ON h.doc_id = d.doc_id),
       |feat AS (
       |  SELECT d.doc_id, q.quality, rep.n_tokens, rep.frac_distinct,
       |    rep.top_bigram_frac, lm.avg_logprob, dc.frac_dup_chunks,
       |    cf.frac_contaminated
       |  FROM documents d
       |  JOIN q USING (doc_id)
       |  LEFT JOIN rep USING (doc_id)
       |  LEFT JOIN lm USING (doc_id)
       |  LEFT JOIN dc USING (doc_id)
       |  LEFT JOIN cf USING (doc_id))""".stripMargin

  val q85 = GQuery("q85_quality_features",
    s"""WITH ${DedupQueries.shingleCtes},
       |$qualityCte,
       |$featureCtes
       |SELECT doc_id, quality, n_tokens, frac_distinct, top_bigram_frac,
       |  avg_logprob, frac_dup_chunks, frac_contaminated
       |FROM feat ORDER BY doc_id""".stripMargin) { (s, dir) =>
    qualityFeatures(s, dir).orderBy(col("doc_id"))
  }

  /** Oracle-gated LEARNED classifier — Bernoulli Naive Bayes (see
    * [[graft.operators.QualityClassifier.bernoulliNb]]) over four
    * binarized q85 signals (composite quality, unigram log-prob,
    * duplicated-span fraction, contamination) against the q69
    * token-shape rule as the weak label. Training is pure counts, so
    * unlike LBFGS (q89, rows-only) the whole train+score pipeline
    * hash-matches: the oracle recomputes the counts from the SAME
    * feature CTEs and the same 1e-4-grid log-ratio parts. Features
    * deliberately exclude the label's own inputs, so the model
    * genuinely learns the correlation structure. */
  val q126 = GQuery("q126_nb_classifier",
    s"""WITH ${DedupQueries.shingleCtes},
       |$qualityCte,
       |$featureCtes,
       |fx AS (
       |  SELECT doc_id,
       |    quality >= 0.5 AS x1,
       |    avg_logprob >= -7.5 AS x2,
       |    coalesce(frac_dup_chunks, 0.0) <= 0.2 AS x3,
       |    frac_contaminated <= 0.0 AS x4,
       |    (n_tokens >= 15 AND n_tokens <= 100000 AND frac_distinct >= 0.35
       |     AND top_bigram_frac <= 0.1) AS y
       |  FROM feat WHERE n_tokens IS NOT NULL),
       |cnts AS (
       |  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN y AND x1 THEN 1 ELSE 0 END) AS BIGINT) AS c1_0,
       |    CAST(sum(CASE WHEN NOT y AND x1 THEN 1 ELSE 0 END) AS BIGINT) AS c0_0,
       |    CAST(sum(CASE WHEN y AND x2 THEN 1 ELSE 0 END) AS BIGINT) AS c1_1,
       |    CAST(sum(CASE WHEN NOT y AND x2 THEN 1 ELSE 0 END) AS BIGINT) AS c0_1,
       |    CAST(sum(CASE WHEN y AND x3 THEN 1 ELSE 0 END) AS BIGINT) AS c1_2,
       |    CAST(sum(CASE WHEN NOT y AND x3 THEN 1 ELSE 0 END) AS BIGINT) AS c0_2,
       |    CAST(sum(CASE WHEN y AND x4 THEN 1 ELSE 0 END) AS BIGINT) AS c1_3,
       |    CAST(sum(CASE WHEN NOT y AND x4 THEN 1 ELSE 0 END) AS BIGINT) AS c0_3
       |  FROM fx),
       |parts AS (
       |  SELECT
       |    CAST(round(1e4 * (ln((n1 + 1.0) / (n + 2)) -
       |      ln((n - n1 + 1.0) / (n + 2)))) AS BIGINT) AS prior,
       |    CAST(round(1e4 * (ln((c1_0 + 1.0) / (n1 + 2)) -
       |      ln((c0_0 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p1_0,
       |    CAST(round(1e4 * (ln((n1 - c1_0 + 1.0) / (n1 + 2)) -
       |      ln((n - n1 - c0_0 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p0_0,
       |    CAST(round(1e4 * (ln((c1_1 + 1.0) / (n1 + 2)) -
       |      ln((c0_1 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p1_1,
       |    CAST(round(1e4 * (ln((n1 - c1_1 + 1.0) / (n1 + 2)) -
       |      ln((n - n1 - c0_1 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p0_1,
       |    CAST(round(1e4 * (ln((c1_2 + 1.0) / (n1 + 2)) -
       |      ln((c0_2 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p1_2,
       |    CAST(round(1e4 * (ln((n1 - c1_2 + 1.0) / (n1 + 2)) -
       |      ln((n - n1 - c0_2 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p0_2,
       |    CAST(round(1e4 * (ln((c1_3 + 1.0) / (n1 + 2)) -
       |      ln((c0_3 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p1_3,
       |    CAST(round(1e4 * (ln((n1 - c1_3 + 1.0) / (n1 + 2)) -
       |      ln((n - n1 - c0_3 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p0_3
       |  FROM cnts)
       |SELECT fx.doc_id, fx.y AS label_keep,
       |  CAST(p.prior
       |    + CASE WHEN fx.x1 THEN p.p1_0 ELSE p.p0_0 END
       |    + CASE WHEN fx.x2 THEN p.p1_1 ELSE p.p0_1 END
       |    + CASE WHEN fx.x3 THEN p.p1_2 ELSE p.p0_2 END
       |    + CASE WHEN fx.x4 THEN p.p1_3 ELSE p.p0_3 END AS BIGINT) AS score4,
       |  (p.prior
       |    + CASE WHEN fx.x1 THEN p.p1_0 ELSE p.p0_0 END
       |    + CASE WHEN fx.x2 THEN p.p1_1 ELSE p.p0_1 END
       |    + CASE WHEN fx.x3 THEN p.p1_2 ELSE p.p0_2 END
       |    + CASE WHEN fx.x4 THEN p.p1_3 ELSE p.p0_3 END) > 0 AS pred_keep
       |FROM fx, parts p
       |ORDER BY fx.doc_id""".stripMargin) { (s, dir) =>
    sharedNbScores(s, dir)
      .select(col("doc_id"), col("label_keep"), col("score4"), col("pred_keep"))
      .orderBy(col("doc_id"))
  }

  /** The q126 NB feature assembly + closed-form train/score, shared by
    * q126 and the q171 calibration table (training is EAGER — the
    * counts collect — so memoization per (session, dir) is the stored-
    * model analog, exactly like the IVF/PQ caches). */
  private val nbCache = new SessionCache[org.apache.spark.sql.DataFrame]

  private[queries] def sharedNbScores(s: org.apache.spark.sql.SparkSession,
                                      dir: String): org.apache.spark.sql.DataFrame =
    nbCache.get(s, dir) {
      val f = qualityFeatures(s, dir)
        .where(col("n_tokens").isNotNull)
        .withColumn("x1", col("quality") >= 0.5)
        .withColumn("x2", col("avg_logprob") >= -7.5)
        .withColumn("x3", coalesce(col("frac_dup_chunks"), lit(0.0)) <= 0.2)
        .withColumn("x4", col("frac_contaminated") <= 0.0)
        .withColumn("label_keep",
          col("n_tokens") >= 15 && col("n_tokens") <= 100000 &&
            col("frac_distinct") >= 0.35 && col("top_bigram_frac") <= 0.1)
      graft.operators.QualityClassifier
        .bernoulliNb(f, "doc_id", Seq("x1", "x2", "x3", "x4"), "label_keep")
        .localCheckpoint(true)
    }

  /** Capstone curation v7 — the MODEL-in-the-loop capstone that
    * HASH-MATCHES end to end (q92's shape with q126's classifier in
    * place of LBFGS): NB log-odds prioritize the token-budget
    * selection (integer scores — no float anywhere in the ordering),
    * shards pack along the same order, and the per-shard summary
    * carries the exact integer score sums. ONE oracle replays feature
    * assembly → closed-form training → scoring → prefix-sum selection
    * → packing. */
  val q127 = {
    val Budget = 15000L
    val MaxTok = 2048L
    GQuery("q127_curation_v7",
      s"""WITH ${DedupQueries.shingleCtes},
         |$qualityCte,
         |$featureCtes,
         |fx AS (
         |  SELECT doc_id,
         |    quality >= 0.5 AS x1,
         |    avg_logprob >= -7.5 AS x2,
         |    coalesce(frac_dup_chunks, 0.0) <= 0.2 AS x3,
         |    frac_contaminated <= 0.0 AS x4,
         |    (n_tokens >= 15 AND n_tokens <= 100000 AND frac_distinct >= 0.35
         |     AND top_bigram_frac <= 0.1) AS y
         |  FROM feat WHERE n_tokens IS NOT NULL),
         |cnts AS (
         |  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN y AND x1 THEN 1 ELSE 0 END) AS BIGINT) AS c1_0,
         |    CAST(sum(CASE WHEN NOT y AND x1 THEN 1 ELSE 0 END) AS BIGINT) AS c0_0,
         |    CAST(sum(CASE WHEN y AND x2 THEN 1 ELSE 0 END) AS BIGINT) AS c1_1,
         |    CAST(sum(CASE WHEN NOT y AND x2 THEN 1 ELSE 0 END) AS BIGINT) AS c0_1,
         |    CAST(sum(CASE WHEN y AND x3 THEN 1 ELSE 0 END) AS BIGINT) AS c1_2,
         |    CAST(sum(CASE WHEN NOT y AND x3 THEN 1 ELSE 0 END) AS BIGINT) AS c0_2,
         |    CAST(sum(CASE WHEN y AND x4 THEN 1 ELSE 0 END) AS BIGINT) AS c1_3,
         |    CAST(sum(CASE WHEN NOT y AND x4 THEN 1 ELSE 0 END) AS BIGINT) AS c0_3
         |  FROM fx),
         |parts AS (
         |  SELECT
         |    CAST(round(1e4 * (ln((n1 + 1.0) / (n + 2)) -
         |      ln((n - n1 + 1.0) / (n + 2)))) AS BIGINT) AS prior,
         |    CAST(round(1e4 * (ln((c1_0 + 1.0) / (n1 + 2)) -
         |      ln((c0_0 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p1_0,
         |    CAST(round(1e4 * (ln((n1 - c1_0 + 1.0) / (n1 + 2)) -
         |      ln((n - n1 - c0_0 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p0_0,
         |    CAST(round(1e4 * (ln((c1_1 + 1.0) / (n1 + 2)) -
         |      ln((c0_1 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p1_1,
         |    CAST(round(1e4 * (ln((n1 - c1_1 + 1.0) / (n1 + 2)) -
         |      ln((n - n1 - c0_1 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p0_1,
         |    CAST(round(1e4 * (ln((c1_2 + 1.0) / (n1 + 2)) -
         |      ln((c0_2 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p1_2,
         |    CAST(round(1e4 * (ln((n1 - c1_2 + 1.0) / (n1 + 2)) -
         |      ln((n - n1 - c0_2 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p0_2,
         |    CAST(round(1e4 * (ln((c1_3 + 1.0) / (n1 + 2)) -
         |      ln((c0_3 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p1_3,
         |    CAST(round(1e4 * (ln((n1 - c1_3 + 1.0) / (n1 + 2)) -
         |      ln((n - n1 - c0_3 + 1.0) / (n - n1 + 2)))) AS BIGINT) AS p0_3
         |  FROM cnts),
         |sc AS (
         |  SELECT fx.doc_id, ft.n_tokens,
         |    p.prior
         |      + CASE WHEN fx.x1 THEN p.p1_0 ELSE p.p0_0 END
         |      + CASE WHEN fx.x2 THEN p.p1_1 ELSE p.p0_1 END
         |      + CASE WHEN fx.x3 THEN p.p1_2 ELSE p.p0_2 END
         |      + CASE WHEN fx.x4 THEN p.p1_3 ELSE p.p0_3 END AS score4
         |  FROM fx JOIN feat ft USING (doc_id) CROSS JOIN parts p),
         |r AS (
         |  SELECT doc_id, n_tokens, score4,
         |    CAST(sum(n_tokens) OVER (ORDER BY score4 DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM sc),
         |kept AS (SELECT * FROM r WHERE cum <= $Budget),
         |packed AS (
         |  SELECT doc_id, n_tokens, score4,
         |    CAST(floor((cum - n_tokens) / $MaxTok) AS BIGINT) AS shard_id
         |  FROM kept)
         |SELECT shard_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(score4) AS BIGINT) AS score4_sum,
         |  round(CAST(sum(n_tokens) AS DOUBLE) / $MaxTok, 4) AS fill_ratio
         |FROM packed GROUP BY shard_id
         |ORDER BY shard_id""".stripMargin) { (s, dir) =>
      val f = qualityFeatures(s, dir)
        .where(col("n_tokens").isNotNull)
        .withColumn("x1", col("quality") >= 0.5)
        .withColumn("x2", col("avg_logprob") >= -7.5)
        .withColumn("x3", coalesce(col("frac_dup_chunks"), lit(0.0)) <= 0.2)
        .withColumn("x4", col("frac_contaminated") <= 0.0)
        .withColumn("label_keep",
          col("n_tokens") >= 15 && col("n_tokens") <= 100000 &&
            col("frac_distinct") >= 0.35 && col("top_bigram_frac") <= 0.1)
      val scored = graft.operators.QualityClassifier
        .bernoulliNb(f, "doc_id", Seq("x1", "x2", "x3", "x4"), "label_keep")
        .select(col("doc_id"), col("n_tokens"), col("score4"))
      val sel = graft.operators.Sampling.tokenBudgetSelect(
        scored, "doc_id", "n_tokens", "score4", budget = Budget)
      graft.operators.Packing.packByOrder(
          sel.drop("cum_tokens"), "doc_id", "n_tokens", "score4", MaxTok)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("score4")).as("score4_sum"))
        .withColumn("fill_ratio",
          round(col("sum_tokens").cast("double") / MaxTok, 4))
        .orderBy(col("shard_id"))
    }
  }

  /** The q85 feature frame (unordered) — shared with the learned
    * quality classifier (q89). */
  private[queries] def qualityFeatures(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import graft.operators.{Dedup, TextStats}
    val docs = Tables.documents(s, dir)
    val toks = sharedToks(s, dir)
    val rep = TextStats.repetitionStatsFromTokens(toks)
      .withColumnRenamed("id", "doc_id")
    val lm = TextStats.unigramLogProbFromTokens(toks)
      .select(col("id").as("doc_id"), col("avg_logprob"))
    val dc = TextStats.dupChunkStatsFromTokens(toks, w = 5)
      .select(col("id").as("doc_id"), col("frac_dup_chunks"))
    val cf = Dedup.contaminationFraction(
        docs.select(col("doc_id").as("id")),
        DedupQueries.sharedSets(s, dir),
        DedupQueries.sharedSets(s, dir).where(col("id") % 97 === 0))
      .select(col("id").as("doc_id"), col("frac_contaminated"))
    // materialized once per session: the five-way join is the
    // feature-store table both q85 and the classifier read (narrow:
    // 8 columns per doc); consumers reference the checkpoint leaf
    Materialized(s, s"qualityFeatures:$dir") {
      docs.select(col("doc_id"),
          TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
        .join(rep, Seq("doc_id"), "left")
        .join(lm, Seq("doc_id"), "left")
        .join(dc, Seq("doc_id"), "left")
        .join(cf, Seq("doc_id"), "left")
    }
  }

  /** Learned quality classifier (see
    * [[graft.operators.QualityClassifier]]): logistic regression over
    * the q85 feature frame against the q69 cascade verdicts as weak
    * labels, scoring every document. Rows-only (MLlib training is not
    * single-query SQL); `QualityClassifierSpec` asserts AUC and
    * determinism. Real pipelines swap the weak labels for a curated
    * seed set — the plumbing is identical. */
  private val clsCache = new SessionCache[org.apache.spark.sql.DataFrame]

  val q89 = GQuery.rowsOnly("q89_quality_classifier") { (s, dir) =>
    // Training is EAGER (LBFGS driver loop), so like the IVF index and
    // the cluster map the scored frame is memoized per (session, dir) —
    // a real pipeline trains the model once per corpus and every
    // consumer reads the scores table.
    clsCache.get(s, dir) {
      val labels = graft.operators.TextStats
        .qualityCascadeFromTokens(sharedToks(s, dir))
        .select(col("id").as("doc_id"),
          col("keep").cast("int").as("label_keep"))
      // the five-way signal join is materialized so the LBFGS gradient
      // passes and the scoring pass read a narrow frame, not the plan
      val feats = qualityFeatures(s, dir).join(labels, "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.operators.QualityClassifier.trainAndScore(feats, "doc_id",
          Seq("quality", "n_tokens", "frac_distinct", "top_bigram_frac",
            "avg_logprob", "frac_dup_chunks", "frac_contaminated"),
          "label_keep", maxIter = 15)
        .select(col("doc_id"), col("label_keep"), col("prob_keep"),
          col("pred_keep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }.orderBy(col("doc_id"))
  }

  /** Interpolated bigram-LM scoring (see
    * [[graft.operators.TextStats.bigramLogProbFromTokens]]): λ = 0.7
    * conditional + 0.3 unigram backoff, add-one smoothed, trained on
    * the corpus censuses. The oracle replays the operator's
    * CONTRACTUAL top-maxVocab census truncation (count DESC, key ASC —
    * deterministic) via `cenu_lm`/`cenb_lm`, so the hash matches at ANY
    * census size, not just when the fixture fits the cap (at fixture
    * vocab the LIMIT is a no-op). Totals n/v stay over the FULL
    * unigram census, exactly as the operator computes them. The
    * 1.0 − λ arithmetic happens IN both engines so the IEEE double
    * matches. */
  val q90 = GQuery("q90_bigram_logprob",
    s"""WITH $tokCte,
       |tk AS (SELECT doc_id, unnest(ws) AS tok FROM tok),
       |cenu AS (SELECT tok, count(*) AS cu FROM tk GROUP BY tok),
       |cenu_lm AS (SELECT tok, cu FROM cenu
       |            ORDER BY cu DESC, tok LIMIT ${1 << 20}),
       |tot AS (SELECT sum(cu) AS n, count(*) AS v FROM cenu),
       |big AS (
       |  SELECT doc_id,
       |    unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS g
       |  FROM tok WHERE len(ws) >= 2),
       |cenb AS (SELECT g, count(*) AS cb FROM big GROUP BY g),
       |cenb_lm AS (SELECT g, cb FROM cenb
       |            ORDER BY cb DESC, g LIMIT ${1 << 20}),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(round(ln(
       |      0.7 * ((coalesce(cb.cb, 0) + 1.0)
       |             / (coalesce(u1.cu, 0) + v))
       |      + (1.0 - 0.7) * ((coalesce(u2.cu, 0) + 1.0) / (n + v))) * 10000)
       |      AS BIGINT) AS lq
       |  FROM (SELECT doc_id, g, split_part(g, ' ', 1) AS w1,
       |          split_part(g, ' ', 2) AS w2 FROM big) b
       |  LEFT JOIN cenb_lm cb USING (g)
       |  LEFT JOIN cenu_lm u1 ON u1.tok = b.w1
       |  LEFT JOIN cenu_lm u2 ON u2.tok = b.w2
       |  CROSS JOIN tot)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  round(sum(lq) / (count(*) * 10000.0), 4) AS avg_logprob2
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.bigramLogProbFromTokens(sharedToks(s, dir),
        lambda = 0.7)
      .select(col("id").as("doc_id"), col("n_bigrams"), col("avg_logprob2"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser–Ney bigram scoring (see
    * [[graft.operators.TextStats.knBigramLogProbFromTokens]]): the
    * production n-gram smoothing beside q90's add-one interpolation —
    * absolute discount D = 0.75 with the CONTINUATION-probability
    * backoff (distinct contexts, not raw frequency — the statistic
    * that demotes "Francisco"). Every model statistic is a type count
    * off the (contractually truncated) bigram census, so the oracle
    * replays the model exactly; p_cont carries add-one over (T + V)
    * and unseen left contexts fall back to p_cont, keeping every log
    * finite. */
  val q358 = GQuery("q358_kn_logprob",
    s"""WITH $tokCte,
       |tk AS (SELECT doc_id, unnest(ws) AS tok FROM tok),
       |totv AS (SELECT count(DISTINCT tok) AS v FROM tk),
       |big AS (
       |  SELECT doc_id,
       |    unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS g
       |  FROM tok WHERE len(ws) >= 2),
       |cenb AS (SELECT g, count(*) AS cb FROM big GROUP BY g),
       |cenb_lm AS (SELECT g, cb FROM cenb
       |            ORDER BY cb DESC, g LIMIT ${1 << 20}),
       |lf AS (
       |  SELECT split_part(g, ' ', 1) AS w1, CAST(sum(cb) AS BIGINT) AS cl,
       |    CAST(count(*) AS BIGINT) AS n1p
       |  FROM cenb_lm GROUP BY 1),
       |rc AS (
       |  SELECT split_part(g, ' ', 2) AS w2, CAST(count(*) AS BIGINT) AS nc
       |  FROM cenb_lm GROUP BY 1),
       |tt AS (SELECT count(*) AS t FROM cenb_lm),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(round(ln(
       |      CASE WHEN lf.cl IS NULL
       |        THEN (coalesce(rc.nc, 0) + 1.0) / (t + v)
       |        ELSE (greatest(coalesce(cb.cb, 0) - 0.75, 0)
       |              + 0.75 * lf.n1p
       |                * ((coalesce(rc.nc, 0) + 1.0) / (t + v)))
       |             / lf.cl END) * 10000) AS BIGINT) AS lq
       |  FROM (SELECT doc_id, g, split_part(g, ' ', 1) AS w1,
       |          split_part(g, ' ', 2) AS w2 FROM big) b
       |  LEFT JOIN cenb_lm cb USING (g)
       |  LEFT JOIN lf ON lf.w1 = b.w1
       |  LEFT JOIN rc ON rc.w2 = b.w2
       |  CROSS JOIN tt CROSS JOIN totv)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  round(sum(lq) / (count(*) * 10000.0), 4) AS avg_logprob_kn
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.knBigramLogProbFromTokens(sharedToks(s, dir),
        discount = 0.75)
      .select(col("id").as("doc_id"), col("n_bigrams"),
        col("avg_logprob_kn"))
      .orderBy(col("doc_id"))
  }

  /** Per-source type-token ratio (lexical diversity / Heaps-law point):
    * distinct tokens vs occurrences per source — the vocabulary-richness
    * column of a data card. Word-count shape: one (source, tok)-keyed
    * partial-distinct aggregate. */
  val q93 = GQuery("q93_type_token_ratio",
    s"""WITH $tokCte,
       |tk AS (
       |  SELECT d.source, t.tok
       |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
       |  JOIN documents d USING (doc_id))
       |SELECT source, count(*) AS n_tokens,
       |  count(DISTINCT tok) AS n_types,
       |  round(count(DISTINCT tok) * 1.0 / count(*), 4) AS type_token_ratio
       |FROM tk GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    sharedToks(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id").as("id"),
        col("source")), "id")
      .select(col("source"), explode(col("ws")).as("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"))
      .withColumn("type_token_ratio",
        round(col("n_types") / col("n_tokens"), 4))
      .orderBy(col("source"))
  }

  /** Model-free dense text embedding (see
    * [[graft.operators.TfIdf.hashedDocEmbedding]]): hashed term counts
    * JL-projected to 16 dims — the on-ramp from plain text into the
    * dense ANN stack. Long-format output; y is an integer sum over
    * √16 = 4, so the oracle (same md5 buckets, same sign-list
    * literals) is bit-exact with no rounding at all. */
  /** Shared oracle CTE chain for the hashed doc embedding (q98, q107):
    * ends in `emb(doc_id, j, s)` where `s` is the EXACT integer
    * sign-weighted count sum (y = s / √16). */
  private val hashedEmbCtes: String = {
    val Buckets = 256
    val DimOut = 16
    val b = graft.operators.TfIdf.hashedBucketSql("t.term", Buckets)
    val structs = (0 until DimOut).map { j =>
      val sgn = graft.operators.TfIdf.docEmbeddingSignSql("f", Buckets, DimOut, j)
      s"{'j': $j, 'c': $sgn * tf}"
    }.mkString(", ")
    s"""tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, $b AS f, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(ws) AS term FROM tok) t
       |  GROUP BY 1, 2),
       |con AS (
       |  SELECT doc_id, u.j AS j, u.c AS c
       |  FROM (SELECT doc_id, unnest([$structs]) AS u FROM tf)),
       |emb AS (SELECT doc_id, j, sum(c) AS s FROM con GROUP BY doc_id, j)""".stripMargin
  }

  val q98 = GQuery("q98_hashed_doc_embedding",
    s"""WITH $hashedEmbCtes
       |SELECT doc_id, j, CAST(s AS DOUBLE) / sqrt(16.0) AS y
       |FROM emb
       |ORDER BY doc_id, j""".stripMargin) { (s, dir) =>
    graft.operators.TfIdf.hashedDocEmbedding(
        graft.operators.TfIdf.hashedTf(sharedToks(s, dir), 256),
        buckets = 256, dimOut = 16)
      .select(col("id").as("doc_id"), col("j"), col("y"))
      .orderBy(col("doc_id"), col("j"))
  }

  /** Sketch-first vocabulary sizes (see
    * [[graft.operators.Sketches]]): per-source distinct-token HLL
    * estimates plus the corpus-wide estimate obtained by UNIONING the
    * per-source sketches — the incremental-statistics path (the
    * report never re-reads the corpus). Rows-only like q10b
    * (DataSketches HLL ≠ DuckDB's sketch); `SketchSpec` asserts the
    * lossless-merge law and a ±5% accuracy bound vs exact. */
  val q103 = GQuery.rowsOnly("q103_sketch_vocab") { (s, dir) =>
    val sk = graft.operators.Sketches.tokenSketchBySource(
        sharedToks(s, dir),
        Tables.documents(s, dir).select(col("doc_id").as("id"), col("source")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sk.select(col("key").as("source"),
        round(col("estimate"), 2).as("est_distinct_tokens"))
      .unionAll(graft.operators.Sketches.unionEstimate(sk)
        .select(lit("__all__").as("source"),
          round(col("estimate"), 2).as("est_distinct_tokens")))
      .orderBy(col("source"))
  }

  /** Exact phrase search (see
    * [[graft.operators.Search.phraseOccurrences]]): per-doc occurrence
    * counts of a fixed 3-word phrase via positional-posting
    * intersection. The oracle counts the equivalent trigram equality —
    * `SearchSpec` proves the postings path ≡ the n-gram path on the
    * whole corpus. */
  val q104 = {
    val Phrase = Seq("big", "order", "scan")
    GQuery("q104_phrase_search",
      s"""WITH $tokCte,
         |tri AS (
         |  SELECT doc_id,
         |    unnest([ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
         |            for i in range(1, len(ws) - 1)]) AS g
         |  FROM tok WHERE len(ws) >= 3)
         |SELECT doc_id, count(*) AS n_occurrences
         |FROM tri WHERE g = '${Phrase.mkString(" ")}'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Search.phraseOccurrences(
          graft.operators.Search.positionalPostings(sharedToks(s, dir)), Phrase)
        .select(col("id").as("doc_id"), col("n_occurrences"))
        .orderBy(col("doc_id"))
    }
  }

  /** One stored postings index per (session, corpus): written to a temp
    * dir on first use ([[graft.operators.Search.writePostings]]) — the
    * build-once artifact the stored-path queries read, exactly like the
    * memoized IVF/PQ model tables. */
  private val postingsCache = new SessionCache[String]
  private def storedIndex(s: org.apache.spark.sql.SparkSession,
                          dir: String): String =
    postingsCache.get(s, dir) {
      val path = java.nio.file.Files.createTempDirectory("graft-postings-")
        .toString
      graft.operators.Search.writePostings(sharedToks(s, dir), path,
        buckets = 64)
      path
    }

  /** [[q104]]'s phrase search through the STORED index
    * ([[graft.operators.Search.phraseFromPostings]]): same oracle, same
    * hash — proving the on-disk artifact answers identically while the
    * scan partition-prunes to the phrase words' term buckets
    * (`SearchSpec` asserts the pruned plan). */
  val q104b = {
    val Phrase = Seq("big", "order", "scan")
    GQuery("q104b_phrase_stored",
      s"""WITH $tokCte,
         |tri AS (
         |  SELECT doc_id,
         |    unnest([ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
         |            for i in range(1, len(ws) - 1)]) AS g
         |  FROM tok WHERE len(ws) >= 3)
         |SELECT doc_id, count(*) AS n_occurrences
         |FROM tri WHERE g = '${Phrase.mkString(" ")}'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Search.phraseFromPostings(s, storedIndex(s, dir), Phrase)
        .select(col("id").as("doc_id"), col("n_occurrences"))
        .orderBy(col("doc_id"))
    }
  }

  /** BM25 ranked retrieval (see [[graft.operators.Search.bm25]]):
    * top-20 docs for a 3-term query. Scores are 1e-4 fixed-point sums
    * (ln-ulp-absorbing, order-free), so the oracle — same formula with
    * derived constants rendered from the SAME Scala doubles — matches
    * bit-for-bit with no output rounding. */
  val q105 = {
    val Terms = Seq("dup", "sort", "batch")
    val K1 = 1.2
    val B = 0.75
    val K = 20
    val termList = Terms.map(t => s"'$t'").mkString(", ")
    GQuery("q105_bm25",
      s"""WITH $tokCte,
         |lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS len FROM tok),
         |tf AS (
         |  SELECT doc_id, t.tok AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
         |  WHERE t.tok IN ($termList) GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |tot AS (SELECT count(*) AS n, sum(len) AS sl FROM lens),
         |parts AS (
         |  SELECT tf.doc_id,
         |    CAST(round(((ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
         |        * (tf * ${K1 + 1}))
         |      / (tf + $K1 * (${1 - B} + $B * len / (CAST(sl AS DOUBLE) / n))))
         |      * 1e4) AS BIGINT) AS part4
         |  FROM tf JOIN dft USING (term) JOIN lens USING (doc_id), tot)
         |SELECT doc_id, sum(part4) / 1e4 AS score
         |FROM parts GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT $K""".stripMargin) { (s, dir) =>
      graft.operators.Search.bm25(sharedToks(s, dir), Terms, k1 = K1, b = B)
        .select(col("id").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(K)
    }
  }

  /** [[q105]]'s BM25 through the STORED index
    * ([[graft.operators.Search.bm25FromPostings]]): tf re-aggregated
    * from pruned posting lists, lengths/totals from the build-time
    * doclens/stats tables — same oracle, same hash, corpus untouched
    * at query time. */
  val q105b = {
    val Terms = Seq("dup", "sort", "batch")
    val K1 = 1.2
    val B = 0.75
    val K = 20
    val termList = Terms.map(t => s"'$t'").mkString(", ")
    GQuery("q105b_bm25_stored",
      s"""WITH $tokCte,
         |lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS len FROM tok),
         |tf AS (
         |  SELECT doc_id, t.tok AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
         |  WHERE t.tok IN ($termList) GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |tot AS (SELECT count(*) AS n, sum(len) AS sl FROM lens),
         |parts AS (
         |  SELECT tf.doc_id,
         |    CAST(round(((ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
         |        * (tf * ${K1 + 1}))
         |      / (tf + $K1 * (${1 - B} + $B * len / (CAST(sl AS DOUBLE) / n))))
         |      * 1e4) AS BIGINT) AS part4
         |  FROM tf JOIN dft USING (term) JOIN lens USING (doc_id), tot)
         |SELECT doc_id, sum(part4) / 1e4 AS score
         |FROM parts GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT $K""".stripMargin) { (s, dir) =>
      graft.operators.Search.bm25FromPostings(s, storedIndex(s, dir), Terms,
          k1 = K1, b = B)
        .select(col("id").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(K)
    }
  }

  /** Hybrid retrieval with reciprocal-rank fusion (see
    * [[graft.operators.Search.rrfFuse]]): BM25 over query TERMS fused
    * with dense cosine against an EXAMPLE DOC's hashed embedding — the
    * engine's full retrieval stack (postings ranking × dense
    * similarity) composed the way production search merges retrievers.
    * Every stage is engine-exact: BM25 parts and RRF parts are
    * fixed-point integers, the dense cosine runs on the INTEGER
    * embedding sums (y·4), and each top-100 ranking is a distributed
    * TakeOrdered followed by a 100-row window. */
  val q107 = {
    val Terms = Seq("dup", "sort", "batch")
    val K1 = 1.2; val B = 0.75
    val QDoc = 0L; val RrfK = 60; val TopN = 100; val K = 20
    val termList = Terms.map(t => s"'$t'").mkString(", ")
    GQuery("q107_hybrid_retrieval",
      s"""WITH $hashedEmbCtes,
         |lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS len FROM tok),
         |btf AS (
         |  SELECT doc_id, t.tok AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
         |  WHERE t.tok IN ($termList) GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df FROM btf GROUP BY term),
         |tot AS (SELECT count(*) AS n, sum(len) AS sl FROM lens),
         |bparts AS (
         |  SELECT btf.doc_id,
         |    CAST(round(((ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
         |        * (tf * ${K1 + 1}))
         |      / (tf + $K1 * (${1 - B} + $B * len / (CAST(sl AS DOUBLE) / n))))
         |      * 1e4) AS BIGINT) AS part4
         |  FROM btf JOIN dft USING (term) JOIN lens USING (doc_id), tot),
         |bm AS (SELECT doc_id, sum(part4) / 1e4 AS score FROM bparts GROUP BY doc_id),
         |bmr AS (
         |  SELECT doc_id, rn FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY score DESC, doc_id) AS INT) AS rn FROM bm)
         |  WHERE rn <= $TopN),
         |qv AS (SELECT j, s AS sq FROM emb WHERE doc_id = $QDoc),
         |ndt AS (SELECT doc_id, sum(s * s) AS n2 FROM emb GROUP BY doc_id),
         |dd AS (
         |  SELECT e.doc_id, sum(e.s * qv.sq) AS dot
         |  FROM emb e JOIN qv USING (j) WHERE e.doc_id <> $QDoc
         |  GROUP BY e.doc_id),
         |dsc AS (
         |  SELECT dd.doc_id,
         |    round(CAST(dot AS DOUBLE) /
         |      sqrt(CAST(ndt.n2 * (SELECT sum(sq * sq) FROM qv) AS DOUBLE)), 6)
         |      AS cosine
         |  FROM dd JOIN ndt USING (doc_id) WHERE ndt.n2 > 0),
         |dr AS (
         |  SELECT doc_id, rn FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY cosine DESC, doc_id) AS INT) AS rn FROM dsc)
         |  WHERE rn <= $TopN),
         |u AS (
         |  SELECT doc_id, CAST(round(1e9 / (rn + $RrfK)) AS BIGINT) AS rrf9 FROM bmr
         |  UNION ALL
         |  SELECT doc_id, CAST(round(1e9 / (rn + $RrfK)) AS BIGINT) FROM dr)
         |SELECT doc_id, sum(rrf9) / 1e9 AS rrf_score
         |FROM u GROUP BY doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT $K""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = sharedToks(s, dir)
      // BM25 side: distributed TakeOrdered to top-100, then a window
      // over only those 100 rows assigns ranks (never a global sort
      // window over the full match set)
      val bm = graft.operators.Search.bm25(toks, Terms, k1 = K1, b = B)
      val bmr = bm.orderBy(col("score").desc, col("id")).limit(TopN)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("score").desc, col("id"))))
        .select(col("id"), col("rn"))
      // dense side: integer embedding sums (y·4 is exact), sparse-dot
      // cosine vs the example doc — the q96/q98 machinery
      val emb = graft.operators.TfIdf.hashedDocEmbedding(
          graft.operators.TfIdf.hashedTf(toks, 256), 256, 16)
        .select(col("id"), col("j"), (col("y") * 4).cast("long").as("s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qv = emb.where(col("id") === QDoc).select(col("j"), col("s").as("sq"))
      val nq = qv.agg(sum(col("sq") * col("sq")).as("nq"))
      val nd = emb.groupBy(col("id")).agg(sum(col("s") * col("s")).as("nd"))
      val dsc = emb.where(col("id") =!= QDoc).join(broadcast(qv), "j")
        .groupBy(col("id")).agg(sum(col("s") * col("sq")).as("dot"))
        .join(nd, "id").crossJoin(broadcast(nq))
        .where(col("nd") > 0)
        .withColumn("cosine", round(col("dot").cast("double") /
          sqrt((col("nd") * col("nq")).cast("double")), 6))
      val dr = dsc.orderBy(col("cosine").desc, col("id")).limit(TopN)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("cosine").desc, col("id"))))
        .select(col("id"), col("rn"))
      graft.operators.Search.rrfFuse(Seq(bmr, dr), RrfK)
        .orderBy(col("rrf_score").desc, col("id")).limit(K)
        .select(col("id").as("doc_id"), col("rrf_score"))
    }
  }

  /** Character-entropy quality signal (see
    * [[graft.operators.TextStats.charEntropyStats]] /
    * [[graft.plans.CharStats]]): Shannon entropy of each doc's
    * code-point distribution on the 1e-4 integer grid — per-class
    * parts round BEFORE summing, so the oracle's unnest/GROUP BY
    * replay reaches the identical integer total in any summation
    * order (the BM25 ln idiom). */
  val q139 = GQuery("q139_char_entropy",
    """WITH cs AS (
      |  SELECT doc_id, length(text) AS n,
      |    unnest([text[i:i] for i in range(1, length(text)+1)]) AS c
      |  FROM documents WHERE length(text) > 0),
      |kc AS (SELECT doc_id, c, count(*) AS k, max(n) AS n
      |       FROM cs GROUP BY doc_id, c),
      |e AS (
      |  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
      |    CAST(count(*) AS BIGINT) AS n_distinct,
      |    CAST(sum(CAST(round(1e4 * (k * 1.0 / n) * ln(n * 1.0 / k)) AS BIGINT))
      |      AS BIGINT) AS entropy4
      |  FROM kc GROUP BY doc_id)
      |SELECT doc_id, n_chars, n_distinct, entropy4, entropy4 / 10000.0 AS entropy
      |FROM e ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.charEntropyStats(
        Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_chars"), col("n_distinct"),
        col("entropy4"), col("entropy"))
      .orderBy(col("doc_id"))
  }

  /** Collocation mining (see
    * [[graft.operators.TextStats.collocations]]): top-50 adjacent word
    * pairs by grid-snapped PMI, hapax-dominated pairs floored out by
    * min count 5. The oracle replays both censuses and the exact
    * double-ratio-then-ln arithmetic. */
  val q160 = GQuery("q160_collocations",
    s"""WITH $tokCte,
       |bgc AS (
       |  SELECT bg, count(*) AS c_ab FROM (
       |    SELECT unnest([ws[i] || ' ' || ws[i+1]
       |                   for i in range(1, len(ws))]) AS bg
       |    FROM tok WHERE len(ws) >= 2)
       |  GROUP BY bg HAVING count(*) >= 5),
       |uni AS (
       |  SELECT w, count(*) AS c_w
       |  FROM (SELECT unnest(ws) AS w FROM tok) GROUP BY w),
       |tot AS (
       |  SELECT CAST(sum(len(ws)) AS BIGINT) AS t_tok,
       |    CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT) AS t_bg
       |  FROM tok),
       |scored AS (
       |  SELECT bg, c_ab, ua.c_w AS c_a, ub.c_w AS c_b,
       |    CAST(round(1e4 * ln((CAST(c_ab AS DOUBLE) * t_tok * t_tok)
       |      / (CAST(t_bg AS DOUBLE) * ua.c_w * ub.c_w))) AS BIGINT) AS pmi4
       |  FROM bgc CROSS JOIN tot
       |  JOIN uni ua ON ua.w = string_split(bg, ' ')[1]
       |  JOIN uni ub ON ub.w = string_split(bg, ' ')[2])
       |SELECT bg, c_ab, c_a, c_b, pmi4 FROM scored
       |ORDER BY pmi4 DESC, bg LIMIT 50""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.collocations(sharedToks(s, dir), 5, 50)
      .orderBy(col("pmi4").desc, col("bg"))
  }

  /** TextRank keyword extraction (see
    * [[graft.operators.TextStats.textRankFromTokens]]): PageRank over
    * the corpus word-adjacency graph — vertices are the vocabulary,
    * edges are DISTINCT adjacent word pairs, iterations are the q100
    * grid-exact PageRank. The oracle replays the bigram adjacency,
    * the symmetrized distinct edge list, all three rank iterations,
    * and the (rank DESC, word) top-50. */
  val q281 = {
    val Damping = 0.85
    val Iters = 3
    def iterCtes(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""c$i AS (
         |  SELECT ed.dst AS id,
         |    sum(CAST(round($prev.r / dg.deg * 1e6) AS BIGINT)) AS s
         |  FROM ed JOIN dg USING (src) JOIN $prev ON $prev.id = ed.src
         |  GROUP BY ed.dst),
         |r$i AS (
         |  SELECT vv.id,
         |    ${1 - Damping} +
         |      $Damping * (CAST(coalesce(c$i.s, 0) AS DOUBLE) / 1e6) AS r
         |  FROM vv LEFT JOIN c$i ON c$i.id = vv.id)""".stripMargin
    }
    GQuery("q281_textrank",
      s"""WITH $tokCte,
         |adj AS (
         |  SELECT DISTINCT string_split(bg, ' ')[1] AS w1,
         |    string_split(bg, ' ')[2] AS w2
         |  FROM (
         |    SELECT unnest([ws[i] || ' ' || ws[i+1]
         |                   for i in range(1, len(ws))]) AS bg
         |    FROM tok WHERE len(ws) >= 2)
         |  WHERE string_split(bg, ' ')[1] <> string_split(bg, ' ')[2]),
         |ed AS (
         |  SELECT w1 AS src, w2 AS dst FROM adj
         |  UNION SELECT w2, w1 FROM adj),
         |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
         |vv AS (SELECT DISTINCT unnest(ws) AS id FROM tok),
         |nn AS (SELECT count(*) AS n FROM vv),
         |r0 AS (SELECT id, 1.0 AS r FROM vv),
         |${(1 to Iters).map(iterCtes).mkString(",\n")}
         |SELECT id AS word, r / (SELECT n FROM nn) AS textrank
         |FROM r$Iters
         |ORDER BY textrank DESC, word LIMIT 50""".stripMargin) { (s, dir) =>
      graft.operators.TextStats.textRankFromTokens(sharedToks(s, dir),
        iters = Iters, damping = Damping, k = 50)
    }
  }

  /** Per-source quality drift (see
    * [[graft.operators.TextStats.groupScoreDrift]]): exact KS distance
    * between each source's quality distribution and the corpus's on
    * the 1e-4 grid — the miscalibrated-feed detector. The oracle
    * replays the spine, both CDFs, and the sup. */
  val q161 = GQuery("q161_source_quality_drift",
    s"""WITH $qualityCte,
       |srcm AS (SELECT doc_id, source FROM documents),
       |rws AS (
       |  SELECT srcm.source AS grp,
       |    CAST(round(q.quality * 1e4) AS BIGINT) AS s4
       |  FROM q JOIN srcm USING (doc_id)),
       |gc AS (SELECT grp, s4, count(*) AS n_g FROM rws GROUP BY 1, 2),
       |ac AS (SELECT s4, count(*) AS n_all FROM rws GROUP BY 1),
       |spine AS (
       |  SELECT g.grp, a.s4
       |  FROM (SELECT DISTINCT grp FROM gc) g CROSS JOIN ac a),
       |cells AS (
       |  SELECT sp.grp, sp.s4, coalesce(gc.n_g, 0) AS n_g, ac.n_all
       |  FROM spine sp
       |  LEFT JOIN gc ON gc.grp = sp.grp AND gc.s4 = sp.s4
       |  JOIN ac ON ac.s4 = sp.s4),
       |tg AS (SELECT grp, count(*) AS t_g FROM rws GROUP BY grp),
       |ta AS (SELECT count(*) AS t_all FROM rws),
       |cdf AS (
       |  SELECT grp, s4,
       |    sum(n_g) OVER (PARTITION BY grp ORDER BY s4
       |      ROWS UNBOUNDED PRECEDING) AS c_g,
       |    sum(n_all) OVER (PARTITION BY grp ORDER BY s4
       |      ROWS UNBOUNDED PRECEDING) AS c_all
       |  FROM cells)
       |SELECT cdf.grp AS source, tg.t_g AS n_rows,
       |  max(abs(CAST(round(1e4 * c_g / t_g) AS BIGINT)
       |        - CAST(round(1e4 * c_all / t_all) AS BIGINT))) AS ks4
       |FROM cdf JOIN tg USING (grp) CROSS JOIN ta
       |GROUP BY 1, 2 ORDER BY source""".stripMargin) { (s, dir) =>
    val scored = Tables.documents(s, dir).select(col("source"),
      TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
    graft.operators.TextStats.groupScoreDrift(scored, "source", "quality")
      .select(col("grp").as("source"), col("n_rows"), col("ks4"))
      .orderBy(col("source"))
  }

  /** Pseudo-relevance-feedback retrieval (see
    * [[graft.operators.Search.bm25Prf]]): BM25 → top-5 feedback docs →
    * 4 tf-idf expansion terms → expanded BM25. The oracle replays BOTH
    * passes and the expansion mining in one statement, so a wrong
    * feedback set or expansion pick is a hash mismatch. */
  val q162 = {
    val K1 = 1.2; val B = 0.75; val K = 20
    def bm25Ctes(qRel: String, p: String) =
      s"""${p}tf AS (
         |  SELECT doc_id, t.tok AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
         |  JOIN $qRel q ON t.tok = q.term GROUP BY 1, 2),
         |${p}dft AS (SELECT term, count(*) AS df FROM ${p}tf GROUP BY term),
         |${p}parts AS (
         |  SELECT ${p}tf.doc_id,
         |    CAST(round(((ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
         |        * (tf * ${K1 + 1}))
         |      / (tf + $K1 * (${1 - B} + $B * len / (CAST(sl AS DOUBLE) / n))))
         |      * 1e4) AS BIGINT) AS part4
         |  FROM ${p}tf JOIN ${p}dft USING (term) JOIN lens USING (doc_id), tot)""".stripMargin
    GQuery("q162_bm25_prf",
      s"""WITH $tokCte,
         |lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS len FROM tok),
         |tot AS (SELECT count(*) AS n, sum(len) AS sl FROM lens),
         |q0(term) AS (VALUES ('dup'), ('vector')),
         |${bm25Ctes("q0", "a")},
         |fb AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, sum(part4) AS s4 FROM aparts GROUP BY doc_id
         |    ORDER BY s4 DESC, doc_id LIMIT 5)),
         |fbtf AS (
         |  SELECT t.tok AS term, count(*) AS c_fb
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
         |  JOIN fb USING (doc_id)
         |  WHERE t.tok NOT IN (SELECT term FROM q0) GROUP BY 1),
         |cdfq AS (
         |  SELECT term, count(*) AS df FROM (
         |    SELECT doc_id, unnest(list_distinct(ws)) AS term FROM tok)
         |  GROUP BY term),
         |nd AS (SELECT count(*) AS n FROM tok),
         |expq AS (
         |  SELECT term FROM (
         |    SELECT fbtf.term,
         |      CAST(round(1e4 * c_fb * ln(CAST(nd.n AS DOUBLE) / cdfq.df))
         |        AS BIGINT) AS wt4
         |    FROM fbtf JOIN cdfq USING (term) CROSS JOIN nd
         |    ORDER BY wt4 DESC, term LIMIT 4)),
         |q1 AS (SELECT term FROM q0 UNION SELECT term FROM expq),
         |${bm25Ctes("q1", "b")}
         |SELECT doc_id, sum(part4) / 1e4 AS score FROM bparts
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT $K""".stripMargin) { (s, dir) =>
      graft.operators.Search
        .bm25Prf(sharedToks(s, dir), Seq("dup", "vector"), 5, 4, K1, B)
        .select(col("id").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(K)
    }
  }

  /** Best-window snippets (see
    * [[graft.operators.Search.snippets]]): the 12-token window per hit
    * doc maximizing (distinct terms, matches, earliest) — the result-
    * page surface. The oracle replays candidate windows, ranking, and
    * the array-slice rebuild. */
  val q163 = {
    val Terms = Seq("dup", "vector", "sort")
    val Width = 12
    val termList = Terms.map(t => s"'$t'").mkString(", ")
    GQuery("q163_snippets",
      s"""WITH $tokCte,
         |pw AS (
         |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
         |    SELECT doc_id,
         |      unnest([{'pos': j, 'tok': ws[j+1]} for j in range(0, len(ws))]) AS u
         |    FROM tok)),
         |ps AS (SELECT * FROM pw WHERE tok IN ($termList)),
         |sc AS (
         |  SELECT c.doc_id, c.pos AS start,
         |    count(DISTINCT p.tok) AS n_terms, count(*) AS n_matches
         |  FROM ps c JOIN ps p ON p.doc_id = c.doc_id
         |    AND p.pos >= c.pos AND p.pos < c.pos + $Width
         |  GROUP BY 1, 2),
         |best AS (
         |  SELECT doc_id, start, n_terms, n_matches,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY n_terms DESC, n_matches DESC, start) AS rn
         |  FROM sc)
         |SELECT b.doc_id, b.start, b.n_terms, b.n_matches,
         |  array_to_string(t.ws[(b.start + 1):(b.start + $Width)], ' ')
         |    AS snippet
         |FROM best b JOIN tok t USING (doc_id)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Search.snippets(sharedToks(s, dir), Terms, Width)
        .select(col("id").as("doc_id"), col("start"), col("n_terms"),
          col("n_matches"), col("snippet"))
        .orderBy(col("doc_id"))
    }
  }

  /** Per-source robust outliers (see
    * [[graft.operators.TextStats.groupRobustOutliers]]): within-source
    * median/MAD outlier counts for quality on the grid, explicit
    * lower-median convention. The oracle replays both cumulative
    * medians and the count. */
  val q164 = GQuery("q164_source_robust_outliers",
    s"""WITH $qualityCte,
       |srcm AS (SELECT doc_id, source FROM documents),
       |rws AS (
       |  SELECT srcm.source AS grp,
       |    CAST(round(q.quality * 1e4) AS BIGINT) AS s4
       |  FROM q JOIN srcm USING (doc_id)),
       |tg AS (SELECT grp, count(*) AS t_g FROM rws GROUP BY grp),
       |sc AS (SELECT grp, s4, count(*) AS n FROM rws GROUP BY 1, 2),
       |medc AS (
       |  SELECT grp, min(s4) AS med4 FROM (
       |    SELECT grp, s4,
       |      sum(n) OVER (PARTITION BY grp ORDER BY s4
       |        ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM sc) c JOIN tg USING (grp)
       |  WHERE cum * 2 >= t_g GROUP BY grp),
       |dc AS (
       |  SELECT rws.grp, abs(s4 - med4) AS d4, count(*) AS n
       |  FROM rws JOIN medc USING (grp) GROUP BY 1, 2),
       |madc AS (
       |  SELECT grp, min(d4) AS mad4 FROM (
       |    SELECT grp, d4,
       |      sum(n) OVER (PARTITION BY grp ORDER BY d4
       |        ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM dc) c JOIN tg USING (grp)
       |  WHERE cum * 2 >= t_g GROUP BY grp)
       |SELECT rws.grp AS source, tg.t_g AS n_rows, medc.med4, madc.mad4,
       |  CAST(sum(CASE WHEN abs(s4 - med4) > 3 * mad4 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_outliers
       |FROM rws JOIN medc USING (grp) JOIN madc USING (grp) JOIN tg USING (grp)
       |GROUP BY 1, 2, 3, 4 ORDER BY source""".stripMargin) { (s, dir) =>
    val scored = Tables.documents(s, dir).select(col("source"),
      TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
    graft.operators.TextStats.groupRobustOutliers(scored, "source", "quality")
      .select(col("grp").as("source"), col("n_rows"), col("med4"),
        col("mad4"), col("n_outliers"))
      .orderBy(col("source"))
  }

  /** Per-source exact quantiles (see
    * [[graft.operators.TextStats.groupQuantiles]]): p25/p50/p75/p95 of
    * quality per source from ONE cumulative pass over grid cells — the
    * exact replacement for approx_percentile on grid scores. */
  val q169 = GQuery("q169_source_quantiles",
    s"""WITH $qualityCte,
       |srcm AS (SELECT doc_id, source FROM documents),
       |rws AS (
       |  SELECT srcm.source AS grp,
       |    CAST(round(q.quality * 1e4) AS BIGINT) AS s4
       |  FROM q JOIN srcm USING (doc_id)),
       |tg AS (SELECT grp, count(*) AS t_g FROM rws GROUP BY grp),
       |sc AS (SELECT grp, s4, count(*) AS n FROM rws GROUP BY 1, 2),
       |cums AS (
       |  SELECT grp, s4,
       |    sum(n) OVER (PARTITION BY grp ORDER BY s4
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM sc),
       |j AS (SELECT c.grp, c.s4, c.cum, tg.t_g FROM cums c JOIN tg USING (grp))
       |SELECT grp AS source, t_g AS n_rows,
       |  min(CASE WHEN cum * 10000 >= t_g * 2500 THEN s4 END) AS p2500,
       |  min(CASE WHEN cum * 10000 >= t_g * 5000 THEN s4 END) AS p5000,
       |  min(CASE WHEN cum * 10000 >= t_g * 7500 THEN s4 END) AS p7500,
       |  min(CASE WHEN cum * 10000 >= t_g * 9500 THEN s4 END) AS p9500
       |FROM j GROUP BY 1, 2 ORDER BY source""".stripMargin) { (s, dir) =>
    val scored = Tables.documents(s, dir).select(col("source"),
      TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
    graft.operators.TextStats
      .groupQuantiles(scored, "source", "quality", Seq(2500, 5000, 7500, 9500))
      .select(col("grp").as("source"), col("n_rows"),
        col("p2500"), col("p5000"), col("p7500"), col("p9500"))
      .orderBy(col("source"))
  }

  /** Capstone source-health dashboard: per source — volume, exact-dup
    * uniqueness, token mass, integer-grid quality sum, KS drift vs the
    * corpus, robust median/MAD outliers, and the quartile spread — the
    * q23/q161/q164/q169 machinery in ONE table under ONE oracle; the
    * per-feed report a curation run publishes every crawl. */
  val q170 = GQuery("q170_source_health",
    s"""WITH $qualityCte,
       |srcm AS (SELECT doc_id, source FROM documents),
       |fps AS (
       |  SELECT srcm.source,
       |    md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp,
       |    len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS n_tok
       |  FROM documents d JOIN srcm ON srcm.doc_id = d.doc_id),
       |vol AS (
       |  SELECT source AS grp, count(*) AS n_docs,
       |    count(DISTINCT fp) AS n_unique,
       |    CAST(sum(n_tok) AS BIGINT) AS sum_tokens
       |  FROM fps GROUP BY source),
       |rws AS (
       |  SELECT srcm.source AS grp,
       |    CAST(round(q.quality * 1e4) AS BIGINT) AS s4
       |  FROM q JOIN srcm USING (doc_id)),
       |qsum AS (SELECT grp, CAST(sum(s4) AS BIGINT) AS q4_sum FROM rws
       |         GROUP BY grp),
       |tg AS (SELECT grp, count(*) AS t_g FROM rws GROUP BY grp),
       |sc AS (SELECT grp, s4, count(*) AS n FROM rws GROUP BY 1, 2),
       |ac AS (SELECT s4, count(*) AS n_all FROM rws GROUP BY 1),
       |spine AS (
       |  SELECT g.grp, a.s4
       |  FROM (SELECT DISTINCT grp FROM sc) g CROSS JOIN ac a),
       |cells AS (
       |  SELECT sp.grp, sp.s4, coalesce(sc.n, 0) AS n_g, ac.n_all
       |  FROM spine sp
       |  LEFT JOIN sc ON sc.grp = sp.grp AND sc.s4 = sp.s4
       |  JOIN ac ON ac.s4 = sp.s4),
       |ta AS (SELECT count(*) AS t_all FROM rws),
       |cdf AS (
       |  SELECT grp, s4,
       |    sum(n_g) OVER (PARTITION BY grp ORDER BY s4
       |      ROWS UNBOUNDED PRECEDING) AS c_g,
       |    sum(n_all) OVER (PARTITION BY grp ORDER BY s4
       |      ROWS UNBOUNDED PRECEDING) AS c_all
       |  FROM cells),
       |drift AS (
       |  SELECT cdf.grp,
       |    max(abs(CAST(round(1e4 * c_g / t_g) AS BIGINT)
       |          - CAST(round(1e4 * c_all / t_all) AS BIGINT))) AS ks4
       |  FROM cdf JOIN tg USING (grp) CROSS JOIN ta GROUP BY 1),
       |medc AS (
       |  SELECT grp, min(s4) AS med4 FROM (
       |    SELECT grp, s4,
       |      sum(n) OVER (PARTITION BY grp ORDER BY s4
       |        ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM sc) c JOIN tg USING (grp)
       |  WHERE cum * 2 >= t_g GROUP BY grp),
       |dc AS (
       |  SELECT rws.grp, abs(s4 - med4) AS d4, count(*) AS n
       |  FROM rws JOIN medc USING (grp) GROUP BY 1, 2),
       |madc AS (
       |  SELECT grp, min(d4) AS mad4 FROM (
       |    SELECT grp, d4,
       |      sum(n) OVER (PARTITION BY grp ORDER BY d4
       |        ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM dc) c JOIN tg USING (grp)
       |  WHERE cum * 2 >= t_g GROUP BY grp),
       |outl AS (
       |  SELECT rws.grp,
       |    CAST(sum(CASE WHEN abs(s4 - med4) > 3 * mad4 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_outliers
       |  FROM rws JOIN medc USING (grp) JOIN madc USING (grp) GROUP BY 1),
       |quart AS (
       |  SELECT grp,
       |    min(CASE WHEN cum * 10000 >= t_g * 2500 THEN s4 END) AS p2500,
       |    min(CASE WHEN cum * 10000 >= t_g * 7500 THEN s4 END) AS p7500
       |  FROM (
       |    SELECT grp, s4,
       |      sum(n) OVER (PARTITION BY grp ORDER BY s4
       |        ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM sc) c JOIN tg USING (grp) GROUP BY grp)
       |SELECT vol.grp AS source, vol.n_docs, vol.n_unique, vol.sum_tokens,
       |  qsum.q4_sum, drift.ks4, medc.med4, madc.mad4, outl.n_outliers,
       |  quart.p2500, quart.p7500
       |FROM vol
       |JOIN qsum USING (grp) JOIN drift USING (grp) JOIN medc USING (grp)
       |JOIN madc USING (grp) JOIN outl USING (grp) JOIN quart USING (grp)
       |ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.operators.TextStats
    val docs = Tables.documents(s, dir)
    val vol = docs.groupBy(col("source").as("grp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(TextFunctions.fingerprint(col("text"))).as("n_unique"),
        sum(TextFunctions.tokenCount(col("text")).cast("long"))
          .as("sum_tokens"))
    val scored = docs.select(col("source"),
      TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qsum = scored.groupBy(col("source").as("grp"))
      .agg(sum(round(col("quality") * 1e4).cast("long")).as("q4_sum"))
    val drift = TextStats.groupScoreDrift(scored, "source", "quality")
      .select(col("grp"), col("ks4"))
    val robust = TextStats.groupRobustOutliers(scored, "source", "quality")
      .select(col("grp"), col("med4"), col("mad4"), col("n_outliers"))
    val quart = TextStats.groupQuantiles(scored, "source", "quality",
        Seq(2500, 7500))
      .select(col("grp"), col("p2500"), col("p7500"))
    vol.join(qsum, "grp").join(drift, "grp").join(robust, "grp")
      .join(quart, "grp")
      .select(col("grp").as("source"), col("n_docs"), col("n_unique"),
        col("sum_tokens"), col("q4_sum"), col("ks4"), col("med4"),
        col("mad4"), col("n_outliers"), col("p2500"), col("p7500"))
      .orderBy(col("source"))
  }

  /** Model calibration table: the q126 NB scores cut into 10
    * histogram-equalized deciles (q149's boundaries — reproducible,
    * no global sort) with the ACTUAL keep rate per decile — the
    * monotone-rate artifact every deployed classifier publishes (a
    * non-monotone decile is a miscalibration alarm). One oracle
    * replays training, scoring, boundary derivation, and the rates. */
  val q171 = GQuery("q171_nb_calibration",
    s"""WITH nb AS (${q126.oracle.get}),
       |rws AS (SELECT doc_id, score4 AS s4, label_keep FROM nb),
       |cells AS (SELECT s4, count(*) AS n_cell FROM rws GROUP BY s4),
       |tot AS (SELECT count(*) AS n_total FROM rws),
       |mapped AS (
       |  SELECT s4,
       |    CAST(floor(coalesce(sum(n_cell) OVER (ORDER BY s4
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      * 10 / n_total) AS INT) AS bucket
       |  FROM cells, tot)
       |SELECT bucket, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN label_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(round(1e4 * sum(CASE WHEN label_keep THEN 1 ELSE 0 END)
       |    / count(*)) AS BIGINT) AS keep_rate4,
       |  min(s4) AS min_s4, max(s4) AS max_s4
       |FROM rws JOIN mapped USING (s4)
       |GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    import graft.operators.Sampling
    val nb = sharedNbScores(s, dir)
      .select(col("doc_id"), (col("score4") / 1e4).as("score"),
        col("label_keep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Sampling.rangeBuckets(nb, "doc_id", "score", 10)
      .join(nb.select(col("doc_id"), col("label_keep")), "doc_id")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("label_keep"), 1L).otherwise(0L)).as("n_keep"),
        round(lit(1e4) * sum(when(col("label_keep"), 1L).otherwise(0L))
          / count(lit(1))).cast("long").as("keep_rate4"),
        min(col("s4")).as("min_s4"), max(col("s4")).as("max_s4"))
      .orderBy(col("bucket"))
  }

  /** Exact ROC report for the q126 NB classifier (see
    * [[graft.operators.QualityClassifier.rocReport]]): tie-aware
    * Mann–Whitney AUC as an exact integer numerator (u2 = 2·U) plus
    * the best-F1 operating threshold — the hash-matched counterpart of
    * q89's rows-only AUC floor. ONE oracle replays training, scoring,
    * the per-score-cell pair counting, and the F1 sweep. */
  val q207 = GQuery("q207_nb_roc_auc",
    s"""WITH nb AS (${q126.oracle.get}),
       |cells AS (
       |  SELECT score4 AS s,
       |    CAST(sum(CASE WHEN label_keep THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |    CAST(sum(CASE WHEN label_keep THEN 0 ELSE 1 END) AS BIGINT) AS q
       |  FROM nb GROUP BY score4),
       |cum AS (
       |  SELECT s, p, q,
       |    CAST(coalesce(sum(p) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cp_below,
       |    CAST(coalesce(sum(q) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cq_below
       |  FROM cells),
       |tot AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
       |               CAST(sum(q) AS BIGINT) AS n_neg FROM cells),
       |op AS (
       |  SELECT s, p * (2 * cq_below + q) AS u2_part,
       |    n_pos - cp_below AS tp, n_neg - cq_below AS fp, n_pos, n_neg
       |  FROM cum, tot),
       |f AS (SELECT s,
       |    CAST(round(1e4 * 2.0 * tp / (tp + fp + n_pos)) AS BIGINT) AS f14
       |  FROM op),
       |best AS (SELECT max(f14) AS best_f14 FROM f),
       |agg AS (SELECT CAST(sum(u2_part) AS BIGINT) AS u2 FROM op)
       |SELECT n_pos, n_neg, u2,
       |  CAST(round(1e4 * u2 / (2.0 * n_pos * n_neg)) AS BIGINT) AS auc4,
       |  (SELECT max(s) FROM f, best WHERE f14 = best_f14) AS best_thr,
       |  (SELECT best_f14 FROM best) AS best_f14
       |FROM tot, agg""".stripMargin) { (s, dir) =>
    graft.operators.QualityClassifier.rocReport(
      sharedNbScores(s, dir), "score4", "label_keep")
  }

  /** Per-source unigram KL divergence from the corpus (see
    * [[graft.operators.TextStats.groupTokenKl]]) — token-space domain
    * drift beside q161's score-space KS. Shares the persisted
    * tokenized frame; the oracle replays the census, margins, and
    * 1e-8-grid log parts. */
  /** Split-conformal acceptance gate on the q126 NB scores (see
    * [[graft.operators.QualityClassifier.conformalGate]]): the exact
    * (1−α)(n+1) order-statistic threshold from the even-doc_id
    * calibration split, audited on the held-out odd split — realized
    * coverage of true keeps and the flagged-fraction price. The
    * distribution-free companion to q171's calibration table and
    * q207's AUC: those MEASURE the model, this GUARANTEES a keep rate
    * no matter how wrong the model is. ONE oracle replays training,
    * scoring, the split, the order statistic, and the audit. */
  val q272 = GQuery("q272_conformal_gate",
    s"""WITH nb AS (${q126.oracle.get}),
       |rws AS (SELECT doc_id, score4 AS s4, label_keep,
       |  doc_id % 2 = 0 AS calib FROM nb),
       |cells AS (
       |  SELECT s4 AS s, CAST(count(*) AS BIGINT) AS n FROM rws
       |  WHERE calib AND label_keep GROUP BY s4),
       |cum AS (
       |  SELECT s, CAST(sum(n) OVER (ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum
       |  FROM cells),
       |tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS np,
       |    CAST(floor(1000 * (sum(n) + 1) / 10000) AS BIGINT) AS k
       |  FROM cells),
       |thr AS (
       |  SELECT np AS n_calib_pos,
       |    CASE WHEN k < 1 THEN -9223372036854775808
       |      ELSE (SELECT min(s) FROM cum, tot WHERE cum >= k) END AS thr_s
       |  FROM tot),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_test,
       |    CAST(sum(CASE WHEN label_keep THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_test_pos,
       |    CAST(sum(CASE WHEN label_keep AND s4 >= thr_s THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_covered,
       |    CAST(sum(CASE WHEN s4 >= thr_s THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_flagged
       |  FROM rws, thr WHERE NOT calib)
       |SELECT n_calib_pos, thr_s, n_test, n_test_pos, n_covered,
       |  CAST(round(1e4 * n_covered / n_test_pos) AS BIGINT) AS coverage4,
       |  n_flagged,
       |  CAST(round(1e4 * n_flagged / n_test) AS BIGINT) AS flagged_frac4
       |FROM agg, thr""".stripMargin) { (s, dir) =>
    graft.operators.QualityClassifier.conformalGate(
      sharedNbScores(s, dir)
        .withColumn("calib", col("doc_id") % 2 === 0),
      "score4", "label_keep", "calib", cov4 = 9000L)
  }

  val q216 = GQuery("q216_source_token_kl",
    s"""WITH $tokCte,
       |tk AS (
       |  SELECT d.source AS grp, t.tok
       |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
       |  JOIN documents d USING (doc_id)),
       |sw AS (SELECT grp, tok, CAST(count(*) AS BIGINT) AS n_sw
       |  FROM tk GROUP BY 1, 2),
       |wt AS (SELECT tok, CAST(sum(n_sw) AS BIGINT) AS n_w
       |  FROM sw GROUP BY tok),
       |gt AS (SELECT grp, CAST(sum(n_sw) AS BIGINT) AS t_g,
       |  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
       |  FROM sw GROUP BY grp),
       |tt AS (SELECT CAST(sum(n_sw) AS BIGINT) AS t FROM sw),
       |parts AS (
       |  SELECT grp, t_g, n_distinct,
       |    CAST(round(1e8 * (CAST(n_sw AS DOUBLE) / t_g)
       |      * ln((CAST(n_sw AS DOUBLE) * t)
       |        / (CAST(n_w AS DOUBLE) * t_g))) AS BIGINT) AS part8
       |  FROM sw JOIN wt USING (tok) JOIN gt USING (grp), tt)
       |SELECT grp AS source, t_g AS n_tokens, n_distinct,
       |  CAST(sum(part8) AS BIGINT) AS kl8
       |FROM parts GROUP BY 1, 2, 3 ORDER BY source""".stripMargin) {
    (s, dir) =>
    graft.operators.TextStats.groupTokenKl(
        sharedToks(s, dir),
        Tables.documents(s, dir).select(col("doc_id").as("id"),
          col("source")),
        "source")
      .withColumnRenamed("grp", "source")
      .orderBy(col("source"))
  }

  /** Dirichlet query-likelihood retrieval (see
    * [[graft.operators.Search.queryLikelihood]]) on q105's query —
    * the LM ranking baseline beside BM25, scored in the matched-terms
    * decomposition with a length prior. The oracle replays both
    * grid-part families term by term. */
  val q219 = {
    val Terms = Seq("dup", "sort", "batch")
    val Mu = 2000.0
    val K = 20
    val termList = Terms.map(t => s"'$t'").mkString(", ")
    GQuery("q219_query_likelihood",
      s"""WITH $tokCte,
         |lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS len FROM tok),
         |ctot AS (SELECT CAST(sum(len) AS BIGINT) AS c FROM lens),
         |hits AS (
         |  SELECT doc_id, t.tok AS term
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
         |  WHERE t.tok IN ($termList)),
         |cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf
         |  FROM hits GROUP BY term),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM hits GROUP BY 1, 2),
         |m AS (
         |  SELECT doc_id, CAST(sum(CAST(round(1e4 * ln(1.0
         |      + (CAST(tf AS DOUBLE) * c) / ($Mu * CAST(cf AS DOUBLE))))
         |    AS BIGINT)) AS BIGINT) AS m4
         |  FROM tf JOIN cf USING (term), ctot GROUP BY doc_id)
         |SELECT lens.doc_id AS doc_id,
         |  (coalesce(m.m4, 0) + CAST(round(1e4 * ${Terms.size}.0
         |    * ln($Mu / (len + $Mu))) AS BIGINT)) / 1e4 AS score
         |FROM lens LEFT JOIN m ON m.doc_id = lens.doc_id
         |ORDER BY score DESC, doc_id LIMIT $K""".stripMargin) { (s, dir) =>
      graft.operators.Search.queryLikelihood(sharedToks(s, dir), Terms, Mu)
        .select(col("id").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(K)
    }
  }

  /** Source vocabulary-overlap matrix: pairwise distinct-token
    * Jaccard AND both directed containments between sources — "do
    * these feeds write in the same words, or does one subsume the
    * other" (the vocabulary complement of q216's distributional KL).
    * Reuses [[graft.operators.EventOps.audienceOverlap]] with tokens
    * as the universe and sources as the sets — the inverted-index
    * overlap shape is identical; containments derive from the same
    * exact counts. */
  val q220 = GQuery("q220_source_vocab_overlap",
    s"""WITH $tokCte,
       |tk AS (
       |  SELECT DISTINCT t.tok, d.source
       |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
       |  JOIN documents d USING (doc_id)),
       |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_i
       |  FROM tk GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS item_a, b.source AS item_b,
       |    CAST(count(*) AS BIGINT) AS n_both
       |  FROM tk a JOIN tk b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT item_a, item_b, n_both, sa.n_i AS n_a, sb.n_i AS n_b,
       |  CAST(round(1e4 * n_both / (sa.n_i + sb.n_i - n_both)) AS BIGINT)
       |    AS jaccard4,
       |  CAST(round(1e4 * n_both / sa.n_i) AS BIGINT) AS cont_a4,
       |  CAST(round(1e4 * n_both / sb.n_i) AS BIGINT) AS cont_b4
       |FROM pairs
       |JOIN sizes sa ON sa.source = item_a
       |JOIN sizes sb ON sb.source = item_b
       |ORDER BY item_a, item_b""".stripMargin) { (s, dir) =>
    val tk = sharedToks(s, dir)
      .select(explode(col("ws")).as("tok"), col("id"))
      .join(Tables.documents(s, dir).select(col("doc_id").as("id"),
        col("source")), "id")
    graft.operators.EventOps.audienceOverlap(tk, "tok", "source")
      .withColumn("cont_a4",
        round(lit(1e4) * col("n_both") / col("n_a")).cast("long"))
      .withColumn("cont_b4",
        round(lit(1e4) * col("n_both") / col("n_b")).cast("long"))
      .orderBy(col("item_a"), col("item_b"))
  }

  /** Per-source PSI of the quality-score distribution against the
    * corpus mix (see
    * [[graft.operators.TextStats.groupPsiFromCells]]) — q161's KS
    * reports the worst CDF gap, this integrates the mismatch with the
    * deployed-model 0.1/0.25 thresholds; both run off the same grid
    * cells. */
  val q225 = GQuery("q225_source_quality_psi",
    s"""WITH $qualityCte,
       |srcm AS (SELECT doc_id, source FROM documents),
       |rws AS (
       |  SELECT srcm.source AS grp,
       |    CAST(round(q.quality * 1e4) AS BIGINT) AS s4
       |  FROM q JOIN srcm USING (doc_id)),
       |gc AS (SELECT grp, s4, CAST(count(*) AS BIGINT) AS n_g
       |  FROM rws GROUP BY 1, 2),
       |ac AS (SELECT s4, CAST(sum(n_g) AS BIGINT) AS n_all
       |  FROM gc GROUP BY s4),
       |spine AS (
       |  SELECT g.grp, a.s4
       |  FROM (SELECT DISTINCT grp FROM gc) g CROSS JOIN ac a),
       |cells AS (
       |  SELECT sp.grp, sp.s4, coalesce(gc.n_g, 0) AS n_g, ac.n_all
       |  FROM spine sp
       |  LEFT JOIN gc ON gc.grp = sp.grp AND gc.s4 = sp.s4
       |  JOIN ac ON ac.s4 = sp.s4),
       |tg AS (SELECT grp, CAST(sum(n_g) AS BIGINT) AS t_g
       |  FROM gc GROUP BY grp),
       |ta AS (SELECT CAST(sum(n_g) AS BIGINT) AS t_all FROM gc),
       |nb_ AS (SELECT CAST(count(*) AS BIGINT) AS b FROM ac),
       |parts AS (
       |  SELECT c.grp, tg.t_g,
       |    CAST(round(1e8 * (
       |        ((n_g + 0.5) / (t_g + 0.5 * b)
       |          - (n_all + 0.5) / (t_all + 0.5 * b))
       |      * ln(((n_g + 0.5) / (t_g + 0.5 * b))
       |          / ((n_all + 0.5) / (t_all + 0.5 * b))))) AS BIGINT) AS part8
       |  FROM cells c JOIN tg USING (grp), ta, nb_)
       |SELECT grp AS source, t_g AS n_rows,
       |  CAST(sum(part8) AS BIGINT) AS psi8
       |FROM parts GROUP BY 1, 2 ORDER BY source""".stripMargin) { (s, dir) =>
    val cells = Tables.documents(s, dir)
      .select(col("source").as("grp"),
        round(TextFunctions.qualityScore(col("text"), col("n_chars"))
          * 1e4).cast("long").as("s4"))
      .groupBy("grp", "s4").agg(count(lit(1)).as("n"))
    graft.operators.TextStats.groupPsiFromCells(cells)
      .select(col("grp").as("source"), col("n_rows"), col("psi8"))
      .orderBy(col("source"))
  }

  /** PII density census over event payloads (see
    * [[graft.operators.TextStats.piiCensus]]): per (event type,
    * pattern), rows containing and total matches of the q71 email/IP
    * patterns — the measure-before-redact privacy report. Same
    * RE2-compatible patterns run verbatim in both engines. */
  val q236 = {
    val pats = TextFunctions.PiiPatterns.filter(p => p._1 != "number")
    val branches = pats.map { case (name, p) =>
      s"""SELECT grp, '$name' AS pattern,
         |  CASE WHEN len(regexp_extract_all(t, '$p')) > 0
         |    THEN 1 ELSE 0 END AS hit,
         |  CAST(len(regexp_extract_all(t, '$p')) AS BIGINT) AS m
         |FROM base""".stripMargin
    }.mkString("\nUNION ALL\n")
    GQuery("q236_pii_census",
      s"""WITH base AS (
         |  SELECT event_type AS grp, props AS t FROM events
         |  WHERE props IS NOT NULL),
         |r AS (
         |$branches)
         |SELECT grp AS event_type, pattern, count(*) AS n_rows,
         |  CAST(sum(hit) AS BIGINT) AS n_rows_with,
         |  CAST(sum(m) AS BIGINT) AS n_matches
         |FROM r GROUP BY 1, 2 ORDER BY event_type, pattern""".stripMargin) {
      (s, dir) =>
      graft.operators.TextStats.piiCensus(Tables.events(s, dir),
          "event_type", "props", pats)
        .withColumnRenamed("grp", "event_type")
        .orderBy(col("event_type"), col("pattern"))
    }
  }

  /** Chao1 vocabulary richness per source (see
    * [[graft.operators.TextStats.vocabRichness]]): observed distinct
    * tokens plus the hapax/doubleton unseen-mass correction — how much
    * vocabulary the sample hasn't shown yet, per feed. Off the shared
    * tokenized frame; the oracle replays the census and the
    * bias-corrected estimate. */
  val q239 = GQuery("q239_vocab_richness",
    s"""WITH $tokCte,
       |tk AS (
       |  SELECT d.source AS grp, t.tok
       |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
       |  JOIN documents d USING (doc_id)),
       |cnt AS (SELECT grp, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM tk GROUP BY 1, 2),
       |a AS (
       |  SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    count(*) AS d_observed,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |  FROM cnt GROUP BY grp)
       |SELECT grp AS source, n_tokens, d_observed, f1, f2,
       |  CAST(round(d_observed + CAST(f1 AS DOUBLE) * (f1 - 1)
       |    / (2.0 * (f2 + 1))) AS BIGINT) AS chao1
       |FROM a ORDER BY source""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.vocabRichness(
        sharedToks(s, dir),
        Tables.documents(s, dir).select(col("doc_id").as("id"),
          col("source")),
        "source")
      .withColumnRenamed("grp", "source")
      .orderBy(col("source"))
  }

  /** Flesch reading-ease census per source (see
    * [[graft.operators.TextStats.readability]]): regex-proxy
    * sentences/syllables, per-doc 1e-4-grid scores, integer
    * aggregation — the readability axis of the data card. */
  val q242 = GQuery("q242_readability",
    """WITH base AS (SELECT source, text FROM documents
      |  WHERE text IS NOT NULL),
      |f AS (
      |  SELECT source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      AS w,
      |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
      |      AS BIGINT), 1) AS s,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |      AS BIGINT) AS y
      |  FROM base),
      |sc AS (
      |  SELECT source,
      |    CAST(round(1e4 * (206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
      |      - 84.6 * (CAST(y AS DOUBLE) / w))) AS BIGINT) AS f4
      |  FROM f WHERE w > 0),
      |a AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(round(avg(f4)) AS BIGINT) AS avg_flesch4,
      |    CAST(sum(CASE WHEN f4 >= 600000 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_easy
      |  FROM sc GROUP BY source)
      |SELECT source, n_docs, avg_flesch4, n_easy,
      |  CAST(round(1e4 * n_easy / n_docs) AS BIGINT) AS easy_frac4
      |FROM a ORDER BY source""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.readability(
        Tables.documents(s, dir), "source", "text")
      .withColumnRenamed("grp", "source")
      .orderBy(col("source"))
  }

  /** Variance explained by factor (see
    * [[graft.operators.Profiling.varianceExplained]]): η² of the
    * quality score by language vs by source — which axis of the corpus
    * actually drives quality spread, the question a mixture designer
    * answers before reweighting either. One oracle replays both
    * decompositions with the same grid parts. */
  val q250 = GQuery("q250_variance_explained",
    s"""WITH $qualityCte,
       |docs2 AS (
       |  SELECT d.lang, d.source,
       |    CAST(round(q.quality * 1e4) AS BIGINT) AS v4
       |  FROM q JOIN documents d USING (doc_id)),
       |tl AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(v4) AS BIGINT) AS s,
       |  CAST(sum(v4 * v4) AS BIGINT) AS q2 FROM docs2),
       |g AS (SELECT n, s, q2,
       |  CAST(round(1e4 * (CAST(s AS DOUBLE) * s / n)) AS BIGINT) AS g4
       |  FROM tl),
       |bl AS (SELECT CAST(sum(b4) AS BIGINT) AS b4sum FROM (
       |  SELECT CAST(round(1e4 * (CAST(sum(v4) AS DOUBLE) * sum(v4)
       |    / count(*))) AS BIGINT) AS b4
       |  FROM docs2 GROUP BY lang)),
       |bs AS (SELECT CAST(sum(b4) AS BIGINT) AS b4sum FROM (
       |  SELECT CAST(round(1e4 * (CAST(sum(v4) AS DOUBLE) * sum(v4)
       |    / count(*))) AS BIGINT) AS b4
       |  FROM docs2 GROUP BY source))
       |SELECT * FROM (
       |  SELECT 'lang' AS factor, g.n,
       |    CASE WHEN 10000 * g.q2 - g.g4 = 0 THEN NULL
       |      ELSE CAST(round(1e4 * CAST(bl.b4sum - g.g4 AS DOUBLE)
       |        / CAST(10000 * g.q2 - g.g4 AS DOUBLE)) AS BIGINT) END
       |      AS eta4
       |  FROM g, bl
       |  UNION ALL
       |  SELECT 'source', g.n,
       |    CASE WHEN 10000 * g.q2 - g.g4 = 0 THEN NULL
       |      ELSE CAST(round(1e4 * CAST(bs.b4sum - g.g4 AS DOUBLE)
       |        / CAST(10000 * g.q2 - g.g4 AS DOUBLE)) AS BIGINT) END
       |  FROM g, bs)
       |ORDER BY factor""".stripMargin) { (s, dir) =>
    val scored = Tables.documents(s, dir).select(col("lang"), col("source"),
      TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
    Seq("lang", "source").map { f =>
      graft.operators.Profiling.varianceExplained(scored, f, "quality")
        .select(lit(f).as("factor"), col("n"), col("eta4"))
    }.reduce(_ unionAll _)
      .orderBy(col("factor"))
  }

  /** WordPiece merge induction (see
    * [[graft.operators.Bpe.trainWordpieceFromTokens]]) — the third
    * tokenizer family: the q83 BPE chain with the LIKELIHOOD argmax
    * (fuse the pair maximizing count(l,r)/(count(l)·count(r)),
    * grid-snapped to integer millinats, ties (l, r) ASC). The oracle
    * replays all rounds: per iteration the same double-delimiter pair
    * census as q83 PLUS a symbol census off the same segmentation,
    * the snapped-score argmax, and the replace. Early stop (no pair
    * ≥ 2) falls out of the empty LIMIT 1 + no-op LEFT JOIN as in
    * q83. */
  /** The q340 WordPiece training-replay chain (census → n ×
    * (pairs, syms, best, it) MATERIALIZED CTEs) — shared with q344,
    * which extends it with the greedy-apply chain. */
  private def wpTrainCtes(n: Int): Seq[String] = {
    val S = bpeS
    locally {
      val head = Seq(
        bpeCte("tok",
          """
            |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
            |  FROM documents""".stripMargin, mat = false),
        bpeCte("cen",
          s"""
             |  SELECT tok, count(*) AS cnt FROM (SELECT unnest(ws) AS tok FROM tok) t
             |  GROUP BY tok ORDER BY cnt DESC, tok LIMIT ${1 << 20}""".stripMargin),
        bpeCte("it0",
          s"""
             |  SELECT tok, cnt,
             |    array_to_string([$S || c || $S for c in string_split(tok, '')], '')
             |      || $S || '</w>' || $S AS seg
             |  FROM cen""".stripMargin))
      val iters = (0 until n).flatMap { k =>
        Seq(
          bpeCte(s"pairs$k",
            s"""
               |  SELECT u.l AS l, u.r AS r, sum(cnt) AS c FROM (
               |    SELECT cnt, unnest([{'l': sg[i], 'r': sg[i + 1]}
               |                        for i in range(1, len(sg))]) AS u
               |    FROM (SELECT cnt, string_split(trim(seg, $S), $S || $S) AS sg
               |          FROM it$k))
               |  GROUP BY 1, 2""".stripMargin),
          bpeCte(s"syms$k",
            s"""
               |  SELECT u AS s, sum(cnt) AS sc FROM (
               |    SELECT cnt, unnest(string_split(trim(seg, $S), $S || $S)) AS u
               |    FROM it$k)
               |  GROUP BY 1""".stripMargin),
          bpeCte(s"best$k",
            s"""
               |  SELECT $k AS rank, l, r, c,
               |    CAST(floor(1000 * ln(CAST(c AS DOUBLE)
               |      / (CAST(sl.sc AS DOUBLE) * CAST(sr.sc AS DOUBLE)))
               |      + 0.5) AS BIGINT) AS sm
               |  FROM pairs$k p JOIN syms$k sl ON sl.s = p.l
               |                 JOIN syms$k sr ON sr.s = p.r
               |  WHERE c >= 2
               |  ORDER BY sm DESC, l, r LIMIT 1""".stripMargin),
          bpeCte(s"it${k + 1}",
            s"""
               |  SELECT tok, cnt,
               |    CASE WHEN b.l IS NULL THEN seg
               |         ELSE replace(seg, $S || b.l || $S || $S || b.r || $S,
               |                      $S || b.l || b.r || $S) END AS seg
               |  FROM it$k LEFT JOIN best$k b ON TRUE""".stripMargin))
      }
      head ++ iters
    }
  }

  val q340 = {
    val N = 40
    val union = (0 until N)
      .map(k => s"SELECT rank, l, r, c, sm FROM best$k")
      .mkString("\nUNION ALL\n")
    GQuery("q340_wordpiece_merges",
      "WITH " + wpTrainCtes(N).mkString(",\n") +
        s"""
           |SELECT CAST(rank AS INT) AS rank, l AS "left", r AS "right",
           |  CAST(c AS BIGINT) AS pair_count, sm AS score_m
           |FROM ($union) ORDER BY rank""".stripMargin) { (s, dir) =>
      graft.operators.Bpe.trainWordpieceFromTokens(sharedToks(s, dir),
          nMerges = N)
        .orderBy(col("rank"))
    }
  }

  /** The trained WordPiece APPLIED the production way (see
    * [[graft.operators.Bpe.greedyPieces]]): greedy longest-match-first
    * segmentation of every distinct word against the shipped vocab
    * (census code points + `</w>`-stripped merge products), `##`
    * continuation prefixes, whole word → `[UNK]` when a position
    * matches nothing or the word exceeds 16 code points. NOT merge
    * replay — that is BPE's apply (q113); the two segmentations
    * diverge on the same vocab (`BpeSpec`). Output: the top-100
    * occurrence-weighted piece census. The oracle extends the q340
    * training replay with the vocab CTE and one greedy-match step CTE
    * per position (each step consumes ≥ 1 code point, so 16 steps
    * cover every non-UNK word). */
  private val wpN = 40     // WordPiece merges, = q340
  private val wpMaxW = 16  // max_input_chars_per_word
  private val wpMaxP = 12  // longest piece ever matched, both engines

  /** The greedy WordPiece APPLY chain over a [[wpTrainCtes]] prefix:
    * shipped-vocab CTE (`wpv`), word counts (`wcnt`), one
    * longest-match step CTE per position (each consumes ≥ 1 code
    * point), fully-segmented words (`segok`), decorated piece rows
    * (`wpp` — `##` continuations), and per-word piece counts
    * (`uwn2`). Shared by q344 (piece census) and q348 (per-source
    * compression). */
  private def wpApplyCtes(n: Int): Seq[String] = {
    val union = (0 until n)
      .map(k => s"SELECT l, r FROM best$k")
      .mkString("\nUNION ALL\n")
    val steps = (1 to wpMaxW).flatMap { k =>
      Seq(
        bpeCte(s"b$k",
          s"""
             |  SELECT a.tok, a.pos, max(r.l) AS l
             |  FROM (SELECT tok, pos FROM g${k - 1}
             |        WHERE ok AND pos < length(tok)) a
             |  JOIN range(1, ${wpMaxP + 1}) r(l)
             |    ON a.pos + r.l <= length(a.tok)
             |  JOIN wpv v ON v.piece = substr(a.tok, a.pos + 1, r.l)
             |  GROUP BY 1, 2""".stripMargin),
        bpeCte(s"p$k",
          s"""
             |  SELECT tok, pos, substr(tok, pos + 1, l) AS raw FROM b$k""".stripMargin),
        bpeCte(s"g$k",
          s"""
             |  SELECT g.tok,
             |    CASE WHEN b.l IS NULL THEN g.pos ELSE g.pos + b.l END AS pos,
             |    g.ok AND (b.l IS NOT NULL OR g.pos >= length(g.tok)) AS ok
             |  FROM g${k - 1} g LEFT JOIN b$k b USING (tok)""".stripMargin))
    }
    val pieceUnion = (1 to wpMaxW).map(k => s"SELECT tok, pos, raw FROM p$k")
      .mkString("\n    UNION ALL ")
    Seq(
      bpeCte("wpv",
        s"""
           |  SELECT DISTINCT piece FROM (
           |    SELECT replace(l || r, '</w>', '') AS piece FROM ($union)
           |    UNION ALL
           |    SELECT unnest(string_split(tok, '')) FROM cen)
           |  WHERE piece <> ''""".stripMargin),
      bpeCte("wcnt",
        """
          |  SELECT tok, CAST(count(*) AS BIGINT) AS c
          |  FROM (SELECT unnest(ws) AS tok FROM tok) t GROUP BY 1""".stripMargin),
      bpeCte("g0",
        s"""
           |  SELECT tok, 0 AS pos, length(tok) <= $wpMaxW AS ok FROM wcnt""".stripMargin)) ++
      steps ++ Seq(
      bpeCte("segok", s"SELECT tok FROM g$wpMaxW WHERE ok"),
      bpeCte("wpp",
        s"""
           |  SELECT tok, pos,
           |    CASE WHEN pos = 0 THEN raw ELSE '##' || raw END AS piece
           |  FROM ($pieceUnion)""".stripMargin),
      bpeCte("uwn2",
        """
          |  SELECT tok, CAST(count(*) AS BIGINT) AS n_sub
          |  FROM wpp JOIN segok USING (tok) GROUP BY tok""".stripMargin))
  }

  val q344 = {
    GQuery("q344_wordpiece_tokenize",
      "WITH " + (wpTrainCtes(wpN) ++ wpApplyCtes(wpN) ++ Seq(
        bpeCte("census",
          s"""
             |  SELECT p.piece, CAST(sum(w.c) AS BIGINT) AS n_occ
             |  FROM wpp p
             |  JOIN segok USING (tok) JOIN wcnt w USING (tok)
             |  GROUP BY 1
             |  UNION ALL
             |  SELECT '[UNK]' AS piece, CAST(sum(w.c) AS BIGINT) AS n_occ
             |  FROM g$wpMaxW g JOIN wcnt w USING (tok)
             |  WHERE NOT g.ok HAVING count(*) > 0""".stripMargin)))
        .mkString(",\n") +
        """
          |SELECT piece, n_occ FROM census
          |ORDER BY n_occ DESC, piece LIMIT 100""".stripMargin) { (s, dir) =>
      val toks = sharedToks(s, dir)
      val merges = graft.operators.Bpe
        .trainWordpieceFromTokens(toks, nMerges = wpN)
        .orderBy(col("rank"))
        .select(col("left"), col("right"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val vocab = graft.operators.Bpe.wordpieceVocab(toks, merges)
      graft.operators.Bpe.wordpiecePieceCensus(toks, vocab,
          maxPieceLen = wpMaxP, maxWordLen = wpMaxW)
        .orderBy(col("n_occ").desc, col("piece")).limit(100)
    }
  }

  /** The WordPiece tokenizer's per-source compression readout (see
    * [[graft.operators.Bpe.wordpieceSegmentStats]]): word / piece /
    * UNK-word counts and chars-per-piece — the q113/q337 statistic
    * under the THIRD tokenizer family, completing the train+apply
    * symmetry across BPE, unigram-LM and WordPiece. UNK words
    * contribute zero pieces (ratios read over the segmented mass).
    * The oracle is the q344 chain's per-word piece counts LEFT-joined
    * back onto the token stream. */
  val q348 = {
    GQuery("q348_wordpiece_compression",
      "WITH " + (wpTrainCtes(wpN) ++ wpApplyCtes(wpN) ++ Seq(
        bpeCte("docsub2",
          """
            |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
            |    CAST(sum(coalesce(s.n_sub, 0)) AS BIGINT) AS n_pieces,
            |    CAST(sum(CASE WHEN s.n_sub IS NULL THEN 1 ELSE 0 END)
            |      AS BIGINT) AS n_unk
            |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
            |  LEFT JOIN uwn2 s USING (tok)
            |  GROUP BY t.doc_id""".stripMargin)))
        .mkString(",\n") +
        """
          |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(j.n_words) AS BIGINT) AS n_words,
          |  CAST(sum(j.n_pieces) AS BIGINT) AS n_pieces,
          |  CAST(sum(j.n_unk) AS BIGINT) AS n_unk_words,
          |  round(CAST(sum(d.n_chars) AS DOUBLE)
          |    / CAST(sum(j.n_pieces) AS DOUBLE), 4) AS chars_per_piece
          |FROM docsub2 j JOIN documents d USING (doc_id)
          |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      val toks = sharedToks(s, dir)
      val merges = graft.operators.Bpe
        .trainWordpieceFromTokens(toks, nMerges = wpN)
        .orderBy(col("rank"))
        .select(col("left"), col("right"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val vocab = graft.operators.Bpe.wordpieceVocab(toks, merges)
      graft.operators.Bpe.wordpieceSegmentStats(toks, vocab,
          maxPieceLen = wpMaxP, maxWordLen = wpMaxW)
        .join(Tables.documents(s, dir)
          .select(col("doc_id").as("id"), col("source"), col("n_chars")),
          Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          sum(col("n_unk_words")).as("n_unk_words"),
          round(sum(col("n_chars")).cast("double")
            / sum(col("n_pieces")).cast("double"), 4)
            .as("chars_per_piece"))
        .orderBy(col("source"))
    }
  }

  /** The q336/q337 unigram-LM training-replay chain. The whole
    * training ([[graft.operators.UnigramLm]]) is deterministic —
    * integer counts everywhere, one grid-snapped `ln` per cost — so
    * the oracle replays it: substring seed census, then per EM round a
    * 12-step Viterbi DP (chained MATERIALIZED CTEs, one per position,
    * each keeping the argmin by (cost, previ) — the same tie-break as
    * the Scala fold) plus a 12-step backtrack emitting the pieces on
    * each word's best path. `passName` tags the CTE family; `words`
    * is the word table (must expose `tok`); `costs` the piece-cost
    * table for the pass. */
  private val ulmL = 12  // maxWordLen: DP positions per pass
  private val ulmP = 4   // maxPieceLen
  private def ulmFwdCtes(pass: String, words: String,
                         costs: String): Seq[String] = {
    val f0 = bpeCte(s"f0$pass",
      s"""
         |  SELECT tok, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS previ,
         |    CAST(0 AS BIGINT) AS np
         |  FROM $words""".stripMargin, mat = false)
    val steps = (1 to ulmL).map { j =>
      bpeCte(s"f$j$pass",
        s"""
           |  SELECT * FROM f${j - 1}$pass
           |  UNION ALL
           |  SELECT tok, pos, cost, previ, np FROM (
           |    SELECT f.tok, $j AS pos,
           |      f.cost + coalesce(v.cost, 10000000) AS cost,
           |      f.pos AS previ, f.np + 1 AS np,
           |      row_number() OVER (PARTITION BY f.tok
           |        ORDER BY f.cost + coalesce(v.cost, 10000000), f.pos)
           |        AS rn
           |    FROM f${j - 1}$pass f
           |    LEFT JOIN $costs v
           |      ON v.piece = substr(f.tok, f.pos + 1, $j - f.pos)
           |    WHERE length(f.tok) >= $j
           |      AND f.pos BETWEEN $j - $ulmP AND $j - 1
           |      AND (v.piece IS NOT NULL OR $j - f.pos = 1))
           |  WHERE rn = 1""".stripMargin)
    }
    f0 +: steps
  }
  private def ulmEmCtes(round: Int): Seq[String] = {
    val pass = s"x$round"
    val fwd = ulmFwdCtes(pass, "ucen", s"uc${round - 1}")
    val t0 = bpeCte(s"t0$pass",
      s"SELECT tok, length(tok) AS pos FROM ucen", mat = false)
    val back = (1 to ulmL).map { k =>
      bpeCte(s"t$k$pass",
        s"""
           |  SELECT b.tok, f.previ AS pos,
           |    substr(b.tok, f.previ + 1, b.pos - f.previ) AS piece
           |  FROM t${k - 1}$pass b
           |  JOIN f$ulmL$pass f ON f.tok = b.tok AND f.pos = b.pos
           |  WHERE b.pos > 0""".stripMargin)
    }
    val union = (1 to ulmL).map(k => s"SELECT tok, piece FROM t$k$pass")
      .mkString("\n    UNION ALL ")
    val up = bpeCte(s"up$round",
      s"""
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS vcnt FROM (
         |    $union) p JOIN ucen USING (tok) GROUP BY piece""".stripMargin)
    val uv = bpeCte(s"uv$round",
      s"""
         |  SELECT s.piece,
         |    CASE WHEN length(s.piece) = 1
         |         THEN greatest(coalesce(n.vcnt, 0), 1)
         |         ELSE n.vcnt END AS ecnt
         |  FROM uv${round - 1} s LEFT JOIN up$round n USING (piece)
         |  WHERE length(s.piece) = 1 OR coalesce(n.vcnt, 0) >= 1""".stripMargin)
    val uc = bpeCte(s"uc$round",
      s"""
         |  SELECT piece, CAST(floor(1000 * ln(
         |      (SELECT CAST(sum(ecnt) AS DOUBLE) FROM uv$round) / ecnt)
         |    + 0.5) AS BIGINT) AS cost
         |  FROM uv$round""".stripMargin)
    fwd ++ (t0 +: back) ++ Seq(up, uv, uc)
  }
  private def ulmTrainCtes(nIter: Int): Seq[String] = {
    val head = Seq(
      bpeCte("tok",
        """
          |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          |  FROM documents""".stripMargin, mat = false),
      bpeCte("ucen",
        s"""
           |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           |  FROM (SELECT unnest(ws) AS tok FROM tok) t
           |  WHERE length(tok) BETWEEN 1 AND $ulmL
           |  GROUP BY tok ORDER BY cnt DESC, tok LIMIT ${1 << 20}""".stripMargin),
      bpeCte("usub",
        s"""
           |  SELECT substr(tok, i, l) AS piece, CAST(sum(cnt) AS BIGINT) AS scnt
           |  FROM ucen, range(1, ${ulmL + 1}) r(i), range(1, ${ulmP + 1}) q(l)
           |  WHERE i + l <= length(tok) + 1
           |  GROUP BY 1""".stripMargin),
      bpeCte("uv0",
        s"""
           |  SELECT piece, scnt AS ecnt FROM usub WHERE length(piece) = 1
           |  UNION ALL
           |  SELECT piece, scnt FROM (
           |    SELECT piece, scnt FROM usub WHERE length(piece) >= 2
           |    ORDER BY scnt DESC, piece LIMIT 500)""".stripMargin),
      bpeCte("uc0",
        """
          |  SELECT piece, CAST(floor(1000 * ln(
          |      (SELECT CAST(sum(ecnt) AS DOUBLE) FROM uv0) / ecnt)
          |    + 0.5) AS BIGINT) AS cost
          |  FROM uv0""".stripMargin))
    head ++ (1 to nIter).flatMap(ulmEmCtes)
  }

  /** Unigram-LM (SentencePiece-family) tokenizer training (see
    * [[graft.operators.UnigramLm.train]]): seed substring census →
    * 2 rounds of hard Viterbi EM → grid-snapped integer-millinat piece
    * costs. The oracle replays the ENTIRE training — seed, both EM
    * rounds (12-position Viterbi DP + backtrack each), cost snapping —
    * in chained MATERIALIZED CTEs; `UnigramLmSpec` additionally proves
    * the Viterbi law against brute-force enumeration. */
  val q336 = GQuery("q336_unigram_lm_train",
    "WITH " + ulmTrainCtes(2).mkString(",\n") + """
      |SELECT CAST(row_number() OVER (ORDER BY v.ecnt DESC, v.piece)
      |    AS BIGINT) AS rank,
      |  v.piece, CAST(v.ecnt AS BIGINT) AS cnt, c.cost AS cost_millinats
      |FROM uv2 v JOIN uc2 c USING (piece)
      |ORDER BY rank""".stripMargin) { (s, dir) =>
    graft.operators.UnigramLm.train(sharedToks(s, dir))
      .orderBy(col("rank"))
  }

  /** The trained unigram-LM APPLIED corpus-wide (see
    * [[graft.operators.UnigramLm.segmentStats]]): per-source word /
    * piece counts and chars-per-piece compression — the q113 statistic
    * under the OTHER tokenizer family. The oracle extends the q336
    * replay with one more Viterbi pass over the distinct-word list
    * (words beyond 12 cps: head by DP, tail as single cps), then joins
    * the per-word piece counts back onto the token stream. */
  val q337 = {
    val applyCtes = Seq(
      bpeCte("uawh",
        s"""
           |  SELECT tok, substr(tok, 1, $ulmL) AS head,
           |    greatest(length(tok) - $ulmL, 0) AS tail
           |  FROM (SELECT DISTINCT unnest(ws) AS tok FROM tok)""".stripMargin),
      bpeCte("uhw", "SELECT DISTINCT head AS tok FROM uawh")) ++
      ulmFwdCtes("ap", "uhw", "uc2") ++ Seq(
      bpeCte("uwn",
        s"""
           |  SELECT a.tok, f.np + a.tail AS n_sub
           |  FROM uawh a JOIN f${ulmL}ap f
           |    ON f.tok = a.head AND f.pos = length(a.head)""".stripMargin),
      bpeCte("udoc",
        """
          |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
          |    CAST(sum(s.n_sub) AS BIGINT) AS n_pieces
          |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
          |  JOIN uwn s USING (tok) GROUP BY t.doc_id""".stripMargin))
    GQuery("q337_unigram_lm_tokenize",
      "WITH " + (ulmTrainCtes(2) ++ applyCtes).mkString(",\n") + """
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(j.n_words) AS BIGINT) AS n_words,
        |  CAST(sum(j.n_pieces) AS BIGINT) AS n_pieces,
        |  round(CAST(sum(d.n_chars) AS DOUBLE)
        |    / CAST(sum(j.n_pieces) AS DOUBLE), 4) AS chars_per_piece
        |FROM udoc j JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      val toks = sharedToks(s, dir)
      val cost = graft.operators.UnigramLm.costMap(
        graft.operators.UnigramLm.train(toks))
      graft.operators.UnigramLm.segmentStats(toks, cost)
        .join(Tables.documents(s, dir)
          .select(col("doc_id").as("id"), col("source"), col("n_chars")),
          Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          round(sum(col("n_chars")).cast("double")
            / sum(col("n_pieces")).cast("double"), 4)
            .as("chars_per_piece"))
        .orderBy(col("source"))
    }
  }

  /** The [[graft.operators.Profiling.groupLinFit]] OLS tail rendered
    * in SQL over a sufficient-stats CTE `s(grp, n, sx, sy, sxx, sxy,
    * syy)` — the q194 assembly, shared by the corpus-law fits
    * (q351/q352) so the slope/intercept/r² grids cannot drift between
    * oracles. */
  private def olsTailSql(keyAs: String): String =
    s"""SELECT grp AS $keyAs, CAST(n AS BIGINT) AS n,
       |  CAST(round(1e6 * CAST(n * sxy - sx * sy AS DOUBLE)
       |    / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS slope6,
       |  CAST(round((CAST(sy AS DOUBLE)
       |      - (CAST(n * sxy - sx * sy AS DOUBLE)
       |         / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
       |    / CAST(n AS DOUBLE)) AS BIGINT) AS intercept,
       |  CAST(CASE WHEN n * syy - sy * sy > 0 THEN
       |    round(1e4 * CAST(n * sxy - sx * sy AS DOUBLE)
       |      * CAST(n * sxy - sx * sy AS DOUBLE)
       |      / (CAST(n * sxx - sx * sx AS DOUBLE)
       |         * CAST(n * syy - sy * sy AS DOUBLE)))
       |    ELSE 10000 END AS BIGINT) AS r2_4
       |FROM s WHERE n * sxx - sx * sx > 0
       |ORDER BY $keyAs""".stripMargin

  private val olsSumsSql: String =
    """s AS (
      |  SELECT grp, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      |  FROM xy GROUP BY grp)""".stripMargin

  /** Zipf rank-frequency fit per source (see
    * [[graft.operators.TextStats.zipfFit]]): OLS slope of ln freq on
    * ln rank over the top-500 ranked token census (freq ≥ 5) — the
    * corpus-law diagnostic (natural text ≈ −1; boilerplate floods
    * flatten it). Exact-integer sufficient stats over 1e4-nat-grid
    * points; the oracle replays census, rank, grid and the q194 OLS
    * assembly. */
  val q351 = GQuery("q351_zipf_fit",
    s"""WITH $tokCte,
       |cen AS (
       |  SELECT d.source AS grp, t.tok, count(*) AS freq
       |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
       |  JOIN documents d USING (doc_id)
       |  GROUP BY 1, 2 HAVING count(*) >= 5),
       |xy AS (
       |  SELECT grp,
       |    CAST(round(1e4 * ln(rank)) AS BIGINT) AS x,
       |    CAST(round(1e4 * ln(freq)) AS BIGINT) AS y
       |  FROM (SELECT grp, freq,
       |          row_number() OVER (PARTITION BY grp
       |            ORDER BY freq DESC, tok ASC) AS rank
       |        FROM cen)
       |  WHERE rank <= 500),
       |$olsSumsSql
       |${olsTailSql("source")}""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.zipfFit(
        sharedToks(s, dir),
        Tables.documents(s, dir).select(col("doc_id").as("id"),
          col("source")),
        "source", minCount = 5L, maxRank = 500L)
      .withColumnRenamed("grp", "source")
      .orderBy(col("source"))
  }

  /** Heaps'-law vocabulary-growth fit per source (see
    * [[graft.operators.TextStats.heapsFit]]): V(N) ≈ K·N^β read as
    * the OLS slope of ln cumulative types on ln cumulative tokens at
    * doc-id-bucket checkpoints (width 64) — β near 1 flags a stream
    * minting types forever (ids/noise), β near 0 a template loop. No
    * per-doc windows: first occurrences are a keyed min, prefix sums
    * run over BUCKET rows. The oracle replays buckets, cumsums, grid
    * and the q194 OLS assembly. */
  val q352 = GQuery("q352_heaps_fit",
    s"""WITH $tokCte,
       |st AS (
       |  SELECT d.source AS grp, t.doc_id, t.tok
       |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
       |  JOIN documents d USING (doc_id)),
       |tk AS (
       |  SELECT grp, doc_id // 64 AS b, count(*) AS ntok
       |  FROM st GROUP BY 1, 2),
       |nv AS (
       |  SELECT grp, fid // 64 AS b, count(*) AS ntypes
       |  FROM (SELECT grp, tok, min(doc_id) AS fid FROM st GROUP BY 1, 2)
       |  GROUP BY 1, 2),
       |cm AS (
       |  SELECT tk.grp, tk.b, tk.ntok, coalesce(nv.ntypes, 0) AS ntypes
       |  FROM tk LEFT JOIN nv ON nv.grp = tk.grp AND nv.b = tk.b),
       |xy AS (
       |  SELECT grp,
       |    CAST(round(1e4 * ln(cum_tok)) AS BIGINT) AS x,
       |    CAST(round(1e4 * ln(cum_types)) AS BIGINT) AS y
       |  FROM (SELECT grp,
       |          sum(ntok) OVER (PARTITION BY grp ORDER BY b
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS cum_tok,
       |          sum(ntypes) OVER (PARTITION BY grp ORDER BY b
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS cum_types
       |        FROM cm)
       |  WHERE cum_tok > 0),
       |$olsSumsSql
       |${olsTailSql("source")}""".stripMargin) { (s, dir) =>
    graft.operators.TextStats.heapsFit(
        sharedToks(s, dir),
        Tables.documents(s, dir).select(col("doc_id").as("id"),
          col("source")),
        "source", bucketWidth = 64L)
      .withColumnRenamed("grp", "source")
      .orderBy(col("source"))
  }

  /** Vocabulary coverage curve per source (see
    * [[graft.operators.TextStats.vocabCoverageCurve]]): token-mass
    * share of the top 2^k types, k = 0..14 — the readout that sizes a
    * tokenizer/embedding vocabulary per domain. Exact 1e-4 integer
    * shares (the q318 `div` idiom); one row per (source, k) with
    * 2^k ≤ vocab. */
  val q353 = {
    val MaxLog2 = 14
    val rankList = (0 to MaxLog2).map(k => (1L << k).toString)
      .mkString("(", ", ", ")")
    GQuery("q353_vocab_coverage",
      s"""WITH $tokCte,
         |cen AS (
         |  SELECT d.source AS grp, t.tok, count(*) AS freq
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
         |  JOIN documents d USING (doc_id)
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT grp, freq,
         |    row_number() OVER (PARTITION BY grp
         |      ORDER BY freq DESC, tok ASC) AS rank,
         |    sum(freq) OVER (PARTITION BY grp
         |      ORDER BY freq DESC, tok ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_tokens
         |  FROM cen),
         |tot AS (SELECT grp, sum(freq) AS total_tokens FROM cen GROUP BY grp)
         |SELECT rk.grp AS source, CAST(round(log2(rank)) AS INT) AS k,
         |  CAST(rank AS BIGINT) AS vocab_at_k,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
         |  CAST(total_tokens AS BIGINT) AS total_tokens,
         |  CAST((2 * 10000 * cum_tokens + total_tokens)
         |    // (2 * total_tokens) AS BIGINT) AS coverage4
         |FROM rk JOIN tot USING (grp)
         |WHERE rank IN $rankList
         |ORDER BY source, k""".stripMargin) { (s, dir) =>
      graft.operators.TextStats.vocabCoverageCurve(
          sharedToks(s, dir),
          Tables.documents(s, dir).select(col("doc_id").as("id"),
            col("source")),
          "source", maxLog2 = MaxLog2)
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"), col("k"))
    }
  }

  /** Pairwise Jensen–Shannon divergence between source token
    * distributions (see
    * [[graft.operators.TextStats.jsDivergencePairs]]): add-one
    * smoothed over the corpus-global top-1024 vocabulary — the
    * symmetric bounded distance matrix the domain-mixing planner
    * reads, beside q216's group-vs-corpus KL. Per-term contributions
    * snap to the 1e7 nat grid before the order-free integer sum. */
  val q354 = {
    val K = 1024
    GQuery("q354_source_jsd",
      s"""WITH $tokCte,
         |sw AS (
         |  SELECT d.source AS grp, t.tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
         |  JOIN documents d USING (doc_id)
         |  GROUP BY 1, 2),
         |gv AS (
         |  SELECT tok FROM (
         |    SELECT tok, sum(c) AS gc FROM sw GROUP BY tok
         |    ORDER BY gc DESC, tok ASC LIMIT $K)),
         |gs AS (SELECT DISTINCT grp FROM sw),
         |cells AS (
         |  SELECT gs.grp, gv.tok, coalesce(sw.c, 0) AS c
         |  FROM gs CROSS JOIN gv
         |  LEFT JOIN sw ON sw.grp = gs.grp AND sw.tok = gv.tok),
         |ns AS (SELECT grp, sum(c) AS n FROM cells GROUP BY grp),
         |p AS (
         |  SELECT cells.grp, cells.tok,
         |    (cells.c + 1.0) / (ns.n + $K) AS p
         |  FROM cells JOIN ns USING (grp)),
         |pr AS (
         |  SELECT a.grp AS grp_a, b.grp AS grp_b,
         |    CAST(round(1e7 * 0.5
         |      * (a.p * ln(2.0 * a.p / (a.p + b.p))
         |        + b.p * ln(2.0 * b.p / (a.p + b.p)))) AS BIGINT) AS t7
         |  FROM p a JOIN p b ON a.tok = b.tok AND a.grp < b.grp)
         |SELECT grp_a AS source_a, grp_b AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(sum(t7) AS BIGINT) AS jsd7
         |FROM pr GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin) {
      (s, dir) =>
      graft.operators.TextStats.jsDivergencePairs(
          sharedToks(s, dir),
          Tables.documents(s, dir).select(col("doc_id").as("id"),
            col("source")),
          "source", vocabSize = K)
        .select(col("grp_a").as("source_a"), col("grp_b").as("source_b"),
          col("n_terms"), col("jsd7"))
        .orderBy(col("source_a"), col("source_b"))
    }
  }

  /** OLS sums + fit as named CTEs over an xy CTE — the q351/q352
    * assembly packaged for composition (capstone v11 runs TWO fits in
    * one statement). Emits `s$tag` and `fit$tag(grp, n, slope6,
    * intercept, r2_4)`. */
  private def olsFitCte(xy: String, tag: String): String =
    s"""s$tag AS (
       |  SELECT grp, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
       |  FROM $xy GROUP BY grp),
       |fit$tag AS (
       |  SELECT grp, CAST(n AS BIGINT) AS n,
       |    CAST(round(1e6 * CAST(n * sxy - sx * sy AS DOUBLE)
       |      / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS slope6,
       |    CAST(CASE WHEN n * syy - sy * sy > 0 THEN
       |      round(1e4 * CAST(n * sxy - sx * sy AS DOUBLE)
       |        * CAST(n * sxy - sx * sy AS DOUBLE)
       |        / (CAST(n * sxx - sx * sx AS DOUBLE)
       |           * CAST(n * syy - sy * sy AS DOUBLE)))
       |      ELSE 10000 END AS BIGINT) AS r2_4
       |  FROM s$tag WHERE n * sxx - sx * sx > 0)""".stripMargin

  /** CAPSTONE v11 — the corpus-laws data card: per source, the Zipf
    * rank-frequency slope (q351), the Heaps vocabulary-growth slope
    * (q352), top-16-type coverage (q353's k = 4 point, 10000 when the
    * vocab is smaller than 16), and exact token/type totals — the
    * one-page statistical-health readout of every text source,
    * composed from the round's new operators under ONE oracle. A
    * source whose Zipf slope collapses toward 0, whose Heaps slope
    * nears 1, or whose top-16 coverage craters is a template flood /
    * id stream / noise feed respectively — this card is where those
    * alarms land first. */
  val q359 = GQuery("q359_corpus_laws_card",
    s"""WITH $tokCte,
       |tkx AS (
       |  SELECT d.source AS grp, t.doc_id, t.tok
       |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tok) t
       |  JOIN documents d USING (doc_id)),
       |cen AS (
       |  SELECT grp, tok, count(*) AS freq FROM tkx GROUP BY 1, 2),
       |zxy AS (
       |  SELECT grp,
       |    CAST(round(1e4 * ln(rank)) AS BIGINT) AS x,
       |    CAST(round(1e4 * ln(freq)) AS BIGINT) AS y
       |  FROM (SELECT grp, freq,
       |          row_number() OVER (PARTITION BY grp
       |            ORDER BY freq DESC, tok ASC) AS rank
       |        FROM cen WHERE freq >= 5)
       |  WHERE rank <= 500),
       |${olsFitCte("zxy", "z")},
       |htk AS (
       |  SELECT grp, doc_id // 64 AS b, count(*) AS ntok
       |  FROM tkx GROUP BY 1, 2),
       |hnv AS (
       |  SELECT grp, fid // 64 AS b, count(*) AS ntypes
       |  FROM (SELECT grp, tok, min(doc_id) AS fid FROM tkx GROUP BY 1, 2)
       |  GROUP BY 1, 2),
       |hxy AS (
       |  SELECT grp,
       |    CAST(round(1e4 * ln(cum_tok)) AS BIGINT) AS x,
       |    CAST(round(1e4 * ln(cum_types)) AS BIGINT) AS y
       |  FROM (SELECT tk.grp,
       |          sum(tk.ntok) OVER (PARTITION BY tk.grp ORDER BY tk.b
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS cum_tok,
       |          sum(coalesce(nv.ntypes, 0)) OVER (PARTITION BY tk.grp
       |            ORDER BY tk.b
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS cum_types
       |        FROM htk tk LEFT JOIN hnv nv
       |          ON nv.grp = tk.grp AND nv.b = tk.b)
       |  WHERE cum_tok > 0),
       |${olsFitCte("hxy", "h")},
       |tots AS (
       |  SELECT grp, CAST(sum(freq) AS BIGINT) AS total_tokens,
       |    CAST(count(*) AS BIGINT) AS vocab
       |  FROM cen GROUP BY grp),
       |cov AS (
       |  SELECT grp,
       |    CAST((2 * 10000 * cum_tokens + total) // (2 * total) AS BIGINT)
       |      AS top16_coverage4
       |  FROM (SELECT grp, freq,
       |          row_number() OVER (PARTITION BY grp
       |            ORDER BY freq DESC, tok ASC) AS rank,
       |          sum(freq) OVER (PARTITION BY grp
       |            ORDER BY freq DESC, tok ASC
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS cum_tokens,
       |          sum(freq) OVER (PARTITION BY grp) AS total
       |        FROM cen)
       |  WHERE rank = 16)
       |SELECT z.grp AS source,
       |  z.slope6 AS zipf_slope6, z.r2_4 AS zipf_r2_4,
       |  h.slope6 AS heaps_slope6,
       |  coalesce(cov.top16_coverage4, 10000) AS top16_coverage4,
       |  t.total_tokens, t.vocab
       |FROM fitz z
       |JOIN fith h USING (grp)
       |JOIN tots t USING (grp)
       |LEFT JOIN cov USING (grp)
       |ORDER BY source""".stripMargin) { (s, dir) =>
    val toks = sharedToks(s, dir)
    val groups = Tables.documents(s, dir)
      .select(col("doc_id").as("id"), col("source"))
    val z = graft.operators.TextStats.zipfFit(toks, groups, "source",
        minCount = 5L, maxRank = 500L)
      .select(col("grp"), col("slope6").as("zipf_slope6"),
        col("r2_4").as("zipf_r2_4"))
    val h = graft.operators.TextStats.heapsFit(toks, groups, "source",
        bucketWidth = 64L)
      .select(col("grp"), col("slope6").as("heaps_slope6"))
    val c = graft.operators.TextStats.vocabCoverageCurve(toks, groups,
        "source", maxLog2 = 4)
      .where(col("k") === 4)
      .select(col("grp"), col("coverage4").as("top16_coverage4"))
    val t = graft.operators.TextStats.vocabRichness(toks, groups, "source")
      .select(col("grp"), col("n_tokens").as("total_tokens"),
        col("d_observed").as("vocab"))
    z.join(h, Seq("grp")).join(t, Seq("grp"))
      .join(c, Seq("grp"), "left")
      .select(col("grp").as("source"), col("zipf_slope6"),
        col("zipf_r2_4"), col("heaps_slope6"),
        coalesce(col("top16_coverage4"), lit(10000L))
          .as("top16_coverage4"),
        col("total_tokens"), col("vocab"))
      .orderBy(col("source"))
  }

  val all: Seq[GQuery] =
    Seq(q27, q28, q29, q30, q43, q54, q56, q58, q58b, q67, q69, q71, q73,
      q76, q81, q83, q84, q85, q89, q90, q93, q98, q103, q104, q104b, q105,
      q105b, q107, q111, q113, q114, q115, q117, q118, q126, q127, q139,
      q160, q161, q162, q163, q164, q169, q170, q171, q176, q177, q202,
      q207, q216, q219, q220, q225, q236, q239, q242, q250, q272, q281,
      q336, q337, q340, q344, q345, q346, q348, q351, q352, q353, q354,
      q358, q359)
}
