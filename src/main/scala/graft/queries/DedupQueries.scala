package graft.queries

import graft.Tables
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Deduplication over `documents` (SURVEY.md §2.2 extension rows):
  * exact, all-pairs shingle Jaccard, MinHash+LSH, SimHash. Oracles are
  * generated from the same constants as the Spark plans (shingle width,
  * seeds, band layout) so both engines compute the identical algorithm.
  */
object DedupQueries {

  private val N = 3          // shingle width (words)
  private val K = 9          // minhash signature length
  private val Bands = 3      // LSH bands (rows = K / Bands)
  private val MinJ = 0.8

  /** The shingle index and Jaccard pair graph shared by the q24/q25/q51
    * (and q63 capstone) family. Both frames are persisted with
    * plan-identical construction, so Spark's CacheManager serves every
    * query in the family from ONE cached copy per session — the
    * single-session analog of materializing the index/pair tables once
    * at 100 TB and reading them back. */
  private[queries] def sharedSets(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    Materialized(s, s"sets:$dir") {
      Dedup.shingleSetsFromTokens(TextQueries.sharedToks(s, dir), N)
    }

  private[queries] def sharedPairs(s: org.apache.spark.sql.SparkSession,
                                   dir: String): org.apache.spark.sql.DataFrame =
    Materialized(s, s"pairs:$dir") {
      Dedup.jaccardPairsFromSets(sharedSets(s, dir), MinJ)
    }

  /** The MinHash signature table (q25): like [[sharedPairs]], persisted
    * with plan-identical construction so repeated materializations in one
    * session read one cached copy — the signature table a real pipeline
    * writes once per corpus and reuses for every banding/query pass. */
  private[queries] def sharedSigs(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    Materialized(s, s"sigs:$dir") {
      Dedup.minhashSignaturesFromSets(sharedSets(s, dir), K)
    }

  /** The near-dup cluster map shared by q51 and the q63 capstone.
    * [[graft.operators.Dedup.dupClusters]] is EAGER (its label-
    * propagation loop localCheckpoints per round), so its output plan is
    * session-unique and the CacheManager cannot dedup repeated calls the
    * way it does for [[sharedPairs]]; memoizing the returned frame per
    * (session, dir) is the equivalent move — and mirrors a real curation
    * pipeline, which materializes the cluster table once per corpus and
    * has every downstream consumer read it. */
  private val clusterCache = new SessionCache[org.apache.spark.sql.DataFrame]

  private[queries] def sharedClusters(s: org.apache.spark.sql.SparkSession,
                                      dir: String): org.apache.spark.sql.DataFrame =
    clusterCache.get(s, dir) {
      Dedup.dupClusters(Tables.documents(s, dir), "doc_id", sharedPairs(s, dir))
        .localCheckpoint(true)
    }

  /** Shared oracle CTEs: tokenized docs + distinct shingle sets. */
  private[queries] val shingleCtes =
    s"""tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(
       |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]) AS shset
       |  FROM tok WHERE len(ws) >= $N),
       |ex AS (SELECT doc_id, unnest(shset) AS s FROM sh),
       |sz AS (SELECT doc_id, len(shset) AS sz FROM sh)""".stripMargin

  /** Shared oracle CTE suffix over [[shingleCtes]]: the exact-Jaccard
    * pair graph -> `pr(id_a, id_b)`. */
  private val pairCtes =
    s"""shared AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT id_a, id_b FROM shared
       |  JOIN sz sa ON sa.doc_id = id_a
       |  JOIN sz sb ON sb.doc_id = id_b
       |  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= $MinJ)""".stripMargin

  /** [[pairCtes]] with the exact shared-shingle count kept as the
    * integer edge WEIGHT -> `prw(id_a, id_b, w)` — the input to the
    * weighted-graph family (q350). */
  private val pairCtesW =
    s"""sharedw AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |prw AS (
       |  SELECT id_a, id_b, CAST(inter AS BIGINT) AS w FROM sharedw
       |  JOIN sz sa ON sa.doc_id = id_a
       |  JOIN sz sb ON sb.doc_id = id_b
       |  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= $MinJ)""".stripMargin

  /** The shingle-set pair graph WITH the exact intersection count as
    * edge weight (see [[graft.operators.Dedup.jaccardPairsFromSets]]'s
    * `withInter`) — q350's weighted input; the shingle index itself is
    * shared with the whole q24 family through [[sharedSets]]. */
  private[queries] def sharedWeightedPairs(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Materialized(s, s"wpairs:$dir") {
      graft.operators.Dedup
        .jaccardPairsFromSets(sharedSets(s, dir), MinJ, withInter = true)
    }

  /** [[pairCtes]] + the recursive cluster map -> `cl(doc_id,
    * cluster_rep)`; requires `WITH RECURSIVE`. One definition serves
    * q51/q78/q88 so the cluster semantics cannot drift between
    * oracles. */
  private val clusterCtes =
    s"""$pairCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pr
       |  UNION ALL SELECT id_b, id_a FROM pr),
       |reach(id, rep) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, r.rep FROM edges e JOIN reach r ON e.dst = r.id),
       |cl AS (SELECT id AS doc_id, min(rep) AS cluster_rep FROM reach GROUP BY id)""".stripMargin

  val q23 = GQuery("q23_dedup_exact",
    """SELECT lang,
      |  count(*) AS n_docs,
      |  count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_unique
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(TextFunctions.fingerprint(col("text"))).as("n_unique"))
      .orderBy(col("lang"))
  }

  /** All-pairs n-gram Jaccard ≥ 0.8 through the inverted-index join. */
  val q24 = GQuery("q24_jaccard_pairs",
    s"""WITH $shingleCtes,
       |shared AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
       |FROM shared
       |JOIN sz sa ON sa.doc_id = id_a
       |JOIN sz sb ON sb.doc_id = id_b
       |WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= $MinJ
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    sharedPairs(s, dir).orderBy(col("id_a"), col("id_b"))
  }.copy(headline = true)

  /** Prefix-filtered exact Jaccard join (see
    * [[graft.operators.Dedup.jaccardPairsPrefixFromSets]]) at t = 0.7:
    * the PPJoin-shaped candidate pruning whose output is PROVABLY the
    * plain inverted-index join's — so the oracle is simply the exact
    * all-pairs Jaccard at the same threshold; any missed candidate is
    * a hash mismatch. */
  val q186 = GQuery("q186_jaccard_prefix_join",
    s"""WITH $shingleCtes,
       |shared AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
       |FROM shared
       |JOIN sz sa ON sa.doc_id = id_a
       |JOIN sz sb ON sb.doc_id = id_b
       |WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.7
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    Dedup.jaccardPairsPrefixFromSets(sharedSets(s, dir), minJaccard = 0.7)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Triangle census of the near-dup pair graph (see
    * [[graft.operators.GraphOps.triangleStats]]): exact triangles,
    * wedges, and the global clustering coefficient — clique-like
    * (true duplicate families) vs chain-like (transitive false
    * positives) at corpus level. The oracle counts triangles by the
    * ordered 3-way edge join and wedges from the degree census. */
  val q191 = GQuery("q191_dup_graph_triangles",
    s"""WITH $shingleCtes,
       |$pairCtes,
       |deg AS (
       |  SELECT id, count(*) AS d FROM (
       |    SELECT id_a AS id FROM pr UNION ALL SELECT id_b FROM pr)
       |  GROUP BY id),
       |tri AS (
       |  SELECT count(*) AS n_triangles
       |  FROM pr e1 JOIN pr e2 ON e2.id_a = e1.id_b
       |  JOIN pr e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
       |wg AS (
       |  SELECT coalesce(sum(d * (d - 1) // 2), 0) AS n_wedges,
       |    count(*) AS n_vertices
       |  FROM deg)
       |SELECT CAST(n_triangles AS BIGINT) AS n_triangles,
       |  CAST(n_wedges AS BIGINT) AS n_wedges,
       |  CAST(n_vertices AS BIGINT) AS n_vertices,
       |  CAST(CASE WHEN n_wedges > 0
       |    THEN floor(1e4 * 3 * n_triangles / n_wedges) ELSE 0 END AS BIGINT)
       |    AS coeff4
       |FROM tri, wg""".stripMargin) { (s, dir) =>
    graft.operators.GraphOps.triangleStats(sharedPairs(s, dir))
  }

  /** MinHash + LSH banding, then exact-Jaccard verification of the
    * candidates only. */
  val q25 = {
    val rows = K / Bands
    // Same hash family as Dedup.minhashSignatures: md5 once per shingle,
    // h_k = a + (k+1)·b over the digest's two 48-bit halves.
    val minhashAggs = (0 until K)
      .map(i => s"min(ha + ${i + 1} * hb) AS m$i").mkString(",\n    ")
    val bandCols = (0 until Bands).map { b =>
      val parts = (0 until rows).map(r => s"CAST(m${b * rows + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"md5($parts) AS b$b"
    }.mkString(", ")
    val bandMatch = (0 until Bands).map(b => s"a.b$b = b.b$b").mkString(" OR ")
    GQuery("q25_minhash_lsh",
      s"""WITH $shingleCtes,
         |exh AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS ha,
         |    CAST(concat('0x', substr(md5(s), 13, 12)) AS BIGINT) AS hb
         |  FROM ex),
         |mh AS (
         |  SELECT doc_id,
         |    $minhashAggs
         |  FROM exh GROUP BY doc_id),
         |bands AS (SELECT doc_id, $bandCols FROM mh),
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.doc_id < b.doc_id AND ($bandMatch)),
         |verified AS (
         |  SELECT id_a, id_b,
         |    len(list_intersect(sa.shset, sb.shset)) * 1.0 /
         |      (len(sa.shset) + len(sb.shset) - len(list_intersect(sa.shset, sb.shset))) AS j
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = id_a
         |  JOIN sh sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, round(j, 4) AS jaccard
         |FROM verified WHERE j >= $MinJ
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.minhashDedupFromSigs(sharedSigs(s, dir), sharedSets(s, dir),
          K, Bands, MinJ)
        .orderBy(col("id_a"), col("id_b"))
    }.copy(headline = true)
  }

  /** Near-dup clusters: connected components over the q24 pair graph;
    * the oracle recomputes reachability with a recursive CTE. Output is
    * the keep-list view every dedup pipeline ends with. */
  val q51 = GQuery("q51_dedup_clusters",
    s"""WITH RECURSIVE $shingleCtes,
       |$clusterCtes
       |SELECT doc_id, cluster_rep,
       |  CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
       |FROM cl
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_rep"))
    sharedClusters(s, dir)
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: docs sharing any trigram with the
    * stand-in benchmark slice (doc_id % 97 == 0) get flagged. */
  val q52 = GQuery("q52_decontaminate",
    s"""WITH $shingleCtes,
       |bsh AS (
       |  SELECT DISTINCT s FROM (
       |    SELECT unnest(shset) AS s FROM sh WHERE doc_id % 97 = 0)),
       |hits AS (
       |  SELECT e.doc_id, count(*) AS n_hits
       |  FROM ex e JOIN bsh USING (s)
       |  GROUP BY e.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  coalesce(h.n_hits, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN hits h USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val bench = docs.where(col("doc_id") % 97 === 0)
    Dedup.contaminationFlags(docs, "doc_id", "text", bench, "doc_id", "text", N)
      .orderBy(col("doc_id"))
  }

  /** Bloom-sketch decontamination: same flags as q52 by construction
    * (sketch prefilter + exact verify — see
    * [[graft.operators.Dedup.contaminationFlagsBloom]]), so it shares
    * q52's oracle; what changes is the plan: the corpus index is pruned
    * to near-hits BEFORE any join, the shape that survives benchmark
    * vocabularies too big to broadcast. */
  val q59 = GQuery("q59_decontaminate_bloom", q52.oracle.get) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val bench = docs.where(col("doc_id") % 97 === 0)
    Dedup.contaminationFlagsBloom(docs, "doc_id", "text", bench, "doc_id", "text", N)
      .orderBy(col("doc_id"))
  }

  /** Exact-substring decontamination: 64-char prefixes of the stand-in
    * benchmark slice as verbatim probes (complement of q52's n-gram
    * overlap — see [[graft.operators.Dedup.substringContamination]]). */
  val q53 = GQuery("q53_substring_decontam",
    """WITH probes AS (
      |  SELECT substr(text, 1, 64) AS probe FROM documents WHERE doc_id % 97 = 0)
      |SELECT d.doc_id,
      |  EXISTS (SELECT 1 FROM probes p WHERE contains(d.text, p.probe)) AS contaminated
      |FROM documents d
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val probes = docs.where(col("doc_id") % 97 === 0)
      .select(substring(col("text"), 1, 64).as("probe"))
    Dedup.substringContamination(docs, "doc_id", "text", probes, "probe")
      .orderBy(col("doc_id"))
  }

  /** Portable 64-bit SimHash signatures (md5-nibble construction). */
  val q26 = GQuery("q26_simhash",
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents),
      |nib AS (
      |  SELECT doc_id, md5(w) AS h, i FROM tok, range(16) t(i)),
      |bits AS (
      |  SELECT doc_id, i * 4 + j AS b,
      |    CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(i AS INT) + 1, 1)) - 1) >> j) & 1 = 1
      |         THEN 1 ELSE -1 END AS vote
      |  FROM nib, range(4) u(j)),
      |sig AS (
      |  SELECT doc_id, b, CASE WHEN sum(vote) >= 0 THEN '1' ELSE '0' END AS bit
      |  FROM bits GROUP BY doc_id, b)
      |SELECT doc_id, string_agg(bit, '' ORDER BY b) AS simhash64
      |FROM sig GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("simhash64"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs (hamming ≤ 3) via pigeonhole banding +
    * native `hamming_dist` verify (see
    * [[graft.operators.Dedup.simhashNearDups]]). The oracle recomputes
    * the q26 signatures, the same 4×16-bit band candidate join, and the
    * hamming via a filtered list comprehension. */
  val q60 = {
    val bandMatch = (0 until 4)
      .map(i => s"substr(a.simhash64, ${1 + i * 16}, 16) = substr(b.simhash64, ${1 + i * 16}, 16)")
      .mkString(" OR ")
    GQuery("q60_simhash_pairs",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents),
         |nib AS (
         |  SELECT doc_id, md5(w) AS h, i FROM tok, range(16) t(i)),
         |bits AS (
         |  SELECT doc_id, i * 4 + j AS b,
         |    CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(i AS INT) + 1, 1)) - 1) >> j) & 1 = 1
         |         THEN 1 ELSE -1 END AS vote
         |  FROM nib, range(4) u(j)),
         |sig AS (
         |  SELECT doc_id, b, CASE WHEN sum(vote) >= 0 THEN '1' ELSE '0' END AS bit
         |  FROM bits GROUP BY doc_id, b),
         |sigs AS (
         |  SELECT doc_id, string_agg(bit, '' ORDER BY b) AS simhash64
         |  FROM sig GROUP BY doc_id),
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash64 AS sa, b.simhash64 AS sb
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ($bandMatch))
         |SELECT id_a, id_b, CAST(len(
         |    [i for i in range(1, 65) if substr(sa, i, 1) <> substr(sb, i, 1)]
         |  ) AS INTEGER) AS hamming
         |FROM cand
         |WHERE len([i for i in range(1, 65) if substr(sa, i, 1) <> substr(sb, i, 1)]) <= 3
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.simhashNearDups(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }
  }

  /** Corpus-level exact span dedup (see
    * [[graft.operators.Dedup.chunkDedup]]): 5-word chunks keep only
    * their first (doc_id, pos) occurrence; documents are rebuilt from
    * surviving chunks. */
  val q68 = GQuery("q68_chunk_dedup",
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, u.pos AS pos, u.s AS s FROM (
       |    SELECT doc_id,
       |      unnest([{'pos': j, 's': array_to_string(ws[(j*5+1):(j*5+5)], ' ')}
       |              for j in range(0, len(ws) // 5)]) AS u
       |    FROM tok WHERE len(ws) >= 5)),
       |k AS (
       |  SELECT doc_id, pos, s,
       |    row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
       |  FROM ch)
       |SELECT doc_id, count(*) AS n_kept_chunks,
       |  string_agg(s, ' ' ORDER BY pos) AS dedup_text
       |FROM k WHERE rn = 1
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.chunkDedupFromTokens(TextQueries.sharedToks(s, dir), w = 5)
      .select(col("id").as("doc_id"), col("n_kept_chunks"), col("dedup_text"))
      .orderBy(col("doc_id"))
  }

  /** Quality-aware canonical selection within near-dup clusters (see
    * [[graft.operators.Dedup.canonicalPerCluster]]): of each q51
    * cluster, keep the highest-quality copy (q28's score), min doc_id
    * on ties — reuses the shared cluster map and scores every document
    * with its verdict. */
  val q78 = GQuery("q78_canonical_dedup",
    s"""WITH RECURSIVE $shingleCtes,
       |$clusterCtes,
       |${TextQueries.qualityCte},
       |r AS (
       |  SELECT cl.doc_id AS doc_id, cl.cluster_rep, q.quality,
       |    row_number() OVER (PARTITION BY cl.cluster_rep
       |                       ORDER BY q.quality DESC, cl.doc_id) AS rn
       |  FROM cl JOIN q USING (doc_id))
       |SELECT doc_id, cluster_rep, quality, rn = 1 AS keep
       |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val quality = Tables.documents(s, dir).select(col("doc_id"),
      graft.functions.TextFunctions.qualityScore(col("text"), col("n_chars"))
        .as("quality"))
    Dedup.canonicalPerCluster(
        sharedClusters(s, dir).select(col("doc_id"), col("cluster_rep")),
        quality, "doc_id", "cluster_rep", "quality")
      .orderBy(col("doc_id"))
  }

  /** Continuous contamination score (see
    * [[graft.operators.Dedup.contaminationFraction]]): fraction of each
    * doc's distinct trigrams found in the q52 stand-in benchmark slice
    * (doc_id % 97 = 0), thresholded at 0.2. Reuses the shared shingle
    * index for BOTH sides. */
  val q79 = GQuery("q79_contamination_frac",
    s"""WITH $shingleCtes,
       |bsh AS (
       |  SELECT DISTINCT s FROM (
       |    SELECT unnest(shset) AS s FROM sh WHERE doc_id % 97 = 0)),
       |hits AS (
       |  SELECT e.doc_id, count(*) AS n_hits
       |  FROM ex e JOIN bsh USING (s) GROUP BY e.doc_id),
       |base AS (
       |  SELECT d.doc_id,
       |    CAST(coalesce(z.sz, 0) AS BIGINT) AS n_grams,
       |    CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
       |  FROM documents d
       |  LEFT JOIN sz z USING (doc_id)
       |  LEFT JOIN hits h ON h.doc_id = d.doc_id)
       |SELECT doc_id, n_grams, n_hits,
       |  coalesce(round(n_hits * 1.0 / nullif(n_grams, 0), 4), 0.0)
       |    AS frac_contaminated,
       |  coalesce(round(n_hits * 1.0 / nullif(n_grams, 0), 4), 0.0) >= 0.2
       |    AS contaminated
       |FROM base ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.contaminationFraction(
        Tables.documents(s, dir).select(col("doc_id").as("id")),
        sharedSets(s, dir),
        sharedSets(s, dir).where(col("id") % 97 === 0),
        minFrac = 0.2)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Within-document span dedup (see
    * [[graft.operators.Dedup.intraDocChunkDedup]]): 5-word chunks keep
    * their first occurrence per DOCUMENT (q68 is the corpus-level
    * variant). */
  val q82 = GQuery("q82_intradoc_dedup",
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, u.pos AS pos, u.s AS s FROM (
       |    SELECT doc_id,
       |      unnest([{'pos': j, 's': array_to_string(ws[(j*5+1):(j*5+5)], ' ')}
       |              for j in range(0, len(ws) // 5)]) AS u
       |    FROM tok WHERE len(ws) >= 5)),
       |k AS (
       |  SELECT doc_id, s, min(pos) AS pos FROM ch GROUP BY doc_id, s)
       |SELECT doc_id, count(*) AS n_kept_chunks,
       |  string_agg(s, ' ' ORDER BY pos) AS dedup_text
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.intraDocChunkDedupFromTokens(TextQueries.sharedToks(s, dir), w = 5)
      .select(col("id").as("doc_id"), col("n_kept_chunks"), col("dedup_text"))
      .orderBy(col("doc_id"))
  }

  /** Split-leakage audit: near-dup pairs that STRADDLE the q45
    * train/test split — the held-out set is contaminated through
    * near-duplicates even after exact dedup, the classic eval-leakage
    * failure. Composes the shared pair graph with the deterministic
    * split; (train,test)+(test,train) counts are the leakage. */
  val q86 = GQuery("q86_split_leakage",
    s"""WITH $shingleCtes,
       |$pairCtes,
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN ${graft.operators.Sampling.hashBucketSql("doc_id", 100)} < 10
       |      THEN 'test' ELSE 'train' END AS split
       |  FROM documents)
       |SELECT sa.split AS split_a, sb.split AS split_b, count(*) AS n_pairs
       |FROM pr
       |JOIN sp sa ON sa.doc_id = pr.id_a
       |JOIN sp sb ON sb.doc_id = pr.id_b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val split = graft.operators.Sampling.trainTestSplit(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id", 10)
    sharedPairs(s, dir)
      .join(split.select(col("doc_id").as("id_a"), col("split").as("split_a")),
        "id_a")
      .join(split.select(col("doc_id").as("id_b"), col("split").as("split_b")),
        "id_b")
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Leakage-SAFE split — the fix for what q86 measures: hash the
    * near-dup CLUSTER representative instead of the doc id, so every
    * near-duplicate family lands in one split and cross-split near-dup
    * pairs are zero BY CONSTRUCTION (the audit columns prove it: only
    * same-split pair rows exist). Pure composition: q45's
    * trainTestSplit keyed on q51's cluster map. */
  val q88 = GQuery("q88_leakage_safe_split",
    s"""WITH RECURSIVE $shingleCtes,
       |$clusterCtes,
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN ${graft.operators.Sampling.hashBucketSql("cluster_rep", 100)} < 10
       |      THEN 'test' ELSE 'train' END AS split
       |  FROM cl),
       |straddle AS (
       |  SELECT count(*) AS n FROM pr
       |  JOIN sp sa ON sa.doc_id = pr.id_a
       |  JOIN sp sb ON sb.doc_id = pr.id_b
       |  WHERE sa.split <> sb.split)
       |SELECT split, count(*) AS n_docs,
       |  (SELECT n FROM straddle) AS n_cross_split_pairs
       |FROM sp GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
    val sp = graft.operators.Sampling.trainTestSplit(
        sharedClusters(s, dir).select(col("doc_id"), col("cluster_rep")),
        "cluster_rep", 10)
      .select(col("doc_id"), col("split"))
    val straddle = sharedPairs(s, dir)
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")),
        "id_a")
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")),
        "id_b")
      .where(col("split_a") =!= col("split_b"))
      .agg(count(lit(1)).as("n_cross_split_pairs"))
    sp.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(straddle))
      .orderBy(col("split"))
  }

  /** Per-document near-dup neighbor stats: how many ≥ MinJ neighbors
    * each doc has and the strongest one — the per-doc "duplication
    * pressure" signal (a doc with many high-Jaccard neighbors is
    * boilerplate even before clustering). Symmetric explode of the
    * shared pair graph + one doc-keyed aggregate. */
  val q91 = GQuery("q91_neardup_stats",
    s"""WITH $shingleCtes,
       |$pairCtes,
       |jp AS (
       |  SELECT id_a, id_b,
       |    round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
       |  FROM shared
       |  JOIN sz sa ON sa.doc_id = id_a
       |  JOIN sz sb ON sb.doc_id = id_b
       |  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= $MinJ),
       |sym AS (
       |  SELECT id_a AS doc_id, jaccard FROM jp
       |  UNION ALL SELECT id_b, jaccard FROM jp),
       |st AS (
       |  SELECT doc_id, count(*) AS nn, max(jaccard) AS mx
       |  FROM sym GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(st.nn, 0) AS BIGINT) AS n_neighbors,
       |  coalesce(st.mx, 0.0) AS max_jaccard
       |FROM documents d LEFT JOIN st USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val pairs = sharedPairs(s, dir)
    val sym = pairs.select(col("id_a").as("doc_id"), col("jaccard"))
      .unionByName(pairs.select(col("id_b").as("doc_id"), col("jaccard")))
    val stats = sym.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_neighbors"), max(col("jaccard")).as("max_jaccard"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup cluster-size histogram: how much of the corpus sits in
    * duplicate families of each size — the shape that decides whether
    * dedup is worth a full pass (a heavy tail of big clusters) or
    * nearly a no-op. Two keyed aggregates over the shared cluster
    * map. */
  val q94 = GQuery("q94_cluster_size_hist",
    s"""WITH RECURSIVE $shingleCtes,
       |$clusterCtes,
       |cs AS (
       |  SELECT cluster_rep, count(*) AS cluster_size
       |  FROM cl GROUP BY cluster_rep)
       |SELECT cluster_size, count(*) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM cs GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin) { (s, dir) =>
    sharedClusters(s, dir)
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", (col("cluster_size") * col("n_clusters")).cast("long"))
      .orderBy(col("cluster_size"))
  }

  /** Hashed n-gram-count sparse cosine near-dup pairs (see
    * [[graft.operators.Similarity.sparseCosineNearDups]] over
    * [[graft.operators.TfIdf.hashedTfFromTerms]] vectors): the
    * WEIGHTED member of the near-dup family — Jaccard (q24) sees
    * shingle SETS, this sees shingle COUNTS, so repetition-skewed
    * reuse scores differently. Weights are integer counts, so dots
    * and norms are order-independent long sums and the oracle
    * reproduces the single final division exactly.
    *
    * Features are hashed word TRIGRAMS, not unigrams: this fixture's
    * vocabulary is ~31 words, so every unigram feature occurs in
    * nearly every doc and the inverted-index join degenerates to
    * all-pairs (measured: 448M pair-rows at sf0.1, 28 s). Trigram
    * units make the feature space selective (3.8M pair-rows, df ≤
    * 62) — the feature-unit choice, not the bucket count, is what
    * keeps sparse similarity linear (see SCALE.md). */
  val q96 = {
    val Buckets = 65536    // full 16-bit md5 prefix — no folding
    val Cap = 10000
    val Tau = 0.8
    val b = graft.operators.TfIdf.hashedBucketSql("t.term", Buckets)
    GQuery("q96_sparse_cosine_pairs",
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, $b AS f, count(*) AS tf
         |  FROM (SELECT doc_id,
         |          unnest([ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
         |                  for i in range(1, len(ws) - 1)]) AS term
         |        FROM tok WHERE len(ws) >= 3) t
         |  GROUP BY 1, 2),
         |keep AS (SELECT f FROM tf GROUP BY f HAVING count(*) <= $Cap),
         |kt AS (SELECT tf.* FROM tf JOIN keep USING (f)),
         |norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM kt GROUP BY doc_id),
         |dots AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.tf * b.tf) AS dot
         |  FROM kt a JOIN kt b ON a.f = b.f AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT id_a, id_b,
         |    round(CAST(dot AS DOUBLE) /
         |          sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)), 6) AS cosine
         |  FROM dots
         |  JOIN norms na ON na.doc_id = id_a
         |  JOIN norms nb ON nb.doc_id = id_b)
         |SELECT id_a, id_b, cosine FROM sc WHERE cosine >= $Tau
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      graft.plans.WordNgrams.register(s)
      val grams = TextQueries.sharedToks(s, dir)
        .where(size(col("ws")) >= 3)
        .select(col("id"), explode(call_function(
          graft.plans.WordNgrams.fnName, col("ws"), lit(3), lit(1))).as("term"))
      graft.operators.Similarity.sparseCosineNearDups(
          graft.operators.TfIdf.hashedTfFromTerms(grams, Buckets),
          "id", "f", "tf", tau = Tau, maxDocFreq = Cap)
        .orderBy(col("id_a"), col("id_b"))
    }
  }

  /** Duplication centrality: damped PageRank over the symmetrized
    * near-dup pair graph (see [[graft.operators.GraphOps.pageRank]]) —
    * q91's neighbor count made transitive. The oracle replays the 3
    * iterations as chained CTEs; the fixed-point contribution
    * quantization makes every iteration's doubles bit-identical across
    * engines, so the final column needs NO rounding. Damping constants
    * are rendered from the same Scala doubles the operator uses
    * (1 − 0.85 is 0.15000000000000002 in IEEE — a hand-written 0.15
    * literal would diverge). */
  val q100 = {
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
         |  SELECT d.doc_id AS id,
         |    ${1 - Damping} +
         |      $Damping * (CAST(coalesce(c$i.s, 0) AS DOUBLE) / 1e6) AS r
         |  FROM documents d LEFT JOIN c$i ON c$i.id = d.doc_id)""".stripMargin
    }
    GQuery("q100_dup_pagerank",
      s"""WITH $shingleCtes,
         |$pairCtes,
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pr
         |       UNION ALL SELECT id_b, id_a FROM pr),
         |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM documents),
         |r0 AS (SELECT doc_id AS id, 1.0 AS r FROM documents),
         |${(1 to Iters).map(iterCtes).mkString(",\n")}
         |SELECT id AS doc_id, r / (SELECT n FROM nn) AS pagerank
         |FROM r$Iters
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pairs = sharedPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.operators.GraphOps.pageRank(
          Tables.documents(s, dir).select(col("doc_id").as("id")),
          edges, iters = Iters, damping = Damping)
        .select(col("id").as("doc_id"), col("p").as("pagerank"))
        .orderBy(col("doc_id"))
    }
  }

  /** WEIGHTED duplication centrality (see
    * [[graft.operators.GraphOps.pageRankWeighted]]): q100's PageRank
    * with each doc's mass split across its near-dup edges
    * proportionally to the exact shared-shingle weight — centrality
    * flows toward the STRONGEST duplicates. Completes the weighted
    * family (LPA q355, Louvain q350/q356, modularity, PageRank). The
    * oracle replays the 1e-6-grid iterations with the weighted
    * contribution. */
  val q360 = {
    val Damping = 0.85
    val Iters = 3
    def iterCtes(i: Int): String = {
      val prev = s"rw${i - 1}"
      s"""cw$i AS (
         |  SELECT ed.dst AS id,
         |    sum(CAST(round($prev.r * ed.w / dgw.wdeg * 1e6) AS BIGINT)) AS s
         |  FROM edw ed JOIN dgw USING (src) JOIN $prev ON $prev.id = ed.src
         |  GROUP BY ed.dst),
         |rw$i AS (
         |  SELECT d.doc_id AS id,
         |    ${1 - Damping} +
         |      $Damping * (CAST(coalesce(cw$i.s, 0) AS DOUBLE) / 1e6) AS r
         |  FROM documents d LEFT JOIN cw$i ON cw$i.id = d.doc_id)""".stripMargin
    }
    GQuery("q360_weighted_pagerank",
      s"""WITH $shingleCtes,
         |$pairCtesW,
         |edw AS (SELECT id_a AS src, id_b AS dst, w FROM prw
         |        UNION ALL SELECT id_b, id_a, w FROM prw),
         |dgw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg
         |        FROM edw GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM documents),
         |rw0 AS (SELECT doc_id AS id, 1.0 AS r FROM documents),
         |${(1 to Iters).map(iterCtes).mkString(",\n")}
         |SELECT id AS doc_id, r / (SELECT n FROM nn) AS pagerank
         |FROM rw$Iters
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pairs = sharedWeightedPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"),
          col("inter").as("w"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst"),
          col("inter").as("w")))
      graft.operators.GraphOps.pageRankWeighted(
          Tables.documents(s, dir).select(col("doc_id").as("id")),
          edges, iters = Iters, damping = Damping)
        .select(col("id").as("doc_id"), col("p").as("pagerank"))
        .orderBy(col("doc_id"))
    }
  }

  /** Community detection by synchronous label propagation (see
    * [[graft.operators.GraphOps.labelPropagation]]) over the
    * symmetrized near-dup pair graph — the finer sibling of q51's
    * connected components: CC merges everything reachable (one bridge
    * edge fuses two dense groups), LPA's plurality vote keeps densely
    * connected sides apart. Fully deterministic (synchronous update,
    * ties to the smallest label, fixed 3 rounds), so the oracle
    * replays every round as chained CTEs: a (vertex, neighbor-label)
    * count, a per-vertex argmax with the same (count DESC, label ASC)
    * tie-break, and a coalesce for isolated vertices. */
  /** Shared oracle CTE suffix over [[pairCtes]]: the symmetrized edge
    * list + `iters` synchronous LPA rounds -> `l{iters}(id, lbl)`.
    * One definition serves q338/q339/q342 so the vote semantics
    * cannot drift between oracles. */
  private def lpaCtes(iters: Int): String = {
    def iterCtes(i: Int): String =
      s"""v$i AS (
         |  SELECT ed.src AS id, l.lbl AS lbl, count(*) AS c
         |  FROM ed JOIN l${i - 1} l ON l.id = ed.dst
         |  GROUP BY 1, 2),
         |m$i AS (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY c DESC, lbl ASC) AS rn
         |    FROM v$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (
         |  SELECT p.id, coalesce(m$i.lbl, p.lbl) AS lbl
         |  FROM l${i - 1} p LEFT JOIN m$i USING (id))""".stripMargin
    s"""ed AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pr
       |       UNION ALL SELECT id_b, id_a FROM pr),
       |l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl FROM documents),
       |${(1 to iters).map(iterCtes).mkString(",\n")}""".stripMargin
  }

  /** The q339/q342 modularity-census tail over a label CTE `lt` (and
    * the `ed` edge list): per-community (n_members, d_c, intra_dir,
    * q_4m2_part, e2) — [[graft.operators.GraphOps.modularity]]'s
    * exact-integer contract rendered in SQL. */
  private def modularityCensusSql(lt: String): String =
    s"""e2t AS (SELECT count(*) AS e2 FROM ed),
       |dgt AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM ed GROUP BY 1),
       |cmt AS (
       |  SELECT l.lbl AS community,
       |    CAST(count(*) AS BIGINT) AS n_members,
       |    CAST(sum(coalesce(dgt.deg, 0)) AS BIGINT) AS d_c
       |  FROM $lt l LEFT JOIN dgt USING (id) GROUP BY 1),
       |int AS (
       |  SELECT a.lbl AS community, CAST(count(*) AS BIGINT) AS intra_dir
       |  FROM ed JOIN $lt a ON a.id = ed.src
       |          JOIN $lt b2 ON b2.id = ed.dst
       |  WHERE a.lbl = b2.lbl GROUP BY 1)
       |SELECT cmt.community, cmt.n_members, cmt.d_c,
       |  CAST(coalesce(i.intra_dir, 0) AS BIGINT) AS intra_dir,
       |  CAST((SELECT e2 FROM e2t) * coalesce(i.intra_dir, 0)
       |    - cmt.d_c * cmt.d_c AS BIGINT) AS q_4m2_part,
       |  CAST((SELECT e2 FROM e2t) AS BIGINT) AS e2
       |FROM cmt LEFT JOIN int i USING (community)
       |ORDER BY community""".stripMargin

  val q338 = {
    val Iters = 3
    GQuery("q338_label_propagation",
      s"""WITH $shingleCtes,
         |$pairCtes,
         |${lpaCtes(Iters)}
         |SELECT id AS doc_id, lbl AS community
         |FROM l$Iters ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pairs = sharedPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.operators.GraphOps.labelPropagation(
          Tables.documents(s, dir).select(col("doc_id").as("id")),
          edges, iters = Iters)
        .select(col("id").as("doc_id"), col("community"))
        .orderBy(col("doc_id"))
    }
  }

  /** Partition-quality audit: Newman MODULARITY of the q338 LPA
    * communities, in EXACT integers — the standard "are these
    * communities denser than chance" score, without a single float:
    * Q = Σ_c [L_c/m − (d_c/2m)²] over undirected intra-edge counts
    * L_c, community degree sums d_c, and edge count m scales to
    * 4m²·Q = Σ_c [E2·intra_c − d_c²] with E2 = 2m the DIRECTED row
    * count and intra_c the directed intra-community rows — every term
    * a BIGINT both engines compute identically. Per-community
    * contributions ORDER BY community, plus the E2 scale so a reader
    * can recover Q. Isolated vertices are their own zero-contribution
    * communities. */
  val q339 = {
    val Iters = 3
    GQuery("q339_lpa_modularity",
      s"""WITH $shingleCtes,
         |$pairCtes,
         |${lpaCtes(Iters)},
         |${modularityCensusSql(s"l$Iters")}""".stripMargin) { (s, dir) =>
      val pairs = sharedPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .localCheckpoint()
      val labels = graft.operators.GraphOps.labelPropagation(
        Tables.documents(s, dir).select(col("doc_id").as("id")),
        edges, iters = Iters)
      graft.operators.GraphOps.modularity(labels, edges)
        .orderBy(col("community"))
    }
  }

  /** One greedy modularity-refinement sweep over the LPA partition
    * (see [[graft.operators.GraphOps.modularityRefineRound]] — the
    * synchronous Louvain phase-1 move step): every vertex evaluates
    * moving to each neighbor community with the EXACT integer gain
    * `2·E2·(k_vb − k_va) + 2·d_v·(D_a − D_b) − 2·d_v²` on the q339
    * 4m² scale, takes the best strictly-positive move (ties → smallest
    * label), all simultaneously. Output: the refined partition's
    * modularity census (the q339 shape), so the oracle proves both
    * the move selection AND the resulting Q parts. */
  val q342 = {
    val Iters = 3
    GQuery("q342_modularity_refine",
      s"""WITH $shingleCtes,
         |$pairCtes,
         |${lpaCtes(Iters)},
         |e2r AS MATERIALIZED (SELECT count(*) AS e2 FROM ed),
         |dgr AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM ed GROUP BY 1),
         |dcr AS MATERIALIZED (
         |  SELECT l.lbl AS community,
         |    CAST(sum(coalesce(dgr.deg, 0)) AS BIGINT) AS dsum
         |  FROM l$Iters l LEFT JOIN dgr USING (id) GROUP BY 1),
         |kvc AS MATERIALIZED (
         |  SELECT ed.src AS id, b.lbl AS cb, CAST(count(*) AS BIGINT) AS k
         |  FROM ed JOIN l$Iters b ON b.id = ed.dst GROUP BY 1, 2),
         |base AS (
         |  SELECT l.id, l.lbl AS a,
         |    CAST(coalesce(dgr.deg, 0) AS BIGINT) AS dv,
         |    dca.dsum AS da, CAST(coalesce(kv.k, 0) AS BIGINT) AS kva
         |  FROM l$Iters l LEFT JOIN dgr USING (id)
         |  JOIN dcr dca ON dca.community = l.lbl
         |  LEFT JOIN kvc kv ON kv.id = l.id AND kv.cb = l.lbl),
         |cand AS (
         |  SELECT base.id, kvc.cb AS b,
         |    2 * (SELECT e2 FROM e2r) * (kvc.k - base.kva)
         |      + 2 * base.dv * (base.da - dcb.dsum)
         |      - 2 * base.dv * base.dv AS gain
         |  FROM base JOIN kvc ON kvc.id = base.id AND kvc.cb <> base.a
         |  JOIN dcr dcb ON dcb.community = kvc.cb),
         |mv AS (
         |  SELECT id, b FROM (
         |    SELECT id, b, gain, row_number() OVER (PARTITION BY id
         |      ORDER BY gain DESC, b ASC) AS rn
         |    FROM cand) WHERE rn = 1 AND gain > 0),
         |lref AS MATERIALIZED (
         |  SELECT l.id, coalesce(mv.b, l.lbl) AS lbl
         |  FROM l$Iters l LEFT JOIN mv USING (id)),
         |${modularityCensusSql("lref")}""".stripMargin) { (s, dir) =>
      val pairs = sharedPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .localCheckpoint()
      val labels = graft.operators.GraphOps.labelPropagation(
        Tables.documents(s, dir).select(col("doc_id").as("id")),
        edges, iters = Iters)
      // fence the sweep's lineage: modularity() looks labels up TWICE
      // (src and dst side), and an unfenced refinement DAG would be
      // recomputed — and re-analyzed — once per lookup (the
      // foreachBatch lineage lesson, SCALE.md)
      val refined = graft.operators.GraphOps
        .modularityRefineRound(labels, edges)
        .localCheckpoint()
      graft.operators.GraphOps.modularity(refined, edges)
        .orderBy(col("community"))
    }
  }

  /** One oracle-replay Louvain sweep (the
    * [[graft.operators.GraphOps.louvain]] refine round: q342's gain
    * PLUS the self-loop term `+ s_v` — load-bearing on coarse graphs,
    * identically zero before coarsening — and the
    * Lu–Halappanavar–Kalyanaraman singleton-swap guard) over edge CTE
    * `ed` and label CTE `lin(id, community)`, emitting `lout`. CTE
    * names are suffixed with `tag` so sweeps chain. */
  private def louvainSweepCtes(tag: String, ed: String, lin: String,
                               lout: String): String =
    s"""e2$tag AS (SELECT count(*) AS e2 FROM $ed),
       |dg$tag AS MATERIALIZED (
       |  SELECT src AS id, count(*) AS deg FROM $ed GROUP BY 1),
       |dc$tag AS MATERIALIZED (
       |  SELECT l.community AS community,
       |    CAST(sum(coalesce(dg.deg, 0)) AS BIGINT) AS dsum,
       |    CAST(count(*) AS BIGINT) AS nmem
       |  FROM $lin l LEFT JOIN dg$tag dg USING (id) GROUP BY 1),
       |kvc$tag AS MATERIALIZED (
       |  SELECT e.src AS id, b.community AS cb, CAST(count(*) AS BIGINT) AS k
       |  FROM $ed e JOIN $lin b ON b.id = e.dst GROUP BY 1, 2),
       |slf$tag AS MATERIALIZED (
       |  SELECT src AS id, CAST(count(*) AS BIGINT) AS sv
       |  FROM $ed WHERE src = dst GROUP BY 1),
       |base$tag AS (
       |  SELECT l.id, l.community AS a,
       |    CAST(coalesce(dg.deg, 0) AS BIGINT) AS dv,
       |    dca.dsum AS da, dca.nmem AS na,
       |    CAST(coalesce(kv.k, 0) AS BIGINT) AS kva,
       |    CAST(coalesce(s.sv, 0) AS BIGINT) AS sv
       |  FROM $lin l LEFT JOIN dg$tag dg USING (id)
       |  JOIN dc$tag dca ON dca.community = l.community
       |  LEFT JOIN kvc$tag kv ON kv.id = l.id AND kv.cb = l.community
       |  LEFT JOIN slf$tag s ON s.id = l.id),
       |cand$tag AS (
       |  SELECT base.id, kvc.cb AS b,
       |    2 * (SELECT e2 FROM e2$tag) * (kvc.k - base.kva + base.sv)
       |      + 2 * base.dv * (base.da - dcb.dsum)
       |      - 2 * base.dv * base.dv AS gain
       |  FROM base$tag base
       |  JOIN kvc$tag kvc ON kvc.id = base.id AND kvc.cb <> base.a
       |  JOIN dc$tag dcb ON dcb.community = kvc.cb
       |  WHERE NOT (base.na = 1 AND dcb.nmem = 1 AND kvc.cb > base.a)),
       |mv$tag AS (
       |  SELECT id, b FROM (
       |    SELECT id, b, gain, row_number() OVER (PARTITION BY id
       |      ORDER BY gain DESC, b ASC) AS rn
       |    FROM cand$tag) WHERE rn = 1 AND gain > 0),
       |$lout AS MATERIALIZED (
       |  SELECT l.id, coalesce(mv.b, l.community) AS community
       |  FROM $lin l LEFT JOIN mv$tag mv USING (id))""".stripMargin

  /** FULL Louvain over the near-dup pair graph (see
    * [[graft.operators.GraphOps.louvain]]): from singletons, two
    * synchronous exact-integer refinement sweeps (phase 1), coarsen
    * communities to supervertices with weight as row multiplicity
    * (phase 2 — intra rows become self-loops, where the sweep's
    * `+ s_v` gain term becomes load-bearing), two more sweeps on the
    * coarse multigraph, compose. Output: the q339-shape modularity
    * census of the FINAL composed partition on the ORIGINAL graph, so
    * the oracle proves every move at both levels AND the resulting Q
    * parts. The singleton-swap guard (cand's NOT(na=1 AND nmem=1 AND
    * b>a)) is what lets isolated near-dup PAIRS — the most common
    * component in a dup graph — merge instead of label-swapping
    * forever under synchronous moves. */
  val q343 = {
    GQuery("q343_louvain_communities",
      s"""WITH $shingleCtes,
         |$pairCtes,
         |ed AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pr
         |       UNION ALL SELECT id_b, id_a FROM pr),
         |lv0 AS MATERIALIZED (
         |  SELECT doc_id AS id, doc_id AS community FROM documents),
         |${louvainSweepCtes("s1", "ed", "lv0", "lv1")},
         |${louvainSweepCtes("s2", "ed", "lv1", "lv2")},
         |ed2 AS MATERIALIZED (
         |  SELECT a.community AS src, b.community AS dst
         |  FROM ed e JOIN lv2 a ON a.id = e.src JOIN lv2 b ON b.id = e.dst),
         |cl0 AS MATERIALIZED (
         |  SELECT DISTINCT community AS id, community AS community FROM lv2),
         |${louvainSweepCtes("s3", "ed2", "cl0", "cl1")},
         |${louvainSweepCtes("s4", "ed2", "cl1", "cl2")},
         |fin AS MATERIALIZED (
         |  SELECT m.id, c.community AS lbl
         |  FROM lv2 m JOIN cl2 c ON c.id = m.community),
         |${modularityCensusSql("fin")}""".stripMargin) { (s, dir) =>
      val pairs = sharedPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .localCheckpoint()
      val labels = graft.operators.GraphOps.louvain(
          Tables.documents(s, dir).select(col("doc_id").as("id")),
          edges, levels = 2, sweepsPerLevel = 2)
        .localCheckpoint()
      graft.operators.GraphOps.modularity(labels, edges)
        .orderBy(col("community"))
    }
  }

  /** Louvain + the LEIDEN CONNECTIVITY GUARANTEE (see
    * [[graft.operators.GraphOps.repairCommunityConnectivity]]): the
    * q343 two-level Louvain partition, then every community split
    * into its connected parts (Louvain can strand a community's
    * halves when a bridge vertex moves out — Traag et al. 2019;
    * splitting a disconnected community ALWAYS raises Q by exactly
    * 2·D_1·D_2 on the 4m² scale). Labels canonicalize to component
    * minima. The oracle extends the q343 replay with a recursive-CTE
    * CC over the INTRA-community edge subset (the q51 reach shape) and
    * scores the repaired partition with the q339 census. */
  val q349 = {
    GQuery("q349_louvain_connected",
      s"""WITH RECURSIVE $shingleCtes,
         |$pairCtes,
         |ed AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pr
         |       UNION ALL SELECT id_b, id_a FROM pr),
         |lv0 AS MATERIALIZED (
         |  SELECT doc_id AS id, doc_id AS community FROM documents),
         |${louvainSweepCtes("s1", "ed", "lv0", "lv1")},
         |${louvainSweepCtes("s2", "ed", "lv1", "lv2")},
         |ed2 AS MATERIALIZED (
         |  SELECT a.community AS src, b.community AS dst
         |  FROM ed e JOIN lv2 a ON a.id = e.src JOIN lv2 b ON b.id = e.dst),
         |cl0 AS MATERIALIZED (
         |  SELECT DISTINCT community AS id, community AS community FROM lv2),
         |${louvainSweepCtes("s3", "ed2", "cl0", "cl1")},
         |${louvainSweepCtes("s4", "ed2", "cl1", "cl2")},
         |fin AS MATERIALIZED (
         |  SELECT m.id, c.community AS lbl
         |  FROM lv2 m JOIN cl2 c ON c.id = m.community),
         |intra AS MATERIALIZED (
         |  SELECT e.src AS u, e.dst AS v
         |  FROM ed e JOIN fin a ON a.id = e.src JOIN fin b ON b.id = e.dst
         |  WHERE a.lbl = b.lbl AND e.src <> e.dst),
         |reach2(id, rep) AS (
         |  SELECT id, id FROM fin
         |  UNION
         |  SELECT i.u, r.rep FROM intra i JOIN reach2 r ON i.v = r.id),
         |rl AS MATERIALIZED (
         |  SELECT id, min(rep) AS lbl FROM reach2 GROUP BY id),
         |${modularityCensusSql("rl")}""".stripMargin) { (s, dir) =>
      val pairs = sharedPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .localCheckpoint()
      val labels = graft.operators.GraphOps.louvain(
        Tables.documents(s, dir).select(col("doc_id").as("id")),
        edges, levels = 2, sweepsPerLevel = 2)
      val repaired = graft.operators.GraphOps
        .repairCommunityConnectivity(labels, edges)
        .localCheckpoint()
      graft.operators.GraphOps.modularity(repaired, edges)
        .orderBy(col("community"))
    }
  }

  /** [[louvainSweepCtes]] with every occurrence count replaced by a
    * weight SUM — the [[graft.operators.GraphOps.louvainWeighted]]
    * sweep over an integer-weighted edge CTE `ed(src, dst, w)`. Gain
    * algebra identical (all terms weighted BIGINT sums). */
  private def louvainSweepCtesW(tag: String, ed: String, lin: String,
                                lout: String): String =
    s"""e2$tag AS (SELECT CAST(sum(w) AS BIGINT) AS e2 FROM $ed),
       |dg$tag AS MATERIALIZED (
       |  SELECT src AS id, CAST(sum(w) AS BIGINT) AS deg FROM $ed GROUP BY 1),
       |dc$tag AS MATERIALIZED (
       |  SELECT l.community AS community,
       |    CAST(sum(coalesce(dg.deg, 0)) AS BIGINT) AS dsum,
       |    CAST(count(*) AS BIGINT) AS nmem
       |  FROM $lin l LEFT JOIN dg$tag dg USING (id) GROUP BY 1),
       |kvc$tag AS MATERIALIZED (
       |  SELECT e.src AS id, b.community AS cb, CAST(sum(e.w) AS BIGINT) AS k
       |  FROM $ed e JOIN $lin b ON b.id = e.dst GROUP BY 1, 2),
       |slf$tag AS MATERIALIZED (
       |  SELECT src AS id, CAST(sum(w) AS BIGINT) AS sv
       |  FROM $ed WHERE src = dst GROUP BY 1),
       |base$tag AS (
       |  SELECT l.id, l.community AS a,
       |    CAST(coalesce(dg.deg, 0) AS BIGINT) AS dv,
       |    dca.dsum AS da, dca.nmem AS na,
       |    CAST(coalesce(kv.k, 0) AS BIGINT) AS kva,
       |    CAST(coalesce(s.sv, 0) AS BIGINT) AS sv
       |  FROM $lin l LEFT JOIN dg$tag dg USING (id)
       |  JOIN dc$tag dca ON dca.community = l.community
       |  LEFT JOIN kvc$tag kv ON kv.id = l.id AND kv.cb = l.community
       |  LEFT JOIN slf$tag s ON s.id = l.id),
       |cand$tag AS (
       |  SELECT base.id, kvc.cb AS b,
       |    2 * (SELECT e2 FROM e2$tag) * (kvc.k - base.kva + base.sv)
       |      + 2 * base.dv * (base.da - dcb.dsum)
       |      - 2 * base.dv * base.dv AS gain
       |  FROM base$tag base
       |  JOIN kvc$tag kvc ON kvc.id = base.id AND kvc.cb <> base.a
       |  JOIN dc$tag dcb ON dcb.community = kvc.cb
       |  WHERE NOT (base.na = 1 AND dcb.nmem = 1 AND kvc.cb > base.a)),
       |mv$tag AS (
       |  SELECT id, b FROM (
       |    SELECT id, b, gain, row_number() OVER (PARTITION BY id
       |      ORDER BY gain DESC, b ASC) AS rn
       |    FROM cand$tag) WHERE rn = 1 AND gain > 0),
       |$lout AS MATERIALIZED (
       |  SELECT l.id, coalesce(mv.b, l.community) AS community
       |  FROM $lin l LEFT JOIN mv$tag mv USING (id))""".stripMargin

  /** The WEIGHTED modularity-census tail
    * ([[graft.operators.GraphOps.modularityWeighted]]'s contract in
    * SQL) over a label CTE `lt(id, lbl)` and a weighted edge CTE
    * `ed(src, dst, w)`: per-community (n_members, d_c, intra_w,
    * q_4w2_part, e2) with every count a weight sum. */
  private def modularityCensusWSql(lt: String, ed: String): String =
    s"""e2t AS (SELECT CAST(sum(w) AS BIGINT) AS e2 FROM $ed),
       |dgt AS MATERIALIZED (
       |  SELECT src AS id, CAST(sum(w) AS BIGINT) AS deg FROM $ed GROUP BY 1),
       |cmt AS (
       |  SELECT l.lbl AS community,
       |    CAST(count(*) AS BIGINT) AS n_members,
       |    CAST(sum(coalesce(dgt.deg, 0)) AS BIGINT) AS d_c
       |  FROM $lt l LEFT JOIN dgt USING (id) GROUP BY 1),
       |intw AS (
       |  SELECT a.lbl AS community, CAST(sum(e.w) AS BIGINT) AS intra_w
       |  FROM $ed e JOIN $lt a ON a.id = e.src
       |             JOIN $lt b2 ON b2.id = e.dst
       |  WHERE a.lbl = b2.lbl GROUP BY 1)
       |SELECT cmt.community, cmt.n_members, cmt.d_c,
       |  CAST(coalesce(i.intra_w, 0) AS BIGINT) AS intra_w,
       |  CAST((SELECT e2 FROM e2t) * coalesce(i.intra_w, 0)
       |    - cmt.d_c * cmt.d_c AS BIGINT) AS q_4w2_part,
       |  CAST((SELECT e2 FROM e2t) AS BIGINT) AS e2
       |FROM cmt LEFT JOIN intw i USING (community)
       |ORDER BY community""".stripMargin

  /** WEIGHTED full Louvain (see
    * [[graft.operators.GraphOps.louvainWeighted]]) over the near-dup
    * pair graph with the exact shared-shingle count as the integer
    * edge weight — the dup graph is naturally weighted, and weight
    * changes the partition: a doc tied to one cluster by a HEAVY
    * near-identity edge belongs with it even when more (light) edges
    * point elsewhere. Two weighted sweeps, weight-summing coarsening
    * (parallel coarse rows collapse — the coarse graph is
    * communities²-bounded, not edge-bounded), two more sweeps,
    * compose. Output: the weighted modularity census of the final
    * partition on the original graph — every move at both levels AND
    * the resulting 4W²·Q parts replayed in exact integers. */
  val q350 = {
    GQuery("q350_louvain_weighted",
      s"""WITH $shingleCtes,
         |$pairCtesW,
         |edw AS MATERIALIZED (SELECT id_a AS src, id_b AS dst, w FROM prw
         |       UNION ALL SELECT id_b, id_a, w FROM prw),
         |lw0 AS MATERIALIZED (
         |  SELECT doc_id AS id, doc_id AS community FROM documents),
         |${louvainSweepCtesW("w1", "edw", "lw0", "lw1")},
         |${louvainSweepCtesW("w2", "edw", "lw1", "lw2")},
         |ed2w AS MATERIALIZED (
         |  SELECT a.community AS src, b.community AS dst,
         |    CAST(sum(e.w) AS BIGINT) AS w
         |  FROM edw e JOIN lw2 a ON a.id = e.src JOIN lw2 b ON b.id = e.dst
         |  GROUP BY 1, 2),
         |cw0 AS MATERIALIZED (
         |  SELECT DISTINCT community AS id, community AS community FROM lw2),
         |${louvainSweepCtesW("w3", "ed2w", "cw0", "cw1")},
         |${louvainSweepCtesW("w4", "ed2w", "cw1", "cw2")},
         |finw AS MATERIALIZED (
         |  SELECT m.id, c.community AS lbl
         |  FROM lw2 m JOIN cw2 c ON c.id = m.community),
         |${modularityCensusWSql("finw", "edw")}""".stripMargin) { (s, dir) =>
      val pairs = sharedWeightedPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"),
          col("inter").as("w"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst"),
          col("inter").as("w")))
        .localCheckpoint()
      val labels = graft.operators.GraphOps.louvainWeighted(
          Tables.documents(s, dir).select(col("doc_id").as("id")),
          edges, levels = 2, sweepsPerLevel = 2)
        .localCheckpoint()
      graft.operators.GraphOps.modularityWeighted(labels, edges)
        .orderBy(col("community"))
    }
  }

  /** [[lpaCtes]] with WEIGHTED votes over the weighted edge CTE
    * `edw(src, dst, w)` — the
    * [[graft.operators.GraphOps.labelPropagationWeighted]] rounds:
    * label score = incident weight sum, ties → smallest label. Emits
    * `llw{iters}(id, lbl)`. */
  private def lpaCtesW(iters: Int): String = {
    def iterCtes(i: Int): String =
      s"""vlw$i AS (
         |  SELECT ed.src AS id, l.lbl AS lbl, CAST(sum(ed.w) AS BIGINT) AS c
         |  FROM edw ed JOIN llw${i - 1} l ON l.id = ed.dst
         |  GROUP BY 1, 2),
         |mlw$i AS (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY c DESC, lbl ASC) AS rn
         |    FROM vlw$i) WHERE rn = 1),
         |llw$i AS MATERIALIZED (
         |  SELECT p.id, coalesce(mlw$i.lbl, p.lbl) AS lbl
         |  FROM llw${i - 1} p LEFT JOIN mlw$i USING (id))""".stripMargin
    s"""edw AS MATERIALIZED (SELECT id_a AS src, id_b AS dst, w FROM prw
       |       UNION ALL SELECT id_b, id_a, w FROM prw),
       |llw0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl FROM documents),
       |${(1 to iters).map(iterCtes).mkString(",\n")}""".stripMargin
  }

  /** WEIGHTED label propagation (see
    * [[graft.operators.GraphOps.labelPropagationWeighted]]) over the
    * shingle-count-weighted near-dup graph: the q338 plurality vote
    * with weight-sum scores — one heavy near-identity edge outvotes
    * several light ones, the right call on a similarity-weighted dup
    * graph. The oracle replays every weighted round. */
  val q355 = {
    val Iters = 3
    GQuery("q355_lpa_weighted",
      s"""WITH $shingleCtes,
         |$pairCtesW,
         |${lpaCtesW(Iters)}
         |SELECT id AS doc_id, lbl AS community
         |FROM llw$Iters ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pairs = sharedWeightedPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"),
          col("inter").as("w"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst"),
          col("inter").as("w")))
      graft.operators.GraphOps.labelPropagationWeighted(
          Tables.documents(s, dir).select(col("doc_id").as("id")),
          edges, iters = Iters)
        .select(col("id").as("doc_id"), col("community"))
        .orderBy(col("doc_id"))
    }
  }

  /** WEIGHTED Louvain + the Leiden connectivity guarantee: the q350
    * weighted partition, then every community split into its
    * connected parts
    * ([[graft.operators.GraphOps.repairCommunityConnectivity]] —
    * connectivity is weight-blind, so the repair composes unchanged)
    * and scored with the weighted census. Completes the weighted
    * family's symmetry with q349. */
  val q356 = {
    GQuery("q356_louvain_weighted_connected",
      s"""WITH RECURSIVE $shingleCtes,
         |$pairCtesW,
         |edw AS MATERIALIZED (SELECT id_a AS src, id_b AS dst, w FROM prw
         |       UNION ALL SELECT id_b, id_a, w FROM prw),
         |lw0 AS MATERIALIZED (
         |  SELECT doc_id AS id, doc_id AS community FROM documents),
         |${louvainSweepCtesW("w1", "edw", "lw0", "lw1")},
         |${louvainSweepCtesW("w2", "edw", "lw1", "lw2")},
         |ed2w AS MATERIALIZED (
         |  SELECT a.community AS src, b.community AS dst,
         |    CAST(sum(e.w) AS BIGINT) AS w
         |  FROM edw e JOIN lw2 a ON a.id = e.src JOIN lw2 b ON b.id = e.dst
         |  GROUP BY 1, 2),
         |cw0 AS MATERIALIZED (
         |  SELECT DISTINCT community AS id, community AS community FROM lw2),
         |${louvainSweepCtesW("w3", "ed2w", "cw0", "cw1")},
         |${louvainSweepCtesW("w4", "ed2w", "cw1", "cw2")},
         |finw AS MATERIALIZED (
         |  SELECT m.id, c.community AS lbl
         |  FROM lw2 m JOIN cw2 c ON c.id = m.community),
         |intra2 AS MATERIALIZED (
         |  SELECT e.src AS u, e.dst AS v
         |  FROM edw e JOIN finw a ON a.id = e.src JOIN finw b ON b.id = e.dst
         |  WHERE a.lbl = b.lbl AND e.src <> e.dst),
         |reach3(id, rep) AS (
         |  SELECT id, id FROM finw
         |  UNION
         |  SELECT i.u, r.rep FROM intra2 i JOIN reach3 r ON i.v = r.id),
         |rlw AS MATERIALIZED (
         |  SELECT id, min(rep) AS lbl FROM reach3 GROUP BY id),
         |${modularityCensusWSql("rlw", "edw")}""".stripMargin) { (s, dir) =>
      val pairs = sharedWeightedPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"),
          col("inter").as("w"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst"),
          col("inter").as("w")))
        .localCheckpoint()
      val labels = graft.operators.GraphOps.louvainWeighted(
        Tables.documents(s, dir).select(col("doc_id").as("id")),
        edges, levels = 2, sweepsPerLevel = 2)
      val repaired = graft.operators.GraphOps
        .repairCommunityConnectivity(labels, edges)
        .localCheckpoint()
      graft.operators.GraphOps.modularityWeighted(repaired, edges)
        .orderBy(col("community"))
    }
  }

  /** LEAKAGE-SAFE train/test split (see
    * [[graft.operators.Sampling.groupTrainTestSplit]]): the split
    * hashes the near-dup CLUSTER REP, so no cluster straddles train
    * and test — the q45 doc-hash split would evaluate the model on
    * paraphrases of its own training data. Per (lang, split): doc and
    * cluster counts; by construction (split is a function of the
    * rep) a cluster never spans splits — `SamplingSpec` asserts the
    * law directly and shows the doc-level split DOES leak on the same
    * clusters. */
  val q341 = GQuery("q341_group_split",
    s"""WITH RECURSIVE $shingleCtes,
       |$clusterCtes
       |SELECT d.lang,
       |  CASE WHEN ${graft.operators.Sampling.hashBucketSql(
            "cl.cluster_rep", 100)} < 10
       |       THEN 'test' ELSE 'train' END AS split,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT cl.cluster_rep) AS BIGINT) AS n_clusters
       |FROM documents d JOIN cl USING (doc_id)
       |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin) { (s, dir) =>
    graft.operators.Sampling.groupTrainTestSplit(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"))
          .join(sharedClusters(s, dir), Seq("doc_id")),
        "cluster_rep", "doc_id", testPct = 10)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_rep")).as("n_clusters"))
      .orderBy(col("lang"), col("split"))
  }

  /** Capstone curation v4 — the fourth-session stack composed under
    * ONE end-to-end oracle: canonical-by-quality near-dup dedup (q78
    * rule) → quality-weighted Bernoulli resample at 1/2 (q102's
    * integer-exact acceptance test, totals over the SURVIVORS) →
    * curriculum packing (q106 rule) → per-shard summary. Every stage's
    * determinism idiom carries through, so the whole composition
    * hash-matches with fixed-point quality sums. */
  val q108 = {
    val MaxTok = 4096L
    GQuery("q108_curation_v4",
      s"""WITH RECURSIVE $shingleCtes,
         |$clusterCtes,
         |${TextQueries.qualityCte},
         |r AS (
         |  SELECT cl.doc_id AS doc_id, q.quality, q.n_tokens,
         |    row_number() OVER (PARTITION BY cl.cluster_rep
         |                       ORDER BY q.quality DESC, cl.doc_id) AS rn
         |  FROM cl JOIN q USING (doc_id)),
         |win AS (SELECT doc_id, quality, n_tokens FROM r WHERE rn = 1),
         |w AS (
         |  SELECT doc_id, quality, n_tokens,
         |    greatest(CAST(round(quality * 1e4) AS BIGINT), 0) AS w4,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS u48
         |  FROM win),
         |tw AS (SELECT sum(w4) AS sw4, count(*) AS n FROM w),
         |kept AS (
         |  SELECT doc_id, quality, n_tokens FROM w, tw
         |  WHERE (CAST(u48 AS HUGEINT) * CAST(sw4 AS HUGEINT) * 2) <
         |        (CAST(w4 AS HUGEINT) * CAST(n AS HUGEINT) * 1 *
         |         CAST(281474976710656 AS HUGEINT))),
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
      import graft.functions.TextFunctions
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val winners = Dedup.canonicalPerCluster(
          sharedClusters(s, dir).select(col("doc_id"), col("cluster_rep")),
          docs.select(col("doc_id"), col("quality")),
          "doc_id", "cluster_rep", "quality")
        .where(col("keep")).select(col("doc_id"))
        .join(docs, "doc_id")
      val kept = graft.operators.Sampling.weightedBernoulliSample(
          winners, "doc_id", "quality", fracNum = 1, fracDen = 2)
        .where(col("kept")).select(col("doc_id"))
        .join(winners, "doc_id")
      graft.operators.Packing.packByOrder(
          kept, "doc_id", "n_tokens", "quality", MaxTok)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(round(col("quality") * 1e4).cast("long")).as("q4_sum"))
        .withColumn("fill_ratio",
          round(col("sum_tokens").cast("double") / MaxTok, 4))
        .orderBy(col("shard_id"))
    }
  }

  /** Corpus snapshot diff (see [[graft.operators.Dedup.snapshotDiff]]):
    * v1 = docs with doc_id % 7 ≠ 0, v2 = docs with doc_id % 5 ≠ 0 and
    * an edit appended when doc_id % 11 = 0 — so the diff must produce
    * all four verdicts and report the three actionable ones. */
  val q134 = GQuery("q134_snapshot_diff",
    """WITH v1 AS (
      |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents WHERE doc_id % 7 <> 0),
      |v2 AS (
      |  SELECT doc_id, md5(regexp_replace(lower(trim(
      |      CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END)),
      |    '\s+', ' ', 'g')) AS fp
      |  FROM documents WHERE doc_id % 5 <> 0),
      |d AS (
      |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
      |    CASE WHEN v1.doc_id IS NULL THEN 'added'
      |         WHEN v2.doc_id IS NULL THEN 'removed'
      |         WHEN v1.fp <> v2.fp THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id)
      |SELECT doc_id, status FROM d WHERE status <> 'unchanged'
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val v1 = docs.where(col("doc_id") % 7 =!= 0)
    val v2 = docs.where(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .where(col("status") =!= "unchanged")
      .select(col("id").as("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  /** Fuzzy entity pairing (see
    * [[graft.operators.Dedup.editDistancePairs]]): every customer-name
    * pair within Levenshtein distance 1 — candidates banded on shared
    * ≤1-deletion variants, so sequentially-numbered names yield both
    * genuine one-digit-apart pairs AND transposition-shaped candidates
    * the verify must reject (≈34k rejected at sf0.01). The oracle
    * replays the identical neighborhood construction and verifies with
    * DuckDB's own `levenshtein`. */
  /** The SymSpell fuzzy name-pair graph shared by q135 and the q192
    * entity-resolution capstone — persisted with plan-identical
    * construction so the CacheManager serves both from one computed
    * copy per session (the variant expansion + self-join is the
    * expensive stage of both). */
  private[queries] def sharedNamePairs(s: org.apache.spark.sql.SparkSession,
                                       dir: String): org.apache.spark.sql.DataFrame =
    Materialized(s, s"namepairs:$dir") {
      Dedup.editDistancePairs(Tables.customer(s, dir), "c_name", minLen = 4)
    }

  val q135 = GQuery("q135_fuzzy_name_pairs",
    """WITH v AS (
      |  SELECT DISTINCT c_name AS w FROM customer WHERE length(c_name) >= 4),
      |var AS (
      |  SELECT w, unnest([w] ||
      |    [substr(w, 1, i - 1) || substr(w, i + 1) for i in range(1, length(w) + 1)]) AS d
      |  FROM v),
      |cand AS (
      |  SELECT DISTINCT a.w AS word_a, b.w AS word_b
      |  FROM var a JOIN var b ON a.d = b.d AND a.w < b.w)
      |SELECT word_a, word_b, levenshtein(word_a, word_b) AS dist
      |FROM cand WHERE levenshtein(word_a, word_b) <= 1
      |ORDER BY word_a, word_b""".stripMargin) { (s, dir) =>
    sharedNamePairs(s, dir).orderBy(col("word_a"), col("word_b"))
  }

  /** Sorted-neighborhood blocking (see
    * [[graft.operators.Dedup.sortedNeighborPairs]]): the
    * Hernández–Stolfo SNM candidate generator over the same customer
    * names as q135 — sort the distinct names once, compare each only
    * to the next 5 in sort order, verify with `levenshtein ≤ 1`. The
    * oracle replays rank assignment (row_number over the sorted
    * vocabulary), the rank-gap candidate rule, and the verify — so a
    * hash match proves the distributed two-phase-prefix-sum ranking
    * equals a sequential sort's ranks exactly. Recall is
    * window-bounded by design (first-character edits sort far apart
    * and are missed — spec-pinned); the catch is the cost shape: one
    * sort + V·(window−1) candidates, no neighborhood expansion. */
  val q257 = GQuery("q257_sorted_neighbor_pairs",
    """WITH v AS (
      |  SELECT DISTINCT c_name AS w FROM customer WHERE length(c_name) >= 4),
      |r AS (SELECT w, row_number() OVER (ORDER BY w) - 1 AS rk FROM v),
      |cand AS (
      |  SELECT a.w AS word_a, b.w AS word_b
      |  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 5)
      |SELECT word_a, word_b, levenshtein(word_a, word_b) AS dist
      |FROM cand WHERE levenshtein(word_a, word_b) <= 1
      |ORDER BY word_a, word_b""".stripMargin) { (s, dir) =>
    val (pairs, _) = Dedup.sortedNeighborPairsManaged(
      Tables.customer(s, dir), "c_name", window = 6, maxDist = 1,
      minLen = 4)
    pairs.orderBy(col("word_a"), col("word_b"))
  }

  /** Fellegi–Sunter linkage weights (see
    * [[graft.operators.Dedup.fellegiSunter]]): per-field match odds
    * for the customer-record linkage problem — m estimated over the
    * verified fuzzy-name pair set (the q135 SymSpell graph as the
    * match proxy), u computed EXACTLY from each field's value census
    * (Σ n_v(n_v−1) / N(N−1) — no sampled random pairs), and the m/u
    * agreement-odds ratio on the 1e-4 grid. The oracle replays the
    * SymSpell banding, the verify, both record joins, the agreement
    * counts, and the census arithmetic end to end. Discriminating
    * fields (many values, u ≪ 1) separate from chance-agreement
    * fields — the numbers a linkage scorer would sum as log-weights. */
  val q258 = GQuery("q258_linkage_weights",
    """WITH v AS (
      |  SELECT DISTINCT c_name AS w FROM customer WHERE length(c_name) >= 4),
      |var AS (
      |  SELECT w, unnest([w] ||
      |    [substr(w, 1, i - 1) || substr(w, i + 1) for i in range(1, length(w) + 1)]) AS d
      |  FROM v),
      |cand AS (
      |  SELECT DISTINCT a.w AS word_a, b.w AS word_b
      |  FROM var a JOIN var b ON a.d = b.d AND a.w < b.w),
      |np AS (
      |  SELECT word_a, word_b FROM cand
      |  WHERE levenshtein(word_a, word_b) <= 1),
      |pr AS (
      |  SELECT ca.c_nationkey AS na, cb.c_nationkey AS nb,
      |    ca.c_mktsegment AS sa, cb.c_mktsegment AS sb,
      |    floor(ca.c_acctbal / 1000.0) AS ba, floor(cb.c_acctbal / 1000.0) AS bb
      |  FROM np JOIN customer ca ON ca.c_name = word_a
      |          JOIN customer cb ON cb.c_name = word_b),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS t,
      |    CAST(sum(CASE WHEN na = nb THEN 1 ELSE 0 END) AS BIGINT) AS agn,
      |    CAST(sum(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT) AS ags,
      |    CAST(sum(CASE WHEN ba = bb THEN 1 ELSE 0 END) AS BIGINT) AS agb
      |  FROM pr),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
      |un AS (
      |  SELECT 'nation' AS field, CAST(sum(c * (c - 1)) AS BIGINT) AS s
      |  FROM (SELECT count(*) AS c FROM customer GROUP BY c_nationkey)
      |  UNION ALL
      |  SELECT 'segment', CAST(sum(c * (c - 1)) AS BIGINT)
      |  FROM (SELECT count(*) AS c FROM customer GROUP BY c_mktsegment)
      |  UNION ALL
      |  SELECT 'acct_band', CAST(sum(c * (c - 1)) AS BIGINT)
      |  FROM (SELECT count(*) AS c FROM customer
      |        GROUP BY floor(c_acctbal / 1000.0))),
      |me AS (
      |  SELECT 'nation' AS field, t AS n_pairs, agn AS n_agree FROM agg
      |  UNION ALL SELECT 'segment', t, ags FROM agg
      |  UNION ALL SELECT 'acct_band', t, agb FROM agg)
      |SELECT me.field, n_pairs, n_agree,
      |  CAST(round(1e4 * CAST(n_agree AS DOUBLE) / n_pairs) AS BIGINT)
      |    AS m4,
      |  CAST(round(1e8 * CAST(s AS DOUBLE) / (n * (n - 1))) AS BIGINT)
      |    AS u8,
      |  CAST(round(1e4 * CAST(n_agree * n * (n - 1) AS DOUBLE)
      |    / CAST(n_pairs * s AS DOUBLE)) AS BIGINT) AS mu_ratio4
      |FROM me JOIN un USING (field) CROSS JOIN tot
      |ORDER BY field""".stripMargin) { (s, dir) =>
    val pairs = sharedNamePairs(s, dir)
      .select(col("word_a").as("id_a"), col("word_b").as("id_b"))
    Dedup.fellegiSunter(Tables.customer(s, dir), "c_name", pairs, Seq(
      "acct_band" -> floor(col("c_acctbal") / 1000.0),
      "nation" -> col("c_nationkey"),
      "segment" -> col("c_mktsegment")))
      .orderBy(col("field"))
  }

  /** k-core of the near-dup graph (see
    * [[graft.operators.GraphOps.kCore]], k = 3): the dense heart of
    * each duplicate family after chains/stars peel away — the set a
    * canonical-keep rule can trust to be a real template cluster, vs
    * the q51 components that merge through single bridging edges.
    * The k-core fixpoint is unique, so the oracle replays peeling as a
    * FIXED 8-round chained-MATERIALIZED-CTE ladder (the Lloyd idiom);
    * the operator itself peels to asserted convergence, and a fixture
    * needing more than 8 rounds would break the hash loudly rather
    * than silently diverge. */
  val q265 = {
    val K = 3
    val rounds = 8
    val ladder = (1 to rounds).map { i =>
      s"""kv$i AS MATERIALIZED (
         |  SELECT id FROM (
         |    SELECT id, count(*) AS dg FROM (
         |      SELECT u AS id FROM e${i - 1}
         |      UNION ALL SELECT v AS id FROM e${i - 1})
         |    GROUP BY id)
         |  WHERE dg >= $K),
         |e$i AS MATERIALIZED (
         |  SELECT u, v FROM e${i - 1}
         |  JOIN kv$i a ON a.id = u
         |  JOIN kv$i b ON b.id = v)""".stripMargin
    }.mkString(",\n")
    GQuery("q265_kcore",
      s"""WITH v AS (
         |  SELECT DISTINCT c_name AS w FROM customer WHERE length(c_name) >= 4),
         |var AS (
         |  SELECT w, unnest([w] ||
         |    [substr(w, 1, i - 1) || substr(w, i + 1) for i in range(1, length(w) + 1)]) AS d
         |  FROM v),
         |cand AS (
         |  SELECT DISTINCT a.w AS word_a, b.w AS word_b
         |  FROM var a JOIN var b ON a.d = b.d AND a.w < b.w),
         |e0 AS MATERIALIZED (
         |  SELECT word_a AS u, word_b AS v FROM cand
         |  WHERE levenshtein(word_a, word_b) <= 1),
         |$ladder
         |SELECT id AS name, CAST(count(*) AS BIGINT) AS core_deg
         |FROM (SELECT u AS id FROM e$rounds
         |      UNION ALL SELECT v AS id FROM e$rounds)
         |GROUP BY id ORDER BY name""".stripMargin) { (s, dir) =>
      graft.operators.GraphOps.kCore(
          sharedNamePairs(s, dir)
            .select(col("word_a").as("id_a"), col("word_b").as("id_b")), K)
        .select(col("id").as("name"), col("core_deg"))
        .orderBy(col("name"))
    }
  }

  /** Common-neighbor link prediction over the fuzzy-name graph (see
    * [[graft.operators.GraphOps.commonNeighborCandidates]]): non-edges
    * whose endpoints share ≥ 2 verified fuzzy-pair partners, ranked by
    * neighborhood Jaccard — the recall-repair candidates a d ≤ 1
    * verifier missed (two names each one edit from the same two
    * neighbors are ≤ 2 edits apart themselves). The oracle replays the
    * SymSpell graph, the wedge census, the non-edge subtraction, and
    * the grid Jaccard. Top-100 by (jaccard6 DESC, names) keeps the
    * output deterministic and SF-stable. The 10⁴ degree cap is
    * replicated on BOTH sides (wedge centers filtered to d ≤ 10000 in
    * the oracle's `ctr` CTE), so the two engines compute the same
    * capped census at any SF — today's max degree is 37, so the cap
    * changes nothing at the tested SFs, but it is the boilerplate-hub
    * guard the 100 TB plan needs (and the capped plan's center
    * semi-join measures ~15% faster than the uncapped self-join). */
  val q266 = GQuery("q266_link_prediction",
    """WITH v AS (
      |  SELECT DISTINCT c_name AS w FROM customer WHERE length(c_name) >= 4),
      |var AS (
      |  SELECT w, unnest([w] ||
      |    [substr(w, 1, i - 1) || substr(w, i + 1) for i in range(1, length(w) + 1)]) AS d
      |  FROM v),
      |cand AS (
      |  SELECT DISTINCT a.w AS word_a, b.w AS word_b
      |  FROM var a JOIN var b ON a.d = b.d AND a.w < b.w),
      |e0 AS MATERIALIZED (
      |  SELECT word_a AS u, word_b AS v FROM cand
      |  WHERE levenshtein(word_a, word_b) <= 1),
      |adj AS MATERIALIZED (
      |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |dg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS d
      |       FROM adj GROUP BY u),
      |ctr AS (
      |  SELECT adj.u, adj.v FROM adj
      |  JOIN dg ON dg.id = adj.u AND dg.d <= 10000),
      |wg AS (
      |  SELECT a.v AS id_a, b.v AS id_b, CAST(count(*) AS BIGINT) AS common
      |  FROM ctr a JOIN ctr b ON a.u = b.u AND a.v < b.v
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |ne AS (
      |  SELECT wg.* FROM wg
      |  ANTI JOIN e0 ON e0.u = wg.id_a AND e0.v = wg.id_b)
      |SELECT id_a, id_b, common, da.d AS deg_a, db.d AS deg_b,
      |  CAST(round(1e6 * common / (da.d + db.d - common)) AS BIGINT)
      |    AS jaccard6
      |FROM ne JOIN dg da ON da.id = id_a JOIN dg db ON db.id = id_b
      |ORDER BY jaccard6 DESC, id_a, id_b LIMIT 100""".stripMargin) {
    (s, dir) =>
    graft.operators.GraphOps.commonNeighborCandidates(
        sharedNamePairs(s, dir)
          .select(col("word_a").as("id_a"), col("word_b").as("id_b")),
        minCommon = 2L, maxDegree = Some(10000L))
      .orderBy(col("jaccard6").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  /** Multi-source BFS hop distance over the fuzzy-name graph (see
    * [[graft.operators.GraphOps.bfsHops]]): from a seed set (every
    * 53rd customer's name), the minimum number of ≤1-edit steps to
    * every reachable name within 4 hops — the recursive-CTE workload
    * (lineage closure, "within k degrees") as a distributed frontier
    * iteration. The oracle IS a bounded recursive CTE over the same
    * SymSpell-banded edge list with min(hop) per vertex, so a hash
    * match proves frontier-BFS ≡ the textbook fixpoint. */
  val q278 = GQuery("q278_bfs_hops",
    """WITH RECURSIVE v AS (
      |  SELECT DISTINCT c_name AS w FROM customer WHERE length(c_name) >= 4),
      |var AS (
      |  SELECT w, unnest([w] ||
      |    [substr(w, 1, i - 1) || substr(w, i + 1) for i in range(1, length(w) + 1)]) AS d
      |  FROM v),
      |cand AS (
      |  SELECT DISTINCT a.w AS word_a, b.w AS word_b
      |  FROM var a JOIN var b ON a.d = b.d AND a.w < b.w),
      |e0 AS MATERIALIZED (
      |  SELECT word_a AS u, word_b AS v FROM cand
      |  WHERE levenshtein(word_a, word_b) <= 1),
      |adj AS MATERIALIZED (
      |  SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
      |seeds AS (
      |  SELECT DISTINCT c_name AS id FROM customer
      |  WHERE c_custkey % 53 = 0 AND length(c_name) >= 4),
      |walk(id, hop) AS (
      |  SELECT id, 0 FROM seeds
      |  UNION
      |  SELECT adj.v, walk.hop + 1
      |  FROM walk JOIN adj ON adj.u = walk.id
      |  WHERE walk.hop < 4)
      |SELECT id AS name, CAST(min(hop) AS BIGINT) AS hop
      |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val seeds = Tables.customer(s, dir)
      .where(col("c_custkey") % 53 === 0 && length(col("c_name")) >= 4)
      .select(col("c_name").as("id"))
    // visited broadcast + driver budget: the reachable set is a 4-hop
    // edit-distance neighborhood of a sampled seed set and the pair
    // graph is dup-population-sized — bounded by construction, never
    // corpus-sized
    graft.operators.GraphOps.bfsHops(
        sharedNamePairs(s, dir)
          .select(col("word_a").as("id_a"), col("word_b").as("id_b")),
        seeds, maxHops = 4, broadcastVisited = true,
        driverMaxEdges = 500000)
      .select(col("id").as("name"), col("hop"))
      .orderBy(col("name"))
  }

  /** Double-sweep diameter bound of the fuzzy-name graph: BFS from
    * the lexicographically-first edge endpoint to its farthest vertex,
    * then BFS from THAT vertex — the farthest distance found is the
    * classic tight lower bound on the graph diameter, and both sweeps
    * reuse the audited [[graft.operators.GraphOps.bfsHops]] frontier
    * iteration (hop-capped at 12, so the oracle's recursive CTEs stay
    * bounded). Ties at each "farthest" pick resolve to the smallest
    * name. Returns one row:
    * (seed1, ecc1, seed2, ecc2, far2). */
  val q290 = GQuery("q290_double_sweep",
    """WITH RECURSIVE v AS (
      |  SELECT DISTINCT c_name AS w FROM customer
      |  WHERE length(c_name) >= 4),
      |var AS (
      |  SELECT w, unnest([w] ||
      |    [substr(w, 1, i - 1) || substr(w, i + 1) for i in range(1, length(w) + 1)]) AS d
      |  FROM v),
      |cand AS (
      |  SELECT DISTINCT a.w AS word_a, b.w AS word_b
      |  FROM var a JOIN var b ON a.d = b.d AND a.w < b.w),
      |e0 AS MATERIALIZED (
      |  SELECT word_a AS u, word_b AS v FROM cand
      |  WHERE levenshtein(word_a, word_b) <= 1),
      |adj AS MATERIALIZED (
      |  SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
      |s1 AS (SELECT min(u) AS id FROM adj),
      |w1(id, hop) AS (
      |  SELECT id, 0 FROM s1
      |  UNION
      |  SELECT adj.v, w1.hop + 1 FROM w1 JOIN adj ON adj.u = w1.id
      |  WHERE w1.hop < 12),
      |m1 AS (SELECT id, min(hop) AS hop FROM w1 GROUP BY 1),
      |e1 AS (SELECT max(hop) AS ecc FROM m1),
      |s2 AS (SELECT min(id) AS id FROM m1 JOIN e1 ON m1.hop = e1.ecc),
      |w2(id, hop) AS (
      |  SELECT id, 0 FROM s2
      |  UNION
      |  SELECT adj.v, w2.hop + 1 FROM w2 JOIN adj ON adj.u = w2.id
      |  WHERE w2.hop < 12),
      |m2 AS (SELECT id, min(hop) AS hop FROM w2 GROUP BY 1),
      |e2 AS (SELECT max(hop) AS ecc FROM m2),
      |f2 AS (SELECT min(id) AS id FROM m2 JOIN e2 ON m2.hop = e2.ecc)
      |SELECT s1.id AS seed1, CAST(e1.ecc AS BIGINT) AS ecc1,
      |  s2.id AS seed2, CAST(e2.ecc AS BIGINT) AS ecc2, f2.id AS far2
      |FROM s1 CROSS JOIN e1 CROSS JOIN s2 CROSS JOIN e2
      |CROSS JOIN f2""".stripMargin) { (s, dir) =>
    import s.implicits._
    val pairs = sharedNamePairs(s, dir)
      .select(col("word_a").as("id_a"), col("word_b").as("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed1 = pairs
      .select(least(col("id_a"), col("id_b")).as("id"))
      .agg(min(col("id"))).head().getString(0)
    def sweep(seed: String): (Long, String) = {
      // visited broadcast + driver budget: the sweep runs on the
      // shared-name pair graph — dup-population-sized, not
      // corpus-sized; a 12-round sweep is otherwise 12 sequential
      // jobs of pure scheduler latency
      val b = graft.operators.GraphOps.bfsHops(pairs,
        Seq(seed).toDF("id"), maxHops = 12, broadcastVisited = true,
        driverMaxEdges = 500000)
      // one job for (eccentricity, min-id farthest vertex): the
      // deepest layer's row of a per-layer min, instead of a max-hop
      // agg followed by a filtered min agg
      val r = b.groupBy(col("hop")).agg(min(col("id")).as("far"))
        .orderBy(col("hop").desc).limit(1).head()
      (r.getLong(0), r.getString(1))
    }
    val (ecc1, seed2) = sweep(seed1)
    val (ecc2, far2) = sweep(seed2)
    Seq((seed1, ecc1, seed2, ecc2, far2))
      .toDF("seed1", "ecc1", "seed2", "ecc2", "far2")
  }

  /** Greedy maximum-coverage doc selection (see
    * [[graft.operators.Sampling.greedyMaxCoverage]], k = 8): the 8
    * documents that together cover the most distinct 3-gram shingles,
    * each re-scored on its MARGINAL gain — the diversity-first
    * data-selection rule a one-shot "biggest docs" top-k gets wrong
    * on overlapping content. The oracle replays the whole greedy
    * chain as a fixed-k chained-MATERIALIZED-CTE ladder (census →
    * argmax with id tie-break → coverage removal, eight times). */
  val q286 = {
    val K = 8
    val ladder = (1 to K).map { i =>
      val prev = if (i == 1) "ex" else s"rem${i - 1}"
      s"""g$i AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS c
         |  FROM $prev GROUP BY 1),
         |b$i AS MATERIALIZED (
         |  SELECT CAST($i AS BIGINT) AS step, doc_id, c FROM g$i
         |  ORDER BY c DESC, doc_id LIMIT 1),
         |cov$i AS (SELECT s FROM $prev JOIN b$i USING (doc_id)),
         |rem$i AS MATERIALIZED (
         |  SELECT r.* FROM $prev r ANTI JOIN cov$i ON cov$i.s = r.s)"""
        .stripMargin
    }.mkString(",\n")
    GQuery("q286_greedy_coverage",
      s"""WITH $shingleCtes,
         |$ladder,
         |pk AS (
         |  ${(1 to K).map(i => s"SELECT * FROM b$i")
              .mkString("\n  UNION ALL ")})
         |SELECT step, doc_id AS id, c AS gain,
         |  CAST(sum(c) OVER (ORDER BY step ROWS UNBOUNDED PRECEDING)
         |    AS BIGINT) AS covered_total
         |FROM pk ORDER BY step""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.greedyMaxCoverage(
          graft.operators.Dedup
            .shingleSets(Tables.documents(s, dir), "doc_id", "text", 3)
            .select(col("id"), explode(col("shset")).as("s")),
          "id", "s", k = K)
        .orderBy(col("step"))
    }
  }

  /** Graph DBSCAN over the q24 near-dup pair graph (see
    * [[graft.operators.GraphOps.dbscan]], minPts = 2): density
    * clustering of the duplicate population — core docs sit in dense
    * template families, border docs hang off one, chain-bridged and
    * isolated-pair docs fall to noise, which plain CC (q51) would
    * have merged or promoted. The oracle replays the degree census,
    * the core-core recursive-CTE closure, the deterministic min-rep
    * border assignment, and the noise default. */
  val q284 = GQuery("q284_dbscan",
    s"""WITH RECURSIVE $shingleCtes,
       |$pairCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pr
       |  UNION ALL SELECT id_b, id_a FROM pr),
       |core AS (
       |  SELECT src AS id FROM edges GROUP BY src
       |  HAVING count(*) >= 2),
       |ce AS (
       |  SELECT p.id_a, p.id_b FROM pr p
       |  JOIN core a ON a.id = p.id_a JOIN core b ON b.id = p.id_b),
       |cedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM ce
       |  UNION ALL SELECT id_b, id_a FROM ce),
       |reach(id, rep) AS (
       |  SELECT id, id FROM core
       |  UNION
       |  SELECT e.src, r.rep FROM cedges e JOIN reach r ON e.dst = r.id),
       |crep AS (SELECT id, min(rep) AS cluster_rep FROM reach GROUP BY id),
       |brep AS (
       |  SELECT e.src AS id, min(c.cluster_rep) AS cluster_rep
       |  FROM edges e JOIN crep c ON c.id = e.dst
       |  ANTI JOIN core ON core.id = e.src
       |  GROUP BY e.src),
       |lab AS (
       |  SELECT id, 'core' AS role, cluster_rep FROM crep
       |  UNION ALL SELECT id, 'border', cluster_rep FROM brep)
       |SELECT d.doc_id, COALESCE(lab.role, 'noise') AS role,
       |  lab.cluster_rep
       |FROM documents d LEFT JOIN lab ON lab.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    graft.operators.GraphOps.dbscan(
        Tables.documents(s, dir).select(col("doc_id").as("id")),
        sharedPairs(s, dir), minPts = 2L)
      .select(col("id").as("doc_id"), col("role"), col("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  /** Personalized PageRank (random walk with restart) over the
    * fuzzy-name graph from the q278 seed set (see
    * [[graft.operators.GraphOps.personalizedPageRank]]): rank measures
    * walk-proximity TO the seeds — the "related records" primitive,
    * here surfacing names most entangled with the seed customers
    * through ≤1-edit chains; names in components with no seed score
    * exactly zero. The oracle replays the seed-concentrated teleport
    * and all three grid iterations; top-100 by (rank DESC, name). */
  val q283 = {
    val Damping = 0.85
    val Iters = 3
    def iterCtes(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""c$i AS (
         |  SELECT adj.v AS id,
         |    sum(CAST(round($prev.r / dg.deg * 1e6) AS BIGINT)) AS s
         |  FROM adj JOIN dg ON dg.u = adj.u JOIN $prev ON $prev.id = adj.u
         |  GROUP BY adj.v),
         |r$i AS (
         |  SELECT b.id,
         |    ${1 - Damping} * b.r0 +
         |      $Damping * (CAST(coalesce(c$i.s, 0) AS DOUBLE) / 1e6) AS r
         |  FROM base b LEFT JOIN c$i ON c$i.id = b.id)""".stripMargin
    }
    GQuery("q283_personalized_pagerank",
      s"""WITH v AS (
         |  SELECT DISTINCT c_name AS w FROM customer
         |  WHERE length(c_name) >= 4),
         |var AS (
         |  SELECT w, unnest([w] ||
         |    [substr(w, 1, i - 1) || substr(w, i + 1) for i in range(1, length(w) + 1)]) AS d
         |  FROM v),
         |cand AS (
         |  SELECT DISTINCT a.w AS word_a, b.w AS word_b
         |  FROM var a JOIN var b ON a.d = b.d AND a.w < b.w),
         |e0 AS MATERIALIZED (
         |  SELECT word_a AS u, word_b AS v FROM cand
         |  WHERE levenshtein(word_a, word_b) <= 1),
         |adj AS MATERIALIZED (
         |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
         |dg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
         |seeds AS (
         |  SELECT DISTINCT c_name AS id FROM customer
         |  WHERE c_custkey % 53 = 0 AND length(c_name) >= 4),
         |cnts AS (
         |  SELECT (SELECT count(*) FROM v) AS n,
         |    (SELECT count(*) FROM seeds) AS ns),
         |base AS (
         |  SELECT v.w AS id,
         |    CASE WHEN seeds.id IS NOT NULL
         |      THEN CAST(n AS DOUBLE) / ns ELSE 0.0 END AS r0
         |  FROM v CROSS JOIN cnts LEFT JOIN seeds ON seeds.id = v.w),
         |r0 AS (SELECT id, r0 AS r FROM base),
         |${(1 to Iters).map(iterCtes).mkString(",\n")}
         |SELECT id AS name,
         |  r / (SELECT n FROM cnts) AS walk_rank
         |FROM r$Iters
         |ORDER BY walk_rank DESC, name LIMIT 100""".stripMargin) { (s, dir) =>
      val seeds = Tables.customer(s, dir)
        .where(col("c_custkey") % 53 === 0 && length(col("c_name")) >= 4)
        .select(col("c_name").as("id"))
      val vertices = Tables.customer(s, dir)
        .where(length(col("c_name")) >= 4)
        .select(col("c_name").as("id")).distinct()
      val pairs = sharedNamePairs(s, dir)
      val edges = pairs
        .select(col("word_a").as("src"), col("word_b").as("dst"))
        .unionAll(pairs.select(col("word_b").as("src"),
          col("word_a").as("dst")))
      graft.operators.GraphOps.personalizedPageRank(vertices, edges,
          seeds, iters = Iters, damping = Damping)
        .select(col("id").as("name"), col("p").as("walk_rank"))
        .orderBy(col("walk_rank").desc, col("name")).limit(100)
    }
  }

  /** Cross-source duplication provenance (see
    * [[graft.operators.Dedup.pairProvenanceMatrix]]): the q24
    * exact-Jaccard near-dup pair graph rolled up by unordered source
    * pair — within-source cells are template boilerplate, off-diagonal
    * cells are syndication, and the share column is what a curation
    * policy keys "demote the derivative source" on. The oracle replays
    * the shared shingle/pair CTEs and the unordered-pair census. */
  val q262 = GQuery("q262_dup_provenance",
    s"""WITH $shingleCtes,
       |$pairCtes,
       |m AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM pr
       |  JOIN documents da ON da.doc_id = pr.id_a
       |  JOIN documents db ON db.doc_id = pr.id_b
       |  GROUP BY 1, 2),
       |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tot FROM m)
       |SELECT source_a, source_b, n_pairs,
       |  CAST(round(1e6 * n_pairs / tot) AS BIGINT) AS share6
       |FROM m CROSS JOIN t
       |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    Dedup.pairProvenanceMatrix(sharedPairs(s, dir),
        Tables.documents(s, dir), "doc_id", "source")
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Jaro–Winkler fuzzy pairing (see [[graft.plans.JaroWinkler]]):
    * sorted-neighborhood candidates over part names verified by the
    * native codegen Jaro–Winkler comparator instead of an edit-distance
    * cutoff — the probabilistic-linkage verifier (typo tolerance that
    * scales with string length, prefix-weighted the way human naming
    * errors skew). Thresholding happens ON the 1e-6 grid so both
    * engines compare identical integers; the oracle replays the rank
    * window and scores with DuckDB's own `jaro_winkler_similarity` —
    * a hash match is a full cross-engine parity proof of the
    * match-window/transposition/prefix-boost arithmetic. */
  val q261 = GQuery("q261_jaro_winkler_pairs",
    """WITH v AS (
      |  SELECT DISTINCT p_name AS w FROM part WHERE length(p_name) >= 4),
      |r AS (SELECT w, row_number() OVER (ORDER BY w) - 1 AS rk FROM v),
      |cand AS (
      |  SELECT a.w AS word_a, b.w AS word_b
      |  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 5)
      |SELECT word_a, word_b, jw6 FROM (
      |  SELECT word_a, word_b,
      |    CAST(round(1e6 * jaro_winkler_similarity(word_a, word_b))
      |      AS BIGINT) AS jw6
      |  FROM cand)
      |WHERE jw6 >= 800000
      |ORDER BY word_a, word_b""".stripMargin) { (s, dir) =>
    graft.plans.JaroWinkler.register(s)
    val (cand, _) = Dedup.sortedNeighborCandidatesManaged(
      Tables.part(s, dir), "p_name", window = 6, minLen = 4)
    cand.withColumn("jw6",
        round(lit(1e6) * call_function(graft.plans.JaroWinkler.fnName,
          col("word_a"), col("word_b"))).cast("long"))
      .where(col("jw6") >= 800000L)
      .select(col("word_a"), col("word_b"), col("jw6"))
      .orderBy(col("word_a"), col("word_b"))
  }

  /** Capstone entity resolution over customer records: SymSpell fuzzy
    * name pairing (q135 machinery) gated on nation agreement →
    * hash-min connected components → ONE canonical record per
    * multi-member entity cluster (highest account balance, ties to the
    * lower key, picked via a single arg-min encoding — no window). The
    * oracle replays the deletion-neighborhood banding, the verify, the
    * attribute gate, the recursive closure, and the canonical pick
    * end-to-end. */
  val q192 = GQuery("q192_entity_resolution",
    """WITH RECURSIVE v AS (
      |  SELECT DISTINCT c_name AS w FROM customer WHERE length(c_name) >= 4),
      |var AS (
      |  SELECT w, unnest([w] ||
      |    [substr(w, 1, i - 1) || substr(w, i + 1) for i in range(1, length(w) + 1)]) AS d
      |  FROM v),
      |cand AS (
      |  SELECT DISTINCT a.w AS word_a, b.w AS word_b
      |  FROM var a JOIN var b ON a.d = b.d AND a.w < b.w),
      |np AS (
      |  SELECT word_a, word_b FROM cand
      |  WHERE levenshtein(word_a, word_b) <= 1),
      |ep AS (
      |  SELECT DISTINCT least(ca.c_custkey, cb.c_custkey) AS id_a,
      |    greatest(ca.c_custkey, cb.c_custkey) AS id_b
      |  FROM np
      |  JOIN customer ca ON ca.c_name = np.word_a
      |  JOIN customer cb ON cb.c_name = np.word_b
      |  WHERE ca.c_nationkey = cb.c_nationkey),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM ep
      |  UNION ALL SELECT id_b, id_a FROM ep),
      |reach(id, rep) AS (
      |  SELECT c_custkey, c_custkey FROM customer
      |  UNION
      |  SELECT e.src, r.rep FROM edges e JOIN reach r ON e.dst = r.id),
      |cl AS (SELECT id, min(rep) AS rep FROM reach GROUP BY id),
      |canon AS (
      |  SELECT cl.rep AS cluster_rep, count(*) AS n_members,
      |    arg_min(c.c_custkey,
      |      (999999 - CAST(round(c.c_acctbal * 100) AS BIGINT))
      |        * 10000000000 + c.c_custkey) AS canon_key
      |  FROM cl JOIN customer c ON c.c_custkey = cl.id
      |  GROUP BY cl.rep HAVING count(*) >= 2)
      |SELECT cluster_rep, CAST(n_members AS BIGINT) AS n_members,
      |  canon_key, cc.c_name AS canon_name
      |FROM canon JOIN customer cc ON cc.c_custkey = canon_key
      |ORDER BY cluster_rep""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val np = sharedNamePairs(s, dir)
    val ep = np
      .join(cust.select(col("c_name").as("word_a"),
        col("c_custkey").as("ka"), col("c_nationkey").as("na")), "word_a")
      .join(cust.select(col("c_name").as("word_b"),
        col("c_custkey").as("kb"), col("c_nationkey").as("nb")), "word_b")
      .where(col("na") === col("nb"))
      .select(least(col("ka"), col("kb")).as("id_a"),
        greatest(col("ka"), col("kb")).as("id_b"))
      .distinct()
    val cl = Dedup.dupClusters(cust, "c_custkey", ep, maxIters = 64)
    val canonEnc = ((lit(999999L)
      - round(col("c_acctbal") * 100).cast("long")) * 10000000000L) +
      col("c_custkey")
    val canon = cl.join(cust, "c_custkey")
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        min_by(col("c_custkey"), canonEnc).as("canon_key"))
      .where(col("n_members") >= 2)
    canon
      .join(cust.select(col("c_custkey").as("canon_key"),
        col("c_name").as("canon_name")), "canon_key")
      .select(col("cluster_rep"), col("n_members"), col("canon_key"),
        col("canon_name"))
      .orderBy(col("cluster_rep"))
  }

  /** CDC boundary replay as a CTE chain ending in
    * `{p}chunks(doc_id, pos, chunk)` — the FULL rolling-hash boundary
    * arithmetic of [[graft.plans.CdcChunks]] (w=8, B=31, M=1000003,
    * mask=64) as per-position polynomial window sums, the same mask
    * rule, the same final-boundary convention. Parameterized on the
    * source relation and a CTE-name prefix so one oracle can chunk two
    * corpora (q138). `src` must provide (doc_id, text). */
  private def cdcChunkCtes(src: String, p: String): String =
    s"""${p}ch AS (
       |  SELECT doc_id, text, length(text) AS n,
       |    [unicode(text[i:i]) for i in range(1, length(text)+1)] AS cs
       |  FROM $src WHERE length(text) > 0),
       |${p}cut AS (
       |  SELECT doc_id, text, n,
       |    ([i for i in range(8, n) if
       |       (list_sum([cs[i - j] * [1,31,961,29791,923521,629067,501020,531575][j+1]
       |                  for j in range(0, 8)]) % 1000003) % 64 = 0] || [n]) AS bs
       |  FROM ${p}ch),
       |${p}chunks AS (
       |  SELECT doc_id, k - 1 AS pos,
       |    text[(CASE WHEN k = 1 THEN 1 ELSE bs[k-1] + 1 END):bs[k]] AS chunk
       |  FROM (SELECT doc_id, text, bs, unnest(range(1, len(bs)+1)) AS k FROM ${p}cut))""".stripMargin

  /** Content-defined-chunking dup census (see
    * [[graft.operators.Dedup.cdcDupStats]]): rolling-hash boundaries
    * (w=8, B=31, M=1000003, mask=64), per-doc duplicated-chunk counts
    * and character fraction. The oracle replays the ENTIRE boundary
    * arithmetic — per-position window sums over the same polynomial,
    * the same mask rule, the same final-boundary convention — then the
    * census and stats in plain SQL. */
  val q136 = GQuery("q136_cdc_dup_census",
    s"""WITH ${cdcChunkCtes("documents", "")},
      |f AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM chunks GROUP BY chunk)
      |SELECT c.doc_id, count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      |  CAST(sum(length(c.chunk)) AS BIGINT) AS n_chars,
      |  CAST(sum(CASE WHEN f.df >= 2 THEN length(c.chunk) ELSE 0 END) AS BIGINT)
      |    AS dup_chars,
      |  round(sum(CASE WHEN f.df >= 2 THEN length(c.chunk) ELSE 0 END) * 1.0
      |        / sum(length(c.chunk)), 4) AS dup_char_frac
      |FROM chunks c JOIN f USING (chunk)
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    Dedup.cdcDupStats(Tables.documents(s, dir), "doc_id", "text",
        w = 8, mask = 64)
      .select(col("id").as("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("n_chars"), col("dup_chars"), col("dup_char_frac"))
      .orderBy(col("doc_id"))
  }

  /** Incremental re-curation (see
    * [[graft.operators.Dedup.incrementalRecompute]]): the q134 diff
    * drives a selective quality re-score — only added/changed docs run
    * the scorer, unchanged docs carry their v1 scores forward. The
    * oracle scores ALL of v2 directly and derives `recomputed` closed
    * form from the moduli — so a stale carried-forward score or a
    * wrong diff verdict on the Spark side is a hash mismatch. */
  val q137 = GQuery("q137_incremental_recompute",
    s"""WITH v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text,
       |    CASE WHEN doc_id % 11 = 0 THEN n_chars + 5 ELSE n_chars END AS n_chars
       |  FROM documents WHERE doc_id % 5 <> 0),
       |${TextQueries.qualityCtesOver("v2")}
       |SELECT q.doc_id, q.n_tokens, q.quality,
       |  (q.doc_id % 7 = 0 OR q.doc_id % 11 = 0) AS recomputed
       |FROM q ORDER BY q.doc_id""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir)
    val v1 = docs.where(col("doc_id") % 7 =!= 0)
    val v2 = docs.where(col("doc_id") % 5 =!= 0)
      .withColumn("n_chars", when(col("doc_id") % 11 === 0,
        col("n_chars") + 5).otherwise(col("n_chars")))
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    def score(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
    Dedup.incrementalRecompute(v1, score(v1), v2, "doc_id", "text")(score)
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("recomputed"))
      .orderBy(col("doc_id"))
  }

  /** Snapshot delta-storage report (see
    * [[graft.operators.Dedup.cdcDelta]]): for every added/changed doc
    * of the q134 diff, the fraction of its content-defined chunks (and
    * characters) already present anywhere in v1 — the bytes an
    * incremental ingest can deduplicate away instead of re-storing.
    * The prefix-edited docs (% 11) reuse nearly everything BECAUSE the
    * boundaries are content-defined; the oracle replays both corpora's
    * full CDC arithmetic and derives the churn set closed-form. */
  val q138 = GQuery("q138_cdc_snapshot_delta",
    s"""WITH v1 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
       |churn AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
       |  FROM documents
       |  WHERE doc_id % 5 <> 0 AND (doc_id % 7 = 0 OR doc_id % 11 = 0)),
       |${cdcChunkCtes("v1", "b")},
       |${cdcChunkCtes("churn", "p")},
       |base AS (SELECT DISTINCT md5(chunk) AS ch FROM bchunks),
       |probe AS (
       |  SELECT doc_id, md5(chunk) AS ch, length(chunk) AS ln FROM pchunks)
       |SELECT p.doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN b.ch IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_reused,
       |  CAST(sum(ln) AS BIGINT) AS n_chars,
       |  CAST(sum(CASE WHEN b.ch IS NOT NULL THEN ln ELSE 0 END) AS BIGINT)
       |    AS reused_chars,
       |  round(sum(CASE WHEN b.ch IS NOT NULL THEN ln ELSE 0 END) * 1.0
       |        / sum(ln), 4) AS reuse_frac
       |FROM probe p LEFT JOIN base b USING (ch)
       |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val v1 = docs.where(col("doc_id") % 7 =!= 0)
    val v2 = docs.where(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    // churn through the ENGINE's diff machinery (the oracle derives it
    // closed-form — a wrong verdict surfaces as a row-set mismatch)
    val churnIds = Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .where(col("status").isin("added", "changed"))
      .select(col("id").as("doc_id"))
    Dedup.cdcDelta(v1, v2.join(churnIds, Seq("doc_id")), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_chunks"), col("n_reused"),
        col("n_chars"), col("reused_chars"), col("reuse_frac"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary drift across the q134 snapshot pair (see
    * [[graft.operators.TextStats.vocabDrift]]): the ' rev2' edit makes
    * `rev2` a genuinely NEW term, removed docs shift every df —
    * term-level status + df delta, the ingest-monitoring view of the
    * same diff. */
  val q143 = GQuery("q143_vocab_drift",
    """WITH v1 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
      |v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 <> 0),
      |c1 AS (
      |  SELECT term, count(*) AS df FROM (
      |    SELECT DISTINCT doc_id, unnest(list_filter(
      |      string_split(text, ' '), x -> x <> '')) AS term FROM v1)
      |  GROUP BY term),
      |c2 AS (
      |  SELECT term, count(*) AS df FROM (
      |    SELECT DISTINCT doc_id, unnest(list_filter(
      |      string_split(text, ' '), x -> x <> '')) AS term FROM v2)
      |  GROUP BY term)
      |SELECT coalesce(c1.term, c2.term) AS term,
      |  coalesce(c1.df, 0) AS df_old, coalesce(c2.df, 0) AS df_new,
      |  CASE WHEN coalesce(c1.df, 0) = 0 THEN 'new'
      |       WHEN coalesce(c2.df, 0) = 0 THEN 'gone'
      |       ELSE 'stable' END AS status,
      |  coalesce(c2.df, 0) - coalesce(c1.df, 0) AS df_delta
      |FROM c1 FULL JOIN c2 ON c1.term = c2.term
      |ORDER BY term""".stripMargin) { (s, dir) =>
    import graft.operators.TextStats
    val docs = Tables.documents(s, dir)
    val v1 = docs.where(col("doc_id") % 7 =!= 0)
    val v2 = docs.where(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    TextStats.vocabDrift(
        TextStats.tokenized(v1, "doc_id", "text"),
        TextStats.tokenized(v2, "doc_id", "text"))
      .orderBy(col("term"))
  }

  /** MinHash calibration census (see
    * [[graft.operators.Dedup.minhashCalibration]]): (signature
    * agreement, true-Jaccard decile) joint counts over the q25 LSH
    * candidates — the threshold-tuning table. The oracle replays the
    * same hash family, banding, agreement sum, and exact Jaccard. */
  val q145 = {
    val rows = K / Bands
    val minhashAggs = (0 until K)
      .map(i => s"min(ha + ${i + 1} * hb) AS m$i").mkString(",\n    ")
    val bandCols = (0 until Bands).map { b =>
      val parts = (0 until rows).map(r => s"CAST(m${b * rows + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"md5($parts) AS b$b"
    }.mkString(", ")
    val bandMatch = (0 until Bands).map(b => s"a.b$b = b.b$b").mkString(" OR ")
    val agreeSum = (0 until K)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    GQuery("q145_minhash_calibration",
      s"""WITH $shingleCtes,
         |exh AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS ha,
         |    CAST(concat('0x', substr(md5(s), 13, 12)) AS BIGINT) AS hb
         |  FROM ex),
         |mh AS (
         |  SELECT doc_id,
         |    $minhashAggs
         |  FROM exh GROUP BY doc_id),
         |bands AS (SELECT doc_id, $bandCols FROM mh),
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.doc_id < b.doc_id AND ($bandMatch)),
         |est AS (
         |  SELECT id_a, id_b, ($agreeSum) AS est_agree
         |  FROM cand JOIN mh a ON a.doc_id = id_a JOIN mh b ON b.doc_id = id_b),
         |tru AS (
         |  SELECT id_a, id_b,
         |    round(len(list_intersect(sa.shset, sb.shset)) * 1.0 /
         |      (len(sa.shset) + len(sb.shset)
         |        - len(list_intersect(sa.shset, sb.shset))), 4) AS j
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = id_a
         |  JOIN sh sb ON sb.doc_id = id_b)
         |SELECT est_agree, CAST(least(floor(j * 10), 9) AS INT) AS j_bucket,
         |  count(*) AS n_pairs
         |FROM est JOIN tru USING (id_a, id_b)
         |GROUP BY 1, 2 ORDER BY est_agree, j_bucket""".stripMargin) { (s, dir) =>
      Dedup.minhashCalibration(sharedSigs(s, dir), sharedSets(s, dir), K, Bands)
        .orderBy(col("est_agree"), col("j_bucket"))
    }
  }

  /** Quality smoothing over the near-dup graph (see
    * [[graft.operators.GraphOps.smoothScores]]): two label-propagation
    * rounds push the q28 quality signal through the q24 pair graph —
    * copies inherit credibility from well-scored near-duplicates,
    * isolated docs keep their score exactly. Pure integer arithmetic
    * on the 1e-4 grid (explicit floor both sides — Spark casts
    * truncate, DuckDB casts round), so the oracle's chained rounds
    * match bit-for-bit. */
  val q146 = GQuery("q146_score_smoothing",
    s"""WITH $shingleCtes,
       |$pairCtes,
       |${TextQueries.qualityCte},
       |s0 AS (SELECT doc_id AS id, CAST(round(quality * 1e4) AS BIGINT) AS s4
       |       FROM q),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pr
       |  UNION ALL SELECT id_b, id_a FROM pr),
       |nb1 AS (
       |  SELECT e.src AS id,
       |    CAST(floor((2 * sum(s.s4) + count(*)) / (2 * count(*))) AS BIGINT)
       |      AS avg4
       |  FROM edges e JOIN s0 s ON s.id = e.dst GROUP BY e.src),
       |s1 AS (
       |  SELECT s0.id, CASE WHEN nb1.avg4 IS NULL THEN s0.s4
       |    ELSE CAST(floor((s0.s4 + nb1.avg4 + 1) / 2) AS BIGINT) END AS s4
       |  FROM s0 LEFT JOIN nb1 ON nb1.id = s0.id),
       |nb2 AS (
       |  SELECT e.src AS id,
       |    CAST(floor((2 * sum(s.s4) + count(*)) / (2 * count(*))) AS BIGINT)
       |      AS avg4
       |  FROM edges e JOIN s1 s ON s.id = e.dst GROUP BY e.src),
       |s2 AS (
       |  SELECT s1.id, CASE WHEN nb2.avg4 IS NULL THEN s1.s4
       |    ELSE CAST(floor((s1.s4 + nb2.avg4 + 1) / 2) AS BIGINT) END AS s4
       |  FROM s1 LEFT JOIN nb2 ON nb2.id = s1.id)
       |SELECT s0.id AS doc_id, s0.s4 AS s4_initial, s2.s4 AS s4_smoothed,
       |  s2.s4 / 10000.0 AS smoothed
       |FROM s0 JOIN s2 ON s2.id = s0.id ORDER BY doc_id""".stripMargin) {
    (s, dir) =>
      import graft.functions.TextFunctions
      val quality = Tables.documents(s, dir).select(
        col("doc_id").as("id"),
        TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
      graft.operators.GraphOps.smoothScores(
          quality, sharedPairs(s, dir), "quality", iters = 2)
        .select(col("id").as("doc_id"), col("s4_initial"),
          col("s4_smoothed"), col("smoothed"))
        .orderBy(col("doc_id"))
  }

  /** Asymmetric containment pairs (see
    * [[graft.operators.Dedup.containmentPairsFromSets]]): the corpus
    * plus derived excerpt docs (first half of every 13th doc's words,
    * negative ids) — every excerpt is found fully contained in its
    * source (containment 1.0) where Jaccard scores it ~0.5 and the
    * near-dup family misses it. The oracle replays excerpt
    * construction, shingling, and both directions' containment. */
  val q148 = GQuery("q148_containment_pairs",
    s"""WITH tok0 AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents),
       |corpus AS (
       |  SELECT doc_id AS id, ws FROM tok0
       |  UNION ALL
       |  SELECT -doc_id - 1 AS id, ws[1:len(ws)//2] AS ws FROM tok0
       |  WHERE doc_id % 13 = 0 AND len(ws) >= 6),
       |shc AS (
       |  SELECT id, list_distinct(
       |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]) AS shset
       |  FROM corpus WHERE len(ws) >= $N),
       |exc AS (SELECT id, unnest(shset) AS s FROM shc),
       |szc AS (SELECT id, len(shset) AS sz FROM shc),
       |shared AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM exc a JOIN exc b ON a.s = b.s AND a.id < b.id
       |  GROUP BY 1, 2),
       |bth AS (
       |  SELECT id_a AS id_sub, id_b AS id_sup, inter * 1.0 / sa.sz AS containment
       |  FROM shared JOIN szc sa ON sa.id = id_a
       |  UNION ALL
       |  SELECT id_b, id_a, inter * 1.0 / sb.sz
       |  FROM shared JOIN szc sb ON sb.id = id_b)
       |SELECT id_sub, id_sup, round(containment, 4) AS containment
       |FROM bth WHERE containment >= 0.9
       |ORDER BY id_sub, id_sup""".stripMargin) { (s, dir) =>
    sharedContainment(s, dir).orderBy(col("id_sub"), col("id_sup"))
  }

  /** The containment pair table, materialized once per (session, dir)
    * — the same treatment [[sharedPairs]]/[[sharedClusters]] give the
    * resemblance family: a real pipeline writes the pair table once
    * and every consumer reads it back. (The probe corpus includes the
    * derived excerpt docs, so it cannot share the q24 index.) */
  private val containmentCache = new SessionCache[org.apache.spark.sql.DataFrame]

  private[queries] def sharedContainment(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    containmentCache.get(s, dir) {
      val toks = TextQueries.sharedToks(s, dir)
      val half = (size(col("ws")) / lit(2)).cast("int")
      val excerpts = toks
        .where(col("id") % 13 === 0 && size(col("ws")) >= 6)
        .select((-col("id") - 1).as("id"),
          slice(col("ws"), lit(1), half).as("ws"))
      val corpus = toks.select("id", "ws").unionAll(excerpts)
      // persisted: the containment join consumes the shingle index on
      // FOUR plan branches (two self-join sides + two size maps) — the
      // same caller-owns-the-index contract as jaccardPairsFromSets
      val sets = Dedup.shingleSetsFromTokens(corpus, N)
        .localCheckpoint(true)
      Dedup.containmentPairsFromSets(sets, 0.9)
        .localCheckpoint(true)
    }

  /** Duplication-attribution matrix (see
    * [[graft.operators.Dedup.dupAttribution]]): the q24 near-dup pair
    * graph rolled up to (source, source) cells — which feeds copy
    * which. Similarities summed on the 1e-4 grid (order-free). */
  val q150 = GQuery("q150_dup_attribution",
    s"""WITH $shingleCtes,
       |shared AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pj AS (
       |  SELECT id_a, id_b,
       |    round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
       |  FROM shared
       |  JOIN sz sa ON sa.doc_id = id_a
       |  JOIN sz sb ON sb.doc_id = id_b
       |  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= $MinJ),
       |att AS (
       |  SELECT least(da.source, db.source) AS attr_1,
       |    greatest(da.source, db.source) AS attr_2,
       |    CAST(round(jaccard * 1e4) AS BIGINT) AS sim4
       |  FROM pj
       |  JOIN documents da ON da.doc_id = id_a
       |  JOIN documents db ON db.doc_id = id_b)
       |SELECT attr_1, attr_2, count(*) AS n_pairs,
       |  CAST(sum(sim4) AS BIGINT) AS sum_sim4
       |FROM att GROUP BY 1, 2 ORDER BY attr_1, attr_2""".stripMargin) { (s, dir) =>
    Dedup.dupAttribution(sharedPairs(s, dir), Tables.documents(s, dir),
        "doc_id", "source")
      .orderBy(col("attr_1"), col("attr_2"))
  }

  /** Maximal shared token spans (see
    * [[graft.operators.Dedup.sharedSpans]]): every verbatim run of ≥ 8
    * tokens shared between two docs, with start positions on both
    * sides — the surgical span-removal / plagiarism-report form of the
    * census families. The oracle replays anchors, the df cap, and the
    * gaps-and-islands merge. */
  val q151 = GQuery("q151_shared_spans",
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents),
       |pg0 AS (
       |  SELECT doc_id, u.pos AS pos, md5(u.s) AS h FROM (
       |    SELECT doc_id,
       |      unnest([{'pos': j, 's': array_to_string(ws[(j+1):(j+5)], ' ')}
       |              for j in range(0, len(ws) - 4)]) AS u
       |    FROM tok WHERE len(ws) >= 5)),
       |pg AS (
       |  SELECT * FROM pg0
       |  WHERE h NOT IN (SELECT h FROM pg0 GROUP BY h HAVING count(*) > 1000)),
       |m AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb,
       |    b.pos - a.pos AS diag
       |  FROM pg a JOIN pg b ON a.h = b.h AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT id_a, id_b, diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa)
       |      AS island
       |  FROM m),
       |sp AS (
       |  SELECT id_a, id_b, min(pa) AS start_a, min(pb) AS start_b,
       |    count(*) + 4 AS len_tokens
       |  FROM isl GROUP BY id_a, id_b, diag, island)
       |SELECT id_a, id_b, start_a, start_b, len_tokens
       |FROM sp WHERE len_tokens >= 8
       |ORDER BY id_a, id_b, start_a, start_b""".stripMargin) { (s, dir) =>
    Dedup.sharedSpans(TextQueries.sharedToks(s, dir), w = 5, minLen = 8)
      .orderBy(col("id_a"), col("id_b"), col("start_a"), col("start_b"))
  }

  /** Surgical span removal (see
    * [[graft.operators.Dedup.stripSharedSpans]]): every doc rebuilt
    * with the token runs it shares with an earlier doc stripped —
    * first occurrence survives corpus-wide, later copies keep only
    * novel content. The oracle replays the whole q151 span machinery
    * plus the mask/anti-join/reassembly. */
  /** Shared oracle CTE chain for the span family (q151/q153 and the
    * q155 capstone): positional anchors → df cap → diagonal islands →
    * spans ≥ 8 (`sp`) → later-doc position mask → kept words →
    * per-doc rebuild (`res` — only docs with ≥ 1 kept token). */
  private[queries] val spanCtes =
    s"""tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents),
       |pg0 AS (
       |  SELECT doc_id, u.pos AS pos, md5(u.s) AS h FROM (
       |    SELECT doc_id,
       |      unnest([{'pos': j, 's': array_to_string(ws[(j+1):(j+5)], ' ')}
       |              for j in range(0, len(ws) - 4)]) AS u
       |    FROM tok WHERE len(ws) >= 5)),
       |pg AS (
       |  SELECT * FROM pg0
       |  WHERE h NOT IN (SELECT h FROM pg0 GROUP BY h HAVING count(*) > 1000)),
       |m AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb,
       |    b.pos - a.pos AS diag
       |  FROM pg a JOIN pg b ON a.h = b.h AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT id_a, id_b, diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa)
       |      AS island
       |  FROM m),
       |sp AS (
       |  SELECT id_a, id_b, min(pa) AS start_a, min(pb) AS start_b,
       |    count(*) + 4 AS len_tokens
       |  FROM isl GROUP BY id_a, id_b, diag, island
       |  HAVING count(*) + 4 >= 8),
       |mask AS (
       |  SELECT DISTINCT id, pos FROM (
       |    SELECT id_b AS id,
       |      unnest(range(start_b, start_b + len_tokens)) AS pos
       |    FROM sp)),
       |wrds AS (
       |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
       |    SELECT doc_id,
       |      unnest([{'pos': j, 'tok': ws[j+1]} for j in range(0, len(ws))]) AS u
       |    FROM tok)),
       |kw AS (
       |  SELECT w.doc_id, w.pos, w.tok FROM wrds w
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM mask m WHERE m.id = w.doc_id AND m.pos = w.pos)),
       |res AS (
       |  SELECT doc_id, count(*) AS n_kept_tokens,
       |    string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
       |  FROM kw GROUP BY doc_id)""".stripMargin

  val q153 = GQuery("q153_strip_shared_spans",
    s"""WITH $spanCtes
       |SELECT t.doc_id, len(t.ws) AS n_tokens,
       |  coalesce(r.n_kept_tokens, 0) AS n_kept_tokens,
       |  coalesce(r.cleaned_text, '') AS cleaned_text
       |FROM tok t LEFT JOIN res r ON r.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    Dedup.stripSharedSpans(TextQueries.sharedToks(s, dir), w = 5, minLen = 8)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept_tokens"),
        col("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** Chunk provenance across the q134 snapshot pair (see
    * [[graft.operators.Dedup.chunkProvenance]]): which v1 docs each
    * added/changed v2 doc's chunks came from — split/merge lineage the
    * q138 delta aggregates away. Churn derived through the engine's
    * own diff; the oracle replays CDC on both corpora + the df cap +
    * the attribution join. */
  val q158 = GQuery("q158_chunk_provenance",
    s"""WITH v1 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
       |churn AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
       |  FROM documents
       |  WHERE doc_id % 5 <> 0 AND (doc_id % 7 = 0 OR doc_id % 11 = 0)),
       |${cdcChunkCtes("v1", "b")},
       |${cdcChunkCtes("churn", "p")},
       |bd AS (SELECT DISTINCT doc_id AS base_id, md5(chunk) AS ch FROM bchunks),
       |bc AS (
       |  SELECT * FROM bd
       |  WHERE ch NOT IN (SELECT ch FROM bd GROUP BY ch HAVING count(*) > 100)),
       |pd AS (
       |  SELECT doc_id AS probe_id, md5(chunk) AS ch, length(chunk) AS ln
       |  FROM pchunks),
       |tot AS (
       |  SELECT probe_id, CAST(sum(ln) AS BIGINT) AS n_chars
       |  FROM pd GROUP BY probe_id),
       |sh AS (
       |  SELECT probe_id, base_id, count(*) AS n_shared_chunks,
       |    CAST(sum(ln) AS BIGINT) AS shared_chars
       |  FROM pd JOIN bc USING (ch) GROUP BY 1, 2)
       |SELECT sh.probe_id, sh.base_id, sh.n_shared_chunks, sh.shared_chars,
       |  tot.n_chars,
       |  round(sh.shared_chars * 1.0 / tot.n_chars, 4) AS share_frac
       |FROM sh JOIN tot USING (probe_id)
       |ORDER BY probe_id, base_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val v1 = docs.where(col("doc_id") % 7 =!= 0)
    val v2 = docs.where(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    val churnIds = Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .where(col("status").isin("added", "changed"))
      .select(col("id").as("doc_id"))
    Dedup.chunkProvenance(v1, v2.join(churnIds, Seq("doc_id")),
        "doc_id", "text")
      .orderBy(col("probe_id"), col("base_id"))
  }

  /** Near-dup cluster coherence: per multi-doc cluster, edge density
    * of the pair graph inside it — a transitive-closure cluster built
    * from a sparse chain (density → 0) is a different dedup risk than
    * a clique of true copies (density 1); the QA table a clustering
    * dedup run publishes next to its keep decisions. Two keyed
    * aggregates over the cluster map and the pair graph (every pair is
    * intra-cluster by construction). */
  val q159 = GQuery("q159_cluster_coherence",
    s"""WITH RECURSIVE $shingleCtes,
       |$clusterCtes,
       |szc AS (SELECT cluster_rep, count(*) AS n_docs FROM cl
       |        GROUP BY cluster_rep),
       |ed AS (SELECT cl.cluster_rep, count(*) AS n_edges
       |       FROM pr JOIN cl ON cl.doc_id = pr.id_a GROUP BY cluster_rep)
       |SELECT s.cluster_rep, s.n_docs, e.n_edges,
       |  CAST(round(2.0 * e.n_edges * 1e4 / (s.n_docs * (s.n_docs - 1)))
       |    AS BIGINT) AS density4
       |FROM szc s JOIN ed e USING (cluster_rep)
       |WHERE s.n_docs >= 2
       |ORDER BY cluster_rep""".stripMargin) { (s, dir) =>
    val clusters = sharedClusters(s, dir)
    val szs = clusters.groupBy("cluster_rep").agg(count(lit(1)).as("n_docs"))
    val ed = sharedPairs(s, dir)
      .join(clusters.select(col("doc_id").as("id_a"), col("cluster_rep")),
        "id_a")
      .groupBy("cluster_rep").agg(count(lit(1)).as("n_edges"))
    szs.join(ed, "cluster_rep").where(col("n_docs") >= 2)
      .withColumn("density4", round(lit(2.0) * col("n_edges") * 1e4
        / (col("n_docs") * (col("n_docs") - 1))).cast("long"))
      .orderBy(col("cluster_rep"))
  }

  /** Degree assortativity of the near-dup pair graph (see
    * [[graft.operators.GraphOps.assortativity]]): do heavily-duplicated
    * docs pair with each other (template families) or with singletons
    * (a quoted boilerplate hub) — the structural complement of q159's
    * intra-cluster density and q191's triangle census, over the same
    * shared pair frame and oracle CTEs. */
  val q237 = GQuery("q237_dup_assortativity",
    s"""WITH $shingleCtes,
       |$pairCtes,
       |und AS (SELECT id_a AS u, id_b AS v FROM pr),
       |deg AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT u AS id FROM und UNION ALL SELECT v FROM und)
       |  GROUP BY id),
       |dir_ AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |j AS (
       |  SELECT du.deg AS dx, dv.deg AS dy
       |  FROM dir_ JOIN deg du ON du.id = dir_.u
       |  JOIN deg dv ON dv.id = dir_.v),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m2,
       |    CAST(sum(dx) AS BIGINT) AS sx,
       |    CAST(sum(dx * dx) AS BIGINT) AS qx,
       |    CAST(sum(dx * dy) AS BIGINT) AS pxy
       |  FROM j)
       |SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
       |  CASE WHEN m2 * qx - sx * sx = 0 THEN NULL
       |    ELSE CAST(round(1e4 * CAST(m2 * pxy - sx * sx AS DOUBLE)
       |      / CAST(m2 * qx - sx * sx AS DOUBLE)) AS BIGINT) END AS r4
       |FROM a""".stripMargin) { (s, dir) =>
    graft.operators.GraphOps.assortativity(sharedPairs(s, dir))
  }

  /** Streaming incremental clustering capstone: the q24 near-dup pair
    * graph is split into three micro-batches (hash of `id_a`) and fed
    * through [[graft.streaming.Pipelines.clusterIngestStream]] into a
    * fresh cluster store; the read-out joined back to the corpus must
    * hash-match the SAME oracle as the batch operator (q51's recursive
    * CTE, verbatim) — streamed-with-merges ≡ from-scratch CC, proven
    * by the driver, not just the spec. */
  val q303 = GQuery("q303_streaming_clusters",
    s"""WITH RECURSIVE $shingleCtes,
       |$clusterCtes
       |SELECT doc_id, cluster_rep,
       |  CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
       |FROM cl
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.streaming.Pipelines
    val store = java.nio.file.Files
      .createTempDirectory("q303_clstore").toString
    // buckets sized to the fixture corpus (≤ sf0.1's 60k docs): every
    // append writes one file per TOUCHED bucket dir, so oversizing
    // buckets turns a small batch into pure file-commit latency; a
    // 100 TB deployment sizes buckets so a bucket ≈ one executor task
    val ingest = Pipelines.clusterIngestStream(store, buckets = 16)()
    val pairs = sharedPairs(s, dir)
      .withColumn("__b", pmod(xxhash64(col("id_a")), lit(3L)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (0L to 2L).foreach(b =>
      ingest(pairs.where(col("__b") === b).select("id_a", "id_b"), b))
    val reps = Pipelines.clusterStoreReps(s, store)
      .withColumnRenamed("id", "doc_id")
    pairs.unpersist()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_rep"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(reps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy(col("doc_id"))
  }

  /** Streaming leakage-safe split capstone (see
    * [[graft.streaming.Pipelines.splitAgainstStore]]): the q303 drive
    * — near-dup pairs folded through `clusterIngestStream` in three
    * micro-batches — then every document split against the store's
    * CURRENT cluster reps. Must hash-match the SAME oracle as the
    * batch `groupTrainTestSplit` (q341's SQL, verbatim shape):
    * streamed-with-merges split ≡ from-scratch clustered split, proven
    * by the driver. Docs arriving after their cluster keep the
    * cluster's split; merge restatements reproduce exactly what a
    * batch re-split would do. */
  val q347 = GQuery("q347_streaming_group_split",
    s"""WITH RECURSIVE $shingleCtes,
       |$clusterCtes
       |SELECT d.lang,
       |  CASE WHEN ${graft.operators.Sampling.hashBucketSql(
            "cl.cluster_rep", 100)} < 10
       |       THEN 'test' ELSE 'train' END AS split,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT cl.cluster_rep) AS BIGINT) AS n_clusters
       |FROM documents d JOIN cl USING (doc_id)
       |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin) { (s, dir) =>
    import graft.streaming.Pipelines
    val store = java.nio.file.Files
      .createTempDirectory("q347_clstore").toString
    val ingest = Pipelines.clusterIngestStream(store, buckets = 16)()
    val pairs = sharedPairs(s, dir)
      .withColumn("__b", pmod(xxhash64(col("id_a")), lit(3L)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (0L to 2L).foreach(b =>
      ingest(pairs.where(col("__b") === b).select("id_a", "id_b"), b))
    pairs.unpersist()
    Pipelines.splitAgainstStore(s, store,
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", testPct = 10)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_rep")).as("n_clusters"))
      .orderBy(col("lang"), col("split"))
  }

  /** Cross-lingual near-duplicate census: the q24 pair graph rolled up
    * by the two documents' languages (unordered pair) — off-diagonal
    * cells are translation/transliteration duplicates, the
    * contamination class monolingual dedup passes miss entirely. */
  val q317 = GQuery("q317_crosslingual_dups",
    s"""WITH $shingleCtes,
       |$pairCtes
       |SELECT least(da.lang, db.lang) AS lang_lo,
       |  greatest(da.lang, db.lang) AS lang_hi,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM pr
       |JOIN documents da ON da.doc_id = pr.id_a
       |JOIN documents db ON db.doc_id = pr.id_b
       |GROUP BY 1, 2
       |ORDER BY lang_lo, lang_hi""".stripMargin) { (s, dir) =>
    val lang = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    sharedPairs(s, dir)
      .join(lang.select(col("doc_id").as("id_a"), col("lang").as("la")),
        Seq("id_a"))
      .join(lang.select(col("doc_id").as("id_b"), col("lang").as("lb")),
        Seq("id_b"))
      .groupBy(least(col("la"), col("lb")).as("lang_lo"),
        greatest(col("la"), col("lb")).as("lang_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("lang_lo"), col("lang_hi"))
  }

  /** Dedup token-savings report: per source, corpus tokens before vs
    * after cluster keep-one (the q51 canonical rule doc_id =
    * cluster_rep), with the kept share on the 1e-4 grid — the
    * business readout of the whole near-dup family ("what does dedup
    * actually save at training time, and in which sources"). */
  val q318 = GQuery("q318_dedup_savings",
    s"""WITH RECURSIVE $shingleCtes,
       |$clusterCtes,
       |tc AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS ntok FROM tok),
       |j AS (
       |  SELECT d.source, tc.ntok,
       |    (cl.doc_id = cl.cluster_rep) AS kept
       |  FROM documents d JOIN tc USING (doc_id) JOIN cl USING (doc_id))
       |SELECT source, CAST(sum(ntok) AS BIGINT) AS total_tokens,
       |  CAST(sum(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT)
       |    AS kept_tokens,
       |  CAST((2 * 10000 * sum(CASE WHEN kept THEN ntok ELSE 0 END)
       |    + sum(ntok)) // (2 * sum(ntok)) AS BIGINT) AS kept_share4
       |FROM j GROUP BY 1
       |ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir)
    val tc = docs.select(col("doc_id"), col("source"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("ntok"))
    tc.join(sharedClusters(s, dir), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("ntok")).as("total_tokens"),
        sum(when(col("doc_id") === col("cluster_rep"), col("ntok"))
          .otherwise(0L)).as("kept_tokens"))
      .select(col("source"), col("total_tokens"), col("kept_tokens"),
        expr("(2 * 10000 * kept_tokens + total_tokens) div " +
          "(2 * total_tokens)").as("kept_share4"))
      .orderBy(col("source"))
  }

  /** Cluster source-diversity census: multi-doc near-dup clusters
    * bucketed by (size, distinct sources) — diagonal cells are
    * within-source mirrors (batch re-crawls), off-diagonal ones are
    * cross-source syndication, the class where keep-one policies need
    * a source-priority rule. */
  val q319 = GQuery("q319_cluster_sources",
    s"""WITH RECURSIVE $shingleCtes,
       |$clusterCtes,
       |cs AS (
       |  SELECT cl.cluster_rep, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
       |  FROM cl JOIN documents d USING (doc_id)
       |  GROUP BY 1 HAVING count(*) >= 2)
       |SELECT n_docs, n_sources, CAST(count(*) AS BIGINT) AS n_clusters
       |FROM cs GROUP BY 1, 2
       |ORDER BY n_docs, n_sources""".stripMargin) { (s, dir) =>
    sharedClusters(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .where(col("n_docs") >= 2)
      .groupBy(col("n_docs"), col("n_sources"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("n_docs"), col("n_sources"))
  }

  /** Similarity-band census of the near-dup pair graph: pairs per
    * 0.05 Jaccard band (band floor on the 1e-4 integer grid — the
    * two-step round both engines perform identically). The shape
    * every threshold choice is argued from: a fat band just above
    * the cut means the threshold is load-bearing; a gap means it is
    * free. */
  val q320 = GQuery("q320_jaccard_bands",
    s"""WITH $shingleCtes,
       |shared AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j4s AS (
       |  SELECT CAST(round(round(inter * 1.0 /
       |      (sa.sz + sb.sz - inter), 4) * 10000) AS BIGINT) AS j4
       |  FROM shared
       |  JOIN sz sa ON sa.doc_id = id_a
       |  JOIN sz sb ON sb.doc_id = id_b
       |  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= $MinJ)
       |SELECT (j4 // 500) * 500 AS band_lo4,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM j4s GROUP BY 1
       |ORDER BY band_lo4""".stripMargin) { (s, dir) =>
    sharedPairs(s, dir)
      .select(round(col("jaccard") * 10000).cast("long").as("j4"))
      .select(expr("(j4 div 500) * 500").as("band_lo4"))
      .groupBy(col("band_lo4")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("band_lo4"))
  }

  /** Shingle document-frequency spectrum: shingles bucketed by
    * power-of-two df (the exact `length(bin(df))` bucket trick from
    * q203) with shingle and posting mass per bucket — the census every
    * `maxDocFreq` stop-shingle knob should be argued from (how much
    * of the inverted index lives in boilerplate-frequency buckets). */
  val q322 = GQuery("q322_shingle_df_spectrum",
    s"""WITH $shingleCtes,
       |df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM ex
       |  GROUP BY 1)
       |SELECT CAST(length(bin(df)) AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(df) AS BIGINT) AS postings
       |FROM df GROUP BY 1
       |ORDER BY bucket""".stripMargin) { (s, dir) =>
    sharedSets(s, dir)
      .select(explode(col("shset")).as("s"), col("id"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .groupBy(length(bin(col("df"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("postings"))
      .orderBy(col("bucket"))
  }

  val all: Seq[GQuery] =
    Seq(q23, q24, q25, q26, q51, q52, q53, q59, q60, q68, q78, q79, q82, q86,
      q88, q91, q94, q96, q100, q108, q134, q135, q136, q137, q138, q143, q145,
      q146, q148, q150, q151, q153, q158, q159, q186, q191, q192, q237, q257,
      q258, q261, q262, q265, q266, q278, q283, q284, q286, q290, q303, q317,
      q318, q319, q320, q322, q338, q339, q341, q342, q343, q347, q349,
      q350, q355, q356, q360)
}
