package graft

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.text.TextAnalysis
import graft.dedup.{Clustering, Dedup}
import graft.similarity.Similarity

/** Correctness queries for the training-data pipeline operators
  * (text analysis, dedup, similarity search) on the driver's `documents`
  * and `embeddings` tables, each with a DuckDB oracle computing the same
  * engine-portable arithmetic (base-31 Horner hashes, integer-quantized
  * dot products) so results hash-match bit-for-bit.
  */
object QueriesML {

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  private val Lexicon = Seq(
    ("the", "en"), ("a", "en"), ("and", "en"),
    ("der", "de"), ("die", "de"), ("und", "de"),
    ("le", "fr"), ("la", "fr"), ("et", "fr"),
    ("el", "es"), ("los", "es"), ("y", "es"))

  /** DuckDB rendering of [[TextAnalysis.portableHash]] over any SQL
    * string expression `c`. */
  def hashSqlOf(c: String): String = hashSql(c)

  private def hashSql(c: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($c, ''), " +
      s"ch -> ascii(ch)::BIGINT)), (acc, x) -> (acc * 31 + x) % 1000000007)"

  /** Shared CTE bodies for the shingle pipeline (3-gram shingles + their
    * portable hashes) — mirrors [[Dedup.shingles]] / minhash input. */
  private val ShingleCte: String =
    """sh AS (SELECT DISTINCT doc_id,
      |          unnest(list_transform(range(0, greatest(0, len(w) - 2)),
      |                 i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
      |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))""".stripMargin

  private[graft] val ShingleHashCte: String =
    s"""$ShingleCte,
       |shh AS (SELECT doc_id, shingle, ${hashSql("shingle")} AS h FROM sh),
       |params AS (SELECT j AS hash_id, 37 + 101 * j AS a, 17 + 91 * j AS b
       |           FROM range(8) t(j)),
       |mh AS (SELECT doc_id, hash_id, min((a * h + b) % 1000000007) AS minhash
       |       FROM shh, params GROUP BY 1, 2)""".stripMargin

  /** DuckDB: quantized embedding vector (integer-valued doubles). */
  private val QuantCte: String =
    "q AS (SELECT vec_id, list_transform(embedding, " +
      "x -> round(CAST(x AS DOUBLE) * 1000, 0)) AS v FROM embeddings)"

  /** The ONE copy of the IVF+PQ oracle chain (codes → coarse assign →
    * probes → per-query LUT → ADC over probed lists), shared by
    * q_ivfpq_search, q_ivfpq_rerank and q_hybrid_rrf_ann so a tie-break
    * or arithmetic fix can never diverge the gates. Expects `q`
    * ([[QuantCte]]) in scope; yields the
    * `adc(query_id, neighbor_id, adc_dist)` CTE. Fixed gate constants:
    * m=8, subDim=8, centroidMod=97, coarseMod=83, nprobe=2; the query
    * prefix bound is the parameter. */
  private def ivfPqAdcCtes(nQueries: Int): String =
    IvfPqAdcCtes.replace("vec_id < 20", s"vec_id < $nQueries")

  /** BM25 lexical-leg chain over `documents` for the four fixed gate
    * queries, yielding lexleg(query_id, doc_id, rank), rank ≤ 10 —
    * shared by q_hybrid_rrf and q_hybrid_rrf_ann (names avoid
    * [[QuantCte]]'s `q`). Same arithmetic as the q_bm25 oracle. */
  private val Bm25LexLegCtes: String =
    """qq(query_id, qtext) AS (VALUES
      |         (0, 'hash join table'), (1, 'stream window agg'),
      |         (2, 'scan filter column'), (3, 'sort merge dup')),
      |qt AS (SELECT DISTINCT query_id,
      |              unnest(string_split(qtext, ' ')) AS term FROM qq),
      |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |stats AS (SELECT count(*)::DOUBLE AS n,
      |                 sum(len(w))::DOUBLE / count(*)::DOUBLE AS avgdl FROM d),
      |tok AS (SELECT doc_id, len(w)::DOUBLE AS dl, unnest(w) AS term FROM d),
      |tf AS (SELECT doc_id, term, max(dl) AS dl, count(*)::DOUBLE AS tf
      |       FROM tok WHERE term IN (SELECT DISTINCT term FROM qt)
      |       GROUP BY 1, 2),
      |idf AS (SELECT term,
      |               round(ln(1.0 + (n - count(*)::DOUBLE + 0.5)
      |                 / (count(*)::DOUBLE + 0.5)) * 1000000.0)::BIGINT AS idf_micro
      |        FROM tf, stats GROUP BY term, n),
      |sc AS (SELECT qt.query_id, tf.doc_id,
      |              round(idf_micro * (tf * (1.2 + 1.0)
      |                / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
      |                * 1000.0)::BIGINT AS contrib_nanos
      |       FROM tf JOIN idf USING (term) JOIN qt USING (term), stats),
      |bs AS (SELECT query_id, doc_id,
      |              sum(contrib_nanos)::BIGINT AS score_nanos
      |       FROM sc GROUP BY 1, 2),
      |lexleg AS (SELECT query_id, doc_id, rank FROM (
      |             SELECT query_id, doc_id,
      |                    row_number() OVER (PARTITION BY query_id
      |                      ORDER BY score_nanos DESC, doc_id) AS rank
      |             FROM bs) WHERE rank <= 10)""".stripMargin

  /** The four fixed BM25 gate queries, shared by the in-plan gate and
    * the persisted-index lifecycle gates (which must reproduce the
    * in-plan scores bit-for-bit on the same workload). */
  private val Bm25Queries: Seq[(Int, String)] = Seq(
    (0, "hash join table"), (1, "stream window agg"),
    (2, "scan filter column"), (3, "sort merge dup"))

  /** The ONE copy of the full BM25 oracle (idf micro-units, nano-unit
    * contribution chain, exact BIGINT scores, top-10), shared by
    * q_bm25 and the persisted-index gates q_bm25_persisted /
    * q_bm25_append / q_bm25_delete (the last filters `documents`). */
  private val Bm25Oracle: String =
    """WITH q(query_id, qtext) AS (VALUES
      |         (0, 'hash join table'), (1, 'stream window agg'),
      |         (2, 'scan filter column'), (3, 'sort merge dup')),
      |qt AS (SELECT DISTINCT query_id,
      |              unnest(string_split(qtext, ' ')) AS term FROM q),
      |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |stats AS (SELECT count(*)::DOUBLE AS n,
      |                 sum(len(w))::DOUBLE / count(*)::DOUBLE AS avgdl FROM d),
      |tok AS (SELECT doc_id, len(w)::DOUBLE AS dl, unnest(w) AS term FROM d),
      |tf AS (SELECT doc_id, term, max(dl) AS dl, count(*)::DOUBLE AS tf
      |       FROM tok WHERE term IN (SELECT DISTINCT term FROM qt)
      |       GROUP BY 1, 2),
      |idf AS (SELECT term,
      |               round(ln(1.0 + (n - count(*)::DOUBLE + 0.5)
      |                 / (count(*)::DOUBLE + 0.5)) * 1000000.0)::BIGINT AS idf_micro
      |        FROM tf, stats GROUP BY term, n),
      |sc AS (SELECT qt.query_id, tf.doc_id,
      |              round(idf_micro * (tf * (1.2 + 1.0)
      |                / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
      |                * 1000.0)::BIGINT AS contrib_nanos
      |       FROM tf JOIN idf USING (term) JOIN qt USING (term), stats),
      |s AS (SELECT query_id, doc_id,
      |             sum(contrib_nanos)::BIGINT AS score_nanos
      |      FROM sc GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, score_nanos,
      |             row_number() OVER (PARTITION BY query_id
      |               ORDER BY score_nanos DESC, doc_id) AS rank
      |      FROM s)
      |SELECT query_id, rank, doc_id, score_nanos,
      |       score_nanos / 1000000000.0 AS score
      |FROM r WHERE rank <= 10""".stripMargin

  /** RRF fusion tail over lexleg + semleg (both (query_id, doc_id,
    * rank)) — the same integer nano-unit arithmetic as
    * `RankFusion.rrfFuse`, shared by both hybrid gates. */
  private val RrfTailSql: String =
    """contrib AS (SELECT query_id, doc_id,
      |                   round(1000000000.0 / (60 + rank))::BIGINT AS c
      |            FROM lexleg
      |            UNION ALL
      |            SELECT query_id, doc_id,
      |                   round(1000000000.0 / (60 + rank))::BIGINT
      |            FROM semleg),
      |fused AS (SELECT query_id, doc_id, sum(c)::BIGINT AS rrf_nanos,
      |                 count(*)::BIGINT AS legs_hit
      |          FROM contrib GROUP BY 1, 2)
      |SELECT query_id, doc_id, rank, rrf_nanos, legs_hit FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |               ORDER BY rrf_nanos DESC, doc_id) AS rank
      |  FROM fused)
      |WHERE rank <= 5""".stripMargin

  /** The ONE copy of the ANN-hybrid oracle (BM25 leg + IVF+PQ ADC leg +
    * RRF fusion), shared by q_hybrid_rrf_ann and its standalone-query
    * twin q_hybrid_rrf_ann_q — the Q form changes only where the query
    * embeddings come from, never the fused arithmetic. */
  private lazy val HybridAnnOracle: String = s"""WITH $QuantCte,
        |$Bm25LexLegCtes,
        |${ivfPqAdcCtes(4)},
        |semleg AS (SELECT query_id, neighbor_id AS doc_id, rank FROM (
        |             SELECT query_id, neighbor_id,
        |                    row_number() OVER (PARTITION BY query_id
        |                      ORDER BY adc_dist, neighbor_id) AS rank
        |             FROM adc) WHERE rank <= 10),
        |$RrfTailSql""".stripMargin

  private val IvfPqAdcCtes: String =
    """subs AS (SELECT vec_id, s, list_slice(v, s*8+1, s*8+8) AS vs
      |         FROM q, range(8) t(s)),
      |cents AS (SELECT vec_id AS centroid_id, s,
      |                 list_slice(v, s*8+1, s*8+8) AS cs
      |          FROM q, range(8) t(s) WHERE vec_id % 97 = 0),
      |d2 AS (SELECT subs.vec_id, subs.s, centroid_id,
      |              list_dot_product(vs, vs) - 2*list_dot_product(vs, cs)
      |                + list_dot_product(cs, cs) AS d2
      |       FROM subs JOIN cents ON subs.s = cents.s),
      |codes AS (SELECT vec_id, s, centroid_id AS code FROM (
      |            SELECT *, row_number() OVER (PARTITION BY vec_id, s
      |                         ORDER BY d2, centroid_id) AS rn
      |            FROM d2)
      |          WHERE rn = 1),
      |cvecs AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM q),
      |clists AS (SELECT vec_id AS list_id, v AS cv,
      |                  list_dot_product(v, v) AS cn
      |           FROM q WHERE vec_id % 83 = 0),
      |s0 AS (SELECT vec_id, list_id,
      |              round(list_dot_product(v, cv) / (sqrt(n) * sqrt(cn)), 6) AS cos_sim
      |       FROM cvecs, clists),
      |assign AS (SELECT vec_id, list_id FROM (
      |             SELECT *, row_number() OVER (PARTITION BY vec_id
      |                          ORDER BY cos_sim DESC, list_id) AS rn
      |             FROM s0) WHERE rn = 1),
      |probes AS (SELECT vec_id AS query_id, list_id FROM (
      |             SELECT *, row_number() OVER (PARTITION BY vec_id
      |                          ORDER BY cos_sim DESC, list_id) AS rn
      |             FROM s0 WHERE vec_id < 20) WHERE rn <= 2),
      |lut AS (SELECT subs.vec_id AS query_id, subs.s, centroid_id,
      |               list_dot_product(vs, vs) - 2*list_dot_product(vs, cs)
      |                 + list_dot_product(cs, cs) AS pd
      |        FROM subs JOIN cents ON subs.s = cents.s
      |        WHERE subs.vec_id < 20),
      |adc AS (SELECT lut.query_id, c.vec_id AS neighbor_id,
      |               CAST(sum(pd) AS BIGINT) AS adc_dist
      |        FROM codes c
      |          JOIN assign a ON a.vec_id = c.vec_id
      |          JOIN probes p ON p.list_id = a.list_id
      |          JOIN lut ON c.s = lut.s AND c.code = lut.centroid_id
      |                   AND lut.query_id = p.query_id
      |        WHERE c.vec_id <> lut.query_id
      |        GROUP BY 1, 2)""".stripMargin

  /** The ONE copy of the ADC-top-R + exact-re-rank oracle (the FAISS
    * refine chain: q_ivfpq_search's ADC candidates capped at rank <= 10,
    * then q_embed_knn's exact rounded-cosine arithmetic) — shared by
    * q_ivfpq_rerank and q_ivfpq_rerank_persisted: the persisted variant
    * changes only where the relations come from (codes scan pruned by
    * the probed-list IN, raw vectors fetched from the vec_id-clustered
    * refine relation), never the arithmetic. */
  private lazy val IvfPqRerankOracle: String = s"""WITH $QuantCte,
        |$IvfPqAdcCtes,
        |cand AS (SELECT query_id, neighbor_id FROM (
        |           SELECT *, row_number() OVER (PARTITION BY query_id
        |                        ORDER BY adc_dist, neighbor_id) AS rank
        |           FROM adc)
        |         WHERE rank <= 10),
        |ex AS (SELECT c.query_id, c.neighbor_id,
        |              round(list_dot_product(qq.v, nn.v)
        |                / (sqrt(qq.n) * sqrt(nn.n)), 6) AS cos_sim
        |       FROM cand c
        |         JOIN cvecs qq ON qq.vec_id = c.query_id
        |         JOIN cvecs nn ON nn.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, rank, cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |               ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM ex)
        |WHERE rank <= 5""".stripMargin

  /** The hybrid oracle with the exact-reranked semantic leg (RRF over
    * the BM25 lexical leg + the refine chain capped at kEach=10) —
    * q_hybrid_persisted_rerank. Exact-leg aliases avoid the qq VALUES
    * table of the lexical chain. */
  private lazy val HybridRerankOracle: String = s"""WITH $QuantCte,
        |$Bm25LexLegCtes,
        |${ivfPqAdcCtes(4)},
        |cand AS (SELECT query_id, neighbor_id FROM (
        |           SELECT *, row_number() OVER (PARTITION BY query_id
        |                        ORDER BY adc_dist, neighbor_id) AS rank
        |           FROM adc)
        |         WHERE rank <= 10),
        |ex AS (SELECT c.query_id, c.neighbor_id,
        |              round(list_dot_product(eq.v, nn.v)
        |                / (sqrt(eq.n) * sqrt(nn.n)), 6) AS cos_sim
        |       FROM cand c
        |         JOIN cvecs eq ON eq.vec_id = c.query_id
        |         JOIN cvecs nn ON nn.vec_id = c.neighbor_id),
        |semleg AS (SELECT query_id, neighbor_id AS doc_id, rank FROM (
        |             SELECT query_id, neighbor_id,
        |                    row_number() OVER (PARTITION BY query_id
        |                      ORDER BY cos_sim DESC, neighbor_id) AS rank
        |             FROM ex) WHERE rank <= 10),
        |$RrfTailSql""".stripMargin

  /** The ONE copy of the fully-trained IVF+PQ oracle (coarse training +
    * corpus assignment + PQ training + corpus encode + probes + LUT +
    * ADC over probed lists), shared by q_ivfpq_trained and
    * q_ivfpq_trained_persisted — the persisted variant changes only
    * where the index relations come from, never the arithmetic. */
  private lazy val IvfPqTrainedOracle: String = s"""WITH $QuantCte,
        |tr AS (SELECT vec_id, v FROM q WHERE vec_id % 7 = 0),
        |cinit AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS li, v AS cv
        |          FROM tr ORDER BY vec_id LIMIT 4),
        |ccb0 AS (SELECT li, cv, list_dot_product(cv, cv) AS cn FROM cinit),
        |tn AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM tr),
        |ca1 AS (SELECT vec_id, li FROM (
        |          SELECT tn.vec_id, ccb0.li,
        |                 row_number() OVER (PARTITION BY tn.vec_id
        |                   ORDER BY round(list_dot_product(v, cv)
        |                     / (sqrt(n) * sqrt(cn)), 6) DESC, li) AS rn
        |          FROM tn, ccb0) WHERE rn = 1),
        |cu1 AS (SELECT ca1.li, t.d, round(sum(v[t.d + 1]) / count(*), 0) AS cx
        |        FROM ca1 JOIN tr ON ca1.vec_id = tr.vec_id
        |        CROSS JOIN range(64) t(d)
        |        GROUP BY 1, 2),
        |ccb1e AS (SELECT ccb0.li, d.d, coalesce(cu1.cx, cv[d.d + 1]) AS cx
        |          FROM ccb0 CROSS JOIN range(64) d(d)
        |          LEFT JOIN cu1 ON cu1.li = ccb0.li AND cu1.d = d.d),
        |ccb1l AS (SELECT li, list(cx ORDER BY d) AS cv FROM ccb1e GROUP BY 1),
        |ccb1 AS (SELECT li, cv, list_dot_product(cv, cv) AS cn FROM ccb1l),
        |qn AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM q),
        |assign AS (SELECT vec_id, li AS list_id FROM (
        |             SELECT qn.vec_id, ccb1.li,
        |                    row_number() OVER (PARTITION BY qn.vec_id
        |                      ORDER BY round(list_dot_product(v, cv)
        |                        / (sqrt(n) * sqrt(cn)), 6) DESC, li) AS rn
        |             FROM qn, ccb1) WHERE rn = 1),
        |pinit AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v
        |          FROM tr ORDER BY vec_id LIMIT 4),
        |pcb0 AS (SELECT ci, s, list_slice(v, s*8+1, s*8+8) AS cs
        |         FROM pinit, range(8) t(s)),
        |tsub AS (SELECT vec_id, s, list_slice(v, s*8+1, s*8+8) AS vs
        |         FROM tr, range(8) t(s)),
        |pa1 AS (SELECT vec_id, s, ci FROM (
        |          SELECT tsub.vec_id, tsub.s, pcb0.ci,
        |                 row_number() OVER (PARTITION BY tsub.vec_id, tsub.s
        |                   ORDER BY list_dot_product(vs, vs)
        |                     - 2*list_dot_product(vs, cs)
        |                     + list_dot_product(cs, cs), ci) AS rn
        |          FROM tsub JOIN pcb0 ON tsub.s = pcb0.s) WHERE rn = 1),
        |pu1 AS (SELECT pa1.s, pa1.ci, t.d,
        |               round(sum(vs[t.d + 1]) / count(*), 0) AS cx
        |        FROM pa1 JOIN tsub ON pa1.vec_id = tsub.vec_id
        |                          AND pa1.s = tsub.s
        |        CROSS JOIN range(8) t(d)
        |        GROUP BY 1, 2, 3),
        |pcb1e AS (SELECT pcb0.ci, pcb0.s, d.d,
        |                 coalesce(pu1.cx, cs[d.d + 1]) AS cx
        |          FROM pcb0 CROSS JOIN range(8) d(d)
        |          LEFT JOIN pu1 ON pu1.s = pcb0.s AND pu1.ci = pcb0.ci
        |                       AND pu1.d = d.d),
        |pcb1 AS (SELECT ci, s, list(cx ORDER BY d) AS cs
        |         FROM pcb1e GROUP BY 1, 2),
        |subs AS (SELECT vec_id, s, list_slice(v, s*8+1, s*8+8) AS vs
        |         FROM q, range(8) t(s)),
        |codes AS (SELECT vec_id, s, ci AS code FROM (
        |            SELECT subs.vec_id, subs.s, pcb1.ci,
        |                   row_number() OVER (PARTITION BY subs.vec_id, subs.s
        |                     ORDER BY list_dot_product(vs, vs)
        |                       - 2*list_dot_product(vs, cs)
        |                       + list_dot_product(cs, cs), ci) AS rn
        |            FROM subs JOIN pcb1 ON subs.s = pcb1.s) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, li AS list_id FROM (
        |             SELECT qn.vec_id, ccb1.li,
        |                    row_number() OVER (PARTITION BY qn.vec_id
        |                      ORDER BY round(list_dot_product(v, cv)
        |                        / (sqrt(n) * sqrt(cn)), 6) DESC, li) AS rn
        |             FROM qn, ccb1 WHERE qn.vec_id < 20) WHERE rn <= 2),
        |lut AS (SELECT subs.vec_id AS query_id, subs.s, pcb1.ci,
        |               list_dot_product(vs, vs) - 2*list_dot_product(vs, cs)
        |                 + list_dot_product(cs, cs) AS pd
        |        FROM subs JOIN pcb1 ON subs.s = pcb1.s
        |        WHERE subs.vec_id < 20),
        |adc AS (SELECT lut.query_id, c.vec_id AS neighbor_id,
        |               CAST(sum(pd) AS BIGINT) AS adc_dist
        |        FROM codes c
        |          JOIN assign a ON a.vec_id = c.vec_id
        |          JOIN probes p ON p.list_id = a.list_id
        |          JOIN lut ON c.s = lut.s AND c.code = lut.ci
        |                   AND lut.query_id = p.query_id
        |        WHERE c.vec_id <> lut.query_id
        |        GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, rank, adc_dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |               ORDER BY adc_dist, neighbor_id) AS rank
        |  FROM adc)
        |WHERE rank <= 5""".stripMargin

  /** [[IvfPqTrainedOracle]] with g = 2 coarse-spill indexing: the
    * corpus ASSIGNMENT keeps rank ≤ 2 (each vector lands in its two
    * nearest trained lists — the same rounded-cosine + lower-index
    * arithmetic as the probes), and the ADC scan dedups by
    * (query, vector) DISTINCT before summing, mirroring the engine's
    * min-dedup over identical-code copies. */
  private lazy val IvfPqSpillOracle: String = IvfPqTrainedOracle
    .replace("FROM qn, ccb1) WHERE rn = 1),",
      "FROM qn, ccb1) WHERE rn <= 2),")
    .replace("JOIN assign a ON a.vec_id = c.vec_id",
      "JOIN hits h ON h.vec_id = c.vec_id")
    .replace("JOIN probes p ON p.list_id = a.list_id\n", "")
    .replace("AND lut.query_id = p.query_id",
      "AND lut.query_id = h.query_id")
    .replace("adc AS (SELECT lut.query_id",
      "hits AS (SELECT DISTINCT a.vec_id, pr.query_id\n" +
        "         FROM assign a JOIN probes pr ON pr.list_id = a.list_id),\n" +
        "adc AS (SELECT lut.query_id")

  val ml: Seq[Q] = Seq(
    Q("q_text_stats",
      (s, d) => TextAnalysis.textStats(documents(s, d), Stopwords),
      Some("""WITH s AS (SELECT doc_id, string_split(text, ' ') AS w, length(text) AS n
        |              FROM documents),
        |f AS (SELECT doc_id, len(w) AS n_words,
        |             len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x))) AS n_stop,
        |             n - (len(w) - 1) AS n_letters
        |      FROM s)
        |SELECT doc_id, n_words, n_stop,
        |       round(n_stop / n_words, 6) AS stop_ratio,
        |       round(n_letters / n_words, 6) AS avg_word_len,
        |       round(least(1.0, n_words / 200.0) * 0.5 + (1.0 - n_stop / n_words) * 0.3 +
        |             least(1.0, (n_letters / n_words) / 8.0) * 0.2, 6) AS quality
        |FROM f""".stripMargin)),

    Q("q_lang_id",
      (s, d) => TextAnalysis.langId(s, documents(s, d), Lexicon),
      Some("""WITH lex AS (SELECT * FROM (VALUES ('the','en'),('a','en'),('and','en'),
        |                     ('der','de'),('die','de'),('und','de'),
        |                     ('le','fr'),('la','fr'),('et','fr'),
        |                     ('el','es'),('los','es'),('y','es')) l(word, cand_lang)),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |sc AS (SELECT doc_id, cand_lang, count(*) AS score
        |       FROM tok JOIN lex USING (word) GROUP BY 1, 2),
        |best AS (SELECT doc_id, cand_lang, score,
        |                row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY score DESC, cand_lang) AS rn
        |         FROM sc)
        |SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS pred_lang,
        |       coalesce(b.score, 0) AS score
        |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)""".stripMargin)),

    Q("q_token_count",
      (s, d) => TextAnalysis.tokenCounts(documents(s, d)),
      Some("""SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
        |       len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_subword_tokens
        |FROM documents""".stripMargin)),

    Q("q_fingerprint",
      (s, d) => TextAnalysis.fingerprint(documents(s, d)),
      Some(s"""WITH f AS (SELECT doc_id, ${hashSql("text")} AS fp FROM documents)
        |SELECT doc_id, fp, fp % 1024 AS fp_band FROM f""".stripMargin)),

    Q("q_dedup_exact",
      (s, d) => Dedup.exactDuplicates(documents(s, d)),
      Some("""SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id,
        |       CAST(doc_id <> min(doc_id) OVER (PARTITION BY text) AS INT) AS is_dup
        |FROM documents""".stripMargin)),

    Q("q_minhash",
      (s, d) => Dedup.minhashSignatures(s, Dedup.shingles(documents(s, d)), numHashes = 8),
      Some(s"""WITH $ShingleHashCte
        |SELECT doc_id, hash_id, minhash FROM mh""".stripMargin)),

    Q("q_lsh_pairs",
      (s, d) => Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(s, Dedup.shingles(documents(s, d)), numHashes = 8),
        numHashes = 8, rowsPerBand = 2),
      Some(s"""WITH $ShingleHashCte,
        |keys AS (SELECT doc_id, hash_id // 2 AS band,
        |                string_agg(hash_id || ':' || minhash, ',' ORDER BY hash_id) AS band_key
        |         FROM mh GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM keys a JOIN keys b
        |            ON a.band = b.band AND a.band_key = b.band_key
        |           AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) / 8.0 AS est_jaccard
        |FROM pairs
        |JOIN mh ma ON ma.doc_id = doc_a
        |JOIN mh mb ON mb.doc_id = doc_b AND mb.hash_id = ma.hash_id
        |GROUP BY 1, 2""".stripMargin)),

    Q("q_ngram_jaccard",
      (s, d) => Dedup.jaccardPairs(Dedup.shingles(documents(s, d)),
        maxDocFreq = 50, threshold = 0.2),
      Some(s"""WITH $ShingleCte,
        |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50),
        |pr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM pr GROUP BY 1),
        |cm AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |       FROM pr a JOIN pr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common, common / (sa.sz + sb.sz - common) AS jaccard
        |FROM cm JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |WHERE common / (sa.sz + sb.sz - common) >= 0.2""".stripMargin)),

    Q("q_verified_neardups",
      (s, d) => Dedup.verifiedNearDups(s, documents(s, d),
        numHashes = 8, rowsPerBand = 2, threshold = 0.5),
      Some(s"""WITH $ShingleHashCte,
        |keys AS (SELECT doc_id, hash_id // 2 AS band,
        |                string_agg(hash_id || ':' || minhash, ',' ORDER BY hash_id) AS band_key
        |         FROM mh GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM keys a JOIN keys b
        |            ON a.band = b.band AND a.band_key = b.band_key
        |           AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cm AS (SELECT p.doc_a, p.doc_b, count(*) AS common
        |       FROM pairs p
        |       JOIN sh a ON a.doc_id = p.doc_a
        |       JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common / (sa.sz + sb.sz - common) AS jaccard
        |FROM cm JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |WHERE common / (sa.sz + sb.sz - common) >= 0.5""".stripMargin)),

    Q("q_paragraph_dedup",
      (s, d) => Dedup.paragraphDedup(documents(s, d), chunkWords = 3, minDocs = 2),
      Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |chunks AS (SELECT doc_id,
        |                  unnest(range(0, CAST(ceil(len(w) / 3.0) AS INT))) AS idx,
        |                  unnest(list_transform(range(0, CAST(ceil(len(w) / 3.0) AS INT)),
        |                         i -> array_to_string(w[i*3+1:i*3+3], ' '))) AS chunk
        |           FROM words),
        |dup AS (SELECT chunk FROM chunks GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (SELECT c.doc_id, c.idx, c.chunk, d.chunk IS NOT NULL AS isdup
        |           FROM chunks c LEFT JOIN dup d USING (chunk))
        |SELECT doc_id,
        |       coalesce(array_to_string(list(chunk ORDER BY idx) FILTER (WHERE NOT isdup), ' '), '') AS clean_text,
        |       count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM marked GROUP BY doc_id""".stripMargin)),

    // M43 intra-document repeated-chunk removal: zero-shuffle narrow
    // chain; the oracle replays the first-occurrence filter with
    // DuckDB's index-aware list lambda (1-based where Spark's is
    // 0-based, hence `= i` vs `= i+1`).
    Q("q_intradoc_dedup",
      (s, d) => Dedup.intraDocDedup(documents(s, d), chunkWords = 3),
      Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id,
        |             list_transform(range(0, CAST(ceil(len(w) / 3.0) AS INT)),
        |                            i -> array_to_string(w[i*3+1:i*3+3], ' ')) AS ch
        |      FROM words),
        |k AS (SELECT doc_id, ch,
        |             list_filter(ch, (x, i) -> list_position(ch, x) = i) AS kept
        |      FROM c)
        |SELECT doc_id,
        |       array_to_string(kept, ' ') AS clean_text,
        |       len(ch)::BIGINT AS n_chunks,
        |       (len(ch) - len(kept))::BIGINT AS n_dropped
        |FROM k""".stripMargin)),

    // M42 stupid-backoff bigram LM scoring (CCNet/KenLM-style
    // perplexity filter): trained on the even-id half, scores every
    // doc; ln quantized to micro-units so per-doc sums are exact
    // BIGINT (the q_bm25 portability device).
    Q("q_lm_score",
      (s, d) => graft.text.LangModel.bigramScore(
        documents(s, d), trainMod = 2, keepAvgLogpMicro = -8000000L),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2 FROM d),
        |tbg AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
        |cabt AS (SELECT w1, w2, count(*)::BIGINT AS cab FROM tbg GROUP BY 1, 2),
        |cat AS (SELECT w1, count(*)::BIGINT AS ca FROM tbg GROUP BY 1),
        |cwt AS (SELECT w2, count(*)::BIGINT AS cw
        |        FROM (SELECT unnest(w) AS w2 FROM d WHERE doc_id % 2 = 0) GROUP BY 1),
        |nt AS (SELECT sum(len(w))::DOUBLE AS n FROM d WHERE doc_id % 2 = 0),
        |sc AS (SELECT g.doc_id,
        |              CASE WHEN cabt.cab IS NOT NULL THEN cabt.cab / cat.ca
        |                   WHEN cwt.cw IS NOT NULL THEN 0.4::DOUBLE * cwt.cw / nt.n
        |                   ELSE 0.4::DOUBLE / (nt.n + 1.0::DOUBLE) END AS s,
        |              cabt.cab AS cab
        |       FROM bg g
        |       LEFT JOIN cabt ON g.w1 = cabt.w1 AND g.w2 = cabt.w2
        |       LEFT JOIN cat ON g.w1 = cat.w1
        |       LEFT JOIN cwt ON g.w2 = cwt.w2
        |       CROSS JOIN nt),
        |lp AS (SELECT doc_id, round(ln(s) * 1000000.0)::BIGINT AS lp, cab FROM sc),
        |pd AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |              sum(CASE WHEN cab IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_backoff,
        |              sum(lp)::BIGINT AS logp_micro_sum
        |       FROM lp GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
        |       coalesce(n_backoff, 0)::BIGINT AS n_backoff,
        |       coalesce(logp_micro_sum, 0)::BIGINT AS logp_micro_sum,
        |       CAST(coalesce(logp_micro_sum, 0) >= -8000000 * coalesce(n_bigrams, 0) AS INT) AS keep
        |FROM d LEFT JOIN pd USING (doc_id)""".stripMargin)),

    // M44 incremental cross-corpus dedup: new batch (odd ids) deduped
    // against the existing corpus (even ids) — exact hash join, then
    // LSH band-key match + shingle-Jaccard verification for the rest.
    Q("q_incremental_dedup",
      (s, d) => Dedup.incrementalDedup(s,
        documents(s, d).where(col("doc_id") % 2 === 0),
        documents(s, d).where(col("doc_id") % 2 === 1)),
      Some(s"""WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        |exh AS (SELECT ${hashSql("text")} AS h, text, min(doc_id) AS exact_id
        |        FROM ex GROUP BY 1, 2),
        |exact AS (SELECT i.doc_id, e.exact_id
        |          FROM inc i JOIN exh e ON ${hashSql("i.text")} = e.h AND i.text = e.text),
        |inn AS (SELECT * FROM inc WHERE doc_id NOT IN (SELECT doc_id FROM exact)),
        |shi AS (SELECT DISTINCT doc_id, unnest(list_transform(range(0, greatest(0, len(w) - 2)),
        |               i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
        |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM inn)),
        |she AS (SELECT DISTINCT doc_id, unnest(list_transform(range(0, greatest(0, len(w) - 2)),
        |               i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
        |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM ex)),
        |params AS (SELECT j AS hash_id, 37 + 101 * j AS a, 17 + 91 * j AS b
        |           FROM range(8) t(j)),
        |mhi AS (SELECT doc_id, hash_id, min((a * ${hashSql("shingle")} + b) % 1000000007) AS minhash
        |        FROM shi, params GROUP BY 1, 2),
        |mhe AS (SELECT doc_id, hash_id, min((a * ${hashSql("shingle")} + b) % 1000000007) AS minhash
        |        FROM she, params GROUP BY 1, 2),
        |keysi AS (SELECT doc_id, hash_id // 2 AS band,
        |                 string_agg(hash_id || ':' || minhash, ',' ORDER BY hash_id) AS band_key
        |          FROM mhi GROUP BY 1, 2),
        |keyse AS (SELECT doc_id, hash_id // 2 AS band,
        |                 string_agg(hash_id || ':' || minhash, ',' ORDER BY hash_id) AS band_key
        |          FROM mhe GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS ex_id
        |         FROM keysi a JOIN keyse b ON a.band = b.band AND a.band_key = b.band_key),
        |szi AS (SELECT doc_id, count(*)::BIGINT AS sz_in FROM shi GROUP BY 1),
        |sze AS (SELECT doc_id, count(*)::BIGINT AS sz_ex FROM she GROUP BY 1),
        |com AS (SELECT c.in_id, c.ex_id, count(*)::BIGINT AS common
        |        FROM cand c JOIN shi ON shi.doc_id = c.in_id
        |                    JOIN she ON she.doc_id = c.ex_id AND she.shingle = shi.shingle
        |        GROUP BY 1, 2),
        |q AS (SELECT in_id, ex_id,
        |             common / (sz_in + sz_ex - common) AS jaccard
        |      FROM com JOIN szi ON szi.doc_id = com.in_id
        |               JOIN sze ON sze.doc_id = com.ex_id
        |      WHERE common / (sz_in + sz_ex - common) >= 0.5),
        |best AS (SELECT in_id, ex_id AS near_id, jaccard,
        |                row_number() OVER (PARTITION BY in_id ORDER BY ex_id) AS rn
        |         FROM q)
        |SELECT i.doc_id,
        |       CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
        |            WHEN b.near_id IS NOT NULL THEN 'near_dup'
        |            ELSE 'new' END AS status,
        |       coalesce(e.exact_id, b.near_id, -1)::BIGINT AS match_id,
        |       round(CASE WHEN e.exact_id IS NOT NULL THEN 1.0::DOUBLE
        |                  WHEN b.near_id IS NOT NULL THEN b.jaccard
        |                  ELSE 0.0::DOUBLE END, 6) AS jaccard
        |FROM inc i LEFT JOIN exact e ON e.doc_id = i.doc_id
        |           LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.in_id = i.doc_id""".stripMargin)),

    // M46 corpus-level MinHash: dataset-pair overlap estimation (which
    // sources mirror each other) — group signatures, est_jaccard =
    // agree/16 (dyadic → exact double both engines).
    Q("q_corpus_similarity",
      (s, d) => Dedup.corpusSimilarity(s, documents(s, d),
        groupCol = "source", numHashes = 16),
      Some(s"""WITH sh AS (SELECT DISTINCT source,
        |          unnest(list_transform(range(0, greatest(0, len(w) - 2)),
        |                 i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
        |       FROM (SELECT source, string_split(text, ' ') AS w FROM documents)),
        |shh AS (SELECT source, shingle, ${hashSql("shingle")} AS h FROM sh),
        |params AS (SELECT j AS hash_id, 37 + 101 * j AS a, 17 + 91 * j AS b
        |           FROM range(16) t(j)),
        |gm AS (SELECT source, hash_id, min((a * h + b) % 1000000007) AS mh
        |       FROM shh, params GROUP BY 1, 2)
        |SELECT x.source AS source_a, y.source AS source_b,
        |       sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
        |FROM gm x JOIN gm y ON x.hash_id = y.hash_id AND x.source < y.source
        |GROUP BY 1, 2""".stripMargin)),

    // M61 EXACT corpus-pair overlap matrix (the model-card train/test
    // contamination report; certifies what M46's MinHash estimates):
    // one (source, shingle) distinct, a shingle-keyed join with
    // per-key fan-out ≤ #sources, one output row per source pair
    // (zero-overlap pairs reported explicitly). Ratios are single
    // IEEE divisions of exact integers — bit-equal both engines.
    Q("q_split_overlap",
      (s, d) => Dedup.splitOverlapMatrix(documents(s, d), "source"),
      Some("""WITH raw AS (SELECT source AS split,
        |            unnest(list_transform(range(0, greatest(0, len(w) - 2)),
        |                   i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
        |     FROM (SELECT source, string_split(text, ' ') AS w FROM documents)),
        |s AS (SELECT DISTINCT split, shingle FROM raw),
        |t AS (SELECT split, count(*)::BIGINT AS n_sh FROM s GROUP BY 1),
        |p AS (SELECT a.split AS split_a, b.split AS split_b,
        |             count(*)::BIGINT AS shared
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.split < b.split
        |      GROUP BY 1, 2)
        |SELECT ta.split AS split_a, tb.split AS split_b,
        |       coalesce(p.shared, 0)::BIGINT AS shared,
        |       ta.n_sh AS n_a, tb.n_sh AS n_b,
        |       coalesce(p.shared, 0)::DOUBLE / ta.n_sh AS containment_a,
        |       coalesce(p.shared, 0)::DOUBLE
        |         / (ta.n_sh + tb.n_sh - coalesce(p.shared, 0)) AS jaccard
        |FROM t ta JOIN t tb ON ta.split < tb.split
        |LEFT JOIN p ON p.split_a = ta.split AND p.split_b = tb.split""".stripMargin)),

    // M45 link-graph centrality (integer-quantized PageRank) for crawl
    // curation. The gate derives a deterministic doc→doc link graph
    // from the corpus (3 hash-derived out-links per doc — both engines
    // replay it exactly); the operator itself takes any (src, dst)
    // edge list. Doc ordinals come from the bucketed two-level rank
    // (ops.Ranks) — no global window anywhere in the path.
    Q("q_pagerank",
      (s, d) => {
        // tableRaw: exempt from the bench hot-table SPREAD (r21's one
        // fold casualty, +0.76 s) — the operator takes the driver
        // small-graph path at fixture scale, so the 8-partition stages
        // the spread imposes on this corpus-scale edge derivation are
        // pure task-scheduling overhead here; outside the bench mains
        // tableRaw ≡ table (the overlay is empty), and at production
        // scale the spread is a no-op anyway (scan already parallel).
        val docs = Tables.tableRaw(s, d, "documents")
          .select("doc_id", "text")
        val cnt = docs.agg(count(lit(1)).as("n"))
        val ranked = ops.Ranks.denseOrdinals(
            docs.select("doc_id"), "doc_id", "dst_rnk", buckets = 64)
          .select("doc_id", "dst_rnk")
        val hashes = docs.crossJoin(broadcast(cnt)).select(
          col("doc_id").as("src"),
          explode(array((1 to 3).map(k =>
            TextAnalysis.portableHash(concat(col("text"), lit(k.toString)))
              % col("n")): _*)).as("dst_rnk"))
        val edges = hashes
          .join(ranked.withColumnRenamed("doc_id", "dst"), "dst_rnk")
          .where(col("src") =!= col("dst"))
          .select("src", "dst").distinct()
        graft.ops.LinkGraph.pageRank(edges, iters = 3)
      },
      Some(s"""WITH doc AS (SELECT doc_id, text FROM documents),
        |cnt AS (SELECT count(*)::BIGINT AS n FROM doc),
        |h AS (SELECT doc_id AS src, unnest([${hashSql("text || '1'")} % n,
        |                                    ${hashSql("text || '2'")} % n,
        |                                    ${hashSql("text || '3'")} % n]) AS dst_rnk
        |      FROM doc, cnt),
        |r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk FROM doc),
        |e AS (SELECT DISTINCT h.src, r.doc_id AS dst
        |      FROM h JOIN r ON r.rnk = h.dst_rnk WHERE h.src <> r.doc_id),
        |od AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1),
        |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |pr0 AS (SELECT node, 1000000::BIGINT AS pr FROM nd),
        |c1 AS (SELECT e.dst AS node, sum(pr0.pr // od.outdeg)::BIGINT AS m
        |       FROM e JOIN pr0 ON pr0.node = e.src JOIN od ON od.src = e.src GROUP BY 1),
        |pr1 AS (SELECT nd.node, (150000 + (85 * coalesce(c1.m, 0)) // 100)::BIGINT AS pr
        |        FROM nd LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum(pr1.pr // od.outdeg)::BIGINT AS m
        |       FROM e JOIN pr1 ON pr1.node = e.src JOIN od ON od.src = e.src GROUP BY 1),
        |pr2 AS (SELECT nd.node, (150000 + (85 * coalesce(c2.m, 0)) // 100)::BIGINT AS pr
        |        FROM nd LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, sum(pr2.pr // od.outdeg)::BIGINT AS m
        |       FROM e JOIN pr2 ON pr2.node = e.src JOIN od ON od.src = e.src GROUP BY 1),
        |pr3 AS (SELECT nd.node, (150000 + (85 * coalesce(c3.m, 0)) // 100)::BIGINT AS pr
        |        FROM nd LEFT JOIN c3 USING (node))
        |SELECT node, pr FROM pr3""".stripMargin)),

    Q("q_simhash",
      (s, d) => Dedup.simhash(s, documents(s, d), bits = 16),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |              FROM documents),
        |th AS (SELECT doc_id, ${hashSql("word")} AS h FROM tok),
        |bits AS (SELECT b, (1::BIGINT << b) AS p2 FROM range(16) t(b)),
        |c AS (SELECT doc_id, b, p2, ((h // p2) % 2) * 2 - 1 AS c FROM th, bits),
        |sv AS (SELECT doc_id, b, p2, sum(c) AS s FROM c GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN p2 ELSE 0 END) AS BIGINT) AS simhash
        |FROM sv GROUP BY 1""".stripMargin)),

    Q("q_embed_knn",
      (s, d) => Similarity.cosineTopK(embeddings(s, d), nQueries = 10, k = 5),
      Some(s"""WITH $QuantCte,
        |q2 AS (SELECT vec_id AS query_id, v AS qv, list_dot_product(v, v) AS qn
        |       FROM q WHERE vec_id < 10),
        |c2 AS (SELECT vec_id AS neighbor_id, v AS cv, list_dot_product(v, v) AS cn FROM q),
        |s AS (SELECT query_id, neighbor_id,
        |             round(list_dot_product(qv, cv) / (sqrt(qn) * sqrt(cn)), 6) AS cos_sim
        |      FROM q2, c2 WHERE neighbor_id <> query_id)
        |SELECT query_id, neighbor_id, rank, cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM s)
        |WHERE rank <= 5""".stripMargin)),

    Q("q_embed_neardup",
      (s, d) => Similarity.nearDupPairs(s, embeddings(s, d), threshold = 0.35, bits = 6),
      Some(s"""WITH $QuantCte,
        |bits AS (SELECT j, (1::BIGINT << j) AS p2 FROM range(6) t(j)),
        |expl AS (SELECT vec_id, t.i, v[t.i + 1] AS x FROM q, range(0, 64) t(i)),
        |proj AS (SELECT vec_id, j, p2,
        |                sum((CASE WHEN ((i * 131 + j * 137) % 97) % 2 = 0
        |                          THEN 1 ELSE -1 END) * x) AS proj
        |         FROM expl, bits GROUP BY 1, 2, 3),
        |bk AS (SELECT vec_id, CAST(sum(CASE WHEN proj > 0 THEN p2 ELSE 0 END) AS BIGINT) AS bucket
        |       FROM proj GROUP BY 1),
        |wb AS (SELECT q.vec_id, bucket, v, list_dot_product(v, v) AS n
        |       FROM q JOIN bk USING (vec_id)),
        |s AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |             round(list_dot_product(a.v, b.v) / (sqrt(a.n) * sqrt(b.n)), 6) AS cos_sim
        |      FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cos_sim FROM s WHERE cos_sim >= 0.35""".stripMargin)),

    Q("q_text_normalize",
      (s, d) => TextAnalysis.normalizeText(documents(s, d)),
      Some("""SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |       ' +', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin)),

    Q("q_repetition",
      (s, d) => TextAnalysis.repetition(documents(s, d)),
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |c AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
        |             count(*) AS n_distinct, CAST(max(cnt) AS BIGINT) AS top_cnt
        |      FROM c GROUP BY 1)
        |SELECT doc_id, n_words, n_distinct,
        |       round(1.0 - n_distinct / CAST(n_words AS DOUBLE), 6) AS dup_ratio,
        |       round(top_cnt / CAST(n_words AS DOUBLE), 6) AS top_frac
        |FROM a""".stripMargin)),

    Q("q_decontaminate",
      (s, d) => TextAnalysis.decontaminate(documents(s, d), Seq(
        "key agg row scan slow", "batch window spark order data",
        "the quick brown fox jumps"), n = 5),
      Some("""WITH sh AS (SELECT DISTINCT doc_id,
        |          unnest(list_transform(range(0, greatest(0, len(w) - 4)),
        |                 i -> array_to_string(w[i+1:i+5], ' '))) AS shingle
        |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |p AS (SELECT unnest(['key agg row scan slow',
        |                     'batch window spark order data',
        |                     'the quick brown fox jumps']) AS shingle),
        |h AS (SELECT doc_id, count(DISTINCT sh.shingle) AS n_hits
        |      FROM sh JOIN p ON sh.shingle = p.shingle GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |       coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin)),

    // M8 scale path: Bloom-prefilter + exact verify join. Bloom filters
    // have no false negatives and the verify join removes every false
    // positive, so the SAME exact-decontamination SQL is the oracle —
    // the gate proves the prefilter is lossless, not just plausible.
    Q("q_decontaminate_bloom",
      (s, d) => TextAnalysis.decontaminateBloom(documents(s, d), Seq(
        "key agg row scan slow", "batch window spark order data",
        "the quick brown fox jumps"), n = 5, fpp = 0.01),
      Some("""WITH sh AS (SELECT DISTINCT doc_id,
        |          unnest(list_transform(range(0, greatest(0, len(w) - 4)),
        |                 i -> array_to_string(w[i+1:i+5], ' '))) AS shingle
        |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |p AS (SELECT unnest(['key agg row scan slow',
        |                     'batch window spark order data',
        |                     'the quick brown fox jumps']) AS shingle),
        |h AS (SELECT doc_id, count(DISTINCT sh.shingle) AS n_hits
        |      FROM sh JOIN p ON sh.shingle = p.shingle GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |       coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin)),

    Q("q_ivf_search",
      (s, d) => Similarity.ivfSearch(embeddings(s, d), nQueries = 20, k = 5,
        centroidMod = 97),
      Some(s"""WITH $QuantCte,
        |cents AS (SELECT vec_id AS centroid_id, v AS cv, list_dot_product(v, v) AS cn
        |          FROM q WHERE vec_id % 97 = 0),
        |vecs AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM q),
        |s0 AS (SELECT vec_id, centroid_id,
        |              round(list_dot_product(v, cv) / (sqrt(n) * sqrt(cn)), 6) AS cos_sim
        |       FROM vecs, cents),
        |assign AS (SELECT vec_id, centroid_id FROM (
        |             SELECT *, row_number() OVER (PARTITION BY vec_id
        |                          ORDER BY cos_sim DESC, centroid_id) AS rn
        |             FROM s0) WHERE rn = 1),
        |qs AS (SELECT a.vec_id AS query_id, a.centroid_id, v.v AS qv, v.n AS qn
        |       FROM assign a JOIN vecs v ON v.vec_id = a.vec_id
        |       WHERE a.vec_id < 20),
        |cand AS (SELECT a.vec_id AS neighbor_id, a.centroid_id,
        |                v.v AS cv2, v.n AS cn2
        |         FROM assign a JOIN vecs v ON v.vec_id = a.vec_id),
        |sc AS (SELECT query_id, neighbor_id,
        |              round(list_dot_product(qv, cv2) / (sqrt(qn) * sqrt(cn2)), 6) AS cos_sim
        |       FROM cand JOIN qs USING (centroid_id)
        |       WHERE neighbor_id <> query_id)
        |SELECT query_id, neighbor_id, rank, cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |               ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM sc)
        |WHERE rank <= 5""".stripMargin)),

    Q("q_embed_neardup_banded",
      (s, d) => Similarity.nearDupPairsBanded(s, embeddings(s, d),
        threshold = 0.35, bands = 4, rowBits = 4, maxBucketSize = 50),
      Some(s"""WITH $QuantCte,
        |bits AS (SELECT j, j // 4 AS band, (1::BIGINT << (j % 4)) AS p2
        |         FROM range(16) t(j)),
        |expl AS (SELECT vec_id, t.i, v[t.i + 1] AS x FROM q, range(0, 64) t(i)),
        |proj AS (SELECT vec_id, band, j, p2,
        |                sum((CASE WHEN ((i * 131 + j * 137) % 97) % 2 = 0
        |                          THEN 1 ELSE -1 END) * x) AS proj
        |         FROM expl, bits GROUP BY 1, 2, 3, 4),
        |bk AS (SELECT vec_id, band,
        |              CAST(sum(CASE WHEN proj > 0 THEN p2 ELSE 0 END) AS BIGINT) AS bucket
        |       FROM proj GROUP BY 1, 2),
        |capped AS (SELECT vec_id, band, bucket FROM (
        |             SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
        |             FROM bk)
        |           WHERE bsz <= 50),
        |pairs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |          FROM capped a JOIN capped b
        |            ON a.band = b.band AND a.bucket = b.bucket
        |               AND a.vec_id < b.vec_id),
        |wb AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM q),
        |s AS (SELECT vec_a, vec_b,
        |             round(list_dot_product(a.v, b.v) / (sqrt(a.n) * sqrt(b.n)), 6) AS cos_sim
        |      FROM pairs JOIN wb a ON a.vec_id = vec_a
        |                 JOIN wb b ON b.vec_id = vec_b)
        |SELECT vec_a, vec_b, cos_sim FROM s WHERE cos_sim >= 0.35""".stripMargin)),

    Q("q_training_pipeline",
      (s, d) => TextAnalysis.trainingPipeline(documents(s, d),
        minWords = 20, lang = "en", capacity = 256L),
      Some("""WITH f AS (SELECT * FROM documents
        |       WHERE len(string_split(text, ' ')) >= 20 AND lang = 'en'),
        |k AS (SELECT * FROM (
        |        SELECT *, min(doc_id) OVER (PARTITION BY text) AS canon FROM f)
        |      WHERE doc_id = canon),
        |t AS (SELECT doc_id, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM k),
        |o AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (
        |              PARTITION BY source ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |      FROM t)
        |SELECT doc_id, source, n_tokens, tok_offset,
        |       tok_offset // 256 AS bin_id, tok_offset % 256 AS bin_pos
        |FROM o""".stripMargin)),

    Q("q_bigram_lm",
      (s, d) => TextAnalysis.bigramNovelty(documents(s, d), rareMax = 1),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(range(0, greatest(0, len(w) - 1)),
        |                i -> w[i+1] || ' ' || w[i+2])) AS bigram
        |       FROM w),
        |bc AS (SELECT bigram, count(*) AS cab FROM bg GROUP BY 1),
        |lc AS (SELECT split_part(bigram, ' ', 1) AS lft, count(*) AS ca
        |       FROM bg GROUP BY 1),
        |j AS (SELECT doc_id, cab, ca
        |      FROM bg JOIN bc USING (bigram)
        |      JOIN lc ON split_part(bg.bigram, ' ', 1) = lc.lft)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(sum(CASE WHEN cab <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       round(CAST(sum(CASE WHEN cab <= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |             / count(*), 6) AS novelty_ratio,
        |       round(CAST(sum(cab) AS BIGINT) / CAST(sum(ca) AS BIGINT), 6) AS support
        |FROM j GROUP BY 1""".stripMargin)),

    Q("q_tfidf",
      (s, d) => TextAnalysis.tfIdf(documents(s, d), k = 3),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |              FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |             round(tf * (n_docs + 1) / (df + 1), 6) AS tfidf
        |      FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |               ORDER BY tfidf DESC, term) AS rank
        |  FROM s)
        |WHERE rank <= 3""".stripMargin)),

    Q("q_pack_sequences",
      (s, d) => TextAnalysis.packSequences(documents(s, d), capacity = 256L),
      Some("""WITH t AS (SELECT doc_id, source,
        |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |       FROM documents),
        |o AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (
        |              PARTITION BY source ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |      FROM t)
        |SELECT doc_id, source, n_tokens, tok_offset,
        |       tok_offset // 256 AS bin_id, tok_offset % 256 AS bin_pos
        |FROM o""".stripMargin)),

    Q("q_cleaning_funnel",
      (s, d) => TextAnalysis.cleaningFunnel(documents(s, d), minWords = 20, lang = "en"),
      Some("""WITH f AS (SELECT text, lang,
        |              len(string_split(text, ' ')) >= 20 AS len_ok
        |       FROM documents),
        |a AS (SELECT count(*) AS total,
        |             CAST(sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS len_ok_n,
        |             CAST(sum(CASE WHEN len_ok AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS lang_ok_n,
        |             count(DISTINCT CASE WHEN len_ok AND lang = 'en' THEN text END) AS uniq
        |      FROM f)
        |SELECT 1 AS stage, 'total' AS stage_name, total AS n_docs FROM a
        |UNION ALL SELECT 2, 'min_length', len_ok_n FROM a
        |UNION ALL SELECT 3, 'language', lang_ok_n FROM a
        |UNION ALL SELECT 4, 'exact_dedup', uniq FROM a""".stripMargin)),

    // M27 exact-substring span dedup (the suffix-array recipe of the
    // public dedup literature, distributively: dup 4-gram hashes →
    // marked positions → gaps-and-islands maximal spans).
    Q("q_span_dedup",
      (s, d) => TextAnalysis.duplicatedSpans(documents(s, d), n = 4, minDocs = 2,
        hashFn = TextAnalysis.portableHash),
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(range(0, len(w) - 3)) AS pos, w
        |      FROM w WHERE len(w) >= 4),
        |gh AS (SELECT doc_id, pos,
        |              ${hashSqlOf("array_to_string(w[pos+1:pos+4], ' ')")} AS h
        |       FROM g),
        |dup AS (SELECT h FROM gh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT doc_id, pos FROM gh WHERE h IN (SELECT h FROM dup)),
        |isl AS (SELECT doc_id, pos,
        |               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
        |                    THEN 0 ELSE 1 END AS brk
        |        FROM m),
        |grp AS (SELECT doc_id, pos,
        |               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                              ROWS UNBOUNDED PRECEDING) AS grp
        |        FROM isl)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end
        |FROM grp GROUP BY doc_id, grp""".stripMargin)),

    // Per-document span-dedup accounting: how much of each doc the
    // removal keeps.
    Q("q_span_clean",
      (s, d) => TextAnalysis.spanDedupStats(documents(s, d), n = 4, minDocs = 2,
        hashFn = TextAnalysis.portableHash),
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(range(0, len(w) - 3)) AS pos, w
        |      FROM w WHERE len(w) >= 4),
        |gh AS (SELECT doc_id, pos,
        |              ${hashSqlOf("array_to_string(w[pos+1:pos+4], ' ')")} AS h
        |       FROM g),
        |dup AS (SELECT h FROM gh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT doc_id, pos FROM gh WHERE h IN (SELECT h FROM dup)),
        |isl AS (SELECT doc_id, pos,
        |               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
        |                    THEN 0 ELSE 1 END AS brk
        |        FROM m),
        |grp AS (SELECT doc_id, pos,
        |               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                              ROWS UNBOUNDED PRECEDING) AS grp
        |        FROM isl),
        |spans AS (SELECT doc_id, min(pos) AS s0, max(pos) + 4 AS s1
        |          FROM grp GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, count(*) AS n_spans,
        |               CAST(sum(s1 - s0) AS BIGINT) AS dup_tokens
        |        FROM spans GROUP BY 1)
        |SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
        |       coalesce(a.n_spans, 0) AS n_spans,
        |       coalesce(a.dup_tokens, 0) AS dup_tokens,
        |       len(string_split(d.text, ' ')) - coalesce(a.dup_tokens, 0) AS clean_tokens
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // M28 overlapping token-window chunking (context-window prep): pure
    // narrow sequence/slice/array_join chain, zero shuffles.
    Q("q_chunk_docs",
      (s, d) => TextAnalysis.chunkDocuments(documents(s, d), chunkTokens = 16, overlap = 4),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w,
        |              len(string_split(text, ' ')) AS n
        |       FROM documents),
        |c AS (SELECT doc_id, w, n,
        |             unnest(range(0, greatest(1, (n - 4 + 11) // 12))) AS chunk_idx
        |      FROM w)
        |SELECT doc_id, chunk_idx,
        |       array_to_string(w[chunk_idx * 12 + 1 : chunk_idx * 12 + 16], ' ') AS chunk_text,
        |       least(16, n - chunk_idx * 12) AS chunk_tokens
        |FROM c""".stripMargin)),

    // M62 deterministic FIM splits (Bavarian et al. 2022): two
    // hash-derived cut points per doc → (prefix, middle, suffix) with
    // prefix++middle++suffix == text. Narrow, zero shuffles; both
    // engines replay the identical cut arithmetic.
    Q("q_fim_split",
      (s, d) => TextAnalysis.fimSplit(documents(s, d)),
      Some(s"""WITH c AS (SELECT doc_id, text,
        |             ${hashSqlOf("doc_id::VARCHAR || ':fim:a'")}
        |               % (length(text) + 1) AS c1,
        |             ${hashSqlOf("doc_id::VARCHAR || ':fim:b'")}
        |               % (length(text) + 1) AS c2
        |      FROM documents),
        |lh AS (SELECT doc_id, text, least(c1, c2) AS lo,
        |              greatest(c1, c2) AS hi
        |       FROM c)
        |SELECT doc_id,
        |       substring(text, 1, lo::INT) AS fim_prefix,
        |       substring(text, lo::INT + 1, (hi - lo)::INT) AS fim_middle,
        |       substring(text, hi::INT + 1,
        |                 (length(text) - hi)::INT) AS fim_suffix
        |FROM lh""".stripMargin)),

    // M59 content-defined chunking (FastCDC/rsync at word granularity):
    // boundaries where portableHash(word) % 8 == 0, so an inserted
    // prefix re-synchronizes at the next boundary — chunk-hash dedup
    // that survives shifts fixed windows cannot. Narrow per-row chain.
    Q("q_cdc_chunks",
      (s, d) => TextAnalysis.cdcChunks(documents(s, d), boundaryMod = 8),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |              len(string_split(text, ' ')) AS n
        |       FROM documents),
        |b AS (SELECT doc_id, w, n,
        |             list_filter(range(1, n + 1),
        |               i -> ${hashSqlOf("w[i]")} % 8 = 0) AS bp
        |      FROM t),
        |e AS (SELECT doc_id, w,
        |             CASE WHEN len(bp) > 0 AND bp[-1] = n THEN bp
        |                  ELSE list_append(bp, n::BIGINT) END AS ends
        |      FROM b),
        |x AS (SELECT doc_id, w, ends,
        |             unnest(range(1, len(ends) + 1)) AS k
        |      FROM e)
        |SELECT doc_id, k AS chunk_idx,
        |       array_to_string(
        |         w[(CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END):ends[k]],
        |         ' ') AS chunk_text,
        |       (ends[k] - (CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END)
        |         + 1)::BIGINT AS chunk_words
        |FROM x""".stripMargin)),

    // M59 companion: cross-document duplicate CDC chunks (the actual
    // shift-robust dedup signal) — one chunk-keyed aggregate.
    Q("q_cdc_chunk_dups",
      (s, d) => TextAnalysis.cdcChunkDups(documents(s, d),
        boundaryMod = 8, minDocs = 2),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |              len(string_split(text, ' ')) AS n
        |       FROM documents),
        |b AS (SELECT doc_id, w, n,
        |             list_filter(range(1, n + 1),
        |               i -> ${hashSqlOf("w[i]")} % 8 = 0) AS bp
        |      FROM t),
        |e AS (SELECT doc_id, w,
        |             CASE WHEN len(bp) > 0 AND bp[-1] = n THEN bp
        |                  ELSE list_append(bp, n::BIGINT) END AS ends
        |      FROM b),
        |x AS (SELECT doc_id, w, ends,
        |             unnest(range(1, len(ends) + 1)) AS k
        |      FROM e),
        |c AS (SELECT doc_id,
        |             array_to_string(
        |               w[(CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END):ends[k]],
        |               ' ') AS chunk_text
        |      FROM x)
        |SELECT chunk_text, count(*)::BIGINT AS n_occ,
        |       count(DISTINCT doc_id)::BIGINT AS n_docs
        |FROM c GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),

    Q("q_dedup_clusters",
      (s, d) => Clustering.dedupAssign(
        documents(s, d),
        Dedup.verifiedNearDups(s, documents(s, d),
          numHashes = 8, rowsPerBand = 2, threshold = 0.5)),
      Some(s"""WITH RECURSIVE $ShingleHashCte,
        |keys AS (SELECT doc_id, hash_id // 2 AS band,
        |                string_agg(hash_id || ':' || minhash, ',' ORDER BY hash_id) AS band_key
        |         FROM mh GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM keys a JOIN keys b
        |            ON a.band = b.band AND a.band_key = b.band_key
        |           AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cm AS (SELECT p.doc_a, p.doc_b, count(*) AS common
        |       FROM pairs p
        |       JOIN sh a ON a.doc_id = p.doc_a
        |       JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
        |       GROUP BY 1, 2),
        |vp AS (SELECT doc_a, doc_b
        |       FROM cm JOIN sz sa ON sa.doc_id = doc_a
        |               JOIN sz sb ON sb.doc_id = doc_b
        |       WHERE common / (sa.sz + sb.sz - common) >= 0.5),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
        |      UNION ALL SELECT doc_b, doc_a FROM vp),
        |r AS (SELECT src AS n, src AS l FROM e
        |      UNION
        |      SELECT e.dst, r.l FROM r JOIN e ON e.src = r.n),
        |cc AS (SELECT n AS doc_id, min(l) AS cluster_id FROM r GROUP BY 1),
        |asg AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
        |        FROM documents d LEFT JOIN cc USING (doc_id))
        |SELECT doc_id, cluster_id,
        |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |       CAST(doc_id = min(doc_id) OVER (PARTITION BY cluster_id) AS INT) AS keep
        |FROM asg""".stripMargin)),

    // M67 quality-aware canonical selection: same LSH→verify→CC chain,
    // but the kept member is the cluster argmax by (length, -doc_id) —
    // the C4/CCNet keep-longest policy — instead of min-id.
    Q("q_dedup_keep_best",
      (s, d) => Clustering.dedupAssignBy(
        documents(s, d),
        Dedup.verifiedNearDups(s, documents(s, d),
          numHashes = 8, rowsPerBand = 2, threshold = 0.5),
        documents(s, d).select(col("doc_id"),
          length(col("text")).cast("long").as("score"))),
      Some(s"""WITH RECURSIVE $ShingleHashCte,
        |keys AS (SELECT doc_id, hash_id // 2 AS band,
        |                string_agg(hash_id || ':' || minhash, ',' ORDER BY hash_id) AS band_key
        |         FROM mh GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM keys a JOIN keys b
        |            ON a.band = b.band AND a.band_key = b.band_key
        |           AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cm AS (SELECT p.doc_a, p.doc_b, count(*) AS common
        |       FROM pairs p
        |       JOIN sh a ON a.doc_id = p.doc_a
        |       JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
        |       GROUP BY 1, 2),
        |vp AS (SELECT doc_a, doc_b
        |       FROM cm JOIN sz sa ON sa.doc_id = doc_a
        |               JOIN sz sb ON sb.doc_id = doc_b
        |       WHERE common / (sa.sz + sb.sz - common) >= 0.5),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
        |      UNION ALL SELECT doc_b, doc_a FROM vp),
        |r AS (SELECT src AS n, src AS l FROM e
        |      UNION
        |      SELECT e.dst, r.l FROM r JOIN e ON e.src = r.n),
        |cc AS (SELECT n AS doc_id, min(l) AS cluster_id FROM r GROUP BY 1),
        |asg AS (SELECT d.doc_id, length(d.text)::BIGINT AS score,
        |               coalesce(cc.cluster_id, d.doc_id) AS cluster_id
        |        FROM documents d LEFT JOIN cc USING (doc_id)),
        |rk AS (SELECT doc_id, cluster_id,
        |              count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |              row_number() OVER (PARTITION BY cluster_id
        |                ORDER BY score DESC, doc_id) AS rk
        |       FROM asg)
        |SELECT doc_id, cluster_id, cluster_size,
        |       CAST(rk = 1 AS INT) AS keep
        |FROM rk""".stripMargin)),

    Q("q_quantize_embed",
      (s, d) => Similarity.quantizeInt8(embeddings(s, d)),
      Some(s"""WITH $QuantCte,
        |m AS (SELECT vec_id, v,
        |             list_max(list_transform(v, x -> abs(x))) AS maxabs0
        |      FROM q),
        |m2 AS (SELECT vec_id, v,
        |              CASE WHEN maxabs0 = 0 THEN 1.0 ELSE maxabs0 END AS maxabs
        |       FROM m),
        |qq AS (SELECT vec_id, v, maxabs,
        |              list_transform(v, x -> round(x * 127 / maxabs, 0)) AS qv
        |       FROM m2),
        |e AS (SELECT vec_id, maxabs,
        |             list_sum(list_transform(range(len(v)),
        |               i -> (v[i+1] * 127 - qv[i+1] * maxabs) *
        |                    (v[i+1] * 127 - qv[i+1] * maxabs))) AS err_num,
        |             list_dot_product(v, v) AS norm2
        |      FROM qq)
        |SELECT vec_id, CAST(maxabs AS BIGINT) AS max_abs,
        |       CAST(err_num AS BIGINT) AS sq_err_scaled,
        |       CASE WHEN norm2 = 0 THEN 0.0
        |            ELSE round(err_num / (norm2 * 16129), 9) END AS rel_err
        |FROM e""".stripMargin)),

    Q("q_random_project",
      (s, d) => Similarity.randomProject(s, embeddings(s, d), outDims = 8),
      Some(s"""WITH $QuantCte,
        |dims AS (SELECT CAST(j AS INTEGER) AS j FROM range(8) t(j)),
        |expl AS (SELECT vec_id, t.i, v[t.i + 1] AS x FROM q, range(0, 64) t(i))
        |SELECT vec_id, j,
        |       sum((CASE WHEN ((i * 131 + j * 137) % 97) % 2 = 0
        |                 THEN 1 ELSE -1 END) * x) AS value
        |FROM expl, dims GROUP BY 1, 2""".stripMargin)),

    // M30 semantic dedup (SemDeDup): coarse-quantizer assignment, then
    // within-cluster cosine pair-drop with the keep-min-id rule; the
    // oracle replays assignment + pair-drop relationally in DuckDB.
    Q("q_semantic_dedup",
      (s, d) => Similarity.semanticDedup(embeddings(s, d), threshold = 0.35, centroidMod = 97),
      Some(s"""WITH $QuantCte,
        |cents AS (SELECT vec_id AS centroid_id, v AS cv, list_dot_product(v, v) AS cn
        |          FROM q WHERE vec_id % 97 = 0),
        |vecs AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM q),
        |s0 AS (SELECT vec_id, centroid_id,
        |              round(list_dot_product(v, cv) / (sqrt(n) * sqrt(cn)), 6) AS cos_sim
        |       FROM vecs, cents),
        |assign AS (SELECT vec_id, centroid_id FROM (
        |             SELECT *, row_number() OVER (PARTITION BY vec_id
        |                          ORDER BY cos_sim DESC, centroid_id) AS rn
        |             FROM s0) WHERE rn = 1),
        |av AS (SELECT vec_id, centroid_id, v, n FROM assign JOIN vecs USING (vec_id)),
        |dropped AS (SELECT DISTINCT b.vec_id
        |            FROM av a JOIN av b ON a.centroid_id = b.centroid_id
        |                               AND a.vec_id < b.vec_id
        |            WHERE round(list_dot_product(a.v, b.v) /
        |                        (sqrt(a.n) * sqrt(b.n)), 6) >= 0.35)
        |SELECT av.vec_id, av.centroid_id,
        |       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
        |FROM av LEFT JOIN dropped d USING (vec_id)""".stripMargin)),

    Q("q_kmeans_step",
      (s, d) => Similarity.kmeansStep(embeddings(s, d), centroidMod = 97),
      Some(s"""WITH $QuantCte,
        |cents AS (SELECT vec_id AS centroid_id, v AS cv, list_dot_product(v, v) AS cn
        |          FROM q WHERE vec_id % 97 = 0),
        |vecs AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM q),
        |s0 AS (SELECT vec_id, centroid_id,
        |              round(list_dot_product(v, cv) / (sqrt(n) * sqrt(cn)), 6) AS cos_sim
        |       FROM vecs, cents),
        |assign AS (SELECT vec_id, centroid_id FROM (
        |             SELECT *, row_number() OVER (PARTITION BY vec_id
        |                          ORDER BY cos_sim DESC, centroid_id) AS rn
        |             FROM s0) WHERE rn = 1),
        |ex AS (SELECT vec_id, CAST(t.i AS INTEGER) AS dim, v[t.i + 1] AS x
        |       FROM q, range(0, 64) t(i))
        |SELECT a.centroid_id, ex.dim, count(*) AS n_members,
        |       round(sum(x) / count(*), 6) AS mean_x
        |FROM ex JOIN assign a USING (vec_id)
        |GROUP BY 1, 2""".stripMargin)),

    // M53 exact integer Gram/covariance matrix (PCA-whitening prep) —
    // d(d+1)/2 upper-triangle cells, all BIGINT-exact; the oracle
    // recomputes every cell from the quantized vectors.
    Q("q_embed_gram",
      (s, d) => Similarity.gramMatrix(embeddings(s, d)),
      Some("""WITH q AS (SELECT list_transform(embedding,
        |              x -> round(CAST(x AS DOUBLE) * 1000, 0)::BIGINT) AS v
        |            FROM embeddings),
        |ij AS (SELECT i.i AS i, j.j AS j
        |       FROM range(1, 65) i(i), range(1, 65) j(j) WHERE i.i <= j.j),
        |p AS (SELECT ij.i, ij.j, v[ij.i] * v[ij.j] AS prod,
        |             v[ij.i] AS vi, v[ij.j] AS vj
        |      FROM q, ij)
        |SELECT i, j, count(*)::BIGINT AS n, sum(prod)::BIGINT AS dot,
        |       sum(vi)::BIGINT AS s_i, sum(vj)::BIGINT AS s_j,
        |       (count(*) * sum(prod) - sum(vi) * sum(vj))::BIGINT AS cov_num
        |FROM p GROUP BY 1, 2""".stripMargin)),

    Q("q_ivf_assign",
      (s, d) => Similarity.ivfAssign(embeddings(s, d), centroidMod = 97),
      Some(s"""WITH $QuantCte,
        |cents AS (SELECT vec_id AS centroid_id, v AS cv, list_dot_product(v, v) AS cn
        |          FROM q WHERE vec_id % 97 = 0),
        |vecs AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM q),
        |s AS (SELECT vec_id, centroid_id,
        |             round(list_dot_product(v, cv) / (sqrt(n) * sqrt(cn)), 6) AS cos_sim
        |      FROM vecs, cents)
        |SELECT vec_id, centroid_id, cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY cos_sim DESC, centroid_id) AS rn
        |  FROM s)
        |WHERE rn = 1""".stripMargin)),

    // M68 secret scrub: credential-shaped tokens synthesized
    // deterministically onto the corpus (which itself carries none):
    // every 5th doc a base64-ish key (3-of-4-class rule), every 7th a
    // 40-char hex API key and every 11th a 64-char SHA-style token
    // (the hex disjunct — pure hex is only 2 char classes), every
    // 13th a low-diversity hex decoy ("deadbeef"x4, 5 distinct chars)
    // that must SURVIVE. The oracle replays the identical predicate
    // as DuckDB list lambdas.
    Q("q_secret_scrub",
      (s, d) => TextAnalysis.secretScrub(
        documents(s, d).select(col("doc_id"),
          concat(
            when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(" Key"),
                lpad(col("doc_id").cast("string"), 6, "0"),
                lit("AbCdEfGh1234XyZw")))
              .otherwise(col("text")),
            when(col("doc_id") % 7 === 1,
              concat(lit(" "), lpad(col("doc_id").cast("string"), 6, "0"),
                lit("abcdef0123456789abcdef0123456789ff")))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 3,
              concat(lit(" "), lpad(col("doc_id").cast("string"), 8, "0"),
                lit("fedcba9876543210fedcba9876543210fedcba9876543210fedcba98")))
              .otherwise(lit("")),
            when(col("doc_id") % 13 === 2,
              lit(" deadbeefdeadbeefdeadbeefdeadbeef"))
              .otherwise(lit(""))).as("text"))),
      Some("""WITH seeded AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 5 = 0
        |        THEN text || ' Key' || lpad(doc_id::VARCHAR, 6, '0') || 'AbCdEfGh1234XyZw'
        |        ELSE text END)
        |  || (CASE WHEN doc_id % 7 = 1
        |           THEN ' ' || lpad(doc_id::VARCHAR, 6, '0') || 'abcdef0123456789abcdef0123456789ff'
        |           ELSE '' END)
        |  || (CASE WHEN doc_id % 11 = 3
        |           THEN ' ' || lpad(doc_id::VARCHAR, 8, '0') || 'fedcba9876543210fedcba9876543210fedcba9876543210fedcba98'
        |           ELSE '' END)
        |  || (CASE WHEN doc_id % 13 = 2
        |           THEN ' deadbeefdeadbeefdeadbeefdeadbeef'
        |           ELSE '' END) AS text FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM seeded)
        |SELECT doc_id,
        |  array_to_string(list_transform(w, t ->
        |    CASE WHEN (length(t) >= 20
        |          AND regexp_matches(t, '^[A-Za-z0-9+/=_-]+$')
        |          AND len(list_distinct(string_split(t, ''))) >= 12
        |          AND (regexp_matches(t, '[a-z]')::INT + regexp_matches(t, '[A-Z]')::INT
        |               + regexp_matches(t, '[0-9]')::INT + regexp_matches(t, '[+/=_-]')::INT) >= 3)
        |         OR (regexp_matches(t, '^[0-9a-fA-F]{32,}$')
        |             AND len(list_distinct(string_split(t, ''))) >= 10)
        |         THEN '<SECRET>' ELSE t END), ' ') AS clean_text,
        |  len(list_filter(w, t ->
        |    (length(t) >= 20
        |     AND regexp_matches(t, '^[A-Za-z0-9+/=_-]+$')
        |     AND len(list_distinct(string_split(t, ''))) >= 12
        |     AND (regexp_matches(t, '[a-z]')::INT + regexp_matches(t, '[A-Z]')::INT
        |          + regexp_matches(t, '[0-9]')::INT + regexp_matches(t, '[+/=_-]')::INT) >= 3)
        |    OR (regexp_matches(t, '^[0-9a-fA-F]{32,}$')
        |        AND len(list_distinct(string_split(t, ''))) >= 10)))::BIGINT
        |    AS n_secrets
        |FROM tok""".stripMargin)),

    // M24 PII scrub: PII synthesized deterministically from doc_id (the
    // corpus itself is PII-free synthetic text) appended to each doc, so
    // the scrub chain sees real matches; the oracle reruns the identical
    // RE2-subset regex chain in DuckDB and compares per-type counts and
    // an md5 of the scrubbed text.
    Q("q_pii_scrub",
      (s, d) => {
        val pii = documents(s, d).withColumn("t",
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("+tag@example.com or +41791234567 at 10.0."),
            col("doc_id") % 256, lit(".7")))
        graft.text.PiiScrub.scrub(pii, "t")
          .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
            col("n_ips").cast("long").as("n_ips"),
            col("n_phones").cast("long").as("n_phones"),
            md5(col("clean")).as("clean_md5"))
      },
      Some("""WITH p AS (SELECT doc_id,
        |         text || ' contact user' || doc_id || '+tag@example.com or +41791234567 at 10.0.' || (doc_id % 256) || '.7' AS t
        |       FROM documents),
        |s1 AS (SELECT doc_id, t,
        |         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM p),
        |s2 AS (SELECT *, regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2 FROM s1),
        |s3 AS (SELECT *, regexp_replace(t2, '\+\d{9,15}', '<PHONE>', 'g') AS t3 FROM s2)
        |SELECT doc_id,
        |       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |       len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |       len(regexp_extract_all(t2, '\+\d{9,15}')) AS n_phones,
        |       md5(t3) AS clean_md5
        |FROM s3""".stripMargin)),

    // M25 canonical-URL dedup: crawl-style URL variants synthesized from
    // doc_id (scheme/host case, default port, tracking params, fragment,
    // param order); the Spark side canonicalizes through the regex/
    // split/sort chain, the oracle asserts the EXPECTED canonical string
    // closed-form — an end-to-end check of the canonicalizer, not a
    // re-implementation of it.
    Q("q_url_canonical",
      (s, d) => {
        val urls = documents(s, d).select(col("doc_id"),
          concat(
            when(col("doc_id") % 2 === 0, lit("HTTP://Example"))
              .otherwise(lit("http://example")),
            col("doc_id") % 5, lit(".COM"),
            when(col("doc_id") % 4 === 0, lit(":80")).otherwise(lit("")),
            lit("/p/"), col("doc_id") % 100,
            lit("?utm_source=x&b="), col("doc_id") % 3,
            lit("&a=1#frag")).as("url"))
        graft.text.UrlOps.dedupByCanonicalUrl(urls)
      },
      Some("""WITH u AS (SELECT doc_id,
        |         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://Example' ELSE 'http://example' END)
        |           || (doc_id % 5) || '.COM' || (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END)
        |           || '/p/' || (doc_id % 100) || '?utm_source=x&b=' || (doc_id % 3) || '&a=1#frag' AS url,
        |         'http://example' || (doc_id % 5) || '.com/p/' || (doc_id % 100)
        |           || '?a=1&b=' || (doc_id % 3) AS canonical_url
        |       FROM documents)
        |SELECT canonical_url, min(doc_id) AS keep_doc,
        |       count(*) AS n_docs, count(DISTINCT url) AS n_variants
        |FROM u GROUP BY 1""".stripMargin)),

    // M26 per-domain corpus stats over the same canonicalized URLs:
    // document count, unique canonical pages and total characters per
    // domain — the quality-rollup half of crawl curation.
    Q("q_domain_stats",
      (s, d) => {
        val urls = documents(s, d).select(col("doc_id"), col("n_chars"),
          concat(
            when(col("doc_id") % 2 === 0, lit("HTTP://Example"))
              .otherwise(lit("http://example")),
            col("doc_id") % 5, lit(".COM"),
            when(col("doc_id") % 4 === 0, lit(":80")).otherwise(lit("")),
            lit("/p/"), col("doc_id") % 100,
            lit("?utm_source=x&b="), col("doc_id") % 3,
            lit("&a=1#frag")).as("url"))
        graft.text.UrlOps.domainStats(urls)
      },
      Some("""WITH u AS (SELECT doc_id, n_chars,
        |         'example' || (doc_id % 5) || '.com' AS domain,
        |         'http://example' || (doc_id % 5) || '.com/p/' || (doc_id % 100)
        |           || '?a=1&b=' || (doc_id % 3) AS canonical_url
        |       FROM documents)
        |SELECT domain, count(*) AS n_docs, count(DISTINCT canonical_url) AS n_pages,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM u GROUP BY 1""".stripMargin)),

    // ---- M31: real BPE tokenizer (graft.text.Bpe) ----------------------
    // The train/encode/stats oracles below are CLOSED-FORM, hand-derived
    // from the Sennrich et al. 2016 §3.2 example corpus
    // {low:5, lower:2, newest:6, widest:3} under the library's
    // deterministic tie-break (highest pair count, then lexicographically
    // smallest pair) — independent oracles, not regression pins. The
    // derivation is spelled out merge-by-merge in BpeSpec.handMerges.
    Q("q_bpe_train",
      (s, _) => {
        val merges = graft.text.Bpe.train(bpeCorpus(s), "text", 10)
        s.createDataFrame(merges.zipWithIndex.map { case ((l, r), i) =>
          (i.toLong, l, r)
        }).toDF("mrank", "lhs", "rhs")
      },
      Some("""SELECT * FROM (VALUES
        |(0::BIGINT, 'e', 's'), (1::BIGINT, 'es', 't'),
        |(2::BIGINT, 'est', '</w>'), (3::BIGINT, 'l', 'o'),
        |(4::BIGINT, 'lo', 'w'), (5::BIGINT, 'e', 'w'),
        |(6::BIGINT, 'ew', 'est</w>'), (7::BIGINT, 'n', 'ewest</w>'),
        |(8::BIGINT, 'low', '</w>'), (9::BIGINT, 'd', 'est</w>')
        |) AS t(mrank, lhs, rhs)""".stripMargin)),

    Q("q_bpe_encode",
      (s, _) => {
        val docs = bpeCorpus(s)
        val merges = graft.text.Bpe.train(docs, "text", 10)
        docs.select(explode(graft.text.Bpe.encode(col("text"), merges)).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
      },
      Some("""SELECT * FROM (VALUES
        |('</w>', 2::BIGINT), ('dest</w>', 3::BIGINT), ('e', 2::BIGINT),
        |('i', 3::BIGINT), ('low', 2::BIGINT), ('low</w>', 5::BIGINT),
        |('newest</w>', 6::BIGINT), ('r', 2::BIGINT), ('w', 3::BIGINT)
        |) AS t(token, n)""".stripMargin)),

    Q("q_bpe_stats",
      (s, _) => {
        val docs = bpeCorpus(s)
        val merges = graft.text.Bpe.train(docs, "text", 10)
        graft.text.Bpe.tokenStats(docs, merges)
      },
      Some("""SELECT doc_id, n_bpe_tokens, n_chars,
        |       n_chars::DOUBLE / n_bpe_tokens AS chars_per_token
        |FROM (VALUES (0::BIGINT, 5::BIGINT, 19::BIGINT),
        |             (1::BIGINT, 8::BIGINT, 11::BIGINT),
        |             (2::BIGINT, 6::BIGINT, 41::BIGINT),
        |             (3::BIGINT, 9::BIGINT, 20::BIGINT)
        |) t(doc_id, n_bpe_tokens, n_chars)""".stripMargin)),

    // Round-trip on the real corpus at ANY scale factor: decode∘encode is
    // the identity on single-space-separated text whatever table was
    // learned, so the oracle needs no BPE at all — a genuinely
    // independent SQL check that the encoder is a lossless tokenization
    // of every document (merge-level values are gated by q_bpe_train/
    // q_bpe_encode above).
    Q("q_bpe_roundtrip",
      (s, d) => {
        val docs = documents(s, d)
        val merges = graft.text.Bpe.train(docs, "text", 32)
        docs.select(col("doc_id"),
          graft.text.Bpe.decode(
            graft.text.Bpe.encode(col("text"), merges)).as("decoded"))
      },
      Some("SELECT doc_id, text AS decoded FROM documents"))
  )

  // ---- M32–M34: model-based curation (graft.text.Curation, Sampling) --
  val curation: Seq[Q] = Seq(
    // M32 DSIR importance resampling: hashed unigram+bigram buckets,
    // integer-quantized importance weights (exact BIGINT doc sums →
    // order-independent across partitions and engines), target = the
    // English slice of the same corpus.
    Q("q_dsir_resample",
      (s, d) => {
        val docs = documents(s, d)
        graft.text.Curation.dsirScores(docs,
          docs.where(col("lang") === "en"), buckets = 1024)
      },
      Some(s"""WITH wd AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |ng AS (SELECT doc_id, lang, unnest(w) AS ngram FROM wd
        |       UNION ALL
        |       SELECT doc_id, lang,
        |              unnest(list_transform(range(0, greatest(0, len(w) - 1)),
        |                     i -> w[i+1] || ' ' || w[i+2])) AS ngram
        |       FROM wd),
        |b AS (SELECT doc_id, lang, ${hashSql("ngram")} % 1024 AS bucket FROM ng),
        |rc AS (SELECT bucket, count(*) AS cnt_r FROM b GROUP BY 1),
        |tc AS (SELECT bucket, count(*) AS cnt_t FROM b WHERE lang = 'en' GROUP BY 1),
        |tots AS (SELECT (SELECT count(*) FROM b) AS rt,
        |                (SELECT count(*) FROM b WHERE lang = 'en') AS tt),
        |wt AS (SELECT s.bucket,
        |         round(((coalesce(cnt_t, 0) + 1)::DOUBLE / (tt + 1024)::DOUBLE)
        |             / ((coalesce(cnt_r, 0) + 1)::DOUBLE / (rt + 1024)::DOUBLE)
        |             * 1000000.0::DOUBLE, 0)::BIGINT AS w
        |       FROM range(1024) s(bucket) CROSS JOIN tots
        |       LEFT JOIN tc ON s.bucket = tc.bucket
        |       LEFT JOIN rc ON s.bucket = rc.bucket),
        |sc AS (SELECT doc_id, count(*) AS n_grams, sum(wt.w) AS w_sum
        |       FROM b JOIN wt ON b.bucket = wt.bucket GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
        |       coalesce(w_sum, 0)::BIGINT AS w_sum,
        |       coalesce(w_sum::DOUBLE / n_grams, 0.0::DOUBLE) AS mean_w,
        |       coalesce(w_sum::DOUBLE / n_grams >= 1000000.0::DOUBLE, false) AS keep
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin)),

    // M33 linear quality classifier: fixed-order IEEE logit over
    // deterministic surface features; keep = logit > 0 (sigmoid is
    // monotone, so this IS the probability threshold, minus the libm
    // exp() portability hazard).
    Q("q_quality_classifier",
      (s, d) => graft.text.Curation.qualityClassifier(documents(s, d),
        Stopwords, wTtr = 2.0, wStop = -1.5, wLen = 0.25, wWords = 1.0,
        bias = -2.5),
      Some("""WITH f AS (SELECT doc_id, string_split(text, ' ') AS w,
        |              length(text)::DOUBLE AS nc FROM documents),
        |g AS (SELECT doc_id, len(w)::DOUBLE AS nw,
        |        len(list_distinct(w))::DOUBLE / len(w) AS ttr,
        |        len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x)))::DOUBLE
        |          / len(w) AS stop_ratio,
        |        (nc - len(w) + 1.0::DOUBLE) / len(w) AS mean_wlen
        |      FROM f)
        |SELECT doc_id, ttr, stop_ratio, mean_wlen,
        |       -2.5::DOUBLE + 2.0::DOUBLE * ttr + (-1.5::DOUBLE) * stop_ratio
        |         + 0.25::DOUBLE * mean_wlen
        |         + 1.0::DOUBLE * (least(nw, 64.0::DOUBLE) / 64.0::DOUBLE) AS logit,
        |       (-2.5::DOUBLE + 2.0::DOUBLE * ttr + (-1.5::DOUBLE) * stop_ratio
        |         + 0.25::DOUBLE * mean_wlen
        |         + 1.0::DOUBLE * (least(nw, 64.0::DOUBLE) / 64.0::DOUBLE)) > 0 AS keep
        |FROM g""".stripMargin)),

    // M40 Gopher-style rule flags: every heuristic is an auditable
    // integer column; keep = conjunction. All-rational arithmetic.
    Q("q_gopher_rules",
      (s, d) => graft.text.Curation.gopherRules(documents(s, d), Stopwords),
      Some("""WITH f AS (SELECT doc_id, text, string_split(text, ' ') AS w,
        |              len(string_split(text, ' '))::DOUBLE AS nw FROM documents),
        |g AS (SELECT doc_id, nw,
        |        (length(text)::DOUBLE - nw + 1.0::DOUBLE) / nw AS mean_wlen,
        |        list_max(list_transform(w, x -> length(x))) AS max_wlen,
        |        len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / nw AS alpha_frac,
        |        len(list_distinct(list_intersect(list_distinct(w),
        |            ['the','a','of','and','to','in']))) AS stop_hits,
        |        len(list_distinct(w))::DOUBLE / nw AS ttr,
        |        (len(regexp_extract_all(text, '#'))
        |          + len(regexp_extract_all(text, '\.\.\.')))::DOUBLE / nw AS symbol_ratio
        |      FROM f)
        |SELECT doc_id,
        |       CAST(nw >= 10 AND nw <= 100000 AS INT) AS r_word_count,
        |       CAST(mean_wlen >= 3.0 AND mean_wlen <= 10.0 AS INT) AS r_mean_wlen,
        |       CAST(max_wlen <= 20 AS INT) AS r_max_wlen,
        |       CAST(alpha_frac >= 0.8 AS INT) AS r_alpha,
        |       CAST(stop_hits >= 2 AS INT) AS r_stop,
        |       CAST(ttr >= 0.2 AS INT) AS r_ttr,
        |       CAST(symbol_ratio <= 0.1 AS INT) AS r_symbol,
        |       CAST(nw >= 10 AND nw <= 100000 AND mean_wlen >= 3.0
        |            AND mean_wlen <= 10.0 AND max_wlen <= 20
        |            AND alpha_frac >= 0.8 AND stop_hits >= 2
        |            AND ttr >= 0.2 AND symbol_ratio <= 0.1 AS INT) AS keep
        |FROM g""".stripMargin)),

    // M41 BM25 retrieval: broadcast query terms prune the token explode,
    // idf quantized to micro-units, contributions to nano-units so the
    // per-doc score is an exact BIGINT sum (order-independent).
    Q("q_bm25",
      (s, d) => graft.text.Bm25.search(s, documents(s, d), Bm25Queries),
      Some(Bm25Oracle)),

    // M41 persisted inverted index (the Lucene-shape serving artifact —
    // the r17 persisted-IVF+PQ story on the lexical leg): postings
    // range-clustered by term through the shared lifecycle, additive
    // (n, sum_dl) stats rows, df derived from the pruned postings at
    // serve time. searchPersisted scores with search()'s arithmetic bit
    // for bit (on the driver, or past its bound with the shared tail),
    // so the gate shares q_bm25's oracle verbatim.
    Q("q_bm25_persisted",
      (s, d) => {
        val dir = BuildPhase.timed {
          FixtureCache.pristine(s"bm25:full:$d") { p =>
            graft.text.Bm25.writeIndex(s, documents(s, d), s"$p/index",
              numFiles = 4)
          }
        }
        graft.text.Bm25.searchPersisted(s, s"$dir/index", Bm25Queries)
      },
      Some(Bm25Oracle)),

    // Incremental maintenance on the lexical index (the FAISS add()
    // contract, M70-style): build on a prefix, append the rest
    // shuffle-free (postings tail + one additive stats row), optimize
    // re-clusters the tail. The additive stats keep N/avgdl exact, so
    // the result is bit-identical to indexing the full corpus — the
    // oracle is q_bm25's, unchanged.
    Q("q_bm25_append",
      (s, d) => {
        val docs = documents(s, d)
        val dir = BuildPhase.timed {
          val c = FixtureCache.mutableCopy(s"bm25:lt250:$d", "bm25app") { p =>
            graft.text.Bm25.writeIndex(s, docs.where(col("doc_id") < 250),
              s"$p/index", numFiles = 4)
          }
          graft.text.Bm25.appendIndex(s, s"$c/index",
            docs.where(col("doc_id") >= 250))
          graft.text.Bm25.optimizeIndex(s, s"$c/index", numFiles = 2)
          c
        }
        graft.text.Bm25.searchPersisted(s, s"$dir/index", Bm25Queries)
      },
      Some(Bm25Oracle)),

    // Tombstone deletes on the lexical index: doc_id % 7 = 2 is
    // deleted (masked immediately; one NEGATIVE stats row keeps
    // N/avgdl exact, df self-corrects because it is counted over the
    // visible postings), then consolidate applies the tombstones
    // physically and retires them. Oracle = q_bm25's chain over the
    // corpus WITHOUT the deleted docs — persisted-after-delete must be
    // bit-identical to a rebuild without them.
    Q("q_bm25_delete",
      (s, d) => {
        val docs = documents(s, d)
        val dir = BuildPhase.timed {
          val c = FixtureCache.mutableCopy(s"bm25:full:$d", "bm25del") { p =>
            graft.text.Bm25.writeIndex(s, docs, s"$p/index", numFiles = 4)
          }
          graft.text.Bm25.deleteIndex(s, s"$c/index",
            docs.where(col("doc_id") % 7 === 2).select("doc_id"))
          graft.text.Bm25.consolidateIndex(s, s"$c/index", numFiles = 2)
          c
        }
        graft.text.Bm25.searchPersisted(s, s"$dir/index", Bm25Queries)
      },
      Some(Bm25Oracle.replace(
        "FROM documents)", "FROM documents WHERE doc_id % 7 <> 2)"))),

    // UPSERT on the lexical index (r19): the index is built over a
    // corpus whose doc_id % 9 == 4 rows carry STALE text, then the true
    // rows are upserted — delete-visible + physical rewrite + append,
    // the supported form of delete-then-re-add. The final index must be
    // bit-identical to one built over the true corpus, so the oracle is
    // q_bm25's, verbatim (additive stats subtract the stale rows and
    // add the true ones; df is counted over the visible postings).
    Q("q_bm25_upsert",
      (s, d) => {
        val docs = documents(s, d)
        val dir = BuildPhase.timed {
          val c = FixtureCache.mutableCopy(s"bm25:stale9:$d", "bm25ups") { p =>
            val stale = docs.withColumn("text",
              when(col("doc_id") % 9 === 4, lit("stale placeholder row"))
                .otherwise(col("text")))
            graft.text.Bm25.writeIndex(s, stale, s"$p/index", numFiles = 4)
          }
          graft.text.Bm25.upsertIndex(s, s"$c/index",
            docs.where(col("doc_id") % 9 === 4), numFiles = 2)
          c
        }
        graft.text.Bm25.searchPersisted(s, s"$dir/index", Bm25Queries)
      },
      Some(Bm25Oracle)),

    // M79 hybrid retrieval: BM25 (M41) + exact-cosine kNN (M5) legs
    // fused by reciprocal-rank fusion (Cormack 2009, K=60). Per-rank
    // contributions are quantized to integer nano-units so the fused
    // score is an exact BIGINT sum; the oracle replays both legs (the
    // q_bm25 and q_embed_knn CTE chains verbatim, capped at kEach=10)
    // and the same union→sum→rank fusion.
    Q("q_hybrid_rrf",
      (s, d) => ops.RankFusion.hybridSearch(s, documents(s, d),
        embeddings(s, d), Bm25Queries,
        kEach = 10, k = 5),
      Some(s"""WITH $QuantCte,
        |$Bm25LexLegCtes,
        |q2 AS (SELECT vec_id AS query_id, v AS qv, list_dot_product(v, v) AS qn
        |       FROM q WHERE vec_id < 4),
        |c2 AS (SELECT vec_id AS doc_id, v AS cv, list_dot_product(v, v) AS cn FROM q),
        |ks AS (SELECT query_id, doc_id,
        |              round(list_dot_product(qv, cv) / (sqrt(qn) * sqrt(cn)), 6) AS cos_sim
        |       FROM q2, c2 WHERE doc_id <> query_id),
        |semleg AS (SELECT query_id, doc_id, rank FROM (
        |             SELECT query_id, doc_id,
        |                    row_number() OVER (PARTITION BY query_id
        |                      ORDER BY cos_sim DESC, doc_id) AS rank
        |             FROM ks) WHERE rank <= 10),
        |$RrfTailSql""".stripMargin)),

    // M79 hybrid retrieval with the IVF+PQ semantic leg — the 100 TB
    // composition the fusion exists for: the ANN leg (coarse-pruned ADC
    // scan) swaps in verbatim for the exact kNN, fusion unchanged. The
    // oracle swaps the exact-cosine semleg for the shared IVF+PQ ADC
    // chain (nQueries=4) capped at rank <= 10.
    Q("q_hybrid_rrf_ann",
      (s, d) => ops.RankFusion.hybridSearchAnn(s, documents(s, d),
        embeddings(s, d), Bm25Queries,
        kEach = 10, k = 5),
      Some(HybridAnnOracle)),

    // The standalone-query form of the ANN hybrid (M79 + the M70 Q
    // API): query embeddings come from their OWN relation, freeing the
    // workload from the vec_id-prefix convention; excludeSelf = true
    // reproduces the prefix form on the fixture, so the oracle is
    // shared verbatim.
    Q("q_hybrid_rrf_ann_q",
      (s, d) => ops.RankFusion.hybridSearchAnnQ(s, documents(s, d),
        embeddings(s, d), Bm25Queries,
        embeddings(s, d).where(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding")),
        kEach = 10, k = 5, excludeSelf = true),
      Some(HybridAnnOracle)),

    // M79 hybrid retrieval served ENTIRELY from persisted artifacts —
    // the production serving stack: BM25 from its inverted index (scan
    // pruned to the query terms), ANN from the persisted IVF+PQ index
    // (scan pruned to the probed lists), standalone query embeddings,
    // RRF on top. Neither corpus relation is read at serve time. Both
    // persisted legs are pinned ≡ their in-plan forms by their own
    // gates, so this composition shares the in-plan hybrid's oracle.
    Q("q_hybrid_persisted",
      (s, d) => {
        val emb = embeddings(s, d)
        val (bm25Dir, annDir) = BuildPhase.timed {
          (FixtureCache.pristine(s"bm25:full:$d") { p =>
            graft.text.Bm25.writeIndex(s, documents(s, d), s"$p/index",
              numFiles = 4)
          },
            FixtureCache.pristine(s"ivfpq:subset:$d") { p =>
              Similarity.ivfPqWriteIndex(emb, s"$p/index", numFiles = 4,
                m = 8, dims = 64, centroidMod = 97, coarseMod = 83)
            })
        }
        ops.RankFusion.hybridSearchPersisted(s, s"$bm25Dir/index",
          s"$annDir/index",
          Bm25Queries,
          emb.where(col("vec_id") < 4)
            .select(col("vec_id").as("query_id"), col("embedding")),
          kEach = 10, k = 5, centroidMod = 97, nprobe = 2,
          excludeSelf = true)
      },
      Some(HybridAnnOracle)),

    // The fully-persisted hybrid with the EXACT-reranked semantic leg
    // (rerankR > 0): the production IVFPQ+refine retrieval stack —
    // ADC candidates from the pruned index scan, raw vectors from the
    // vecs refine relation, exact cosine ordering into the fusion.
    // The oracle swaps the ADC-ordered semleg for the refine chain.
    Q("q_hybrid_persisted_rerank",
      (s, d) => {
        val emb = embeddings(s, d)
        val (bm25Dir, annDir) = BuildPhase.timed {
          (FixtureCache.pristine(s"bm25:full:$d") { p =>
            graft.text.Bm25.writeIndex(s, documents(s, d), s"$p/index",
              numFiles = 4)
          },
            FixtureCache.pristine(s"ivfpq:subsetvecs:$d") { p =>
              Similarity.ivfPqWriteIndex(emb, s"$p/index", numFiles = 4,
                m = 8, dims = 64, centroidMod = 97, coarseMod = 83,
                storeVecs = true)
            })
        }
        ops.RankFusion.hybridSearchPersisted(s, s"$bm25Dir/index",
          s"$annDir/index",
          Bm25Queries,
          emb.where(col("vec_id") < 4)
            .select(col("vec_id").as("query_id"), col("embedding")),
          kEach = 10, k = 5, centroidMod = 97, nprobe = 2,
          excludeSelf = true, rerankR = 10)
      },
      Some(HybridRerankOracle)),

    // M36 deterministic shard shuffle: content-stable pseudo-random
    // permutation into training shards (one shuffle + per-shard sort).
    Q("q_shard_shuffle",
      (s, d) => ops.Sampling.shardShuffle(documents(s, d), nShards = 16),
      Some(s"""WITH k AS (SELECT doc_id, ${hashSql("'shuf' || doc_id")} AS shuffle_key
        |            FROM documents),
        |s AS (SELECT doc_id, shuffle_key, shuffle_key % 16 AS shard FROM k)
        |SELECT doc_id, shard,
        |       row_number() OVER (PARTITION BY shard
        |                          ORDER BY shuffle_key, doc_id)::BIGINT AS pos,
        |       shuffle_key
        |FROM s""".stripMargin)),

    // M35 Aho-Corasick blocklist filter: every-end-position match
    // semantics replayed by the oracle as a literal position scan per
    // pattern (overlapping included) — no regex semantics to diverge on.
    Q("q_blocklist",
      (s, d) => TextAnalysis.blocklistFilter(documents(s, d),
        Seq("slow", "agg row", "spark")),
      Some {
        def cnt(p: String) =
          s"len(list_filter(range(1, length(text) - ${p.length} + 2), " +
            s"i -> text[i:i+${p.length - 1}] = '$p'))"
        val (c1, c2, c3) = (cnt("slow"), cnt("agg row"), cnt("spark"))
        s"""WITH m AS (SELECT doc_id, $c1 AS c1, $c2 AS c2, $c3 AS c3
          |           FROM documents)
          |SELECT doc_id, (c1 + c2 + c3)::BIGINT AS n_matches,
          |       ((c1 > 0)::INT + (c2 > 0)::INT + (c3 > 0)::INT)::BIGINT AS n_patterns,
          |       (c1 + c2 + c3) >= 1 AS blocked
          |FROM m""".stripMargin
      }),

    // M34 domain-reweighted mix: dyadic target shares over the lang
    // column, whole-epoch upsampling + slot-sampled fractional epoch —
    // the oracle recomputes the per-domain epoch plan from scratch.
    Q("q_domain_mix",
      (s, d) => ops.Sampling.domainMix(documents(s, d), "lang", Map(
        "en" -> 0.5, "de" -> 0.125, "es" -> 0.125, "fr" -> 0.125,
        "zh" -> 0.125)),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT sum(n)::DOUBLE AS tot FROM c),
        |e AS (SELECT lang, n,
        |        (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.125
        |                   WHEN 'es' THEN 0.125 WHEN 'fr' THEN 0.125
        |                   WHEN 'zh' THEN 0.125 ELSE 0.0 END)::DOUBLE
        |          * tot / n AS ep
        |      FROM c CROSS JOIN t),
        |ec AS (SELECT lang, floor(ep)::BIGINT AS copies,
        |         floor((ep - floor(ep)) * 1000003.0::DOUBLE)::BIGINT AS thresh
        |       FROM e),
        |k AS (SELECT doc_id, d.lang,
        |        copies + CASE WHEN ((doc_id % 1000003) * 48271) % 1000003 < thresh
        |                      THEN 1 ELSE 0 END AS n_copies
        |      FROM documents d JOIN ec ON d.lang = ec.lang)
        |SELECT doc_id, lang, unnest(range(n_copies)) AS epoch
        |FROM k WHERE n_copies > 0""".stripMargin))
  )

  /** Crawl ingestion (M37 WARC reader) and HTML extraction (M38):
    * WARC → HTML → main text, the front end of the 100 TB pipeline
    * whose downstream stages (lang-id, quality, dedup) are M1-M36. */
  // ---- M48+: training-corpus packaging / modeling ops ----------------
  val training: Seq[Q] = Seq(
    // M48 WebDataset tar shards: full write→read ROUNDTRIP through real
    // POSIX tar bytes (sinks/TarShards) — docs staged as .txt + .json
    // sample pairs into 8 deterministic shards, read back via binaryFile,
    // entries re-parsed and re-joined per sample. The oracle recomputes
    // every aggregate straight from the source table, so any header,
    // padding, ordering, or payload corruption in the container breaks
    // the hash match.
    Q("q_webdataset",
      (s, d) => {
        val staged = documents(s, d).select(
          (col("doc_id") % 8).cast("int").as("shard"),
          format_string("%08d", col("doc_id")).as("key"),
          map(
            lit("json"), encode(to_json(struct(col("doc_id"), col("lang"))), "UTF-8"),
            lit("txt"), encode(col("text"), "UTF-8")).as("files"))
        val dir = TempDirs.create("wds")
        graft.sinks.TarShards.writeShards(s, staged, dir)
        val back = graft.sinks.TarShards.readShards(s, dir)
        // reassemble each sample with ONE (shard,key)-keyed aggregate (a
        // conditional pivot) instead of a txt⋈json self-join — half the
        // exchanges, and the partial agg starts map-side per shard task
        val samples = back
          .groupBy("shard", "key")
          .agg(
            max(when(col("ext") === "txt",
              length(decode(col("content"), "UTF-8")))).as("chars"),
            max(when(col("ext") === "json",
              get_json_object(decode(col("content"), "UTF-8"), "$.doc_id")
                .cast("long"))).as("jid"),
            max(when(col("ext") === "json",
              get_json_object(decode(col("content"), "UTF-8"), "$.lang")))
              .as("lang"))
        samples.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("chars").as("chars"),
            sum("jid").as("sum_id"), countDistinct("lang").as("n_langs"))
      },
      Some("""SELECT (doc_id % 8)::INT AS shard, count(*) AS n_docs,
        |       sum(length(text))::BIGINT AS chars,
        |       sum(doc_id)::BIGINT AS sum_id,
        |       count(DISTINCT lang)::BIGINT AS n_langs
        |FROM documents GROUP BY 1""".stripMargin)),

    // M48 streaming twin: the same shard fleet consumed through
    // Structured Streaming (binaryFile file-source, one incremental
    // unit per shard) via the SAMPLE-level reader — reassembly happens
    // inside the tar parse (adjacent-entry grouping), so the query
    // needs exactly ONE streaming aggregation. Same oracle as the
    // batch roundtrip, so the incremental parse is hash-verified
    // against it.
    Q("q_stream_shards",
      (s, d) => {
        val staged = documents(s, d).select(
          (col("doc_id") % 8).cast("int").as("shard"),
          format_string("%08d", col("doc_id")).as("key"),
          map(
            lit("json"), encode(to_json(struct(col("doc_id"), col("lang"))), "UTF-8"),
            lit("txt"), encode(col("text"), "UTF-8")).as("files"))
        val dir = TempDirs.create("wdss")
        graft.sinks.TarShards.writeShards(s, staged, dir)
        val samples = graft.sinks.TarShards.streamSamples(s, dir)
          .select(col("shard"),
            length(decode(element_at(col("files"), "txt"), "UTF-8")).as("chars"),
            get_json_object(decode(element_at(col("files"), "json"), "UTF-8"),
              "$.doc_id").cast("long").as("jid"),
            get_json_object(decode(element_at(col("files"), "json"), "UTF-8"),
              "$.lang").as("lang"))
        // countDistinct is unsupported on streams: max(lang) stands in
        val agg = samples.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("chars").as("chars"),
            sum("jid").as("sum_id"), max("lang").as("max_lang"))
        val mem = "stream_shards_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = graft.streaming.StreamingOps.startSized(s) {
          agg.writeStream
            .outputMode("complete").format("memory").queryName(mem).start()
        }
        try { q.processAllAvailable() } finally { q.stop() }
        s.table(mem)
      },
      Some("""SELECT (doc_id % 8)::INT AS shard, count(*) AS n_docs,
        |       sum(length(text))::BIGINT AS chars,
        |       sum(doc_id)::BIGINT AS sum_id,
        |       max(lang) AS max_lang
        |FROM documents GROUP BY 1""".stripMargin)),

    // M58 containment detection (doc-inside-doc — high containment,
    // low resemblance; Broder 1997's distinction): winnowing
    // fingerprints, df-capped, fingerprint-keyed join, per-pair
    // |∩|/|FP(inner)|. Oracle replays the winnowing pipeline (the
    // q_winnowing CTE) plus the same cap/ratio algebra.
    Q("q_containment",
      (s, d) => Dedup.containmentPairs(
        documents(s, d), n = 3, w = 4,
        minContainment = 0.8, maxDocFreq = 1000L),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(generate_series(0, len(w) - 3)) AS pos0, w
        |         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |         WHERE len(w) >= 3),
        |g AS (SELECT doc_id, CAST(pos0 AS INT) AS pos,
        |             ${hashSql("(w[pos0 + 1] || ' ' || w[pos0 + 2] || ' ' || w[pos0 + 3])")} AS h
        |      FROM tok),
        |kk AS (SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS key FROM g),
        |mm AS (SELECT doc_id, pos,
        |             min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS kmin,
        |             count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n_grams
        |      FROM kk),
        |fpd AS (SELECT DISTINCT doc_id, kmin // 1048576 AS fingerprint
        |        FROM mm WHERE n_grams = 4),
        |rare AS (SELECT fingerprint FROM (
        |          SELECT fingerprint, count(*) AS df FROM fpd GROUP BY 1)
        |         WHERE df <= 1000),
        |fpf AS (SELECT fpd.doc_id, fpd.fingerprint
        |        FROM fpd JOIN rare USING (fingerprint)),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS n_fp FROM fpf GROUP BY 1),
        |sh AS (SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc,
        |              count(*)::BIGINT AS shared
        |       FROM fpf a JOIN fpf b
        |         ON a.fingerprint = b.fingerprint AND a.doc_id <> b.doc_id
        |       GROUP BY 1, 2)
        |SELECT inner_doc, outer_doc, shared,
        |       si.n_fp AS n_inner, so.n_fp AS n_outer,
        |       shared::DOUBLE / si.n_fp AS containment
        |FROM sh JOIN sz si ON si.doc_id = inner_doc
        |        JOIN sz so ON so.doc_id = outer_doc
        |WHERE shared::DOUBLE / si.n_fp >= 0.8 AND si.n_fp <= so.n_fp""".stripMargin)),

    // M57 streaming heavy hitters (Misra–Gries bounded state): the
    // documents stream's token frequencies through hash-sharded
    // capacity-capped counter maps. Gate regime: capacity ≥ distinct
    // tokens → exact counts, hash-verified vs the batch count oracle;
    // the capped/decrement regime is spec-tested.
    Q("q_stream_heavy_hitters",
      (s, d) => {
        val schema = Tables.table(s, d, "documents").schema
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(d)
        val hh = graft.streaming.StreamingOps.heavyHitterStream(
          stream, shards = 16, capacity = 100000, minCount = 20L)
        val mem = "stream_hh_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = graft.streaming.StreamingOps.startSized(s) {
          hh.toDF().writeStream
            .outputMode("update").format("memory").queryName(mem).start()
        }
        try { q.processAllAvailable() } finally { q.stop() }
        s.table(mem).select("shard", "token", "cnt")
      },
      Some(s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
        |            FROM documents),
        |c AS (SELECT token, count(*)::BIGINT AS cnt FROM t GROUP BY 1)
        |SELECT (${hashSql("token")} % 16)::BIGINT AS shard, token, cnt
        |FROM c WHERE cnt >= 20""".stripMargin)),

    // M49 Naive Bayes TRAINED in-engine (text/NaiveBayes): Laplace-
    // smoothed multinomial NB over whitespace tokens, lang as the class,
    // trained on the even-doc slice, applied to all. The oracle replays
    // counting, µ-unit ln quantization, smoothing floor, priors, and the
    // tie-broken argmax step for step in SQL.
    Q("q_naive_bayes",
      (s, d) => graft.text.NaiveBayes.trainPredict(
        documents(s, d), labelCol = "lang", trainMod = 2),
      Some("""WITH tok AS (SELECT doc_id, lang AS true_label,
        |              unnest(string_split(text, ' ')) AS tok FROM documents),
        |tr AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
        |ctc AS (SELECT true_label AS cls, tok, count(*)::BIGINT AS ctc
        |        FROM tr GROUP BY 1, 2),
        |tot AS (SELECT true_label AS cls, count(*)::BIGINT AS tot
        |        FROM tr GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok)::BIGINT AS v FROM tr),
        |pd AS (SELECT lang AS cls, count(*)::BIGINT AS nd
        |       FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |nd AS (SELECT sum(nd)::BIGINT AS n FROM pd),
        |pri AS (SELECT cls,
        |          round(ln(nd::DOUBLE / n) * 1000000.0)::BIGINT AS prior_micro
        |        FROM pd, nd),
        |wt AS (SELECT cls, tok,
        |         round(ln((ctc + 1)::DOUBLE / (tot + v)) * 1000000.0)::BIGINT AS w
        |       FROM ctc JOIN tot USING (cls), v),
        |df AS (SELECT cls,
        |         round(ln(1.0::DOUBLE / (tot + v)) * 1000000.0)::BIGINT AS dflt
        |       FROM tot, v),
        |sc AS (SELECT t.doc_id, t.true_label, c.cls,
        |              sum(coalesce(w.w, df.dflt))::BIGINT AS like_micro,
        |              count(*)::BIGINT AS n_toks
        |       FROM tok t
        |       CROSS JOIN (SELECT cls FROM tot) c
        |       LEFT JOIN wt w ON w.cls = c.cls AND w.tok = t.tok
        |       JOIN df ON df.cls = c.cls
        |       GROUP BY 1, 2, 3),
        |fin AS (SELECT doc_id, true_label, sc.cls,
        |               like_micro + prior_micro AS score_micro, n_toks,
        |               row_number() OVER (PARTITION BY doc_id
        |                 ORDER BY like_micro + prior_micro DESC, sc.cls) AS rk
        |        FROM sc JOIN pri ON pri.cls = sc.cls)
        |SELECT doc_id, true_label, cls AS pred, score_micro, n_toks,
        |       (cls = true_label)::INT AS correct
        |FROM fin WHERE rk = 1""".stripMargin)),

    // M50 leakage-safe holdout: folds assigned per near-dup CLUSTER
    // (LSH→verify→CC, the q_dedup_clusters pipeline) so a near-duplicate
    // of an eval doc can never sit in train. Oracle = the recursive-CTE
    // CC replay + the same cluster-slot fold rule.
    Q("q_leakage_split",
      (s, d) => ops.Sampling.leakageSafeSplit(
        documents(s, d),
        Dedup.verifiedNearDups(s, documents(s, d),
          numHashes = 8, rowsPerBand = 2, threshold = 0.5),
        trainPct = 80, valPct = 10),
      Some(s"""WITH RECURSIVE $ShingleHashCte,
        |keys AS (SELECT doc_id, hash_id // 2 AS band,
        |                string_agg(hash_id || ':' || minhash, ',' ORDER BY hash_id) AS band_key
        |         FROM mh GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM keys a JOIN keys b
        |            ON a.band = b.band AND a.band_key = b.band_key
        |           AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cm AS (SELECT p.doc_a, p.doc_b, count(*) AS common
        |       FROM pairs p
        |       JOIN sh a ON a.doc_id = p.doc_a
        |       JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
        |       GROUP BY 1, 2),
        |vp AS (SELECT doc_a, doc_b
        |       FROM cm JOIN sz sa ON sa.doc_id = doc_a
        |               JOIN sz sb ON sb.doc_id = doc_b
        |       WHERE common / (sa.sz + sb.sz - common) >= 0.5),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
        |      UNION ALL SELECT doc_b, doc_a FROM vp),
        |r AS (SELECT src AS n, src AS l FROM e
        |      UNION
        |      SELECT e.dst, r.l FROM r JOIN e ON e.src = r.n),
        |cc AS (SELECT n AS doc_id, min(l) AS cluster_id FROM r GROUP BY 1),
        |st AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cc GROUP BY 1),
        |asg AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
        |               coalesce(st.cluster_size, 1)::BIGINT AS cluster_size
        |        FROM documents d LEFT JOIN cc USING (doc_id)
        |                         LEFT JOIN st ON st.cluster_id = cc.cluster_id)
        |SELECT doc_id, cluster_id, cluster_size,
        |       CASE WHEN cluster_id % 100 < 80 THEN 'train'
        |            WHEN cluster_id % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM asg""".stripMargin)),

    // M56 edit-distance fuzzy dedup (Ed-Join, VLDB 2008) over the
    // 24-char doc prefix. At gate scale the DEFAULT call takes the
    // adaptive driver brute-force path (distinct keys ≪ docs); the
    // _dist twin forces the distributed gram pipeline (distinct-key
    // gram index, frequency-ordered q·k+1 rare-gram prefixes — no
    // false negatives within distance k — occupancy-capped equi-join
    // with lossless residual, levenshtein verify, doc expansion), so
    // BOTH paths stay oracle-verified. The oracle is the BRUTE-FORCE
    // truth (all pairs, DuckDB levenshtein) — the strongest possible
    // check of the no-false-negative guarantee.
    Q("q_fuzzy_neardup",
      (s, d) => Dedup.editDistanceNearDups(
        documents(s, d), prefixChars = 24, k = 2),
      Some("""WITH keys AS (SELECT doc_id, text[1:24] AS key FROM documents
        |             WHERE length(text[1:24]) >= 5)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       a.key AS key_a, b.key AS key_b,
        |       levenshtein(a.key, b.key)::INT AS dist
        |FROM keys a JOIN keys b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.key) - length(b.key)) <= 2
        |  AND levenshtein(a.key, b.key) <= 2""".stripMargin)),

    Q("q_fuzzy_neardup_dist",
      (s, d) => Dedup.editDistanceNearDups(
        documents(s, d), prefixChars = 24, k = 2, driverKeyLimit = 0L),
      Some("""WITH keys AS (SELECT doc_id, text[1:24] AS key FROM documents
        |             WHERE length(text[1:24]) >= 5)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       a.key AS key_a, b.key AS key_b,
        |       levenshtein(a.key, b.key)::INT AS dist
        |FROM keys a JOIN keys b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.key) - length(b.key)) <= 2
        |  AND levenshtein(a.key, b.key) <= 2""".stripMargin)),

    // M55 PSI drift monitor between snapshots (even vs odd docs as the
    // stand-in for corpus-vs-refresh), bucketed by word-count decile;
    // per-bucket contributions µ-quantized → exact BIGINTs both engines.
    // M63 corpus snapshot diff (dataset versioning): synthetic old/new
    // snapshots derived from documents (removals via doc_id % 5,
    // additions via % 7, edits via % 11) through one full-outer
    // doc_id join; statuses and lengths are engine-exact.
    Q("q_snapshot_diff",
      (s, d) => {
        val base = documents(s, d)
        val oldSnap = base.select(col("doc_id"), col("text"))
          .where(col("doc_id") % 7 =!= 3)
        val newSnap = base.where(col("doc_id") % 5 =!= 2)
          .select(col("doc_id"),
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        ops.CorpusStats.snapshotDiff(oldSnap, newSnap)
      },
      Some("""WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
        |nw AS (SELECT doc_id,
        |              CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
        |                   ELSE text END AS text
        |       FROM documents WHERE doc_id % 5 <> 2)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.text <> n.text THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       coalesce(length(o.text), -1)::BIGINT AS old_len,
        |       coalesce(length(n.text), -1)::BIGINT AS new_len
        |FROM old o FULL JOIN nw n ON o.doc_id = n.doc_id""".stripMargin)),

    // M64 mergeable cardinality sketches (DataSketches HLL): per
    // event_type, exact distinct users vs the sharded-then-merged HLL
    // estimate. The oracle computes the exact count and asserts the two
    // CONTRACT flags as literals — Spark must deliver merge consistency
    // (register-max union is grouping-independent, so it is exactly
    // true) and the ≤5% error bound, or the hash breaks.
    Q("q_hll_cardinality",
      (s, d) => ops.Sketches.cardinalityReport(
        events(s, d), "event_type", "user_id", lgK = 14),
      Some("""SELECT event_type,
        |       count(DISTINCT user_id::VARCHAR)::BIGINT AS exact_distinct,
        |       true AS merge_consistent,
        |       true AS within_bound
        |FROM events GROUP BY 1""".stripMargin)),

    // M66 streaming distinct-key monitor: per-shard HLL sketch state in
    // flatMapGroupsWithState over the streamed events table. Gate
    // regime: tens of keys per shard keep the sketch in its exact
    // coupon mode, so the running estimate IS the exact per-shard
    // distinct count the oracle computes (estimation-regime error is
    // B29's REQUIRE on the batch path sharing the sketch type).
    Q("q_stream_cardinality",
      (s, d) => {
        val schema = Tables.table(s, d, "events").schema
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
        val card = graft.streaming.StreamingOps.cardinalityStream(
          stream, "user_id", shards = 16, lgK = 14)
        val mem = "stream_card_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = graft.streaming.StreamingOps.startSized(s) {
          card.toDF().writeStream
            .outputMode("update").format("memory").queryName(mem).start()
        }
        try { q.processAllAvailable() } finally { q.stop() }
        // Dataset analysis is eager, so the result keeps its reference
        // to the memory sink after the catalog entry is dropped —
        // without the drop, repeated runs in one session accumulate
        // uuid-named cached memory-sink tables.
        val out = s.table(mem).groupBy("shard")
          .agg(max("est_distinct").as("est_distinct"))
        s.catalog.dropTempView(mem)
        out
      },
      Some(s"""WITH k AS (SELECT DISTINCT user_id::VARCHAR AS k FROM events)
        |SELECT (${hashSql("k")} % 16)::BIGINT AS shard,
        |       count(*)::BIGINT AS est_distinct
        |FROM k GROUP BY 1""".stripMargin)),

    // M78 streaming frequency monitor: per-shard count-min counter
    // state in flatMapGroupsWithState over the streamed events table.
    // CMS counters are LINEAR, so the final per-shard states summed
    // cell-by-cell must equal the batch sketch of the same rows
    // bit-for-bit — the oracle replays the batch CMS build directly
    // (stream ≡ batch, with no estimation regime to carve out). Cell
    // counts only grow, so "final state" is the element-wise max over
    // the update-mode emissions.
    Q("q_stream_frequency",
      (s, d) => {
        val schema = Tables.table(s, d, "events").schema
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
        val freq = graft.streaming.StreamingOps.frequencyStream(
          stream, "user_id", shards = 16, depth = 4, width = 256)
        val mem = "stream_freq_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = graft.streaming.StreamingOps.startSized(s) {
          freq.toDF().writeStream
            .outputMode("update").format("memory").queryName(mem).start()
        }
        try { q.processAllAvailable() } finally { q.stop() }
        val out = s.table(mem)
          .select(col("shard"), posexplode(col("counters")).as(Seq("pos", "n")))
          .groupBy("shard", "pos").agg(max("n").as("n"))
          .groupBy("pos").agg(sum("n").as("n"))
          .where(col("n") > 0)
          .select(
            expr("CAST(pos div 256 AS INT)").as("r"),
            expr("CAST(pos % 256 AS BIGINT)").as("c"),
            col("n"))
        s.catalog.dropTempView(mem)
        out
      },
      Some(s"""WITH base AS (SELECT user_id::VARCHAR AS k FROM events)
        |SELECT r::INT AS r,
        |       ${hashSql("(r::VARCHAR || ':' || k)")} % 256 AS c,
        |       count(*)::BIGINT AS n
        |FROM base, range(4) t(r) GROUP BY 1, 2""".stripMargin)),

    // M74 stream-STREAM interval join (click attribution): views and
    // clicks arrive as two live streams; each click joins same-user
    // views at most 1 hour older. Watermark + the event-time interval
    // bound the join state (the scale property); inner join ⇒ the
    // emitted rows are EXACTLY the batch join, which the oracle replays
    // as a plain DuckDB join on identical microsecond arithmetic.
    Q("q_stream_attribution",
      (s, d) => {
        val schema = Tables.table(s, d, "events").schema
        def stream = Tables.normalizeEventTs(s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d))
        val out = graft.streaming.StreamingOps.attributionJoin(
          stream.where(col("event_type") === "view"),
          stream.where(col("event_type") === "click"))
        val mem = "stream_attr_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        // A stream-stream join runs 4 state-store instances PER shuffle
        // partition, and each micro-batch commits all of them — fixed
        // cost scales with partitions, not data (measured 9.8 s at 32
        // partitions vs 2.7 s at 4 on identical input). Size partitions
        // to the buffered-state volume: 8 here; a real deployment
        // raises it with horizon × arrival rate. The setting is
        // captured at query START (offset log), so the finally-restore
        // cannot affect the running query.
        val q = graft.streaming.StreamingOps.startSized(s) {
          out.writeStream
            .outputMode("append").format("memory").queryName(mem).start()
        }
        try { q.processAllAvailable() } finally { q.stop() }
        val res = s.table(mem).select(
          col("user_id"), col("view_id"), col("click_id"), col("delay_us"))
        s.catalog.dropTempView(mem)
        res
      },
      Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |       (epoch_us(c.ts) - epoch_us(v.ts))::BIGINT AS delay_us
        |FROM events v JOIN events c ON v.user_id = c.user_id
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR""".stripMargin)),

    // M65 corpus release manifest: content-stable shards, order-
    // independent additive checksum — every column exact BIGINT
    // arithmetic both engines replay (hash CTE = the shared portable
    // hash rendering).
    Q("q_release_manifest",
      (s, d) => ops.CorpusStats.releaseManifest(documents(s, d)),
      Some(s"""WITH h AS (SELECT doc_id, text, ${hashSql("text")} AS hv FROM documents)
        |SELECT hv % 8 AS shard,
        |       count(*)::BIGINT AS n_docs,
        |       sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
        |       sum(length(text))::BIGINT AS n_chars,
        |       sum(hv)::BIGINT AS checksum,
        |       min(doc_id)::BIGINT AS min_doc_id,
        |       max(doc_id)::BIGINT AS max_doc_id
        |FROM h GROUP BY 1""".stripMargin)),

    Q("q_psi_drift",
      (s, d) => ops.CorpusStats.psiDrift(
        documents(s, d).where(col("doc_id") % 2 === 0),
        documents(s, d).where(col("doc_id") % 2 === 1),
        "least(size(split(text, ' ')) div 10, 9)"),
      Some("""WITH a AS (SELECT least(len(string_split(text, ' ')) // 10, 9)::BIGINT AS bucket,
        |              count(*)::BIGINT AS n_a
        |       FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |b AS (SELECT least(len(string_split(text, ' ')) // 10, 9)::BIGINT AS bucket,
        |             count(*)::BIGINT AS n_b
        |      FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
        |j AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
        |             coalesce(n_a, 0)::BIGINT AS n_a,
        |             coalesce(n_b, 0)::BIGINT AS n_b
        |      FROM a FULL JOIN b ON a.bucket = b.bucket),
        |t AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b, count(*) AS k FROM j)
        |SELECT bucket, n_a, n_b,
        |       round(((n_a + 1)::DOUBLE / (tot_a + k)
        |                - (n_b + 1)::DOUBLE / (tot_b + k))
        |             * ln(((n_a + 1)::DOUBLE / (tot_a + k))
        |                  / ((n_b + 1)::DOUBLE / (tot_b + k)))
        |             * 1000000.0)::BIGINT AS psi_contrib_micro
        |FROM j, t""".stripMargin)),

    // M54 token-budget apportionment (largest-remainder): a 1,000,003-
    // token mix over dyadic lang shares — base floors, the 2 leftover
    // tokens land on the largest remainders (en's .5, then the
    // frac-tie broken by domain name). Oracle replays floor/remainder
    // arithmetic with ::DOUBLE weights so both engines stay IEEE-exact.
    Q("q_token_budget",
      (s, d) => ops.Sampling.tokenBudget(documents(s, d), "lang", Map(
        "en" -> 0.5, "de" -> 0.125, "es" -> 0.125, "fr" -> 0.125,
        "zh" -> 0.125), budget = 1000003L),
      Some("""WITH a AS (SELECT lang, sum(len(string_split(text, ' ')))::BIGINT AS avail
        |           FROM documents GROUP BY 1),
        |w(lang, w) AS (VALUES ('en', 0.5::DOUBLE), ('de', 0.125::DOUBLE),
        |  ('es', 0.125::DOUBLE), ('fr', 0.125::DOUBLE), ('zh', 0.125::DOUBLE)),
        |b AS (SELECT a.lang, avail, floor(w * 1000003)::BIGINT AS base,
        |             w * 1000003 - floor(w * 1000003) AS frac
        |      FROM a JOIN w ON a.lang = w.lang),
        |l AS (SELECT 1000003 - sum(base) AS leftover FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY frac DESC, lang) AS rk FROM b)
        |SELECT lang, avail AS avail_tokens,
        |       (base + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END)::BIGINT AS budget_tokens,
        |       ((base + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END) * 1000
        |         // avail)::BIGINT AS epochs_millis
        |FROM r, l""".stripMargin)),

    // M60 temperature-scaled multilingual sampling (α = 1/2, the
    // mBERT/XLM-R rebalancing): per-language token counts →
    // z = round(sqrt(n)·10⁶) (IEEE sqrt: bit-equal in both engines),
    // then two integer largest-remainder apportionments — shares out of
    // 10⁶, then the 1,000,003-token budget from the shares. Every
    // number in the result is a BIGINT both engines compute identically.
    Q("q_temperature_mix",
      (s, d) => ops.Sampling.temperatureShares(
        documents(s, d), "lang", budget = 1000003L),
      Some("""WITH a AS (SELECT lang, sum(len(string_split(text, ' ')))::BIGINT AS avail_tokens
        |           FROM documents GROUP BY 1),
        |z AS (SELECT lang, avail_tokens,
        |             CAST(round(sqrt(avail_tokens::DOUBLE) * 1000000.0) AS BIGINT) AS z_micro
        |      FROM a),
        |t AS (SELECT sum(z_micro)::BIGINT AS s_tot FROM z),
        |sa AS (SELECT lang, avail_tokens, z_micro,
        |              (1000000 * z_micro) // s_tot AS base_a,
        |              (1000000 * z_micro) % s_tot AS rem_a
        |       FROM z, t),
        |la AS (SELECT (1000000 - sum(base_a))::BIGINT AS left_a FROM sa),
        |ra AS (SELECT *, row_number() OVER (ORDER BY rem_a DESC, lang) AS rk_a FROM sa),
        |s2 AS (SELECT lang, avail_tokens,
        |              (base_a + CASE WHEN rk_a <= (SELECT left_a FROM la)
        |                             THEN 1 ELSE 0 END)::BIGINT AS share_micro
        |       FROM ra),
        |sb AS (SELECT lang, avail_tokens, share_micro,
        |              (1000003 * share_micro) // 1000000 AS base_b,
        |              (1000003 * share_micro) % 1000000 AS rem_b
        |       FROM s2),
        |lb AS (SELECT (1000003 - sum(base_b))::BIGINT AS left_b FROM sb),
        |rb AS (SELECT *, row_number() OVER (ORDER BY rem_b DESC, lang) AS rk_b FROM sb)
        |SELECT lang, avail_tokens, share_micro,
        |       (base_b + CASE WHEN rk_b <= (SELECT left_b FROM lb)
        |                      THEN 1 ELSE 0 END)::BIGINT AS budget_tokens
        |FROM rb""".stripMargin)),

    // M52 robots.txt policy filter (RFC 9309): REAL parser over five
    // inline robots bodies (exact-agent groups, * fallback, multi-UA
    // groups, wildcard + $ anchor, allow/disallow tie), longest-match
    // rule evaluation over corpus URLs. The oracle receives the
    // EXPECTED post-parse rules as literals and replays the LIKE match
    // + integer-encoded argmax — so a parser regression breaks the
    // hash gate.
    Q("q_robots_filter",
      (s, d) => {
        val bodies = Seq(
          "example0.com" ->
            "User-agent: graftbot\nDisallow: /p/\nAllow: /p/1",
          "example1.com" ->
            "# site-wide\nUser-agent: *\nDisallow: /p/*3$\nCrawl-delay: 10",
          "example2.com" ->
            ("User-agent: graftbot\nUser-agent: otherbot\n" +
              "Disallow: /p/\nAllow: /p/2\nDisallow: /p/2"),
          "example3.com" -> "User-agent: evilbot\nDisallow: /",
          "example4.com" ->
            "User-agent: *\nDisallow: /\n\nUser-agent: newsbot\nAllow: /")
        val rules = graft.text.Robots.rulesTable(s, bodies, "GraftBot")
        val urls = documents(s, d).select(col("doc_id"),
          concat(lit("http://example"), col("doc_id") % 5, lit(".com/p/"),
            expr("(doc_id div 5) % 100")).as("url"))
        graft.text.Robots.filterUrls(urls, rules)
      },
      Some("""WITH u AS (SELECT doc_id,
        |         'http://example' || (doc_id % 5) || '.com/p/' || ((doc_id // 5) % 100) AS url,
        |         'example' || (doc_id % 5) || '.com' AS domain,
        |         '/p/' || ((doc_id // 5) % 100) AS path
        |       FROM documents),
        |r(domain, pattern, rule_len, allow) AS (VALUES
        |  ('example0.com', '/p/%', 3, 0), ('example0.com', '/p/1%', 4, 1),
        |  ('example1.com', '/p/%3', 5, 0),
        |  ('example2.com', '/p/%', 3, 0), ('example2.com', '/p/2%', 4, 1),
        |  ('example2.com', '/p/2%', 4, 0),
        |  ('example4.com', '/%', 1, 0)),
        |m AS (SELECT u.doc_id, u.url, u.domain, u.path,
        |        max(CASE WHEN u.path LIKE r.pattern
        |            THEN r.rule_len * 2 + r.allow END) AS best
        |      FROM u LEFT JOIN r ON u.domain = r.domain
        |      GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, url, domain, path,
        |       coalesce(best // 2, -1)::BIGINT AS best_len,
        |       coalesce(best % 2, 1)::INT AS allowed
        |FROM m""".stripMargin))
  )

  val crawl: Seq[Q] = Seq(

    // html_strip over synthesized markup on the documents table — the
    // oracle replays the documented fixed pipeline (comment/script/
    // style removal, tag strip, 6 entity decodes, whitespace collapse)
    // step for step in ANSI SQL.
    Q("q_html_strip",
      (s, dir) => {
        val html = concat(
          lit("<html><head><title>D&amp;C "), col("doc_id"),
          lit("</title><style>p{x:1}</style></head><body><!-- b --><h1>Doc &#39;"),
          col("doc_id"),
          lit("&#39;</h1><p>"), col("text"),
          lit("</p><script>var a=1<2;</script>" +
            "<div>&nbsp;tail&quot;q&quot;</div></body></html>"))
        documents(s, dir)
          .select(col("doc_id"),
            graft.text.HtmlExtract.htmlStrip(html).as("clean"))
      },
      Some("""WITH h AS (SELECT doc_id,
        |  '<html><head><title>D&amp;C ' || doc_id ||
        |  '</title><style>p{x:1}</style></head><body><!-- b --><h1>Doc &#39;'
        |  || doc_id || '&#39;</h1><p>' || text ||
        |  '</p><script>var a=1<2;</script><div>&nbsp;tail&quot;q&quot;</div></body></html>'
        |    AS html FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
        |            '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        |          '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),
        |      '&nbsp;',' '),'&amp;','&'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM h""".stripMargin)),

    // html_main_text with a CLOSED-FORM oracle: the markup is
    // constructed so the boilerplate outcome is knowable without a
    // parser — nav (density 1) and footer (7/12 > 1/3) drop, heading
    // and body keep — and the oracle computes the kept text and all
    // four counters directly from `text`.
    Q("q_html_main",
      (s, dir) => {
        val html = concat(
          lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
            "<h1>Doc "), col("doc_id"),
          lit("</h1><p>"), col("text"),
          lit("</p><div class=\"f\"><a href=\"/i\">Imprint</a> legal</div>"))
        documents(s, dir)
          .select(col("doc_id"),
            graft.text.HtmlExtract.htmlMainText(html).as("m"))
          .select(col("doc_id"), col("m.text").as("main_text"),
            col("m.n_blocks").cast("long").as("n_blocks"),
            col("m.n_kept").cast("long").as("n_kept"),
            col("m.n_chars").cast("long").as("n_chars"),
            col("m.n_link_chars").cast("long").as("n_link_chars"))
      },
      Some("""SELECT doc_id,
        |  'Doc ' || doc_id || chr(10) || text AS main_text,
        |  4::BIGINT AS n_blocks, 2::BIGINT AS n_kept,
        |  (3 + length(doc_id::VARCHAR) + length(replace(text,' ','')))::BIGINT
        |    AS n_chars,
        |  16::BIGINT AS n_link_chars
        |FROM documents""".stripMargin)),

    // M71 theta-sketch set operations: per-source THETA sketches over
    // the token vocabulary, then pairwise union/intersection/difference
    // estimates from the SKETCHES (the corpus is scanned once; the 190
    // pair set-ops run on kilobyte artifacts). Gate regime: ~31 distinct
    // tokens per source at lgK 14 keeps every sketch exact (theta = 1),
    // so the estimates ARE the true counts the oracle computes, and
    // estimation_mode is pinned false as a contract literal.
    Q("q_theta_overlap",
      (s, d) => ops.Sketches.thetaSetReport(
        documents(s, d).select(col("source"),
          explode(split(col("text"), " ")).as("w")),
        "source", "w", lgK = 14),
      Some("""WITH tok AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |p AS (SELECT a.source AS split_a, b.source AS split_b
        |      FROM (SELECT DISTINCT source FROM documents) a
        |      JOIN (SELECT DISTINCT source FROM documents) b
        |        ON a.source < b.source),
        |j AS (SELECT p.split_a, p.split_b, t.w,
        |             max(CASE WHEN t.source = p.split_a THEN 1 ELSE 0 END) AS in_a,
        |             max(CASE WHEN t.source = p.split_b THEN 1 ELSE 0 END) AS in_b
        |      FROM p JOIN tok t ON t.source IN (p.split_a, p.split_b)
        |      GROUP BY 1, 2, 3)
        |SELECT split_a, split_b,
        |       count(*)::BIGINT AS est_union,
        |       sum(in_a * in_b)::BIGINT AS est_intersect,
        |       sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)::BIGINT
        |         AS est_only_a,
        |       false AS estimation_mode
        |FROM j GROUP BY 1, 2""".stripMargin)),

    // M73 classifier evaluation, AUC side: exact Mann–Whitney AUC (with
    // tie correction) of a length-derived score against the lang=en
    // label — ONE corpus aggregate to #scores rows, then metadata-sized
    // windows. auc_num/auc_den are exact BIGINTs both engines replay;
    // the rounded division is IEEE-identical on identical operands.
    Q("q_classifier_auc",
      (s, d) => ops.Evaluation.aucExact(
        documents(s, d).select(
          expr("length(text) div 20").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y")),
        "score", "y"),
      Some("""WITH s AS (SELECT length(text) // 20 AS score,
        |              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |       FROM documents),
        |g AS (SELECT score, sum(y)::BIGINT AS pos, sum(1 - y)::BIGINT AS neg
        |      FROM s GROUP BY 1),
        |c AS (SELECT *, coalesce(sum(neg) OVER (ORDER BY score
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
        |      FROM g),
        |t AS (SELECT sum(pos)::BIGINT AS p_all, sum(neg)::BIGINT AS n_all FROM g)
        |SELECT sum(2 * pos * cnb + pos * neg)::BIGINT AS auc_num,
        |       (2 * p_all * n_all)::BIGINT AS auc_den,
        |       p_all AS n_pos, n_all AS n_neg,
        |       round(sum(2 * pos * cnb + pos * neg) / (2.0 * p_all * n_all), 6)
        |         AS auc
        |FROM c, t GROUP BY p_all, n_all""".stripMargin)),

    // M73 threshold sweep: per distinct score t, the confusion counts
    // for "keep iff score >= t" plus exact-division precision / recall /
    // F1 (F1 in its 2TP/(2TP+FP+FN) single-division form). The corpus is
    // touched once; every operating point is a filter on this table.
    Q("q_threshold_sweep",
      (s, d) => ops.Evaluation.thresholdSweep(
        documents(s, d).select(
          expr("length(text) div 20").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y")),
        "score", "y"),
      Some("""WITH s AS (SELECT length(text) // 20 AS score,
        |              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |       FROM documents),
        |g AS (SELECT score, sum(y)::BIGINT AS pos, sum(1 - y)::BIGINT AS neg
        |      FROM s GROUP BY 1),
        |c AS (SELECT *,
        |             sum(pos) OVER (ORDER BY score DESC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |             sum(neg) OVER (ORDER BY score DESC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
        |             sum(pos) OVER () AS p_all, sum(neg) OVER () AS n_all
        |      FROM g)
        |SELECT score AS threshold, tp::BIGINT AS tp, fp::BIGINT AS fp,
        |       (p_all - tp)::BIGINT AS fn, (n_all - fp)::BIGINT AS tn,
        |       round(tp / (tp + fp), 6) AS precision,
        |       round(tp / p_all, 6) AS recall,
        |       round(2 * tp / (2 * tp + fp + p_all - tp), 6) AS f1
        |FROM c""".stripMargin)),

    // M70 product quantization, encode side: each 64-dim vector's 8
    // subvectors assigned to the nearest deterministic codebook entry
    // (exact integer squared L2 = n − 2·dot + cn, tie on centroid_id).
    // Gate emits the codes EXPLODED to scalar rows; the engine API
    // keeps the m-code array (the 32×-compressed corpus artifact).
    Q("q_pq_encode",
      (s, d) => Similarity.pqEncode(embeddings(s, d), m = 8, dims = 64,
        centroidMod = 97)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .withColumn("sub", col("sub").cast("long")),
      Some(s"""WITH $QuantCte,
        |subs AS (SELECT vec_id, s, list_slice(v, s*8+1, s*8+8) AS vs
        |         FROM q, range(8) t(s)),
        |cents AS (SELECT vec_id AS centroid_id, s,
        |                 list_slice(v, s*8+1, s*8+8) AS cs
        |          FROM q, range(8) t(s) WHERE vec_id % 97 = 0),
        |d2 AS (SELECT subs.vec_id, subs.s, centroid_id,
        |              list_dot_product(vs, vs) - 2*list_dot_product(vs, cs)
        |                + list_dot_product(cs, cs) AS d2
        |       FROM subs JOIN cents ON subs.s = cents.s)
        |SELECT vec_id, s AS sub, centroid_id AS code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, s
        |               ORDER BY d2, centroid_id) AS rn
        |  FROM d2)
        |WHERE rn = 1""".stripMargin)),

    // M70 PQ/ADC search: queries rank the ENCODED corpus through a
    // broadcast (query, sub, centroid) lookup table — distance estimate
    // = m-term BIGINT sum of table entries, raw corpus vectors never
    // touched. Oracle replays the LUT join + sum exactly.
    Q("q_pq_search",
      (s, d) => Similarity.pqSearch(embeddings(s, d), nQueries = 20, k = 5,
        m = 8, dims = 64, centroidMod = 97),
      Some(s"""WITH $QuantCte,
        |subs AS (SELECT vec_id, s, list_slice(v, s*8+1, s*8+8) AS vs
        |         FROM q, range(8) t(s)),
        |cents AS (SELECT vec_id AS centroid_id, s,
        |                 list_slice(v, s*8+1, s*8+8) AS cs
        |          FROM q, range(8) t(s) WHERE vec_id % 97 = 0),
        |d2 AS (SELECT subs.vec_id, subs.s, centroid_id,
        |              list_dot_product(vs, vs) - 2*list_dot_product(vs, cs)
        |                + list_dot_product(cs, cs) AS d2
        |       FROM subs JOIN cents ON subs.s = cents.s),
        |codes AS (SELECT vec_id, s, centroid_id AS code FROM (
        |            SELECT *, row_number() OVER (PARTITION BY vec_id, s
        |                         ORDER BY d2, centroid_id) AS rn
        |            FROM d2)
        |          WHERE rn = 1),
        |lut AS (SELECT subs.vec_id AS query_id, subs.s, centroid_id,
        |               list_dot_product(vs, vs) - 2*list_dot_product(vs, cs)
        |                 + list_dot_product(cs, cs) AS pd
        |        FROM subs JOIN cents ON subs.s = cents.s
        |        WHERE subs.vec_id < 20),
        |adc AS (SELECT query_id, c.vec_id AS neighbor_id,
        |               CAST(sum(pd) AS BIGINT) AS adc_dist
        |        FROM codes c JOIN lut
        |          ON c.s = lut.s AND c.code = lut.centroid_id
        |        WHERE c.vec_id <> lut.query_id
        |        GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, rank, adc_dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |               ORDER BY adc_dist, neighbor_id) AS rank
        |  FROM adc)
        |WHERE rank <= 5""".stripMargin)),

    // M70 composed IVF+PQ (FAISS IVFPQ, by_residual=false): coarse
    // pruning BEFORE the ADC scan — each query probes its nprobe=2
    // nearest coarse lists (vec_id % 83 centroids) and only vectors
    // assigned to those lists are ADC-scored, so the scanned fraction
    // is ~nprobe/nlists instead of pqSearch's full linear scan. Oracle
    // replays probe selection + the LUT sum restricted to probed lists.
    Q("q_ivfpq_search",
      (s, d) => Similarity.ivfPqSearch(embeddings(s, d), nQueries = 20,
        k = 5, m = 8, dims = 64, centroidMod = 97, coarseMod = 83,
        nprobe = 2),
      Some(s"""WITH $QuantCte,
        |$IvfPqAdcCtes
        |SELECT query_id, neighbor_id, rank, adc_dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |               ORDER BY adc_dist, neighbor_id) AS rank
        |  FROM adc)
        |WHERE rank <= 5""".stripMargin)),

    // M70 IVF+PQ over a PERSISTED index: identical search semantics to
    // q_ivfpq_search (same probes, LUTs, ADC arithmetic — the oracle IS
    // q_ivfpq_search's), but the corpus side reads the parquet index
    // written by ivfPqWriteIndex range-clustered by list_id, with the
    // probed-list IN predicate pushed to the scan — the storage shape
    // that turns coarse pruning into bytes NOT read (ScaleBench B43
    // REQUIREs the scan-level row count at 1M vectors).
    Q("q_ivfpq_persisted",
      (s, d) => {
        val dir = BuildPhase.timed {
          FixtureCache.pristine(s"ivfpq:subset:$d") { p =>
            Similarity.ivfPqWriteIndex(embeddings(s, d), s"$p/index",
              numFiles = 4, m = 8, dims = 64, centroidMod = 97, coarseMod = 83)
          }
        }
        Similarity.ivfPqSearchPersisted(s, s"$dir/index", embeddings(s, d),
          nQueries = 20, k = 5, m = 8, dims = 64, centroidMod = 97,
          nprobe = 2)
      },
      Some(s"""WITH $QuantCte,
        |$IvfPqAdcCtes
        |SELECT query_id, neighbor_id, rank, adc_dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |               ORDER BY adc_dist, neighbor_id) AS rank
        |  FROM adc)
        |WHERE rank <= 5""".stripMargin)),

    // M70 Lloyd-TRAINED PQ codebooks at fixed ksub (FAISS trains
    // ksub=256 by k-means, Jégou 2011 §III.A — the subset codebook's
    // ksub = N/centroidMod grows with the corpus; training makes it
    // scale-invariant). Deterministic end-to-end: init = subvectors of
    // the ksub smallest training vec_ids, 2 Lloyd rounds of assign
    // (exact integer d², tie → lower index) + update (per-dim mean
    // rounded to integer; empty clusters keep their centroid), then the
    // full corpus encoded against the trained books. The oracle replays
    // init → (assign → update) × 2 → encode; every intermediate stays
    // integer-valued so both engines agree bit-for-bit.
    Q("q_pq_trained",
      (s, d) => Similarity.pqEncodeTrained(embeddings(s, d), m = 8,
        dims = 64, ksub = 4, iters = 2, trainMod = 7)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .withColumn("sub", col("sub").cast("long")),
      Some(s"""WITH $QuantCte,
        |tr AS (SELECT vec_id, v FROM q WHERE vec_id % 7 = 0),
        |init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v
        |         FROM tr ORDER BY vec_id LIMIT 4),
        |cb0 AS (SELECT ci, s, list_slice(v, s*8+1, s*8+8) AS cs
        |        FROM init, range(8) t(s)),
        |tsub AS (SELECT vec_id, s, list_slice(v, s*8+1, s*8+8) AS vs
        |         FROM tr, range(8) t(s)),
        |a1 AS (SELECT vec_id, s, ci FROM (
        |         SELECT tsub.vec_id, tsub.s, cb0.ci,
        |                row_number() OVER (PARTITION BY tsub.vec_id, tsub.s
        |                  ORDER BY list_dot_product(vs, vs)
        |                    - 2*list_dot_product(vs, cs)
        |                    + list_dot_product(cs, cs), ci) AS rn
        |         FROM tsub JOIN cb0 ON tsub.s = cb0.s) WHERE rn = 1),
        |u1 AS (SELECT a1.s, a1.ci, t.d,
        |              round(sum(vs[t.d + 1]) / count(*), 0) AS cx
        |       FROM a1 JOIN tsub ON a1.vec_id = tsub.vec_id
        |                        AND a1.s = tsub.s
        |       CROSS JOIN range(8) t(d)
        |       GROUP BY 1, 2, 3),
        |cb1e AS (SELECT cb0.ci, cb0.s, d.d,
        |                coalesce(u1.cx, cs[d.d + 1]) AS cx
        |         FROM cb0 CROSS JOIN range(8) d(d)
        |         LEFT JOIN u1 ON u1.s = cb0.s AND u1.ci = cb0.ci
        |                     AND u1.d = d.d),
        |cb1 AS (SELECT ci, s, list(cx ORDER BY d) AS cs
        |        FROM cb1e GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, s, ci FROM (
        |         SELECT tsub.vec_id, tsub.s, cb1.ci,
        |                row_number() OVER (PARTITION BY tsub.vec_id, tsub.s
        |                  ORDER BY list_dot_product(vs, vs)
        |                    - 2*list_dot_product(vs, cs)
        |                    + list_dot_product(cs, cs), ci) AS rn
        |         FROM tsub JOIN cb1 ON tsub.s = cb1.s) WHERE rn = 1),
        |u2 AS (SELECT a2.s, a2.ci, t.d,
        |              round(sum(vs[t.d + 1]) / count(*), 0) AS cx
        |       FROM a2 JOIN tsub ON a2.vec_id = tsub.vec_id
        |                        AND a2.s = tsub.s
        |       CROSS JOIN range(8) t(d)
        |       GROUP BY 1, 2, 3),
        |cb2e AS (SELECT cb1.ci, cb1.s, d.d,
        |                coalesce(u2.cx, cs[d.d + 1]) AS cx
        |         FROM cb1 CROSS JOIN range(8) d(d)
        |         LEFT JOIN u2 ON u2.s = cb1.s AND u2.ci = cb1.ci
        |                     AND u2.d = d.d),
        |cb2 AS (SELECT ci, s, list(cx ORDER BY d) AS cs
        |        FROM cb2e GROUP BY 1, 2),
        |subs AS (SELECT vec_id, s, list_slice(v, s*8+1, s*8+8) AS vs
        |         FROM q, range(8) t(s))
        |SELECT vec_id, s AS sub, ci AS code FROM (
        |  SELECT subs.vec_id, subs.s, cb2.ci,
        |         row_number() OVER (PARTITION BY subs.vec_id, subs.s
        |           ORDER BY list_dot_product(vs, vs)
        |             - 2*list_dot_product(vs, cs)
        |             + list_dot_product(cs, cs), ci) AS rn
        |  FROM subs JOIN cb2 ON subs.s = cb2.s)
        |WHERE rn = 1""".stripMargin)),

    // M5/M70 Lloyd-TRAINED coarse quantizer at fixed nlists — the other
    // half of the index made scale-invariant (ivfAssign's nlists =
    // N/coarseMod grows with the corpus; FAISS trains a fixed nlists by
    // k-means). Assignment is max rounded cosine, and cosine is
    // invariant to centroid scaling, so the plain mean update IS
    // spherical k-means. Oracle replays init → (assign → update) × 2 →
    // full-corpus assignment; same determinism contract as q_pq_trained
    // (smallest-train-ids init, integer-rounded means, 6 dp cosine,
    // ties to the lower list index).
    Q("q_ivf_trained",
      (s, d) => Similarity.ivfAssignTrained(embeddings(s, d), dims = 64,
        nlists = 4, iters = 2, trainMod = 7),
      Some(s"""WITH $QuantCte,
        |tr AS (SELECT vec_id, v FROM q WHERE vec_id % 7 = 0),
        |init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS li, v AS cv
        |         FROM tr ORDER BY vec_id LIMIT 4),
        |cb0 AS (SELECT li, cv, list_dot_product(cv, cv) AS cn FROM init),
        |tn AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM tr),
        |a1 AS (SELECT vec_id, li FROM (
        |         SELECT tn.vec_id, cb0.li,
        |                row_number() OVER (PARTITION BY tn.vec_id
        |                  ORDER BY round(list_dot_product(v, cv)
        |                    / (sqrt(n) * sqrt(cn)), 6) DESC, li) AS rn
        |         FROM tn, cb0) WHERE rn = 1),
        |u1 AS (SELECT a1.li, t.d, round(sum(v[t.d + 1]) / count(*), 0) AS cx
        |       FROM a1 JOIN tr ON a1.vec_id = tr.vec_id
        |       CROSS JOIN range(64) t(d)
        |       GROUP BY 1, 2),
        |cb1e AS (SELECT cb0.li, d.d, coalesce(u1.cx, cv[d.d + 1]) AS cx
        |         FROM cb0 CROSS JOIN range(64) d(d)
        |         LEFT JOIN u1 ON u1.li = cb0.li AND u1.d = d.d),
        |cb1l AS (SELECT li, list(cx ORDER BY d) AS cv FROM cb1e GROUP BY 1),
        |cb1 AS (SELECT li, cv, list_dot_product(cv, cv) AS cn FROM cb1l),
        |a2 AS (SELECT vec_id, li FROM (
        |         SELECT tn.vec_id, cb1.li,
        |                row_number() OVER (PARTITION BY tn.vec_id
        |                  ORDER BY round(list_dot_product(v, cv)
        |                    / (sqrt(n) * sqrt(cn)), 6) DESC, li) AS rn
        |         FROM tn, cb1) WHERE rn = 1),
        |u2 AS (SELECT a2.li, t.d, round(sum(v[t.d + 1]) / count(*), 0) AS cx
        |       FROM a2 JOIN tr ON a2.vec_id = tr.vec_id
        |       CROSS JOIN range(64) t(d)
        |       GROUP BY 1, 2),
        |cb2e AS (SELECT cb1.li, d.d, coalesce(u2.cx, cv[d.d + 1]) AS cx
        |         FROM cb1 CROSS JOIN range(64) d(d)
        |         LEFT JOIN u2 ON u2.li = cb1.li AND u2.d = d.d),
        |cb2l AS (SELECT li, list(cx ORDER BY d) AS cv FROM cb2e GROUP BY 1),
        |cb2 AS (SELECT li, cv, list_dot_product(cv, cv) AS cn FROM cb2l),
        |qn AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM q)
        |SELECT vec_id, li AS list_id FROM (
        |  SELECT qn.vec_id, cb2.li,
        |         row_number() OVER (PARTITION BY qn.vec_id
        |           ORDER BY round(list_dot_product(v, cv)
        |             / (sqrt(n) * sqrt(cn)), 6) DESC, li) AS rn
        |  FROM qn, cb2) WHERE rn = 1""".stripMargin)),

    // M70 FULLY-trained IVF+PQ: both index halves trained at fixed size
    // (coarse nlists=4 AND PQ ksub=4, one Lloyd round each) — the
    // complete FAISS IVFPQ training recipe, by_residual=false. The
    // oracle replays coarse training + corpus assignment, PQ training +
    // corpus encode, probe selection over the TRAINED lists, the
    // trained-book LUT, and the ADC sum restricted to probed lists.
    Q("q_ivfpq_trained",
      (s, d) => Similarity.ivfPqSearchTrainedFull(embeddings(s, d),
        nQueries = 20, k = 5, m = 8, dims = 64, ksub = 4, nlists = 4,
        iters = 1, trainMod = 7, nprobe = 2),
      Some(IvfPqTrainedOracle)),

    // The same FULLY-trained search over a PERSISTED trained index
    // (ivfPqWriteIndexTrained -> ivfPqSearchPersisted at centroidMod=1:
    // trained codes are codebook indices, so the LUT divisor is 1).
    // Same oracle by construction - what changes is WHERE the index
    // relations come from (parquet, probed-list IN pushed to the scan),
    // never the arithmetic.
    Q("q_ivfpq_trained_persisted",
      (s, d) => {
        val dir = BuildPhase.timed {
          FixtureCache.pristine(s"ivfpq:trained:$d") { p =>
            Similarity.ivfPqWriteIndexTrained(embeddings(s, d), s"$p/index",
              numFiles = 4, m = 8, dims = 64, ksub = 4, nlists = 4,
              iters = 1, trainMod = 7)
          }
        }
        Similarity.ivfPqSearchPersisted(s, s"$dir/index", embeddings(s, d),
          nQueries = 20, k = 5, m = 8, dims = 64, centroidMod = 1,
          nprobe = 2)
      },
      Some(IvfPqTrainedOracle)),

    // INCREMENTAL index maintenance (the FAISS add() contract): the
    // index is trained and written from vec_id < 400 only; the rest of
    // the corpus is APPENDED with the frozen codebooks/centroids (no
    // retraining), the tail OPTIMIZEd into a clustered generation, and
    // the search runs over the whole lifecycle table. The oracle is the
    // trained-oracle chain with training restricted to vec_id < 400 —
    // every row (appended or not) encodes/assigns against those frozen
    // relations, which is exactly what the engine's append does.
    Q("q_ivfpq_append",
      (s, d) => {
        val emb = embeddings(s, d)
        val dir = BuildPhase.timed {
          val c = FixtureCache.mutableCopy(s"ivfpq:t400:$d", "ivfpqapp") { p =>
            Similarity.ivfPqWriteIndexTrained(emb.where(col("vec_id") < 400),
              s"$p/index", numFiles = 4, m = 8, dims = 64, ksub = 4,
              nlists = 4, iters = 1, trainMod = 7)
          }
          Similarity.ivfPqAppendIndex(s, s"$c/index",
            emb.where(col("vec_id") >= 400), m = 8, dims = 64)
          Similarity.ivfPqOptimizeIndex(s, s"$c/index", numFiles = 2)
          c
        }
        Similarity.ivfPqSearchPersisted(s, s"$dir/index", emb,
          nQueries = 20, k = 5, m = 8, dims = 64, centroidMod = 1,
          nprobe = 2)
      },
      Some(IvfPqTrainedOracle.replace(
        "WHERE vec_id % 7 = 0", "WHERE vec_id % 7 = 0 AND vec_id < 400"))),

    // The STANDALONE query-relation form (FAISS index.search(xq, k) —
    // queries come from their own (query_id, embedding) relation, not
    // from corpus rows below an id threshold). Same fixture and the
    // same oracle: excludeSelf = true reproduces the threshold form's
    // kNN convention bit-for-bit, pinning that the production signature
    // and the fixture signature share one arithmetic path.
    Q("q_ivfpq_persisted_q",
      (s, d) => {
        val emb = embeddings(s, d)
        val dir = BuildPhase.timed {
          FixtureCache.pristine(s"ivfpq:trained:$d") { p =>
            Similarity.ivfPqWriteIndexTrained(emb, s"$p/index",
              numFiles = 4, m = 8, dims = 64, ksub = 4, nlists = 4,
              iters = 1, trainMod = 7)
          }
        }
        Similarity.ivfPqSearchPersistedQ(s, s"$dir/index",
          emb.where(col("vec_id") < 20)
            .select(col("vec_id").as("query_id"), col("embedding")),
          k = 5, m = 8, dims = 64, centroidMod = 1, nprobe = 2,
          excludeSelf = true)
      },
      Some(IvfPqTrainedOracle)),

    // Tombstone deletes over the persisted index (FAISS remove_ids as
    // merge-on-read): vec_id % 5 = 3 is tombstoned, a consolidate pass
    // applies the deletes PHYSICALLY and retires the tombstones, and
    // the search runs over the rewritten index — the oracle is the
    // trained chain with the deleted ids excluded from the ADC scan.
    Q("q_ivfpq_delete",
      (s, d) => {
        val emb = embeddings(s, d)
        val dir = BuildPhase.timed {
          val c = FixtureCache.mutableCopy(s"ivfpq:trained:$d", "ivfpqdel") { p =>
            Similarity.ivfPqWriteIndexTrained(emb, s"$p/index",
              numFiles = 4, m = 8, dims = 64, ksub = 4, nlists = 4,
              iters = 1, trainMod = 7)
          }
          Similarity.ivfPqDeleteIndex(s, s"$c/index",
            emb.where(col("vec_id") % 5 === 3).select(col("vec_id")))
          Similarity.ivfPqConsolidateIndex(s, s"$c/index", numFiles = 2)
          c
        }
        Similarity.ivfPqSearchPersisted(s, s"$dir/index", emb,
          nQueries = 20, k = 5, m = 8, dims = 64, centroidMod = 1,
          nprobe = 2)
      },
      Some(IvfPqTrainedOracle.replace(
        "WHERE c.vec_id <> lut.query_id",
        "WHERE c.vec_id <> lut.query_id AND c.vec_id % 5 <> 3"))),

    // UPSERT on the persisted ANN index (r19): the index is written
    // over embeddings whose vec_id % 7 == 3 rows are NEGATED (disjoint
    // from the % 7 == 0 training subset, so the trained codebooks and
    // centroids are identical to the true corpus's), then the true
    // vectors are upserted — visible copies tombstoned, rewritten away,
    // re-encoded against the FROZEN books. Final state == an index over
    // the true corpus, so the oracle is the trained chain verbatim.
    Q("q_ivfpq_upsert",
      (s, d) => {
        val emb = embeddings(s, d)
        val dir = BuildPhase.timed {
          val c = FixtureCache.mutableCopy(s"ivfpq:stale7:$d", "ivfpqups") { p =>
            val stale = emb.withColumn("embedding",
              when(col("vec_id") % 7 === 3,
                transform(col("embedding"), x => -x))
                .otherwise(col("embedding")))
            Similarity.ivfPqWriteIndexTrained(stale, s"$p/index",
              numFiles = 4, m = 8, dims = 64, ksub = 4, nlists = 4,
              iters = 1, trainMod = 7)
          }
          Similarity.ivfPqUpsertIndex(s, s"$c/index",
            emb.where(col("vec_id") % 7 === 3), numFiles = 2,
            m = 8, dims = 64)
          c
        }
        Similarity.ivfPqSearchPersisted(s, s"$dir/index", emb,
          nQueries = 20, k = 5, m = 8, dims = 64, centroidMod = 1,
          nprobe = 2)
      },
      Some(IvfPqTrainedOracle)),

    // RETRAIN lifecycle (r20): the index is first written with the
    // SUBSET quantizers (codebook/centroids = vec_id subsets — the
    // pre-training index shape) plus the raw-vector refine relation,
    // then ivfPqRetrainIndex Lloyd-trains fresh fixed-size books and
    // centroids ON THE STORED VECTORS, re-encodes everything, and
    // flips one manifest at the index root (a complete replacement
    // epoch — codes under new books never serve beside the old LUT
    // metadata). The retrained index must be BIT-IDENTICAL to a fresh
    // ivfPqWriteIndexTrained over the same corpus, so the oracle is
    // the trained chain verbatim — training replayed from the raw
    // corpus, which the stored quantized vectors round-trip exactly.
    Q("q_ivfpq_retrain",
      (s, d) => {
        val emb = embeddings(s, d)
        val dir = BuildPhase.timed {
          val c = FixtureCache.mutableCopy(
            s"ivfpq:subsetvecs:$d", "ivfpqrt") { p =>
            Similarity.ivfPqWriteIndex(emb, s"$p/index", numFiles = 4,
              m = 8, dims = 64, centroidMod = 97, coarseMod = 83,
              storeVecs = true)
          }
          Similarity.ivfPqRetrainIndex(s, s"$c/index", numFiles = 4,
            m = 8, dims = 64, ksub = 4, nlists = 4, iters = 1,
            trainMod = 7)
          c
        }
        Similarity.ivfPqSearchPersisted(s, s"$dir/index", emb,
          nQueries = 20, k = 5, m = 8, dims = 64, centroidMod = 1,
          nprobe = 2)
      },
      Some(IvfPqTrainedOracle)),

    // COARSE-SPILL (multi-assignment) indexing (r20): each vector's
    // codes row is written into its g = 2 nearest trained lists, so a
    // true neighbor is findable when ANY of its lists is probed — the
    // probed-list recall ceiling rises at a bounded 2× codes-size cost
    // instead of a per-query nprobe increase (Jégou 2011 §V multiple
    // assignment; ScaleBench B47 REQUIREs the ceiling lift at 1M).
    // Copies share their codes, so ADC distances are identical and the
    // engine dedups (query, neighbor) by min before top-k; the oracle
    // replays assignment at rank <= 2 and dedups by DISTINCT.
    Q("q_ivfpq_spill",
      (s, d) => {
        val emb = embeddings(s, d)
        val dir = BuildPhase.timed {
          FixtureCache.pristine(s"ivfpq:spill2:$d") { p =>
            Similarity.ivfPqWriteIndexTrained(emb, s"$p/index",
              numFiles = 4, m = 8, dims = 64, ksub = 4, nlists = 4,
              iters = 1, trainMod = 7, spillG = 2)
          }
        }
        Similarity.ivfPqSearchPersisted(s, s"$dir/index", emb,
          nQueries = 20, k = 5, m = 8, dims = 64, centroidMod = 1,
          nprobe = 2)
      },
      Some(IvfPqSpillOracle)),

    // M70 ADC top-R + exact re-rank (the FAISS refine stage,
    // IndexRefineFlat): PQ buys the scan, raw vectors re-score the few
    // survivors, so the final ranking has zero quantization error.
    // Oracle = the q_ivfpq_search chain capped at rank <= 10, then the
    // q_embed_knn exact-cosine arithmetic on the candidates.
    Q("q_ivfpq_rerank",
      (s, d) => Similarity.ivfPqRerank(embeddings(s, d), nQueries = 20,
        k = 5, rerankR = 10, m = 8, dims = 64, centroidMod = 97,
        coarseMod = 83, nprobe = 2),
      Some(IvfPqRerankOracle)),

    // The refine stage composed into the PERSISTED serving path (r19):
    // the ADC candidates come from the lifecycle index scan (probed-
    // list IN pushed down), their raw vectors from the vec_id-clustered
    // vecs refine relation written at storeVecs=true index-build time
    // (fetched by a pushed-down candidate-id IN — candidate-scale
    // bytes), and the exact rounded-cosine re-rank is ivfPqRerank's
    // arithmetic verbatim — so the gate shares its oracle. Queries are
    // the standalone (query_id, embedding) form with excludeSelf=true
    // reproducing the prefix convention on the fixture.
    Q("q_ivfpq_rerank_persisted",
      (s, d) => {
        val emb = embeddings(s, d)
        val dir = BuildPhase.timed {
          FixtureCache.pristine(s"ivfpq:subsetvecs:$d") { p =>
            Similarity.ivfPqWriteIndex(emb, s"$p/index", numFiles = 4,
              m = 8, dims = 64, centroidMod = 97, coarseMod = 83,
              storeVecs = true)
          }
        }
        Similarity.ivfPqRerankPersistedQ(s, s"$dir/index",
          emb.where(col("vec_id") < 20)
            .select(col("vec_id").as("query_id"), col("embedding")),
          k = 5, rerankR = 10, m = 8, dims = 64, centroidMod = 97,
          nprobe = 2, excludeSelf = true)
      },
      Some(IvfPqRerankOracle)),

    // M70 residual IVF+PQ (FAISS IVFPQ DEFAULT, by_residual=true,
    // Jégou 2011 §IV.C): codes quantize x − c(list) instead of x, so
    // the ADC LUT becomes per (query, probed list) — built against the
    // query residual q − c(list). The oracle replays the full residual
    // pipeline: assign → residuals → residual codebooks → codes →
    // per-(query,list) LUT → ADC restricted to probed lists. Exact:
    // milli-unit integers are closed under subtraction, so every
    // intermediate stays an integer-valued double in both engines.
    Q("q_ivfpq_residual",
      (s, d) => Similarity.ivfPqResidualSearch(embeddings(s, d),
        nQueries = 20, k = 5, m = 8, dims = 64, centroidMod = 97,
        coarseMod = 83, nprobe = 2),
      Some(s"""WITH $QuantCte,
        |clists AS (SELECT vec_id AS list_id, v AS cv,
        |                  list_dot_product(v, v) AS cn
        |           FROM q WHERE vec_id % 83 = 0),
        |cvecs AS (SELECT vec_id, v, list_dot_product(v, v) AS n FROM q),
        |s0 AS (SELECT vec_id, list_id, cv,
        |              round(list_dot_product(v, cv) / (sqrt(n) * sqrt(cn)), 6) AS cos_sim
        |       FROM cvecs, clists),
        |assign AS (SELECT vec_id, list_id, cv FROM (
        |             SELECT *, row_number() OVER (PARTITION BY vec_id
        |                          ORDER BY cos_sim DESC, list_id) AS rn
        |             FROM s0) WHERE rn = 1),
        |resid AS (SELECT q.vec_id, a.list_id,
        |                 list_transform(list_zip(q.v, a.cv),
        |                   x -> CAST(x[1] - x[2] AS DOUBLE)) AS rv
        |          FROM q JOIN assign a ON a.vec_id = q.vec_id),
        |rsubs AS (SELECT vec_id, s, list_slice(rv, s*8+1, s*8+8) AS vs
        |          FROM resid, range(8) t(s)),
        |rcents AS (SELECT vec_id AS centroid_id, s,
        |                  list_slice(rv, s*8+1, s*8+8) AS cs
        |           FROM resid, range(8) t(s) WHERE vec_id % 97 = 0),
        |d2 AS (SELECT rsubs.vec_id, rsubs.s, centroid_id,
        |              list_dot_product(vs, vs) - 2*list_dot_product(vs, cs)
        |                + list_dot_product(cs, cs) AS d2
        |       FROM rsubs JOIN rcents ON rsubs.s = rcents.s),
        |codes AS (SELECT vec_id, s, centroid_id AS code FROM (
        |            SELECT *, row_number() OVER (PARTITION BY vec_id, s
        |                         ORDER BY d2, centroid_id) AS rn
        |            FROM d2)
        |          WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, list_id, cv FROM (
        |             SELECT *, row_number() OVER (PARTITION BY vec_id
        |                          ORDER BY cos_sim DESC, list_id) AS rn
        |             FROM s0 WHERE vec_id < 20) WHERE rn <= 2),
        |qres AS (SELECT p.query_id, p.list_id,
        |                list_transform(list_zip(q.v, p.cv),
        |                  x -> CAST(x[1] - x[2] AS DOUBLE)) AS qr
        |         FROM probes p JOIN q ON q.vec_id = p.query_id),
        |qsubs AS (SELECT query_id, list_id, s,
        |                 list_slice(qr, s*8+1, s*8+8) AS vs
        |          FROM qres, range(8) t(s)),
        |lut AS (SELECT query_id, list_id, qsubs.s, centroid_id,
        |               list_dot_product(vs, vs) - 2*list_dot_product(vs, cs)
        |                 + list_dot_product(cs, cs) AS pd
        |        FROM qsubs JOIN rcents ON qsubs.s = rcents.s),
        |adc AS (SELECT lut.query_id, c.vec_id AS neighbor_id,
        |               CAST(sum(pd) AS BIGINT) AS adc_dist
        |        FROM codes c
        |          JOIN assign a ON a.vec_id = c.vec_id
        |          JOIN lut ON c.s = lut.s AND c.code = lut.centroid_id
        |                   AND lut.list_id = a.list_id
        |        WHERE c.vec_id <> lut.query_id
        |        GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, rank, adc_dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |               ORDER BY adc_dist, neighbor_id) AS rank
        |  FROM adc)
        |WHERE rank <= 5""".stripMargin)),

    // Pinned-literal oracles (OraclePins): WARC record walk and the
    // end-to-end crawl→text extraction over the committed fixture
    // shards (plain + multi-member gzip decode identically — WarcSpec).
    Q("q_warc_read",
      (s, _) => {
        import s.implicits._
        graft.sources.Warc.read(s, "/root/repo/fixtures/crawl")
          .map(r => (r.file, r.seq, r.warc_type, r.target_uri,
            r.warc_date, r.http_status, r.http_content_type,
            r.content_length, r.body.length.toLong))
          .toDF("file", "seq", "warc_type", "target_uri", "warc_date",
            "http_status", "http_content_type", "content_length",
            "body_bytes")
          .withColumn("seq", col("seq").cast("long"))
          .withColumn("http_status", col("http_status").cast("long"))
      },
      None),

    // M37 streaming twin: the same WARC shard fleet consumed through
    // Structured Streaming (binaryFile file source, one incremental
    // unit per crawl shard) — live-crawl ingest. Same pinned oracle as
    // the batch read, so the incremental parse is hash-verified
    // against it.
    Q("q_stream_warc",
      (s, _) => {
        import s.implicits._
        val rows = graft.sources.Warc
          .readStream(s, "/root/repo/fixtures/crawl")
          .map(r => (r.file, r.seq, r.warc_type, r.target_uri,
            r.warc_date, r.http_status, r.http_content_type,
            r.content_length, r.body.length.toLong))
          .toDF("file", "seq", "warc_type", "target_uri", "warc_date",
            "http_status", "http_content_type", "content_length",
            "body_bytes")
          .withColumn("seq", col("seq").cast("long"))
          .withColumn("http_status", col("http_status").cast("long"))
        val mem = "stream_warc_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = rows.writeStream
          .outputMode("append").format("memory").queryName(mem).start()
        try { q.processAllAvailable() } finally { q.stop() }
        s.table(mem)
      },
      None),

    Q("q_crawl_extract",
      (s, _) => {
        val html = graft.sources.Warc.htmlResponses(
          graft.sources.Warc.read(s, "/root/repo/fixtures/crawl"))
        html.select(col("file"), col("seq").cast("long").as("seq"),
          col("url"),
          graft.text.HtmlExtract.htmlMainText(col("html")).as("m"))
          .select(col("file"), col("seq"), col("url"),
            col("m.n_blocks").cast("long").as("n_blocks"),
            col("m.n_kept").cast("long").as("n_kept"),
            col("m.n_chars").cast("long").as("n_chars"),
            col("m.n_link_chars").cast("long").as("n_link_chars"),
            size(split(regexp_replace(col("m.text"), "\n", " "), " "))
              .cast("long").as("n_words"),
            TextAnalysis.portableHash(col("m.text")).as("text_hash"))
      },
      None))

  /** The Sennrich example corpus as documents (word multiplicities
    * {low:5, lower:2, newest:6, widest:3}). */
  private def bpeCorpus(s: org.apache.spark.sql.SparkSession) =
    s.createDataFrame(Seq(
      (0L, "low low low low low"),
      (1L, "lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest"))).toDF("doc_id", "text")
}
