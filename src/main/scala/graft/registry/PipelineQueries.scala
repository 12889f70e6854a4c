package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, expr, lit, md5, substring}
import graft.text.TextOps
import graft.dedup.Dedup
import graft.similarity.Knn
import graft.multimodal.Multimodal
import graft.sources.Staged

/** Driver bindings for SURVEY §2 families E–H (training-data pipeline
  * operators). Queries without an oracle entry are rows-only checks:
  * their semantics (LSH banding, seeded hashing, stub decode) are not
  * ANSI-SQL-expressible; each has a ScalaTest spec instead. */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) = TextOps.docs(s, d)

  /** Metastore table name + warehouse path for a persisted-index query,
    * scoped by BOTH the sf dir (concurrent drivers on different datasets
    * — selfcheck at sf0.01 while Bench runs sf0.1 — can't collide) and
    * the session's applicationId (concurrent drivers on the SAME sf dir
    * — Verify next to Bench, parallel CI shards — would otherwise race
    * on one DROP + Overwrite and read a half-written bucketed table).
    * Deterministic within a session, so a query's build and probe phases
    * agree; leftover tables from dead runs are inert (nothing ever reads
    * a foreign applicationId's name). */
  private def runScopedTable(s: SparkSession, d: String,
      prefix: String): (String, String) = {
    val suffix = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
    val tbl = s"${prefix}_${suffix}_$app"
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), tbl).toString
    (tbl, path)
  }

  /** The epoch-shuffle receipt derivation shared VERBATIM by
    * epoch_shuffle and shuffle_balance (the reportBlock one-definition
    * discipline): md5 order key, 2-hex-char shard, within-shard rank. */
  private def epochShuffleSql(epoch: Int) = s"""
      WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS BIGINT) AS n_tokens,
               md5('shuf:$epoch:' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents),
      es AS (
        SELECT doc_id, CAST($epoch AS BIGINT) AS epoch,
               substr(k, 1, 2) AS shard_hex,
               CAST(row_number() OVER (PARTITION BY substr(k, 1, 2)
                 ORDER BY k, doc_id) AS BIGINT) AS pos,
               n_tokens
        FROM t)"""

  /** The chunk-grid derivation shared VERBATIM by chunk_assign and
    * chunk_dedup's derived table (the reportBlock one-definition
    * discipline): a grid-formulation drift can only break one place. */
  private def chunkGridSql(pred: String) = s"""
      SELECT doc_id, chunk_idx,
             chunk_idx * 32 AS start_word,
             CAST(least(32, n_words - chunk_idx * 32) AS BIGINT)
               AS chunk_words,
             md5(array_to_string(
               list_slice(words, chunk_idx * 32 + 1, chunk_idx * 32 + 32),
               ' ')) AS chunk_digest
      FROM (
        SELECT doc_id, words, n_words,
               unnest(generate_series(0, (n_words - 1) // 32)) AS chunk_idx
        FROM (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS words,
                 CAST(len(list_filter(string_split(text, ' '),
                   x -> x <> '')) AS BIGINT) AS n_words
          FROM documents WHERE ($pred))
        WHERE n_words > 0)"""

  private val ChunkAssignSql = chunkGridSql("TRUE")

  /** The crawl-shard membership rule shared by chunk_dedup_incremental's
    * engine call and oracle: ~3/16 of docs form the arriving shard. */
  private val ShardPredSql =
    "substring(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 1) < '3'"

  /** The per-source exact-dedup savings rollup, shared verbatim by
    * dedup_report and source_scorecard's derived table (the reportBlock
    * discipline). */
  private val DedupReportSql = """
      WITH g AS (
        SELECT source, md5(lower(trim(text))) AS digest,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(length(text)) AS BIGINT) AS sum_chars,
               CAST(arg_min(length(text), doc_id) AS BIGINT) AS kept_chars
        FROM documents GROUP BY 1, 2)
      SELECT source,
             CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_uniq,
             CAST(sum(n - 1) AS BIGINT) AS n_dup,
             CAST(sum(sum_chars) AS BIGINT) AS chars_total,
             CAST(sum(sum_chars - kept_chars) AS BIGINT) AS chars_saved
      FROM g GROUP BY source"""

  /** The crawl-diff derivation shared verbatim by crawl_diff and
    * crawl_diff_report's derived table. */
  private val CrawlDiffSql = """
      SELECT COALESCE(o.doc_id, c.doc_id) AS doc_id,
             CASE WHEN o.o_digest IS NULL THEN 'added'
                  WHEN c.n_digest IS NULL THEN 'removed'
                  WHEN o.o_digest <> c.n_digest THEN 'changed'
                  ELSE 'unchanged' END AS status,
             COALESCE(c.lang, o.lang) AS lang
      FROM (
        SELECT doc_id, lang,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':mut'),
                      1, 1) < '3'
                    THEN md5('v0:' || text) ELSE md5(text) END AS o_digest
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':old'), 1, 1) < 'e'
      ) o FULL OUTER JOIN (
        SELECT doc_id, lang, md5(text) AS n_digest
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':new'), 1, 1) < 'e'
      ) c ON o.doc_id = c.doc_id"""

  /** The per-vector centroid-affinity derivation shared verbatim by
    * emb_centroid_affinity and emb_outliers: the quantize code chain,
    * exact BIGINT centroid sums / dots (DuckDB sums in HUGEINT — every
    * aggregate cast back to BIGINT so both engines present identical
    * integers), integer q2/s2 fences, one floor-half-up display. */
  /** Shared quantized-code CTE chain (codes → per-label centroid sums →
    * norms → per-vector dots) — the DuckDB dual of Knn.explodedCodes/
    * centroidSumsFrom, reused verbatim by the affinity and
    * cluster-quality oracles so a formulation drift breaks ONE place. */
  private val EmbCodeCtes = """
      WITH base AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      m AS (
        SELECT vec_id, label, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
        FROM base),
      codes AS (
        SELECT vec_id, label,
               list_transform(v, x -> floor(
                 CASE WHEN mx = 0.0::DOUBLE THEN 0.0::DOUBLE
                      ELSE x * 127.0::DOUBLE / mx END
                 + 0.5::DOUBLE)) AS qv
        FROM m),
      n AS (
        SELECT vec_id, label, qv,
               CAST(list_dot_product(qv, qv) AS BIGINT) AS q2
        FROM codes WHERE list_dot_product(qv, qv) > 0),
      expl AS (
        SELECT vec_id, label, q2,
               unnest(generate_series(1, len(qv))) AS pos,
               unnest(qv) AS code
        FROM n),
      cent AS (
        SELECT label, pos, CAST(sum(CAST(code AS BIGINT)) AS BIGINT) AS s
        FROM expl GROUP BY 1, 2),
      sn AS (
        SELECT label, CAST(sum(s * s) AS BIGINT) AS s2
        FROM cent GROUP BY 1 HAVING CAST(sum(s * s) AS BIGINT) > 0),
      dots AS (
        SELECT e.vec_id, e.label, e.q2,
               CAST(sum(CAST(e.code AS BIGINT) * c.s) AS BIGINT) AS dot
        FROM expl e JOIN cent c ON e.label = c.label AND e.pos = c.pos
        GROUP BY 1, 2, 3)"""

  private val EmbAffinitySql = s"""$EmbCodeCtes
      SELECT d.vec_id, d.label, d.dot,
             CAST(floor(CAST(d.dot AS DOUBLE) * 10000.0::DOUBLE /
               (sqrt(CAST(d.q2 AS DOUBLE)) * sqrt(CAST(s.s2 AS DOUBLE))) +
               0.5::DOUBLE) AS DOUBLE) / 10000.0::DOUBLE AS score
      FROM dots d JOIN sn s ON d.label = s.label"""

  /** Cluster-quality oracle: the identical integer e4 score chain kept
    * as BIGINT (label mean = exact sum ÷ n), centroid-pair cosines over
    * the cent table, nearest-other as a window (engine: max_by). */
  private val EmbClusterQualitySql = s"""$EmbCodeCtes,
      aff AS (
        SELECT d.label,
               CAST(floor(CAST(d.dot AS DOUBLE) * 10000.0::DOUBLE /
                 (sqrt(CAST(d.q2 AS DOUBLE)) * sqrt(CAST(s.s2 AS DOUBLE))) +
                 0.5::DOUBLE) AS BIGINT) AS score_e4
        FROM dots d JOIN sn s ON d.label = s.label),
      coh AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(score_e4) AS BIGINT) AS sum_e4
        FROM aff GROUP BY 1),
      pairdot AS (
        SELECT a.label AS label, b.label AS other_label,
               CAST(sum(a.s * b.s) AS BIGINT) AS dot
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
        GROUP BY 1, 2),
      sepscore AS (
        SELECT p.label, p.other_label,
               CAST(floor(CAST(p.dot AS DOUBLE) * 10000.0::DOUBLE /
                 (sqrt(CAST(sa.s2 AS DOUBLE)) * sqrt(CAST(sb.s2 AS DOUBLE)))
                 + 0.5::DOUBLE) AS BIGINT) AS cos_e4
        FROM pairdot p JOIN sn sa ON p.label = sa.label
                       JOIN sn sb ON p.other_label = sb.label),
      sep AS (
        SELECT label, other_label AS nearest_label, cos_e4 AS sep_e4
        FROM (SELECT *, row_number() OVER (PARTITION BY label
                ORDER BY cos_e4 DESC, other_label ASC) AS rn
              FROM sepscore)
        WHERE rn = 1)
      SELECT CAST(c.label AS BIGINT) AS label, c.n_vecs,
             CAST(floor(CAST(c.sum_e4 AS DOUBLE) /
               CAST(c.n_vecs AS DOUBLE) + 0.5::DOUBLE) AS DOUBLE) /
               10000.0::DOUBLE AS cohesion,
             CAST(s.nearest_label AS BIGINT) AS nearest_label,
             CAST(s.sep_e4 AS DOUBLE) / 10000.0::DOUBLE AS separation
      FROM coh c JOIN sep s ON c.label = s.label"""

  /** The per-vector label-propagation derivation shared verbatim by
    * knn_label_prop and its eval rollup: the knn_quantized code chain
    * (floor-half-up codes, exact integer dot, one floor-half-up double
    * expression), the salted ':lbl' md5-nibble labeled slice (boundary
    * 'c' = 12/16), integer votes, and the (count desc, label asc)
    * winner — the oracle formulates the argmax as a window, the engine
    * as a max_by hash agg (two-formulation strengthening). */
  private val LabelPropSql = """
      WITH base AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      m AS (
        SELECT vec_id, label, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
        FROM base),
      codes AS (
        SELECT vec_id, label,
               list_transform(v, x -> floor(
                 CASE WHEN mx = 0.0::DOUBLE THEN 0.0::DOUBLE
                      ELSE x * 127.0::DOUBLE / mx END
                 + 0.5::DOUBLE)) AS qv
        FROM m),
      n AS (
        SELECT vec_id, label, qv, sqrt(list_dot_product(qv, qv)) AS qnrm,
               substring(md5(CAST(vec_id AS VARCHAR) || ':lbl'), 1, 1) < 'c'
                 AS labeled
        FROM codes WHERE list_dot_product(qv, qv) > 0),
      pairs AS (
        SELECT u.vec_id, u.label AS true_label, l.label AS lab_label,
               CAST(floor(list_dot_product(l.qv, u.qv) * 10000.0::DOUBLE /
                 (l.qnrm * u.qnrm) + 0.5::DOUBLE) AS DOUBLE) /
                 10000.0::DOUBLE AS score
        FROM n l JOIN n u ON l.labeled AND NOT u.labeled),
      votes AS (
        SELECT vec_id, true_label, lab_label,
               CAST(count(*) AS BIGINT) AS cnt
        FROM pairs WHERE score >= 0.3 GROUP BY 1, 2, 3),
      ranked AS (
        SELECT vec_id, true_label, lab_label, cnt,
               CAST(sum(cnt) OVER (PARTITION BY vec_id) AS BIGINT)
                 AS n_neighbors,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY cnt DESC, lab_label ASC) AS rn
        FROM votes)
      SELECT vec_id, true_label, lab_label AS pred_label,
             cnt AS n_votes, n_neighbors
      FROM ranked WHERE rn = 1"""

  /** The tokenize + split + df-banded-vocabulary CTEs shared by the
    * vocab_coverage family (in-plan, persisted, and the per-doc
    * tagger) — ONE derivation so a split or band change cannot
    * silently diverge the three. */
  private val VocabCtes = """
      WITH toks AS (
        SELECT doc_id, source,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                    < 'd' THEN 'train' ELSE 'test' END AS split,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS t
        FROM documents),
      vocab AS (
        SELECT word FROM (
          SELECT DISTINCT doc_id, unnest(t) AS word
          FROM toks WHERE split = 'train')
        GROUP BY word HAVING count(*) >= 2)"""

  /** The vocab_coverage rollup, shared VERBATIM with
    * vocab_coverage_persisted (the persisted probe is
    * result-identical — TextSpec proves row parity). */
  private val VocabCoverageSql = s"""$VocabCtes,
      probe AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT source, unnest(t) AS word
              FROM toks WHERE split = 'test')
        GROUP BY 1, 2)
      SELECT p.source,
             CAST(sum(p.cnt) AS BIGINT) AS tokens_total,
             CAST(sum(CASE WHEN v.word IS NULL THEN p.cnt ELSE 0 END)
               AS BIGINT) AS tokens_oov,
             (2 * CAST(sum(CASE WHEN v.word IS NULL THEN p.cnt ELSE 0 END)
                AS BIGINT) * 1000 + CAST(sum(p.cnt) AS BIGINT))
               // (2 * CAST(sum(p.cnt) AS BIGINT)) AS oov_mass_milli,
             CAST(count(*) AS BIGINT) AS types_total,
             CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS types_oov,
             (2 * CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) * 1000 + CAST(count(*) AS BIGINT))
               // (2 * CAST(count(*) AS BIGINT)) AS oov_types_milli
      FROM probe p LEFT JOIN vocab v ON p.word = v.word
      GROUP BY 1"""

  /** The dedup_clusters derivation, named because dedup_cluster_hist
    * embeds it verbatim (the reportBlock discipline). */
  private val DedupClustersSql = """
      WITH RECURSIVE de AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS w
        FROM documents WHERE lang = 'de'),
      sz AS (SELECT doc_id, len(w) AS n FROM de),
      inv AS (SELECT doc_id, unnest(w) AS word FROM de),
      cand AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               CAST(count(*) AS BIGINT) AS n_common
        FROM inv a JOIN inv b
          ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc1, doc2
        FROM cand
        JOIN sz s1 ON doc1 = s1.doc_id
        JOIN sz s2 ON doc2 = s2.doc_id
        WHERE round(n_common / (s1.n + s2.n - n_common), 4) >= 0.85),
      edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs),
      reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a"""

  /** The triplet_mine derivation, named because triplet_stats embeds
    * it verbatim as its derived table (the reportBlock discipline).
    * Two-formulation cross-check: the engine mines pos/neg via
    * struct-min aggregates; this oracle runs the row_number window
    * formulation over the identical integer e4 scores. */
  private val TripletSql = """
      WITH base AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      m AS (
        SELECT vec_id, label, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
        FROM base),
      codes AS (
        SELECT vec_id, label,
               list_transform(v, x -> floor(
                 CASE WHEN mx = 0.0::DOUBLE THEN 0.0::DOUBLE
                      ELSE x * 127.0::DOUBLE / mx END
                 + 0.5::DOUBLE)) AS qv
        FROM m),
      nz AS (
        SELECT vec_id, label, qv, sqrt(list_dot_product(qv, qv)) AS qnrm
        FROM codes WHERE list_dot_product(qv, qv) > 0),
      scored AS (
        SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
               c.vec_id AS cand_id, (c.label = a.label) AS same,
               CAST(floor(list_dot_product(a.qv, c.qv) * 10000.0::DOUBLE /
                 (a.qnrm * c.qnrm) + 0.5::DOUBLE) AS BIGINT) AS score_e4
        FROM nz a JOIN nz c
          ON a.vec_id % 25 = 0 AND c.vec_id % 25 <> 0),
      agg AS (
        SELECT anchor_id, anchor_label,
               CAST(sum(CASE WHEN same THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pos,
               CAST(sum(CASE WHEN same THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_neg
        FROM scored GROUP BY 1, 2),
      pos AS (
        SELECT anchor_id, cand_id AS pos_id, score_e4 AS pos_e4 FROM (
          SELECT anchor_id, cand_id, score_e4,
                 row_number() OVER (PARTITION BY anchor_id
                   ORDER BY score_e4 ASC, cand_id) AS rn
          FROM scored WHERE same) WHERE rn = 1),
      neg AS (
        SELECT anchor_id, cand_id AS neg_id, score_e4 AS neg_e4 FROM (
          SELECT anchor_id, cand_id, score_e4,
                 row_number() OVER (PARTITION BY anchor_id
                   ORDER BY score_e4 DESC, cand_id) AS rn
          FROM scored WHERE NOT same) WHERE rn = 1)
      SELECT g.anchor_id, g.anchor_label, g.n_pos, g.n_neg,
             p.pos_id, p.pos_e4, n.neg_id, n.neg_e4,
             p.pos_e4 - n.neg_e4 AS margin_e4,
             CAST(CASE WHEN p.pos_e4 - n.neg_e4 < 500 THEN 1 ELSE 0 END
               AS BIGINT) AS is_hard
      FROM agg g JOIN pos p USING (anchor_id) JOIN neg n USING (anchor_id)"""

  /** The engine-side lexical/substring methods shared by
    * contamination_report and contamination_report_ivf — one definition
    * so the two reports can only differ in their semantic pair source. */
  private def lexicalReportMethods(s: SparkSession,
      d: String): Seq[(String, DataFrame)] = {
    val dd = docs(s, d)
    val fr = dd.filter(col("lang") === "fr")
    Seq(
      "lexical_scoped" ->
        Dedup.contamination(fr, TextOps.splitAssign(fr, 13), tau = 0.9)
          .select("train_doc", "test_doc"),
      "lexical_unscoped" ->
        Dedup.contaminationAtScale(dd, TextOps.splitAssign(dd, 13),
          tau = 0.9).select("train_doc", "test_doc"),
      "substring" ->
        Dedup.contaminationSubstring(dd, TextOps.splitAssign(dd, 13))
          .select("train_doc", "test_doc"))
  }

  /** Shared by text_search_bm25 AND text_search_indexed (the persisted
    * probe is result-identical — df/tf/dl round-trip the index exactly,
    * so the hop is transparent to the oracle). The IDENTICAL IEEE
    * expression as TextOps.bm25Search: idf+1 variant, avgdl left as the
    * sub-expression sum_dl/n_docs (exact BIGINTs divided the same way in
    * both engines), every literal forced ::DOUBLE (bare decimals are
    * DECIMAL-typed in DuckDB), and per-term contributions rounded to
    * integer micro-units BEFORE the per-doc sum so the sum is exact
    * integer arithmetic and summation order can't flip the score. */
  /** The doc_similar inverted-index oracle, shared verbatim by
    * doc_similar_prefix (the prefix filter is a sound Cauchy–Schwarz
    * prune, so both derivations produce the identical row set). */
  /** The inverted-index pair formulation PARAMETERIZED by the source
    * relation (the bm25SqlFrom / q4-CTE discipline): `doc_similar`
    * instantiates it over `documents`; `chunk_similar_persisted` over
    * the chunk-corpus relation — one formulation, two granularities. */
  private def docSimilarSqlFrom(rel: String, tau: String = "0.9") = s"""
      WITH t AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS term
        FROM $rel),
      tf AS (SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS tf
             FROM t GROUP BY 1, 2, 3),
      n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM (SELECT DISTINCT doc_id, lang FROM tf) GROUP BY 1),
      dft AS (SELECT lang, term, df, n_docs FROM
                (SELECT lang, term, CAST(count(*) AS BIGINT) AS df
                 FROM tf GROUP BY 1, 2) JOIN n USING (lang)
              WHERE df >= 2 AND df * 10 <= n_docs * 9),
      w AS (
        SELECT doc_id, tf.lang, tf.term,
               tf * CAST(round(ln(n_docs / df) * 1000.0::DOUBLE, 0)
                 AS BIGINT) AS w
        FROM tf JOIN dft
          ON tf.lang = dft.lang AND tf.term = dft.term),
      norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
                FROM w GROUP BY 1),
      dots AS (
        SELECT a.lang AS lang, a.doc_id AS doc1, b.doc_id AS doc2,
               CAST(count(*) AS BIGINT) AS n_common,
               CAST(sum(a.w * b.w) AS BIGINT) AS dot
        FROM w a JOIN w b
          ON a.lang = b.lang AND a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3)
      SELECT lang, doc1, doc2, n_common, score FROM (
        SELECT lang, doc1, doc2, n_common,
               floor(CAST(dot AS DOUBLE) * 10000.0 /
                 (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                 + 0.5) / 10000.0 AS score
        FROM dots
        JOIN norms na ON dots.doc1 = na.doc_id
        JOIN norms nb ON dots.doc2 = nb.doc_id
        WHERE na.n2 > 0 AND nb.n2 > 0)
      WHERE score >= $tau"""

  private val DocSimilarOracleSql = docSimilarSqlFrom("documents")

  /** bucketKeys reproduced arithmetically — shared by
    * mm_dedup_near_audit (corpus rollup) and mm_dedup_near_candidates
    * (the pair list): every component of the two offset band keys
    * (format, floor-banded dims, channels, sample_rate, floor-banded
    * duration) is a pure function of doc_id on the synthesized corpus,
    * and grouping by the component TUPLE equals grouping by the Spark
    * side's ':'-joined string (components are separator-free). `mem`
    * carries doc_id: the audit ignores it, the candidate join needs it. */
  private val MmBucketMemCte = """feat AS (
        SELECT doc_id,
          CASE doc_id % 7 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
               WHEN 2 THEN 'jpeg' WHEN 3 THEN 'wav' WHEN 4 THEN 'gif'
               WHEN 5 THEN 'webp' ELSE 'mp4' END AS format,
          CASE doc_id % 7 WHEN 0 THEN 16 + doc_id % 32
               WHEN 1 THEN 32 + doc_id % 64 WHEN 2 THEN 64 + doc_id % 128
               WHEN 3 THEN 0 WHEN 4 THEN 20 + doc_id % 40
               WHEN 5 THEN 24 + doc_id % 48
               ELSE 48 + doc_id % 96 END AS width,
          CASE doc_id % 7 WHEN 0 THEN 8 + doc_id % 16
               WHEN 1 THEN 16 + doc_id % 32 WHEN 2 THEN 48 + doc_id % 64
               WHEN 3 THEN 0 WHEN 4 THEN 10 + doc_id % 20
               WHEN 5 THEN 12 + doc_id % 24
               ELSE 32 + doc_id % 64 END AS height,
          CASE doc_id % 7 WHEN 0 THEN 3 WHEN 1 THEN 4
               WHEN 2 THEN CASE WHEN doc_id % 8 = 2 THEN 1 ELSE 3 END
               WHEN 3 THEN 1 + doc_id % 2 WHEN 4 THEN 1
               WHEN 5 THEN CASE WHEN doc_id % 12 = 11 THEN 4 ELSE 3 END
               ELSE 3
          END AS channels,
          CASE WHEN doc_id % 7 = 3 THEN
            CASE WHEN doc_id % 4 = 3 THEN 16000 ELSE 8000 END
          ELSE 0 END AS sample_rate,
          CASE WHEN doc_id % 7 = 3 THEN
            (((400 + (doc_id % 100) * 40) * (1 + doc_id % 2) * 2)
              * 1000.0::DOUBLE) /
            ((CASE WHEN doc_id % 4 = 3 THEN 16000 ELSE 8000 END)
              * (1 + doc_id % 2) * 2)
          WHEN doc_id % 7 = 6 THEN
            ((1000 + (doc_id % 50) * 200) * 1000.0::DOUBLE) /
            (CASE WHEN doc_id % 10 = 6 THEN 25000 ELSE 10000 END)
          WHEN doc_id % 7 = 4 AND doc_id % 3 = 2 THEN
            ((2 + doc_id % 4) * (5 + doc_id % 6) * 10) * 1.0::DOUBLE
          WHEN doc_id % 7 = 5 AND doc_id % 12 = 7 THEN
            ((2 + doc_id % 5) * (40 + (doc_id % 8) * 10)) * 1.0::DOUBLE
          ELSE 0.0::DOUBLE END AS duration_ms
        FROM documents),
      mem AS (
        SELECT doc_id, 0 AS tbl, format, floor(width / 8.0) AS wb,
               floor(height / 8.0) AS hb, channels, sample_rate,
               floor(duration_ms / 500.0) AS db
        FROM feat
        UNION ALL
        SELECT doc_id, 1, format, floor((width + 4) / 8.0),
               floor((height + 4) / 8.0), channels, sample_rate,
               floor((duration_ms + 250.0) / 500.0)
        FROM feat)"""

  /** The serving cut over the doc_similar pair list — shared by
    * doc_similar_topk (pairs from the lang-blocked exact join) and
    * doc_similar_topk_prefix (pairs from the prefix-filtered join):
    * the two pair sources are row-identical (spec-proven), so ONE SQL
    * checks the cut over both. */
  private val DocSimilarTopKOracleSql = s"""
      WITH pairs AS ($DocSimilarOracleSql),
      sym AS (
        SELECT lang, doc1 AS doc_id, doc2 AS similar_id, score FROM pairs
        UNION ALL
        SELECT lang, doc2 AS doc_id, doc1 AS similar_id, score FROM pairs)
      SELECT lang, doc_id, similar_id, score, rnk FROM (
        SELECT lang, doc_id, similar_id, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, similar_id) AS BIGINT) AS rnk
        FROM sym)
      WHERE rnk <= 5"""

  /** Shared CTE chain for the hybrid-RRF family: the doc_similar pair
    * formulation (lexical member, directed to the md5 query slice) and
    * the embedding-cosine member (finiteNorm fences mirrored from
    * dedup_embedding), each ranked on (grid score DESC, cand_id), then
    * full-outer fused with exact-integer reciprocal masses — the same
    * arithmetic as [[graft.similarity.Hybrid.fuse]]. */
  /** The brute semantic member alone (embedding cosine over the md5
    * query slice, finiteNorm fences mirrored from dedup_embedding) —
    * shared by [[HybridFusedCtes]] and the hybrid_cap_audit oracle. */
  private val HybridSemCte = s"""semd AS (
        SELECT q.vec_id AS doc_id, c.vec_id AS cand_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                 c.embedding::DOUBLE[]), 4) AS score
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE substr(md5(concat_ws(':', CAST(q.vec_id AS VARCHAR),
            'hyb')), 1, 1) < '4'
          AND list_dot_product(q.embedding::DOUBLE[],
                q.embedding::DOUBLE[]) > 0
          AND list_dot_product(q.embedding::DOUBLE[],
                q.embedding::DOUBLE[]) < 'infinity'::DOUBLE
          AND list_dot_product(c.embedding::DOUBLE[],
                c.embedding::DOUBLE[]) > 0
          AND list_dot_product(c.embedding::DOUBLE[],
                c.embedding::DOUBLE[]) < 'infinity'::DOUBLE
          AND round(list_cosine_similarity(q.embedding::DOUBLE[],
                c.embedding::DOUBLE[]), 4) >= 0.3)"""

  private val HybridFusedCtes = s"""
      WITH p AS (${docSimilarSqlFrom("documents", "0.9")}),
      lexd AS (
        SELECT doc1 AS doc_id, doc2 AS cand_id, score FROM p
        WHERE substr(md5(concat_ws(':', CAST(doc1 AS VARCHAR), 'hyb')),
          1, 1) < '4'
        UNION ALL
        SELECT doc2 AS doc_id, doc1 AS cand_id, score FROM p
        WHERE substr(md5(concat_ws(':', CAST(doc2 AS VARCHAR), 'hyb')),
          1, 1) < '4'),
      lexr AS (
        SELECT doc_id, cand_id,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, cand_id) AS BIGINT) AS lex_rank
        FROM lexd),
      $HybridSemCte,
      semr AS (
        SELECT doc_id, cand_id,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, cand_id) AS BIGINT) AS sem_rank
        FROM semd),
      fused AS (
        SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
               coalesce(l.cand_id, s.cand_id) AS cand_id,
               coalesce(l.lex_rank, CAST(0 AS BIGINT)) AS lex_rank,
               coalesce(s.sem_rank, CAST(0 AS BIGINT)) AS sem_rank,
               CAST(CASE WHEN coalesce(l.lex_rank, 0) > 0
                      THEN 1000000000 // (60 + l.lex_rank) ELSE 0 END
                  + CASE WHEN coalesce(s.sem_rank, 0) > 0
                      THEN 1000000000 // (60 + s.sem_rank) ELSE 0 END
                 AS BIGINT) AS rrf_micro
        FROM lexr l FULL OUTER JOIN semr s
          ON l.doc_id = s.doc_id AND l.cand_id = s.cand_id)"""

  private def bm25SqlFrom(rel: String) = s"""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS toks
        FROM $rel),
      dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t),
      sc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      tf AS (
        SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        WHERE term IN ('vector', 'stream', 'window', 'hash')
        GROUP BY 1, 2, 3),
      df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             FROM tf GROUP BY 1),
      contrib AS (
        -- idf snapped to the 1e-6 grid before composing: ln() is the one
        -- transcendental and engine libms differ by ulps (seen at sf0.1)
        SELECT doc_id,
               CAST(round(
                 (round(ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE)
                     + 1.0::DOUBLE) * 1000000.0::DOUBLE, 0) /
                   1000000.0::DOUBLE) *
                   ((tf * (1.2::DOUBLE + 1.0::DOUBLE)) /
                     (tf + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE) +
                       0.75::DOUBLE * (dl / (sum_dl / n_docs)))))
                 * 1000000.0::DOUBLE, 0) AS BIGINT) AS micro
        FROM tf JOIN df USING (term) CROSS JOIN sc)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
             -- integer half-up then ONE exact division (micro sums end
             -- in ...50; float round diverges between engines there)
             CAST((CAST(sum(micro) AS BIGINT) + 50) // 100 AS DOUBLE) /
               10000.0::DOUBLE AS score
      FROM contrib GROUP BY doc_id"""

  private val Bm25OracleSql = bm25SqlFrom("documents")

  /** PRF expansion CTE chain shared VERBATIM by prf_terms and
    * search_prf (the word_assoc dictionary posture: the downstream
    * search embeds the dictionary SQL, so a formulation drift breaks
    * one place): seed BM25 top-10 docs → per-term tf-idf micro mass
    * over those docs (the doc_keywords integer chain), seed terms
    * excluded, df ≥ 2. */
  private val PrfSeedIn = "('vector', 'stream', 'window', 'hash')"
  private val PrfCtes = s"""
      WITH b0 AS ($Bm25OracleSql),
      r0 AS (
        SELECT doc_id FROM (
          SELECT doc_id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS r
          FROM b0)
        WHERE r <= 10),
      gtf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id,
                unnest(list_filter(string_split(lower(text), ' '),
                  x -> x <> '')) AS term
              FROM documents)
        GROUP BY 1, 2),
      gdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM gtf GROUP BY 1),
      gn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
             FROM (SELECT DISTINCT doc_id FROM gtf)),
      mass AS (
        SELECT term,
               CAST(sum(tf * CAST(round(ln(n_docs / df) *
                   1000000.0::DOUBLE, 0) AS BIGINT)) AS BIGINT)
                 AS mass_micro
        FROM gtf
        JOIN gdf USING (term)
        JOIN r0 USING (doc_id)
        CROSS JOIN gn
        WHERE df >= 2 AND term NOT IN $PrfSeedIn
        GROUP BY term),
      etop AS (
        SELECT term, mass_micro,
               CAST(row_number() OVER (ORDER BY mass_micro DESC, term)
                 AS BIGINT) AS trank
        FROM mass)"""

  /** The expanded-query bm25 chain (qterms = seed ∪ mined terms, then
    * the bm25 IEEE expression over the term-table join) — shared
    * VERBATIM by search_prf and expansion_eval. */
  private val PrfExpandedCtes = s"""
      qterms AS (
        SELECT term FROM etop WHERE trank <= 5
        UNION ALL
        SELECT unnest(['vector', 'stream', 'window', 'hash']) AS term),
      t2 AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS toks
        FROM documents),
      dl2 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
              FROM t2),
      sc2 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl2),
      tfq AS (
        SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl2)
        JOIN qterms USING (term)
        GROUP BY 1, 2, 3),
      dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tfq GROUP BY 1),
      contrib2 AS (
        SELECT doc_id,
               CAST(round(
                 (round(ln((n_docs - df + 0.5::DOUBLE) /
                     (df + 0.5::DOUBLE) + 1.0::DOUBLE) *
                     1000000.0::DOUBLE, 0) / 1000000.0::DOUBLE) *
                   ((tf * (1.2::DOUBLE + 1.0::DOUBLE)) /
                     (tf + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE) +
                       0.75::DOUBLE * (dl / (sum_dl / n_docs)))))
                 * 1000000.0::DOUBLE, 0) AS BIGINT) AS micro
        FROM tfq JOIN dfq USING (term) CROSS JOIN sc2),
      f AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
               CAST((CAST(sum(micro) AS BIGINT) + 50) // 100 AS DOUBLE) /
                 10000.0::DOUBLE AS score
        FROM contrib2 GROUP BY doc_id)"""

  /** The expanded-search serving cut over the PRF CTE chain — ONE
    * definition shared by `search_prf` (ad-hoc tokenize) and
    * `search_prf_persisted` (bucketed index probes): the two engine
    * faces are row-identical by the index round-trip argument, so one
    * SQL checks both. */
  private val SearchPrfOracleSql = s"""
      $PrfCtes,
      $PrfExpandedCtes
      SELECT doc_id, n_terms_matched, score, rnk FROM (
        SELECT doc_id, n_terms_matched, score,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                 AS BIGINT) AS rnk
        FROM f)
      WHERE rnk <= 20"""

  /** The chunk-corpus relation (one row per (doc, chunk) with the
    * composite id doc_id·2²⁰ + chunk_idx and the chunk's own text) —
    * the chunkCorpus derivation as an embeddable relation, so
    * chunk_search instantiates the SAME bm25 SQL over it (the
    * parameterized-CTE discipline). */
  private val ChunkCorpusRel = """(
      SELECT doc_id * 1048576 + chunk_idx AS doc_id, lang,
             array_to_string(list_slice(words,
               chunk_idx * 32 + 1, chunk_idx * 32 + 32), ' ') AS text
      FROM (
        SELECT doc_id, lang, words, n_words,
               unnest(generate_series(0, (n_words - 1) // 32)) AS chunk_idx
        FROM (
          SELECT doc_id, lang,
                 list_filter(string_split(text, ' '), x -> x <> '') AS words,
                 CAST(len(list_filter(string_split(text, ' '),
                   x -> x <> '')) AS BIGINT) AS n_words
          FROM documents)
        WHERE n_words > 0))"""

  /** The whole passage-granular hybrid serving path in one SQL: the
    * bm25 chain over the chunk relation (lex member, top-50 cut), the
    * df-banded chunk vocabulary + per-lang QUERY vector (the seed
    * terms' idf_milli weights, tf = 1 — exactly what vectorizing the
    * query string against the frozen vocab produces), cosine on the
    * 1e-4 grid, and the identical integer RRF fusion; both member
    * cuts are row_number windows — order-equivalent to the engine's
    * bounded MinKByKey key (PrfSpec pins that equivalence). Shared by
    * `chunk_hybrid_rrf` (ad-hoc members) and `chunk_hybrid_serve`
    * (both members persisted-index probes — every hop transparent). */
  private def chunkHybridOracleSqlFrom(vocabWhere: String) = s"""
      WITH lexb AS (${bm25SqlFrom(ChunkCorpusRel)}),
      lexr AS (
        SELECT cand_id, lex_rank FROM (
          SELECT doc_id AS cand_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                   AS BIGINT) AS lex_rank
          FROM lexb)
        WHERE lex_rank <= 50),
      ct AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS term
        FROM $ChunkCorpusRel),
      ctf AS (SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS tf
              FROM ct GROUP BY 1, 2, 3),
      -- the vocabulary SOURCE slice: the full relation for the ad-hoc/
      -- persisted faces, the BASE doc split for the delta face (the
      -- frozen-vocab serving semantic — doc_similar_delta's
      -- two-relation posture at chunk granularity; the predicate is on
      -- the UNDERLYING doc id)
      vtf AS (SELECT * FROM ctf WHERE $vocabWhere),
      cn AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
             FROM (SELECT DISTINCT doc_id, lang FROM vtf) GROUP BY 1),
      cdft AS (SELECT lang, term, df, n_docs FROM
                 (SELECT lang, term, CAST(count(*) AS BIGINT) AS df
                  FROM vtf GROUP BY 1, 2) JOIN cn USING (lang)
               WHERE df >= 2 AND df * 10 <= n_docs * 9),
      cw AS (
        SELECT doc_id, ctf.lang, ctf.term,
               tf * CAST(round(ln(n_docs / df) * 1000.0::DOUBLE, 0)
                 AS BIGINT) AS w
        FROM ctf JOIN cdft
          ON ctf.lang = cdft.lang AND ctf.term = cdft.term),
      cnorms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
                 FROM cw GROUP BY 1),
      qw AS (
        SELECT lang, term,
               CAST(round(ln(n_docs / df) * 1000.0::DOUBLE, 0)
                 AS BIGINT) AS w
        FROM cdft
        WHERE term IN ('vector', 'stream', 'window', 'hash')),
      qn AS (SELECT lang, CAST(sum(w * w) AS BIGINT) AS qn2
             FROM qw GROUP BY 1),
      sdots AS (
        SELECT cw.doc_id AS cand_id, cw.lang,
               CAST(sum(cw.w * qw.w) AS BIGINT) AS dot
        FROM cw JOIN qw ON cw.lang = qw.lang AND cw.term = qw.term
        GROUP BY 1, 2),
      semsc AS (
        SELECT cand_id,
               floor(CAST(dot AS DOUBLE) * 10000.0 /
                 (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))
                 + 0.5) / 10000.0 AS score
        FROM sdots
        JOIN qn USING (lang)
        JOIN cnorms ON sdots.cand_id = cnorms.doc_id
        WHERE qn2 > 0 AND n2 > 0),
      semr AS (
        SELECT cand_id, sem_rank FROM (
          SELECT cand_id,
                 CAST(row_number() OVER (ORDER BY score DESC, cand_id)
                   AS BIGINT) AS sem_rank
          FROM semsc WHERE score >= 0.05)
        WHERE sem_rank <= 50),
      cfused AS (
        SELECT coalesce(l.cand_id, s.cand_id) AS cand_id,
               coalesce(l.lex_rank, CAST(0 AS BIGINT)) AS lex_rank,
               coalesce(s.sem_rank, CAST(0 AS BIGINT)) AS sem_rank,
               CAST(CASE WHEN coalesce(l.lex_rank, 0) > 0
                      THEN 1000000000 // (60 + l.lex_rank) ELSE 0 END
                  + CASE WHEN coalesce(s.sem_rank, 0) > 0
                      THEN 1000000000 // (60 + s.sem_rank) ELSE 0 END
                 AS BIGINT) AS rrf_micro
        FROM lexr l FULL OUTER JOIN semr s ON l.cand_id = s.cand_id)
      SELECT cand_id // 1048576 AS doc_id,
             cand_id % 1048576 AS chunk_idx,
             lex_rank, sem_rank, rrf_micro, rnk FROM (
        SELECT cand_id, lex_rank, sem_rank, rrf_micro,
               CAST(row_number() OVER (ORDER BY rrf_micro DESC, cand_id)
                 AS BIGINT) AS rnk
        FROM cfused)
      WHERE rnk <= 10"""

  private val ChunkHybridOracleSql = chunkHybridOracleSqlFrom("TRUE")

  /** The base-split predicate (on the UNDERLYING doc id) that freezes
    * the chunk vocabulary for the delta serving face. */
  private val ChunkVocabBaseWhere =
    "substr(md5(concat_ws(':', CAST(doc_id // 1048576 AS VARCHAR), " +
      "'dsd')), 1, 1) < 'c'"

  val queries: Map[String, Q] = Map(
    // ── E. dedup ──────────────────────────────────────────────────────
    "dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d))),
    "dedup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(docs(s, d), lang = "de", tau = 0.85)),
    "dedup_minhash" -> ((s, d) => Dedup.minHashPairs(docs(s, d))),
    // drop accounting for the minhash band-bucket cap (the
    // lsh_bucket_audit discipline): memberships in/dropped + realized
    // max (band, sig) occupancy; rows-only (minhash signatures aren't
    // ANSI-expressible), DedupSpec asserts the cap fires on a planted
    // near-clone mass and stays silent on the normal corpus
    // dedup-quality recall audit: LSH pairs vs the exact shingle-Jaccard
    // baseline at the same τ — rows-only (the LSH side is banded);
    // DedupSpec proves hit consistency + τ=1.0 total recall
    "dedup_recall_audit" -> ((s, d) =>
      Dedup.dedupRecallAudit(docs(s, d))),
    "minhash_band_audit" -> ((s, d) =>
      Dedup.minHashBandAudit(docs(s, d))),
    "dedup_char_ngram" -> ((s, d) => Dedup.charNGramPairs(docs(s, d))),
    // drop accounting for the char-ngram stop-gram cap (r15 — found by
    // the 20× stress run: the old ABSOLUTE df cap silently dropped
    // every gram of a replicated corpus, a total recall collapse; the
    // cap is corpus-relative now and this row accounts what it drops);
    // rows-only (the gram kernel isn't ANSI-expressible)
    "char_ngram_gram_audit" -> ((s, d) =>
      Dedup.charNGramGramAudit(docs(s, d))),
    "dedup_clusters" -> ((s, d) =>
      Dedup.dedupClusters(Dedup.jaccardPairs(docs(s, d), "de", 0.85))),
    // duplication-profile histogram: per cluster size, how many
    // non-trivial clusters and how many docs they bind — the
    // mirror-vs-ordinary-overlap distinction; cluster frame is a
    // parameter, oracle embeds the cluster SQL verbatim
    "dedup_cluster_hist" -> ((s, d) => Dedup.clusterHistogram(
      Dedup.dedupClusters(Dedup.jaccardPairs(docs(s, d), "de", 0.85)))),
    // the 100 TB composition end-to-end: banded MinHash candidate pairs
    // (linear-cost discovery) → connected components — what a production
    // dedup pass actually runs; rows-only (banding isn't ANSI-
    // expressible), DedupSpec proves parity with clusters over exact
    // shingle-Jaccard at τ=1.0 where band recall is provably total
    // (identical shingle sets ⟹ identical signatures in every band)
    "dedup_clusters_lsh" -> ((s, d) =>
      Dedup.dedupClusters(Dedup.minHashPairs(docs(s, d)))),
    // exact-substring dedup via winnowed md5 anchors: shared verbatim
    // runs ≥ k+w-1 chars are guaranteed detected; fully oracle-checked
    // (md5 + window-min + distinct are ANSI-expressible)
    "dedup_substring" -> ((s, d) => Dedup.substringPairs(docs(s, d))),
    // substring pairs → connected components: verbatim-overlap dedup
    // groups end-to-end, with the recursive-closure oracle
    "dedup_substring_clusters" -> ((s, d) =>
      Dedup.dedupClusters(Dedup.substringPairs(docs(s, d)))),
    // drop accounting for the anchor paths (the lsh_bucket_audit
    // discipline): postings kept/dropped by the boilerplate df-cap
    "substring_anchor_audit" -> ((s, d) =>
      Dedup.substringAnchorAudit(docs(s, d))),
    // candidate-join cost plan: the anchor-df histogram with exact
    // per-stratum pair arithmetic — the kept strata bound the join's
    // output, the dropped strata are what the cap saved
    "anchor_cost_plan" -> ((s, d) => Dedup.anchorCostPlan(docs(s, d))),
    // quality-aware keeper selection: within each near-dup cluster keep
    // the highest-quality member (rounded-score tie → lowest doc_id) —
    // the production alternative to keep-lowest-id
    "dedup_keeper_quality" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.keeperByQuality(
        Dedup.dedupClusters(Dedup.jaccardPairs(dd, "de", 0.85)),
        TextOps.quality(dd))
    }),
    // per-source exact-dedup savings rollup (the audit discipline at
    // report level): docs / distinct contents / dup count / chars saved
    "dedup_report" -> ((s, d) => Dedup.dedupReport(docs(s, d))),
    // per-source release scorecard: dedup savings + exact-integer
    // quality moments + token mass in one governance view; oracle
    // embeds DedupReportSql verbatim
    "source_scorecard" -> ((s, d) => TextOps.sourceScorecard(docs(s, d))),
    // cross-table referential integrity: the precondition the
    // embedding-dependent operators silently assume, as one audited row
    "pipeline_integrity" -> ((s, d) => TextOps.pipelineIntegrity(
      docs(s, d), Knn.embStoredRows(s, d))),
    // pre-flight payload health: exact accounting of the mass the r16
    // hostile-payload fences silently exclude (null/empty/tokenless
    // text, null lang/source, dup ids) — drops are never silent
    "corpus_health" -> ((s, d) => TextOps.corpusHealth(docs(s, d))),
    // the vector-table companion: what the Knn.embOf reader fences out
    // (null/empty/zero/NaN-or-Inf vectors) + id/dims invariants
    "emb_health" -> ((s, d) => Knn.embHealth(Knn.embStoredRows(s, d))),
    // right-to-be-forgotten propagation: opted-out sources leave their
    // near-dup clusters and keepers are re-elected among survivors
    // (cluster ids stay those of the full run — membership filtered,
    // edges not recomputed, downstream cluster keys stay joinable)
    "purge_reelect" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.purgeReelect(
        Dedup.dedupClusters(Dedup.jaccardPairs(dd, "de", 0.85)),
        dd, Seq("src3", "src7"))
    }),
    // the rolling-crawl shape: write the corpus anchor index as a
    // BUCKETED external table once, then the new shard (doc_id % 10 = 0)
    // probes the PERSISTED index — no full-corpus re-dedup, no Exchange
    // on the index side (the knn_ivf_persisted story for text);
    // oracle-checked (r11): the persisted round-trip is transparent to
    // the result, so the oracle is the contamination_substring winnowing
    // SQL with the shard predicate in place of the split and each DF cap
    // applied on its own side; DedupSpec additionally proves parity with
    // the full run's cross slice + the bucketed index scan
    "dedup_incremental" -> ((s, d) => {
      val dd = docs(s, d)
      val (tbl, path) = runScopedTable(s, d, "graft_anchor_index")
      Staged.drop(s, tbl)
      Dedup.writeAnchorIndex(
        dd.filter(col("doc_id") % 10 =!= 0), tbl, path)
      Dedup.incrementalSubstringPairs(s, tbl,
        dd.filter(col("doc_id") % 10 === 0))
    }),
    // substring-level decontamination: train docs sharing a verbatim
    // >= 64-char run with a test doc, via the same winnowed anchors;
    // test-side DF-capped index, train streams against it
    "contamination_substring" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.contaminationSubstring(dd, TextOps.splitAssign(dd, 13))
    }),
    // scoped to one language partition: the word-salad corpus shares a
    // tiny vocabulary, so an unscoped inverted-index join degenerates —
    // at real scale the test split is small and the index is built on it
    "contamination_check" -> ((s, d) => {
      val dd = docs(s, d).filter(org.apache.spark.sql.functions
        .col("lang") === "fr")
      Dedup.contamination(dd, TextOps.splitAssign(dd, 13), tau = 0.9)
    }),
    // the 100 TB shape: whole corpus, no language scoping — test-side
    // inverted index + DF cap; rows-only (DedupSpec proves parity with
    // the oracle-checked scoped version on its scope)
    "contamination_unscoped" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.contaminationAtScale(dd, TextOps.splitAssign(dd, 13),
        tau = 0.9)
    }),
    // the embedding dual of the contamination rows: (train, test) pairs
    // whose QUANTIZED cosine reaches tau — catches paraphrased near-dups
    // digest/substring decontamination can't see; split = the
    // split_assign md5-nibble rule on vec_id, scoring = the
    // knn_quantized integer chain, so the whole operator is oracle-exact
    "contamination_semantic" -> ((s, d) =>
      Knn.contaminationSemantic(Knn.emb(s, d))),
    // the 100 TB path for the semantic check: train split → persisted
    // quantized IVF index (bucketed code lists, zero index-side
    // Exchange), test split probes its nprobe nearest lists and scores
    // candidates with the IDENTICAL integer chain — every emitted pair
    // is a subset of contamination_semantic's with bit-identical scores
    // (KnnSpec asserts both + planted-duplicate recall); rows-only
    // (probe recall depends on the seeded k-means assignment, which
    // isn't ANSI-expressible)
    "contamination_semantic_ivf" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_contam_ivf")
      Knn.contaminationSemanticIvf(s, Knn.emb(s, d), tbl, path)
    }),
    // decontamination governance rollup: the four cross-split checks
    // (lexical scoped / lexical unscoped / substring / semantic) as one
    // method × counts row set — the release sign-off view; pair sources
    // are parameters, each feeding its oracle-checked operator here and
    // its scale variant at 100 TB (semantic swaps in the IVF probe —
    // contamination_report_ivf below registers exactly that swap)
    "contamination_report" -> ((s, d) =>
      Dedup.contaminationReport(lexicalReportMethods(s, d) :+
        ("semantic" -> Knn.contaminationSemantic(Knn.emb(s, d))
          .select("train_vec", "test_vec")))),
    // the report with the semantic method riding the persisted
    // quantized IVF probe — the composition a 100 TB release run
    // registers (the brute broadcast pair join stops planning at
    // scale); rows-only: probe recall is k-means-assignment-dependent,
    // while the three lexical/substring methods stay byte-identical to
    // the oracle-checked report (DedupSpec asserts both properties)
    "contamination_report_ivf" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_contam_rep_ivf")
      Dedup.contaminationReport(lexicalReportMethods(s, d) :+
        ("semantic_ivf" -> Knn.contaminationSemanticIvf(s, Knn.emb(s, d),
          tbl, path).select(col("train_vec"), col("test_vec"))))
    }),
    // cross-source exact-duplicate matrix: which crawls mirror which —
    // the provenance diagnostic before weighting sources independently
    "source_overlap" -> ((s, d) => Dedup.sourceOverlap(docs(s, d))),
    // the near-dup mirror matrix: substring pairs rolled up to source
    // pairs; diagonal = intra-source near-dup mass
    "source_overlap_near" -> ((s, d) => Dedup.sourceOverlapNear(docs(s, d))),
    // dedup-adjusted token budget per (lang, source): raw vs surviving
    // tokens under the global digest-keeper election
    "token_yield" -> ((s, d) => TextOps.tokenYield(docs(s, d))),
    // nested data-ablation subsample receipts (D/16 ⊂ … ⊂ D): md5
    // hex-prefix rungs — growing the budget only ADDS docs, never
    // resamples; one scan, 5-row broadcast theta join, exact integers
    "scaling_ladder" -> ((s, d) => TextOps.scalingLadder(docs(s, d))),
    // temperature-balanced (alpha = 1/2) mixture plan over the
    // dedup-adjusted yields, budget = total kept tokens; sqrt is the
    // one IEEE-identical nonlinearity, snapped to the milli grid so
    // every weight is an exact integer on both engines
    "mix_plan" -> ((s, d) => TextOps.mixPlan(docs(s, d))),
    // the materialized mixture: per-doc copy counts (whole epochs +
    // one md5-thresholded fractional copy); fact table never shuffles
    "mix_apply" -> ((s, d) => TextOps.mixApply(docs(s, d))),
    // one-row allocation accounting: pool vs allocated (floor slack),
    // upsampled strata, worst repeat factor
    "mix_audit" -> ((s, d) => TextOps.mixAudit(docs(s, d))),
    // in-engine TRAINED linear classifier (NB log-odds, the CCNet
    // reference-vs-crawl quality filter): counting is the training,
    // which is what makes the trainer oracle-checkable end to end
    "domain_classifier" -> ((s, d) => TextOps.domainClassifier(docs(s, d))),
    // confusion rollup over the scored docs (the sign-off view)
    "domain_classifier_eval" -> ((s, d) =>
      TextOps.domainClassifierEval(docs(s, d))),
    // held-out: train on the train split, score the test split — the
    // hygiene-correct evaluation (self-scoring inflates separability)
    "domain_classifier_holdout" -> ((s, d) =>
      TextOps.domainClassifierHoldout(docs(s, d))),
    // train-once/score-per-crawl: the persisted bucketed model table;
    // round-trip transparent to the result (shares the oracle — the
    // dedup_incremental posture)
    "domain_classifier_persisted" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_domain_model")
      Staged.drop(s, tbl)
      TextOps.writeDomainModel(docs(s, d), tbl, path)
      TextOps.domainScorePersisted(s, docs(s, d), tbl)
    }),
    // exact-k per-stratum eval sample via the MinKByKey bounded
    // aggregate — no per-stratum sort, map-side combine ships <= k rows
    "sample_exact_k" -> ((s, d) => TextOps.sampleExactK(docs(s, d))),
    // probe-coverage accounting for the IVF path (the lsh_bucket_audit
    // discipline): indexed/probing rows, candidate pairs scored, pairs
    // flagged — the pruning factor vs the brute cross product a
    // pipeline watches when tuning nprobe; rows-only (k-means
    // assignment isn't ANSI-expressible)
    "contamination_semantic_ivf_audit" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_contam_ivf_aud")
      Knn.contaminationSemanticIvfAudit(s, Knn.emb(s, d), tbl, path)
    }),
    "text_redact" -> ((s, d) => TextOps.redact(docs(s, d))),
    // domain mixing: every source Bernoulli-downsampled to ≤ ~15
    // expected rows via a pure md5 row function — no fact-table shuffle
    "source_balance" -> ((s, d) => TextOps.sourceBalance(docs(s, d), 15L)),
    // sequence packing: concat-and-chunk docs into 256-token packs per
    // source (doc_id order); pack = chunk where the doc's first token
    // lands, from the running prefix sum
    "pack_assign" -> ((s, d) => TextOps.packAssign(docs(s, d))),
    // per-source fill/oversize accounting over the pack layout
    "pack_audit" -> ((s, d) => TextOps.packAudit(docs(s, d))),
    // reproducibility receipt: md5 over each pack's ascending doc ids
    "pack_manifest" -> ((s, d) => TextOps.packManifest(docs(s, d))),
    // global quality-ordered phase cuts with ZERO sort: grid-histogram
    // prefix + all-integer per-doc decision (the scale formulation of
    // a corpus-wide ntile)
    "curriculum_assign" -> ((s, d) => TextOps.curriculumAssign(docs(s, d))),
    // deterministic epoch-shuffle receipts: md5 order key, 2-hex shard,
    // within-shard rank — reproducible/resumable data-loading order
    // (the hash gate covers the ENTIRE receipt table)
    "epoch_shuffle" -> ((s, d) =>
      graft.text.Shuffle.epochShuffle(docs(s, d), epoch = 1)),
    // realized shard spread for that plan (docs AND token mass): md5
    // shards are uniform in expectation, this row is the realized
    // number a loader reads before trusting level worker finish times
    "shuffle_balance" -> ((s, d) =>
      graft.text.Shuffle.shuffleBalance(docs(s, d), epoch = 1)),
    // per-source token-budget selection: quality-first group-granular
    // admission over the (source, q4, hex4) grid — zero corpus sort,
    // all-integer membership, hard budget ceiling
    "budget_cut" -> ((s, d) => TextOps.budgetCut(docs(s, d), BudgetTokens)),
    // offered-vs-kept accounting + integer half-up milli utilization
    "budget_audit" -> ((s, d) => TextOps.budgetAudit(docs(s, d), BudgetTokens)),
    // the raw -> dedup -> budget release funnel per source
    "selection_report" -> ((s, d) =>
      TextOps.selectionReport(docs(s, d), BudgetTokens)),
    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // bucket counts against a target-vs-raw log-ratio model — exact
    // BIGINT dot product over milli-snapped per-bucket ratios; the
    // model is ≤ 4096 rows at ANY corpus size (the published method's
    // scale property)
    "dsir_weights" -> ((s, d) => graft.text.Dsir.dsirWeights(docs(s, d))),
    // global top-keepMilli‰ importance selection over the bounded
    // shifted-mean grid + salted md5 boundary sub-split (the
    // quality_cut machinery with the partition key collapsed)
    "dsir_select" -> ((s, d) => graft.text.Dsir.dsirSelect(docs(s, d))),
    // per-source realized selection shares + exact summed weights (the
    // "which sources does the target favor" view); oracle embeds the
    // select SQL verbatim
    "dsir_audit" -> ((s, d) => graft.text.Dsir.dsirAudit(docs(s, d))),
    // smoothed KL(source ‖ corpus) over the hashed feature space: the
    // distributional-redundancy view next to vocab_overlap (lexical);
    // kl over ALL corpus buckets (smoothing mass on absent buckets),
    // positive-shifted half-up milli, in-plan overflow fence
    "source_divergence" -> ((s, d) =>
      graft.text.Dsir.sourceDivergence(docs(s, d))),
    // per-source RELATIVE quality gate: keep the top keepMilli‰ of
    // each source — whole quarters above the boundary, the boundary
    // quarter sub-split by the salted md5 draw at the exact ceil
    // threshold; all-integer decision over the corpus-independent
    // (source, q4) grid
    "quality_cut" -> ((s, d) => TextOps.qualityCut(docs(s, d))),
    // target-vs-realized accounting; oracle embeds the cut verbatim
    "quality_cut_audit" -> ((s, d) => TextOps.qualityCutAudit(docs(s, d))),
    // novelty signal: fraction of a doc's distinct word 5-grams whose
    // first corpus occurrence (min doc_id) is this doc
    "doc_novelty" -> ((s, d) => TextOps.docNovelty(docs(s, d))),
    "dedup_simhash" -> ((s, d) => Dedup.simHashPairs(docs(s, d))),
    "dedup_embedding" -> ((s, d) =>
      Dedup.embeddingPairs(Knn.emb(s, d), tau = 0.4)),
    "dedup_embedding_exact" -> ((s, d) =>
      Dedup.embeddingExact(Knn.embStoredRows(s, d))),
    // corpus size via the shared JVM cache so the three LSH queries
    // (this, knn_lsh, lsh_bucket_audit) run ONE sizing count between
    // them, not one each
    "dedup_embedding_lsh" -> ((s, d) => {
      val e = Knn.emb(s, d)
      Dedup.embeddingPairsLsh(e, tau = 0.3,
        n = graft.similarity.LshBuckets.corpusSize(e, s"emb:$d"))
    }),
    // semantic dedup (cluster-scoped pruning, the SemDeDup recipe):
    // k-means neighborhoods → within-cluster cosine-≥τ components →
    // keep min vec_id; complements the hyperplane-LSH path (clusters
    // catch same-topic paraphrases hyperplanes split across buckets);
    // rows-only (k-means isn't ANSI-expressible), KnnSpec proves
    // planted duplicate groups collapse and coverage is total
    "dedup_semantic" -> ((s, d) => {
      val e = Knn.emb(s, d)
      Knn.semanticDedup(e, tau = 0.4,
        n = graft.similarity.LshBuckets.corpusSize(e, s"emb:$d"))
    }),
    // drop accounting for dedup_semantic's cluster-occupancy cap: kept/
    // dropped memberships + realized max pair-group size; rows-only
    // (k-means isn't ANSI-expressible), KnnSpec asserts the hard bound
    // on a skewed corpus
    "semantic_cluster_audit" -> ((s, d) => {
      val e = Knn.emb(s, d)
      Knn.semanticClusterAudit(e,
        n = graft.similarity.LshBuckets.corpusSize(e, s"emb:$d"))
    }),
    // ── F. similarity ─────────────────────────────────────────────────
    "knn_brute" -> ((s, d) =>
      Knn.brute(Knn.emb(s, d), col("vec_id") < 5, k = 10)),
    // int8-quantized search (8× smaller resident corpus); oracle-checked
    // since r12: the codes are floor-half-up over identical IEEE
    // expressions, the dot is exact integer arithmetic (≤127²·dim ≪
    // 2^53, so DuckDB's double list math is exact), and the displayed
    // score is floor-half-up + one division — no float round() anywhere,
    // so rank order and row membership reproduce bit-exactly; KnnSpec
    // additionally bounds recall vs float brute
    "knn_quantized" -> ((s, d) =>
      Knn.bruteQuantized(Knn.emb(s, d), col("vec_id") < 5, k = 10)),
    "knn_lsh" -> ((s, d) => {
      val e = Knn.emb(s, d)
      Knn.lsh(e, col("vec_id") < 20, k = 5,
        n = graft.similarity.LshBuckets.corpusSize(e, s"emb:$d"))
    }),
    "knn_ivf" -> ((s, d) =>
      Knn.ivf(Knn.emb(s, d), col("vec_id") < 5, k = 10)),
    // ANN quality accounting: recall@k of the probe path vs brute on
    // the same probes — the number that decides nprobe/nlist tuning
    // and index rebuilds; rows-only (k-means isn't ANSI-expressible)
    "knn_recall_audit" -> ((s, d) =>
      Knn.ivfRecallAudit(Knn.emb(s, d), col("vec_id") < 5, k = 10)),
    // the same audit over the PRODUCTION path: persisted quantized
    // lists vs quantized brute — identical integer chain both sides,
    // so the number isolates what the list pruning costs
    "knn_recall_audit_quantized" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_ivfq_audit")
      Staged.drop(s, tbl)
      Knn.ivfQuantizedRecallAudit(s, Knn.emb(s, d), tbl, path,
        col("vec_id") < 5, k = 10)
    }),
    // the offline-index story end-to-end: build the IVF index as a
    // BUCKETED external table (bucketBy c_id — the index side of the
    // search join arrives pre-partitioned, zero Exchange), then search
    // the PERSISTED table with no retraining; rows-only (seeded k-means
    // isn't ANSI-expressible), KnnSpec asserts the one-Exchange plan,
    // the bucketed scan, and recall vs brute
    "knn_ivf_persisted" -> ((s, d) => {
      val e = Knn.emb(s, d)
      val (tbl, path) = runScopedTable(s, d, "graft_ivf_persisted")
      Staged.drop(s, tbl)
      val centroids = Knn.writeIvfIndex(e, tbl, path, nlist = 10, buckets = 8)
      Knn.searchIvfIndex(s, tbl, centroids,
        e.filter(col("vec_id") < 5), k = 10)
    }),
    // ANN delta-append (r18 verdict #1 — the last full-rebuild wall):
    // base IVF index built on a ~3/4 md5 vector split, the remaining
    // ~1/4 appended as a DELTA assigned to the FROZEN centroids (the
    // appendDocVectorIndexDelta frozen-model posture on Knn.writeIvfIndex
    // — a daily crawl never pays the weekly re-cluster), probe scores
    // base and delta as separate c_id equijoins (the base scan keeps
    // its bucketed zero-Exchange plan) into one bounded rank; rows-only
    // (seeded k-means), DeltaIndexSpec pins nprobe = nlist ≡ brute over
    // the union corpus, merge transparency, staleness, and the
    // disjointness/alignment fences
    "knn_ivf_delta" -> ((s, d) => {
      val e = Knn.emb(s, d)
      val (tbl, path) = runScopedTable(s, d, "graft_ivf_delta")
      Staged.drop(s, tbl)
      val isDeltaV = substring(md5(concat_ws(":",
        col("vec_id").cast("string"), lit("ivfd"))), 1, 1) >= "c"
      val centroids = Knn.writeIvfIndex(e.filter(!isDeltaV), tbl, path,
        nlist = 10, buckets = 8)
      Knn.appendIvfIndexDelta(e.filter(isDeltaV), tbl, path, centroids)
      Knn.searchIvfIndexDelta(s, tbl, centroids,
        e.filter(col("vec_id") < 5), k = 10)
    }),
    // list-balance audit over the persisted quantized index (the
    // rebalance_audit discipline on inverted lists): max-over-ideal
    // milli — the probe-tail-latency / rebuild-after-drift signal; one
    // bucketed-scan hash agg, rows-only (seeded k-means assignment),
    // KnnSpec proves conservation vs the index and the imbalance bound
    "ivf_balance_audit" -> ((s, d) => {
      val e = Knn.emb(s, d)
      val (tbl, path) = runScopedTable(s, d, "graft_ivf_balance")
      Staged.drop(s, tbl)
      Knn.writeIvfIndexQuantized(e, tbl, path, nlist = 10, buckets = 8)
      Knn.ivfBalanceAudit(s, tbl)
    }),
    // the int8 codes COMPOSED into the persisted IVF index (the
    // IVF-PQ-shaped production layout): float-space centroid training
    // and assignment offline, but the bucketed inverted lists store
    // only quantized codes (8× smaller resident index) and the probe
    // equijoin scores with the integer ByteDot kernel; rows-only
    // (seeded k-means + quantization isn't ANSI-expressible), KnnSpec
    // bounds recall vs the float IVF and asserts the bucketed
    // zero-index-Exchange plan carries over
    "knn_ivf_quantized" -> ((s, d) => {
      val e = Knn.emb(s, d)
      val (tbl, path) = runScopedTable(s, d, "graft_ivf_quantized")
      Staged.drop(s, tbl)
      val centroids = Knn.writeIvfIndexQuantized(e, tbl, path,
        nlist = 10, buckets = 8)
      Knn.searchIvfIndexQuantized(s, tbl, centroids,
        e.filter(col("vec_id") < 5), k = 10)
    }),
    // the NINTH persisted-index family: IVF-PQ — coarse inverted lists
    // persisted bucketed by c_id, rows carry m-code PRODUCT-quantized
    // arrays (dim/m× smaller than int8 — the index that stays
    // executor-resident at 100 TB), probes score candidates with the
    // O(m) PqAdcScore table-lookup kernel against a per-query LUT;
    // rows-only (seeded k-means + PQ encode aren't ANSI-expressible),
    // PqSpec plants prototype corpora (exact recall at nprobe=nlist),
    // pins code determinism, and fences the bucketed zero-Exchange plan
    "knn_pq" -> ((s, d) => {
      val e = Knn.emb(s, d)
      val (tbl, path) = runScopedTable(s, d, "graft_ivf_pq")
      val (coarse, codebook) = Knn.writeIvfPqIndex(e, tbl, path, nlist = 10)
      Knn.searchIvfPq(s, tbl, coarse, codebook,
        e.filter(col("vec_id") < 5), k = 10)
    }),
    // generation accounting for the ANN delta (r24 — the
    // text_index_delta_audit sibling, so every delta family carries
    // its merge-scheduling ops row): stored-vector masses + the
    // integer half-up milli share; counts are pure functions of the
    // corpus, the md5 split, and the finiteNorm fence — full SQL
    // oracle (the established list_dot_product fence expression)
    "ivf_delta_audit" -> ((s, d) => {
      val e = Knn.emb(s, d)
      val (tbl, path) = runScopedTable(s, d, "graft_ivf_dltaud")
      Staged.drop(s, tbl)
      val isDeltaV = substring(md5(concat_ws(":",
        col("vec_id").cast("string"), lit("ivfd"))), 1, 1) >= "c"
      val centroids = Knn.writeIvfIndex(e.filter(!isDeltaV), tbl, path,
        nlist = 10, buckets = 8)
      Knn.appendIvfIndexDelta(e.filter(isDeltaV), tbl, path, centroids)
      Knn.ivfDeltaAudit(s, tbl)
    }),
    // the ANN delta at the memory-scale end of the ladder (r24 — the
    // r18 verdict #1 completed across all three IVF layouts): delta
    // vectors assigned to the FROZEN coarse centroids and ENCODED with
    // the FROZEN codebook (both resolved by name from the live side
    // tables; retraining is the full-rebuild cadence), probe scores
    // base and delta code lists as separate c_id equijoins into one
    // bounded rank; rows-only (seeded k-means + PQ), DeltaIndexSpec
    // pins planted-twin serving, merge transparency, staleness, fences
    "knn_pq_delta" -> ((s, d) => {
      val e = Knn.emb(s, d)
      val (tbl, path) = runScopedTable(s, d, "graft_pq_delta")
      Staged.drop(s, tbl)
      val isDeltaV = substring(md5(concat_ws(":",
        col("vec_id").cast("string"), lit("ivfd"))), 1, 1) >= "c"
      Knn.writeIvfPqIndex(e.filter(!isDeltaV), tbl, path, nlist = 10)
      Knn.appendIvfPqIndexDelta(e.filter(isDeltaV), tbl, path)
      Knn.searchIvfPqDelta(s, tbl, e.filter(col("vec_id") < 5), k = 10)
    }),
    // recall@k of the PQ probe vs float brute on the same probes — the
    // (m, ksub, nprobe) tuning row; unlike the int8 audit this number
    // confounds pruning with quantization error BY DESIGN (PQ is lossy):
    // it is the memory-for-recall exchange rate a pipeline watches
    "pq_recall_audit" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_pq_audit")
      Knn.pqRecallAudit(s, Knn.emb(s, d), tbl, path,
        col("vec_id") < 5, k = 10)
    }),
    // code-space health per subspace: dead codes (trained, never
    // assigned — wasted LUT entries), occupancy extremes, imbalance
    // milli — a collapsed subspace contributes ~zero bits and recall
    // decays silently while search "works"; the retrain signal
    "pq_code_balance" -> ((s, d) => {
      val e = Knn.emb(s, d)
      val (tbl, path) = runScopedTable(s, d, "graft_pq_balance")
      val (_, codebook) = Knn.writeIvfPqIndex(e, tbl, path, nlist = 10)
      Knn.pqCodeBalance(s, tbl, codebook)
    }),
    // corpus clustering over embeddings (seeded k-means + min_by
    // assignment); rows-only (centroid ids are hash-derived), KnnSpec
    // asserts coverage and determinism
    // per-vector centroid affinity (prototype-affinity pruning signal):
    // cosine of each vector's int8 codes against its label's centroid
    // code sum — integer-exact chain, raw integer dot rides along as
    // the downstream membership key
    "emb_centroid_affinity" -> ((s, d) =>
      Knn.embCentroidAffinity(Knn.emb(s, d))),
    // the flagged tail: dot < 0 (an INTEGER membership predicate) —
    // vectors pointing away from their own label's centroid, the
    // likely-mislabeled / out-of-distribution review queue
    "emb_outliers" -> ((s, d) => Knn.embOutliers(Knn.emb(s, d))),
    // per-label silhouette-shaped audit: cohesion (exact integer-e4
    // mean affinity) vs separation (nearest other centroid via integer
    // argmax; oracle formulates the argmax as a window)
    "emb_cluster_quality" -> ((s, d) =>
      Knn.embClusterQuality(Knn.emb(s, d))),
    // nearest-centroid classifier eval: WHICH labels absorb each
    // other's mass (off-diagonal = the relabel queue); all-centroid
    // integer scoring, max_by argmax vs the oracle's window
    "centroid_confusion" -> ((s, d) =>
      Knn.centroidConfusion(Knn.emb(s, d))),
    // dead/collapsed-dimension detector: exact per-dim code moments +
    // the integer zero-variance predicate
    "emb_dim_stats" -> ((s, d) => Knn.embDimStats(Knn.emb(s, d))),
    // exact integer Gram over the quantized code space: one row per
    // dim pair, the raw material of geometry health; in-plan overflow
    // fence (momentGuard posture)
    "emb_gram" -> ((s, d) => Knn.embGram(Knn.emb(s, d))),
    // dominant-eigenvalue share of the Gram (collapse detector):
    // deterministic fixed-round power iteration over the exact integer
    // table, driver side is O(dim²) on a require-bounded matrix;
    // rows-only (eigen isn't ANSI) — spec plants rank-1 vs isotropic
    "emb_anisotropy" -> ((s, d) => Knn.embAnisotropy(Knn.emb(s, d))),
    // semi-supervised label propagation: unlabeled vectors adopt the
    // majority label among τ-near labeled neighbors — quantized integer
    // scoring chain + integer votes + (count desc, label asc) winner,
    // so the prediction sits under the hash gate; no-neighbor vectors
    // abstain (no row)
    "knn_label_prop" -> ((s, d) => Knn.labelPropagation(Knn.emb(s, d))),
    // the sign-off confusion rollup; oracle embeds the per-vector SQL
    // verbatim (the domain_classifier_eval discipline)
    "knn_label_prop_eval" -> ((s, d) =>
      Knn.labelPropagationEval(Knn.emb(s, d))),
    // the 100 TB path: labeled slice persisted as the bucketed quantized
    // IVF code index, unlabeled vectors probe nprobe lists, same vote
    // rollup; rows-only (probe recall is k-means-assignment-dependent —
    // KnnSpec proves vote-pair subset with bit-identical scores)
    "knn_label_prop_ivf" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_label_prop_ivf")
      Knn.labelPropagationIvf(s, Knn.emb(s, d), tbl, path)
    }),
    // contrastive-curation mining: per anchor (vec_id % 25 slice) the
    // hardest same-label positive and hardest different-label negative
    // from the non-anchor pool — knn_quantized integer e4 scores,
    // struct-min argmin/argmax with deterministic ties (oracle runs the
    // row_number formulation), integer margin + is_hard flag
    "triplet_mine" -> ((s, d) => Knn.tripletMine(Knn.emb(s, d))),
    // per-label triplet sign-off: hard share (half-up milli) + exact
    // margin sum/min/max; oracle embeds the triplet SQL verbatim
    "triplet_stats" -> ((s, d) => Knn.tripletStats(Knn.emb(s, d))),
    // the 100 TB path: non-anchor pool persisted as the bucketed
    // quantized IVF code index, anchors probe nprobe lists, identical
    // rollup; rows-only (probe recall is k-means-assignment-dependent —
    // KnnSpec proves row-identity to brute at nprobe = nlist)
    "triplet_mine_ivf" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_triplet_ivf")
      Knn.tripletMineIvf(s, Knn.emb(s, d), tbl, path)
    }),
    "emb_clusters" -> ((s, d) => Knn.clusterStats(Knn.emb(s, d))),
    // per-label quantized-centroid drift vs the corpus centroid (the
    // embedding dual of quality_drift): integer code sums end to end,
    // corpus sums rolled up from label sums in one pass, NaN fenced by
    // integer s2/c2 > 0 guards, one floor-half-up double expression
    "emb_drift_quantized" -> ((s, d) =>
      Knn.embDriftQuantized(Knn.emb(s, d))),
    // occupancy/drop accounting for the hyperplane-LSH paths: per hash
    // table, memberships in/kept/dropped and the realized max final
    // bucket occupancy — the auditable guarantee that the LSH candidate
    // join stays linear (LshSpec asserts the bound on a skewed corpus)
    "lsh_bucket_audit" -> ((s, d) => {
      val e = Knn.emb(s, d)
      graft.similarity.LshBuckets.audit(e,
        planes = graft.similarity.LshBuckets.adaptivePlanes(
          graft.similarity.LshBuckets.corpusSize(e, s"emb:$d")),
        tables = 4, maxOccupancy = 4096L)
    }),
    // ── G. text ───────────────────────────────────────────────────────
    "text_stats" -> ((s, d) => TextOps.stats(docs(s, d))),
    "text_quality" -> ((s, d) => TextOps.quality(docs(s, d))),
    "token_count" -> ((s, d) => TextOps.tokenCountBySource(docs(s, d))),
    // tokenizer-sizing fertility table: BPE-ish tokens per whitespace
    // word and chars per subword token, half-up integer millis per
    // (lang, source) cell
    "tok_fertility" -> ((s, d) =>
      graft.text.TextProfile.tokFertility(docs(s, d))),
    // char-class entropy junk detector: per-doc class counts, snapped-ln
    // entropy, integer-predicate junk flag
    "char_entropy" -> ((s, d) =>
      graft.text.TextProfile.charEntropy(docs(s, d))),
    // per-source PII triage: exact email/long-digit match counts (the
    // text_redact patterns verbatim) + half-up milli share of affected
    // docs — decides where the redaction rewrite must run
    "pii_density" -> ((s, d) =>
      graft.text.TextProfile.piiDensity(docs(s, d))),
    // quality-gate calibration: per q4 quarter, the exact-dup member
    // share — does the gate anti-correlate with duplication? q4 and
    // digest definitions reused verbatim
    "quality_calibration" -> ((s, d) =>
      graft.text.TextProfile.qualityCalibration(docs(s, d))),
    // Zipf rank-frequency fit per lang: top-100 via the bounded
    // MinKByKey agg (no window/sort — the sample_exact_k doctrine;
    // the window formulation is the oracle), integer least squares
    // over milli-snapped ln(rank)/ln(cnt)
    "zipf_audit" -> ((s, d) =>
      graft.text.TextProfile.zipfAudit(docs(s, d))),
    // REAL trained-merge-table BPE token accounting; rows-only (the
    // iterative merge training isn't ANSI-expressible — TextSpec proves
    // the segmentation invariants and known merges on a planted corpus)
    "token_count_bpe" -> ((s, d) => TextOps.tokenCountBpe(docs(s, d))),
    // the persisted-model shape: train + write the merge table once
    // (build phase), then tokenize against the frozen bucketed vocab
    // (probe); result-identical to token_count_bpe (TextSpec parity),
    // rows-only like it
    "token_count_bpe_persisted" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_bpe_model")
      Staged.drop(s, tbl)
      TextOps.writeBpeModel(docs(s, d), tbl, path)
      TextOps.tokenCountBpeIndexed(s, tbl, docs(s, d))
    }),
    "lang_id" -> ((s, d) => TextOps.langId(docs(s, d))),
    // classifier-quality rollup: (true lang, predicted lang, count)
    "lang_id_confusion" -> ((s, d) => TextOps.langIdConfusion(docs(s, d))),
    "vocab_topk" -> ((s, d) => TextOps.vocabTopK(docs(s, d), k = 50)),
    // per-source lexical health: types/hapax/TTR + dominant token via
    // min_by argmax (oracle runs the window formulation)
    "vocab_audit" -> ((s, d) => TextOps.vocabAudit(docs(s, d))),
    // cross-source vocabulary redundancy: shared vs exclusive types and
    // token mass, one checkpointed (source, word) pass
    "vocab_overlap" -> ((s, d) => TextOps.vocabOverlap(docs(s, d))),
    // marginal vocabulary attribution in the deterministic greedy order
    // (doc count desc, source asc): every word type belongs to the
    // FIRST-ranked source containing it — the add/drop decision input
    // vocab_overlap's symmetric shares can't answer; argmin aggregate
    // per word (never a vocabulary window), cumulative over |sources|
    "source_novelty" -> ((s, d) => TextOps.sourceNovelty(docs(s, d))),
    // OOV drift audit: test-split token/type mass not covered by the
    // df-banded train-split vocabulary (the splitAssign split verbatim)
    "vocab_coverage" -> ((s, d) => TextOps.vocabCoverage(docs(s, d))),
    // freeze-once/score-per-batch: the df-banded train vocabulary as a
    // persisted bucketed table (Staged rebuild), probed by the SAME
    // rollup — round-trip transparent to the result (shares the
    // vocab_coverage oracle verbatim; the dedup_incremental posture)
    "vocab_coverage_persisted" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_vocab_idx")
      Staged.drop(s, tbl)
      TextOps.writeVocabIndex(docs(s, d), tbl, path)
      TextOps.vocabCoverageIndexed(s, tbl, docs(s, d))
    }),
    // per-doc OOV tagger against the frozen vocab — the batch scorer
    // the live OOV monitor replays per micro-batch; token masses are
    // per-doc additive, which is what makes the stream dual exact
    "oov_tag" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_vocab_tag")
      Staged.drop(s, tbl)
      TextOps.writeVocabIndex(docs(s, d), tbl, path)
      TextOps.oovTag(s, tbl, docs(s, d))
    }),
    // context-window sizing sweep: fit/split/chunks/padding/utilization
    // per (source, W) over a candidate window grid
    "context_fit" -> ((s, d) => TextOps.contextFit(docs(s, d))),
    // exact tokens above corpus-freq n/k; Misra–Gries-pruned shuffle,
    // output provably identical to the naive full groupBy (the oracle)
    "heavy_hitters" -> ((s, d) => TextOps.heavyHitters(docs(s, d), k = 100)),
    // per-source mean-quality drift z (the crawl-batch quality monitor)
    // per-lang collocation dictionary: adjacent-bigram PMI over exact
    // left/right marginals, snapped ln, integer-stable membership
    "word_assoc" -> ((s, d) => TextOps.wordAssoc(docs(s, d))),
    // per-doc collocation hit density vs the word_assoc dictionary:
    // multiset counts + integer half-up milli ratio
    "phrase_density" -> ((s, d) => TextOps.phraseDensity(docs(s, d))),
    // boilerplate SPAN detection (the CCNet frequent-line recipe at
    // token-shingle granularity): the global high-DF k-gram template
    // dictionary — human-readable (literal spans, no hashing), exact
    // distinct-doc counts
    "boilerplate_spans" -> ((s, d) =>
      graft.text.Boilerplate.boilerplateSpans(docs(s, d))),
    // per-doc template tagging against the dictionary: gram positions,
    // template positions, half-up milli ratio — the strip/down-weight
    // signal upstream of near-dup scoring
    "boilerplate_tag" -> ((s, d) =>
      graft.text.Boilerplate.boilerplateTag(docs(s, d))),
    // per-source template-mass accounting + global dictionary size;
    // oracle embeds the tag derivation verbatim
    "boilerplate_audit" -> ((s, d) =>
      graft.text.Boilerplate.boilerplateAudit(docs(s, d))),
    // the persisted-dictionary shape (NINTH persisted family): freeze
    // the template dictionary once (build), tag any batch against the
    // frozen bucketed table (probe) — result-identical to
    // boilerplate_tag, so the oracle is kept verbatim
    "boilerplate_tag_persisted" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_bp_index")
      graft.text.Boilerplate.writeBoilerplateIndex(docs(s, d), tbl, path)
      graft.text.Boilerplate.boilerplateTagIndexed(s, tbl, docs(s, d))
    }),
    "quality_drift" -> ((s, d) => TextOps.qualityDrift(docs(s, d))),
    "pipeline_curate" -> ((s, d) =>
      TextOps.curate(docs(s, d), minQuality = 0.5)),
    // the FULL production chain as one composition: quality → exact →
    // substring-CC → minhash-CC → substring decontamination → source
    // balance → sequence packing; rows-only (LSH/winnowing stages aren't
    // ANSI-expressible — each stage is oracle-checked individually by
    // its own row), TextSpec asserts the stage-subset invariants
    "pipeline_full" -> ((s, d) => TextOps.curateFull(docs(s, d))),
    "doc_length_hist" -> ((s, d) =>
      TextOps.lengthHistogram(docs(s, d), width = 100)),
    "split_assign" -> ((s, d) =>
      TextOps.splitAssign(docs(s, d), trainSixteenths = 13)),
    "doc_sample" -> ((s, d) =>
      TextOps.stratifiedSample(docs(s, d), fraction = 0.2)),
    // crawl-refresh diff: per-doc added/removed/changed/unchanged over
    // two snapshots (synthetic here — membership/mutation are pure
    // md5-nibble functions of doc_id, so the oracle derives the same
    // snapshots); one full-outer doc_id equijoin, exact digest compare
    "crawl_diff" -> ((s, d) => graft.text.CrawlDiff.diff(
      graft.text.CrawlDiff.syntheticOld(docs(s, d)),
      graft.text.CrawlDiff.syntheticCurrent(docs(s, d)))),
    // hashed-feature distribution drift between two crawl eras (the
    // value_drift monitor on the DSIR bucket space): flagged buckets
    // via exact DECIMAL(38,0)/HUGEINT share cross-multiplication;
    // monitor table bounded at 16^3 rows at any corpus size. Era
    // membership is a pure md5-nibble function of doc_id (the
    // crawl_diff synthetic-snapshot discipline), so the oracle derives
    // identical eras. Display micros are BIGINT-safe while a single
    // bucket's mass stays under 4.6e12 occurrences (half the corpus in
    // one of 4096 buckets — unreachable under the md5 hash)
    "feature_drift" -> ((s, d) => {
      val dd = docs(s, d)
      val isOld = substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("era"))), 1, 1) < "c"
      graft.text.Dsir.featureDrift(dd.filter(isOld), dd.filter(!isOld))
    }),
    // the refresh report: counts per (status, lang) — oracle embeds the
    // diff SQL verbatim (the reportBlock one-definition discipline)
    "crawl_diff_report" -> ((s, d) => graft.text.CrawlDiff.report(
      graft.text.CrawlDiff.syntheticOld(docs(s, d)),
      graft.text.CrawlDiff.syntheticCurrent(docs(s, d)))),
    // the crawl-scheduler feed: added/changed ranked by integer
    // quality-first priority
    "recrawl_priority" -> ((s, d) => graft.text.CrawlDiff.recrawlPriority(
      graft.text.CrawlDiff.syntheticOld(docs(s, d)),
      graft.text.CrawlDiff.syntheticCurrent(docs(s, d)), docs(s, d))),
    // crawl-day assignment under a fetches-per-day budget: the queue
    // cut into budget-sized days at (priority, hex4) group granularity
    // — the budget_cut posture; grid-only window (zero-sort)
    "recrawl_schedule" -> ((s, d) => graft.text.CrawlDiff.recrawlSchedule(
      graft.text.CrawlDiff.syntheticOld(docs(s, d)),
      graft.text.CrawlDiff.syntheticCurrent(docs(s, d)), docs(s, d))),
    // deterministic passage chunking: non-overlapping 32-word windows
    // with a content digest per window (the RAG / training-loader cut
    // between whole-doc dedup and substring anchors); pure integer grid
    // + md5 arithmetic, so chunk identity is engine-exact
    "chunk_assign" -> ((s, d) => graft.text.Chunks.chunkAssign(docs(s, d))),
    // passage-granular BM25: the chunk-corpus relation fed to the SAME
    // bm25 scorer verbatim (per-chunk length normalization — a long doc
    // can't drown its one matching passage); composite id decoded back
    // to (doc_id, chunk_idx); oracle = the bm25 SQL instantiated over
    // the chunk relation
    "chunk_search" -> ((s, d) => graft.text.Chunks.chunkSearch(
      docs(s, d), Seq("vector", "stream", "window", "hash"))),
    // PASSAGE-granular semantic retrieval (r15, r14 verdict #7) — the
    // semantic sibling of chunk_search, closing the lexical/semantic
    // asymmetry at chunk granularity: the chunk corpus (chunkDocs — the
    // composite-id relation) feeds the doc_similar PERSISTED vector
    // machinery VERBATIM (writeDocVectorIndex + docSimilarPersisted:
    // banded vocab, integer tf·idf weights, sorted-key merge kernel),
    // so a query doc's chunks retrieve the corpus passages nearest
    // each of them with zero corpus re-tokenization at probe time; the
    // query slice is 2/16 of UNDERLYING docs (all chunks of a sampled
    // doc probe together — the RAG arrival shape); composite ids
    // decode back to (doc, chunk) on both sides; oracle = the
    // inverted-index pair formulation instantiated over the chunk
    // relation (docSimilarSqlFrom — the parameterized-CTE discipline),
    // directed to in-slice endpoints
    "chunk_similar_persisted" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_chunk_vec")
      Staged.drop(s, tbl)
      val cd = graft.text.Chunks.chunkDocsTok(docs(s, d))
      TextOps.writeDocVectorIndex(cd, tbl, path)
      TextOps.docSimilarPersisted(s, cd, tbl, s"${tbl}_vocab",
          substring(md5(concat_ws(":",
            expr("CAST(doc_id div 1048576 AS STRING)"), lit("cmlt"))),
            1, 1) < "2", tau = 0.8)
        .select(col("lang"),
          expr("doc_id div 1048576").as("doc_id"),
          expr("doc_id % 1048576").as("chunk_idx"),
          expr("similar_id div 1048576").as("similar_doc"),
          expr("similar_id % 1048576").as("similar_idx"),
          col("score"))
    }),
    // PASSAGE-granular HYBRID retrieval (r16 verdict #2): the chunk
    // BM25 member and a chunk-cosine member (the query string
    // vectorized per lang against the FROZEN chunk vocabulary — the
    // standing-query posture on the vector index) fused with the
    // identical integer RRF arithmetic; BOTH member rankings are
    // bounded MinKByKey global cuts (never a corpus sort); the oracle
    // composes the whole serving path in one SQL
    "chunk_hybrid_rrf" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_chunk_hyb_vec")
      Staged.drop(s, tbl)
      // ONE chunk relation feeds the index build AND both members —
      // the grid cannot diverge between them (the composite-id fence)
      val cd = graft.text.Chunks.chunkDocsTok(docs(s, d))
      TextOps.writeDocVectorIndex(cd, tbl, path)
      graft.text.Chunks.chunkHybridRrf(s, cd, tbl, s"${tbl}_vocab")
    }),
    // the serving path ENTIRELY from persisted artifacts (r17 verdict
    // #4's batch half): lexical member = persisted chunk-postings
    // probe, semantic member = frozen chunk-vocab query vectorization
    // — ZERO corpus passes at query time, so per-query cost is
    // corpus-size-independent (what the live dual replays verbatim);
    // every hop transparent, shares chunk_hybrid_rrf's oracle
    "chunk_hybrid_serve" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_chunk_hyb_srv")
      Staged.drop(s, tbl)
      Staged.drop(s, s"${tbl}_post")
      // ONE chunk relation feeds BOTH index builds (checkpointed —
      // never re-chunk the corpus per consumer)
      val cd = graft.text.Chunks.chunkDocsTok(docs(s, d))
        .localCheckpoint(true)
      TextOps.writeDocVectorIndex(cd, tbl, path)
      TextOps.writeTextIndex(cd.select(col("doc_id"), col("toks")),
        s"${tbl}_post", s"${path}_post")
      graft.text.Chunks.chunkHybridServe(s, s"${tbl}_post", tbl,
        s"${tbl}_vocab")
    }),
    // chunk-granular DELTA retrieval (r24, r18 verdict #2 — the chunk
    // tokenize is the most expensive build in the tree; a crawl batch
    // must extend the chunk indexes without re-paying it): base chunk
    // postings built on the ~3/4 doc split, the delta docs' chunks
    // appended ALONE (chunk ids disjoint because the doc split is),
    // probed base ∪ delta — result-identical to chunk_search over the
    // union corpus, sharing its oracle verbatim (text_search_delta's
    // transparency at chunk granularity)
    "chunk_search_delta" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_chunk_sdlt")
      Staged.drop(s, tbl)
      val dd = docs(s, d)
      val isDelta = substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("dsd"))), 1, 1) >= "c"
      TextOps.writeTextIndex(
        graft.text.Chunks.chunkDocsTok(dd.filter(!isDelta))
          .select(col("doc_id"), col("toks")), tbl, path)
      TextOps.appendTextIndexDelta(
        graft.text.Chunks.chunkDocsTok(dd.filter(isDelta))
          .select(col("doc_id"), col("toks")), tbl, path)
      graft.text.Chunks.chunkSearchDelta(s, tbl,
        Seq("vector", "stream", "window", "hash"))
    }),
    // the passage-hybrid serving pair over base ∪ delta on BOTH
    // members (r24): delta chunks appended to the chunk postings AND
    // (frozen-base-vocab) to the chunk vector index, lexical member =
    // searchIndexDelta (exact), semantic member =
    // docSimilarPersistedDelta (frozen-vocab contract), fusion
    // untouched; oracle = the chunk-hybrid SQL with its vocabulary
    // CTEs instantiated over the base split only (the doc_similar_delta
    // two-relation parameterized-CTE posture)
    "chunk_hybrid_serve_delta" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_chunk_hyb_dlt")
      Staged.drop(s, tbl)
      Staged.drop(s, s"${tbl}_post")
      val dd = docs(s, d)
      val isDelta = substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("dsd"))), 1, 1) >= "c"
      // ONE chunk relation per split feeds both index writers (the
      // chunk_hybrid_serve checkpoint discipline)
      val cdBase = graft.text.Chunks.chunkDocsTok(dd.filter(!isDelta))
        .localCheckpoint(true)
      val cdDelta = graft.text.Chunks.chunkDocsTok(dd.filter(isDelta))
        .localCheckpoint(true)
      TextOps.writeDocVectorIndex(cdBase, tbl, path)
      TextOps.appendDocVectorIndexDelta(cdDelta, tbl, path)
      TextOps.writeTextIndex(cdBase.select(col("doc_id"), col("toks")),
        s"${tbl}_post", s"${path}_post")
      TextOps.appendTextIndexDelta(
        cdDelta.select(col("doc_id"), col("toks")),
        s"${tbl}_post", s"${path}_post")
      graft.text.Chunks.chunkHybridServeDelta(s, s"${tbl}_post", tbl,
        s"${tbl}_vocab")
    }),
    // chunk-granular dedup (the C4 repeated-lines recipe on the window
    // grid): one keeper per distinct window content corpus-wide — the
    // lexicographic-min (doc_id, chunk_idx) rule, so intra-doc repeats
    // dedup too; per-doc survival accounting
    "chunk_dedup" -> ((s, d) => graft.text.Chunks.chunkDedup(docs(s, d))),
    // incremental chunk dedup: a ~3/16 md5-drawn shard probes the
    // PERSISTED corpus chunk-digest index (bucketed by digest — no
    // corpus-side Exchange) and reports seen-vs-novel mass per doc; the
    // digest round trip is transparent, so the oracle reproduces the
    // whole persisted pipeline relationally
    "chunk_dedup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      val (tbl, path) = runScopedTable(s, d, "graft_chunk_index")
      Staged.drop(s, tbl)
      val isShard = expr(
        "substring(md5(concat_ws(':', cast(doc_id as string), 'shard')), " +
          "1, 1) < '3'")
      val dd = docs(s, d)
      graft.text.Chunks.writeChunkIndex(dd.filter(!isShard), tbl, path)
      graft.text.Chunks.chunkDedupIncremental(s, tbl, dd.filter(isShard))
    }),
    "doc_fingerprint" -> ((s, d) => TextOps.fingerprint(docs(s, d))),
    "repetition_stats" -> ((s, d) => TextOps.repetitionStats(docs(s, d))),
    "lm_score" -> ((s, d) => TextOps.lmScore(docs(s, d))),
    "lm_score_bigram" -> ((s, d) => TextOps.lmScoreBigram(docs(s, d))),
    // the EIGHTH persisted-index family: the bigram LM frozen as a
    // (w1, w2, c2, c1) table bucketed by w1 — probe equijoin with zero
    // model-side Exchange; round-trip transparent, shares the
    // lm_score_bigram oracle verbatim
    "lm_score_persisted" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_lm_model")
      Staged.drop(s, tbl)
      TextOps.writeLmIndex(docs(s, d), tbl, path)
      TextOps.lmScoreIndexed(s, tbl, docs(s, d))
    }),
    // BM25 ranked keyword retrieval; per-term contributions rounded to
    // integer micro-units before the per-doc sum so summation order
    // can't flip the rounded score (oracle repeats the identical IEEE
    // expression)
    "text_search_bm25" -> ((s, d) => TextOps.bm25Search(docs(s, d),
      Seq("vector", "stream", "window", "hash"))),
    // per-doc top-3 tf-idf keywords; rank on the ROUNDED score with a
    // term-asc tie-break so the cut is engine-stable
    "doc_keywords" -> ((s, d) => TextOps.docKeywords(docs(s, d))),
    // doc-to-doc tf-idf cosine pairs over the df-banded vocabulary
    // (inverted-index self-join; the corpus-share stop band df·10 ≤
    // 9·n_docs is an integer predicate and part of the score
    // definition — not a lossy prune); integer weights/dot/norms, one
    // final double expression, NaN fenced by an integer n2 > 0 guard
    "doc_similar" -> ((s, d) => TextOps.docSimilar(docs(s, d))),
    // the 100 TB path with a PROVABLY identical result: prefix-filtered
    // candidate join (sound Cauchy–Schwarz suffix-norm prune, AllPairs/
    // PPJoin specialized to cosine) + the same kernel scoring over full
    // vectors; shares doc_similar's oracle (spec proves row equality)
    "doc_similar_prefix" -> ((s, d) =>
      TextOps.docSimilarPrefix(docs(s, d))),
    // the per-doc serving cut: symmetrized pairs ranked on the
    // 1e-4-grid score with an id tie-break (deterministic k-boundary)
    "doc_similar_topk" -> ((s, d) => TextOps.docSimilarTopK(docs(s, d))),
    // the serving cut RIDING THE 100 TB PAIR SOURCE: same cut, pairs
    // from the prefix-filtered join — the composition a web-scale
    // pipeline actually runs (a dominant language makes the lang block
    // quadratic; prefix candidates stay τ-bounded); oracle-checked with
    // the same SQL as doc_similar_topk (row-identical pair sources)
    "doc_similar_topk_prefix" -> ((s, d) =>
      TextOps.docSimilarTopKFrom(TextOps.docSimilarPrefix(docs(s, d)))),
    // more-like-this over the PERSISTED vector index: a query slice
    // vectorized against the frozen vocab, scored against the stored
    // corpus vectors — zero corpus tokenization at probe time; oracle
    // = the inverted-index pair formulation restricted to slice
    // endpoints, served directed
    "doc_similar_persisted" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_doc_vec")
      Staged.drop(s, tbl)
      TextOps.writeDocVectorIndex(docs(s, d), tbl, path)
      TextOps.docSimilarPersisted(s, docs(s, d), tbl, s"${tbl}_vocab",
        substring(md5(concat_ws(":", col("doc_id").cast("string"),
          lit("mlt"))), 1, 1) < "4")
    }),
    // pseudo-relevance-feedback query expansion (RM3-style, r21): mine
    // the seed query's top-k0 docs for their top tf-idf-mass terms
    // (seed excluded, df floor), re-run BM25 with the union; every cut
    // is integer-or-grid, both global top-k cuts are bounded MinKByKey
    // aggregates (never a corpus sort)
    "prf_terms" -> ((s, d) => graft.text.Prf.prfTerms(docs(s, d))),
    "search_prf" -> ((s, d) => graft.text.Prf.searchPrf(docs(s, d))),
    // the expanded search served ENTIRELY from the persisted postings
    // index (r16 verdict #3): seed ranking, expansion mining, and the
    // expanded BM25 are all bucketed index probes — the corpus is
    // tokenized ZERO times at query time (vs three ad-hoc tokenize
    // passes); shares search_prf's oracle (transparent index hop)
    "search_prf_persisted" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_prf_index")
      Staged.drop(s, tbl)
      TextOps.writeTextIndex(docs(s, d), tbl, path)
      graft.text.Prf.searchPrfIndexed(s, tbl)
    }),
    // the mined expansion DICTIONARY served from the persisted index —
    // the artifact a pipeline stores next to the postings (the
    // word_assoc/vocab-as-model posture); shares prf_terms' oracle
    // (every tf/df/stat round-trips the index exactly)
    "prf_terms_persisted" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_prfd_index")
      Staged.drop(s, tbl)
      TextOps.writeTextIndex(docs(s, d), tbl, path)
      graft.text.Prf.prfTermsIndexed(s, tbl)
    }),
    // the WHOLE PRF serving chain over base ∪ delta (r23 — the delta
    // family composed with retrieval serving): seed ranking, expansion
    // mining, and the expanded search all probe the merged resolution
    // (indexWithDelta — one definition); transparent at every stage
    // (additive integer stats, the one scoring tail), so both rows
    // share the ad-hoc faces' oracles verbatim; PrfSpec pins the three
    // faces (ad-hoc, persisted full, base + delta) row-identical
    "search_prf_delta" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_prf_delta")
      Staged.drop(s, tbl)
      val dd = docs(s, d)
      val isDelta = substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("dsd"))), 1, 1) >= "c"
      TextOps.writeTextIndex(dd.filter(!isDelta), tbl, path)
      TextOps.appendTextIndexDelta(dd.filter(isDelta), tbl, path)
      graft.text.Prf.searchPrfDelta(s, tbl)
    }),
    "prf_terms_delta" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_prft_delta")
      Staged.drop(s, tbl)
      val dd = docs(s, d)
      val isDelta = substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("dsd"))), 1, 1) >= "c"
      TextOps.writeTextIndex(dd.filter(!isDelta), tbl, path)
      TextOps.appendTextIndexDelta(dd.filter(isDelta), tbl, path)
      graft.text.Prf.prfTermsDelta(s, tbl)
    }),
    // what the expansion changed vs the seed ranking: one exact-integer
    // overlap row (common/new/dropped at the cut + the seed's matched
    // population) — the off-topic-drift sanity number
    "expansion_eval" -> ((s, d) => graft.text.Prf.expansionEval(docs(s, d))),
    // HYBRID retrieval (RRF, r21): the doc_similar lexical member and
    // the embedding-cosine semantic member fused in exact integer
    // micro-units (1e9 div (60+rank), BIGINT sums) — rank windows run
    // over τ-bounded member lists, never the corpus; a single-member
    // candidate carries rank 0 on the other side (full-outer fusion);
    // oracle composes the two member formulations verbatim
    "hybrid_search_rrf" -> ((s, d) => graft.similarity.Hybrid
      .hybridSearch(docs(s, d), Knn.emb(s, d))),
    // provenance accounting for the fused set: one exact-integer row —
    // per-modality candidate mass, agreement mass, served rows
    "hybrid_search_audit" -> ((s, d) => graft.similarity.Hybrid
      .hybridAudit(docs(s, d), Knn.emb(s, d))),
    // drop accounting for hybrid_search_ivf's kSem member-depth cap
    // (r16 ADVICE — no silent caps): queries whose full τ-passing
    // semantic list EXCEEDS kSem, against the exact brute member
    "hybrid_cap_audit" -> ((s, d) => graft.similarity.Hybrid
      .capAudit(Knn.emb(s, d))),
    // the 100 TB shape: prefix-filtered lexical member (row-identical,
    // spec-proven) + persisted bucketed IVF semantic member (nprobe-
    // bounded list scan); rows-only — seeded k-means; HybridSpec pins
    // nprobe = nlist ≡ hybrid_search_rrf row-for-row
    "hybrid_search_ivf" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_hyb_ivf")
      graft.similarity.Hybrid.hybridSearchIvf(s, docs(s, d),
        Knn.emb(s, d), tbl, path)
    }),
    // the PQ-backed serving-matrix completion (r17 verdict #5): the
    // semantic member probes the persisted IVF-PQ index (O(m) ADC
    // table-lookup scoring over code lists dim/m× smaller than int8)
    // with the lexical member and fusion untouched; rows-only — PQ is
    // lossy by design; HybridSpec pins the planted-prototype fused ≡
    // brute at nprobe = nlist, pq_recall_audit prices the loss
    "hybrid_search_pq" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_hyb_pq")
      graft.similarity.Hybrid.hybridSearchPq(s, docs(s, d),
        Knn.emb(s, d), tbl, path)
    }),
    // BM25 against the PERSISTED bucketed postings index (build once,
    // probe per query — the search-serving shape, completing the
    // persisted-index trilogy with knn_ivf_persisted and
    // dedup_incremental); result-identical to text_search_bm25, so it
    // shares that oracle — the persisted hop is transparent
    "text_search_indexed" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_text_index")
      Staged.drop(s, tbl)
      TextOps.writeTextIndex(docs(s, d), tbl, path)
      TextOps.searchIndex(s, tbl, Seq("vector", "stream", "window", "hash"))
    }),
    // DELTA-MERGE index maintenance (r17 verdict #1 — a daily crawl
    // delta must never pay a full-corpus rebuild): base postings built
    // on a ~3/4 md5 split, the remaining ~1/4 appended as a DELTA
    // (tokenized ALONE), probe reads base ∪ delta with closed-form
    // merged stats (all additive integers; idf derived at probe time
    // from merged df) — result-IDENTICAL to the full-rebuild probe, so
    // it shares text_search_bm25's oracle verbatim (the transparent-hop
    // posture); DeltaIndexSpec pins probe ≡ full rebuild ≡ post-merge,
    // generation staleness, and the doc-disjointness fences
    "text_search_delta" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_delta_index")
      Staged.drop(s, tbl)
      val dd = docs(s, d)
      val isDelta = substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("dsd"))), 1, 1) >= "c"
      TextOps.writeTextIndex(dd.filter(!isDelta), tbl, path)
      TextOps.appendTextIndexDelta(dd.filter(isDelta), tbl, path)
      TextOps.searchIndexDelta(s, tbl,
        Seq("vector", "stream", "window", "hash"))
    }),
    // generation accounting for the delta family — the ops row a store
    // operator schedules mergeTextIndex on: base/delta doc + length
    // masses and the delta's integer half-up milli share; reads only
    // the two one-row stats tables
    "text_index_delta_audit" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_dltaud_index")
      Staged.drop(s, tbl)
      val dd = docs(s, d)
      val isDelta = substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("dsd"))), 1, 1) >= "c"
      TextOps.writeTextIndex(dd.filter(!isDelta), tbl, path)
      TextOps.appendTextIndexDelta(dd.filter(isDelta), tbl, path)
      TextOps.textIndexDeltaAudit(s, tbl)
    }),
    // the doc-vector family's delta: delta docs vectorized against the
    // FROZEN base vocabulary (the model artifact — one definition with
    // the query-side vectorizer), probe scores the slice against
    // base ∪ delta vectors; the oracle derives the SAME frozen-vocab
    // semantic in SQL — vocabulary/df-band/idf from the base split
    // only, vectors for ALL docs against it (the two-relation
    // parameterized-CTE posture)
    "doc_similar_delta" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_doc_vec_dlt")
      Staged.drop(s, tbl)
      val dd = docs(s, d)
      val isDelta = substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("dsd"))), 1, 1) >= "c"
      TextOps.writeDocVectorIndex(dd.filter(!isDelta), tbl, path)
      TextOps.appendDocVectorIndexDelta(dd.filter(isDelta), tbl, path)
      TextOps.docSimilarPersistedDelta(s, dd, tbl, s"${tbl}_vocab",
        substring(md5(concat_ws(":", col("doc_id").cast("string"),
          lit("dlt"))), 1, 1) < "4")
    }),
    // generation + OOV accounting for the doc-vector delta (r24, r18
    // verdict #3 — text_index_delta_audit's vector sibling, closing
    // the silent-stale-delta nit): stored-vector masses + the integer
    // half-up merge-due share, the delta batch's vectorized-vs-input
    // doc gap, and the token mass the FROZEN base vocabulary silently
    // drops from delta docs (the vocab-refresh trigger, now measured);
    // all exact integers — the oracle re-derives the frozen vocabulary
    // from the base split and the delta tf table from the delta split
    "doc_vector_delta_audit" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_dvec_aud")
      Staged.drop(s, tbl)
      val dd = docs(s, d)
      val isDelta = substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("dsd"))), 1, 1) >= "c"
      TextOps.writeDocVectorIndex(dd.filter(!isDelta), tbl, path)
      TextOps.appendDocVectorIndexDelta(dd.filter(isDelta), tbl, path)
      TextOps.docVectorDeltaAudit(s, tbl, dd.filter(isDelta))
    }),
    // standing-query routing score: arriving docs ranked against a
    // frozen-stats query (df/n_docs/sum_dl from the persisted index,
    // the doc's own tf/dl from its row, the ONE bm25ScoreTail) — for
    // corpus members this equals text_search_bm25 exactly, so it
    // shares that oracle (the text_search_indexed transparent-hop
    // posture); the serving value is scoring docs NOT in the index
    // (spec-pinned: a novel doc's score is stable as others arrive)
    "standing_query_route" -> ((s, d) => {
      val (tbl, path) = runScopedTable(s, d, "graft_route_index")
      Staged.drop(s, tbl)
      TextOps.writeTextIndex(docs(s, d), tbl, path)
      TextOps.standingQueryScore(s, tbl, docs(s, d),
        Seq("vector", "stream", "window", "hash"))
    }),
    // ── H. multimodal ─────────────────────────────────────────────────
    "mm_ingest" -> ((s, d) => Multimodal.byteStats(
      Multimodal.ingest(docs(s, d)))),
    // real container decode (PNG/BMP/WAV header parse) over
    // deterministically synthesized media bytes; rows-only (byte
    // synthesis isn't SQL-expressible), MediaCodecSpec checks the parse
    // per-format rollup of REAL container decode; oracle-checked since
    // r11: the synthesized blob's dims, channels, duration, AND byte
    // length are all pure doc_id arithmetic (every encoder emits a
    // fixed-layout container), so DuckDB cross-checks all seven decoders
    // and encoders (incl. the r12 MP4 box walk) without seeing a byte
    "mm_features" -> ((s, d) => Multimodal.featureStats(
      Multimodal.synthesize(docs(s, d)))),
    // exact media dedup by content digest; the oracle reproduces the
    // group structure from the doc_id parameter tuple (synthesis is a
    // pure function of doc_id), independently cross-checking encoder
    // injectivity
    "mm_dedup" -> ((s, d) => Multimodal.exactDedup(
      Multimodal.synthesize(docs(s, d)))),
    // near-dup media: header-feature bucket candidates in two offset
    // band tables (occupancy-capped, OR-combined for drift recall) +
    // byte n-gram Jaccard verify over the hex view of the candidate
    // slice only; rows-only (header decode isn't ANSI-expressible),
    // MediaCodecSpec plants re-encodes, a band-boundary resize, and an
    // over-cap clone mass
    "mm_dedup_near" -> ((s, d) => Multimodal.nearDedup(
      Multimodal.synthesize(docs(s, d)))),
    // drop accounting for mm_dedup_near's occupancy cap (the
    // minhash_band_audit discipline): memberships across both band
    // tables, buckets, dropped-over-cap count, realized max occupancy.
    // Oracle-checked since r12: every band key component is pure doc_id
    // arithmetic (the mm_features trick), so DuckDB reproduces the full
    // bucket structure — tuple-grouping equals the Spark side's
    // ':'-joined string key because the components are separator-free
    "mm_dedup_near_audit" -> ((s, d) => Multimodal.nearDedupAudit(
      Multimodal.synthesize(docs(s, d)))),
    // mm_dedup_near's CANDIDATE stage promoted to the hash gate (r12
    // verdict ask): the capped double-band pair list with per-pair band
    // multiplicity is pure doc_id arithmetic end to end, so DuckDB
    // reproduces the exact pair set — only the byte n-gram verify
    // remains rows-only
    "mm_dedup_near_candidates" -> ((s, d) => Multimodal.nearDedupCandidates(
      Multimodal.synthesize(docs(s, d)))),
    // near-dup media groups end-to-end (the production shape: a dense
    // near-dup region's pair list is inherently quadratic, its cluster
    // list is linear) — header-bucket pairs → connected components,
    // mirroring dedup_clusters_lsh on the text side
    "mm_dedup_clusters" -> ((s, d) => Dedup.dedupClusters(
      Multimodal.nearDedup(Multimodal.synthesize(docs(s, d))))),
    // cross-format transcode candidates: different-container pairs with
    // identical (width, height, channels) — the strongest header
    // evidence available without pixel decode; occupancy-capped bucket
    // equijoin over the corpus WITH planted transcodes (synthesize's
    // dims are coupled residues of one doc_id, so unplanted cross-format
    // collisions are arithmetically impossible); oracle reproduces both
    // the corpus and the planted set from doc_id arithmetic
    "mm_transcode_candidates" -> ((s, d) => Multimodal.transcodeCandidates(
      Multimodal.synthesizeWithTranscodes(docs(s, d)))),
  )

  /** Shared quarter-score CTE chain (tokens → surface ratios → q4, with
    * source and n_tokens carried for the budget family) — the DuckDB
    * dual of TextOps.scoredQ4Full, reused verbatim by curriculum_assign
    * and the budget_cut family so a q4 formulation drift breaks ONE
    * place. Defined before [[oracleBase]] (object vals initialize in
    * declaration order). */
  private def q4CtesFrom(rel: String) = s"""
      WITH t AS (
        SELECT doc_id, source, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM $rel),
      m AS (
        SELECT doc_id, source,
               len(toks) AS n_tokens,
               round(len(list_filter(toks,
                 x -> x IN ('a', 'value', 'data', 'key', 'the')))
                 / nullif(len(toks), 0), 4) AS stop_ratio,
               round(len(list_distinct(toks)) / nullif(len(toks), 0), 4) AS uniq_ratio,
               round(length(replace(text, ' ', '')) / nullif(len(toks), 0), 4)
                 AS avg_token_len
        FROM t),
      q AS (
        SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tok,
               CAST(round((
               (CASE WHEN n_tokens BETWEEN 30 AND 500 THEN 0.25 ELSE 0 END) +
               (CASE WHEN stop_ratio BETWEEN 0.02 AND 0.5 THEN 0.25 ELSE 0 END) +
               (CASE WHEN uniq_ratio >= 0.2 THEN 0.25 ELSE 0 END) +
               (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.25
                     ELSE 0 END)) * 4, 0) AS BIGINT) AS q4
        FROM m)"""

  private val Q4Ctes = q4CtesFrom("documents")

  /** The per-source token budget — one constant interpolated into the
    * oracle AND passed to the engine, chosen so the admission decision
    * is non-trivial at BOTH gate scales (sf0.01 sources carry ~1.3–1.6k
    * tokens → ~55% kept; sf0.1 ~10× → a sharp cut). */
  private val BudgetTokens = 800L

  /** The budget_cut derivation (grid prefix + group-fits decision),
    * named because budget_audit embeds it verbatim (the reportBlock
    * discipline). */
  private def budgetCutSqlFrom(rel: String) = s"""${q4CtesFrom(rel)},
      b AS (
        SELECT doc_id, source, n_tok, q4,
               substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                 'budget')), 1, 4) AS hex4
        FROM q),
      grid AS (
        SELECT source, q4, hex4, CAST(sum(n_tok) AS BIGINT) AS g_tok
        FROM b GROUP BY 1, 2, 3),
      pref AS (
        SELECT source, q4, hex4, g_tok,
               CAST(coalesce(sum(g_tok) OVER (PARTITION BY source
                 ORDER BY q4 DESC, hex4 ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
        FROM grid)
      SELECT b.doc_id, b.source, b.q4, b.n_tok,
             CAST(CASE WHEN p.cum_before + p.g_tok <= $BudgetTokens
                       THEN 1 ELSE 0 END AS BIGINT) AS kept
      FROM b JOIN pref p ON b.source = p.source AND b.q4 = p.q4
                        AND b.hex4 = p.hex4"""

  private val BudgetCutSql = budgetCutSqlFrom("documents")

  /** quality_cut's keep fraction in milli — interpolated into the
    * oracle AND passed as the engine default. */
  private val KeepMilli = 400L

  /** The quality_cut derivation (per-source quarter prefix + boundary
    * sub-split at the exact ceil threshold), named because
    * quality_cut_audit embeds it verbatim (the reportBlock
    * discipline). CASE branch ORDER mirrors the engine's when-chain
    * exactly: the ceil division only ever evaluates on a positive
    * deficit strictly under cnt, so integer-division sign semantics
    * never differ between engines. */
  /** DSIR keep share — non-trivial at both gate scales (a quarter of
    * the scored pool). */
  private val DsirKeepMilli = 250L

  /** The DSIR weight derivation (hashed unigram+bigram buckets →
    * milli-snapped target/raw log ratios → exact BIGINT per-doc dot
    * product → positive-shifted mean grid) as shared CTEs —
    * dsir_select and dsir_audit embed it verbatim (the reportBlock
    * one-definition discipline). Mirrors graft.text.Dsir bit for bit:
    * the ln argument is a multiply-before-divide double chain over
    * exact integers, and the grid division's numerator is strictly
    * positive so `//` (truncation) == Spark `div`. */
  private val DsirCtes = """
      WITH dtoks AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS toks
        FROM documents),
      dfeats AS (
        SELECT doc_id, source, unnest(toks) AS feat FROM dtoks
        UNION ALL
        SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS feat
        FROM (SELECT doc_id, source, toks,
                     unnest(generate_series(1, len(toks) - 1)) AS i
              FROM dtoks WHERE len(toks) >= 2)),
      ddc AS (
        SELECT doc_id, source, substr(md5(feat), 1, 3) AS b,
               CAST(count(*) AS BIGINT) AS n
        FROM dfeats GROUP BY 1, 2, 3),
      dcnt AS (
        SELECT b,
               CAST(sum(CASE WHEN source = 'src0' THEN n ELSE 0 END)
                 AS BIGINT) AS c_t,
               CAST(sum(n) AS BIGINT) AS c_r
        FROM ddc GROUP BY 1),
      dtot AS (
        SELECT CAST(sum(c_t) AS BIGINT) AS t_total,
               CAST(sum(c_r) AS BIGINT) AS r_total,
               CAST(count(*) AS BIGINT) AS v_size
        FROM dcnt),
      dlam AS (
        SELECT b,
               CAST(floor(ln(
                 (CAST(c_t + 1 AS DOUBLE) *
                  CAST(r_total + v_size AS DOUBLE)) /
                 (CAST(c_r + 1 AS DOUBLE) *
                  CAST(t_total + v_size AS DOUBLE))) * 1000.0 + 0.5)
                 AS BIGINT) AS lam_milli
        FROM dcnt, dtot),
      dwg AS (
        SELECT doc_id,
               CAST(sum(n) AS BIGINT) AS n_feats,
               CAST(sum(n * lam_milli) AS BIGINT) AS w_milli,
               (CAST(sum(n * lam_milli) AS BIGINT) +
                CAST(sum(n) AS BIGINT) * 100000) //
                 CAST(sum(n) AS BIGINT) AS g
        FROM ddc JOIN dlam USING (b) GROUP BY 1)"""

  /** Boilerplate-span derivation (5-token gram positions → global
    * df ≥ 2 dictionary → per-doc tag) as shared CTEs — all three
    * boilerplate oracles embed it verbatim (reportBlock discipline).
    * DuckDB's 1-based inclusive list slice toks[i:i+4] over
    * generate_series(1, len-4) mirrors Spark's 0-based
    * sequence(0, size-5) indexed concat_ws exactly. */
  private val BoilerplateCtes = """
      WITH btoks AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS toks
        FROM documents),
      bgrams AS (
        SELECT doc_id, source, array_to_string(toks[i:i+4], ' ') AS gram
        FROM (SELECT doc_id, source, toks,
                     unnest(generate_series(1, len(toks) - 4)) AS i
              FROM btoks WHERE len(toks) >= 5)),
      bdict AS (
        SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM bgrams GROUP BY 1
        HAVING count(DISTINCT doc_id) >= 2),
      btag AS (
        SELECT bg.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN bd.gram IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS bp_grams
        FROM bgrams bg LEFT JOIN bdict bd USING (gram)
        GROUP BY 1)"""

  /** The DSIR selection (global top-DsirKeepMilli‰ over the grid with
    * the exact-ceil md5 boundary sub-split) — the QualityCutSql CASE
    * chain with the partition key collapsed. */
  private val DsirSelectSql = s"""$DsirCtes,
      dsb AS (
        SELECT doc_id, g,
               substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                 'dsir')), 1, 4) AS hex4
        FROM dwg),
      dsgrid AS (
        SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM dsb GROUP BY 1),
      dspref AS (
        SELECT g, cnt,
               CAST(coalesce(sum(cnt) OVER (ORDER BY g DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
        FROM dsgrid),
      dstot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_docs FROM dsgrid),
      dsdec AS (
        SELECT p.g, p.cnt,
               (t.n_docs * $DsirKeepMilli) // 1000 - p.cum_before
                 AS deficit
        FROM dspref p, dstot t)
      SELECT dsb.doc_id, dsb.g,
             CAST(CASE
               WHEN d.deficit <= 0 THEN 0
               WHEN d.deficit >= d.cnt THEN 1
               WHEN ((d.deficit * 65536 + d.cnt - 1) // d.cnt) >= 65536
                 THEN 1
               WHEN dsb.hex4 < printf('%04x',
                 (d.deficit * 65536 + d.cnt - 1) // d.cnt) THEN 1
               ELSE 0 END AS BIGINT) AS kept
      FROM dsb JOIN dsdec d ON dsb.g = d.g"""

  private val QualityCutSql = s"""$Q4Ctes,
      b AS (
        SELECT doc_id, source, q4,
               substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                 'qcut')), 1, 4) AS hex4
        FROM q),
      grid AS (
        SELECT source, q4, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY 1, 2),
      pref AS (
        SELECT source, q4, cnt,
               CAST(coalesce(sum(cnt) OVER (PARTITION BY source
                 ORDER BY q4 DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
        FROM grid),
      tot AS (
        SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs
        FROM grid GROUP BY 1),
      dec AS (
        SELECT p.source, p.q4, p.cnt,
               (t.n_docs * $KeepMilli) // 1000 - p.cum_before AS deficit
        FROM pref p JOIN tot t USING (source))
      SELECT b.doc_id, b.source, b.q4,
             CAST(CASE
               WHEN d.deficit <= 0 THEN 0
               WHEN d.deficit >= d.cnt THEN 1
               WHEN ((d.deficit * 65536 + d.cnt - 1) // d.cnt) >= 65536
                 THEN 1
               WHEN b.hex4 < printf('%04x',
                 (d.deficit * 65536 + d.cnt - 1) // d.cnt) THEN 1
               ELSE 0 END AS BIGINT) AS kept
      FROM b JOIN dec d ON b.source = d.source AND b.q4 = d.q4"""

  /** Global exact-dedup keeper corpus (the Dedup.exact election rule:
    * min doc_id per digest, corpus-wide) as an embeddable relation. */
  private val KeeperRel = """(SELECT d2.* FROM documents d2 JOIN
      (SELECT min(doc_id) AS doc_id FROM documents
       GROUP BY md5(lower(trim(text)))) kk USING (doc_id))"""

  /** The word_assoc derivation, named because phrase_density embeds
    * it verbatim as its dictionary (the reportBlock discipline). */
  private val WordAssocSql = """
      WITH toks AS (
        SELECT lang,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS t
        FROM documents),
      pairs AS (
        SELECT lang, t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT lang, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2)),
      cnt AS (
        SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS n_pair
        FROM pairs GROUP BY 1, 2, 3),
      l AS (SELECT lang, w1, CAST(sum(n_pair) AS BIGINT) AS cx
            FROM cnt GROUP BY 1, 2),
      r AS (SELECT lang, w2, CAST(sum(n_pair) AS BIGINT) AS cy
            FROM cnt GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(sum(n_pair) AS BIGINT) AS n
              FROM cnt GROUP BY 1),
      scored AS (
        SELECT c.lang, c.w1, c.w2, c.n_pair, l.cx, r.cy,
               CAST(round(ln((CAST(c.n_pair AS DOUBLE) *
                 CAST(t.n AS DOUBLE)) / (CAST(l.cx AS DOUBLE) *
                 CAST(r.cy AS DOUBLE))) * 1000000.0::DOUBLE, 0)
                 AS BIGINT) AS pmi_micro
        FROM cnt c
        JOIN l ON c.lang = l.lang AND c.w1 = l.w1
        JOIN r ON c.lang = r.lang AND c.w2 = r.w2
        JOIN tot t ON c.lang = t.lang
        WHERE c.n_pair >= 5
          -- membership = the EXACT integer cross-multiplication
          -- (engine: DECIMAL(38,0)); the snapped ln is display-only
          AND CAST(c.n_pair AS HUGEINT) * t.n >
              CAST(l.cx AS HUGEINT) * r.cy)
      SELECT lang, w1, w2, n_pair, cx, cy,
             CAST(pmi_micro AS DOUBLE) / 1000000.0::DOUBLE AS pmi
      FROM scored"""

  /** Sequence-packing layout (the `pack_assign` oracle), named because
    * the pack audit embeds it verbatim. Defined before [[oracleBase]]
    * (object vals initialize in declaration order). */
  private val PackAssignSql = """
      WITH t AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS BIGINT) AS n_tok
        FROM documents)
      SELECT doc_id, source, n_tok,
             CAST(floor((sum(n_tok) OVER (PARTITION BY source
               ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok)
               / 256.0) AS BIGINT) AS pack_id
      FROM t"""

  /** Winnowed-anchor substring pairs (the `dedup_substring` oracle),
    * named because the near-dup source-overlap rollup embeds it
    * verbatim. */
  /** The winnowed-anchor derivation (positions → window-min md5 →
    * distinct per-doc anchors → document frequency) as a shared CTE
    * prefix: the pair oracle AND the cost-plan oracle embed it verbatim
    * (reportBlock discipline — a formulation drift breaks one place). */
  private val WinnowedAnchorCtes = """
      WITH pos AS (
        SELECT doc_id, unnest(generate_series(1, length(text) - 39)) AS i,
               text
        FROM documents WHERE length(text) >= 40),
      hashed AS (
        SELECT doc_id, i, md5(substr(text, CAST(i AS INT), 40)) AS h
        FROM pos),
      winmin AS (
        SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN CURRENT ROW AND 24 FOLLOWING) AS h
        FROM hashed),
      anchors AS (SELECT DISTINCT doc_id, h FROM winmin),
      freq AS (SELECT h, count(*) AS c FROM anchors GROUP BY h)"""

  private val DedupSubstringSql = s"""$WinnowedAnchorCtes,
      kept AS (
        SELECT a.doc_id, a.h FROM anchors a
        JOIN freq f USING (h) WHERE f.c <= 50)
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             CAST(count(*) AS BIGINT) AS n_anchors
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2"""

  /** The bigram-LM score SQL — shared verbatim by lm_score_bigram and
    * the persisted-model probe (round-trip transparency is the claim
    * the shared oracle checks). */
  private val LmBigramSql = """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS toks
        FROM documents),
      b AS (
        SELECT doc_id,
               unnest(list_transform(range(0, len(toks) - 1),
                 i -> toks[i + 1])) AS w1,
               unnest(list_transform(range(0, len(toks) - 1),
                 i -> toks[i + 2])) AS w2
        FROM t WHERE len(toks) >= 2),
      c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
      SELECT doc_id, count(*) AS n_transitions,
             round(avg(ln(c2) - ln(c1)), 4) AS avg_logp,
             round(exp(-avg(ln(c2) - ln(c1))), 2) AS perplexity
      FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      GROUP BY doc_id"""

    /** The recrawl priority queue, named because recrawl_schedule embeds
    * it verbatim (the reportBlock discipline). */
  private val RecrawlPrioritySql = s"""
      SELECT dq.doc_id, dq.lang, dq.status, q.q4,
             q.q4 * 2 + CASE WHEN dq.status = 'added'
                             THEN 1 ELSE 0 END AS priority
      FROM ($CrawlDiffSql) dq
      JOIN (${q4CtesFrom("documents")} SELECT doc_id, q4 FROM q) q
        ON dq.doc_id = q.doc_id
      WHERE dq.status IN ('added', 'changed')"""

  private val oracleBase: Map[String, String] = Map(

    "dedup_exact" -> """
      SELECT md5(lower(trim(text))) AS digest,
             min(doc_id) AS keeper, count(*) AS n_copies
      FROM documents GROUP BY 1""",

    // connected components are SQL-expressible as a recursive transitive
    // closure (components are tiny, so the closure is cheap in the
    // oracle); cluster = min reachable doc_id, exactly the fixpoint the
    // Spark-side min-label propagation converges to
    "dedup_clusters" -> DedupClustersSql,

    // the cluster derivation embedded verbatim; two exact-integer aggs
    "dedup_cluster_hist" -> s"""
      WITH c AS ($DedupClustersSql)
      SELECT cluster_size,
             CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(cluster_size * count(*) AS BIGINT) AS n_docs
      FROM (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
            FROM c GROUP BY 1)
      GROUP BY 1""",

    // mirrors Dedup.substringPairs exactly: md5 per 40-char window,
    // winnow = min over each run of 25 consecutive window hashes
    // (trailing partial runs included on both sides), distinct per doc,
    // document-frequency cap 50, then the anchor equijoin. The df >= 2
    // prune in the Spark path is result-identical (singleton anchors
    // can't form a pair) so the oracle omits it.
    "dedup_substring" -> DedupSubstringSql,

    // the anchor derivation verbatim, then the df histogram; cand_pairs
    // is the parenthesized exact-integer-valued double chain
    "anchor_cost_plan" -> s"""$WinnowedAnchorCtes
      SELECT CAST(c AS BIGINT) AS df,
             CAST(count(*) AS BIGINT) AS n_anchors,
             CAST(c * count(*) AS BIGINT) AS postings,
             CAST(CASE WHEN c BETWEEN 2 AND 50 THEN 1 ELSE 0 END
               AS BIGINT) AS kept,
             (CAST(count(*) AS DOUBLE) * CAST(c AS DOUBLE)) *
               CAST(c - 1 AS DOUBLE) / 2.0 AS cand_pairs
      FROM freq GROUP BY c""",

    // near-dup mirror matrix: the substring pair SQL embedded VERBATIM
    // (the reportBlock discipline), rolled up to normalized source
    // pairs; the diagonal (source_a = source_b) is intra-source
    // near-dup mass
    "source_overlap_near" -> s"""
      WITH sp AS ($DedupSubstringSql),
      s AS (SELECT doc_id, source FROM documents)
      SELECT least(s1.source, s2.source) AS source_a,
             greatest(s1.source, s2.source) AS source_b,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(sp.n_anchors) AS BIGINT) AS n_anchors
      FROM sp
      JOIN s s1 ON sp.doc1 = s1.doc_id
      JOIN s s2 ON sp.doc2 = s2.doc_id
      GROUP BY 1, 2""",

    // the dedup_clusters recursive closure composed with the
    // text_quality score: keeper = row_number 1 per cluster ordered by
    // (rounded quality desc, doc_id) — the same deterministic choice as
    // Spark's max_by over (quality_score, -doc_id)
    "dedup_keeper_quality" -> """
      WITH RECURSIVE de AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS w
        FROM documents WHERE lang = 'de'),
      sz AS (SELECT doc_id, len(w) AS n FROM de),
      inv AS (SELECT doc_id, unnest(w) AS word FROM de),
      cand AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               CAST(count(*) AS BIGINT) AS n_common
        FROM inv a JOIN inv b
          ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc1, doc2
        FROM cand
        JOIN sz s1 ON doc1 = s1.doc_id
        JOIN sz s2 ON doc2 = s2.doc_id
        WHERE round(n_common / (s1.n + s2.n - n_common), 4) >= 0.85),
      edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs),
      reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      clusters AS (SELECT a AS doc_id, min(b) AS cluster FROM reach
                   GROUP BY a),
      t AS (
        SELECT doc_id, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               round(len(list_filter(toks,
                 x -> x IN ('a', 'value', 'data', 'key', 'the')))
                 / nullif(len(toks), 0), 4) AS stop_ratio,
               round(len(list_distinct(toks)) / nullif(len(toks), 0), 4) AS uniq_ratio,
               round(length(replace(text, ' ', '')) / nullif(len(toks), 0), 4)
                 AS avg_token_len
        FROM t),
      q AS (
        SELECT doc_id, round(
          (CASE WHEN n_tokens BETWEEN 30 AND 500 THEN 0.25 ELSE 0 END) +
          (CASE WHEN stop_ratio BETWEEN 0.02 AND 0.5 THEN 0.25 ELSE 0 END) +
          (CASE WHEN uniq_ratio >= 0.2 THEN 0.25 ELSE 0 END) +
          (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.25
                ELSE 0 END), 2) AS quality_score
        FROM m),
      mem AS (SELECT c.cluster, c.doc_id, q.quality_score
              FROM clusters c JOIN q USING (doc_id))
      SELECT cluster, keeper, keeper_quality, n_members FROM (
        SELECT cluster, doc_id AS keeper,
               quality_score AS keeper_quality,
               row_number() OVER (PARTITION BY cluster
                 ORDER BY quality_score DESC, doc_id) AS rn,
               CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
                 AS n_members
        FROM mem) WHERE rn = 1""",

    "dedup_report" -> DedupReportSql,

    // per-source release scorecard: the dedup_report block VERBATIM
    // joined with exact-integer quality moments (q4 quarters) — mean
    // quality as ONE floor-half-up expression over exact integers
    "source_scorecard" -> s"""
      WITH rep AS ($DedupReportSql),
      t AS (
        SELECT doc_id, source, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      m AS (
        SELECT doc_id, source,
               len(toks) AS n_tokens,
               round(len(list_filter(toks,
                 x -> x IN ('a', 'value', 'data', 'key', 'the')))
                 / nullif(len(toks), 0), 4) AS stop_ratio,
               round(len(list_distinct(toks)) / nullif(len(toks), 0), 4) AS uniq_ratio,
               round(length(replace(text, ' ', '')) / nullif(len(toks), 0), 4)
                 AS avg_token_len
        FROM t),
      q4 AS (
        SELECT source, n_tokens, CAST(round((
               (CASE WHEN n_tokens BETWEEN 30 AND 500 THEN 0.25 ELSE 0 END) +
               (CASE WHEN stop_ratio BETWEEN 0.02 AND 0.5 THEN 0.25 ELSE 0 END) +
               (CASE WHEN uniq_ratio >= 0.2 THEN 0.25 ELSE 0 END) +
               (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.25
                     ELSE 0 END)) * 4, 0) AS BIGINT) AS q4
        FROM m),
      q AS (
        SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
               CAST(sum(q4) AS BIGINT) AS sum_q4,
               CAST(count(*) AS BIGINT) AS nq
        FROM q4 GROUP BY 1)
      SELECT rep.source, rep.n_docs, rep.n_uniq, rep.n_dup,
             rep.chars_total, rep.chars_saved, q.tokens_total,
             CAST(floor(CAST(q.sum_q4 AS DOUBLE) * 250.0::DOUBLE /
               CAST(q.nq AS DOUBLE) + 0.5::DOUBLE) AS BIGINT)
               AS mean_quality_milli
      FROM rep JOIN q ON rep.source = q.source""",

    // same de/0.85 recursive closure as dedup_keeper_quality, with the
    // keeper re-election over the surviving (non-opted-out) members
    "purge_reelect" -> """
      WITH RECURSIVE de AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS w
        FROM documents WHERE lang = 'de'),
      sz AS (SELECT doc_id, len(w) AS n FROM de),
      inv AS (SELECT doc_id, unnest(w) AS word FROM de),
      cand AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               CAST(count(*) AS BIGINT) AS n_common
        FROM inv a JOIN inv b
          ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc1, doc2
        FROM cand
        JOIN sz s1 ON doc1 = s1.doc_id
        JOIN sz s2 ON doc2 = s2.doc_id
        WHERE round(n_common / (s1.n + s2.n - n_common), 4) >= 0.85),
      edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs),
      reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      clusters AS (SELECT a AS doc_id, min(b) AS cluster FROM reach
                   GROUP BY a),
      mem AS (
        SELECT c.cluster, c.doc_id, d.source
        FROM clusters c JOIN documents d USING (doc_id))
      SELECT cluster,
             min(doc_id) AS old_keeper,
             coalesce(min(CASE WHEN source NOT IN ('src3', 'src7')
                          THEN doc_id END), CAST(-1 AS BIGINT))
               AS new_keeper,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(CASE WHEN source IN ('src3', 'src7')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_purged
      FROM mem GROUP BY cluster""",

    // the dedup_substring winnowing pipeline, rolled up to the one-row
    // drop-accounting summary (sums are exact BIGINTs)
    "substring_anchor_audit" -> """
      WITH pos AS (
        SELECT doc_id, unnest(generate_series(1, length(text) - 39)) AS i,
               text
        FROM documents WHERE length(text) >= 40),
      hashed AS (
        SELECT doc_id, i, md5(substr(text, CAST(i AS INT), 40)) AS h
        FROM pos),
      winmin AS (
        SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN CURRENT ROW AND 24 FOLLOWING) AS h
        FROM hashed),
      anchors AS (SELECT DISTINCT doc_id, h FROM winmin),
      freq AS (SELECT h, count(*) AS df FROM anchors GROUP BY h)
      SELECT CAST(sum(df) AS BIGINT) AS n_anchor_postings,
             CAST(count(*) AS BIGINT) AS n_distinct_anchors,
             CAST(sum(CASE WHEN df > 50 THEN df ELSE 0 END) AS BIGINT)
               AS n_dropped_boilerplate,
             CAST(max(df) AS BIGINT) AS max_df
      FROM freq""",

    // the dedup_substring pipeline feeding the recursive transitive
    // closure (cf. dedup_clusters): cluster = min reachable doc_id
    "dedup_substring_clusters" -> """
      WITH RECURSIVE pos AS (
        SELECT doc_id, unnest(generate_series(1, length(text) - 39)) AS i,
               text
        FROM documents WHERE length(text) >= 40),
      hashed AS (
        SELECT doc_id, i, md5(substr(text, CAST(i AS INT), 40)) AS h
        FROM pos),
      winmin AS (
        SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN CURRENT ROW AND 24 FOLLOWING) AS h
        FROM hashed),
      anchors AS (SELECT DISTINCT doc_id, h FROM winmin),
      freq AS (SELECT h, count(*) AS c FROM anchors GROUP BY h),
      kept AS (
        SELECT a.doc_id, a.h FROM anchors a
        JOIN freq f USING (h) WHERE f.c <= 50),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id),
      edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs),
      reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a""",

    // the dedup_substring winnowing with the incremental split: index =
    // corpus side (doc_id % 10 <> 0) capped on ITS df at 50 (the
    // write-time cap of writeAnchorIndex), probe = shard side
    // (doc_id % 10 = 0) capped on ITS df at 50 — each cap on its own
    // side, reproducing the persisted-index round-trip exactly (the
    // round-trip is transparent to the result); promoted from rows-only
    // in round 11
    "dedup_incremental" -> """
      WITH pos AS (
        SELECT doc_id, unnest(generate_series(1, length(text) - 39)) AS i,
               text
        FROM documents WHERE length(text) >= 40),
      hashed AS (
        SELECT doc_id, i, md5(substr(text, CAST(i AS INT), 40)) AS h
        FROM pos),
      winmin AS (
        SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN CURRENT ROW AND 24 FOLLOWING) AS h
        FROM hashed),
      anchors AS (SELECT DISTINCT doc_id, h FROM winmin),
      corpus AS (
        SELECT doc_id AS corpus_doc, h FROM anchors WHERE doc_id % 10 <> 0),
      cfreq AS (SELECT h, count(*) AS df FROM corpus GROUP BY h),
      idx AS (
        SELECT c.corpus_doc, c.h FROM corpus c
        JOIN cfreq f USING (h) WHERE f.df <= 50),
      shard AS (
        SELECT doc_id AS new_doc, h FROM anchors WHERE doc_id % 10 = 0),
      sfreq AS (SELECT h, count(*) AS df FROM shard GROUP BY h),
      probe AS (
        SELECT s.new_doc, s.h FROM shard s
        JOIN sfreq f USING (h) WHERE f.df <= 50)
      SELECT p.new_doc, i.corpus_doc,
             CAST(count(*) AS BIGINT) AS n_anchors
      FROM probe p JOIN idx i ON p.h = i.h
      GROUP BY 1, 2""",

    // same winnowing pipeline as dedup_substring, split per the
    // split_assign oracle (trainSixteenths = 13 → boundary nibble 'd'),
    // test-side DF cap 50, train×test anchor equijoin
    "contamination_substring" -> """
      WITH pos AS (
        SELECT doc_id, unnest(generate_series(1, length(text) - 39)) AS i,
               text
        FROM documents WHERE length(text) >= 40),
      hashed AS (
        SELECT doc_id, i, md5(substr(text, CAST(i AS INT), 40)) AS h
        FROM pos),
      winmin AS (
        SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN CURRENT ROW AND 24 FOLLOWING) AS h
        FROM hashed),
      anchors AS (SELECT DISTINCT doc_id, h FROM winmin),
      sp AS (
        SELECT doc_id,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                    THEN 'train' ELSE 'test' END AS split
        FROM documents),
      test AS (
        SELECT a.doc_id AS test_doc, a.h
        FROM anchors a JOIN sp ON a.doc_id = sp.doc_id
        WHERE sp.split = 'test'),
      rare AS (
        SELECT h FROM (SELECT h, count(*) AS c FROM test GROUP BY h)
        WHERE c <= 50),
      idx AS (SELECT t.test_doc, t.h FROM test t JOIN rare USING (h)),
      train AS (
        SELECT a.doc_id AS train_doc, a.h
        FROM anchors a JOIN sp ON a.doc_id = sp.doc_id
        WHERE sp.split = 'train')
      SELECT tr.train_doc, i.test_doc,
             CAST(count(*) AS BIGINT) AS n_anchors
      FROM train tr JOIN idx i ON tr.h = i.h
      GROUP BY 1, 2""",

    "dedup_jaccard" -> """
      WITH de AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS w
        FROM documents WHERE lang = 'de'),
      sz AS (SELECT doc_id, len(w) AS n FROM de),
      inv AS (SELECT doc_id, unnest(w) AS word FROM de),
      pairs AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               CAST(count(*) AS BIGINT) AS n_common
        FROM inv a JOIN inv b
          ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc1, doc2, n_common, s1.n AS n1, s2.n AS n2,
             round(n_common / (s1.n + s2.n - n_common), 4) AS jaccard
      FROM pairs
      JOIN sz s1 ON doc1 = s1.doc_id
      JOIN sz s2 ON doc2 = s2.doc_id
      WHERE round(n_common / (s1.n + s2.n - n_common), 4) >= 0.85""",

    // group on the raw double vector: bit-identical parquet floats group
    // identically in both engines
    "dedup_embedding_exact" -> """
      SELECT min(vec_id) AS keeper, count(*) AS n_copies
      FROM embeddings GROUP BY embedding::DOUBLE[]""",

    // the finiteNorm fence mirrored on the squared norms: > 0 excludes
    // zero vectors, < infinity excludes Inf-poisoned ones, and NaN fails
    // the < infinity side in BOTH engines (each orders NaN greatest)
    "dedup_embedding" -> """
      SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
               b.embedding::DOUBLE[]), 4) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.embedding::DOUBLE[],
              a.embedding::DOUBLE[]) > 0
        AND list_dot_product(a.embedding::DOUBLE[],
              a.embedding::DOUBLE[]) < 'infinity'::DOUBLE
        AND list_dot_product(b.embedding::DOUBLE[],
              b.embedding::DOUBLE[]) > 0
        AND list_dot_product(b.embedding::DOUBLE[],
              b.embedding::DOUBLE[]) < 'infinity'::DOUBLE
        AND round(list_cosine_similarity(a.embedding::DOUBLE[],
              b.embedding::DOUBLE[]), 4) >= 0.4""",

    // same finiteNorm fence as dedup_embedding, on both join sides
    "knn_brute" -> """
      SELECT query_id, neighbor_id, score, rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                 c.embedding::DOUBLE[]), 4) AS score,
               CAST(row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[],
                   c.embedding::DOUBLE[]), 4) DESC, c.vec_id) AS BIGINT)
                 AS rnk
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 5
          AND list_dot_product(q.embedding::DOUBLE[],
                q.embedding::DOUBLE[]) > 0
          AND list_dot_product(q.embedding::DOUBLE[],
                q.embedding::DOUBLE[]) < 'infinity'::DOUBLE
          AND list_dot_product(c.embedding::DOUBLE[],
                c.embedding::DOUBLE[]) > 0
          AND list_dot_product(c.embedding::DOUBLE[],
                c.embedding::DOUBLE[]) < 'infinity'::DOUBLE)
      WHERE rnk <= 10""",

    "text_stats" -> """
      WITH t AS (
        SELECT doc_id, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents)
      SELECT doc_id,
             length(text) AS n_chars,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_uniq_tokens,
             round(len(list_distinct(toks)) / nullif(len(toks), 0), 4) AS uniq_ratio,
             round(length(replace(text, ' ', '')) / nullif(len(toks), 0), 4)
               AS avg_token_len
      FROM t""",

    // same BPE-ish regex as token_count; both ratios all-integer
    // half-up millis ((2a·1000 + b) // (2b)), CASE-guarded divisors
    "tok_fertility" -> """
      WITH t AS (
        SELECT lang, source,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS BIGINT) AS ws,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS nsp
        FROM documents),
      g AS (
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(ws) AS BIGINT) AS ws_tokens,
               CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
               CAST(sum(nsp) AS BIGINT) AS nsp_chars
        FROM t GROUP BY 1, 2)
      SELECT lang, source, n_docs, ws_tokens, bpe_tokens, nsp_chars,
             CASE WHEN ws_tokens > 0 THEN
               (2 * bpe_tokens * 1000 + ws_tokens) // (2 * ws_tokens)
             END AS fert_milli,
             CASE WHEN bpe_tokens > 0 THEN
               (2 * nsp_chars * 1000 + bpe_tokens) // (2 * bpe_tokens)
             END AS chars_per_bpe_milli
      FROM g""",

    // five exact class counts via length-difference; ln(c/n) snapped to
    // the micro grid (floor(·1e6 + 0.5)) BEFORE composing; entropy is
    // ONE division of exact integers; junk is an integer predicate
    "char_entropy" -> """
      WITH c AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) -
                 length(regexp_replace(text, '[a-z]', '', 'g'))
                 AS BIGINT) AS c_lower,
               CAST(length(text) -
                 length(regexp_replace(text, '[A-Z]', '', 'g'))
                 AS BIGINT) AS c_upper,
               CAST(length(text) -
                 length(regexp_replace(text, '[0-9]', '', 'g'))
                 AS BIGINT) AS c_digit,
               CAST(length(text) -
                 length(regexp_replace(text, ' ', '', 'g'))
                 AS BIGINT) AS c_space
        FROM documents WHERE length(text) > 0),
      k AS (
        SELECT *, n_chars - c_lower - c_upper - c_digit - c_space
                 AS c_other
        FROM c),
      h AS (
        SELECT *,
          (CASE WHEN c_lower > 0 THEN c_lower * CAST(floor(ln(
             CAST(c_lower AS DOUBLE) / CAST(n_chars AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) +
          (CASE WHEN c_upper > 0 THEN c_upper * CAST(floor(ln(
             CAST(c_upper AS DOUBLE) / CAST(n_chars AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) +
          (CASE WHEN c_digit > 0 THEN c_digit * CAST(floor(ln(
             CAST(c_digit AS DOUBLE) / CAST(n_chars AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) +
          (CASE WHEN c_space > 0 THEN c_space * CAST(floor(ln(
             CAST(c_space AS DOUBLE) / CAST(n_chars AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) +
          (CASE WHEN c_other > 0 THEN c_other * CAST(floor(ln(
             CAST(c_other AS DOUBLE) / CAST(n_chars AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) AS h_sum
        FROM k)
      SELECT doc_id, n_chars, c_lower, c_upper, c_digit, c_space,
             c_other,
             CAST(-h_sum AS DOUBLE) /
               (CAST(n_chars AS DOUBLE) * 1000000.0) AS entropy,
             CAST(CASE WHEN -h_sum < 800000 * n_chars THEN 1 ELSE 0 END
               AS BIGINT) AS junk
      FROM h""",

    "text_quality" -> """
      WITH t AS (
        SELECT doc_id, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               round(len(list_filter(toks,
                 x -> x IN ('a', 'value', 'data', 'key', 'the')))
                 / nullif(len(toks), 0), 4) AS stop_ratio,
               round(len(list_distinct(toks)) / nullif(len(toks), 0), 4) AS uniq_ratio,
               round(length(replace(text, ' ', '')) / nullif(len(toks), 0), 4)
                 AS avg_token_len
        FROM t)
      SELECT doc_id, n_tokens, stop_ratio, uniq_ratio, avg_token_len,
             round(
               (CASE WHEN n_tokens BETWEEN 30 AND 500 THEN 0.25 ELSE 0 END) +
               (CASE WHEN stop_ratio BETWEEN 0.02 AND 0.5 THEN 0.25 ELSE 0 END) +
               (CASE WHEN uniq_ratio >= 0.2 THEN 0.25 ELSE 0 END) +
               (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.25
                     ELSE 0 END), 2) AS quality_score
      FROM m""",

    // per-source mean-quality drift vs the corpus: q4 = 4·quality is an
    // exact integer (quarters), so every moment is integer-exact and z
    // is one double expression repeated verbatim from the Spark side
    "quality_drift" -> """
      WITH t AS (
        SELECT doc_id, source, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      m AS (
        SELECT doc_id, source,
               len(toks) AS n_tokens,
               round(len(list_filter(toks,
                 x -> x IN ('a', 'value', 'data', 'key', 'the')))
                 / nullif(len(toks), 0), 4) AS stop_ratio,
               round(len(list_distinct(toks)) / nullif(len(toks), 0), 4) AS uniq_ratio,
               round(length(replace(text, ' ', '')) / nullif(len(toks), 0), 4)
                 AS avg_token_len
        FROM t),
      q4 AS (
        SELECT source, CAST(round((
               (CASE WHEN n_tokens BETWEEN 30 AND 500 THEN 0.25 ELSE 0 END) +
               (CASE WHEN stop_ratio BETWEEN 0.02 AND 0.5 THEN 0.25 ELSE 0 END) +
               (CASE WHEN uniq_ratio >= 0.2 THEN 0.25 ELSE 0 END) +
               (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.25
                     ELSE 0 END)) * 4, 0) AS BIGINT) AS q4
        FROM m),
      g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(q4) AS BIGINT) AS g,
                   CAST(sum(q4 * q4) AS BIGINT) AS gg
            FROM q4),
      s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(q4) AS BIGINT) AS sum_q4
            FROM q4 GROUP BY 1)
      SELECT s.source, s.n_docs, s.sum_q4,
             round(CAST(g.n * s.sum_q4 - s.n_docs * g.g AS DOUBLE) *
                   sqrt(CAST(s.n_docs AS DOUBLE)) /
                   (CAST(s.n_docs AS DOUBLE) *
                    sqrt(CAST(g.n * g.gg - g.g * g.g AS DOUBLE))), 4) AS z
      FROM s CROSS JOIN g
      WHERE g.n * g.gg - g.g * g.g > 0""",

    "token_count" -> """
      WITH t AS (
        SELECT source,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
                 AS bpe_tokens
        FROM documents)
      SELECT source, count(*) AS n_docs,
             CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
             CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
             round(avg(ws_tokens), 4) AS avg_ws_tokens
      FROM t GROUP BY source""",

    "pipeline_curate" -> """
      WITH t AS (
        SELECT doc_id, text, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               round(len(list_filter(toks,
                 x -> x IN ('a', 'value', 'data', 'key', 'the')))
                 / nullif(len(toks), 0), 4) AS stop_ratio,
               round(len(list_distinct(toks)) / nullif(len(toks), 0), 4) AS uniq_ratio,
               round(length(replace(text, ' ', '')) / nullif(len(toks), 0), 4)
                 AS avg_token_len
        FROM t),
      q AS (
        SELECT doc_id, round(
          (CASE WHEN n_tokens BETWEEN 30 AND 500 THEN 0.25 ELSE 0 END) +
          (CASE WHEN stop_ratio BETWEEN 0.02 AND 0.5 THEN 0.25 ELSE 0 END) +
          (CASE WHEN uniq_ratio >= 0.2 THEN 0.25 ELSE 0 END) +
          (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.25 ELSE 0 END),
          2) AS quality_score
        FROM m),
      kept AS (
        SELECT d.doc_id, d.text, d.lang, q.quality_score
        FROM documents d JOIN q USING (doc_id)
        WHERE quality_score >= 0.5),
      surv AS (
        SELECT min(doc_id) AS doc_id FROM kept
        GROUP BY md5(lower(trim(text))))
      SELECT lang, count(*) AS n_docs,
             CAST(sum(length(text)) AS BIGINT) AS total_chars,
             round(avg(quality_score), 4) AS avg_quality
      FROM kept JOIN surv USING (doc_id) GROUP BY lang""",

    // the char-bigram classifier is fully relational: bigram int codes
    // ((c0 << 16) | c1, matching the CharBigrams kernel — corpus is
    // ASCII), per-lang top-30 profiles, overlap argmax with
    // (overlap desc, lang asc) tie-break
    "lang_id" -> """
      WITH bg AS (
        SELECT doc_id, lang,
               list_transform(range(1, length(text)), i ->
                 ord(substring(text, i, 1)) * 65536 +
                 ord(substring(text, i + 1, 1))) AS bgs
        FROM documents),
      expl AS (SELECT lang AS cand_lang, unnest(bgs) AS b FROM bg),
      counts AS (SELECT cand_lang, b, count(*) AS cnt
                 FROM expl GROUP BY 1, 2),
      prof AS (
        SELECT cand_lang, b FROM (
          SELECT cand_lang, b,
                 row_number() OVER (PARTITION BY cand_lang
                   ORDER BY cnt DESC, b) AS rnk
          FROM counts) WHERE rnk <= 30),
      profiles AS (SELECT cand_lang, list(b) AS profile
                   FROM prof GROUP BY 1),
      scored AS (
        SELECT doc_id, lang, cand_lang,
               CAST(len(list_distinct(list_filter(bgs,
                 x -> list_contains(profile, x)))) AS BIGINT) AS ov
        FROM bg CROSS JOIN profiles)
      SELECT doc_id, lang, cand_lang AS pred_lang, mx AS overlap FROM (
        SELECT doc_id, lang, cand_lang,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY ov DESC, cand_lang) AS rn,
               max(ov) OVER (PARTITION BY doc_id) AS mx
        FROM scored) WHERE rn = 1""",

    // unigram LM trained on the scored corpus itself → every token
    // in-vocabulary, so the oracle is exact (DuckDB ln = Spark log)
    "lm_score" -> """
      WITH t AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS token
        FROM documents),
      c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
      n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c)
      SELECT doc_id, count(*) AS n_tokens,
             round(avg(ln(cnt) - ln(n_total)), 4) AS avg_logp,
             round(exp(-avg(ln(cnt) - ln(n_total))), 2) AS perplexity
      FROM t JOIN c USING (token) CROSS JOIN n
      GROUP BY doc_id""",

    // bigram LM trained on the scored corpus → every transition
    // in-vocabulary, oracle exact; DuckDB's lockstep multi-unnest pairs
    // the shifted token lists positionally (lists are 1-indexed)
    "lm_score_bigram" -> LmBigramSql,

    // the persisted-model probe is round-trip transparent (same
    // counts, same log(c2)-log(c1) doubles), so it keeps the oracle
    // verbatim — the vocab_coverage_persisted posture
    "lm_score_persisted" -> LmBigramSql,

        // the IDENTICAL IEEE expression as TextOps.bm25Search: idf+1
    // variant, avgdl left as the sub-expression sum_dl/n_docs (exact
    // BIGINTs divided the same way in both engines), and per-term
    // contributions rounded to integer micro-units BEFORE the per-doc
    // sum so the sum is exact integer arithmetic
    "text_search_bm25" -> Bm25OracleSql,

    // the bm25 SQL over the chunk relation; the outer select decodes
    // the composite id with one div/mod (pure integer, both engines)
    "chunk_search" -> s"""
      WITH b AS (${bm25SqlFrom(ChunkCorpusRel)})
      SELECT doc_id // 1048576 AS doc_id,
             doc_id % 1048576 AS chunk_idx,
             n_terms_matched, score
      FROM b""",
    // the doc_similar inverted-index formulation instantiated over the
    // chunk relation (one parameterized SQL, two granularities),
    // directed to in-slice endpoints — the slice draws on the
    // UNDERLYING doc id, so a query doc's chunks probe together; the
    // outer select decodes both composite ids with one div/mod each
    "chunk_similar_persisted" -> s"""
      WITH p AS (${docSimilarSqlFrom(ChunkCorpusRel, "0.8")})
      SELECT lang,
             doc_id // 1048576 AS doc_id,
             doc_id % 1048576 AS chunk_idx,
             similar_id // 1048576 AS similar_doc,
             similar_id % 1048576 AS similar_idx,
             score
      FROM (
        SELECT lang, doc1 AS doc_id, doc2 AS similar_id, score FROM p
        WHERE substr(md5(concat_ws(':',
          CAST(doc1 // 1048576 AS VARCHAR), 'cmlt')), 1, 1) < '2'
        UNION ALL
        SELECT lang, doc2 AS doc_id, doc1 AS similar_id, score FROM p
        WHERE substr(md5(concat_ws(':',
          CAST(doc2 // 1048576 AS VARCHAR), 'cmlt')), 1, 1) < '2')""",

    // the whole passage-granular hybrid serving path in one SQL: the
    // bm25 chain over the chunk relation (lex member, top-50 cut), the
    // df-banded chunk vocabulary + per-lang QUERY vector (the seed
    // terms' idf_milli weights, tf = 1 — exactly what vectorizing the
    // query string against the frozen vocab produces), cosine on the
    // 1e-4 grid, and the identical integer RRF fusion; both member
    // cuts are row_number windows — order-equivalent to the engine's
    // bounded MinKByKey key (PrfSpec pins that equivalence)
    "chunk_hybrid_rrf" -> ChunkHybridOracleSql,
    // both members served from persisted indexes — searchIndex is
    // result-identical to the ad-hoc bm25 (text_search_indexed), the
    // query vectorization is the identical frozen-vocab chain, and the
    // vocab-table lang set equals the corpus lang set that matters
    // (a lang with no in-band vocab vectorizes to nothing either way):
    // every hop transparent, same oracle
    "chunk_hybrid_serve" -> ChunkHybridOracleSql,
    // the delta probe is result-identical to chunk_search over the
    // union chunk corpus (additive stats, idf at probe time — the
    // text_search_delta argument; chunk ids disjoint because the doc
    // split is) — chunk_search's oracle verbatim
    "chunk_search_delta" -> s"""
      WITH b AS (${bm25SqlFrom(ChunkCorpusRel)})
      SELECT doc_id // 1048576 AS doc_id,
             doc_id % 1048576 AS chunk_idx,
             n_terms_matched, score
      FROM b""",
    // the delta serving pair: lexical member exact over the union
    // (searchIndexDelta transparency), semantic member under the
    // FROZEN base vocabulary — the same hybrid SQL with its vocabulary
    // CTEs instantiated over the base doc split only
    "chunk_hybrid_serve_delta" ->
      chunkHybridOracleSqlFrom(ChunkVocabBaseWhere),

    // the persisted-index probe is result-identical to the ad-hoc BM25
    // (df/tf/dl round-trip the index exactly) — same oracle
    "text_search_indexed" -> Bm25OracleSql,
    // the DELTA probe is result-identical to the ad-hoc BM25 over the
    // full corpus: tf/dl/df/n_docs/sum_dl are additive integers over
    // the disjoint base/delta doc sets and idf is derived at probe
    // time from the merged df — same oracle (the transparent-hop
    // posture, now spanning two index generations)
    "text_search_delta" -> Bm25OracleSql,
    // the stats tables' masses re-derived from the corpus + the md5
    // split — the whole tokenize/stats round trip under the hash gate
    "text_index_delta_audit" -> s"""
      WITH dl AS (
        SELECT CAST(len(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS BIGINT) AS dl,
               substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                 'dsd')), 1, 1) < 'c' AS is_base
        FROM documents),
      agg AS (
        SELECT CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_docs_base,
               CAST(sum(CASE WHEN is_base THEN dl ELSE 0 END) AS BIGINT)
                 AS sum_dl_base,
               CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_docs_delta,
               CAST(sum(CASE WHEN is_base THEN 0 ELSE dl END) AS BIGINT)
                 AS sum_dl_delta
        FROM dl)
      SELECT n_docs_base, sum_dl_base, n_docs_delta, sum_dl_delta,
             CAST(CASE WHEN n_docs_base + n_docs_delta > 0 THEN
               (2 * n_docs_delta * 1000 + (n_docs_base + n_docs_delta))
                 // (2 * (n_docs_base + n_docs_delta))
             ELSE 0 END AS BIGINT) AS delta_share_milli
      FROM agg""",
    // the frozen-vocab delta semantic, derived independently in SQL:
    // the vocabulary (df-band + milli-idf) comes from the BASE split
    // ONLY (md5 'dsd' < 'c' — what writeDocVectorIndex froze), every
    // doc (base AND delta) is vectorized against it, and the pair join
    // is served DIRECTED to the 'dlt' query slice — the oracle sees
    // the delta append exactly as the engine's frozen-vocab contract
    // defines it
    "doc_similar_delta" -> s"""
      WITH t AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS tf
             FROM t GROUP BY 1, 2, 3),
      btf AS (SELECT * FROM tf
              WHERE substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                'dsd')), 1, 1) < 'c'),
      n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM (SELECT DISTINCT doc_id, lang FROM btf) GROUP BY 1),
      dft AS (SELECT lang, term,
                     CAST(round(ln(n_docs / df) * 1000.0::DOUBLE, 0)
                       AS BIGINT) AS idf_milli
              FROM (SELECT lang, term, CAST(count(*) AS BIGINT) AS df
                    FROM btf GROUP BY 1, 2) JOIN n USING (lang)
              WHERE df >= 2 AND df * 10 <= n_docs * 9),
      w AS (
        SELECT doc_id, tf.lang, tf.term, tf * idf_milli AS w
        FROM tf JOIN dft
          ON tf.lang = dft.lang AND tf.term = dft.term),
      norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
                FROM w GROUP BY 1),
      dots AS (
        SELECT a.lang AS lang, a.doc_id AS doc_id,
               b.doc_id AS similar_id,
               CAST(sum(a.w * b.w) AS BIGINT) AS dot
        FROM w a JOIN w b
          ON a.lang = b.lang AND a.term = b.term
            AND a.doc_id <> b.doc_id
        WHERE substr(md5(concat_ws(':', CAST(a.doc_id AS VARCHAR),
          'dlt')), 1, 1) < '4'
        GROUP BY 1, 2, 3)
      SELECT lang, doc_id, similar_id, score FROM (
        SELECT dots.lang AS lang, dots.doc_id AS doc_id,
               dots.similar_id AS similar_id,
               floor(CAST(dot AS DOUBLE) * 10000.0 /
                 (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                 + 0.5) / 10000.0 AS score
        FROM dots
        JOIN norms na ON dots.doc_id = na.doc_id
        JOIN norms nb ON dots.similar_id = nb.doc_id
        WHERE na.n2 > 0 AND nb.n2 > 0)
      WHERE score >= 0.9""",
    // the whole audit row re-derived relationally: frozen vocabulary
    // (df band + per-lang stats) from the base split, delta tf from
    // the delta split, vector masses as distinct in-band doc counts
    // (a doc has a stored vector iff it holds ≥ 1 in-band term — in
    // the band idf_milli ≥ 105 > 0, so n2 > 0 exactly then), OOV mass
    // as the left-join residue; every number an exact integer, milli
    // shares integer half-up
    "doc_vector_delta_audit" -> s"""
      WITH t AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS tf
             FROM t GROUP BY 1, 2, 3),
      btf AS (SELECT * FROM tf
              WHERE substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                'dsd')), 1, 1) < 'c'),
      dtf AS (SELECT * FROM tf
              WHERE substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                'dsd')), 1, 1) >= 'c'),
      n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM (SELECT DISTINCT doc_id, lang FROM btf) GROUP BY 1),
      dft AS (SELECT lang, term FROM
                (SELECT lang, term, CAST(count(*) AS BIGINT) AS df
                 FROM btf GROUP BY 1, 2) JOIN n USING (lang)
              WHERE df >= 2 AND df * 10 <= n_docs * 9),
      bvec AS (SELECT CAST(count(DISTINCT b.doc_id) AS BIGINT)
                 AS n_vecs_base
               FROM btf b JOIN dft
                 ON b.lang = dft.lang AND b.term = dft.term),
      dvec AS (SELECT CAST(count(DISTINCT d.doc_id) AS BIGINT)
                 AS n_vecs_delta
               FROM dtf d JOIN dft
                 ON d.lang = dft.lang AND d.term = dft.term),
      dd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_delta
             FROM documents
             WHERE substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
               'dsd')), 1, 1) >= 'c'),
      acc AS (
        SELECT CAST(coalesce(sum(d.tf), 0) AS BIGINT) AS toks_delta,
               CAST(coalesce(sum(CASE WHEN dft.term IS NOT NULL
                 THEN d.tf ELSE 0 END), 0) AS BIGINT) AS toks_inband,
               CAST(count(DISTINCT CASE WHEN dft.term IS NOT NULL
                 THEN d.doc_id END) AS BIGINT) AS n_docs_vectorized
        FROM dtf d LEFT JOIN dft
          ON d.lang = dft.lang AND d.term = dft.term)
      SELECT n_vecs_base, n_vecs_delta,
             CAST(CASE WHEN n_vecs_base + n_vecs_delta > 0 THEN
               (2 * n_vecs_delta * 1000 + (n_vecs_base + n_vecs_delta))
                 // (2 * (n_vecs_base + n_vecs_delta))
             ELSE 0 END AS BIGINT) AS delta_share_milli,
             n_docs_delta, n_docs_vectorized, toks_delta,
             toks_delta - toks_inband AS toks_oov,
             CAST(CASE WHEN toks_delta > 0 THEN
               (2 * (toks_delta - toks_inband) * 1000 + toks_delta)
                 // (2 * toks_delta)
             ELSE 0 END AS BIGINT) AS oov_milli
      FROM bvec CROSS JOIN dvec CROSS JOIN dd CROSS JOIN acc""",
    // frozen-stats routing over corpus members is result-identical to
    // the ad-hoc BM25 (stats froze from the same corpus) — same oracle
    "standing_query_route" -> Bm25OracleSql,

    // tf-idf = tf * ln(n_docs/df); n_docs counts docs with >= 1 token
    // (the tf table's distinct doc set) exactly as the Spark side.
    // idf snapped to the 1e-6 grid (ln is the one transcendental;
    // engine libms differ by ulps), then micro = tf * idf_micro is
    // exact integer arithmetic, rank orders on it, and the 4-decimal
    // display is integer half-up + one exact division — the bm25
    // discipline, no float round() anywhere
    "doc_keywords" -> """
      WITH t AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM t GROUP BY 1, 2),
      dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY 1),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
            FROM (SELECT DISTINCT doc_id FROM tf)),
      sc AS (
        SELECT doc_id, term,
               tf * CAST(round(ln(n_docs / df) * 1000000.0::DOUBLE, 0)
                 AS BIGINT) AS micro
        FROM tf JOIN dft USING (term) CROSS JOIN n)
      SELECT doc_id, term, tfidf, rnk FROM (
        SELECT doc_id, term,
               CAST((micro + 50) // 100 AS DOUBLE) / 10000.0::DOUBLE
                 AS tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY micro DESC, term) AS BIGINT) AS rnk
        FROM sc)
      WHERE rnk <= 3""",

    // the docSimilar dual: identical df band, identical 1e-3 idf snap,
    // exact BIGINT weights/dot/norms, the same single floor-half-up
    // double expression, and the same integer n2 > 0 NaN fence; shared
    // verbatim by doc_similar_prefix (provably identical result — the
    // prefix filter is a sound Cauchy–Schwarz prune, so the same SQL
    // checks both derivations)
    "doc_similar" -> DocSimilarOracleSql,

    // the shared PRF dictionary chain, served at trank <= 5
    "prf_terms" -> s"""
      $PrfCtes
      SELECT term, mass_micro, trank FROM etop WHERE trank <= 5""",
    // the dictionary mined from the persisted index round-trips every
    // tf/df/stat exactly — same oracle (transparent hop)
    "prf_terms_persisted" -> s"""
      $PrfCtes
      SELECT term, mass_micro, trank FROM etop WHERE trank <= 5""",
    // the dictionary chain embedded verbatim, then the bm25 chain over
    // the unioned term set (the qterms equijoin mirrors the engine's
    // broadcast term-table join), cut at rnk <= 20 on (grid score
    // DESC, doc_id) — order-equivalent to the engine's MinKByKey key
    "search_prf" -> SearchPrfOracleSql,
    // served ENTIRELY from the persisted postings index; every
    // tf/df/dl/stat round-trips the index exactly and the scoring tail
    // is the ONE bm25ScoreTail, so the persisted hop is transparent
    // and the row shares search_prf's oracle verbatim (the
    // vocab_coverage_persisted posture; PrfSpec pins row-identity)
    "search_prf_persisted" -> SearchPrfOracleSql,
    // the delta hop is transparent at every PRF stage (additive
    // integer stats, df derived at probe time from the merged
    // postings, the one scoring tail) — both delta rows share the
    // ad-hoc faces' oracles verbatim
    "search_prf_delta" -> SearchPrfOracleSql,
    "prf_terms_delta" -> s"""
      $PrfCtes
      SELECT term, mass_micro, trank FROM etop WHERE trank <= 5""",
    // both rankings' top-20 cuts compared set-wise; n_seed_matched is
    // the seed query's whole matched population (the denominator a
    // drift dashboard plots the cut against)
    "expansion_eval" -> s"""
      $PrfCtes,
      $PrfExpandedCtes,
      sv AS (SELECT doc_id FROM (
          SELECT doc_id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS r
          FROM b0) WHERE r <= 20),
      ev AS (SELECT doc_id FROM (
          SELECT doc_id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS r
          FROM f) WHERE r <= 20),
      jj AS (
        SELECT sv.doc_id AS s, ev.doc_id AS e
        FROM sv FULL OUTER JOIN ev ON sv.doc_id = ev.doc_id)
      SELECT CAST(count(CASE WHEN s IS NOT NULL AND e IS NOT NULL
               THEN 1 END) AS BIGINT) AS n_common,
             CAST(count(CASE WHEN s IS NULL THEN 1 END) AS BIGINT)
               AS n_new,
             CAST(count(CASE WHEN e IS NULL THEN 1 END) AS BIGINT)
               AS n_dropped,
             (SELECT CAST(count(*) AS BIGINT) FROM b0) AS n_seed_matched
      FROM jj""",

    // RRF fusion over the two member formulations composed verbatim;
    // integer reciprocal masses (1e9 // (60+rank)) so the fused order
    // and the k-boundary are exact in both engines
    "hybrid_search_rrf" -> s"""
      $HybridFusedCtes
      SELECT doc_id, cand_id, lex_rank, sem_rank, rrf_micro, rnk FROM (
        SELECT doc_id, cand_id, lex_rank, sem_rank, rrf_micro,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY rrf_micro DESC, cand_id) AS BIGINT) AS rnk
        FROM fused)
      WHERE rnk <= 10""",
    // count(CASE..) not sum(CASE..): zero (not NULL) on an empty corpus
    "hybrid_search_audit" -> s"""
      $HybridFusedCtes,
      agg AS (
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_queries,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(count(CASE WHEN lex_rank > 0 AND sem_rank > 0
                 THEN 1 END) AS BIGINT) AS n_both,
               CAST(count(CASE WHEN lex_rank > 0 AND sem_rank = 0
                 THEN 1 END) AS BIGINT) AS n_lex_only,
               CAST(count(CASE WHEN lex_rank = 0 AND sem_rank > 0
                 THEN 1 END) AS BIGINT) AS n_sem_only
        FROM fused),
      srv AS (
        SELECT CAST(count(*) AS BIGINT) AS n_served FROM (
          SELECT row_number() OVER (PARTITION BY doc_id
            ORDER BY rrf_micro DESC, cand_id) AS rnk
          FROM fused)
        WHERE rnk <= 10)
      SELECT n_queries, n_candidates, n_both, n_lex_only, n_sem_only,
             n_served
      FROM agg CROSS JOIN srv""",
    // the kSem cap accounting against the exact brute member (one
    // definition: the shared semd CTE); count(CASE..)/coalesce so an
    // empty corpus yields exact zeros. The denominator is every
    // PROBING query (sliced finite-norm set, left-joined) — a query
    // with an empty τ-passing list counts with n_cand = 0 (r17 ADVICE)
    "hybrid_cap_audit" -> s"""
      WITH $HybridSemCte,
      qset AS (
        SELECT vec_id AS doc_id FROM embeddings
        WHERE substr(md5(concat_ws(':', CAST(vec_id AS VARCHAR),
            'hyb')), 1, 1) < '4'
          AND list_dot_product(embedding::DOUBLE[],
                embedding::DOUBLE[]) > 0
          AND list_dot_product(embedding::DOUBLE[],
                embedding::DOUBLE[]) < 'infinity'::DOUBLE),
      percand AS (
        SELECT q.doc_id, CAST(count(s.cand_id) AS BIGINT) AS n_cand
        FROM qset q LEFT JOIN semd s ON q.doc_id = s.doc_id
        GROUP BY 1)
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
             -- strictly > kSem: a top-kSem cut drops candidates only
             -- past the depth; an exactly-kSem list loses nothing
             CAST(count(CASE WHEN n_cand > 50 THEN 1 END) AS BIGINT)
               AS n_over_cap,
             coalesce(max(n_cand), CAST(0 AS BIGINT)) AS max_cands,
             CAST(50 AS BIGINT) AS k_sem
      FROM percand""",
    "doc_similar_prefix" -> DocSimilarOracleSql,
    // the pair formulation restricted to slice endpoints, served
    // DIRECTED to each in-slice endpoint (both-in-slice pairs → two
    // rows); the md5-nibble slice is the identical expression
    "doc_similar_persisted" -> s"""
      SELECT lang, doc1 AS doc_id, doc2 AS similar_id, score
      FROM ($DocSimilarOracleSql) p
      WHERE substr(md5(concat_ws(':', CAST(doc1 AS VARCHAR), 'mlt')),
        1, 1) < '4'
      UNION ALL
      SELECT lang, doc2 AS doc_id, doc1 AS similar_id, score
      FROM ($DocSimilarOracleSql) p
      WHERE substr(md5(concat_ws(':', CAST(doc2 AS VARCHAR), 'mlt')),
        1, 1) < '4'""",
    // serving cut over the same pair list: symmetrize + row_number on
    // the grid score with the similar_id tie-break; shared verbatim by
    // doc_similar_topk_prefix (the pair sources are row-identical by
    // the prefix spec, so one SQL checks the cut over both)
    "doc_similar_topk" -> DocSimilarTopKOracleSql,
    "doc_similar_topk_prefix" -> DocSimilarTopKOracleSql,

    "vocab_topk" -> """
      WITH w AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
          x -> x <> '')) AS word
        FROM documents)
      SELECT word, count(*) AS cnt FROM w GROUP BY word
      ORDER BY cnt DESC, word LIMIT 50""",

    // two-formulation top token: the engine runs the min_by argmax, the
    // oracle the row_number window; every ratio the identical integer
    // half-up milli over exact BIGINTs (divisors structurally >= 1)
    "vocab_audit" -> """
      WITH w AS (
        SELECT source, unnest(list_filter(string_split(lower(text), ' '),
          x -> x <> '')) AS word
        FROM documents),
      wc AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
        FROM w GROUP BY 1, 2),
      agg AS (
        SELECT source,
               CAST(sum(cnt) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hapax
        FROM wc GROUP BY 1),
      top AS (
        SELECT source, word AS top_word, cnt AS top_cnt
        FROM (SELECT source, word, cnt,
                     row_number() OVER (PARTITION BY source
                       ORDER BY cnt DESC, word) AS rn
              FROM wc) WHERE rn = 1)
      SELECT a.source, a.n_tokens, a.n_types, a.n_hapax,
             (2 * a.n_types * 1000 + a.n_tokens) // (2 * a.n_tokens)
               AS ttr_milli,
             (2 * a.n_hapax * 1000 + a.n_types) // (2 * a.n_types)
               AS hapax_milli,
             t.top_word, t.top_cnt,
             (2 * t.top_cnt * 1000 + a.n_tokens) // (2 * a.n_tokens)
               AS top_milli
      FROM agg a JOIN top t USING (source)""",

    // identical relational shape: (source, word) counts, per-word
    // source-df, shared = df >= 2; integer half-up milli shares
    "vocab_overlap" -> """
      WITH w AS (
        SELECT source, unnest(list_filter(string_split(lower(text), ' '),
          x -> x <> '')) AS word
        FROM documents),
      wc AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
        FROM w GROUP BY 1, 2),
      wsrc AS (
        SELECT word, CAST(count(*) AS BIGINT) AS n_src
        FROM wc GROUP BY 1)
      SELECT wc.source,
             CAST(count(*) AS BIGINT) AS types_total,
             CAST(sum(CASE WHEN n_src >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS types_shared,
             CAST(count(*) AS BIGINT)
               - CAST(sum(CASE WHEN n_src >= 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS types_exclusive,
             CAST(sum(cnt) AS BIGINT) AS tokens_total,
             CAST(sum(CASE WHEN n_src >= 2 THEN cnt ELSE 0 END) AS BIGINT)
               AS tokens_shared,
             (2 * CAST(sum(CASE WHEN n_src >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) * 1000 + CAST(count(*) AS BIGINT))
               // (2 * CAST(count(*) AS BIGINT)) AS shared_types_milli,
             (2 * CAST(sum(CASE WHEN n_src >= 2 THEN cnt ELSE 0 END)
                AS BIGINT) * 1000 + CAST(sum(cnt) AS BIGINT))
               // (2 * CAST(sum(cnt) AS BIGINT)) AS shared_mass_milli
      FROM wc JOIN wsrc USING (word)
      GROUP BY 1""",

    // first-seen attribution under the (n_docs desc, source) greedy
    // rank; src_rank is UNIQUE per source, so the oracle's min-rank
    // equijoin equals the engine's min(struct(rank, source)) argmin —
    // two formulations, one result; cumulative sum over |sources| rows
    "source_novelty" -> """
      WITH ranks AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(row_number() OVER (ORDER BY count(*) DESC, source)
                 AS BIGINT) AS src_rank
        FROM documents GROUP BY source),
      w AS (
        SELECT source, unnest(list_filter(string_split(lower(text), ' '),
          x -> x <> '')) AS word
        FROM documents),
      wc AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
        FROM w GROUP BY 1, 2),
      wcr AS (
        SELECT wc.source, wc.word, wc.cnt, r.src_rank, r.n_docs
        FROM wc JOIN ranks r ON wc.source = r.source),
      fs AS (
        SELECT word, min(src_rank) AS min_rank FROM wcr GROUP BY 1),
      agg AS (
        SELECT w.source, w.src_rank, w.n_docs,
               CAST(count(*) AS BIGINT) AS types_total,
               CAST(sum(CASE WHEN w.src_rank = f.min_rank THEN 1 ELSE 0
                 END) AS BIGINT) AS types_new,
               CAST(sum(w.cnt) AS BIGINT) AS tokens_total,
               CAST(sum(CASE WHEN w.src_rank = f.min_rank THEN w.cnt
                 ELSE 0 END) AS BIGINT) AS tokens_new
        FROM wcr w JOIN fs f ON w.word = f.word
        GROUP BY 1, 2, 3)
      SELECT source, src_rank, n_docs, types_total, types_new,
             tokens_total, tokens_new,
             (2 * types_new * 1000 + types_total) // (2 * types_total)
               AS novelty_milli,
             CAST(sum(types_new) OVER (ORDER BY src_rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_types_new
      FROM agg""",

    // the splitAssign md5-nibble predicate verbatim; vocabulary =
    // train-split words with doc-frequency >= 2; OOV shares as the
    // identical integer half-up milli
    "vocab_coverage" -> VocabCoverageSql,

    // the persisted probe is result-identical (same split rule, same
    // df band, same rollup — TextSpec proves row parity), so the
    // freeze-once hop keeps the vocab_coverage oracle VERBATIM
    "vocab_coverage_persisted" -> VocabCoverageSql,

    // per-doc tagger over ALL docs against the same df-banded train
    // vocabulary; empty docs emit no row (explode/unnest of an empty
    // token list) in both engines
    "oov_tag" -> s"""$VocabCtes,
      probe AS (
        SELECT doc_id, source, word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, source, unnest(t) AS word FROM toks)
        GROUP BY 1, 2, 3)
      SELECT p.doc_id, p.source,
             CAST(sum(p.cnt) AS BIGINT) AS tokens_total,
             CAST(sum(CASE WHEN v.word IS NULL THEN p.cnt ELSE 0 END)
               AS BIGINT) AS tokens_oov
      FROM probe p LEFT JOIN vocab v ON p.word = v.word
      GROUP BY 1, 2""",

    // same grid cross join over per-doc token counts; ceiling division
    // as (nt + w - 1) // w over non-negative BIGINTs; utilization's
    // divisor through nullif on BOTH sides (all-empty source => NULL)
    "context_fit" -> """
      WITH nt AS (
        SELECT source,
               CAST(len(list_filter(string_split(text, ' '),
                 x -> x <> '')) AS BIGINT) AS nt
        FROM documents),
      g AS (SELECT CAST(unnest([64, 256, 1024, 4096]) AS BIGINT) AS w),
      a AS (
        SELECT source, w,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN nt <= w THEN 1 ELSE 0 END) AS BIGINT)
                 AS docs_fit,
               CAST(sum(nt) AS BIGINT) AS tokens_total,
               CAST(sum((nt + w - 1) // w) AS BIGINT) AS n_chunks
        FROM nt CROSS JOIN g GROUP BY 1, 2)
      SELECT source, w, n_docs, docs_fit,
             n_docs - docs_fit AS docs_split,
             tokens_total, n_chunks,
             n_chunks * w - tokens_total AS pad_tokens,
             (2 * tokens_total * 1000 + nullif(n_chunks * w, 0))
               // (2 * nullif(n_chunks * w, 0)) AS util_milli
      FROM a""",

    // same bigram distribution: 1-based list indexing over
    // generate_series, exact marginals from the count table, the
    // identical multiply-before-divide + 1e-6-snapped ln (display
    // only), and both memberships EXACT-INTEGER (support count,
    // HUGEINT/DECIMAL cross-multiplied positivity)
    "word_assoc" -> WordAssocSql,

    // per-doc multiset hits against the dictionary embedded verbatim;
    // identical integer half-up milli; < 2-token docs emit no row
    "phrase_density" -> s"""
      WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS t
        FROM documents),
      pairs AS (
        SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT doc_id, lang, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2))
      SELECT p.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CASE WHEN d.w1 IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_phrase,
             (2 * CAST(sum(CASE WHEN d.w1 IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) * 1000 + CAST(count(*) AS BIGINT)) //
               (2 * CAST(count(*) AS BIGINT)) AS phrase_milli
      FROM pairs p LEFT JOIN ($WordAssocSql) d
        ON p.lang = d.lang AND p.w1 = d.w1 AND p.w2 = d.w2
      GROUP BY 1""",

    // boilerplate spans: literal space-joined 5-token windows (1-based
    // list slice == Spark's 0-based indexed concat_ws), exact
    // distinct-doc df, dictionary = df >= 2
    "boilerplate_spans" -> s"""$BoilerplateCtes
      SELECT gram, df FROM bdict""",

    // per-doc multiset template hits against the dictionary embedded
    // verbatim; identical integer half-up milli; < 5-token docs emit
    // no row
    "boilerplate_tag" -> s"""$BoilerplateCtes
      SELECT doc_id, n_grams, bp_grams,
             (2 * bp_grams * 1000 + n_grams) // (2 * n_grams) AS bp_milli
      FROM btag""",

    // the boilerplate_tag oracle VERBATIM: the persisted round-trip is
    // transparent to the result (spec proves row parity)
    "boilerplate_tag_persisted" -> s"""$BoilerplateCtes
      SELECT doc_id, n_grams, bp_grams,
             (2 * bp_grams * 1000 + n_grams) // (2 * n_grams) AS bp_milli
      FROM btag""",

    // composition-only rollup over the tag + the dictionary size
    "boilerplate_audit" -> s"""$BoilerplateCtes
      SELECT doc.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN bp_grams > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS docs_flagged,
             CAST(sum(n_grams) AS BIGINT) AS grams_total,
             CAST(sum(bp_grams) AS BIGINT) AS grams_bp,
             (2 * CAST(sum(bp_grams) AS BIGINT) * 1000 +
               CAST(sum(n_grams) AS BIGINT)) //
               (2 * CAST(sum(n_grams) AS BIGINT)) AS bp_milli,
             (SELECT CAST(count(*) AS BIGINT) FROM bdict) AS dict_grams
      FROM btag JOIN documents doc USING (doc_id)
      GROUP BY 1""",

    // the naive query the MG-pruned pass must equal exactly: integer
    // threshold cnt*k > n_total, no FP anywhere
    "heavy_hitters" -> """
      WITH w AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
          x -> x <> '')) AS word
        FROM documents)
      SELECT word, count(*) AS cnt FROM w GROUP BY word
      HAVING count(*) * 100 > (SELECT count(*) FROM w)""",

    "doc_length_hist" -> """
      SELECT (length(text) // 100) * 100 AS bucket,
             count(*) AS n_docs
      FROM documents GROUP BY 1""",

    // snapshot membership/mutation are the same md5-nibble row
    // functions the engine uses (pure functions of doc_id); presence is
    // read off the digest columns (non-null by construction)
    "crawl_diff" -> CrawlDiffSql,

    // diff + per-doc q4 embedded verbatim; identical integer priority
    "recrawl_priority" -> RecrawlPrioritySql,

    // the priority queue verbatim, the salted hex4 draw, the bounded
    // (priority, hex4) grid prefix, group-granular day = cum // budget
    "recrawl_schedule" -> s"""
      WITH rpq AS ($RecrawlPrioritySql),
      rs AS (
        SELECT *, substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                 'sched')), 1, 4) AS hex4
        FROM rpq),
      rgrid AS (
        SELECT priority, hex4, CAST(count(*) AS BIGINT) AS cnt
        FROM rs GROUP BY 1, 2),
      rpref AS (
        SELECT priority, hex4,
               CAST(coalesce(sum(cnt) OVER (
                 ORDER BY priority DESC, hex4 ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) // 64 AS day
        FROM rgrid)
      SELECT rs.doc_id, rs.lang, rs.status, rs.q4, rs.priority, p.day
      FROM rs JOIN rpref p ON rs.priority = p.priority
                          AND rs.hex4 = p.hex4""",

    "crawl_diff_report" -> s"""
      WITH diff AS ($CrawlDiffSql)
      SELECT status, lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM diff GROUP BY 1, 2""",

    // the non-overlapping word-window grid: chunk count = ceil(n/W) via
    // (n-1)//W (both engines floor nonnegative integer division), the
    // digest is md5 of the space-rejoined window (DuckDB list_slice is
    // 1-based inclusive, clamped at the list end exactly like Spark's
    // slice), chunk_words = least(W, remainder)
    "chunk_assign" -> ChunkAssignSql,

    // corpus index = distinct chunk digests of the non-shard slice; the
    // shard's chunks left-join it — membership arithmetic both engines
    // derive identically
    "chunk_dedup_incremental" -> s"""
      WITH corpus AS (${chunkGridSql(s"NOT ($ShardPredSql)")}),
      idx AS (SELECT DISTINCT chunk_digest FROM corpus),
      shard AS (${chunkGridSql(ShardPredSql)})
      SELECT s.doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN i.chunk_digest IS NOT NULL THEN 1 ELSE 0
               END) AS BIGINT) AS n_seen,
             CAST(sum(CASE WHEN i.chunk_digest IS NULL THEN 1 ELSE 0
               END) AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN i.chunk_digest IS NULL THEN s.chunk_words
               ELSE 0 END) AS BIGINT) AS words_new
      FROM shard s LEFT JOIN idx i ON s.chunk_digest = i.chunk_digest
      GROUP BY 1""",

    // corpus-wide keeper election per chunk digest: lexicographic min of
    // (doc_id, chunk_idx) — computed as min doc_id per digest, then min
    // chunk_idx within that doc (≡ Spark's min(struct(doc_id,
    // chunk_idx))); every output is an exact integer aggregate
    "chunk_dedup" -> s"""
      WITH chunks AS ($ChunkAssignSql),
      kd AS (
        SELECT chunk_digest, min(doc_id) AS kdoc FROM chunks GROUP BY 1),
      k AS (
        SELECT c.chunk_digest, kd.kdoc, min(c.chunk_idx) AS kidx
        FROM chunks c JOIN kd ON c.chunk_digest = kd.chunk_digest
         AND c.doc_id = kd.kdoc
        GROUP BY 1, 2)
      SELECT c.doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN c.doc_id = k.kdoc AND c.chunk_idx = k.kidx
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN c.doc_id = k.kdoc AND c.chunk_idx = k.kidx
                           THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
             CAST(sum(c.chunk_words) AS BIGINT) AS words_total,
             CAST(sum(CASE WHEN c.doc_id = k.kdoc AND c.chunk_idx = k.kidx
                           THEN c.chunk_words ELSE 0 END) AS BIGINT)
               AS words_kept
      FROM chunks c JOIN k ON c.chunk_digest = k.chunk_digest
      GROUP BY 1""",

    // Spark arrays are 0-indexed, DuckDB lists 1-indexed — hence the
    // toks[i+1..] shift; both sides emit space-joined word 3-grams
    "repetition_stats" -> """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS toks
        FROM documents),
      g AS (
        SELECT doc_id,
               list_transform(range(0, len(toks) - 2), i ->
                 concat_ws(' ', toks[i + 1], toks[i + 2], toks[i + 3]))
                 AS grams
        FROM t WHERE len(toks) >= 3)
      SELECT doc_id,
             CAST(len(grams) AS BIGINT) AS n_grams,
             CAST(len(list_distinct(grams)) AS BIGINT) AS n_uniq_grams,
             round((len(grams) - len(list_distinct(grams))) / len(grams), 4)
               AS dup_ratio
      FROM g""",

    // the 100 TB shape reproduced relationally: test-side inverted index
    // with the same DF cap (100), candidate discovery through the capped
    // index only, exact verify via the FULL (uncapped) inverted lists —
    // the oracle dual of Dedup.contaminationAtScale, promoted from
    // rows-only in round 3
    "contamination_unscoped" -> """
      WITH sp AS (
        SELECT doc_id,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                    THEN 'train' ELSE 'test' END AS split,
               list_distinct(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS w
        FROM documents),
      sz AS (SELECT doc_id, len(w) AS n FROM sp),
      te AS (SELECT doc_id AS test_doc, w FROM sp WHERE split = 'test'),
      tr AS (SELECT doc_id AS train_doc, w FROM sp WHERE split = 'train'),
      testinv AS (SELECT test_doc, unnest(w) AS word FROM te),
      rare AS (
        SELECT word FROM (
          SELECT word, count(*) AS df FROM testinv GROUP BY 1)
        WHERE df <= 100),
      idx AS (SELECT ti.test_doc, ti.word
              FROM testinv ti JOIN rare USING (word)),
      cand AS (
        SELECT DISTINCT t.train_doc, i.test_doc
        FROM (SELECT train_doc, unnest(w) AS word FROM tr) t
        JOIN idx i USING (word)),
      common AS (
        SELECT c.train_doc, c.test_doc, CAST(count(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN (SELECT train_doc, unnest(w) AS word FROM tr) a USING (train_doc)
        JOIN (SELECT test_doc, unnest(w) AS word FROM te) b
          ON b.test_doc = c.test_doc AND b.word = a.word
        GROUP BY 1, 2)
      SELECT train_doc, test_doc, n_common, s1.n AS n1, s2.n AS n2,
             round(n_common / (s1.n + s2.n - n_common), 4) AS jaccard
      FROM common
      JOIN sz s1 ON train_doc = s1.doc_id
      JOIN sz s2 ON test_doc = s2.doc_id
      WHERE round(n_common / (s1.n + s2.n - n_common), 4) >= 0.9""",

    // PolyHash64's Horner loop in the 2^61-1 field, reproduced with
    // HUGEINT arithmetic + list_reduce (seed 7 prepended; corpus is
    // ASCII so ord(char) == byte) — promoted from rows-only in round 3
    "doc_fingerprint" -> """
      WITH t AS (
        SELECT doc_id, lower(trim(text)) AS s,
               array_to_string(list_sort(list_filter(
                 string_split(text, ' '), x -> x <> '')), ' ') AS bag
        FROM documents)
      SELECT doc_id,
        CAST(list_reduce(
          list_prepend(7::HUGEINT,
            list_transform(range(1, length(s) + 1),
              i -> ord(substring(s, i, 1))::HUGEINT)),
          (acc, x) -> (acc * 31 + x) % 2305843009213693951::HUGEINT)
          AS BIGINT) AS fingerprint,
        CAST(list_reduce(
          list_prepend(7::HUGEINT,
            list_transform(range(1, length(bag) + 1),
              i -> ord(substring(bag, i, 1))::HUGEINT)),
          (acc, x) -> (acc * 31 + x) % 2305843009213693951::HUGEINT)
          AS BIGINT) AS bag_fingerprint
      FROM t""",

    "contamination_check" -> """
      WITH sp AS (
        SELECT doc_id, text,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                    THEN 'train' ELSE 'test' END AS split,
               list_distinct(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS w
        FROM documents WHERE lang = 'fr'),
      sz AS (SELECT doc_id, len(w) AS n FROM sp),
      tr AS (SELECT doc_id, unnest(w) AS word FROM sp WHERE split = 'train'),
      te AS (SELECT doc_id, unnest(w) AS word FROM sp WHERE split = 'test'),
      pairs AS (
        SELECT a.doc_id AS train_doc, b.doc_id AS test_doc,
               CAST(count(*) AS BIGINT) AS n_common
        FROM tr a JOIN te b ON a.word = b.word
        GROUP BY 1, 2)
      SELECT train_doc, test_doc, n_common, s1.n AS n1, s2.n AS n2,
             round(n_common / (s1.n + s2.n - n_common), 4) AS jaccard
      FROM pairs
      JOIN sz s1 ON train_doc = s1.doc_id
      JOIN sz s2 ON test_doc = s2.doc_id
      WHERE round(n_common / (s1.n + s2.n - n_common), 4) >= 0.9""",

    // the window formulation of the top-100 (the engine runs the
    // bounded aggregate — two-formulation cross-check); ln snapped to
    // the milli grid before composing, moments exact BIGINT, slope/r2
    // single IEEE chains, integer membership guards
    "zipf_audit" -> """
      WITH ztk AS (
        SELECT lang,
               unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS tok
        FROM documents),
      zc AS (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
        FROM ztk GROUP BY 1, 2),
      zr AS (
        SELECT lang, cnt,
               CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY cnt DESC, tok ASC) AS BIGINT) AS rnk
        FROM zc),
      zs AS (
        SELECT lang,
               CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000.0 + 0.5)
                 AS BIGINT) AS x,
               CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000.0 + 0.5)
                 AS BIGINT) AS y
        FROM zr WHERE rnk <= 100),
      zm AS (
        SELECT lang, count(*) AS n_top,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM zs GROUP BY 1)
      SELECT lang, n_top,
             n_top * sxy - sx * sy AS slope_num,
             n_top * sxx - sx * sx AS slope_den,
             CAST(n_top * sxy - sx * sy AS DOUBLE) /
               CAST(n_top * sxx - sx * sx AS DOUBLE) AS slope,
             CASE WHEN n_top * syy - sy * sy > 0 THEN
               (CAST(n_top * sxy - sx * sy AS DOUBLE) *
                CAST(n_top * sxy - sx * sy AS DOUBLE)) /
               (CAST(n_top * sxx - sx * sx AS DOUBLE) *
                CAST(n_top * syy - sy * sy AS DOUBLE))
             END AS r2
      FROM zm WHERE n_top * sxx - sx * sx > 0""",

    // the q4 CTE chain + the dedup_exact digest verbatim; dup share is
    // the half-up integer milli
    "quality_calibration" -> s"""$Q4Ctes,
      dgq AS (
        SELECT doc_id, md5(lower(trim(text))) AS digest FROM documents),
      dcq AS (SELECT digest, count(*) AS c FROM dgq GROUP BY 1),
      jq AS (
        SELECT q.q4, q.n_tok,
               CASE WHEN dcq.c > 1 THEN 1 ELSE 0 END AS is_dup
        FROM q JOIN dgq USING (doc_id) JOIN dcq USING (digest))
      SELECT q4, count(*) AS n_docs,
             CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
             CAST(sum(n_tok) AS BIGINT) AS tokens_total,
             (2 * CAST(sum(is_dup) AS BIGINT) * 1000 + count(*))
               // (2 * count(*)) AS dup_milli
      FROM jq GROUP BY q4""",

    // the text_redact patterns verbatim; match counts via
    // regexp_extract_all length (== Spark's no-limit split minus one)
    "pii_density" -> """
      WITH h AS (
        SELECT source,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                 AS BIGINT) AS e_hits,
               CAST(len(regexp_extract_all(text, '[0-9]{6,}'))
                 AS BIGINT) AS n_hits
        FROM documents)
      SELECT source, count(*) AS n_docs,
             CAST(sum(e_hits) AS BIGINT) AS n_email_hits,
             CAST(sum(n_hits) AS BIGINT) AS n_num_hits,
             CAST(sum(CASE WHEN e_hits + n_hits > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS docs_with_pii,
             (2 * CAST(sum(CASE WHEN e_hits + n_hits > 0 THEN 1 ELSE 0
                END) AS BIGINT) * 1000 + count(*)) // (2 * count(*))
               AS pii_docs_milli
      FROM h GROUP BY source""",

    "text_redact" -> """
      SELECT doc_id,
             regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
               'g'), '[0-9]{6,}', '<NUM>', 'g') AS redacted,
             CAST(length(text) - length(
               regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
                 '[0-9]{6,}', '', 'g')) AS BIGINT) AS chars_redacted
      FROM documents""",

    // the threshold expression (floor(15 * 65536.0 / n_src)) is the
    // IDENTICAL IEEE arithmetic as the Spark side — multiply before
    // divide — so the boundary row set cannot drift; thresh >= 65536
    // (source already within cap) bypasses the 4-char lexicographic
    // compare
    "source_balance" -> """
      WITH rates AS (
        SELECT source,
               CAST(floor(15 * 65536.0 / count(*)) AS BIGINT) AS thresh
        FROM documents GROUP BY source)
      SELECT d.doc_id, d.lang, d.source
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE r.thresh >= 65536 OR
        substring(md5(concat_ws(':', CAST(d.doc_id AS VARCHAR), d.source,
          '42')), 1, 4) < printf('%04x', r.thresh)""",

    // DuckDB lists are 1-indexed (Spark arrays 0-indexed): positions
    // run 1..len-4 here vs sequence(0, size-5) in the Spark path
    "doc_novelty" -> """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                 x -> x <> '') AS toks
        FROM documents),
      pos AS (
        SELECT doc_id, unnest(generate_series(1, len(toks) - 4)) AS i,
               toks
        FROM t WHERE len(toks) >= 5),
      gr AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                 toks[i+4]) AS gram
        FROM pos),
      fst AS (SELECT gram, min(doc_id) AS first_doc FROM gr GROUP BY gram),
      agg AS (
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_first
        FROM gr g JOIN fst f USING (gram)
        GROUP BY g.doc_id)
      SELECT doc_id, n_grams, n_first,
             round(CAST(n_first AS DOUBLE) / n_grams, 4) AS novelty
      FROM agg""",

    // same tokenizer as token_count; the pack id divide is the same
    // IEEE /256.0 + floor as the Spark side (cumsum is exact BIGINT)
    "pack_assign" -> PackAssignSql,

    // all-integer curriculum cuts: the q4 CTE is the quality_drift
    // formulation verbatim; the per-doc phase is a sum of integer CASE
    // indicators over the grid-prefix boundaries (// = DuckDB integer
    // division, mirroring Spark's div); no doubles anywhere
    "budget_cut" -> BudgetCutSql,

    "quality_cut" -> QualityCutSql,

    // the cut embedded verbatim; integer target + half-up milli share
    "quality_cut_audit" -> s"""
      WITH c AS ($QualityCutSql)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             (CAST(count(*) AS BIGINT) * $KeepMilli) // 1000
               AS target_keep,
             CAST(sum(kept) AS BIGINT) AS n_kept,
             (2 * CAST(sum(kept) AS BIGINT) * 1000 +
               CAST(count(*) AS BIGINT)) //
               (2 * CAST(count(*) AS BIGINT)) AS kept_milli
      FROM c GROUP BY 1""",

    "dsir_weights" -> s"""$DsirCtes
      SELECT doc_id, n_feats, w_milli, g FROM dwg""",

    // same feature/bucket derivation (ddc), then the smoothed-KL
    // ladder: full |sources|×V grid, milli-snapped per-bucket log
    // ratio, exact BIGINT kl sum, positive-shifted half-up kl_milli
    // (shift 50000 strictly dominates |λ_milli| < 45000), one-division
    // kl_nats
    "source_divergence" -> s"""$DsirCtes,
      s_sb AS (
        SELECT source, b, CAST(sum(n) AS BIGINT) AS c_s
        FROM ddc GROUP BY 1, 2),
      s_cc AS (
        SELECT b, CAST(sum(c_s) AS BIGINT) AS c_c FROM s_sb GROUP BY 1),
      s_tot AS (
        SELECT CAST(sum(c_c) AS BIGINT) AS t_c,
               CAST(count(*) AS BIGINT) AS v
        FROM s_cc),
      s_st AS (
        SELECT source, CAST(sum(c_s) AS BIGINT) AS t_s
        FROM s_sb GROUP BY 1),
      s_grid AS (
        SELECT st.source, st.t_s, cc.b, cc.c_c,
               coalesce(sb.c_s, 0) AS c_s, t.t_c, t.v
        FROM s_st st CROSS JOIN s_cc cc CROSS JOIN s_tot t
        LEFT JOIN s_sb sb ON sb.source = st.source AND sb.b = cc.b),
      s_lam AS (
        SELECT source, t_s, v,
               (c_s + 1) * CAST(floor(ln(
                 (CAST(c_s + 1 AS DOUBLE) * CAST(t_c + v AS DOUBLE)) /
                 (CAST(c_c + 1 AS DOUBLE) * CAST(t_s + v AS DOUBLE)))
                 * 1000.0 + 0.5) AS BIGINT) AS term
        FROM s_grid),
      s_kl AS (
        SELECT source, CAST(max(t_s) AS BIGINT) AS t_s,
               CAST(max(v) AS BIGINT) AS n_buckets,
               CAST(sum(term) AS BIGINT) AS kl_sum_milli
        FROM s_lam GROUP BY source)
      SELECT source, t_s, n_buckets, kl_sum_milli,
             (2 * (kl_sum_milli + (t_s + n_buckets) * 50000)
               + (t_s + n_buckets)) // (2 * (t_s + n_buckets))
               - 50000 AS kl_milli,
             CAST(kl_sum_milli AS DOUBLE) /
               (CAST(t_s + n_buckets AS DOUBLE) * 1000.0) AS kl_nats
      FROM s_kl""",

    // same feature/bucket derivation split by the md5-nibble era draw;
    // the flag is the HUGEINT share cross-multiplication, shares are
    // half-up integer micros (display only)
    "feature_drift" -> """
      WITH ftoks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS toks,
               substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                 'era')), 1, 1) < 'c' AS is_old
        FROM documents),
      ffeats AS (
        SELECT doc_id, is_old, unnest(toks) AS feat FROM ftoks
        UNION ALL
        SELECT doc_id, is_old, toks[i] || ' ' || toks[i + 1] AS feat
        FROM (SELECT doc_id, is_old, toks,
                     unnest(generate_series(1, len(toks) - 1)) AS i
              FROM ftoks WHERE len(toks) >= 2)),
      fbk AS (
        SELECT is_old, substr(md5(feat), 1, 3) AS b,
               CAST(count(*) AS BIGINT) AS n
        FROM ffeats GROUP BY 1, 2),
      fp AS (
        SELECT b,
               CAST(sum(CASE WHEN is_old THEN n ELSE 0 END)
                 AS BIGINT) AS n_old,
               CAST(sum(CASE WHEN NOT is_old THEN n ELSE 0 END)
                 AS BIGINT) AS n_new
        FROM fbk GROUP BY 1),
      ft AS (
        SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
               CAST(sum(n_new) AS BIGINT) AS t_new FROM fp)
      SELECT b, n_old, n_new, t_old, t_new,
             CASE WHEN t_old > 0 THEN
               (2 * n_old * 1000000 + t_old) // (2 * t_old)
               ELSE CAST(0 AS BIGINT) END AS share_old_micro,
             CASE WHEN t_new > 0 THEN
               (2 * n_new * 1000000 + t_new) // (2 * t_new)
               ELSE CAST(0 AS BIGINT) END AS share_new_micro
      FROM fp, ft
      WHERE abs(CAST(n_old AS HUGEINT) * t_new -
                CAST(n_new AS HUGEINT) * t_old) * 1000000 >
            500 * CAST(t_old AS HUGEINT) * t_new""",

    "dsir_select" -> DsirSelectSql,

    // composition-only rollup: selection AND weights embedded verbatim
    "dsir_audit" -> s"""
      WITH sel AS ($DsirSelectSql)
      SELECT doc.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(sel.kept) AS BIGINT) AS n_sel,
             (2 * CAST(sum(sel.kept) AS BIGINT) * 1000 +
               CAST(count(*) AS BIGINT)) //
               (2 * CAST(count(*) AS BIGINT)) AS sel_milli,
             CAST(sum(w.w_milli) AS BIGINT) AS sum_w_milli
      FROM sel
      JOIN ($DsirCtes SELECT doc_id, w_milli FROM dwg) w USING (doc_id)
      JOIN documents doc USING (doc_id)
      GROUP BY 1""",

    // composition-only rollup: the member derivation embedded verbatim
    "budget_audit" -> s"""
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(kept) AS BIGINT) AS n_kept,
             CAST(sum(n_tok) AS BIGINT) AS tok_total,
             CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END)
               AS BIGINT) AS tok_kept,
             CAST($BudgetTokens AS BIGINT) AS budget,
             (2 * CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END)
               AS BIGINT) * 1000 + $BudgetTokens) //
               (2 * $BudgetTokens) AS util_milli
      FROM ($BudgetCutSql) c
      GROUP BY source""",

    // funnel oracle: raw mass + the budget derivation over the KEEPER
    // relation embedded verbatim (dedup before selection)
    "selection_report" -> s"""
      WITH raw AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_raw,
               CAST(sum(len(list_filter(string_split(text, ' '),
                 x -> x <> ''))) AS BIGINT) AS tok_raw
        FROM documents GROUP BY 1),
      sel AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_dedup,
               CAST(sum(n_tok) AS BIGINT) AS tok_dedup,
               CAST(sum(kept) AS BIGINT) AS n_sel,
               CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END)
                 AS BIGINT) AS tok_sel
        FROM (${budgetCutSqlFrom(KeeperRel)}) c GROUP BY 1)
      SELECT raw.source, raw.n_raw, raw.tok_raw, sel.n_dedup,
             sel.tok_dedup, sel.n_sel, sel.tok_sel,
             (2 * sel.tok_sel * 1000 + raw.tok_raw) //
               (2 * raw.tok_raw) AS sel_milli
      FROM raw JOIN sel ON raw.source = sel.source""",

    // the shared receipt CTE verbatim (one-definition discipline); the
    // md5 order key makes the WHOLE receipt table engine-identical
    "epoch_shuffle" -> s"""${epochShuffleSql(1)}
      SELECT doc_id, epoch, shard_hex, pos, n_tokens FROM es""",

    // same CTE + the one-row balance rollup; docs divisor guarded (an
    // empty corpus yields a zero-shard row, not a DIVIDE_BY_ZERO)
    "shuffle_balance" -> s"""${epochShuffleSql(1)},
      shard AS (
        SELECT shard_hex, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS toks
        FROM es GROUP BY 1)
      SELECT CAST(1 AS BIGINT) AS epoch,
             CAST(count(*) AS BIGINT) AS n_shards,
             CAST(sum(n_docs) AS BIGINT) AS docs_total,
             CAST(sum(toks) AS BIGINT) AS tokens_total,
             CAST(max(n_docs) AS BIGINT) AS max_docs,
             CAST(min(n_docs) AS BIGINT) AS min_docs,
             CAST(max(toks) AS BIGINT) AS max_tokens,
             CAST(min(toks) AS BIGINT) AS min_tokens,
             CASE WHEN CAST(sum(n_docs) AS BIGINT) > 0 THEN
               (2 * CAST(max(n_docs) AS BIGINT) * CAST(count(*) AS BIGINT)
                  * 1000 + CAST(sum(n_docs) AS BIGINT))
                 // (2 * CAST(sum(n_docs) AS BIGINT))
             ELSE CAST(0 AS BIGINT) END AS doc_imb_milli,
             CASE WHEN CAST(sum(toks) AS BIGINT) > 0 THEN
               (2 * CAST(max(toks) AS BIGINT) * CAST(count(*) AS BIGINT)
                  * 1000 + CAST(sum(toks) AS BIGINT))
                 // (2 * CAST(sum(toks) AS BIGINT))
             ELSE CAST(0 AS BIGINT) END AS token_imb_milli
      FROM shard""",

    "curriculum_assign" -> s"""$Q4Ctes,
      grid AS (
        SELECT q4, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY 1),
      pref AS (
        SELECT q4, cnt,
               CAST(coalesce(sum(cnt) OVER (ORDER BY q4 DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
        FROM grid),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM grid),
      j AS (
        SELECT q.doc_id, q.q4, pref.cnt, pref.cum_before, tot.total,
               substr(md5(concat_ws(':', CAST(q.doc_id AS VARCHAR),
                 'curr')), 1, 4) AS hex4
        FROM q JOIN pref ON q.q4 = pref.q4 CROSS JOIN tot)
      SELECT doc_id, q4, CAST(${(1 to 3).map { p =>
        val dp = s"(($p * total) // 4) - cum_before"
        val tp = s"(((($dp)) * 65536 + cnt - 1) // cnt)"
        s"""(CASE WHEN ($dp) <= 0 THEN 1
                 WHEN $tp >= 65536 THEN 0
                 WHEN hex4 >= printf('%04x', $tp) THEN 1
                 ELSE 0 END)"""
      }.mkString(" + ")} AS BIGINT) AS phase
      FROM j""",

    // per-source fill/oversize accounting over the pack layout
    // (PackAssignSql verbatim); one floor-half-up expression
    // ordered string_agg == engine's sorted-collect concat
    "pack_manifest" -> s"""
      SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tok_total,
             md5(string_agg(CAST(doc_id AS VARCHAR), ':'
               ORDER BY doc_id)) AS manifest_md5
      FROM ($PackAssignSql) p GROUP BY 1, 2""",

    "pack_audit" -> s"""
      WITH p AS ($PackAssignSql)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
             CAST(sum(n_tok) AS BIGINT) AS tokens_total,
             CAST(sum(CASE WHEN n_tok > 256 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_oversize_docs,
             CAST(floor(CAST(sum(n_tok) AS DOUBLE) * 1000.0 /
               (CAST(count(DISTINCT pack_id) AS DOUBLE) * 256.0) + 0.5)
               AS BIGINT) AS fill_milli
      FROM p GROUP BY source""",

    "split_assign" -> """
      SELECT doc_id, lang, source,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                  THEN 'train' ELSE 'test' END AS split
      FROM documents""",

    // mirrors Multimodal.synthesize's parameter derivation: one group
    // per distinct (modality, encoder-parameter tuple) — byte-identical
    // blobs ⟺ identical parameters because every encoder embeds its
    // parameters in the container header
    "mm_dedup" -> """
      SELECT min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_copies
      FROM documents
      GROUP BY
        doc_id % 7,
        CASE doc_id % 7
          WHEN 0 THEN concat_ws(',', doc_id % 32, doc_id % 16)
          WHEN 1 THEN concat_ws(',', doc_id % 64, doc_id % 32)
          WHEN 2 THEN concat_ws(',', doc_id % 128, doc_id % 64,
                                doc_id % 8 = 2)
          WHEN 3 THEN concat_ws(',', doc_id % 2, doc_id % 4 = 3,
                                doc_id % 100)
          WHEN 4 THEN concat_ws(',', doc_id % 40, doc_id % 20,
                          CASE WHEN doc_id % 3 = 2 THEN
                            concat_ws(',', 'anim', doc_id % 4, doc_id % 6)
                          ELSE 'still' END)
          WHEN 5 THEN concat_ws(',', doc_id % 48, doc_id % 24,
                                doc_id % 12 = 11,
                          CASE WHEN doc_id % 12 = 7 THEN
                            concat_ws(',', 'anim', doc_id % 5, doc_id % 8)
                          ELSE 'still' END)
          ELSE concat_ws(',', doc_id % 96, doc_id % 64, doc_id % 10 = 6,
                         doc_id % 50)
        END""",

    // the mm_dedup trick extended to EVERY decoded field: dims, channels,
    // duration (the exact dataSize*1000.0/byteRate and ticks*1000.0/
    // timescale IEEE expressions the decoders compute — exact doubles
    // here, so avg order can't drift), and the container byte length
    // (each encoder emits a fixed layout: bmp 54+rowBytes*h, png 57,
    // jpeg 32+3ch, wav 44+dataSize, gif 14, webp 26, mp4 244) —
    // cross-checking all seven encoders AND decoders
    "mm_features" -> """
      WITH feat AS (
        SELECT
          CASE doc_id % 7 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
               WHEN 2 THEN 'jpeg' WHEN 3 THEN 'wav' WHEN 4 THEN 'gif'
               WHEN 5 THEN 'webp' ELSE 'mp4' END AS format,
          CASE doc_id % 7 WHEN 0 THEN 16 + doc_id % 32
               WHEN 1 THEN 32 + doc_id % 64 WHEN 2 THEN 64 + doc_id % 128
               WHEN 3 THEN 0 WHEN 4 THEN 20 + doc_id % 40
               WHEN 5 THEN 24 + doc_id % 48
               ELSE 48 + doc_id % 96 END AS width,
          CASE doc_id % 7 WHEN 0 THEN 8 + doc_id % 16
               WHEN 1 THEN 16 + doc_id % 32 WHEN 2 THEN 48 + doc_id % 64
               WHEN 3 THEN 0 WHEN 4 THEN 10 + doc_id % 20
               WHEN 5 THEN 12 + doc_id % 24
               ELSE 32 + doc_id % 64 END AS height,
          CASE doc_id % 7 WHEN 0 THEN 3 WHEN 1 THEN 4
               WHEN 2 THEN CASE WHEN doc_id % 8 = 2 THEN 1 ELSE 3 END
               WHEN 3 THEN 1 + doc_id % 2 WHEN 4 THEN 1
               WHEN 5 THEN CASE WHEN doc_id % 12 = 11 THEN 4 ELSE 3 END
               ELSE 3
          END AS channels,
          CASE WHEN doc_id % 7 = 3 THEN
            (((400 + (doc_id % 100) * 40) * (1 + doc_id % 2) * 2)
              * 1000.0::DOUBLE) /
            ((CASE WHEN doc_id % 4 = 3 THEN 16000 ELSE 8000 END)
              * (1 + doc_id % 2) * 2)
          WHEN doc_id % 7 = 6 THEN
            ((1000 + (doc_id % 50) * 200) * 1000.0::DOUBLE) /
            (CASE WHEN doc_id % 10 = 6 THEN 25000 ELSE 10000 END)
          WHEN doc_id % 7 = 4 AND doc_id % 3 = 2 THEN
            ((2 + doc_id % 4) * (5 + doc_id % 6) * 10) * 1.0::DOUBLE
          WHEN doc_id % 7 = 5 AND doc_id % 12 = 7 THEN
            ((2 + doc_id % 5) * (40 + (doc_id % 8) * 10)) * 1.0::DOUBLE
          ELSE 0.0::DOUBLE END AS duration_ms,
          CASE doc_id % 7
            WHEN 0 THEN 54 + ((16 + doc_id % 32) * 3 + 3) // 4 * 4
                          * (8 + doc_id % 16)
            WHEN 1 THEN 57
            WHEN 2 THEN 32 + 3 *
              (CASE WHEN doc_id % 8 = 2 THEN 1 ELSE 3 END)
            WHEN 3 THEN 44 + (400 + (doc_id % 100) * 40)
                          * (1 + doc_id % 2) * 2
            WHEN 4 THEN CASE WHEN doc_id % 3 = 2
                          THEN 14 + 20 * (2 + doc_id % 4) ELSE 14 END
            WHEN 5 THEN CASE WHEN doc_id % 12 = 7
                          THEN 44 + 24 * (2 + doc_id % 5) ELSE 26 END
            ELSE 244 END AS n_bytes,
          CASE WHEN doc_id % 7 = 4 AND doc_id % 3 = 2 THEN 2 + doc_id % 4
               WHEN doc_id % 7 = 5 AND doc_id % 12 = 7 THEN 2 + doc_id % 5
               ELSE 0 END AS n_frames
        FROM documents)
      SELECT format, count(*) AS n_docs,
             round(avg(width), 2) AS avg_width,
             round(avg(height), 2) AS avg_height,
             CAST(max(channels) AS BIGINT) AS max_channels,
             round(avg(duration_ms), 2) AS avg_duration_ms,
             CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
             CAST(sum(n_frames) AS BIGINT) AS total_frames
      FROM feat GROUP BY format""",

    // the lang_id oracle's CTE chain with a (lang, pred_lang) rollup
    // as the final select
    "lang_id_confusion" -> """
      WITH bg AS (
        SELECT doc_id, lang,
               list_transform(range(1, length(text)), i ->
                 ord(substring(text, i, 1)) * 65536 +
                 ord(substring(text, i + 1, 1))) AS bgs
        FROM documents),
      expl AS (SELECT lang AS cand_lang, unnest(bgs) AS b FROM bg),
      counts AS (SELECT cand_lang, b, count(*) AS cnt
                 FROM expl GROUP BY 1, 2),
      prof AS (
        SELECT cand_lang, b FROM (
          SELECT cand_lang, b,
                 row_number() OVER (PARTITION BY cand_lang
                   ORDER BY cnt DESC, b) AS rnk
          FROM counts) WHERE rnk <= 30),
      profiles AS (SELECT cand_lang, list(b) AS profile
                   FROM prof GROUP BY 1),
      scored AS (
        SELECT doc_id, lang, cand_lang,
               CAST(len(list_distinct(list_filter(bgs,
                 x -> list_contains(profile, x)))) AS BIGINT) AS ov
        FROM bg CROSS JOIN profiles)
      SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs FROM (
        SELECT doc_id, lang, cand_lang AS pred_lang,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY ov DESC, cand_lang) AS rn
        FROM scored) WHERE rn = 1
      GROUP BY 1, 2""",

    // mirrors Multimodal.synthesizeWithTranscodes (the mm_dedup trick):
    // format/dims/channels — including the planted doc_id+1e9 transcodes
    // — are pure functions of doc_id, so the candidate set reproduces
    // from doc_id arithmetic; audio (doc_id%6=3) has no canvas and is
    // excluded on both sides
    "mm_transcode_candidates" -> """
      WITH feat AS (
        SELECT doc_id,
          CASE doc_id % 7 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
               WHEN 2 THEN 'jpeg' WHEN 4 THEN 'gif' WHEN 5 THEN 'webp'
               ELSE 'mp4'
          END AS format,
          CAST(CASE doc_id % 7
            WHEN 0 THEN 16 + doc_id % 32
            WHEN 1 THEN 32 + doc_id % 64
            WHEN 2 THEN 64 + doc_id % 128
            WHEN 4 THEN 20 + doc_id % 40
            WHEN 5 THEN 24 + doc_id % 48
            ELSE 48 + doc_id % 96 END AS INT) AS width,
          CAST(CASE doc_id % 7
            WHEN 0 THEN 8 + doc_id % 16
            WHEN 1 THEN 16 + doc_id % 32
            WHEN 2 THEN 48 + doc_id % 64
            WHEN 4 THEN 10 + doc_id % 20
            WHEN 5 THEN 12 + doc_id % 24
            ELSE 32 + doc_id % 64 END AS INT) AS height,
          CAST(CASE doc_id % 7
            WHEN 0 THEN 3
            WHEN 1 THEN 4
            WHEN 2 THEN CASE WHEN doc_id % 8 = 2 THEN 1 ELSE 3 END
            WHEN 4 THEN 1
            WHEN 5 THEN CASE WHEN doc_id % 12 = 11 THEN 4 ELSE 3 END
            ELSE 3
          END AS INT) AS channels
        FROM documents WHERE doc_id % 7 <> 3
        UNION ALL
        SELECT doc_id + 1000000000 AS doc_id,
          CASE WHEN doc_id % 7 IN (2, 6) THEN 'bmp' ELSE 'webp'
          END AS format,
          CAST(CASE doc_id % 7
            WHEN 0 THEN 16 + doc_id % 32
            WHEN 1 THEN 32 + doc_id % 64
            WHEN 2 THEN 64 + doc_id % 128
            ELSE 48 + doc_id % 96 END AS INT) AS width,
          CAST(CASE doc_id % 7
            WHEN 0 THEN 8 + doc_id % 16
            WHEN 1 THEN 16 + doc_id % 32
            WHEN 2 THEN 48 + doc_id % 64
            ELSE 32 + doc_id % 64 END AS INT) AS height,
          CAST(CASE doc_id % 7 WHEN 1 THEN 4 ELSE 3 END AS INT)
            AS channels
        FROM documents
        WHERE doc_id % 5 = 0 AND (doc_id % 7 IN (0, 1, 6) OR
          (doc_id % 7 = 2 AND doc_id % 8 <> 2))),
      occ AS (
        SELECT width, height, channels FROM feat
        GROUP BY 1, 2, 3 HAVING count(*) <= 512),
      kept AS (
        SELECT f.* FROM feat f JOIN occ USING (width, height, channels))
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             a.format AS format1, b.format AS format2,
             a.width AS width, a.height AS height, a.channels AS channels
      FROM kept a JOIN kept b
        ON a.width = b.width AND a.height = b.height
       AND a.channels = b.channels AND a.format <> b.format
       AND a.doc_id < b.doc_id""",

    // bucketKeys reproduced arithmetically: every component of the two
    // offset band keys (format, floor-banded dims, channels,
    // sample_rate, floor-banded duration) is a pure function of doc_id,
    // and grouping by the component TUPLE equals grouping by the Spark
    // side's ':'-joined string (components are separator-free). The
    // corpus-level rollup (memberships / buckets / dropped-over-cap /
    // max occupancy) then compares exactly
    "mm_dedup_near_audit" -> s"""
      WITH $MmBucketMemCte,
      occ AS (
        SELECT tbl, format, wb, hb, channels, sample_rate, db,
               CAST(count(*) AS BIGINT) AS occ
        FROM mem GROUP BY tbl, format, wb, hb, channels, sample_rate, db)
      SELECT CAST(sum(occ) AS BIGINT) AS n_bucket_memberships,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(CASE WHEN occ > 512 THEN occ ELSE 0 END) AS BIGINT)
               AS n_dropped_over_cap,
             CAST(max(occ) AS BIGINT) AS max_occupancy
      FROM occ""",

    // the candidate PAIR LIST from the same arithmetic: cap buckets at
    // 512, self-join memberships per (tbl, key tuple), count the band
    // tables each pair collided in — tuple-grouping equals the Spark
    // side's ':'-joined string key (components are separator-free), and
    // one bucket per (doc, tbl) makes count(*) the table multiplicity
    "mm_dedup_near_candidates" -> s"""
      WITH $MmBucketMemCte,
      occ AS (
        SELECT tbl, format, wb, hb, channels, sample_rate, db
        FROM mem GROUP BY 1, 2, 3, 4, 5, 6, 7
        HAVING count(*) <= 512),
      kept AS (
        SELECT m.* FROM mem m JOIN occ
          USING (tbl, format, wb, hb, channels, sample_rate, db))
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             CAST(count(*) AS BIGINT) AS n_tables
      FROM kept a JOIN kept b
        ON a.tbl = b.tbl AND a.format = b.format AND a.wb = b.wb
       AND a.hb = b.hb AND a.channels = b.channels
       AND a.sample_rate = b.sample_rate AND a.db = b.db
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2""",

    // the full int8 chain reproduced in DuckDB list arithmetic: codes
    // are floor-half-up over the identical IEEE expression
    // (x * 127.0 / mx + 0.5 — floor of identical doubles is identical
    // in every engine, unlike round()), the dot of ≤127² integers is
    // EXACT in doubles regardless of summation order, qnrm = sqrt of an
    // exact integer, and the displayed score is floor-half-up at 1e4 +
    // one exact division. Rank orders identical doubles → identical
    // rows. Zero-norm codes excluded on both sides (0/0 = NaN would
    // sort first in a DESC rank)
    // quantize chain + integer scoring shared with knn_quantized; split
    // membership is the split_assign md5-nibble rule on vec_id
    "pipeline_integrity" -> """
      SELECT CAST(count(d.doc_id) AS BIGINT) AS n_docs,
             CAST(count(e.vec_id) AS BIGINT) AS n_vecs,
             CAST(sum(CASE WHEN d.doc_id IS NOT NULL
                  AND e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
             CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_doc_only,
             CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_vec_only
      FROM (SELECT doc_id FROM documents) d
      FULL OUTER JOIN (SELECT vec_id FROM embeddings) e
        ON d.doc_id = e.vec_id""",

    // identical exact-integer accounting; toksExpr shared verbatim
    "corpus_health" -> """
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids,
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_text,
             CAST(sum(CASE WHEN text = '' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_empty_text,
             CAST(sum(CASE WHEN text IS NOT NULL AND
               len(list_filter(string_split(text, ' '), x -> x <> '')) = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_tokenless,
             CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_lang,
             CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_source
      FROM documents""",

    // squared norm via list_dot_product; NaN/Inf classification is
    // engine-identical (isnan; = infinity)
    "emb_health" -> """
      SELECT CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(count(DISTINCT vec_id) AS BIGINT) AS n_distinct_ids,
             CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_vec,
             CAST(sum(CASE WHEN embedding IS NOT NULL
               AND len(embedding) = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_empty_vec,
             CAST(sum(CASE WHEN embedding IS NOT NULL
               AND len(embedding) > 0
               AND list_dot_product(embedding::DOUBLE[],
                     embedding::DOUBLE[]) = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
             CAST(sum(CASE WHEN embedding IS NOT NULL
               AND (isnan(list_dot_product(embedding::DOUBLE[],
                      embedding::DOUBLE[]))
                    OR list_dot_product(embedding::DOUBLE[],
                         embedding::DOUBLE[]) = 'infinity'::DOUBLE)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
             CAST(min(CASE WHEN embedding IS NOT NULL
               THEN len(embedding) END) AS BIGINT) AS dims_min,
             CAST(max(CASE WHEN embedding IS NOT NULL
               THEN len(embedding) END) AS BIGINT) AS dims_max
      FROM embeddings""",

    // the IVF delta's vector masses re-derived from the corpus: base/
    // delta = the md5 split over finite-norm vectors (the HybridSemCte
    // fence expression — d2 > 0 AND d2 < infinity excludes zero, NaN
    // and Inf identically in both engines since both order NaN
    // greatest), milli share integer half-up
    "ivf_delta_audit" -> """
      WITH fin AS (
        SELECT vec_id FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_dot_product(embedding::DOUBLE[],
                embedding::DOUBLE[]) > 0
          AND list_dot_product(embedding::DOUBLE[],
                embedding::DOUBLE[]) < 'infinity'::DOUBLE),
      b AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs_base FROM fin
            WHERE substr(md5(concat_ws(':', CAST(vec_id AS VARCHAR),
              'ivfd')), 1, 1) < 'c'),
      d AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs_delta FROM fin
            WHERE substr(md5(concat_ws(':', CAST(vec_id AS VARCHAR),
              'ivfd')), 1, 1) >= 'c')
      SELECT n_vecs_base, n_vecs_delta,
             CAST(CASE WHEN n_vecs_base + n_vecs_delta > 0 THEN
               (2 * n_vecs_delta * 1000 + (n_vecs_base + n_vecs_delta))
                 // (2 * (n_vecs_base + n_vecs_delta))
             ELSE 0 END AS BIGINT) AS delta_share_milli
      FROM b CROSS JOIN d""",

    "emb_centroid_affinity" -> EmbAffinitySql,
    "emb_cluster_quality" -> EmbClusterQualitySql,
    // the expl slice grouped by position; identical integer predicate
    // same quantize chain; the upper-triangle self-join is the oracle
    // formulation (the engine runs the per-vector flattened outer
    // product — two-formulation cross-check)
    "emb_gram" -> s"""$EmbCodeCtes,
      gexp AS (
        SELECT vec_id,
               unnest(generate_series(1, len(qv))) AS p,
               unnest(qv) AS code
        FROM codes WHERE len(qv) > 0)
      SELECT CAST(a.p - 1 AS BIGINT) AS di, CAST(b.p - 1 AS BIGINT) AS dj,
             count(*) AS n_vecs,
             CAST(sum(CAST(a.code AS BIGINT) * CAST(b.code AS BIGINT))
               AS BIGINT) AS g
      FROM gexp a JOIN gexp b ON a.vec_id = b.vec_id AND a.p <= b.p
      GROUP BY 1, 2""",

    "emb_dim_stats" -> s"""$EmbCodeCtes,
      dim AS (
        SELECT pos, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(code AS BIGINT)) AS BIGINT) AS s,
               CAST(sum(CAST(code AS BIGINT) * CAST(code AS BIGINT))
                 AS BIGINT) AS s2
        FROM expl GROUP BY 1)
      SELECT CAST(pos - 1 AS BIGINT) AS pos, n, s, s2,
             CAST(CASE WHEN n * s2 - s * s = 0 THEN 1 ELSE 0 END
               AS BIGINT) AS dead
      FROM dim""",
    // all-centroid scoring (no label equality in the dot join), the
    // identical floor-half-up e4 integer, window argmax (engine: max_by)
    "centroid_confusion" -> s"""$EmbCodeCtes,
      alldots AS (
        SELECT e.vec_id, e.label, e.q2, c.label AS cand,
               CAST(sum(CAST(e.code AS BIGINT) * c.s) AS BIGINT) AS dot
        FROM expl e JOIN cent c ON e.pos = c.pos
        GROUP BY 1, 2, 3, 4),
      cscored AS (
        SELECT a.vec_id, a.label, a.cand,
               CAST(floor(CAST(a.dot AS DOUBLE) * 10000.0::DOUBLE /
                 (sqrt(CAST(a.q2 AS DOUBLE)) * sqrt(CAST(s.s2 AS DOUBLE)))
                 + 0.5::DOUBLE) AS BIGINT) AS score_e4
        FROM alldots a JOIN sn s ON a.cand = s.label),
      assigned AS (
        SELECT vec_id, label, cand AS assigned
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY score_e4 DESC, cand ASC) AS rn
              FROM cscored)
        WHERE rn = 1)
      SELECT CAST(label AS BIGINT) AS label,
             CAST(assigned AS BIGINT) AS assigned,
             CAST(count(*) AS BIGINT) AS n
      FROM assigned GROUP BY 1, 2""",

    "emb_outliers" -> s"""
      WITH aff AS ($EmbAffinitySql)
      SELECT vec_id, label, dot, score FROM aff WHERE dot < 0""",

    "knn_label_prop" -> LabelPropSql,

    "knn_label_prop_eval" -> s"""
      WITH pred AS ($LabelPropSql)
      SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_vecs
      FROM pred GROUP BY 1, 2""",

    "triplet_mine" -> TripletSql,

    // the triplet derivation embedded verbatim; margin sums can be
    // negative, so the rollup emits exact sum/min/max and only the
    // non-negative hard share goes through the half-up integer milli
    // (integer div truncates toward zero in Spark but floors in DuckDB
    // — never divide a possibly-negative integer)
    "triplet_stats" -> s"""
      WITH t AS ($TripletSql)
      SELECT anchor_label,
             CAST(count(*) AS BIGINT) AS n_anchors,
             CAST(sum(is_hard) AS BIGINT) AS n_hard,
             CAST(sum(margin_e4) AS BIGINT) AS margin_sum_e4,
             min(margin_e4) AS margin_min_e4,
             max(margin_e4) AS margin_max_e4,
             (2 * CAST(sum(is_hard) AS BIGINT) * 1000 +
               CAST(count(*) AS BIGINT)) //
               (2 * CAST(count(*) AS BIGINT)) AS hard_milli
      FROM t GROUP BY 1""",

    "contamination_semantic" -> """
      WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      m AS (
        SELECT vec_id, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
        FROM base),
      codes AS (
        SELECT vec_id,
               list_transform(v, x -> floor(
                 CASE WHEN mx = 0.0::DOUBLE THEN 0.0::DOUBLE
                      ELSE x * 127.0::DOUBLE / mx END
                 + 0.5::DOUBLE)) AS qv
        FROM m),
      n AS (
        SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS qnrm,
               CASE WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < 'd'
                    THEN 'train' ELSE 'test' END AS split
        FROM codes WHERE list_dot_product(qv, qv) > 0)
      SELECT test_vec, train_vec, score FROM (
        SELECT s.vec_id AS test_vec, t.vec_id AS train_vec,
               CAST(floor(list_dot_product(t.qv, s.qv) * 10000.0::DOUBLE /
                 (t.qnrm * s.qnrm) + 0.5::DOUBLE) AS DOUBLE) /
                 10000.0::DOUBLE AS score
        FROM n t JOIN n s ON t.split = 'train' AND s.split = 'test')
      WHERE score >= 0.45""",

    // quantize chain shared with knn_quantized; per-dim sums via
    // DuckDB's lockstep parallel unnest (values + generate_series);
    // every aggregate forced to BIGINT before summing so both engines
    // do the identical exact integer arithmetic
    "emb_drift_quantized" -> """
      WITH base AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      m AS (
        SELECT vec_id, label, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
        FROM base),
      codes AS (
        SELECT vec_id, label,
               list_transform(v, x -> floor(
                 CASE WHEN mx = 0.0::DOUBLE THEN 0.0::DOUBLE
                      ELSE x * 127.0::DOUBLE / mx END
                 + 0.5::DOUBLE)) AS qv
        FROM m),
      expl AS (
        SELECT label,
               unnest(generate_series(1, len(qv))) AS pos,
               unnest(qv) AS code
        FROM codes),
      bl AS (
        SELECT label, pos,
               CAST(sum(CAST(code AS BIGINT)) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n_vecs
        FROM expl GROUP BY 1, 2),
      corpus AS (
        SELECT pos, CAST(sum(s) AS BIGINT) AS c FROM bl GROUP BY 1),
      agg AS (
        SELECT label, max(n_vecs) AS n_vecs,
               CAST(sum(s * c) AS BIGINT) AS dot,
               CAST(sum(s * s) AS BIGINT) AS s2,
               CAST(sum(c * c) AS BIGINT) AS c2
        FROM bl JOIN corpus USING (pos) GROUP BY 1)
      SELECT CAST(label AS BIGINT) AS label, n_vecs,
             CAST(floor(CAST(dot AS DOUBLE) * 10000.0::DOUBLE /
               (sqrt(CAST(s2 AS DOUBLE)) * sqrt(CAST(c2 AS DOUBLE)))
               + 0.5::DOUBLE) AS DOUBLE) / 10000.0::DOUBLE AS centroid_cos
      FROM agg WHERE s2 > 0 AND c2 > 0""",

    "knn_quantized" -> """
      WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      m AS (
        SELECT vec_id, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
        FROM base),
      codes AS (
        SELECT vec_id,
               list_transform(v, x -> floor(
                 CASE WHEN mx = 0.0::DOUBLE THEN 0.0::DOUBLE
                      ELSE x * 127.0::DOUBLE / mx END
                 + 0.5::DOUBLE)) AS qv
        FROM m),
      n AS (
        SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS qnrm
        FROM codes),
      nz AS (SELECT * FROM n WHERE qnrm > 0.0::DOUBLE),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(floor(list_dot_product(q.qv, c.qv) * 10000.0::DOUBLE /
                 (q.qnrm * c.qnrm) + 0.5::DOUBLE) AS DOUBLE) /
                 10000.0::DOUBLE AS score
        FROM nz q JOIN nz c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
      SELECT query_id, neighbor_id, score, rnk FROM (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
        FROM scored)
      WHERE rnk <= 10""",

    "mm_ingest" -> """
      SELECT source, count(*) AS n_docs,
             CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
             CAST(max(strlen(text)) AS BIGINT) AS max_bytes
      FROM documents GROUP BY source""",

    // doc_sample is a pure function of md5(doc_id:lang:seed), so the
    // oracle reproduces the exact sampled row set (fraction 0.2 →
    // threshold hex 3333 = round(0.2 * 16^4))
    "doc_sample" -> """
      SELECT doc_id, lang, source FROM documents
      WHERE substring(md5(concat_ws(':', CAST(doc_id AS VARCHAR), lang,
        '42')), 1, 4) < '3333'""",
  )

  /** One method rollup block for [[contaminationReportSql]]: counts over
    * an existing oracle formulation, embedded verbatim as a derived
    * table so the report can never drift from the per-method oracles. */
  private def reportBlock(method: String, pairSql: String,
      trainCol: String, testCol: String): String = s"""
      SELECT '$method' AS method,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT $trainCol) AS BIGINT) AS n_train_members,
             CAST(count(DISTINCT $testCol) AS BIGINT) AS n_test_members
      FROM ($pairSql) ${method}_pairs"""

  /** Governance rollup over the four decontamination methods — each
    * block is the method's own oracle SQL verbatim, so the report is
    * checked against exactly what the per-method rows are. */
  private val contaminationReportSql: String = Seq(
    reportBlock("lexical_scoped", oracleBase("contamination_check"),
      "train_doc", "test_doc"),
    reportBlock("lexical_unscoped", oracleBase("contamination_unscoped"),
      "train_doc", "test_doc"),
    reportBlock("substring", oracleBase("contamination_substring"),
      "train_doc", "test_doc"),
    reportBlock("semantic", oracleBase("contamination_semantic"),
      "train_vec", "test_vec")).mkString("\n      UNION ALL\n")

  /** Dedup-adjusted token accounting (the `token_yield` oracle), kept
    * as a named block because the mixture oracles embed it verbatim. */
  private val TokenYieldSql = """
      WITH t AS (
        SELECT doc_id, lang, source,
               CAST(len(list_filter(string_split(text, ' '),
                 x -> x <> '')) AS BIGINT) AS n_tok
        FROM documents),
      k AS (
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
        FROM documents GROUP BY md5(lower(trim(text)))),
      j AS (
        SELECT t.lang, t.source, t.n_tok,
               CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END AS kept
        FROM t LEFT JOIN k USING (doc_id)),
      a AS (
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tokens_raw,
               CAST(sum(kept) AS BIGINT) AS n_docs_kept,
               CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END)
                 AS BIGINT) AS tokens_kept
        FROM j GROUP BY 1, 2)
      SELECT lang, source, n_docs, tokens_raw, n_docs_kept, tokens_kept,
             CAST(floor(CAST(tokens_kept AS DOUBLE) * 10000.0 /
               CAST(tokens_raw AS DOUBLE) + 0.5) AS DOUBLE) / 10000.0
               AS yield_frac
      FROM a WHERE tokens_raw > 0"""

  /** Temperature-balanced (α = 1/2) mixture plan: TokenYieldSql as a
    * derived table, sqrt snapped to the milli grid (exact-integer
    * weights), budget = the corpus's total kept tokens. */
  private val MixPlanSql = s"""
      WITH y AS (
        SELECT lang, source, tokens_kept,
               CAST(floor(sqrt(CAST(tokens_kept AS DOUBLE)) * 1000.0)
                 AS BIGINT) AS weight_milli
        FROM ($TokenYieldSql) ty WHERE tokens_kept > 0),
      tot AS (
        SELECT CAST(sum(weight_milli) AS BIGINT) AS w_total,
               CAST(sum(tokens_kept) AS BIGINT) AS kept_total FROM y),
      p AS (
        SELECT y.lang, y.source, y.tokens_kept, y.weight_milli,
               tot.w_total,
               CAST(floor(CAST(tot.kept_total AS DOUBLE) *
                 CAST(y.weight_milli AS DOUBLE) /
                 CAST(tot.w_total AS DOUBLE)) AS BIGINT) AS target_tokens
        FROM y, tot)
      SELECT lang, source, tokens_kept, weight_milli,
             CAST(floor(CAST(weight_milli AS DOUBLE) * 10000.0 /
               CAST(w_total AS DOUBLE) + 0.5) AS DOUBLE) / 10000.0
               AS share,
             target_tokens,
             CAST(floor(CAST(target_tokens AS DOUBLE) * 10000.0 /
               CAST(tokens_kept AS DOUBLE) + 0.5) AS DOUBLE) / 10000.0
               AS epochs
      FROM p"""

  /** NB domain-classifier per-doc scores: class counts / totals /
    * vocabulary are exact integers; the one transcendental (ln of the
    * Laplace-smoothed odds ratio) is a single identical IEEE chain
    * snapped to the milli grid; doc scores exact integer sums; the
    * class decision an integer predicate. Named because the eval
    * rollup and the persisted variant embed/share it. */
  private val DomainScoreSql = """
      WITH tk AS (
        SELECT doc_id,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_ref,
               unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS term
        FROM documents),
      tc AS (
        SELECT term,
               CAST(sum(is_ref) AS BIGINT) AS c_ref,
               CAST(sum(1 - is_ref) AS BIGINT) AS c_oth,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tk GROUP BY term
        HAVING count(DISTINCT doc_id) >= 2),
      tot AS (
        SELECT CAST(sum(c_ref) AS BIGINT) AS r_total,
               CAST(sum(c_oth) AS BIGINT) AS o_total,
               CAST(count(*) AS BIGINT) AS v_size
        FROM tc),
      m AS (
        SELECT term,
               CAST(floor(ln(CAST(c_ref + 1 AS DOUBLE) *
                 CAST(o_total + v_size AS DOUBLE) /
                 (CAST(c_oth + 1 AS DOUBLE) *
                  CAST(r_total + v_size AS DOUBLE))) * 1000.0 + 0.5)
                 AS BIGINT) AS logodds_milli
        FROM tc, tot),
      dt AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM tk GROUP BY doc_id, term)
      SELECT dt.doc_id,
             CAST(sum(tf) AS BIGINT) AS n_scored_tokens,
             CAST(sum(tf * logodds_milli) AS BIGINT) AS logodds_milli_sum,
             CAST(CASE WHEN sum(tf * logodds_milli) > 0 THEN 1 ELSE 0 END
               AS BIGINT) AS pred_ref
      FROM dt JOIN m USING (term)
      GROUP BY dt.doc_id"""

  val oracle: Map[String, String] = oracleBase ++ Map(
    "contamination_report" -> contaminationReportSql,

    "domain_classifier" -> DomainScoreSql,

    // the persisted-model round trip is transparent to the result
    // (same vocab band, same milli-snapped log-odds), so it shares the
    // training-corpus oracle — the dedup_incremental posture
    "domain_classifier_persisted" -> DomainScoreSql,

    // held-out: the model CTEs read the train split, scoring reads the
    // test split; split membership is the split_assign md5-nibble
    // predicate (trainSixteenths = 13 → boundary 'd')
    "domain_classifier_holdout" -> """
      WITH sp AS (
        SELECT doc_id,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                    THEN 'train' ELSE 'test' END AS split
        FROM documents),
      tk AS (
        SELECT doc_id,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_ref,
               unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS term
        FROM documents),
      tc AS (
        SELECT term,
               CAST(sum(is_ref) AS BIGINT) AS c_ref,
               CAST(sum(1 - is_ref) AS BIGINT) AS c_oth,
               CAST(count(DISTINCT tk.doc_id) AS BIGINT) AS df
        FROM tk JOIN sp USING (doc_id) WHERE sp.split = 'train'
        GROUP BY term
        HAVING count(DISTINCT tk.doc_id) >= 2),
      tot AS (
        SELECT CAST(sum(c_ref) AS BIGINT) AS r_total,
               CAST(sum(c_oth) AS BIGINT) AS o_total,
               CAST(count(*) AS BIGINT) AS v_size
        FROM tc),
      m AS (
        SELECT term,
               CAST(floor(ln(CAST(c_ref + 1 AS DOUBLE) *
                 CAST(o_total + v_size AS DOUBLE) /
                 (CAST(c_oth + 1 AS DOUBLE) *
                  CAST(r_total + v_size AS DOUBLE))) * 1000.0 + 0.5)
                 AS BIGINT) AS logodds_milli
        FROM tc, tot),
      dt AS (
        SELECT tk.doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM tk JOIN sp USING (doc_id) WHERE sp.split = 'test'
        GROUP BY tk.doc_id, term)
      SELECT dt.doc_id,
             CAST(sum(tf) AS BIGINT) AS n_scored_tokens,
             CAST(sum(tf * logodds_milli) AS BIGINT) AS logodds_milli_sum,
             CAST(CASE WHEN sum(tf * logodds_milli) > 0 THEN 1 ELSE 0 END
               AS BIGINT) AS pred_ref
      FROM dt JOIN m USING (term)
      GROUP BY dt.doc_id""",

    // confusion over scored docs only (no-evidence docs carry no
    // prediction); embeds the per-doc SQL verbatim
    "domain_classifier_eval" -> s"""
      WITH s AS ($DomainScoreSql),
      l AS (
        SELECT doc_id,
               CAST(CASE WHEN source = 'src0' THEN 1 ELSE 0 END
                 AS BIGINT) AS is_ref
        FROM documents)
      SELECT l.is_ref, s.pred_ref, CAST(count(*) AS BIGINT) AS n_docs
      FROM s JOIN l USING (doc_id)
      GROUP BY 1, 2""",

    "source_overlap" -> """
      WITH g AS (
        SELECT md5(lower(trim(text))) AS digest, source,
               CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2)
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared_digests,
             CAST(sum(a.n) AS BIGINT) AS docs_a,
             CAST(sum(b.n) AS BIGINT) AS docs_b
      FROM g a JOIN g b ON a.digest = b.digest AND a.source < b.source
      GROUP BY 1, 2""",

    // keeper election and tokenization mirror dedup_exact/token_count;
    // yield_frac is the floor-half-up double contract (no float round),
    // membership guarded by the INTEGER tokens_raw > 0 predicate
    "token_yield" -> TokenYieldSql,

    // the md5 rung thresholds reproduced verbatim; 'g' sorts above
    // every hex digit — the full-corpus control rung
    "scaling_ladder" -> """
      WITH r AS (SELECT * FROM (VALUES
          (CAST(16 AS BIGINT), '1'), (CAST(8 AS BIGINT), '2'),
          (CAST(4 AS BIGINT), '4'), (CAST(2 AS BIGINT), '8'),
          (CAST(1 AS BIGINT), 'g')) t(denom, thr)),
      d AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split(text, ' '),
                 x -> x <> '')) AS BIGINT) AS n_toks,
               substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                 'ladder')), 1, 1) AS k
        FROM documents)
      SELECT denom, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM d JOIN r ON d.k < r.thr
      GROUP BY denom""",

    // mixture plan over the yields: TokenYieldSql embedded VERBATIM as
    // a derived table (the reportBlock discipline — the plan can never
    // drift from the yield it budgets over); weights are exact
    // integers (floor(sqrt * 1000)), share/epochs floor-half-up
    "mix_plan" -> MixPlanSql,

    // allocation accounting over the plan (MixPlanSql verbatim): the
    // upsample predicate is integer, max_epochs maxes grid-snapped
    // doubles (comparison only, no new FP expression)
    "mix_audit" -> s"""
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum(tokens_kept) AS BIGINT) AS kept_total,
             CAST(sum(target_tokens) AS BIGINT) AS target_total,
             CAST(sum(CASE WHEN target_tokens > tokens_kept THEN 1
               ELSE 0 END) AS BIGINT) AS n_upsampled,
             max(epochs) AS max_epochs
      FROM ($MixPlanSql) mp""",

    // per-doc copy counts under the plan: MixPlanSql's core embedded
    // verbatim; ratio r is divided once and each engine subtracts its
    // own floor — the identical IEEE chain as the Spark expression
    "mix_apply" -> s"""
      WITH p AS ($MixPlanSql),
      j AS (
        SELECT d.doc_id, d.lang, d.source,
               CAST(p.target_tokens AS DOUBLE) /
                 CAST(p.tokens_kept AS DOUBLE) AS r
        FROM documents d JOIN p USING (lang, source)),
      c AS (
        SELECT doc_id, lang, source,
               CAST(floor(r) AS BIGINT) +
               CASE WHEN substring(md5(concat_ws(':',
                      CAST(doc_id AS VARCHAR), lang, source, '42')), 1, 4)
                    < printf('%04x',
                        CAST(floor((r - floor(r)) * 65536.0) AS BIGINT))
                    THEN 1 ELSE 0 END AS n_copies
        FROM j)
      SELECT doc_id, lang, source, n_copies
      FROM c WHERE n_copies > 0""",

    // the window formulation IS the oracle; the engine runs the
    // MinKByKey bounded aggregate instead (no per-stratum sort) and
    // must reproduce the identical row set
    "sample_exact_k" -> """
      SELECT lang, source, doc_id, CAST(rk AS BIGINT) AS sample_rank
      FROM (
        SELECT lang, source, doc_id,
               row_number() OVER (PARTITION BY lang, source
                 ORDER BY md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                   'strat')), doc_id) AS rk
        FROM documents) t
      WHERE rk <= 5""",
  )
}
