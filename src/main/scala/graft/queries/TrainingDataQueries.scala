package graft
package queries

import graft.operators._

/** t* — training-data curation over the testdata documents: quality and
  * near-dup filters, decontamination, tokenization and mixture stats. Most
  * carry DuckDB oracle SQL; the rest are gated by their scalatest specs.
  */
object TrainingDataQueries {
  /** DuckDB mirror of TextOps.contaminationCurve: the t13 bench/corpus
    * fixture with one distinct-hit join block per n-gram length.
    */
  private def contaminationCurveOracleSql(ns: Seq[Int]): String = {
    def block(n: Int): String =
      s"""  SELECT $n AS ngram_n,
         |    CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_flagged_docs,
         |    CAST(count(*) AS BIGINT) AS n_hits
         |  FROM (
         |    SELECT DISTINCT doc_id,
         |      array_to_string(list_slice(t, i, i + ${n - 1}), ' ') AS ng
         |    FROM (SELECT doc_id, t,
         |      unnest(generate_series(1, greatest(len(t) - ${n - 1}, 0))) AS i
         |      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')
         |        AS t FROM corpus))
         |  ) c JOIN (
         |    SELECT DISTINCT
         |      array_to_string(list_slice(t, i, i + ${n - 1}), ' ') AS ng
         |    FROM (SELECT t,
         |      unnest(generate_series(1, greatest(len(t) - ${n - 1}, 0))) AS i
         |      FROM (SELECT regexp_split_to_array(trim(text), '\\s+')
         |        AS t FROM bench))
         |  ) b USING (ng)""".stripMargin
    """WITH bench AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 23 = 0
      |), corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id,
      |    array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 20), ' ')
      |      || ' then entirely novel commentary continues past the quotation' AS text
      |  FROM documents WHERE doc_id % 23 = 0
      |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus_docs FROM corpus),
      |hits AS (
      |""".stripMargin +
      ns.map(block).mkString("\n  UNION ALL\n") +
      """
        |)
        |SELECT CAST(ngram_n AS BIGINT) AS ngram_n, n_corpus_docs,
        |  n_flagged_docs, n_hits,
        |  (10000 * n_flagged_docs) // n_corpus_docs AS flagged_bp
        |FROM hits CROSS JOIN tot ORDER BY ngram_n""".stripMargin
  }

  /** DuckDB mirror of TextOps.shingleSizeSweep: one inverted-index +
    * df-cap + gate + truth-compare block per shingle width.
    */
  private def shingleSweepOracleSql(ws: Seq[Int]): String = {
    def block(w: Int): String =
      s"""  SELECT $w AS w,
         |    (SELECT CAST(count(*) AS BIGINT) FROM scored$w)
         |      AS n_candidates,
         |    (SELECT CAST(sum(CASE WHEN n_inter * 2 >= sa + sb - n_inter
         |      THEN 1 ELSE 0 END) AS BIGINT) FROM scored$w)
         |      AS n_predicted,
         |    CAST(sum(CASE WHEN pred = 1 AND is_true = 1 THEN 1 ELSE 0
         |      END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN pred = 1 AND is_true IS NULL THEN 1
         |      ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN pred IS NULL AND is_true = 1 THEN 1
         |      ELSE 0 END) AS BIGINT) AS fn
         |  FROM (
         |    SELECT d.pred, t.is_true
         |    FROM (
         |      SELECT doc_a, doc_b, 1 AS pred FROM scored$w
         |      WHERE n_inter * 2 >= sa + sb - n_inter
         |    ) d
         |    FULL OUTER JOIN truth t
         |      ON t.doc_a = d.doc_a AND t.doc_b = d.doc_b)""".stripMargin
    def shingleCte(w: Int): String =
      s"""sh$w AS (
         |  SELECT DISTINCT doc_id,
         |    array_to_string(list_slice(t, i, i + ${w - 1}), ' ') AS sh
         |  FROM (SELECT doc_id, t,
         |    unnest(generate_series(1, greatest(len(t) - ${w - 1}, 0))) AS i
         |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')
         |      AS t FROM corpus))
         |), sz$w AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM sh$w GROUP BY doc_id
         |), scored$w AS (
         |  SELECT p.doc_a, p.doc_b, p.n_inter, sa.sz AS sa, sb.sz AS sb
         |  FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |      CAST(count(*) AS BIGINT) AS n_inter
         |    FROM (SELECT doc_id, sh FROM sh$w WHERE sh NOT IN
         |      (SELECT sh FROM sh$w GROUP BY sh HAVING count(*) > 64)) a
         |    JOIN (SELECT doc_id, sh FROM sh$w WHERE sh NOT IN
         |      (SELECT sh FROM sh$w GROUP BY sh HAVING count(*) > 64)) b
         |      ON a.sh = b.sh AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2) p
         |  JOIN sz$w sa ON p.doc_a = sa.doc_id
         |  JOIN sz$w sb ON p.doc_b = sb.doc_id
         |)""".stripMargin
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' appended revision marker tokens' AS text
      |  FROM documents WHERE doc_id % 20 = 0
      |), truth AS (
      |  SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b,
      |    CAST(1 AS BIGINT) AS is_true
      |  FROM documents WHERE doc_id % 20 = 0
      |), """.stripMargin +
      ws.map(shingleCte).mkString(",\n") +
      ",\nsweep AS (\n" + ws.map(block).mkString("\n  UNION ALL\n") +
      """
        |)
        |SELECT CAST(w AS BIGINT) AS w, n_candidates, n_predicted,
        |  tp, fp, fn,
        |  round(CAST(tp AS DOUBLE)
        |    / CAST(greatest(tp + fp, 1) AS DOUBLE), 6) AS prec,
        |  round(CAST(tp AS DOUBLE)
        |    / CAST(greatest(tp + fn, 1) AS DOUBLE), 6) AS rec
        |FROM sweep ORDER BY w""".stripMargin
  }

  /** Shared CTE prefix of the t05-derived oracles: the near-dup pair
    * construction (planted corpus -> word 3-gram shingles -> df-capped
    * inverted index -> Jaccard >= 0.5 pairs), ending open so callers append
    * further CTEs. RECURSIVE is declared here because `reach` needs it.
    */
  private val ngramPairSql: String =
    """WITH RECURSIVE corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' appended revision marker tokens' AS text
      |  FROM documents WHERE doc_id % 20 = 0
      |), toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
      |), shingles AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
      |), sizes AS (
      |  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
      |), idx AS (
      |  SELECT doc_id, sh FROM shingles
      |  WHERE sh NOT IN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) > 64)
      |), pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), dup_pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM pairs
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE n_inter * 2 >= sa.sz + sb.sz - n_inter
      |)""".stripMargin

  /** The t05 pair graph's connected components, still open: `ngramPairSql`
    * plus the symmetric `edges` of `dup_pairs` and their recursive `reach`
    * closure (id -> every node it reaches). Callers append a `, name AS (`
    * CTE or the final SELECT; min(node) per id is the component label.
    */
  private[queries] val dupReachSql: String =
    ngramPairSql +
      """, edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
        |  UNION
        |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
        |), reach AS (
        |  SELECT src AS id, src AS node FROM edges
        |  UNION
        |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
        |)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("t01_text_quality", (s, d) => TextOps.qualityStats(s, d),
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_act,
        |CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
        |  / greatest(length(text), 1), 4) AS punct_ratio
        |FROM documents""".stripMargin)),
    Query("t02_text_profile", (s, d) => TextOps.textProfile(s, d)),
    Query("t03_neardup_minhash", (s, d) => TextOps.nearDupMinhash(s, d)),
    Query("t04_neardup_simhash", (s, d) => TextOps.nearDupSimhash(s, d)),
    Query("t05_neardup_ngram", (s, d) => TextOps.nearDupNgramJaccard(s, d),
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' appended revision marker tokens' AS text
        |  FROM documents WHERE doc_id % 20 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
        |), shingles AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
        |), idx AS (
        |  SELECT doc_id, sh FROM shingles
        |  WHERE sh NOT IN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) > 64)
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, n_inter, sa.sz + sb.sz - n_inter AS n_union
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE n_inter * 2 >= sa.sz + sb.sz - n_inter""".stripMargin)),
    Query("t06_repeated_spans", (s, d) => TextOps.repeatedSpans(s, d)),
    Query("t07_dedup_resolve", (s, d) => operators.DedupResolve.resolveNgramDups(s, d),
      // t07/t08: connected components over the t05 pair graph. The oracle
      // enumerates reachable nodes with a recursive CTE (set-semantics UNION
      // terminates it); component = min reachable id — the same label the
      // Spark fixpoint converges to.
      Some(dupReachSql +
        """
          |SELECT id AS doc_id, min(node) AS component,
          |  (id = min(node)) AS is_survivor
          |FROM reach GROUP BY id""".stripMargin)),
    Query("t08_dedup_corpus", (s, d) => operators.DedupResolve.dedupedCorpus(s, d),
      Some(dupReachSql +
        """, drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |)
          |SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT id FROM drops)"""
          .stripMargin)),
    Query("t09_corpus_curation", (s, d) => TextOps.curatedCorpus(s, d),
      Some(dupReachSql +
        """, drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |)
          |SELECT doc_id,
          |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          |  round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
          |    / greatest(length(text), 1), 4) AS punct_ratio
          |FROM corpus
          |WHERE doc_id NOT IN (SELECT id FROM drops)
          |  AND len(regexp_split_to_array(trim(text), '\s+')) >= 32
          |  AND round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
          |    / greatest(length(text), 1), 4) <= 0.1""".stripMargin)),
    Query("t10_span_clip", (s, d) => TextOps.spanClippedCorpus(s, d)),
    Query("t11_multimodal_dedup", (s, d) =>
      operators.MultimodalDedup.multimodalResolve(s, d),
      // t11: components over the UNION of caption near-dup edges (t05
      // kernel) and exact-image star edges (member -> group-min; same
      // components as the clique). Image identity mirrors
      // MultimodalDedup.pairsCorpus: (doc_id % 1000000) % 211.
      Some(ngramPairSql +
        """, img AS (
          |  SELECT doc_id, (doc_id % 1000000) % 211 AS g FROM corpus
          |), img_edges AS (
          |  SELECT m.g_min AS doc_a, i.doc_id AS doc_b
          |  FROM img i
          |  JOIN (SELECT g, min(doc_id) AS g_min FROM img GROUP BY g) m
          |    ON i.g = m.g
          |  WHERE i.doc_id <> m.g_min
          |), edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |  UNION SELECT doc_a AS src, doc_b AS dst FROM img_edges
          |  UNION SELECT doc_b AS src, doc_a AS dst FROM img_edges
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |)
          |SELECT id AS pair_id, min(node) AS component,
          |  (id = min(node)) AS is_survivor
          |FROM reach GROUP BY id""".stripMargin)),
    Query("t12_stratified_sample", (s, d) => TextOps.stratifiedSample(s, d),
      // t12: hash-threshold stratified sampling — deterministic, so the
      // oracle reproduces the exact sampled set (hex md5 compares
      // lexicographically; threshold digit k keeps k/16 of the stratum).
      Some("""SELECT doc_id, lang, source FROM documents
        |WHERE md5('smp1:' || CAST(doc_id AS VARCHAR))
        |      < (CASE WHEN lang = 'en' THEN '2' ELSE '8' END)""".stripMargin)),
    Query("t13_decontaminate", (s, d) => TextOps.contaminationReport(s, d),
      // t13: benchmark decontamination — word-8-gram overlap vs the
      // deterministic benchmark slice (doc_id % 23). The oracle joins on
      // the n-gram STRINGS where Spark joins xxhash64 of the same strings
      // (t05 precedent); the quote-doc construction (first 20 tokens +
      // novel suffix) is mirrored token-for-token.
      Some("""WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 23 = 0
        |), corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 20), ' ')
        |      || ' then entirely novel commentary continues past the quotation' AS text
        |  FROM documents WHERE doc_id % 23 = 0
        |), bng AS (
        |  SELECT DISTINCT array_to_string(list_slice(t, i, i + 7), ' ') AS ng
        |  FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        |        FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM bench))
        |), cng AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 7), ' ') AS ng
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        |        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus))
        |)
        |SELECT c.doc_id, count(*) AS n_hits
        |FROM cng c JOIN bng b USING (ng)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin)),
    // t14: unigram-LM perplexity filter (CCNet-style) — vocab broadcasts,
    // token stream never shuffles, planted gibberish must be flagged
    Query("t14_lm_filter", (s, d) => TextOps.lmQualityReport(s, d),
      // t14: unigram-LM perplexity filter — gibberish plant construction,
      // Laplace arithmetic, and the rounded-then-compared flag mirrored
      // exactly (ln's last-ulp differences die in the 4 dp rounding; the
      // real-vs-gibberish nll gap is ~2x, nowhere near the threshold).
      Some("""WITH train AS (
        |  SELECT doc_id, lower(trim(text)) AS text FROM documents
        |), gib AS (
        |  SELECT doc_id + 2000000 AS doc_id, gtext AS text FROM (
        |    SELECT doc_id,
        |      md5('g0:' || doc_id) || ' ' || md5('g1:' || doc_id) || ' ' ||
        |      md5('g2:' || doc_id) || ' ' || md5('g3:' || doc_id) || ' ' ||
        |      md5('g4:' || doc_id) || ' ' || md5('g5:' || doc_id) || ' ' ||
        |      md5('g6:' || doc_id) || ' ' || md5('g7:' || doc_id) AS gtext
        |    FROM documents WHERE doc_id % 25 = 0)
        |), corpus AS (
        |  SELECT * FROM train UNION ALL SELECT * FROM gib
        |), train_tok AS (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM train
        |), vocab AS (
        |  SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM train_tok GROUP BY tok
        |), tot AS (
        |  SELECT sum(c) AS t, CAST(count(*) AS DOUBLE) AS v FROM vocab
        |), doc_tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok FROM corpus
        |), lp AS (
        |  SELECT d.doc_id, ln((COALESCE(vb.c, 0) + 1.0) / (tot.t + tot.v)) AS lp
        |  FROM doc_tok d LEFT JOIN vocab vb ON d.tok = vb.tok CROSS JOIN tot
        |), rep AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         round(-avg(lp), 4) AS nll
        |  FROM lp GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, nll, nll > 8.0 AS flagged
        |FROM rep ORDER BY doc_id""".stripMargin)),
    // t15: temperature-scaled domain mixture (tau = 1/2) — deterministic
    // md5-threshold acceptance; rates broadcast, corpus never shuffles
    Query("t15_mixture_sample", (s, d) => TextOps.mixtureReport(s, d),
      // t15: temperature mixture — sqrt weights (IEEE-exact where pow is
      // not), 9 dp rate rounding before the threshold, md5-prefix
      // acceptance compared as fixed-width lowercase hex in both engines.
      Some("""WITH d AS (SELECT doc_id, source FROM documents),
        |counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY source),
        |tot AS (SELECT sum(n_docs) AS n_total,
        |               sum(sqrt(CAST(n_docs AS DOUBLE))) AS w_total FROM counts),
        |rates AS (
        |  SELECT source, n_docs,
        |    round(least(CAST(1.0 AS DOUBLE),
        |      floor(n_total * 0.25) * sqrt(CAST(n_docs AS DOUBLE)) /
        |        (w_total * CAST(n_docs AS DOUBLE))), 9) AS rate
        |  FROM counts CROSS JOIN tot),
        |thr AS (
        |  SELECT source, n_docs, rate,
        |    CASE WHEN rate >= 1.0 THEN 'g'
        |         ELSE lower(lpad(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT)), 8, '0'))
        |    END AS thr_hex
        |  FROM rates),
        |kept AS (
        |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
        |  FROM d JOIN thr ON d.source = thr.source
        |  WHERE substr(md5('mix1:' || d.doc_id), 1, 8) < thr.thr_hex
        |  GROUP BY d.source)
        |SELECT t.source, t.n_docs, t.rate,
        |       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
        |FROM thr t LEFT JOIN kept k ON t.source = k.source
        |ORDER BY t.source""".stripMargin)),
    // t16: content-hash train/eval split + near-dup leakage audit (the
    // in-corpus counterpart of t13's benchmark decontamination)
    Query("t16_split_leakage", (s, d) => TextOps.splitLeakageReport(s, d),
      // t16: t05's pair kernel + the content-hash split assignment —
      // construction, integer Jaccard gate, and the double-md5 split all
      // mirrored exactly.
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' appended revision marker tokens' AS text
        |  FROM documents WHERE doc_id % 20 = 0
        |), splits AS (
        |  SELECT doc_id,
        |    CASE WHEN md5('spl1:' || md5(text)) < '4' THEN 'eval' ELSE 'train' END AS split
        |  FROM corpus
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
        |), shingles AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
        |), idx AS (
        |  SELECT doc_id, sh FROM shingles
        |  WHERE sh NOT IN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) > 64)
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), nd AS (
        |  SELECT doc_a, doc_b
        |  FROM pairs
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE n_inter * 2 >= sa.sz + sb.sz - n_inter
        |)
        |SELECT nd.doc_a, nd.doc_b, sa.split AS split_a, sb.split AS split_b,
        |       sa.split <> sb.split AS leaks
        |FROM nd
        |JOIN splits sa ON nd.doc_a = sa.doc_id
        |JOIN splits sb ON nd.doc_b = sb.doc_id
        |ORDER BY nd.doc_a, nd.doc_b""".stripMargin)),
    // t17: deterministic sequence packing — md5 shuffle + per-shard
    // prefix sum + integer chunking (GPT-style doc concatenation)
    Query("t17_sequence_pack", (s, d) => TextOps.sequencePack(s, d),
      // t17: md5-order prefix sums + integer division, mirrored exactly
      // (window sum over BIGINT; ROWS frame pinned in both engines).
      Some("""WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    md5('pack1:' || doc_id) AS ord
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d
        |)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(cum - n_tokens AS BIGINT) AS start_token,
        |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_first,
        |  CAST(floor((cum - 1) / 512.0) AS BIGINT) AS seq_last
        |FROM c ORDER BY doc_id""".stripMargin)),
    // t18: Gopher-style repetition filter — dup-token + top-n-gram
    // fractions, computed exchange-free (grams never leave the doc's row)
    Query("t18_repetition_filter", (s, d) => TextOps.repetitionReport(s, d),
      // t18: identical planted corpus (repeat()/trim() exist in both
      // engines), gram counting mirrored relationally (unnest + group by —
      // same semantics as the Spark side's in-row run-length HOF).
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    CASE WHEN doc_id % 50 = 0 THEN trim(repeat('spam ', 60))
        |         ELSE trim(repeat('click here now ', 30)) END AS text
        |  FROM documents WHERE doc_id % 25 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
        |), base AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct FROM toks
        |), g2 AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-1, 0))) AS i FROM toks)
        |), m2 AS (
        |  SELECT doc_id, max(cnt) AS max2
        |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2) GROUP BY 1
        |), g3 AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
        |), m3 AS (
        |  SELECT doc_id, max(cnt) AS max3
        |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1, 2) GROUP BY 1
        |), stats AS (
        |  SELECT b.doc_id, b.n_tokens,
        |    round(1.0 - CAST(b.n_distinct AS DOUBLE) / greatest(b.n_tokens, 1), 4) AS dup_tok_frac,
        |    round(CAST(COALESCE(m2.max2, 0) AS DOUBLE) / greatest(b.n_tokens - 1, 1), 4) AS top2_frac,
        |    round(CAST(COALESCE(m3.max3, 0) AS DOUBLE) / greatest(b.n_tokens - 2, 1), 4) AS top3_frac
        |  FROM base b LEFT JOIN m2 ON b.doc_id = m2.doc_id
        |              LEFT JOIN m3 ON b.doc_id = m3.doc_id
        |)
        |SELECT doc_id, n_tokens, dup_tok_frac, top2_frac, top3_frac,
        |  CAST(CASE WHEN dup_tok_frac <= 0.85 AND top2_frac <= 0.3
        |             AND top3_frac <= 0.3 THEN 1 ELSE 0 END AS INT) AS kept
        |FROM stats ORDER BY doc_id""".stripMargin)),
    // t19: PII scrub — email/IPv4 redaction counts + scrubbed text,
    // a pure codegen'd per-row map (C4/CCNet/ROOTS-style release pass)
    Query("t19_pii_scrub", (s, d) => TextOps.piiScrub(s, d),
      // t19: identical planted corpus; Java regex and RE2 agree on these
      // ASCII patterns; DuckDB regexp_replace needs the explicit 'g' flag
      // (Spark's is global by default).
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 now' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text_scrubbed
        |FROM corpus ORDER BY doc_id""".stripMargin)),
    // t20: BPE tokenizer-training kernel — corpus-wide adjacent-pair
    // counts (the per-round argmax input; multi-round trainer in BpeSpec)
    Query("t20_bpe_pairs", (s, d) => TextOps.bpePairCounts(s, d),
      // t20: pair counting mirrored relationally; the (cnt desc, pair asc)
      // total order makes the LIMIT 5 engine-exact.
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        |), p AS (
        |  SELECT t[i] AS tok_l, t[i+1] AS tok_r
        |  FROM (SELECT t, unnest(generate_series(1, greatest(len(t)-1, 0))) AS i FROM toks)
        |)
        |SELECT tok_l, tok_r, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2
        |ORDER BY cnt DESC, tok_l, tok_r LIMIT 5""".stripMargin)),
    // t21: DSIR importance weights — hashed-unigram importance ratios in
    // integer fixed-point (engine-exact, no rounding), top-quartile select
    Query("t21_dsir_select", (s, d) => TextOps.dsirWeights(s, d), Some(TextOps.dsirOracleSql())),
    // t22: the corpus BUILD end to end in one plan — dedup keep-list +
    // quality + repetition gates, then sequence packing of survivors
    Query("t22_corpus_build", (s, d) => TextOps.corpusBuild(s, d),
      // t22: the four verified fragments CHAINED — t05 pairs -> t07
      // components -> t08 keep-list (drops), then t01's quality gate and
      // t18's repetition gate over the kept docs, then t17's packing of
      // the survivors. The compare gates the composition end to end.
      Some(dupReachSql +
        """, drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |), kept AS (
          |  SELECT c.doc_id, c.text FROM corpus c
          |  WHERE c.doc_id NOT IN (SELECT id FROM drops)
          |), kt AS (
          |  SELECT k.doc_id, t.t FROM kept k JOIN toks t ON k.doc_id = t.doc_id
          |), qual AS (
          |  SELECT doc_id FROM kept
          |  WHERE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) >= 32
          |    AND round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
          |          / greatest(length(text), 1), 4) <= 0.1
          |), base18 AS (
          |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
          |         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct FROM kt
          |), g2 AS (
          |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
          |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-1, 0))) AS i FROM kt)
          |), m2 AS (
          |  SELECT doc_id, max(cnt) AS max2
          |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2) GROUP BY 1
          |), g3 AS (
          |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
          |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM kt)
          |), m3 AS (
          |  SELECT doc_id, max(cnt) AS max3
          |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1, 2) GROUP BY 1
          |), rep AS (
          |  SELECT b.doc_id
          |  FROM base18 b LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
          |  WHERE round(1.0 - CAST(b.n_distinct AS DOUBLE) / greatest(b.n_tokens, 1), 4) <= 0.85
          |    AND round(CAST(COALESCE(max2, 0) AS DOUBLE) / greatest(b.n_tokens - 1, 1), 4) <= 0.3
          |    AND round(CAST(COALESCE(max3, 0) AS DOUBLE) / greatest(b.n_tokens - 2, 1), 4) <= 0.3
          |), surv AS (
          |  SELECT k.doc_id, k.text FROM kept k
          |  JOIN qual q ON k.doc_id = q.doc_id
          |  JOIN rep r ON k.doc_id = r.doc_id
          |), d17 AS (
          |  SELECT doc_id, doc_id % 8 AS shard,
          |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          |    md5('pack1:' || doc_id) AS ord
          |  FROM surv
          |), c17 AS (
          |  SELECT doc_id, shard, n_tokens,
          |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM d17
          |)
          |SELECT doc_id, shard, n_tokens,
          |  CAST(cum - n_tokens AS BIGINT) AS start_token,
          |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_first,
          |  CAST(floor((cum - 1) / 512.0) AS BIGINT) AS seq_last
          |FROM c17 ORDER BY doc_id""".stripMargin)),
    // t23: TF-IDF top terms per doc — integer fixed-point idf so the
    // score/rank table is engine-exact (t21 discipline)
    Query("t23_tfidf_topterms", (s, d) => TextOps.tfidfTopTerms(s, d),
      // t23: TF-IDF — tokenization mirrors t14 (lower/trim + \s+ split),
      // idf in BIGINT fixed-point ((N*1e6) // df) so score/rank carry no
      // float anywhere; ties break on term text in both engines.
      Some("""WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE t <> ''
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
        |), scored AS (
        |  SELECT t.doc_id, t.term, t.tf, df.df,
        |         t.tf * ((n.n_docs * 1000000) // df.df) AS score
        |  FROM tf t JOIN df USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, term, tf, df, score, rank
        |FROM ranked WHERE rank <= 3""".stripMargin)),
    // t24: BPE tokenizer APPLICATION — learned merges folded in rank
    // order, zero-exchange encode; parts-sum conservation pinned in spec
    Query("t24_bpe_encode", (s, d) => TextOps.bpeEncodedCorpus(s, d)),
    // t25: paragraph-level exact dedup (CCNet §3.1) — keep the first
    // corpus-wide occurrence of every paragraph; strips the planted
    // cookie/newsletter boilerplate doc-level dedup can never see
    Query("t25_paragraph_dedup", (s, d) => TextOps.paragraphDedup(s, d),
      // t25: identical paragraph construction (20-word chunks + the two
      // planted boilerplate families); first-occurrence = min (doc_id,
      // para_idx) per exact paragraph text — a fully ordered row_number, so
      // both engines decide identically; string_agg ORDER BY para_idx ==
      // Spark's array_sort(struct(para_idx, para)) reassembly.
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
        |wv AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM base),
        |nat AS (
        |  SELECT doc_id,
        |    CAST(unnest(generate_series(0, (len(w)-1)//20)) AS INT) AS para_idx,
        |    w FROM wv
        |),
        |natp AS (
        |  SELECT doc_id, para_idx,
        |    array_to_string(w[para_idx*20+1 : para_idx*20+20], ' ') AS para
        |  FROM nat
        |),
        |p AS (
        |  SELECT * FROM natp
        |  UNION ALL SELECT doc_id, -1 AS para_idx,
        |    'we use cookies to improve your experience accept to continue' AS para
        |    FROM base WHERE doc_id % 7 = 3
        |  UNION ALL SELECT doc_id, 999 AS para_idx,
        |    'subscribe to our newsletter for daily updates and offers' AS para
        |    FROM base WHERE doc_id % 5 = 1
        |),
        |r AS (SELECT *, row_number() OVER (PARTITION BY md5(para)
        |  ORDER BY doc_id, para_idx) AS rn FROM p)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(para, ' ' ORDER BY para_idx) FILTER (rn = 1), '') AS text_deduped
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // t26: asymmetric CONTAINMENT near-dup (quote/excerpt pairs Jaccard
    // can't see) — same inverted-index discipline as t05
    Query("t26_containment", (s, d) => TextOps.containmentNearDup(s, d),
      // t26: containment near-dup over the excerpt corpus — t05's shingle
      // construction verbatim, asymmetric gate (>=50% of the smaller side)
      // minus the pairs Jaccard would already catch.
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(t[1:greatest(len(t)//2, 5)], ' ')
        |      || ' excerpt quote trailer' AS text
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM documents)
        |  WHERE doc_id % 17 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
        |), shingles AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
        |), idx AS (
        |  SELECT doc_id, sh FROM shingles
        |  WHERE sh NOT IN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) > 64)
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, n_inter, least(sa.sz, sb.sz) AS sz_min
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE n_inter * 2 >= least(sa.sz, sb.sz)
        |  AND n_inter * 2 < sa.sz + sb.sz - n_inter""".stripMargin)),
    // t27: POLICY-parameterized survivor — keep-LONGEST (Lee et al.
    // ACL'22) instead of t08's min-id; argmax(score) per component via
    // one window over the label table, min-id tie-break
    Query("t27_survivor_policy", (s, d) => operators.DedupResolve.longestSurvivorCorpus(s, d),
      // t27: t08's reachability components, survivor = argmax(length) with
      // min-id tie-break (keep-longest policy) — same recursive CTE, one
      // extra window over the component table.
      Some(dupReachSql +
        """, comps AS (
          |  SELECT id, min(node) AS comp FROM reach GROUP BY id
          |), ranked AS (
          |  SELECT c.id,
          |    row_number() OVER (PARTITION BY c.comp
          |      ORDER BY length(k.text) DESC, c.id ASC) AS rk
          |  FROM comps c JOIN corpus k ON c.id = k.doc_id
          |), drops AS (
          |  SELECT id FROM ranked WHERE rk <> 1
          |)
          |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
          |FROM corpus WHERE doc_id NOT IN (SELECT id FROM drops)"""
          .stripMargin)),
    // t28: n-gram novelty scoring — per-doc fraction of corpus-unique
    // shingles, integer basis points (the "adds unseen content" selection
    // signal beside t21's "looks like the target")
    Query("t28_novelty", (s, d) => TextOps.noveltyReport(s, d),
      // t28: the t05 shingle construction over the RAW documents (no
      // plants), df==1 novelty in integer basis points.
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        |), shingles AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
        |), dfs AS (
        |  SELECT sh, count(*) AS df FROM shingles GROUP BY sh
        |)
        |SELECT s.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 10000
        |       // count(*) AS BIGINT) AS novelty_bp
        |FROM shingles s JOIN dfs d ON s.sh = d.sh
        |GROUP BY s.doc_id""".stripMargin)),
    // t29: EXACT duplicated length-64 windows via prefix-doubling suffix
    // ranks (hash-composed ids, content-verified) — oracle brute-forces
    // every window with generate_series+substr
    Query("t29_exact_dupwindows", (s, d) => operators.SuffixOps.dupWindowReport(s, d),
      // t29: exact duplicated 64-char windows over the t10 planted
      // partial-copy corpus — the oracle materializes EVERY window (the
      // O(n*L) shape the prefix-doubling plan avoids) and groups by content.
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    'entirely fresh lead-in for copy ' || CAST(doc_id AS VARCHAR)
        |      || ' :: ' || substr(text, 1, 300)
        |      || ' :: and an unrelated tail section'
        |  FROM documents WHERE doc_id % 25 = 0
        |), w AS (
        |  SELECT c.doc_id, g.pos, substr(c.text, g.pos + 1, 64) AS win
        |  FROM corpus c, LATERAL (SELECT unnest(
        |    generate_series(0, length(c.text) - 64)) AS pos) g
        |  WHERE length(c.text) >= 64
        |), d AS (
        |  SELECT win FROM w GROUP BY win HAVING count(*) > 1
        |)
        |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_dup,
        |  CAST(min(w.pos) AS BIGINT) AS first_pos,
        |  CAST(max(w.pos) AS BIGINT) AS last_pos
        |FROM w JOIN d USING (win)
        |GROUP BY w.doc_id""".stripMargin)),
    // t30: the exact-clip corpus action (non-survivor duplicated runs
    // removed); clipped text golden-gated vs the mirror in SuffixSpec
    Query("t30_exact_clip", (s, d) => operators.SuffixOps.exactClipReport(s, d)),
    // t31: EXACT-substring benchmark decontamination (char-window form of
    // t13) — corpus keys semi-join the benchmark's, content join broadcast
    Query("t31_exact_decontaminate", (s, d) =>
      operators.SuffixOps.exactContaminationReport(s, d),
      // t31: t13's leaked-corpus/benchmark fixtures, char-window exact
      // overlap — oracle brute-forces both sides' windows.
      Some("""WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 23 = 0
        |), corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 20), ' ')
        |      || ' then entirely novel commentary continues past the quotation' AS text
        |  FROM documents WHERE doc_id % 23 = 0
        |), bw AS (
        |  SELECT DISTINCT substr(b.text, g.pos + 1, 64) AS win
        |  FROM bench b, LATERAL (SELECT unnest(
        |    generate_series(0, length(b.text) - 64)) AS pos) g
        |  WHERE length(b.text) >= 64
        |), cw AS (
        |  SELECT c.doc_id, g.pos, substr(c.text, g.pos + 1, 64) AS win
        |  FROM corpus c, LATERAL (SELECT unnest(
        |    generate_series(0, length(c.text) - 64)) AS pos) g
        |  WHERE length(c.text) >= 64
        |)
        |SELECT cw.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated,
        |  CAST(min(cw.pos) AS BIGINT) AS first_pos,
        |  CAST(max(cw.pos) AS BIGINT) AS last_pos
        |FROM cw JOIN bw USING (win)
        |GROUP BY cw.doc_id""".stripMargin)),
    // t32: C4-style line/document cleaning (Raffel et al. JMLR'20 §2.2) —
    // terminal-punct / >=5-word / no-"javascript" line rule + the
    // lorem-ipsum / curly-brace / <3-lines document drops, all one
    // codegen projection (zero exchanges); corpus planted line-by-line
    // from the docs' own words so DuckDB reconstructs it exactly
    Query("t32_c4_filter", (s, d) => TextOps.c4Report(s, d),
      // t32: identical line-planted corpus (1-based inclusive list slices ==
      // Spark's slice(arr, from, n)); the line rule is a list_filter lambda,
      // the document rule plain contains() — no engine-specific behavior
      // (verified: sf corpus has no newlines/tabs/double spaces, no natural
      // 'javascript'/'lorem ipsum'/'{' occurrences, >=10 words per doc).
      Some("""WITH wv AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), built AS (
        |  SELECT doc_id,
        |    array_to_string(w[1:8], ' ') || '.' AS l1,
        |    array_to_string(w[1:3], ' ') AS l2,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN array_to_string(w[4:12], ' ') || ' javascript needed?'
        |      ELSE array_to_string(w[4:12], ' ') || '?' END AS l3,
        |    array_to_string(w[2:9], ' ') || '!' AS l4,
        |    CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.'
        |         WHEN doc_id % 13 = 0 THEN 'var f = function() { return; }'
        |         ELSE array_to_string(w[3:10], ' ') || ' extra words here too.'
        |    END AS l5
        |  FROM wv
        |), page AS (
        |  SELECT doc_id, [l1, l2, l3, l4, l5] AS ls,
        |    concat_ws(chr(10), l1, l2, l3, l4, l5) AS txt FROM built
        |), flt AS (
        |  SELECT doc_id, ls, txt,
        |    list_filter(ls, l -> regexp_matches(l, '[.!?"]$')
        |      AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
        |      AND NOT contains(l, 'javascript')) AS kl
        |  FROM page
        |)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kl) AS BIGINT) AS n_kept,
        |  array_to_string(kl, ' | ') AS text_clean,
        |  CAST(CASE WHEN len(kl) >= 3 AND NOT contains(txt, 'lorem ipsum')
        |            AND NOT contains(txt, '{') THEN 1 ELSE 0 END AS INT) AS kept
        |FROM flt ORDER BY doc_id""".stripMargin)),
    // t33: aspect-ratio bucket packing (SDXL-style fixed-shape batches
    // over a variable-aspect image catalog) — integer argmin bucket
    // assignment + one windowed pack per bucket, ragged tail marked
    Query("t33_aspect_buckets", (s, d) => ImageOps.aspectBucketReport(s, d),
      // t33: identical dims synthesis from p_partkey; bucket argmin is the
      // same integer (cost, b) total order (rank over a cross join here);
      // batch/slot arithmetic is integer division on a 0-based row_number
      Some("""WITH dims AS (
        |  SELECT p_partkey, CAST(32 + p_partkey % 97 AS INT) AS w,
        |         CAST(32 + (p_partkey * 7) % 61 AS INT) AS h FROM part
        |), c AS (
        |  SELECT d.*, b.b AS bucket_ar, abs(100*d.w - b.b*d.h) AS cost
        |  FROM dims d CROSS JOIN (VALUES (50),(75),(100),(133),(200)) b(b)
        |), a AS (
        |  SELECT *, row_number() OVER (PARTITION BY p_partkey
        |    ORDER BY cost, bucket_ar) AS rnb FROM c
        |), asg AS (
        |  SELECT p_partkey, w, h, bucket_ar FROM a WHERE rnb = 1
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY bucket_ar
        |      ORDER BY p_partkey) - 1 AS rn,
        |    count(*) OVER (PARTITION BY bucket_ar) AS nb FROM asg
        |)
        |SELECT p_partkey, w, h, bucket_ar,
        |  CAST(rn // 8 AS BIGINT) AS batch_id,
        |  CAST(rn % 8 AS INT) AS slot,
        |  (rn // 8 < nb // 8) AS full_batch
        |FROM r ORDER BY p_partkey""".stripMargin)),
    // t34: BM25 top-k retrieval — Robertson-ratio idf + length-normalized
    // tf in t23's integer fixed point (hash-exact cross-engine); queries
    // derived in-plan from df ranks
    Query("t34_bm25_topk", (s, d) => TextOps.bm25TopK(s, d),
      // t34: same tokenization as t23; identical integer fixed-point BM25
      // arithmetic in both engines (DuckDB // == Spark div on positives;
      // sum(BIGINT) recast from HUGEINT)
      Some("""WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE t <> ''
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        |), dft AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl
        |), ranked AS (
        |  SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS r
        |  FROM dft
        |), qterms AS (
        |  SELECT CAST(1 AS BIGINT) AS query_id, term FROM ranked
        |  WHERE r IN (10, 20, 30)
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT) AS query_id, term FROM ranked
        |  WHERE r IN (15, 25, 35)
        |), scored AS (
        |  SELECT q.query_id, t.doc_id,
        |    ((2*(st.n_docs - d.df) + 1) * 1000 // (2*d.df + 1)) *
        |    ((22*t.tf*st.sum_dl*1000) //
        |      (10*t.tf*st.sum_dl + 3*st.sum_dl + 9*l.dl*st.n_docs)) AS s
        |  FROM tf t JOIN qterms q USING (term) JOIN dl l USING (doc_id)
        |       JOIN dft d USING (term) CROSS JOIN stats st
        |), perdoc AS (
        |  SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) AS score,
        |         CAST(count(*) AS BIGINT) AS n_terms
        |  FROM scored GROUP BY 1, 2
        |), topk AS (
        |  SELECT *, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT)
        |      AS rank
        |  FROM perdoc
        |)
        |SELECT query_id, doc_id, score, n_terms, rank
        |FROM topk WHERE rank <= 5""".stripMargin)),
    // t36: SOFT dedup — survivors carry cluster multiplicity as a
    // training weight (count-aware alternative to hard dropping)
    Query("t36_dedup_weights", (s, d) => operators.DedupResolve.weightedCorpus(s, d),
      // t36: t08's reachability components + a component-size weight on
      // each survivor; unpaired docs weight 1 (COALESCE). Conservation:
      // SUM(weight) == corpus row count.
      Some(dupReachSql +
        """, comp AS (
          |  SELECT id, min(node) AS comp FROM reach GROUP BY id
          |), csize AS (
          |  SELECT comp, CAST(count(*) AS BIGINT) AS w FROM comp GROUP BY comp
          |)
          |SELECT c.doc_id, COALESCE(z.w, CAST(1 AS BIGINT)) AS weight
          |FROM corpus c
          |LEFT JOIN comp m ON c.doc_id = m.id
          |LEFT JOIN csize z ON m.comp = z.comp AND m.id = m.comp
          |WHERE m.id IS NULL OR m.id = m.comp""".stripMargin)),
    // t37: Gopher document-quality rules (Rae et al. 2021 §A1.1) — five
    // per-row token rules + verdict, zero exchanges, fully SQL-expressible
    Query("t37_gopher_filter", (s, d) => TextOps.gopherReport(s, d),
      Some("""WITH built AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0
        |           THEN array_to_string(string_split(text, ' ')[1:5], ' ')
        |         WHEN doc_id % 19 = 0
        |           THEN text || ' ## ## ## ## ## ## ## ## ## ## ## ##'
        |         WHEN doc_id % 23 = 0
        |           THEN regexp_replace(text, '[A-Za-z]', '7', 'g')
        |         WHEN doc_id % 29 = 0
        |           THEN text || ' ' || trim(repeat(repeat('x', 40) || ' ', 20))
        |         ELSE text END AS text
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |                t -> t <> '') AS toks
        |  FROM built
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    round(CAST(list_sum(list_transform(toks, t -> length(t)))
        |        AS DOUBLE) / greatest(len(toks), 1), 4) AS mean_word_len,
        |    round(CAST((length(text) - length(replace(text, '#', '')))
        |        + CAST((length(text)
        |            - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3
        |          AS INT) AS DOUBLE)
        |      / greatest(len(toks), 1), 4) AS sym_ratio,
        |    round(CAST(len(list_filter(toks,
        |        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        |      / greatest(len(toks), 1), 4) AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(toks),
        |      ['the','a','data','table','join','row','scan','merge']))
        |      AS BIGINT) AS n_stop
        |  FROM tok
        |)
        |SELECT doc_id, n_words, mean_word_len, sym_ratio, alpha_frac, n_stop,
        |  CAST(CASE WHEN n_words BETWEEN 20 AND 100000
        |    AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND sym_ratio <= 0.1 AND alpha_frac >= 0.8
        |    AND n_stop >= 2 THEN 1 ELSE 0 END AS INT) AS kept
        |FROM m ORDER BY doc_id""".stripMargin)),
    // t38: lexical diversity (TTR + hapax fraction) from one exploded
    // (doc, token) histogram that map-side-combines before its exchange
    Query("t38_lexical_diversity", (s, d) => TextOps.lexicalDiversity(s, d),
      // t38: same tokenization (lowercased alphanumeric runs), same
      // two-level histogram rollup; ratios rounded 4 dp on both sides
      Some("""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents
        |), tc AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks WHERE tok <> '' GROUP BY doc_id, tok
        |)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  round(CAST(count(*) AS DOUBLE) / sum(cnt), 4) AS ttr,
        |  round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS hapax_frac
        |FROM tc GROUP BY doc_id""".stripMargin)),
    // t39: Zipf slope per source — log-log frequency/rank regression from
    // fixed-point quantized moments (corpus distribution-health QA)
    Query("t39_zipf_slope", (s, d) => TextOps.zipfSlope(s, d),
      // t39: same histogram + top-R window; log2 terms quantized to 1e-6
      // longs so the moment sums are integer-exact across engines
      Some("""WITH toks AS (
        |  SELECT source,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents
        |), hist AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS freq
        |  FROM toks WHERE tok <> '' GROUP BY source, tok
        |), ranked AS (
        |  SELECT source, freq,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY freq DESC, tok ASC) AS rank
        |  FROM hist
        |), q AS (
        |  SELECT source,
        |    CAST(round(ln(CAST(rank AS DOUBLE)) / ln(2.0) * 1e6) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(freq AS DOUBLE)) / ln(2.0) * 1e6) AS BIGINT) AS y
        |  FROM ranked WHERE rank <= 50
        |), m AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM q GROUP BY source
        |)
        |SELECT source, n AS n_ranks,
        |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 4)
        |    AS zipf_slope,
        |  round((CAST(sy AS DOUBLE) -
        |    ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |     (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx) /
        |    CAST(n AS DOUBLE) / 1e6, 4) AS zipf_intercept
        |FROM m""".stripMargin)),
    // t40: token-yield accounting — docs/tokens before+after dedup per
    // source (the dataset-card number; composes t08's keep-list with
    // t01's tokenization in one plan)
    Query("t40_token_yield", (s, d) => TextOps.tokenYield(s, d),
      // t40: t08's drops CTE + per-source token rollup (planted copies
      // inherit their base doc's source via doc_id % 1e6)
      Some(dupReachSql +
        """, drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |), flagged AS (
          |  SELECT c.doc_id, d.source,
          |    CAST(len(regexp_split_to_array(trim(c.text), '\s+')) AS BIGINT)
          |      AS n_tok,
          |    CASE WHEN c.doc_id IN (SELECT id FROM drops) THEN 0 ELSE 1 END
          |      AS kept
          |  FROM corpus c JOIN documents d ON d.doc_id = c.doc_id % 1000000
          |)
          |SELECT source, CAST(count(*) AS BIGINT) AS docs_total,
          |  CAST(sum(kept) AS BIGINT) AS docs_kept,
          |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
          |  CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT)
          |    AS tokens_kept,
          |  round(CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS DOUBLE)
          |    / sum(n_tok), 4) AS token_yield
          |FROM flagged GROUP BY source""".stripMargin)),
    // t41: dedup threshold operating-point audit — exact P/R per
    // candidate Jaccard gate vs the planted truth; one score-table pass
    Query("t41_operating_points", (s, d) => TextOps.dedupOperatingPoints(s, d),
      // t41: the t05 CTE prefix, ungated scores + planted truth, constant
      // threshold grid; tp/fp/fn integer-exact, P/R single divisions 6dp
      Some(ngramPairSql +
        """, scores AS (
          |  SELECT doc_a, doc_b, n_inter, sa.sz + sb.sz - n_inter AS n_union
          |  FROM pairs
          |  JOIN sizes sa ON doc_a = sa.doc_id
          |  JOIN sizes sb ON doc_b = sb.doc_id
          |), truth AS (
          |  SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b,
          |    CAST(1 AS BIGINT) AS is_true
          |  FROM documents WHERE doc_id % 20 = 0
          |), joined AS (
          |  SELECT coalesce(s.n_inter, 0) AS n_inter,
          |    coalesce(s.n_union, 1) AS n_union,
          |    coalesce(t.is_true, 0) AS is_true
          |  FROM scores s
          |  FULL OUTER JOIN truth t ON s.doc_a = t.doc_a AND s.doc_b = t.doc_b
          |), grid AS (
          |  SELECT j.*, th.threshold_pct
          |  FROM joined j,
          |    (SELECT unnest([30, 40, 50, 60, 70, 80, 90]) AS threshold_pct) th
          |), pred AS (
          |  SELECT threshold_pct,
          |    CASE WHEN n_inter * 100 >= threshold_pct * n_union
          |      THEN 1 ELSE 0 END AS p,
          |    is_true
          |  FROM grid
          |)
          |SELECT threshold_pct,
          |  CAST(sum(p * is_true) AS BIGINT) AS tp,
          |  CAST(sum(p * (1 - is_true)) AS BIGINT) AS fp,
          |  CAST(sum((1 - p) * is_true) AS BIGINT) AS fn,
          |  round(CAST(sum(p * is_true) AS DOUBLE) /
          |    greatest(sum(p), 1), 6) AS prec,
          |  round(CAST(sum(p * is_true) AS DOUBLE) /
          |    greatest(sum(is_true), 1), 6) AS rec
          |FROM pred GROUP BY threshold_pct ORDER BY threshold_pct"""
          .stripMargin)),
    // t42: bigram-LM perplexity (order-aware upgrade of t14) — quantized
    // log2 fixed-point sums make it integer-exact, hence oracled
    Query("t42_bigram_perplexity", (s, d) => TextOps.bigramPerplexity(s, d),
      // t42: same tokenization, same integer add-one bigram model, same
      // 1e-6 log2 quantization (the t39 discipline) — BIGINT sums both
      // sides, one final rounded division
      Some("""WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> t <> '') AS l
        |  FROM documents
        |), docs2 AS (SELECT doc_id, l FROM toks WHERE len(l) >= 2),
        |inst AS (
        |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM docs2, unnest(range(1, len(l))) AS t(i)
        |  GROUP BY doc_id, w1, w2
        |), c12 AS (
        |  SELECT w1, w2, sum(m) AS c12 FROM inst GROUP BY w1, w2
        |), c1 AS (
        |  SELECT w1, sum(m) AS c1 FROM inst GROUP BY w1
        |), voc AS (
        |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |  FROM (SELECT unnest(l) AS tok FROM docs2)
        |), scored AS (
        |  SELECT i.doc_id, i.m,
        |    CAST(round(log2(c12.c12 + 1) * 1e6) AS BIGINT)
        |      - CAST(round(log2(c1.c1 + voc.v) * 1e6) AS BIGINT) AS qlp
        |  FROM inst i
        |  JOIN c12 ON i.w1 = c12.w1 AND i.w2 = c12.w2
        |  JOIN c1 ON i.w1 = c1.w1
        |  CROSS JOIN voc
        |)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        |  round(-CAST(sum(m * qlp) AS DOUBLE) / sum(m) / 1e6, 4)
        |    AS bits_per_bigram
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // t43: MinHash estimator calibration — k=16 estimate vs exact Jaccard
    // per audited pair, all integer bp (the audit behind t03's banding)
    Query("t43_minhash_calibration", (s, d) => TextOps.minhashCalibration(s, d),
      // t43: the t05 CTE prefix supplies dup_pairs + full shingle strings;
      // same md5 permutations, same integer bp arithmetic both sides
      Some(ngramPairSql +
        """, cand AS (
          |  SELECT doc_a, doc_b FROM dup_pairs
          |  UNION
          |  SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents
          |  WHERE doc_id % 20 = 0
          |    AND doc_id + 1 IN (SELECT doc_id FROM documents)
          |), perm AS (
          |  SELECT unnest(generate_series(0, 15)) AS i
          |), sig AS (
          |  SELECT doc_id, i,
          |    min(md5(CAST(i AS VARCHAR) || '#' || sh)) AS sg
          |  FROM shingles, perm GROUP BY doc_id, i
          |), mtc AS (
          |  SELECT c.doc_a, c.doc_b,
          |    CAST(sum(CASE WHEN a.sg = b.sg THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_match
          |  FROM cand c
          |  JOIN sig a ON a.doc_id = c.doc_a
          |  JOIN sig b ON b.doc_id = c.doc_b AND b.i = a.i
          |  GROUP BY 1, 2
          |), intr AS (
          |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
          |  FROM cand c
          |  JOIN shingles a ON a.doc_id = c.doc_a
          |  JOIN shingles b ON b.doc_id = c.doc_b AND b.sh = a.sh
          |  GROUP BY 1, 2
          |)
          |SELECT m.doc_a, m.doc_b, m.n_match,
          |  m.n_match * 625 AS est_bp,
          |  coalesce(i.n_inter, 0) * 10000
          |    // (sa.sz + sb.sz - coalesce(i.n_inter, 0)) AS exact_bp,
          |  abs(m.n_match * 625 - coalesce(i.n_inter, 0) * 10000
          |    // (sa.sz + sb.sz - coalesce(i.n_inter, 0))) AS err_bp
          |FROM mtc m
          |LEFT JOIN intr i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
          |JOIN sizes sa ON m.doc_a = sa.doc_id
          |JOIN sizes sb ON m.doc_b = sb.doc_id
          |ORDER BY m.doc_a, m.doc_b""".stripMargin)),
    // t44: weighted corpus sampling — priority sampling (u/w, keep k
    // smallest per stratum) with deterministic md5 uniforms; emits the
    // reweighting threshold tau — oracled
    Query("t44_priority_sample", (s, d) => TextOps.prioritySample(s, d),
      // t44: priority sampling — identical md5 uniforms (('0x'||hex)::BIGINT
      // == conv(...,16,10), the t21/c45 parity), ONE IEEE division u/w, so
      // both engines rank and threshold identically; priority/tau emitted
      // unrounded (q32 precedent).
      Some("""WITH base AS (
        |  SELECT lang, doc_id, greatest(n_chars, 1) AS w,
        |    greatest(('0x' || substr(md5('pri1:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::BIGINT, 1) AS u
        |  FROM documents
        |), ranked AS (
        |  SELECT lang, doc_id, w,
        |    CAST(u AS DOUBLE) / w AS priority,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(u AS DOUBLE) / w, doc_id) AS rn
        |  FROM base
        |), tau AS (
        |  SELECT lang, priority AS tau FROM ranked WHERE rn = 9
        |)
        |SELECT r.lang, r.doc_id, r.w, r.priority, t.tau
        |FROM ranked r LEFT JOIN tau t ON r.lang = t.lang
        |WHERE r.rn <= 8
        |ORDER BY r.lang, r.doc_id""".stripMargin)),
    // t45: per-source KL divergence from the corpus unigram distribution
    // — separable integer-log decomposition, BIGINT sums — oracled
    Query("t45_source_kl", (s, d) => TextOps.sourceKlDivergence(s, d),
      // t45: same t38 tokenizer, same integer-log quantization (t42
      // discipline), same separable decomposition — BIGINT sums both
      // sides, one rounded division
      Some("""WITH toks AS (
        |  SELECT source,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents
        |), sc AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2
        |), cc AS (
        |  SELECT source, tok, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY tok) AS BIGINT) AS cntc
        |  FROM sc
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS tc FROM sc
        |), per AS (
        |  SELECT source,
        |    CAST(sum(cnt * (CAST(round(log2(cnt) * 1e6) AS BIGINT)
        |      - CAST(round(log2(cntc) * 1e6) AS BIGINT))) AS BIGINT)
        |      AS part,
        |    CAST(sum(cnt) AS BIGINT) AS t_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab
        |  FROM cc GROUP BY source
        |)
        |SELECT source, t_tokens, vocab,
        |  round(CAST(part + t_tokens
        |      * (CAST(round(log2(tc) * 1e6) AS BIGINT)
        |        - CAST(round(log2(t_tokens) * 1e6) AS BIGINT)) AS DOUBLE)
        |    / (CAST(t_tokens AS DOUBLE) * 1e6), 4) AS kl_bits
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin)),
    // t46: context-length operating curve — fit rate + truncation loss
    // per candidate max-seq-len, all BIGINT — oracled
    Query("t46_context_curve", (s, d) => TextOps.contextLengthCurve(s, d),
      // t46: same t01 whitespace tokenizer; min/max/sum/integer-div over
      // BIGINTs — hash-exact
      Some("""WITH n AS (
        |  SELECT CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |    AS BIGINT) AS n
        |  FROM documents
        |), grid AS (
        |  SELECT n.n, l.max_len
        |  FROM n, (SELECT unnest([16, 32, 64, 128]) AS max_len) l
        |), agg AS (
        |  SELECT CAST(max_len AS BIGINT) AS max_len,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN n <= max_len THEN 1 ELSE 0 END) AS BIGINT)
        |      AS fit_docs,
        |    CAST(sum(n) AS BIGINT) AS total_tokens,
        |    CAST(sum(least(n, max_len)) AS BIGINT) AS kept_tokens,
        |    CAST(sum(greatest(n - max_len, 0)) AS BIGINT)
        |      AS truncated_tokens
        |  FROM grid GROUP BY 1
        |)
        |SELECT max_len, n_docs, fit_docs,
        |  (10000 * fit_docs) // n_docs AS fit_bp,
        |  total_tokens, kept_tokens, truncated_tokens,
        |  (10000 * kept_tokens) // total_tokens AS kept_bp
        |FROM agg ORDER BY max_len""".stripMargin)),
    // t47: cross-epoch vocabulary churn per lang — new types + OOV token
    // mass in bp, one scan, one conditional agg — oracled
    Query("t47_vocab_churn", (s, d) => TextOps.vocabChurn(s, d),
      // t47: same t38 tokenizer, same parity split, same conditional agg
      Some("""WITH toks AS (
        |  SELECT lang, doc_id % 2 AS epoch,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents
        |), per AS (
        |  SELECT lang, tok,
        |    CAST(sum(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cnt_prev,
        |    CAST(sum(CASE WHEN epoch = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cnt_cur
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2
        |), cur AS (SELECT * FROM per WHERE cnt_cur > 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS cur_types,
        |  CAST(sum(CASE WHEN cnt_prev = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_types,
        |  (10000 * CAST(sum(CASE WHEN cnt_prev = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT)) // count(*) AS type_churn_bp,
        |  CAST(sum(cnt_cur) AS BIGINT) AS cur_tokens,
        |  CAST(sum(CASE WHEN cnt_prev = 0 THEN cnt_cur ELSE 0 END)
        |    AS BIGINT) AS oov_tokens,
        |  (10000 * CAST(sum(CASE WHEN cnt_prev = 0 THEN cnt_cur ELSE 0
        |    END) AS BIGINT)) // CAST(sum(cnt_cur) AS BIGINT) AS oov_bp
        |FROM cur GROUP BY lang ORDER BY lang""".stripMargin)),
    // t48: dup-cluster size histogram over t07's label table — the
    // dedup ROI distribution (removable docs per size) — oracled
    Query("t48_cluster_sizes", (s, d) =>
      operators.DedupResolve.clusterSizeHistogram(s, d),
      // t48: t07's reachability CTE, then the same two group-bys
      Some(dupReachSql +
        """, labels AS (
          |  SELECT id AS doc_id, min(node) AS component FROM reach GROUP BY id
          |), csizes AS (
          |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          |  FROM labels GROUP BY component
          |)
          |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
          |  cluster_size * CAST(count(*) AS BIGINT) AS n_docs,
          |  (cluster_size - 1) * CAST(count(*) AS BIGINT) AS removable
          |FROM csizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)),
    // t49: cluster-aware train/val/test split — clusters, not docs, are
    // the assignment unit; zero cross-split dup pairs hashed — oracled
    Query("t49_cluster_split", (s, d) =>
      operators.DedupResolve.clusterAwareSplit(s, d),
      // t49: t07's labels + the same md5 cluster-hash split; the zero
      // cross-split pair count is part of the hashed result
      Some(dupReachSql +
        """, labels AS (
          |  SELECT id AS doc_id, min(node) AS component FROM reach GROUP BY id
          |), sp AS (
          |  SELECT c.doc_id,
          |    coalesce(l.component, c.doc_id) AS component,
          |    CASE ('0x' || substr(md5('split:' ||
          |        CAST(coalesce(l.component, c.doc_id) AS VARCHAR)), 1, 6))
          |        ::BIGINT % 10
          |      WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END AS split
          |  FROM corpus c LEFT JOIN labels l ON l.doc_id = c.doc_id
          |), leak AS (
          |  SELECT CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
          |    AS BIGINT) AS cross_split_dup_pairs
          |  FROM dup_pairs p
          |  JOIN sp a ON a.doc_id = p.doc_a
          |  JOIN sp b ON b.doc_id = p.doc_b
          |)
          |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
          |  cross_split_dup_pairs
          |FROM sp CROSS JOIN leak
          |GROUP BY split, cross_split_dup_pairs ORDER BY split""".stripMargin)),
    // t50: mixture-weight solver — per-lang rates from target shares vs
    // available supply, unmet mass surfaced, BIGINT bp — oracled
    Query("t50_mixture_solver", (s, d) => TextOps.mixtureSolver(s, d),
      // t50: same integer bp arithmetic; en share fixed, remainder split
      // by integer div — hash-exact
      Some("""WITH avail AS (
        |  SELECT lang,
        |    CAST(sum(greatest(n_chars, 1)) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT CAST(sum(avail_tokens) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS n_langs
        |  FROM avail
        |), solved AS (
        |  SELECT lang, avail_tokens,
        |    (t * 5000) // 10000 AS budget_tokens,
        |    CASE WHEN lang = 'en' THEN 4000
        |      ELSE (10000 - 4000) // (n_langs - 1) END AS share_bp
        |  FROM avail CROSS JOIN tot
        |), rated AS (
        |  SELECT lang, avail_tokens, share_bp,
        |    (budget_tokens * share_bp) // 10000 AS desired_tokens,
        |    least(10000, (10000 * ((budget_tokens * share_bp) // 10000))
        |      // avail_tokens) AS rate_bp
        |  FROM solved
        |)
        |SELECT lang, avail_tokens, share_bp, desired_tokens, rate_bp,
        |  (avail_tokens * rate_bp) // 10000 AS expected_tokens,
        |  greatest(desired_tokens - (avail_tokens * rate_bp) // 10000, 0)
        |    AS unmet_tokens,
        |  rate_bp = 10000 AND desired_tokens > avail_tokens
        |    AS supply_limited
        |FROM rated ORDER BY lang""".stripMargin)),
    // t51: dedup survivorship-bias audit — per-lang share shift and
    // quantized KL(after||before) terms, BIGINT throughout — oracled
    Query("t51_dedup_shift", (s, d) =>
      operators.DedupResolve.distributionShift(s, d),
      // t51: the t08 CTE prefix supplies the keep-list; same byte mass (strlen/octet_length)
      // byte mass, integer bp shares, and quantized KL terms
      Some(dupReachSql +
        """, drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |), lb AS (
          |  SELECT d.lang, CAST(count(*) AS BIGINT) AS docs_before,
          |    CAST(sum(strlen(c.text)) AS BIGINT) AS bytes_before
          |  FROM corpus c JOIN documents d ON d.doc_id = c.doc_id % 1000000
          |  GROUP BY 1
          |), la AS (
          |  SELECT d.lang, CAST(count(*) AS BIGINT) AS docs_after,
          |    CAST(sum(strlen(c.text)) AS BIGINT) AS bytes_after
          |  FROM corpus c JOIN documents d ON d.doc_id = c.doc_id % 1000000
          |  WHERE c.doc_id NOT IN (SELECT id FROM drops)
          |  GROUP BY 1
          |), j AS (
          |  SELECT * FROM lb JOIN la USING (lang)
          |), tot AS (
          |  SELECT CAST(sum(bytes_before) AS BIGINT) AS tot_before,
          |    CAST(sum(bytes_after) AS BIGINT) AS tot_after
          |  FROM j
          |)
          |SELECT lang, docs_before, docs_after, bytes_before, bytes_after,
          |  (10000 * bytes_before) // tot_before AS share_before_bp,
          |  (10000 * bytes_after) // tot_after AS share_after_bp,
          |  (10000 * bytes_after) // tot_after
          |    - (10000 * bytes_before) // tot_before AS shift_bp,
          |  bytes_after * (CAST(round(log2(bytes_after) * 1e6) AS BIGINT)
          |    - CAST(round(log2(tot_after) * 1e6) AS BIGINT)
          |    - CAST(round(log2(bytes_before) * 1e6) AS BIGINT)
          |    + CAST(round(log2(tot_before) * 1e6) AS BIGINT)) AS klq_term
          |FROM j CROSS JOIN tot ORDER BY lang""".stripMargin)),
    // t52: diversity-saturation curve — per-shard new-type yield from a
    // single min-agg first-occurrence pass, BIGINT bp — oracled
    Query("t52_diversity_curve", (s, d) => TextOps.diversityCurve(s, d),
      // t52: same word-3-gram shingles over RAW documents (no plant);
      // first-occurrence min + cumulative window, BIGINT bp
      Some("""WITH toks AS (
        |  SELECT doc_id, doc_id // 100 AS shard,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT shard, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |    AS sh
        |  FROM (SELECT doc_id, shard, t,
        |    unnest(generate_series(1, greatest(len(t)-2, 0))) AS i
        |    FROM toks)
        |), fo AS (
        |  SELECT sh, min(shard) AS first_shard FROM sh GROUP BY sh
        |), pershard AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS n_types
        |  FROM sh GROUP BY shard
        |), news AS (
        |  SELECT first_shard AS shard, CAST(count(*) AS BIGINT)
        |    AS n_new_types
        |  FROM fo GROUP BY 1
        |), nd AS (
        |  SELECT doc_id // 100 AS shard, CAST(count(*) AS BIGINT)
        |    AS n_docs
        |  FROM documents GROUP BY 1
        |)
        |SELECT p.shard, nd.n_docs, p.n_types,
        |  coalesce(nw.n_new_types, 0) AS n_new_types,
        |  CAST(sum(coalesce(nw.n_new_types, 0)) OVER (ORDER BY p.shard
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_types,
        |  (10000 * coalesce(nw.n_new_types, 0)) // p.n_types
        |    AS novelty_bp
        |FROM pershard p
        |JOIN nd ON nd.shard = p.shard
        |LEFT JOIN news nw ON nw.shard = p.shard
        |ORDER BY p.shard""".stripMargin)),
    // t53: contamination overlap curve at n = 5/8/13 — the n-sweep that
    // calibrates t13's single-n choice, integer bp — oracled
    Query("t53_contamination_curve", (s, d) =>
      TextOps.contaminationCurve(s, d),
      // t53: the t13 fixture swept over n = 5/8/13 — per-n distinct-hit
      // join blocks unioned into the curve
      Some(contaminationCurveOracleSql(Seq(5, 8, 13)))),
    // t54: Hill tail-index of doc lengths per lang — quantized log
    // excesses over adaptive top-k, one rounded division — oracled
    Query("t54_tail_index", (s, d) => TextOps.tailIndex(s, d),
      // t54: same adaptive top-k, per-term quantized natural logs
      Some("""WITH x AS (
        |  SELECT lang, doc_id, greatest(n_chars, 1) AS x FROM documents
        |), ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY lang ORDER BY x DESC, doc_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM x
        |), withk AS (
        |  SELECT *, least(10, n - 1) AS k,
        |    max(CASE WHEN rn = least(10, n - 1) + 1 THEN x END)
        |      OVER (PARTITION BY lang) AS xk
        |  FROM ranked
        |)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        |  CAST(max(k) AS BIGINT) AS k, CAST(max(xk) AS BIGINT) AS x_k,
        |  CAST(sum(CAST(round(ln(CAST(x AS DOUBLE)) * 1e6) AS BIGINT)
        |    - CAST(round(ln(CAST(xk AS DOUBLE)) * 1e6) AS BIGINT))
        |    AS BIGINT) AS sum_log_excess_q,
        |  round(CAST(max(k) AS DOUBLE) * 1e6
        |    / CAST(sum(CAST(round(ln(CAST(x AS DOUBLE)) * 1e6) AS BIGINT)
        |      - CAST(round(ln(CAST(xk AS DOUBLE)) * 1e6) AS BIGINT))
        |      AS DOUBLE), 4) AS hill_alpha
        |FROM withk WHERE rn <= k
        |GROUP BY lang ORDER BY lang""".stripMargin)),
    // t55: dup × quality cross-tab with Haldane odds ratio — pipeline-
    // ordering evidence, BIGINT cells — oracled
    Query("t55_dup_quality", (s, d) =>
      operators.DedupResolve.dupQualityCrosstab(s, d),
      // t55: t08's drops CTE; same 2x2 cells and Haldane association
      Some(dupReachSql +
        """, drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |), q AS (
          |  SELECT doc_id,
          |    CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 30
          |      THEN 1 ELSE 0 END AS pass
          |  FROM corpus
          |), c2 AS (
          |  SELECT q.pass,
          |    CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END AS dropped
          |  FROM q LEFT JOIN drops d ON d.id = q.doc_id
          |), cells AS (
          |  SELECT
          |    CAST(sum(pass * (1 - dropped)) AS BIGINT) AS pass_kept,
          |    CAST(sum(pass * dropped) AS BIGINT) AS pass_dropped,
          |    CAST(sum((1 - pass) * (1 - dropped)) AS BIGINT) AS fail_kept,
          |    CAST(sum((1 - pass) * dropped) AS BIGINT) AS fail_dropped
          |  FROM c2
          |)
          |SELECT pass_kept, pass_dropped, fail_kept, fail_dropped,
          |  (10000 * pass_dropped) // (pass_kept + pass_dropped)
          |    AS pass_drop_bp,
          |  (10000 * fail_dropped) // (fail_kept + fail_dropped)
          |    AS fail_drop_bp,
          |  round((CAST(fail_dropped AS DOUBLE) + 0.5)
          |    * (CAST(pass_kept AS DOUBLE) + 0.5)
          |    / ((CAST(fail_kept AS DOUBLE) + 0.5)
          |      * (CAST(pass_dropped AS DOUBLE) + 0.5)), 4) AS odds_ratio,
          |  round(ln((CAST(fail_dropped AS DOUBLE) + 0.5)
          |    * (CAST(pass_kept AS DOUBLE) + 0.5)
          |    / ((CAST(fail_kept AS DOUBLE) + 0.5)
          |      * (CAST(pass_dropped AS DOUBLE) + 0.5))), 4) AS log_odds
          |FROM cells""".stripMargin)),
    // t56: per-doc token entropy screen — quantized c·log2 c terms,
    // integer-compared low-entropy flag — oracled
    Query("t56_token_entropy", (s, d) => TextOps.tokenEntropy(s, d),
      // t56: t45's tokenizer; same quantized entropy terms and integer
      // flag comparison
      Some("""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2
        |), per AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(c * CAST(round(log2(c) * 1e6) AS BIGINT)) AS BIGINT)
        |      AS term_q
        |  FROM c GROUP BY 1
        |), h AS (
        |  SELECT *, n_tokens * CAST(round(log2(n_tokens) * 1e6) AS BIGINT)
        |    - term_q AS hq
        |  FROM per
        |)
        |SELECT doc_id, n_tokens, vocab,
        |  round(CAST(hq AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e6), 4)
        |    AS entropy_bits,
        |  hq < 4 * n_tokens * 1000000 AS low_entropy
        |FROM h ORDER BY doc_id""".stripMargin)),
    // t57: shingle-WIDTH dedup calibration sweep (the axis t41's
    // threshold sweep doesn't cover) vs planted truth — oracled
    Query("t57_shingle_sweep", (s, d) => TextOps.shingleSizeSweep(s, d),
      // t57: per-width inverted-index blocks, same df-cap and J >= 1/3
      // gate, same truth compare
      Some(shingleSweepOracleSql(Seq(2, 3, 5)))),
    // t58: dedup idempotence — t05's pair kernel on t08's kept corpus;
    // the residual is the df-cap blind-spot measure — oracled
    Query("t58_dedup_idempotence", (s, d) => TextOps.dedupIdempotence(s, d),
      // t58: t08's drops CTE, then the full t05 kernel re-run on the kept
      // corpus (df-cap recomputed on the smaller corpus, as in Spark)
      Some(dupReachSql +
        """, drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |), kept AS (
          |  SELECT doc_id, text FROM corpus
          |  WHERE doc_id NOT IN (SELECT id FROM drops)
          |), ktoks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM kept
          |), ksh AS (
          |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
          |  FROM (SELECT doc_id, t,
          |    unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM ktoks)
          |), ksizes AS (
          |  SELECT doc_id, count(*) AS sz FROM ksh GROUP BY doc_id
          |), kidx AS (
          |  SELECT doc_id, sh FROM ksh
          |  WHERE sh NOT IN (SELECT sh FROM ksh GROUP BY sh HAVING count(*) > 64)
          |), kpairs AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          |  FROM kidx a JOIN kidx b ON a.sh = b.sh AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |), kdup AS (
          |  SELECT doc_a, doc_b FROM kpairs
          |  JOIN ksizes sa ON doc_a = sa.doc_id
          |  JOIN ksizes sb ON doc_b = sb.doc_id
          |  WHERE n_inter * 2 >= sa.sz + sb.sz - n_inter
          |), nk AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_kept FROM kept),
          |res AS (SELECT CAST(count(*) AS BIGINT) AS n_second_pass_pairs FROM kdup)
          |SELECT n_docs_kept, n_second_pass_pairs,
          |  (10000 * n_second_pass_pairs) // n_docs_kept AS residual_bp,
          |  n_second_pass_pairs = 0 AS is_fixpoint
          |FROM nk CROSS JOIN res""".stripMargin)),
    // t59: tokenizer fertility per language — codegen'd bpe_token_count
    // vs whitespace words, RE2-mirrorable regex kernel — oracled
    Query("t59_tokenizer_fertility", (s, d) =>
      TextOps.tokenizerFertility(s, d),
      // t59: same GPT-2-subset regex in RE2 (leftmost-first in both
      // engines), same integer bp arithmetic
      Some("""WITH deco AS (
        |  SELECT lang,
        |    text || ' (rev ' || doc_id || '.7, it''s v2!)' AS text
        |  FROM documents
        |), per AS (
        |  SELECT lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS words,
        |    CAST(len(regexp_extract_all(text,
        |      '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
        |      AS BIGINT) AS bpe,
        |    CAST(strlen(text) AS BIGINT) AS bytes
        |  FROM deco
        |)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(words) AS BIGINT) AS words,
        |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  (10000 * CAST(sum(bpe) AS BIGINT)) // CAST(sum(words) AS BIGINT)
        |    AS fertility_bp,
        |  (10000 * CAST(sum(bytes) AS BIGINT)) // CAST(sum(bpe) AS BIGINT)
        |    AS bytes_per_token_bp
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin))
  )
}
