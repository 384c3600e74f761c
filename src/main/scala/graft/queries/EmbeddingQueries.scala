package graft
package queries

import graft.operators._

/** emb* — embedding search and audits over the testdata embeddings
  * (exact and approximate top-k, quantizers, distribution checks), the
  * engine-exact ones with DuckDB oracle SQL.
  */
object EmbeddingQueries {
  /** emb07's SQ8 oracle SQL — shared verbatim by emb08 (the persisted
    * code store must return identical rows).
    */
  private val Sq8Sql: String =
    """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |codes AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)) AS code
        |  FROM (
        |    SELECT vec_id, embedding,
        |      CASE WHEN m = 0 THEN CAST(1.0 AS DOUBLE) ELSE m / 127.0 END AS scale
        |    FROM (SELECT vec_id, embedding,
        |            list_max(list_transform(embedding,
        |              x -> abs(CAST(x AS DOUBLE)))) AS m
        |          FROM base))
        |), cq AS (
        |  SELECT vec_id, embedding, code,
        |    list_aggregate(list_transform(code, x -> x * x), 'sum') AS qq
        |  FROM codes
        |), q AS (
        |  SELECT vec_id AS query_id, code AS qcode, qq AS qqq
        |  FROM cq WHERE vec_id < 3
        |), approx AS (
        |  SELECT q.query_id, c.vec_id,
        |    CAST(list_aggregate(list_transform(generate_series(1, len(c.code)),
        |      i -> c.code[i] * q.qcode[i]), 'sum') AS DOUBLE)
        |      / sqrt(CAST(c.qq * q.qqq AS DOUBLE)) AS approx
        |  FROM cq c, q WHERE c.vec_id <> q.query_id
        |), cand AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY approx DESC, vec_id ASC) AS arank
        |    FROM approx) WHERE arank <= 50
        |), qv AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM base WHERE vec_id < 3
        |), scored AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(qv.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM cand
        |  JOIN base e ON cand.vec_id = e.vec_id
        |  JOIN qv ON cand.query_id = qv.query_id
        |)
        |SELECT query_id, vec_id, round(cos, 4) AS cos, rank FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 5""".stripMargin

  val all: Seq[Query] = Seq(
    Query("emb01_cosine_topk", (s, d) => SimilarityOps.bruteCosineTopK(s, d),
      // emb01: brute cosine top-k IS plain SQL (round-4 verdict "missing
      // #4"). The cosine mirrors the Spark column arithmetic exactly —
      // per-element double casts, sequential list sums, dot/(norm*norm) —
      // so the UNROUNDED score ranks identically; ties break on vec_id in
      // both engines and the displayed cos rounds to 4dp after ranking.
      Some("""WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(q.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id, vec_id, round(cos, 4) AS cos, rank FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 5""".stripMargin)),
    Query("emb02_ann_lsh", (s, d) => SimilarityOps.annLshTopK(s, d)),
    Query("emb03_neardup_cosine", (s, d) =>
      SimilarityOps.nearDupCosine(s, d).orderBy("vec_a", "vec_b")),
    Query("emb04_ann_ivf", (s, d) => SimilarityOps.annIvfTopK(s, d)),
    Query("emb05_ann_pq", (s, d) => SimilarityOps.annPqTopK(s, d)),
    Query("emb06_ann_ivfpq", (s, d) => SimilarityOps.annIvfPqTopK(s, d)),
    // emb07: scalar-quantized int8 ANN — integer candidate dots are
    // engine-exact, so this is the first ANN in the HARD oracle gate
    Query("emb07_ann_sq8", (s, d) => SimilarityOps.annSqTopK(s, d),
      // emb07: SQ8 ANN — the scales cancel in the quantized cosine, so the
      // candidate ranking is INTEGER dots + one exact-rounded sqrt/divide
      // (bit-identical across engines); the refine set re-scores with
      // emb01's exact cosine arithmetic. round() is half-away-from-zero in
      // both engines for the code quantization.
      Some(Sq8Sql)),
    // emb08: persisted SQ8 code store — two epoch appends + a cumulative
    // probe; must return emb07's exact rows (same oracle)
    Query("emb08_ann_sq8_store", (s, d) => SimilarityOps.annSqStoreDemo(s, d), Some(Sq8Sql)),
    // emb09: SemDeDup — k-means cluster-scoped semantic near-dup pairs
    // resolved to components; survivor = component-min (Abbas et al. '23)
    Query("emb09_semdedup", (s, d) => SimilarityOps.semDedup(s, d)),
    // emb10: persisted PQ index — codebooks trained once + per-epoch code
    // tables; probe == one-shot emb05 (EntrySmokeSpec exact + stale floor)
    Query("emb10_ann_pq_store", (s, d) => SimilarityOps.annPqStoreDemo(s, d)),
    // emb11: predicate-FILTERED similarity search (hybrid vector +
    // metadata) — PRE-filter semantics: the predicate cuts the corpus
    // before ranking, so k true in-predicate neighbors always return
    Query("emb11_filtered_ann", (s, d) => SimilarityOps.filteredCosineTopK(s, d),
      // emb11: emb01's brute SQL with the metadata predicate on the corpus
      // side — pre-filter semantics are exactly expressible, so the hybrid
      // search contract sits in the hard gate.
      Some("""WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(q.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> q.query_id AND e.vec_id % 3 = 0
        |)
        |SELECT query_id, vec_id, round(cos, 4) AS cos, rank FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 5""".stripMargin)),
    // emb12: two-stage prefix-dimension retrieval — coarse rank on the
    // first 24 of 64 components (the only full-corpus pass; column-pruned
    // at scale), exact full-dim rerank over the overfetched candidates
    Query("emb12_prefix_rerank", (s, d) => SimilarityOps.annPrefixRerankTopK(s, d)),
    // emb13: 1-bit sign-quantized Hamming ANN — 16-byte bitmaps, XOR +
    // popcount coarse scan, exact cosine rerank of the candidates
    Query("emb13_ann_binary", (s, d) => SimilarityOps.annBinaryTopK(s, d),
      // emb13: sign-bit packing is exactly expressible — two 32-bit words
      // (1<<63 range-errors in DuckDB; the two-word form is engine-safe),
      // integer Hamming rank with vec_id tie-break, then emb01's exact
      // cosine over the candidate set. First Hamming-ANN query in the hard
      // gate.
      Some("""WITH b AS (
        |  SELECT vec_id,
        |    CAST(list_aggregate(list_transform(generate_series(1, 32),
        |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
        |        THEN (CAST(1 AS BIGINT) << (i-1)) ELSE CAST(0 AS BIGINT) END), 'sum')
        |      AS BIGINT) AS w0,
        |    CAST(list_aggregate(list_transform(generate_series(1, 32),
        |      i -> CASE WHEN CAST(embedding[i+32] AS DOUBLE) > 0
        |        THEN (CAST(1 AS BIGINT) << (i-1)) ELSE CAST(0 AS BIGINT) END), 'sum')
        |      AS BIGINT) AS w1
        |  FROM embeddings
        |), q0 AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3
        |), qb AS (
        |  SELECT q0.query_id, b.w0 AS qw0, b.w1 AS qw1
        |  FROM q0 JOIN b ON b.vec_id = q0.query_id
        |), cand AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT qb.query_id, b.vec_id,
        |      row_number() OVER (PARTITION BY qb.query_id
        |        ORDER BY bit_count(xor(b.w0, qb.qw0)) + bit_count(xor(b.w1, qb.qw1)) ASC,
        |          b.vec_id ASC) AS crank
        |    FROM b, qb WHERE b.vec_id <> qb.query_id
        |  ) WHERE crank <= 60
        |), scored AS (
        |  SELECT c.query_id, c.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(q.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM cand c
        |  JOIN embeddings e ON e.vec_id = c.vec_id
        |  JOIN q0 q ON q.query_id = c.query_id
        |)
        |SELECT query_id, vec_id, round(cos, 4) AS cos, rank FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 5""".stripMargin)),
    // emb14: exact maximum-inner-product top-k (recommender/dual-encoder
    // scoring — raw dot, NOT cosine); the Bachrach norm-augmentation
    // reduction to cosine-ANN is spec-gated with a recall floor
    Query("emb14_mips_topk", (s, d) => SimilarityOps.bruteMipsTopK(s, d),
      // emb14: exact MIPS — emb01's scored CTE with the norm division
      // dropped, over the float-rounded magnitude-planted corpus;
      // identical ordered double summation, same tie-break.
      Some("""WITH scaled AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE)
        |      * (1.0 + (vec_id % 7) * 0.1) AS FLOAT)) AS embedding
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM scaled WHERE vec_id < 3
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)), 'sum')
        |    AS dot
        |  FROM scaled e, q
        |  WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id, vec_id, round(dot, 4) AS dot, rank FROM (
        |  SELECT query_id, vec_id, dot,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 5""".stripMargin)),
    // emb15: cosine range search — guaranteed-complete neighborhood at
    // cos >= tau; planted strong/weak twins prove the threshold separates
    Query("emb15_range_search", (s, d) => SimilarityOps.rangeSearch(s, d),
      // emb15: range search — emb01's scored CTE thresholded on the rounded
      // cosine, over the twin-planted corpus rebuilt in SQL (float-rounded
      // element edits, same IEEE casts as the Spark transform).
      Some("""WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |), tw1 AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_concat([CAST(CAST(embedding[1] AS DOUBLE) + 0.05 AS FLOAT)],
        |      embedding[2:]) AS embedding
        |  FROM base WHERE vec_id < 3
        |), tw2 AS (
        |  SELECT vec_id + 2000000 AS vec_id,
        |    list_concat([embedding[1],
        |      CAST(CAST(embedding[2] AS DOUBLE) + 1.0 AS FLOAT)],
        |      embedding[3:]) AS embedding
        |  FROM base WHERE vec_id < 3
        |), corpus AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM tw1 UNION ALL SELECT * FROM tw2
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM base WHERE vec_id < 3
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(q.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4) AS cos
        |  FROM corpus e, q
        |  WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id, vec_id, cos FROM scored WHERE cos >= 0.9""".stripMargin)),
    // emb16: mutual k-NN edges over a deterministic eval sample — the
    // symmetric-neighborhood primitive for density-aware dedup seeding
    Query("emb16_mutual_knn", (s, d) => SimilarityOps.mutualKnn(s, d),
      // emb16: emb01's cosine kernel over the sampled self-join; mutuality
      // via the swapped-id join; a < b canonical direction
      Some("""WITH s AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
        |), scored AS (
        |  SELECT q.vec_id AS a, e.vec_id AS b,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(q.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM s q, s e WHERE q.vec_id <> e.vec_id
        |), knn AS (
        |  SELECT a, b, cos FROM (
        |    SELECT a, b, cos,
        |      row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC) AS rank
        |    FROM scored) WHERE rank <= 3
        |)
        |SELECT x.a AS vec_a, x.b AS vec_b, round(x.cos, 4) AS cos
        |FROM knn x JOIN knn y ON x.a = y.b AND x.b = y.a
        |WHERE x.a < x.b""".stripMargin)),
    // emb17: SQ8 quantization-error audit — per-label reconstruction
    // cosine distribution (index-quality gate before shipping emb08)
    Query("emb17_sq8_error", (s, d) => SimilarityOps.sqErrorAudit(s, d),
      // emb17: same scalar quantizer (round(x/scale), scale = maxabs/127),
      // cosine(original, dequantized) quantized to 1e-6 longs before the
      // min/mean aggregate so both engines sum integers
      Some("""WITH d AS (
        |  SELECT label, embedding,
        |    CASE WHEN ma = 0 THEN 1.0 ELSE ma / 127.0 END AS scale
        |  FROM (SELECT label, embedding,
        |          list_aggregate(list_transform(embedding,
        |            x -> abs(CAST(x AS DOUBLE))), 'max') AS ma
        |        FROM embeddings)
        |), c AS (
        |  SELECT label, CAST(round(
        |    list_aggregate(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) *
        |           (CAST(round(CAST(embedding[i] AS DOUBLE) / scale) AS BIGINT)
        |            * scale)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(generate_series(1, len(embedding)),
        |         i -> (CAST(round(CAST(embedding[i] AS DOUBLE) / scale) AS BIGINT)
        |               * scale) *
        |              (CAST(round(CAST(embedding[i] AS DOUBLE) / scale) AS BIGINT)
        |               * scale)), 'sum')))
        |    * 1e6) AS BIGINT) AS cq
        |  FROM d
        |)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(min(cq) AS DOUBLE) / 1e6, 6) AS min_cos,
        |  round(CAST(sum(cq) AS DOUBLE) / 1e6 / count(*), 4) AS mean_cos
        |FROM c GROUP BY label""".stripMargin)),
    // emb18: IVF operating-point sweep — recall@k vs probe count over ONE
    // trained index; the p=kLists row must hit 10000 bp (IvfSweepSpec)
    Query("emb18_ivf_sweep", (s, d) => SimilarityOps.ivfOperatingPoints(s, d)),
    // emb19: multi-probe LSH operating-point sweep — recall + candidate
    // cost vs probe radius; radius=nBits row must be exact (LshSweepSpec)
    Query("emb19_lsh_sweep", (s, d) => SimilarityOps.lshOperatingPoints(s, d)),
    // emb20: per-label embedding norm audit vs a planted 0.8f encoder
    // drift — quantized norm² rollup, drift fraction in bp — oracled
    Query("emb20_norm_audit", (s, d) => operators.SimilarityOps.normAudit(s, d),
      // emb20: same sequential double fold (emb01 parity), same float
      // drift plant (IEEE single multiply), same 1e6 quantization
      Some("""WITH planted AS (
        |  SELECT label, vec_id,
        |    CASE WHEN vec_id % 17 = 0
        |      THEN list_transform(embedding, x -> x * CAST(0.8 AS FLOAT))
        |      ELSE embedding END AS embedding
        |  FROM embeddings
        |), per AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(round(list_aggregate(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') * 1e6)
        |      AS BIGINT) AS n2q,
        |    CAST(len(embedding) AS BIGINT) AS dim
        |  FROM planted
        |)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  min(dim) AS min_dim, max(dim) AS max_dim,
        |  min(n2q) AS min_n2q, max(n2q) AS max_n2q,
        |  round(CAST(sum(n2q) AS DOUBLE) / count(*) / 1e6, 4) AS mean_norm2,
        |  CAST(sum(CASE WHEN n2q < 990000 OR n2q > 1010000 THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_drifted,
        |  (10000 * CAST(sum(CASE WHEN n2q < 990000 OR n2q > 1010000
        |    THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS drifted_bp
        |FROM per GROUP BY label ORDER BY label""".stripMargin)),
    // emb21: per-label centroid drift between encoder epochs — quantized
    // per-dim sums, BIGINT deltas, single rounded RMS — oracled
    Query("emb21_centroid_drift", (s, d) =>
      operators.SimilarityOps.centroidDrift(s, d),
      // emb21: same quantized per-dim sums; parallel unnest zips the
      // component with its 0-based dim index
      Some("""WITH base AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
        |      AS BIGINT) AS xq
        |  FROM embeddings
        |), drift AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(unnest(range(0, len(v))) AS BIGINT) AS dim,
        |    CAST(round(CAST(unnest(v) AS DOUBLE) * 1e6) AS BIGINT) AS xq
        |  FROM (
        |    SELECT label,
        |      CASE WHEN vec_id % 3 = 0
        |        THEN list_transform(embedding,
        |          x -> x * CAST(0.95 AS FLOAT) + CAST(0.02 AS FLOAT))
        |        ELSE embedding END AS v
        |    FROM embeddings)
        |), a AS (
        |  SELECT label, dim, CAST(sum(xq) AS BIGINT) AS sq_a,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1, 2
        |), b AS (
        |  SELECT label, dim, CAST(sum(xq) AS BIGINT) AS sq_b
        |  FROM drift GROUP BY 1, 2
        |), j AS (
        |  SELECT a.label, a.dim, a.n, b.sq_b - a.sq_a AS delta_q,
        |    max(abs(b.sq_b - a.sq_a)) OVER (PARTITION BY a.label)
        |      AS label_max
        |  FROM a JOIN b ON a.label = b.label AND a.dim = b.dim
        |)
        |SELECT label, max(n) AS n, CAST(count(*) AS BIGINT) AS dims,
        |  CAST(sum(delta_q * delta_q) AS BIGINT) AS l2q,
        |  max(abs(delta_q)) AS max_abs_delta_q,
        |  min(CASE WHEN abs(delta_q) = label_max THEN dim END)
        |    AS worst_dim,
        |  round(sqrt(CAST(sum(delta_q * delta_q) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE)) / (CAST(max(n) AS DOUBLE) * 1e6),
        |    6) AS rms_drift
        |FROM j GROUP BY label ORDER BY label""".stripMargin)),
    // emb22: per-dim variance profile + participation-ratio effective
    // dimensionality — exact integer moments per coordinate — oracled
    Query("emb22_dim_variance", (s, d) =>
      operators.SimilarityOps.dimVarianceAudit(s, d),
      // emb22: same quantized per-dim moments; variance/PR from identical
      // integers with identical association
      Some("""WITH pd AS (
        |  SELECT CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
        |      AS BIGINT) AS xq
        |  FROM embeddings
        |), m AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xq) AS BIGINT) AS s_q,
        |    CAST(sum(xq * xq) AS BIGINT) AS ss_q
        |  FROM pd GROUP BY dim
        |), v AS (
        |  SELECT *,
        |    CAST(ss_q AS DOUBLE) / CAST(n AS DOUBLE) / 1e12
        |      - (CAST(s_q AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
        |      * (CAST(s_q AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
        |      AS variance
        |  FROM m
        |), q AS (
        |  SELECT *, CAST(round(variance * 1e9) AS BIGINT) AS vq FROM v
        |), t AS (
        |  SELECT CAST(sum(vq) AS BIGINT) AS sv,
        |    CAST(sum(vq * vq) AS BIGINT) AS svv
        |  FROM q
        |)
        |SELECT dim, n, s_q, ss_q,
        |  round(CAST(s_q AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS mean,
        |  round(variance, 6) AS variance,
        |  vq < 100000 AS dead,
        |  round((CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
        |    / CAST(svv AS DOUBLE), 4) AS effective_dims
        |FROM q CROSS JOIN t ORDER BY dim""".stripMargin)),
    // emb23: k-NN label purity on a probe sample — exact brute cosine,
    // emb01 tie-break, per-label purity in bp — oracled
    Query("emb23_knn_purity", (s, d) =>
      operators.SimilarityOps.knnLabelPurity(s, d),
      // emb23: emb01's exact cosine + tie-break over the probe sample,
      // per-label purity from the same integers
      Some("""WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec,
        |    CAST(label AS BIGINT) AS probe_label
        |  FROM embeddings WHERE vec_id % 29 = 0
        |), scored AS (
        |  SELECT p.probe_id, p.probe_label, e.vec_id,
        |    CAST(e.label AS BIGINT) AS nlabel,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(p.pvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM embeddings e, p
        |  WHERE e.vec_id <> p.probe_id
        |), top AS (
        |  SELECT * FROM (
        |    SELECT probe_id, probe_label, nlabel,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY cos DESC, vec_id ASC) AS rank
        |    FROM scored)
        |  WHERE rank <= 5
        |)
        |SELECT probe_label AS label,
        |  CAST(count(DISTINCT probe_id) AS BIGINT) AS n_probes,
        |  CAST(count(*) AS BIGINT) AS n_neighbors,
        |  CAST(sum(CASE WHEN nlabel = probe_label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matches,
        |  (10000 * CAST(sum(CASE WHEN nlabel = probe_label THEN 1 ELSE 0
        |    END) AS BIGINT)) // count(*) AS purity_bp
        |FROM top GROUP BY 1 ORDER BY label""".stripMargin)),
    // emb24: margin-violation rate + mean margin — best-same vs
    // best-diff cosine per probe, quantized margins — oracled
    Query("emb24_margin_violations", (s, d) =>
      operators.SimilarityOps.marginViolations(s, d),
      // emb24: same exact cosine; per-probe best-same/best-diff maxima,
      // margins quantized before the sum
      Some("""WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec,
        |    CAST(label AS BIGINT) AS probe_label
        |  FROM embeddings WHERE vec_id % 17 = 0
        |), scored AS (
        |  SELECT p.probe_id, p.probe_label,
        |    CAST(e.label AS BIGINT) AS nlabel,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(p.pvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM embeddings e, p
        |  WHERE e.vec_id <> p.probe_id
        |), per AS (
        |  SELECT probe_id, probe_label,
        |    max(CASE WHEN nlabel = probe_label THEN cos END) AS best_same,
        |    max(CASE WHEN nlabel <> probe_label THEN cos END) AS best_diff
        |  FROM scored GROUP BY 1, 2
        |), v AS (
        |  SELECT probe_label,
        |    CASE WHEN best_same IS NULL OR best_diff > best_same
        |      THEN 1 ELSE 0 END AS violated,
        |    CAST(round((coalesce(best_same, -1.0) - best_diff) * 1e6)
        |      AS BIGINT) AS margin_q
        |  FROM per
        |)
        |SELECT probe_label AS label, CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(sum(violated) AS BIGINT) AS n_violated,
        |  (10000 * CAST(sum(violated) AS BIGINT)) // count(*)
        |    AS violation_bp,
        |  CAST(sum(margin_q) AS BIGINT) AS sum_margin_q,
        |  round(CAST(sum(margin_q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1e6, 4) AS mean_margin
        |FROM v GROUP BY 1 ORDER BY label""".stripMargin)),
    // emb25: anisotropy audit — off-diagonal covariance energy share in
    // bp over quantized cross-moments — oracled
    Query("emb25_anisotropy", (s, d) =>
      operators.SimilarityOps.anisotropyAudit(s, d),
      // emb25: same quantized cross-moments; covariances quantized before
      // the energy sums with identical association
      Some("""WITH comps AS (
        |  SELECT vec_id,
        |    CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
        |      AS BIGINT) AS xq
        |  FROM embeddings
        |), cm AS (
        |  SELECT a.dim AS i, b.dim AS j, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a.xq * b.xq) AS BIGINT) AS sij
        |  FROM comps a JOIN comps b
        |    ON a.vec_id = b.vec_id AND a.dim < b.dim
        |  GROUP BY 1, 2
        |), mom AS (
        |  SELECT dim, CAST(sum(xq) AS BIGINT) AS s FROM comps GROUP BY 1
        |), wm AS (
        |  SELECT c.i, c.j,
        |    CAST(round((CAST(c.sij AS DOUBLE) / c.n
        |      - (CAST(mi.s AS DOUBLE) / c.n)
        |      * (CAST(mj.s AS DOUBLE) / c.n)) / 1e12 * 1e7) AS BIGINT)
        |      AS covq
        |  FROM cm c
        |  JOIN mom mi ON mi.dim = c.i
        |  JOIN mom mj ON mj.dim = c.j
        |), offa AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(covq * covq) AS BIGINT) AS off_energy_q
        |  FROM wm
        |), diag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS dims,
        |    CAST(sum(vq * vq) AS BIGINT) AS diag_energy_q
        |  FROM (
        |    SELECT dim,
        |      CAST(round((CAST(ss AS DOUBLE) / n
        |        - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
        |        / 1e12 * 1e7) AS BIGINT) AS vq
        |    FROM (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |      CAST(sum(xq) AS BIGINT) AS s,
        |      CAST(sum(xq * xq) AS BIGINT) AS ss
        |      FROM comps GROUP BY 1))
        |)
        |SELECT dims, n_pairs, off_energy_q, diag_energy_q,
        |  (10000 * off_energy_q) // (off_energy_q + diag_energy_q)
        |    AS anisotropy_bp,
        |  round(sqrt(CAST(off_energy_q AS DOUBLE)
        |    / CAST(n_pairs AS DOUBLE)) / 1e7, 6) AS rms_offdiag_cov,
        |  round(sqrt(CAST(diag_energy_q AS DOUBLE)
        |    / CAST(dims AS DOUBLE)) / 1e7, 6) AS rms_variance
        |FROM offa CROSS JOIN diag""".stripMargin)),
    // emb26: hubness audit — k-occurrence distribution of exact top-5
    // lists, hub id, top-10 occupancy bp, exact Σocc² — oracled
    Query("emb26_hubness", (s, d) =>
      operators.SimilarityOps.hubnessAudit(s, d),
      // emb26: emb01's cosine + tie-break; k-occurrence counts and the
      // same integer occupancy arithmetic
      Some("""WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec
        |  FROM embeddings WHERE vec_id % 7 = 0
        |), scored AS (
        |  SELECT p.probe_id, e.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(p.pvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM embeddings e, p
        |  WHERE e.vec_id <> p.probe_id
        |), top AS (
        |  SELECT vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY cos DESC, vec_id ASC) AS rank
        |    FROM scored)
        |  WHERE rank <= 5
        |), occ AS (
        |  SELECT vec_id, CAST(count(*) AS BIGINT) AS occ
        |  FROM top GROUP BY 1
        |), r AS (
        |  SELECT *, row_number() OVER (ORDER BY occ DESC, vec_id ASC)
        |    AS rn
        |  FROM occ
        |), np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM p)
        |SELECT n_probes, CAST(sum(occ) AS BIGINT) AS n_slots,
        |  CAST(count(*) AS BIGINT) AS n_distinct_neighbors,
        |  max(occ) AS max_k_occurrence,
        |  min(CASE WHEN rn = 1 THEN vec_id END) AS hub_vec_id,
        |  (10000 * CAST(sum(CASE WHEN rn <= 10 THEN occ ELSE 0 END)
        |    AS BIGINT)) // CAST(sum(occ) AS BIGINT) AS top10_share_bp,
        |  CAST(sum(occ * occ) AS BIGINT) AS occ_sq_sum
        |FROM r CROSS JOIN np GROUP BY n_probes""".stripMargin))
  )
}
