"""ANN-recall / graph / streaming-twin query registrations — the
contiguous SUFFIX of queries/temporal_ml.py, mechanically split out in
round 14 (VERDICT r13 Next #4: temporal_ml.py reached 3,026 lines,
over its own stated "no source file >3k" goal). Pure move, no behavior
change: registration order is preserved because this module is the
exact suffix of temporal_ml and registry.py imports it immediately
after temporal_ml, so the global QUERIES sequence is unchanged."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: F401

from dumbo_spark.operators import (  # noqa: F401
    agg,
    analytics,
    dedup,
    dq,
    events,
    graph,
    joins,
    packing,
    sampling,
    setops,
    shape,
    similarity,
    temporal,
    textstats,
    topk,
)
from dumbo_spark.queries._base import (  # noqa: F401
    DUCK_TOKENS,
    QUERIES,
    Query,
    QueryFn,
    _in_list,
    register,
)
from dumbo_spark.sources.catalog import load_table  # noqa: F401


@register(
    "pca_top_component",
    oracle="""
    WITH RECURSIVE ex AS (
      SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    mu AS (SELECT pos, AVG(v) AS mu FROM ex GROUP BY pos),
    g AS (SELECT a.pos AS j, b.pos AS k, SUM(a.v * b.v) AS g
          FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
    cov AS (
      SELECT j, k,
             (g - (SELECT n FROM nn) * mj.mu * mk.mu) / (SELECT n FROM nn)
               AS c
      FROM g JOIN mu mj ON g.j = mj.pos JOIN mu mk ON g.k = mk.pos),
    dd AS (SELECT COUNT(*) AS d FROM mu),
    pv(it, j, val) AS (
      SELECT 0, pos, 1.0 / sqrt((SELECT d FROM dd)) FROM mu
      UNION ALL
      SELECT it + 1, cov.j, SUM(cov.c * pv.val)
      FROM pv JOIN cov ON pv.j = cov.k
      WHERE it < 8 GROUP BY 1, 2),
    vfin AS (SELECT j, val FROM pv WHERE it = 8),
    nrm AS (SELECT sqrt(SUM(val * val)) AS nrm FROM vfin),
    vn AS (SELECT j, val / (SELECT nrm FROM nrm) AS val FROM vfin),
    cv AS (SELECT cov.j, SUM(cov.c * vn.val) AS cv
           FROM cov JOIN vn ON vn.j = cov.k GROUP BY 1),
    lam AS (SELECT SUM(vn.val * cv.cv) AS lam
            FROM vn JOIN cv ON vn.j = cv.j)
    SELECT vn.j AS pos,
           ROUND(vn.val * vn.val, 5) AS loading_sq,
           ROUND((SELECT lam FROM lam), 4) AS eigenvalue
    FROM vn ORDER BY pos
    """,
)
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by power iteration
    (similarity.pca_top_component): one Arrow-batched Gram pass +
    in-plan d×d iterations, checked against a recursive-CTE power
    iteration to 5dp — the linear-algebra member of the
    iterative-with-full-oracle family (pagerank_checked, kcore)."""
    return similarity.pca_top_component(load_table(spark, sf_dir, "embeddings"))


@register(
    "referential_integrity",
    oracle="""
    SELECT 'nation.regionkey' AS relationship,
           CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(COUNT(*) FILTER (WHERE r.r_regionkey IS NULL) AS BIGINT)
             AS n_orphans
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    UNION ALL
    SELECT 'customer.nationkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'supplier.nationkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'orders.custkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem.orderkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem.partkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.suppkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE s.s_suppkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema FK integrity audit (dq.referential_integrity):
    seven parent/child edges, each one left-join count pass; dims
    broadcast, fact→fact shuffles on the key."""
    return dq.referential_integrity(
        *[
            load_table(spark, sf_dir, t)
            for t in (
                "region", "nation", "customer", "supplier",
                "part", "orders", "lineitem",
            )
        ]
    )


@register(
    "pagerank_checked",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS ts
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
      FROM toks, UNNEST(generate_series(1, len(ts) - 2)) AS t(i)
      WHERE len(ts) >= 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE 10 * c >= 7 * (sa.n + sb.n - c)),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    pr(it, node, rank) AS (
      SELECT 0, src, 1.0 / (SELECT n FROM nn) FROM deg
      UNION ALL
      SELECT it + 1, e.dst,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
               + 0.85 * SUM(pr.rank / deg.d)
      FROM pr JOIN edges e ON pr.node = e.src JOIN deg ON e.src = deg.src
      WHERE it < 10
      GROUP BY it + 1, e.dst)
    SELECT node AS doc_id, ROUND(rank, 6) AS rank
    FROM pr WHERE it = 10
    """,
)
def q_pagerank_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (10 iterations, d=0.85) over the EXACT near-dup graph
    — the numeric-iterative fixpoint with a FULL value oracle: DuckDB's
    recursive CTE re-runs the same power iteration level by level, so
    every rank must match to 6dp (dedup.pagerank; round-3 classified
    this family 'not SQL-expressible' — the iteration-counter CTE
    disproves that for fixed iteration counts). Edges are the PPJoin
    pair set at Jaccard ≥ 0.7 (deterministic, unlike the LSH graph)."""
    docs = load_table(spark, sf_dir, "documents")
    edges = (
        dedup.jaccard_ngram_pairs(docs)
        .where(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b")
    )
    return dedup.pagerank(edges, max_iter=10).select(
        "doc_id", F.round("rank", 6).alias("rank")
    )


@register(
    "knn_recall_checked",
    # The counts are derived from the same brute-force pair definition
    # the Spark side uses (queries = vec_id < 8; candidates = every
    # other vec_id; top-k keeps min(5, |candidates|) rows per query —
    # exact for ANY input because row_number assigns a rank to every
    # candidate row regardless of its cosine value, NaN/NULL included),
    # not from a closed-form |table| product (ADVICE r5: the
    # combinatorial LEAST(8,c)*LEAST(5,c-1) silently assumed every
    # query sees a full candidate set).
    oracle="""
    WITH cand AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
      WHERE q.vec_id < 8),
    cnt AS (SELECT query_id, COUNT(*) AS c FROM cand GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COALESCE(SUM(LEAST(5, c)), 0) AS BIGINT) AS n_exact_pairs,
           TRUE AS lsh_recall_ok,
           TRUE AS ivf_recall_ok
    FROM cnt
    """,
)
def q_knn_recall_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH and IVF ANN recall vs exact brute-force top-k as
    oracle-checked booleans (similarity.knn_recall_checked): bounds
    0.5 / 0.3, matching the unit-test pins."""
    return similarity.knn_recall_checked(load_table(spark, sf_dir, "embeddings"))


@register(
    "dedup_recall_checked",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS ts
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
      FROM toks, UNNEST(generate_series(1, len(ts) - 2)) AS t(i)
      WHERE len(ts) >= 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT CAST(COUNT(*) FILTER (
             WHERE 10 * c >= 7 * (sa.n + sb.n - c)) AS BIGINT)
             AS n_exact_pairs,
           TRUE AS recall_ok
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    """,
)
def q_dedup_recall_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH→verify recall vs the exact PPJoin pair set at
    Jaccard ≥ 0.7 as an oracle-checked boolean
    (dedup.dedup_recall_checked)."""
    return dedup.dedup_recall_checked(load_table(spark, sf_dir, "documents"))


@register(
    "simhash_recall_checked",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS ts
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
      FROM toks, UNNEST(generate_series(1, len(ts) - 2)) AS t(i)
      WHERE len(ts) >= 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT CAST(COUNT(*) FILTER (
             WHERE 10 * c >= 9 * (sa.n + sb.n - c)) AS BIGINT)
             AS n_exact_pairs,
           TRUE AS recall_ok
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    """,
)
def q_simhash_recall_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded-candidate recall vs the exact PPJoin pair set at
    Jaccard ≥ 0.9 as an oracle-checked boolean
    (dedup.simhash_recall_checked) — completes the `_checked` tier:
    every probabilistic dedup/ANN/sketch op now has an externally
    verifiable claim."""
    return dedup.simhash_recall_checked(load_table(spark, sf_dir, "documents"))


@register(
    "knn_euclid",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 8),
    p AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_distance(CAST(q.q_emb AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[])), 6) AS dist
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, dist, rn FROM (
      SELECT query_id, neighbor_id, dist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY dist ASC, neighbor_id ASC) AS INTEGER) AS rn
      FROM p)
    WHERE rn <= 5
    """,
)
def q_knn_euclid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact euclidean top-k (similarity.knn_euclid): the second
    retrieval ranking for hybrid fusion; broadcast queries, streaming
    corpus, 6dp-rounded distances."""
    return similarity.knn_euclid(load_table(spark, sf_dir, "embeddings"))


@register(
    "rank_fusion_rrf",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 8),
    pc AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_dot_product(CAST(q.q_emb AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]),
                                            CAST(q.q_emb AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))),
                   6) AS cs
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
    rc AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cs DESC, neighbor_id ASC) AS r_cos
           FROM pc QUALIFY r_cos <= 5),
    pe AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_distance(CAST(q.q_emb AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[])), 6) AS dist
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
    re AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY dist ASC, neighbor_id ASC) AS r_euc
           FROM pe QUALIFY r_euc <= 5),
    fused AS (
      SELECT COALESCE(rc.query_id, re.query_id) AS query_id,
             COALESCE(rc.neighbor_id, re.neighbor_id) AS neighbor_id,
             COALESCE(1.0 / (60 + r_cos), 0) + COALESCE(1.0 / (60 + r_euc), 0)
               AS s
      FROM rc FULL JOIN re
        ON rc.query_id = re.query_id AND rc.neighbor_id = re.neighbor_id)
    SELECT query_id, neighbor_id, ROUND(s, 6) AS rrf_score,
           CAST(fused_rank AS INTEGER) AS fused_rank
    FROM (
      SELECT query_id, neighbor_id, s,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY s DESC, neighbor_id ASC) AS fused_rank
      FROM fused)
    WHERE fused_rank <= 5
    """,
)
def q_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the cosine and euclidean top-k lists
    (similarity.rank_fusion_rrf): the hybrid-retrieval combiner, pure
    rank arithmetic over the two input searches."""
    return similarity.rank_fusion_rrf(load_table(spark, sf_dir, "embeddings"))


# Shared SQL replica of the deterministic PQ pipeline (VERDICT r7 #4).
# Replays _pq_codebooks' fixed-iteration Lloyd k-means (integer-stride
# init over the id-ordered vec_id < 2048 sample, 6dp centroid rounding
# after init and after every mean update, 9dp distance rounding before
# the lowest-index argmin), then codes the full corpus and ranks by the
# same 6dp-rounded norm-corrected ADC score. The engine applies the
# identical rounding discipline (similarity.py), so codes and top-k
# agree bit-for-bit; the remaining float paths differ only in
# summation order (ulps), which the rounding steps absorb. Geometry is
# the registered default: m=16 blocks x ksub=32 centroids x dsub=4
# dims (64-dim fixtures), 10 iterations, queries = vec_id < 8, k = 5.
_PQ_CORE_SQL = """
WITH RECURSIVE
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
samp AS (SELECT vec_id, e, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ridx
         FROM emb WHERE vec_id < 2048),
sn AS (SELECT COUNT(*) AS ns FROM samp),
blocks AS (SELECT CAST(b AS INTEGER) AS b FROM generate_series(0, 15) t(b)),
sub AS (SELECT s.ridx, b.b, s.e[b.b*4+1 : b.b*4+4] AS sv FROM samp s, blocks b),
kmeans AS (
  SELECT 0 AS it, b.b, CAST(c.c AS INTEGER) AS c,
         list_transform(s.sv, x -> round(x, 6)) AS cent
  FROM blocks b
  CROSS JOIN generate_series(0, 31) c(c)
  CROSS JOIN sn
  JOIN sub s ON s.b = b.b AND s.ridx = (c.c * (ns - 1)) // 31
  UNION ALL
  SELECT it + 1, b, c,
         CASE WHEN COUNT(*) FILTER (WHERE rnk = 1) > 0
              THEN LIST_VALUE(
                ROUND(AVG(sv[1]) FILTER (WHERE rnk = 1), 6),
                ROUND(AVG(sv[2]) FILTER (WHERE rnk = 1), 6),
                ROUND(AVG(sv[3]) FILTER (WHERE rnk = 1), 6),
                ROUND(AVG(sv[4]) FILTER (WHERE rnk = 1), 6))
              ELSE ANY_VALUE(cent) END
  FROM (
    SELECT k.it, k.b, k.c, k.cent, s.ridx, s.sv,
           ROW_NUMBER() OVER (
             PARTITION BY s.ridx, k.b
             ORDER BY round(list_sum(list_transform(list_zip(s.sv, k.cent),
                        p -> (p[1]-p[2])*(p[1]-p[2]))), 9), k.c) AS rnk
    FROM kmeans k JOIN sub s ON s.b = k.b
    WHERE k.it < 10)
  GROUP BY it, b, c),
books AS (SELECT b, c, cent FROM kmeans WHERE it = 10),
csub AS (SELECT m.vec_id, b.b, m.e[b.b*4+1 : b.b*4+4] AS sv FROM emb m, blocks b),
coded AS (
  SELECT vec_id, b, c FROM (
    SELECT cs.vec_id, cs.b, bk.c,
           ROW_NUMBER() OVER (
             PARTITION BY cs.vec_id, cs.b
             ORDER BY round(list_sum(list_transform(list_zip(cs.sv, bk.cent),
                        p -> (p[1]-p[2])*(p[1]-p[2]))), 9), bk.c) AS rnk
    FROM csub cs JOIN books bk ON bk.b = cs.b)
  WHERE rnk = 1),
nrms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS nrm FROM emb),
q AS (SELECT vec_id AS query_id, e AS qe, sqrt(list_dot_product(e, e)) AS qn
      FROM emb WHERE vec_id < 8),
tabs AS (SELECT q.query_id, bk.b, bk.c,
                list_dot_product(q.qe[bk.b*4+1 : bk.b*4+4], bk.cent) AS tv
         FROM q, books bk),
adc AS (SELECT t.query_id, cd.vec_id AS neighbor_id, SUM(t.tv) AS s
        FROM coded cd JOIN tabs t ON t.b = cd.b AND t.c = cd.c
        WHERE cd.vec_id <> t.query_id
        GROUP BY 1, 2),
pqscored AS (
  SELECT a.query_id, a.neighbor_id,
         round(a.s / (q.qn * n.nrm), 6) AS adc_sim
  FROM adc a JOIN q ON q.query_id = a.query_id
  JOIN nrms n ON n.vec_id = a.neighbor_id),
pqtop AS (
  SELECT query_id, neighbor_id, adc_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_sim DESC, neighbor_id ASC) AS INTEGER) AS rn
  FROM pqscored QUALIFY rn <= 5)
"""


@register(
    "knn_cosine_pq",
    # Full-value oracle via the deterministic-PQ SQL replica: the whole
    # ADC ranking (ids, 6dp sims, ranks) is hash-compared, promoting
    # this from rows-only to oracle-backed (round 8).
    oracle=_PQ_CORE_SQL
    + """
    SELECT query_id, neighbor_id, adc_sim, rn FROM pqtop
    """,
)
def q_knn_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN top-k (similarity.knn_cosine_pq): corpus as 16x5-bit
    product-quantization codes, approximate dots as m table lookups
    per vector (zip_with over codes x the query's broadcast lookup
    table — JVM-side, zero corpus-side float math). Oracle-backed
    since round 8: the deterministic training discipline (integer
    stride + 6dp/9dp rounding) lets DuckDB replay codebooks, codes,
    and the full ADC ranking in SQL."""
    return similarity.knn_cosine_pq(load_table(spark, sf_dir, "embeddings"))


@register(
    "pq_recall_checked",
    # n_hits is recomputed EXACTLY (VERDICT r7 #4): the PQ top-k comes
    # from the deterministic SQL replica above, the exact top-k from
    # the same brute-force pair definition knn_recall_checked uses
    # (per query, min(k, |candidates|) via row_number over 6dp cosine
    # with id tie-break), and n_hits is their join count — a recall
    # regression now flips the hash, not just the 0.3-gate boolean.
    oracle=_PQ_CORE_SQL
    + """,
    cand AS (
      SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
             round(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(e2.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(e2.embedding AS DOUBLE[]),
                                              CAST(e2.embedding AS DOUBLE[])))),
                   6) AS cs
      FROM embeddings q JOIN embeddings e2 ON e2.vec_id <> q.vec_id
      WHERE q.vec_id < 8),
    extop AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cs DESC, neighbor_id ASC) AS r
      FROM cand QUALIFY r <= 5),
    ecnt AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
                    CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM extop),
    hits AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM extop e JOIN pqtop p USING (query_id, neighbor_id))
    SELECT n_queries, n_exact_pairs, n_hits,
           n_hits >= 0.3 * n_exact_pairs AS pq_recall_ok
    FROM ecnt, hits
    """,
)
def q_pq_recall_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC recall vs exact top-k with the hit
    count oracle-recomputed exactly (similarity.pq_recall_checked):
    measured 22/40 = 0.55 at the 16×32 geometry on the near-isotropic
    fixtures, gated at 0.3 — completes the ANN `_checked` matrix
    (LSH, IVF, PQ), and since round 8 a recall drift flips the hash,
    not just the gate boolean."""
    return similarity.pq_recall_checked(load_table(spark, sf_dir, "embeddings"))


# SQL replica of the deterministic IVFADC pipeline (round 9): extends
# _PQ_CORE_SQL's replay with the coarse quantizer (ckm: 16 full-dim
# centroids, same strided-init/6dp/9dp Lloyd), RESIDUAL codebooks (rkm
# trains on e - coarse[cell]), cell assignment for corpus and queries,
# and the qc_dot + ADC-residual score. The feeder CTEs are declared
# MATERIALIZED: without the hint DuckDB re-inlines them into each
# recursive iteration of rkm, re-running the entire coarse k-means per
# Lloyd step (measured: >5 min vs ~16s at the registered geometry).
_IVFPQ_CORE_SQL = """
WITH RECURSIVE
emb AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
samp AS MATERIALIZED (
  SELECT vec_id, e, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ridx
  FROM emb WHERE vec_id < 2048),
sn AS (SELECT COUNT(*) AS ns FROM samp),
blocks AS MATERIALIZED (
  SELECT CAST(b AS INTEGER) AS b FROM generate_series(0, 15) t(b)),
ckm AS (
  SELECT 0 AS it, CAST(c.c AS INTEGER) AS c,
         list_transform(s.e, x -> round(x, 6)) AS cent
  FROM generate_series(0, 15) c(c)
  CROSS JOIN sn
  JOIN samp s ON s.ridx = (c.c * (ns - 1)) // 15
  UNION ALL
  SELECT it + 1, c,
         CASE WHEN COUNT(*) FILTER (WHERE rnk = 1) > 0
              THEN LIST_VALUE(
                {cent64})
              ELSE ANY_VALUE(cent) END
  FROM (
    SELECT k.it, k.c, k.cent, s.ridx, s.e,
           ROW_NUMBER() OVER (
             PARTITION BY s.ridx
             ORDER BY round(list_sum(list_transform(list_zip(s.e, k.cent),
                        p -> (p[1]-p[2])*(p[1]-p[2]))), 9), k.c) AS rnk
    FROM ckm k, samp s
    WHERE k.it < 10)
  GROUP BY it, c),
coarse AS MATERIALIZED (SELECT c, cent FROM ckm WHERE it = 10),
sassign AS MATERIALIZED (
  SELECT ridx, c AS cell FROM (
    SELECT s.ridx, co.c,
           ROW_NUMBER() OVER (
             PARTITION BY s.ridx
             ORDER BY round(list_sum(list_transform(list_zip(s.e, co.cent),
                        p -> (p[1]-p[2])*(p[1]-p[2]))), 9), co.c) AS rnk
    FROM samp s, coarse co)
  WHERE rnk = 1),
rsamp AS MATERIALIZED (
  SELECT s.ridx,
         list_transform(list_zip(s.e, co.cent), p -> p[1] - p[2]) AS re
  FROM samp s JOIN sassign a ON a.ridx = s.ridx
  JOIN coarse co ON co.c = a.cell),
rsub AS MATERIALIZED (
  SELECT r.ridx, b.b, r.re[b.b*4+1 : b.b*4+4] AS sv FROM rsamp r, blocks b),
rkm AS (
  SELECT 0 AS it, b.b, CAST(c.c AS INTEGER) AS c,
         list_transform(s.sv, x -> round(x, 6)) AS cent
  FROM blocks b
  CROSS JOIN generate_series(0, 31) c(c)
  CROSS JOIN sn
  JOIN rsub s ON s.b = b.b AND s.ridx = (c.c * (ns - 1)) // 31
  UNION ALL
  SELECT it + 1, b, c,
         CASE WHEN COUNT(*) FILTER (WHERE rnk = 1) > 0
              THEN LIST_VALUE(
                ROUND(AVG(sv[1]) FILTER (WHERE rnk = 1), 6),
                ROUND(AVG(sv[2]) FILTER (WHERE rnk = 1), 6),
                ROUND(AVG(sv[3]) FILTER (WHERE rnk = 1), 6),
                ROUND(AVG(sv[4]) FILTER (WHERE rnk = 1), 6))
              ELSE ANY_VALUE(cent) END
  FROM (
    SELECT k.it, k.b, k.c, k.cent, s.ridx, s.sv,
           ROW_NUMBER() OVER (
             PARTITION BY s.ridx, k.b
             ORDER BY round(list_sum(list_transform(list_zip(s.sv, k.cent),
                        p -> (p[1]-p[2])*(p[1]-p[2]))), 9), k.c) AS rnk
    FROM rkm k JOIN rsub s ON s.b = k.b
    WHERE k.it < 10)
  GROUP BY it, b, c),
rbooks AS MATERIALIZED (SELECT b, c, cent FROM rkm WHERE it = 10),
cellof AS MATERIALIZED (
  SELECT vec_id, c AS cell FROM (
    SELECT m.vec_id, co.c,
           ROW_NUMBER() OVER (
             PARTITION BY m.vec_id
             ORDER BY round(list_sum(list_transform(list_zip(m.e, co.cent),
                        p -> (p[1]-p[2])*(p[1]-p[2]))), 9), co.c) AS rnk
    FROM emb m, coarse co)
  WHERE rnk = 1),
cres AS MATERIALIZED (
  SELECT m.vec_id, cl.cell,
         list_transform(list_zip(m.e, co.cent), p -> p[1] - p[2]) AS re
  FROM emb m JOIN cellof cl USING (vec_id)
  JOIN coarse co ON co.c = cl.cell),
crsub AS MATERIALIZED (
  SELECT c2.vec_id, b.b, c2.re[b.b*4+1 : b.b*4+4] AS sv FROM cres c2, blocks b),
coded AS MATERIALIZED (
  SELECT vec_id, b, c FROM (
    SELECT cs.vec_id, cs.b, bk.c,
           ROW_NUMBER() OVER (
             PARTITION BY cs.vec_id, cs.b
             ORDER BY round(list_sum(list_transform(list_zip(cs.sv, bk.cent),
                        p -> (p[1]-p[2])*(p[1]-p[2]))), 9), bk.c) AS rnk
    FROM crsub cs JOIN rbooks bk ON bk.b = cs.b)
  WHERE rnk = 1),
nrms AS MATERIALIZED (
  SELECT vec_id, sqrt(list_dot_product(e, e)) AS nrm FROM emb),
q AS MATERIALIZED (
  SELECT vec_id AS query_id, e AS qe, sqrt(list_dot_product(e, e)) AS qn
  FROM emb WHERE vec_id < 8),
probes AS (
  SELECT query_id, cell, qc_dot FROM (
    SELECT q.query_id, co.c AS cell,
           list_dot_product(q.qe, co.cent) AS qc_dot,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qe, co.cent)
                    / (q.qn * sqrt(list_dot_product(co.cent, co.cent))),
                    9) DESC, co.c) AS pr
    FROM q, coarse co)
  WHERE pr <= 4),
itabs AS (SELECT q.query_id, bk.b, bk.c,
                 list_dot_product(q.qe[bk.b*4+1 : bk.b*4+4], bk.cent) AS tv
          FROM q, rbooks bk),
adcsum AS (SELECT t.query_id, cd.vec_id AS neighbor_id, SUM(t.tv) AS s
           FROM coded cd JOIN itabs t ON t.b = cd.b AND t.c = cd.c
           GROUP BY 1, 2),
ivfscored AS (
  SELECT p.query_id, cl.vec_id AS neighbor_id,
         round((p.qc_dot + a.s) / (q.qn * n.nrm), 6) AS adc_sim
  FROM probes p
  JOIN cellof cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id
  JOIN adcsum a ON a.query_id = p.query_id AND a.neighbor_id = cl.vec_id
  JOIN q ON q.query_id = p.query_id
  JOIN nrms n ON n.vec_id = cl.vec_id),
ivftop AS (
  SELECT query_id, neighbor_id, adc_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_sim DESC, neighbor_id ASC) AS INTEGER) AS rn
  FROM ivfscored QUALIFY rn <= 5)
""".format(
    # the coarse centroid mean-update, one ROUND(AVG(e[i]) ...) per
    # dimension — generated because DuckDB LIST_VALUE takes positional
    # args and the fixtures are 64-dim
    cent64=",\n                ".join(
        f"ROUND(AVG(e[{i}]) FILTER (WHERE rnk = 1), 6)" for i in range(1, 65)
    )
)


@register(
    "knn_cosine_ivfpq",
    oracle=_IVFPQ_CORE_SQL
    + """
    SELECT query_id, neighbor_id, adc_sim, rn FROM ivftop
    """,
)
def q_knn_cosine_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC ANN top-k (similarity.knn_cosine_ivfpq): coarse cell
    pruning composed with residual-PQ asymmetric distances — the
    FAISS-style billion-vector pairing; each query scans ~n_probe/
    n_cells of the corpus as 10-byte codes, scored as one
    query-centroid dot plus m JVM-side table lookups. The
    deterministic index makes the FULL ranking oracle-backed — the
    recursive-CTE replica replays coarse k-means, residual codebooks,
    cell assignment, coding, and the norm-corrected ADC score
    (`knn_cosine_ivf` gained its own full oracle in r11 via the
    distributed integer-exact det_kmeans_cells index)."""
    return similarity.knn_cosine_ivfpq(load_table(spark, sf_dir, "embeddings"))


@register(
    "matryoshka_fidelity",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    dims AS (SELECT CAST(d AS INTEGER) AS dim
             FROM (VALUES (8), (16), (32)) t(d)),
    full_sc AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.v, e.v))), 6) AS cs
      FROM q JOIN e ON e.vec_id <> q.query_id),
    full_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cs DESC, neighbor_id ASC) AS rn
        FROM full_sc) WHERE rn <= 5),
    tr_sc AS (
      SELECT d.dim, q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.qv[1 : d.dim], e.v[1 : d.dim])
                   / (sqrt(list_dot_product(q.qv[1 : d.dim],
                                            q.qv[1 : d.dim]))
                      * sqrt(list_dot_product(e.v[1 : d.dim],
                                              e.v[1 : d.dim]))), 6) AS cs
      FROM dims d, q JOIN e ON e.vec_id <> q.query_id),
    tr_top AS (
      SELECT dim, query_id, neighbor_id FROM (
        SELECT dim, query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY dim, query_id
                   ORDER BY cs DESC, neighbor_id ASC) AS rn
        FROM tr_sc) WHERE rn <= 5),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM full_top),
    h AS (SELECT t.dim, CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM tr_top t JOIN full_top f
            ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
          GROUP BY t.dim)
    SELECT d.dim, n.n_exact_pairs, COALESCE(h.n_hits, 0) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0)
                 / CAST(n.n_exact_pairs AS DOUBLE), 4) AS overlap_pct
    FROM dims d CROSS JOIN n LEFT JOIN h ON h.dim = d.dim
    """,
)
def q_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval fidelity (similarity.
    matryoshka_fidelity): top-5 overlap between full-width cosine and
    8/16/32-dim prefix cosine — the adaptive-retrieval serving-cost
    table, each search the broadcast-queries streaming-corpus plan."""
    return similarity.matryoshka_fidelity(
        load_table(spark, sf_dir, "embeddings")
    )


@register(
    "ivfpq_recall_checked",
    # n_hits recomputed EXACTLY: IVFADC top-k from the deterministic
    # SQL replica, exact top-k from the same brute-force pair
    # definition the other _checked siblings use, n_hits = join count.
    oracle=_IVFPQ_CORE_SQL
    + """,
    cand AS (
      SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
             round(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(e2.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(e2.embedding AS DOUBLE[]),
                                              CAST(e2.embedding AS DOUBLE[])))),
                   6) AS cs
      FROM embeddings q JOIN embeddings e2 ON e2.vec_id <> q.vec_id
      WHERE q.vec_id < 8),
    extop AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cs DESC, neighbor_id ASC) AS r
      FROM cand QUALIFY r <= 5),
    ecnt AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
                    CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM extop),
    hits AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM extop e JOIN ivftop p USING (query_id, neighbor_id))
    SELECT n_queries, n_exact_pairs, n_hits,
           n_hits >= 0.2 * n_exact_pairs AS ivfpq_recall_ok
    FROM ecnt, hits
    """,
)
def q_ivfpq_recall_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC recall vs exact top-k with the hit count
    oracle-recomputed exactly (similarity.ivfpq_recall_checked):
    measured 14/40 = 0.35 at the 16-cell/4-probe geometry (cell
    pruning costs recall on clusterless random fixtures), gated at
    0.2 — completes the ANN `_checked` matrix (LSH, IVF, PQ, IVFPQ)."""
    return similarity.ivfpq_recall_checked(
        load_table(spark, sf_dir, "embeddings")
    )


@register(
    "semantic_dedup_checked",
    oracle="""
    WITH RECURSIVE p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND(
              list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                       CAST(a.embedding AS DOUBLE[])))
                 * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])))),
              6) >= 0.4),
    edges AS (SELECT va AS src, vb AS dst FROM p
              UNION ALL SELECT vb, va FROM p),
    reach(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.node = e.src),
    cc AS (SELECT node AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
    sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY 1)
    SELECT cc.vec_id, cc.cluster_id,
           cc.vec_id = cc.cluster_id AS is_keeper, sz.cluster_size
    FROM cc JOIN sz USING (cluster_id)
    """,
)
def q_semantic_dedup_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster semantics with a FULL value oracle
    (similarity.semantic_dedup_checked): exact brute-force cosine
    pairs at ≥ 0.4 closed by iterative connected components, re-run
    level-by-level in DuckDB's recursive CTE — cluster ids, keeper
    flags and sizes hash-checked. The LSH-bucketed semantic_dedup
    remains the registered 100 TB path (rows-only by design)."""
    return similarity.semantic_dedup_checked(
        load_table(spark, sf_dir, "embeddings")
    )


@register(
    "streaming_hourly_distinct_checked",
    oracle="""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:00:00') AS hour,
           event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS within_5pct
    FROM events GROUP BY hour, event_type
    """,
)
def q_streaming_hourly_distinct_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly distinct users as a TRUE stream with HLL++ in the window
    state, 5% bound oracle-checked against batch exact
    (streaming/runners.py::streaming_hourly_distinct_checked) — the
    streaming member of the *_checked sketch family."""
    from dumbo_spark.streaming.runners import streaming_hourly_distinct_checked

    return streaming_hourly_distinct_checked(spark, sf_dir)


@register(
    "copurchase_components",
    oracle="""
    WITH RECURSIVE po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ok AS (SELECT l_orderkey FROM po GROUP BY l_orderkey
           HAVING COUNT(*) <= 20),
    p2 AS (SELECT po.l_orderkey, po.l_partkey
           FROM po JOIN ok USING (l_orderkey)),
    e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
           FROM p2 a JOIN p2 b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2),
    edges AS (SELECT src, dst FROM e0
              UNION ALL SELECT dst, src FROM e0),
    reach(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.node = e.src),
    comp AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY node),
    sizes AS (SELECT cid, COUNT(*) AS n_members FROM comp GROUP BY cid)
    SELECT n_members, CAST(COUNT(*) AS BIGINT) AS n_components
    FROM sizes GROUP BY n_members ORDER BY n_members
    """,
)
def q_copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram of the co-purchase graph
    (graph.copurchase_components): iterative min-label CC checked
    bit-for-bit against a recursive-CTE transitive closure."""
    return graph.copurchase_components(load_table(spark, sf_dir, "lineitem"))


@register(
    "doc_perplexity",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKENS} AS t FROM documents),
    bi AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 2
                    THEN list_transform(range(1, len(t)),
                                        i -> t[i] || ' ' || t[i+1])
                    ELSE [] END) AS bigram
      FROM toks),
    uni AS (SELECT unnest({DUCK_TOKENS}) AS tok FROM documents),
    c2 AS (SELECT bigram, COUNT(*) AS c2 FROM bi GROUP BY bigram),
    c1 AS (SELECT tok, COUNT(*) AS c1 FROM uni GROUP BY tok),
    v AS (SELECT COUNT(DISTINCT tok) AS v FROM uni),
    s AS (
      SELECT bi.doc_id,
             log2(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v)) AS lp
      FROM bi
      JOIN c2 USING (bigram)
      JOIN c1 ON c1.tok = string_split(bi.bigram, ' ')[1]
      CROSS JOIN v)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(-AVG(lp), 4) AS xent_bits,
           ROUND(pow(2.0, -AVG(lp)), 4) AS ppl
    FROM s GROUP BY doc_id
    """,
)
def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under the corpus's own add-one bigram LM
    (textstats.doc_perplexity) — the training-free perplexity quality
    filter; gram-keyed partial aggs + joins, broadcast |V|."""
    return textstats.doc_perplexity(load_table(spark, sf_dir, "documents"))


@register(
    "containment_join",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKENS} AS t FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= 3
                    THEN list_transform(range(1, len(t) - 1),
                                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                    ELSE [] END) AS grams
      FROM toks),
    gg AS (SELECT doc_id, grams, len(grams) AS n FROM g WHERE len(grams) > 0)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / a.n, 6)
             AS containment
    FROM gg a JOIN gg b ON a.doc_id <> b.doc_id
    WHERE 100 * len(list_intersect(a.grams, b.grams)) >= 60 * a.n
    """,
)
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment self-join (dedup.containment_join):
    excerpt/quotation detection — lossless containment-form prefix
    filter (rarest-first global gram order) joined against the full
    gram postings, exact intersect verify; the brute-force oracle
    states the semantics."""
    return dedup.containment_join(load_table(spark, sf_dir, "documents"))


@register(
    "degree_histogram",
    oracle="""
    WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ok AS (SELECT l_orderkey FROM po GROUP BY l_orderkey
           HAVING COUNT(*) <= 20),
    p2 AS (SELECT po.l_orderkey, po.l_partkey
           FROM po JOIN ok USING (l_orderkey)),
    e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM p2 a JOIN p2 b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2),
    deg AS (SELECT v, COUNT(*) AS degree
            FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
            GROUP BY v)
    SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
    """,
)
def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase degree distribution (graph.degree_histogram): the
    uniform-vs-power-law diagnostic that picks graph partitioning
    strategy; two partial aggs over the edge list."""
    return graph.degree_histogram(load_table(spark, sf_dir, "lineitem"))


@register(
    "clustering_coefficient",
    oracle="""
    WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ok AS (SELECT l_orderkey FROM po GROUP BY l_orderkey
           HAVING COUNT(*) <= 20),
    p2 AS (SELECT po.l_orderkey, po.l_partkey
           FROM po JOIN ok USING (l_orderkey)),
    e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM p2 a JOIN p2 b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2),
    deg AS (SELECT v, COUNT(*) AS degree
            FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
            GROUP BY v),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1
      JOIN e e2 ON e1.dst = e2.src
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
    pn AS (SELECT v, COUNT(*) AS t
           FROM (SELECT a AS v FROM tri
                 UNION ALL SELECT b FROM tri
                 UNION ALL SELECT c FROM tri)
           GROUP BY v)
    SELECT deg.v AS part, deg.degree,
           CAST(COALESCE(pn.t, 0) AS BIGINT) AS n_triangles,
           ROUND(CASE WHEN deg.degree >= 2
                      THEN 2.0 * COALESCE(pn.t, 0)
                           / (deg.degree * (deg.degree - 1.0))
                 END, 6) AS clustering_coeff
    FROM deg LEFT JOIN pn ON deg.v = pn.v
    """,
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient
    (graph.clustering_coefficient): degree-ordered triangle
    enumeration credits each triangle's three corners, one
    partial-agg shuffle over the wedge join."""
    return graph.clustering_coefficient(load_table(spark, sf_dir, "lineitem"))


@register(
    "copurchase_kcore",
    oracle="""
    WITH RECURSIVE po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ok AS (SELECT l_orderkey FROM po GROUP BY l_orderkey
           HAVING COUNT(*) <= 20),
    p2 AS (SELECT po.l_orderkey, po.l_partkey
           FROM po JOIN ok USING (l_orderkey)),
    e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
           FROM p2 a JOIN p2 b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2),
    sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    es(it, src, dst) AS (
      SELECT 0, src, dst FROM sym
      UNION ALL
      SELECT it + 1, src, dst FROM (
        SELECT it, src, dst,
               COUNT(*) OVER (PARTITION BY src) AS ds,
               COUNT(*) OVER (PARTITION BY dst) AS dd
        FROM es WHERE it < 30) x
      WHERE ds >= 3 AND dd >= 3)
    SELECT src AS l_partkey, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM es WHERE it = 30 GROUP BY src
    """,
)
def q_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction (graph.kcore_nodes, k=3): iterative
    degree-peel to a fixpoint with per-round lineage truncation — the
    third iterative-graph operator alongside connected components and
    PageRank. Round-5 upgrade from rows-only to a FULL value oracle:
    DuckDB peels the symmetric edge list level by level (30 rounds ≡
    the Spark fixpoint, extra rounds are no-ops once stable) — the
    same iteration-counter recursive-CTE trick as pagerank_checked.
    Fixpoint also pinned on hand graphs in tests/test_round4_ops.py."""
    return graph.kcore_nodes(load_table(spark, sf_dir, "lineitem"))


@register(
    "copurchase_ktruss",
    # Exactly max_iter = 8 peels on both sides: the Spark loop breaks
    # early at the fixpoint, the SQL runs all 8 (no-ops once stable),
    # so the final edge sets agree unconditionally — the kcore /
    # pagerank iteration-counter trick applied to EDGE peeling. The
    # recursive working table holds only the previous round's rows, so
    # the triangle joins inside the recursive term need no it-equality
    # predicates.
    oracle="""
    WITH RECURSIVE po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ok AS (SELECT l_orderkey FROM po GROUP BY l_orderkey
           HAVING COUNT(*) <= 20),
    p2 AS (SELECT po.l_orderkey, po.l_partkey
           FROM po JOIN ok USING (l_orderkey)),
    e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
           FROM p2 a JOIN p2 b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    tr(it, src, dst) AS (
      SELECT 0, src, dst FROM e0
      UNION ALL
      SELECT it + 1, src, dst FROM (
        SELECT e.it, e.src, e.dst, COALESCE(s.supp, 0) AS supp
        FROM tr e
        LEFT JOIN (
          SELECT u.es, u.ed, COUNT(*) AS supp
          FROM (SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
                FROM tr w1
                JOIN tr w2 ON w2.src = w1.src AND w1.dst < w2.dst
                JOIN tr cl ON cl.src = w1.dst AND cl.dst = w2.dst) t,
               LATERAL (VALUES (t.a, t.b), (t.a, t.c), (t.b, t.c)) u(es, ed)
          GROUP BY u.es, u.ed) s
          ON s.es = e.src AND s.ed = e.dst
        WHERE e.it < 8) z
      WHERE supp >= 1),
    fin AS (SELECT src, dst FROM tr WHERE it = 8),
    fsupp AS (
      SELECT u.es, u.ed, COUNT(*) AS supp
      FROM (SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
            FROM fin w1
            JOIN fin w2 ON w2.src = w1.src AND w1.dst < w2.dst
            JOIN fin cl ON cl.src = w1.dst AND cl.dst = w2.dst) t,
           LATERAL (VALUES (t.a, t.b), (t.a, t.c), (t.b, t.c)) u(es, ed)
      GROUP BY u.es, u.ed)
    SELECT f.src AS part_a, f.dst AS part_b,
           CAST(COALESCE(s.supp, 0) AS INTEGER) AS support
    FROM fin f LEFT JOIN fsupp s ON s.es = f.src AND s.ed = f.dst
    """,
)
def q_copurchase_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (graph.ktruss_edges, k=3): iterative
    edge peel by triangle support to a fixpoint — the edge-level
    cohesion member of the iterative-graph family (CC, PageRank,
    k-core, now truss), with a full recursive-CTE value oracle."""
    return graph.ktruss_edges(load_table(spark, sf_dir, "lineitem"))


@register(
    "posting_lists",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKENS} AS t FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(t) >= 3
                    THEN list_transform(range(1, len(t) - 1),
                                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                    ELSE [] END) AS token
      FROM toks),
    df AS (
      SELECT token, COUNT(*) AS doc_freq FROM g GROUP BY token
      HAVING COUNT(*) BETWEEN 2 AND 50)
    SELECT g.token, df.doc_freq,
           string_agg(CAST(g.doc_id AS VARCHAR), ',' ORDER BY g.doc_id)
             AS postings
    FROM g JOIN df USING (token)
    GROUP BY g.token, df.doc_freq
    """,
)
def q_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists over 3-gram phrases
    (textstats.posting_lists): df-band filter BEFORE list assembly so
    stop-phrase grams never materialize a list; postings serialized
    for canonicalizer hashing."""
    return textstats.posting_lists(load_table(spark, sf_dir, "documents"))


@register(
    "near_match_names",
    oracle="""
    WITH v AS (SELECT DISTINCT p_name AS val FROM part),
    b AS (SELECT val, right(val, 4) AS blk FROM v)
    SELECT a.val AS val_a, c.val AS val_b,
           CAST(levenshtein(a.val, c.val) AS INTEGER) AS dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.val < c.val
    WHERE levenshtein(a.val, c.val) <= 3
    """,
)
def q_near_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match over the p_name value domain
    (dedup.near_match_values): distinct → suffix block (adjective-noun
    domain: edits concentrate in the head word) → in-block Levenshtein
    verify; the attribute-domain complement of the document-scale
    PPJoin family."""
    return dedup.near_match_values(load_table(spark, sf_dir, "part"), "p_name")


@register(
    "upsert_latest",
    oracle="""
    WITH snap AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             0 AS version FROM orders),
    upd AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE) AS o_totalprice,
             1 AS version
      FROM orders WHERE o_orderkey % 7 = 0),
    u AS (SELECT * FROM snap UNION ALL SELECT * FROM upd),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                       ORDER BY version DESC) AS rn FROM u)
    SELECT o_orderkey, o_totalprice, CAST(version AS INTEGER) AS version
    FROM r WHERE rn = 1
    """,
)
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest CDC merge (shape.upsert_latest): a deterministic
    update batch (every 7th order repriced, version 1) merged over the
    version-0 snapshot."""
    from dumbo_spark.functions.numeric import dmoney

    orders = load_table(spark, sf_dir, "orders")
    snap = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.lit(0).alias("version"),
    )
    upd = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (dmoney("o_totalprice") * 2).cast("double").alias("o_totalprice"),
        F.lit(1).alias("version"),
    )
    return shape.upsert_latest(snap, upd, key="o_orderkey", version="version")


@register(
    "market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS v,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey)
    SELECT order_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN v
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             AS nation_volume,
           CAST(SUM(v) AS DOUBLE) AS total_volume,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN v
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(v) AS DOUBLE), 6) AS mkt_share
    FROM vol GROUP BY order_year
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (analytics.market_share)."""
    return analytics.market_share(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "waiting_suppliers",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supps,
             COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
               AS n_ret_supps,
             MIN(CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
               AS sole_ret_supp
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                           WHERE o_orderstatus = 'F')
      GROUP BY l_orderkey)
    SELECT x.s_suppkey, s.s_name, x.numwait FROM (
      SELECT sole_ret_supp AS s_suppkey, COUNT(*) AS numwait
      FROM per_order
      WHERE n_supps >= 2 AND n_ret_supps = 1
      GROUP BY sole_ret_supp) x
    JOIN supplier s ON x.s_suppkey = s.s_suppkey
    """,
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (analytics.waiting_suppliers)."""
    return analytics.waiting_suppliers(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


@register(
    "streaming_dedup_keys",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming run (file source → dropDuplicatesWithinWatermark
    → availableNow → memory sink) over an every-event-twice replay; the
    oracle is simply the distinct event set, which dedup must
    reconstruct exactly (streaming/runners.py)."""
    from dumbo_spark.streaming.runners import streaming_dedup_keys

    return streaming_dedup_keys(spark, sf_dir)


@register(
    "streaming_running_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS total_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming run of the applyInPandasWithState running-totals
    operator across three micro-batches; final settled per-user rows
    must equal the batch aggregate (integer-cents state keeps the sum
    exact across any batch split — streaming/runners.py)."""
    from dumbo_spark.streaming.runners import streaming_running_totals

    return streaming_running_totals(spark, sf_dir)


@register(
    "streaming_enriched_segments",
    oracle="""
    SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def q_streaming_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join + aggregate executed as a real
    stream over three micro-batches (streaming/runners.py): the static
    customer dim is broadcast per batch, no join state kept; settled
    complete-mode output equals the batch join+aggregate oracle."""
    from dumbo_spark.streaming.runners import streaming_enriched_segments

    return streaming_enriched_segments(spark, sf_dir)


@register(
    "streaming_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS next_type
      FROM events),
    m AS (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type)
    SELECT event_type, next_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE),
                 6) AS p
    FROM m
    """,
)
def q_streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-SENSITIVE stateful streaming (streaming/runners.py +
    stateful.transition_counts_stream): per-user last-event state
    across three time-ordered micro-batches; summed emissions must
    equal the batch ``event_transitions`` oracle bit-for-bit — the
    stateful class where arrival order matters, which the commutative
    running-totals operator cannot exercise."""
    from dumbo_spark.streaming.runners import streaming_transitions

    return streaming_transitions(spark, sf_dir)


@register(
    "streaming_attribution",
    oracle="""
    SELECT p.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream interval join (streaming/runners.py::
    streaming_attribution): clicks and purchases as two watermarked
    file streams in chronological micro-batches through Spark's
    symmetric hash join; time-split replay makes eviction provably
    lossless, so it shares ``click_attribution``'s batch oracle."""
    from dumbo_spark.streaming.runners import streaming_attribution

    return streaming_attribution(spark, sf_dir)


@register(
    "streaming_attribution_outer",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(epoch_us(CAST(p.ts AS TIMESTAMP))
                - epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q_streaming_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join (streaming/runners.py::
    streaming_attribution, how="leftOuter"; VERDICT r4 #7): unmatched clicks
    surface as null-purchase rows once the watermark closes their
    window — sentinel files drive the final watermark so the settled
    availableNow output equals the batch LEFT JOIN oracle."""
    from dumbo_spark.streaming.runners import streaming_attribution

    return streaming_attribution(spark, sf_dir, how="leftOuter")


@register(
    "streaming_attribution_full",
    oracle="""
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(epoch_us(CAST(p.ts AS TIMESTAMP))
                - epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q_streaming_attribution_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join (streaming/runners.py::
    streaming_attribution, how="fullOuter"): unmatched clicks and organic
    purchases both emitted after watermark expiry; settled availableNow
    output equals the batch FULL JOIN oracle bit-for-bit."""
    from dumbo_spark.streaming.runners import streaming_attribution

    return streaming_attribution(spark, sf_dir, how="fullOuter")


@register(
    "streaming_attribution_semi",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id,
           CAST(epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS click_us
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts > c.ts
          AND p.ts <= c.ts + INTERVAL 30 MINUTE)
    """,
)
def q_streaming_attribution_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI stream-stream interval join (streaming/runners.py::
    streaming_attribution, how="left_semi"): attributed clicks emitted once each —
    the existence-only member that completes the streaming join-type
    matrix (inner / left outer / full outer / left semi); settled
    availableNow output equals the batch EXISTS oracle bit-for-bit."""
    from dumbo_spark.streaming.runners import streaming_attribution

    return streaming_attribution(spark, sf_dir, how="left_semi")


@register(
    "streaming_attribution_dedup",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(epoch_us(CAST(p.ts AS TIMESTAMP))
                - epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q_streaming_attribution_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once LEFT OUTER attribution (streaming/runners.py::
    streaming_attribution, purchase_copies=2; VERDICT r5 #7): every purchase half
    delivered twice; dropDuplicatesWithinWatermark ahead of the
    symmetric-hash outer join restores exactly-once semantics, so the
    settled output hash-matches the duplicate-free batch LEFT JOIN
    oracle (streaming_attribution_outer's, verbatim)."""
    from dumbo_spark.streaming.runners import streaming_attribution

    return streaming_attribution(spark, sf_dir, how="leftOuter", purchase_copies=2)


@register(
    "embedding_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, len(embedding) AS n_dims,
             127.0 / list_max(list_transform(embedding,
                                             x -> abs(CAST(x AS DOUBLE))))
               AS scale,
             embedding
      FROM embeddings
      WHERE list_max(list_transform(embedding,
                                    x -> abs(CAST(x AS DOUBLE)))) > 0),
    q AS (
      SELECT vec_id, n_dims, scale,
             unnest(range(1, n_dims + 1)) AS pos,
             FLOOR(CAST(unnest(embedding) AS DOUBLE) * scale + 0.5) AS qi
      FROM s)
    SELECT vec_id,
           CAST(MAX(n_dims) AS INTEGER) AS n_dims,
           ROUND(MAX(scale), 4) AS scale,
           CAST(SUM(qi * pos) AS BIGINT) AS q_checksum,
           CAST(SUM(ABS(qi)) AS BIGINT) AS q_l1
    FROM q GROUP BY vec_id
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization digests
    (similarity.embedding_quantize): zero-shuffle scan projection;
    oracle pins every quantized element via the position-weighted
    checksum."""
    return similarity.embedding_quantize(load_table(spark, sf_dir, "embeddings"))


@register("streaming_tumbling_1h", oracle=QUERIES["events_tumbling_1h"].oracle)
def q_streaming_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming execution of the tumbling aggregate — same
    Catalyst window expression, same oracle as the batch twin
    (streaming/runners.py)."""
    from dumbo_spark.streaming.runners import streaming_tumbling_1h

    return streaming_tumbling_1h(spark, sf_dir)


@register("streaming_sessionized", oracle=QUERIES["events_session_window"].oracle)
def q_streaming_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming session_window execution — same oracle as the
    batch session_window stand-in, whose >= gap semantics and output
    columns match F.session_window exactly (streaming/runners.py)."""
    from dumbo_spark.streaming.runners import streaming_sessionized

    return streaming_sessionized(spark, sf_dir)


@register(
    "events_cascade_rollup",
    oracle="""
    SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY day, event_type
    """,
)
def q_events_cascade_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle is the DIRECT day aggregation — the cascade must be
    lossless (algebraic aggregates), which this hash-check proves."""
    return temporal.cascade_rollup(load_table(spark, sf_dir, "events"))


