"""Temporal as-of/range operators + the LLM-data-pipeline ladder
(quality screens, LM scores, mixing) — mechanically split out of
registry.py in round 13 (VERDICT r12 Next #7: no source file over 3k
lines), then re-split in round 14 when it crossed 3k itself: the
ANN-recall/graph/streaming-twin SUFFIX moved to
queries/ann_graph_stream.py (VERDICT r13 Next #4). Pure moves, no
behavior change: registration order is preserved by the import
sequence in dumbo_spark/registry.py, and each query/oracle pair stays
adjacent exactly as it was."""

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


# ═══ temporal operators: as-of / range join / cascade rollup ════════════


@register(
    "asof_last_click",
    oracle="""
    WITH carried AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS) OVER w AS last_src_id,
             last_value(CASE WHEN event_type = 'click'
                             THEN epoch_us(CAST(ts AS TIMESTAMP)) END
                        IGNORE NULLS) OVER w AS last_src_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id,
           event_id AS target_id,
           last_src_id AS source_id,
           us - last_src_us AS gap_us
    FROM carried
    WHERE event_type = 'purchase' AND last_src_id IS NOT NULL
    """,
)
def q_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temporal.asof_last_event(load_table(spark, sf_dir, "events"))


@register(
    "asof_last_click_bounded",
    oracle="""
    WITH carried AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS) OVER w AS last_src_id,
             last_value(CASE WHEN event_type = 'click'
                             THEN epoch_us(CAST(ts AS TIMESTAMP)) END
                        IGNORE NULLS) OVER w AS last_src_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id,
           event_id AS target_id,
           last_src_id AS source_id,
           us - last_src_us AS gap_us
    FROM carried
    WHERE event_type = 'purchase' AND last_src_id IS NOT NULL
      AND us - last_src_us <= 600000000
    """,
)
def q_asof_last_click_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of with a 10-minute max-staleness bound
    (temporal.asof_last_event tolerance_sec) — the windowed-aj form
    event enrichment needs; same one-shuffle carried-forward plan."""
    return temporal.asof_last_event(
        load_table(spark, sf_dir, "events"), tolerance_sec=600
    )


@register(
    "events_range_join",
    oracle="""
    SELECT a.user_id, COUNT(*) AS n_pairs
    FROM (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us_a FROM events) a
    JOIN (SELECT user_id AS u2, epoch_us(CAST(ts AS TIMESTAMP)) AS us_b FROM events) b
      ON a.user_id = b.u2
     AND b.us_b > a.us_a
     AND b.us_b - a.us_a <= 60000000
    GROUP BY a.user_id
    """,
)
def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temporal.range_self_join(load_table(spark, sf_dir, "events"))


@register(
    "click_attribution",
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
def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/windows.py::click_purchase_stream_join —
    the SAME call on static frames (no watermark), so this oracle
    transitively checks the stream-stream interval join the streaming
    test proves equal to it."""
    from dumbo_spark.streaming.windows import click_purchase_stream_join

    ev = load_table(spark, sf_dir, "events")
    return click_purchase_stream_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


@register(
    "doc_pagerank",
    # Promoted from rows-only in r11 (VERDICT r10 Next #3): the edge
    # set now comes from the md5-derived engine-neutral MinHash-LSH
    # pipeline (dedup.dedup_fuzzy_verified_md5), so DuckDB reproduces
    # signatures, banding, candidate screen, and exact verification
    # byte-for-byte, then re-runs the power iteration level by level
    # with pagerank_checked's iteration-counter recursive CTE.
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS ts
      FROM documents),
    grams AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
      FROM toks, UNNEST(generate_series(1, len(ts) - 2)) AS t(i)
      WHERE len(ts) >= 3),
    dg AS (SELECT DISTINCT doc_id, gram FROM grams),
    hd AS (
      SELECT doc_id, d, md5(CAST(d AS VARCHAR) || ':' || gram) AS hx
      FROM dg, UNNEST(generate_series(0, 7)) AS u(d)),
    hs AS (
      SELECT doc_id, d * 4 + l AS i, MIN(substr(hx, l * 8 + 1, 8)) AS h
      FROM hd, UNNEST(generate_series(0, 3)) AS v(l)
      GROUP BY doc_id, d * 4 + l),
    sig AS (SELECT doc_id, list(h ORDER BY i) AS s FROM hs GROUP BY doc_id),
    bands AS (
      SELECT doc_id, s,
             md5(CAST(t AS VARCHAR) || '|' ||
                 s[4*t+1] || s[4*t+2] || s[4*t+3] || s[4*t+4]) AS band_key
      FROM sig, UNNEST(generate_series(0, 7)) AS b(t)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
      WHERE len(list_filter(generate_series(1, 32),
                            i -> a.s[i] = b.s[i])) >= 12),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM dg GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS c
      FROM cand c JOIN dg x ON x.doc_id = c.doc_a
                  JOIN dg y ON y.doc_id = c.doc_b AND y.gram = x.gram
      GROUP BY 1, 2),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
                   JOIN sizes sb ON i.doc_b = sb.doc_id
      WHERE 10 * i.c >= 7 * (sa.n + sb.n - i.c)),
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
def q_doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the LSH-verified near-dup graph (dedup.pagerank
    over dedup.dedup_fuzzy_verified_md5 edges) — centrality within
    duplicate clusters. r11 promotion: the md5 hash family makes the
    FULL pipeline (signatures → bands → candidates → exact-Jaccard
    verify → 10 power iterations) value-checked against DuckDB;
    sibling pagerank_checked keeps the deterministic PPJoin edge set,
    and dedup_fuzzy_verified keeps the xxhash64 throughput family."""
    docs = load_table(spark, sf_dir, "documents")
    edges = dedup.dedup_fuzzy_verified_md5(docs)
    return dedup.pagerank(edges, max_iter=10).select(
        "doc_id", F.round("rank", 6).alias("rank")
    )


@register(
    "sample_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_orderpriority, o_orderkey,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                  ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey)
                  AS INTEGER) AS sample_rank
      FROM orders)
    WHERE sample_rank <= 5
    """,
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-order k-per-group sample
    (sampling.sample_per_group) — reproducible across engines, hence
    the exact oracle."""
    return sampling.sample_per_group(
        load_table(spark, sf_dir, "orders"), "o_orderpriority", "o_orderkey", k=5
    )


@register(
    "sample_exact_n",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sample_key
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 300
    """,
)
def q_sample_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-n global sample (sampling.sample_exact_n):
    hash-order + limit compiles to TakeOrderedAndProject (per-task
    heap, no global sort) — the scale-safe reservoir equivalent."""
    return sampling.sample_exact_n(
        load_table(spark, sf_dir, "documents"), "doc_id", n=300
    )


@register(
    "weighted_sample",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, n_chars AS weight,
             ln(({sampling.sql_md5_u32('doc_id')} + 1) / 4294967296.0)
               / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS s
      FROM documents)
    SELECT doc_id, weight, ROUND(s, 6) AS es_key
    FROM scored ORDER BY s DESC, doc_id LIMIT 200
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample without replacement, exact
    n, n_chars-weighted (sampling.weighted_sample): hash-derived
    uniform variate makes the draw engine-stable; orderBy+limit is
    TakeOrderedAndProject, no global sort."""
    return sampling.weighted_sample(
        load_table(spark, sf_dir, "documents"), "n_chars", n=200
    )


@register(
    "source_mix_rebalance",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS k FROM counts)
    SELECT d.doc_id, d.source
    FROM documents d
    JOIN counts c ON d.source = c.source
    CROSS JOIN tot
    WHERE ({sampling.sql_md5_u32('d.doc_id')} % 1000000)
          < ((1000000 * tot.total) // (tot.k * c.cnt))
    """,
)
def q_source_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform domain-mix rebalance (sampling.source_mix_rebalance):
    per-source keep-probability min(1, total/(k·count)), decided by an
    integer hash-bucket compare — exact, no floats; counts partial-agg
    + broadcast join, keep decision is a scan predicate."""
    return sampling.source_mix_rebalance(load_table(spark, sf_dir, "documents"))


@register(
    "cross_source_overlap",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT
             md5(array_to_string(({DUCK_TOKENS})[1:8], ' ')) AS h,
             source
      FROM documents)
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(DISTINCT a.h) AS n_shared
    FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair contamination matrix (dedup.cross_source_overlap):
    distinct (prefix-fingerprint, source) pairs self-joined on the
    hash — shuffle carries 16-byte keys, fan-out bounded by source
    count."""
    return dedup.cross_source_overlap(load_table(spark, sf_dir, "documents"))


@register(
    "asof_next_purchase",
    oracle="""
    WITH carried AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             first_value(CASE WHEN event_type = 'purchase' THEN event_id END
                         IGNORE NULLS) OVER w AS next_src_id,
             first_value(CASE WHEN event_type = 'purchase'
                              THEN epoch_us(CAST(ts AS TIMESTAMP)) END
                         IGNORE NULLS) OVER w AS next_src_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
    SELECT user_id,
           event_id AS target_id,
           next_src_id AS source_id,
           next_src_us - us AS gap_us
    FROM carried
    WHERE event_type = 'click' AND next_src_id IS NOT NULL
    """,
)
def q_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (temporal.asof_next_event): each click's next
    purchase by the same user."""
    return temporal.asof_next_event(
        load_table(spark, sf_dir, "events"),
        target_type="click",
        source_type="purchase",
    )


@register(
    "conversion_funnel",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view,
             list_sort(list(epoch_us(CAST(ts AS TIMESTAMP)))
                       FILTER (WHERE event_type = 'click')) AS clicks,
             list_sort(list(epoch_us(CAST(ts AS TIMESTAMP)))
                       FILTER (WHERE event_type = 'purchase')) AS purchases
      FROM events GROUP BY user_id),
    st AS (
      SELECT user_id, t_view, clicks, purchases,
             list_min(list_filter(clicks, x -> x > t_view)) AS t_click
      FROM pu),
    st2 AS (
      SELECT user_id, t_view, t_click,
             list_min(list_filter(purchases, x -> x > t_click)) AS t_purchase
      FROM st),
    c AS (SELECT COUNT(t_view) AS v, COUNT(t_click) AS k,
                 COUNT(t_purchase) AS p FROM st2)
    SELECT '1_view' AS stage, v AS n_users FROM c
    UNION ALL SELECT '2_click', k FROM c
    UNION ALL SELECT '3_purchase', p FROM c
    """,
)
def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (temporal.conversion_funnel)."""
    return temporal.conversion_funnel(load_table(spark, sf_dir, "events"))


@register(
    "column_profile",
    oracle="""
    SELECT 'l_orderkey' AS "column", COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           COUNT(DISTINCT l_orderkey) AS n_distinct,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_value,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_value
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', COUNT(*),
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT l_quantity),
           CAST(MIN(l_quantity) AS VARCHAR), CAST(MAX(l_quantity) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', COUNT(*),
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT l_returnflag),
           CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
    FROM lineitem
    """,
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-gate data-quality profile (shape.column_profile)."""
    return shape.column_profile(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_quantity", "l_returnflag"],
    )


@register(
    "key_skew_profile",
    oracle="""
    WITH c AS (
      SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey)
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           MAX(cnt) AS max_cnt,
           ROUND(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
           ROUND(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
             AS top1_share
    FROM c
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis (shape.key_skew_profile): per-key count
    distribution summary — the pre-join measurement that picks
    broadcast vs salt vs AQE skew split at 100 TB."""
    return shape.key_skew_profile(load_table(spark, sf_dir, "lineitem"), "l_orderkey")


@register(
    "unpivot_long",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
             CAST(COUNT(*) AS DOUBLE) AS n_items
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'n_items', n_items FROM wide
    """,
)
def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via stack (shape.unpivot_long) — the inverse of
    pivot_status, completing the reshape family; the melt itself is a
    narrow generator over the aggregated frame."""
    return shape.unpivot_long(load_table(spark, sf_dir, "lineitem"))


@register(
    "copurchase_triangles",
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
    n AS (SELECT COUNT(DISTINCT x) AS n_nodes
          FROM (SELECT src AS x FROM e UNION ALL SELECT dst FROM e)),
    ne AS (SELECT COUNT(*) AS n_edges FROM e),
    t AS (SELECT COUNT(*) AS n_triangles
          FROM e e1
          JOIN e e2 ON e1.dst = e2.src
          JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst)
    SELECT n.n_nodes, ne.n_edges, t.n_triangles
    FROM n CROSS JOIN ne CROSS JOIN t
    """,
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph
    (graph.copurchase_triangles): basket-bounded pairing, support-
    thresholded edges, a<b<c enumeration — three equi-joins, no
    iteration, no cross join."""
    return graph.copurchase_triangles(load_table(spark, sf_dir, "lineitem"))


@register(
    "weekday_weekend_mix",
    oracle="""
    SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
           CAST(SUM(CASE WHEN dayofweek(CAST(CAST(o_orderdate AS TIMESTAMP)
                                             AS DATE)) IN (0, 6)
                         THEN 0 ELSE 1 END) AS BIGINT) AS weekday_orders,
           CAST(SUM(CASE WHEN dayofweek(CAST(CAST(o_orderdate AS TIMESTAMP)
                                             AS DATE)) IN (0, 6)
                         THEN 1 ELSE 0 END) AS BIGINT) AS weekend_orders,
           CAST(SUM(CASE WHEN dayofweek(CAST(CAST(o_orderdate AS TIMESTAMP)
                                             AS DATE)) IN (0, 6)
                         THEN CAST(0 AS DECIMAL(18,2))
                         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS weekday_revenue,
           CAST(SUM(CASE WHEN dayofweek(CAST(CAST(o_orderdate AS TIMESTAMP)
                                             AS DATE)) IN (0, 6)
                         THEN CAST(o_totalprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END)
                AS DOUBLE) AS weekend_revenue,
           ROUND(CAST(SUM(CASE WHEN dayofweek(CAST(CAST(o_orderdate
                                  AS TIMESTAMP) AS DATE)) IN (0, 6)
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS weekend_share
    FROM orders GROUP BY month ORDER BY month
    """,
)
def q_weekday_weekend_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly weekday/weekend order and revenue mix
    (analytics.weekday_weekend_mix); DuckDB dayofweek 0=Sun..6=Sat vs
    Spark 1=Sun..7=Sat handled per engine."""
    return analytics.weekday_weekend_mix(load_table(spark, sf_dir, "orders"))


@register(
    "region_revenue_rollup",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q_region_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region→nation revenue drill-down with subtotals
    (analytics.region_revenue_rollup): broadcast dims + ROLLUP."""
    return analytics.region_revenue_rollup(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "corpus_source_concentration",
    oracle=f"""
    WITH per AS (
      SELECT source,
             COUNT(*) AS n_docs,
             SUM(len({DUCK_TOKENS})) AS n_tokens
      FROM documents GROUP BY source),
    t AS (SELECT SUM(n_tokens) AS tt FROM per),
    shared AS (
      SELECT source, n_docs, n_tokens,
             ROUND(CAST(n_tokens AS DOUBLE) / (SELECT tt FROM t), 6)
               AS token_share
      FROM per),
    h AS (
      SELECT ROUND(SUM(POW(CAST(n_tokens AS DOUBLE)
                           / (SELECT tt FROM t), 2)) * 10000.0, 4)
               AS corpus_hhi
      FROM per)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           token_share,
           (SELECT corpus_hhi FROM h) AS corpus_hhi
    FROM shared
    """,
)
def q_corpus_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted source concentration + corpus HHI
    (textstats.corpus_source_concentration)."""
    return textstats.corpus_source_concentration(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "event_mix_weekly_drift",
    oracle="""
    WITH cell AS (
      SELECT strftime(date_trunc('week', CAST(ts AS TIMESTAMP)),
                      '%Y-%m-%d') AS week,
             event_type, COUNT(*) AS c
      FROM events GROUP BY week, event_type),
    grid AS (
      SELECT w.week, t.event_type
      FROM (SELECT DISTINCT week FROM cell) w
      CROSS JOIN (SELECT DISTINCT event_type FROM cell) t),
    filled AS (
      SELECT g.week, g.event_type, COALESCE(c.c, 0) AS c
      FROM grid g LEFT JOIN cell c
        ON g.week = c.week AND g.event_type = c.event_type),
    shares AS (
      SELECT week, event_type,
             CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY week) AS share,
             SUM(c) OVER (PARTITION BY week) AS n
      FROM filled),
    d AS (
      SELECT week, n, share,
             lag(share) OVER (PARTITION BY event_type ORDER BY week) AS prev
      FROM shares)
    SELECT week,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CASE WHEN COUNT(prev) > 0
                THEN ROUND(SUM(ABS(share - prev)), 6) END AS l1_drift
    FROM d GROUP BY week ORDER BY week
    """,
)
def q_event_mix_weekly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week event-type mix drift (L1 distance of share
    vectors over a dense week×type grid;
    events.event_mix_weekly_drift)."""
    return events.event_mix_weekly_drift(load_table(spark, sf_dir, "events"))


@register(
    "user_active_days_histogram",
    oracle="""
    WITH per AS (
      SELECT user_id,
             COUNT(DISTINCT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d'))
               AS n_active_days
      FROM events GROUP BY user_id),
    hist AS (
      SELECT n_active_days, COUNT(*) AS n_users
      FROM per GROUP BY n_active_days),
    t AS (SELECT SUM(n_users) AS tt FROM hist)
    SELECT CAST(n_active_days AS BIGINT) AS n_active_days,
           CAST(n_users AS BIGINT) AS n_users,
           ROUND(CAST(n_users AS DOUBLE) / (SELECT tt FROM t), 6) AS share
    FROM hist ORDER BY n_active_days
    """,
)
def q_user_active_days_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-frequency histogram
    (events.user_active_days_histogram): distinct active days per
    user, bucketed."""
    return events.user_active_days_histogram(load_table(spark, sf_dir, "events"))


@register(
    "error_rate_by_hour",
    oracle="""
    SELECT hour(CAST(ts AS TIMESTAMP)) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS error_rate
    FROM events GROUP BY hour_of_day ORDER BY hour_of_day
    """,
)
def q_error_rate_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal error-share profile (events.error_rate_by_hour)."""
    return events.error_rate_by_hour(load_table(spark, sf_dir, "events"))


@register(
    "distinctive_tokens_by_lang",
    oracle=f"""
    WITH lw AS (
      SELECT lang, word, COUNT(*) AS c_lw
      FROM (SELECT lang, unnest({DUCK_TOKENS}) AS word FROM documents)
      GROUP BY lang, word),
    wt AS (SELECT word, SUM(c_lw) AS c_w FROM lw GROUP BY word),
    lt AS (SELECT lang, SUM(c_lw) AS n_l FROM lw GROUP BY lang),
    nt AS (SELECT SUM(c_lw) AS n FROM lw),
    scored AS (
      SELECT lw.lang, lw.word, lw.c_lw AS n_lang_word,
             ROUND(ln((lw.c_lw + 1.0) / (lt.n_l - lw.c_lw + 1.0))
                   - ln((wt.c_w - lw.c_lw + 1.0)
                        / ((SELECT n FROM nt) - lt.n_l
                           - (wt.c_w - lw.c_lw) + 1.0)), 6) AS log_odds
      FROM lw JOIN wt ON lw.word = wt.word JOIN lt ON lw.lang = lt.lang),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY log_odds DESC, word ASC) AS rn
      FROM scored)
    SELECT lang, word, CAST(n_lang_word AS BIGINT) AS n_lang_word, log_odds
    FROM ranked WHERE rn <= 5
    """,
)
def q_distinctive_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed log-odds distinctive tokens per language
    (textstats.distinctive_tokens_by_lang, Monroe et al. 2008)."""
    return textstats.distinctive_tokens_by_lang(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "price_dispersion_parts",
    oracle="""
    WITH per AS (
      SELECT l_partkey,
             COUNT(*) AS n_lines,
             ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 4) AS mean_price,
             ROUND(sqrt(GREATEST(
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE) / COUNT(*)
                     - POW(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                                AS DOUBLE) / COUNT(*), 2), 0.0))
                   / (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                           AS DOUBLE) / COUNT(*)), 6) AS cv
      FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey, CAST(n_lines AS BIGINT) AS n_lines, mean_price, cv
    FROM per WHERE n_lines >= 5
    ORDER BY cv DESC, l_partkey ASC LIMIT 20
    """,
)
def q_price_dispersion_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most price-dispersed parts (analytics.price_dispersion_parts):
    exact decimal moments per part, rounded-cv top-k cut."""
    return analytics.price_dispersion_parts(load_table(spark, sf_dir, "lineitem"))


@register(
    "tenure_value_buckets",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             MIN(CAST(o_orderdate AS TIMESTAMP)) AS f,
             MAX(CAST(o_orderdate AS TIMESTAMP)) AS l,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey),
    b AS (
      SELECT rev,
             (year(l) * 12 + month(l)) - (year(f) * 12 + month(f)) AS m
      FROM per)
    SELECT CASE WHEN m = 0 THEN '0'
                WHEN m <= 6 THEN '1-6'
                WHEN m <= 12 THEN '7-12'
                ELSE '13+' END AS tenure_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(rev) AS DOUBLE) / COUNT(*), 4) AS avg_revenue
    FROM b GROUP BY tenure_bucket ORDER BY tenure_bucket
    """,
)
def q_tenure_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average customer value by tenure bucket
    (analytics.tenure_value_buckets): integer calendar-month tenure,
    exact decimal revenue."""
    return analytics.tenure_value_buckets(load_table(spark, sf_dir, "orders"))


@register(
    "transition_dwell_times",
    oracle="""
    WITH t AS (
      SELECT lag(event_type) OVER w AS from_type,
             event_type AS to_type,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id))
    SELECT from_type, to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           ROUND((CAST(SUM(gap_us) AS DOUBLE) / COUNT(*)) / 1e6, 4)
             AS avg_gap_sec
    FROM t WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def q_transition_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-transition dwell profile (events.transition_dwell_times):
    event_transitions' counts with the timing dimension."""
    return events.transition_dwell_times(load_table(spark, sf_dir, "events"))


@register(
    "brand_cross_shopping",
    oracle="""
    WITH j AS (
      SELECT o.o_custkey, p.p_brand
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey),
    per AS (
      SELECT o_custkey, COUNT(DISTINCT p_brand) AS n_brands
      FROM j GROUP BY o_custkey)
    SELECT CAST(n_brands AS BIGINT) AS n_brands,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM per GROUP BY n_brands ORDER BY n_brands
    """,
)
def q_brand_cross_shopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand cross-shopping histogram (analytics.brand_cross_shopping):
    distinct brands per customer, bucketed."""
    return analytics.brand_cross_shopping(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "orders"),
    )


@register(
    "return_rate_by_basket_size",
    oracle="""
    WITH per AS (
      SELECT l_orderkey, COUNT(*) AS n_lines,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_ret
      FROM lineitem GROUP BY l_orderkey)
    SELECT CASE WHEN n_lines <= 2 THEN '1-2'
                WHEN n_lines <= 4 THEN '3-4'
                ELSE '5+' END AS size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(n_lines) AS BIGINT) AS n_lines,
           CAST(SUM(n_ret) AS BIGINT) AS n_returned,
           ROUND(CAST(SUM(n_ret) AS DOUBLE) / CAST(SUM(n_lines) AS DOUBLE), 6)
             AS return_rate
    FROM per GROUP BY size_bucket
    """,
)
def q_return_rate_by_basket_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate vs basket size (analytics.return_rate_by_basket_size)."""
    return analytics.return_rate_by_basket_size(load_table(spark, sf_dir, "lineitem"))


@register(
    "doclen_percentiles_by_lang",
    oracle="""
    SELECT lang,
           ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) AS p50_chars,
           ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 4) AS p90_chars
    FROM documents GROUP BY lang
    """,
)
def q_doclen_percentiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language document-length percentiles
    (textstats.doclen_percentiles_by_lang) via the shared
    range-partitioned percentile machinery."""
    return textstats.doclen_percentiles_by_lang(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "monthly_new_vs_returning_revenue",
    oracle="""
    WITH f AS (
      SELECT o_custkey,
             MIN(strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m'))
               AS first_month
      FROM orders GROUP BY o_custkey),
    j AS (
      SELECT strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS v,
             f.first_month
      FROM orders o JOIN f ON o.o_custkey = f.o_custkey)
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN month = first_month THEN v
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             AS new_revenue,
           CAST(SUM(CASE WHEN month <> first_month THEN v
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             AS returning_revenue,
           ROUND(CAST(SUM(CASE WHEN month = first_month THEN v
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(v) AS DOUBLE), 6) AS new_share
    FROM j GROUP BY month ORDER BY month
    """,
)
def q_monthly_new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split by new vs returning customers
    (analytics.monthly_new_vs_returning_revenue): first-order-month
    flag + conditional decimal sums."""
    return analytics.monthly_new_vs_returning_revenue(
        load_table(spark, sf_dir, "orders")
    )


@register(
    "weighted_price_quartiles",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             CAST(l_quantity AS DECIMAL(18,2)) AS q,
             l_orderkey, l_linenumber
      FROM lineitem),
    c AS (
      SELECT l_returnflag, p,
             SUM(q) OVER (PARTITION BY l_returnflag
                          ORDER BY p, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(q) OVER (PARTITION BY l_returnflag) AS tot
      FROM t)
    SELECT l_returnflag,
           CAST(MIN(CASE WHEN 100 * cum >= 25 * tot THEN p END) AS DOUBLE)
             AS wq25_price,
           CAST(MIN(CASE WHEN 100 * cum >= 50 * tot THEN p END) AS DOUBLE)
             AS wq50_price,
           CAST(MIN(CASE WHEN 100 * cum >= 75 * tot THEN p END) AS DOUBLE)
             AS wq75_price
    FROM c GROUP BY l_returnflag
    """,
)
def q_weighted_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted price quartiles per return flag
    (agg.weighted_price_quartiles): three thresholds in one
    range-partitioned cumulative-weight sweep."""
    return agg.weighted_price_quartiles(load_table(spark, sf_dir, "lineitem"))


@register(
    "session_conversion_rate",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                       > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
    sess AS (
      SELECT user_id, event_type, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                  ORDER BY CAST(ts AS TIMESTAMP), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged),
    per AS (
      SELECT user_id, sid,
             MIN(CAST(ts AS TIMESTAMP)) AS s_start,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM sess GROUP BY user_id, sid)
    SELECT strftime(s_start, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(conv) AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
    FROM per GROUP BY day
    """,
)
def q_session_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily session conversion rate (events.session_conversion_rate):
    islands sessionizer + purchase flag, bounce_rate's revenue-side
    sibling."""
    return events.session_conversion_rate(load_table(spark, sf_dir, "events"))


@register(
    "order_size_value_correlation",
    oracle="""
    WITH sizes AS (
      SELECT l_orderkey, COUNT(*) AS x FROM lineitem GROUP BY l_orderkey),
    j AS (
      SELECT s.x, CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders o JOIN sizes s ON o.o_orderkey = s.l_orderkey),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(x) AS sx, SUM(x * x) AS sxx,
             SUM(y) AS sy, SUM(y * y) AS syy,
             SUM(x * y) AS sxy
      FROM j)
    SELECT CAST(n AS BIGINT) AS n_orders,
           CASE WHEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) > 0
                 AND (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) > 0
                THEN ROUND(
                  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                  / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                         * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)),
                  6)
           END AS corr
    FROM m
    """,
)
def q_order_size_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size × order-value Pearson correlation from exact
    moments (analytics.order_size_value_correlation)."""
    return analytics.order_size_value_correlation(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "top_percent_customers",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT o_custkey, rev,
             row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS rnk,
             COUNT(*) OVER () AS n,
             SUM(rev) OVER () AS tot
      FROM per)
    SELECT o_custkey,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rnk AS BIGINT) AS rank,
           ROUND(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE) * 100.0, 6)
             AS revenue_share_pct
    FROM r WHERE rnk <= ceil(n * 1.0 / 100.0)
    ORDER BY rnk
    """,
)
def q_top_percent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1% customer roster by revenue
    (analytics.top_percent_customers): exact tie-stable cut via the
    range-partitioned global rank."""
    return analytics.top_percent_customers(load_table(spark, sf_dir, "orders"))


@register(
    "churn_risk_buckets",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS TIMESTAMP)) AS m FROM orders),
    last AS (
      SELECT o_custkey, MAX(CAST(o_orderdate AS TIMESTAMP)) AS l
      FROM orders GROUP BY o_custkey),
    b AS (
      SELECT CAST(floor(date_diff('day', CAST(l AS DATE),
                                  CAST((SELECT m FROM mx) AS DATE)) / 30.0)
                  AS BIGINT) AS bucket
      FROM last),
    hist AS (SELECT bucket, COUNT(*) AS n_customers FROM b GROUP BY bucket),
    t AS (SELECT SUM(n_customers) AS n FROM hist)
    SELECT bucket,
           CAST(bucket * 30 AS INTEGER) AS days_from,
           CAST(n_customers AS BIGINT) AS n_customers,
           ROUND(CAST(n_customers AS DOUBLE) / (SELECT n FROM t), 6) AS share
    FROM hist ORDER BY bucket
    """,
)
def q_churn_risk_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer recency distribution (analytics.churn_risk_buckets):
    30-day buckets of days-since-last-order, anchored on the data's
    own max date for reproducibility."""
    return analytics.churn_risk_buckets(load_table(spark, sf_dir, "orders"))


@register(
    "embedding_norm_stats",
    oracle="""
    WITH n AS (
      SELECT label,
             ROUND(sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS nrm
      FROM embeddings)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(nrm), 4) AS mean_norm,
           MIN(nrm) AS min_norm,
           MAX(nrm) AS max_norm
    FROM n GROUP BY label
    """,
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile (similarity.embedding_norm_stats):
    the first-look vector-quality diagnostic; JVM array fold, one
    partial-agg rollup."""
    return similarity.embedding_norm_stats(load_table(spark, sf_dir, "embeddings"))


@register(
    "order_cadence",
    oracle="""
    WITH g AS (
      SELECT o_custkey, o_orderkey,
             date_diff('day',
                       CAST(lag(CAST(o_orderdate AS TIMESTAMP)) OVER w AS DATE),
                       CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)) AS gap_days
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS TIMESTAMP), o_orderkey)),
    g2 AS (SELECT * FROM g WHERE gap_days IS NOT NULL)
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers_multi,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(CAST(gap_days AS DOUBLE), 0.5), 4)
             AS p50_gap_days,
           ROUND(quantile_cont(CAST(gap_days AS DOUBLE), 0.9), 4)
             AS p90_gap_days
    FROM g2
    """,
)
def q_order_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer purchase-cadence profile (analytics.order_cadence):
    lag-window day gaps, corpus-wide exact percentiles via the
    range-partitioned machinery."""
    return analytics.order_cadence(load_table(spark, sf_dir, "orders"))


@register(
    "dedup_report",
    oracle=r"""
    WITH total AS (SELECT COUNT(*) AS n FROM documents),
    ex AS (
      SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS d
      FROM (SELECT COUNT(*) AS c FROM documents GROUP BY text)),
    nm AS (
      SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS d
      FROM (SELECT COUNT(*) AS c FROM documents
            GROUP BY trim(regexp_replace(lower(text), '\W+', ' ', 'g')))),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ts
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
    pmem AS (
      SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS d
      FROM (SELECT unnest([doc_a, doc_b]) AS m
            FROM inter
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE 100 * c >= 60 * (sa.n + sb.n - c)))
    SELECT 'exact' AS method, t.n AS n_docs, ex.d AS n_duplicates,
           ROUND(CAST(ex.d AS DOUBLE) / t.n, 6) AS dup_rate
    FROM total t CROSS JOIN ex
    UNION ALL
    SELECT 'normalized', t.n, nm.d, ROUND(CAST(nm.d AS DOUBLE) / t.n, 6)
    FROM total t CROSS JOIN nm
    UNION ALL
    SELECT 'jaccard_pair_member', t.n, pmem.d,
           ROUND(CAST(pmem.d AS DOUBLE) / t.n, 6)
    FROM total t CROSS JOIN pmem
    """,
)
def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-glance duplication summary across the deterministic dedup
    tiers (dedup.dedup_report): exact, normalized, and PPJoin pair
    membership, each with count and rate."""
    return dedup.dedup_report(load_table(spark, sf_dir, "documents"))


@register(
    "near_dup_rate_by_source",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ts
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
    members AS (
      SELECT DISTINCT m AS doc_id
      FROM (SELECT unnest([doc_a, doc_b]) AS m
            FROM inter
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE 100 * c >= 60 * (sa.n + sb.n - c)))
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(m.doc_id) AS BIGINT) AS n_near_dup_docs,
           ROUND(CAST(COUNT(m.doc_id) AS DOUBLE) / COUNT(*), 6)
             AS near_dup_rate
    FROM documents d LEFT JOIN members m ON d.doc_id = m.doc_id
    GROUP BY d.source
    """,
)
def q_near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-duplication exposure
    (dedup.near_dup_rate_by_source): PPJoin pair membership rolled up
    by feed — which source floods the corpus."""
    return dedup.near_dup_rate_by_source(load_table(spark, sf_dir, "documents"))


@register(
    "order_total_consistency",
    oracle="""
    WITH lt AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 + CAST(l_tax AS DECIMAL(18,2)))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS calc
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_totalprice, lt.calc
      FROM orders o LEFT JOIN lt ON o.o_orderkey = lt.l_orderkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(calc) AS BIGINT) AS n_with_lines,
           CAST(SUM(CASE WHEN ABS(CAST(o_totalprice AS DOUBLE)
                                  - CAST(calc AS DOUBLE))
                         <= 0.01 * CAST(o_totalprice AS DOUBLE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
           ROUND(CAST(SUM(CASE WHEN ABS(CAST(o_totalprice AS DOUBLE)
                                        - CAST(calc AS DOUBLE))
                               <= 0.01 * CAST(o_totalprice AS DOUBLE)
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(calc) AS DOUBLE), 6) AS consistency_rate
    FROM j
    """,
)
def q_order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-column invariant audit (dq.order_total_consistency):
    o_totalprice vs the lineitem-computed total within 1% — the
    fixtures FAIL it for ~99% of orders, which both engines agree on."""
    return dq.order_total_consistency(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "monthly_revenue_yoy",
    oracle="""
    WITH m AS (
      SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY month)
    SELECT a.month,
           CAST(a.rev AS DOUBLE) AS revenue,
           CAST(b.rev AS DOUBLE) AS revenue_prev_year,
           ROUND(CAST(a.rev - b.rev AS DOUBLE) / CAST(b.rev AS DOUBLE)
                 * 100.0, 4) AS yoy_pct
    FROM m a LEFT JOIN m b
      ON a.month = strftime(CAST(b.month || '-01' AS DATE)
                            + INTERVAL 12 MONTH, '%Y-%m')
    ORDER BY a.month
    """,
)
def q_monthly_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year growth
    (analytics.monthly_revenue_yoy): calendar-joined previous-year
    month (gap-safe, unlike lag-12 over the month sequence)."""
    return analytics.monthly_revenue_yoy(load_table(spark, sf_dir, "orders"))


@register(
    "daily_value_percentiles",
    oracle="""
    SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
           ROUND(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS p50_value,
           ROUND(quantile_cont(CAST(value AS DOUBLE), 0.95), 4) AS p95_value
    FROM events GROUP BY day ORDER BY day
    """,
)
def q_daily_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily p50/p95 of event value
    (events.daily_value_percentiles) via the shared range-partitioned
    percentile machinery — no day ever sorts inside one task."""
    return events.daily_value_percentiles(load_table(spark, sf_dir, "events"))


@register(
    "quantile_transform",
    oracle="""
    SELECT doc_id, n_chars,
           ROUND(CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS DOUBLE)
                 / CAST(COUNT(*) OVER () AS DOUBLE), 6) AS pctl
    FROM documents
    """,
)
def q_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length
    (sampling.quantile_transform): rank/n over the (n_chars, doc_id)
    total order via the range-partitioned global rank."""
    return sampling.quantile_transform(load_table(spark, sf_dir, "documents"))


@register(
    "vocab_indexer",
    oracle=f"""
    WITH wc AS (
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest({DUCK_TOKENS}) AS word FROM documents)
      GROUP BY word),
    r AS (
      SELECT word, cnt,
             row_number() OVER (ORDER BY cnt DESC, word ASC) AS rnk
      FROM wc)
    SELECT word, cnt, CAST(rnk AS INTEGER) AS token_id
    FROM r WHERE rnk <= 1000
    """,
)
def q_vocab_indexer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ordered token-to-id table (textstats.vocab_indexer):
    dense ids for the top-1000 vocabulary via the range-partitioned
    global rank."""
    return textstats.vocab_indexer(load_table(spark, sf_dir, "documents"))


@register(
    "seasonal_anomalies",
    oracle="""
    WITH daily AS (
      SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
             event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS daily_value,
             dayofweek(CAST(CAST(ts AS TIMESTAMP) AS DATE)) + 1 AS dow
      FROM events GROUP BY day, event_type, dow),
    mu AS (
      SELECT event_type, dow, AVG(daily_value) AS mu
      FROM daily GROUP BY event_type, dow),
    resid AS (
      SELECT d.day, d.event_type, d.daily_value,
             d.daily_value - m.mu AS r
      FROM daily d JOIN mu m
        ON d.event_type = m.event_type AND d.dow = m.dow),
    sigma AS (
      SELECT event_type, sqrt(AVG(r * r)) AS sd
      FROM resid GROUP BY event_type)
    SELECT r.day, r.event_type, r.daily_value,
           ROUND(r.r / s.sd, 4) AS z_score
    FROM resid r JOIN sigma s ON r.event_type = s.event_type
    WHERE ABS(ROUND(r.r / s.sd, 4)) >= 2.5
    """,
)
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week-adjusted daily anomaly screen
    (events.seasonal_anomalies): residual z vs the weekday norm per
    event type — the screen that doesn't page on every weekend."""
    return events.seasonal_anomalies(load_table(spark, sf_dir, "events"))


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH wc AS (
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest({DUCK_TOKENS}) AS word FROM documents)
      GROUP BY word),
    pos AS (
      SELECT word, cnt, unnest(range(1, length(word))) AS i
      FROM wc WHERE length(word) >= 2),
    pairs AS (
      SELECT substr(word, i, 2) AS pair, SUM(cnt) AS pair_count
      FROM pos GROUP BY 1)
    SELECT pair, CAST(pair_count AS BIGINT) AS pair_count
    FROM pairs ORDER BY pair_count DESC, pair ASC LIMIT 20
    """,
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training step (textstats.bpe_merge_candidates):
    frequency-weighted adjacent character pairs over the
    vocabulary-sized wordcount — the greedy-merge statistic."""
    return textstats.bpe_merge_candidates(load_table(spark, sf_dir, "documents"))


def _bpe_oracle_sql(n_merges: int = 6, select: str | None = None) -> str:
    """Unrolled SQL replica of textstats.bpe_learn_merges: per round, a
    pair-count CTE (unnest over symbol positions), a LIMIT-1 argmax
    with the (count DESC, a, b) tie-break, and a recursive CTE that
    folds the merge through every word position-by-position (depth =
    longest word; all words advance in parallel each step) — the same
    left-to-right non-overlapping scan as the engine's F.aggregate
    fold. Feeder CTEs are MATERIALIZED so the vocabulary isn't
    re-tokenized inside each recursion (the IVFPQ lesson)."""
    parts = [
        f"""
    WITH RECURSIVE
    wc AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest({DUCK_TOKENS}) AS word FROM documents) GROUP BY word),
    v0 AS MATERIALIZED (
      SELECT word, cnt, string_split(word, '') AS syms FROM wc)"""
    ]
    for r in range(n_merges):
        parts.append(
            f""",
    p{r} AS MATERIALIZED (
      SELECT syms[i] AS a, syms[i + 1] AS b, SUM(cnt) AS pair_count
      FROM (
        SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
        FROM v{r} WHERE len(syms) >= 2)
      GROUP BY 1, 2),
    m{r} AS MATERIALIZED (
      SELECT a, b, pair_count FROM p{r}
      ORDER BY pair_count DESC, a ASC, b ASC LIMIT 1),
    f{r}(word, cnt, pos, acc) AS (
      SELECT word, cnt, 0, CAST([] AS VARCHAR[]) FROM v{r}
      UNION ALL
      SELECT f.word, f.cnt, f.pos + 1,
             CASE WHEN len(f.acc) > 0 AND f.acc[-1] = m.a
                       AND v.syms[f.pos + 1] = m.b
                  THEN list_append(f.acc[1 : len(f.acc) - 1], m.a || m.b)
                  ELSE list_append(f.acc, v.syms[f.pos + 1]) END
      FROM f{r} f
      JOIN v{r} v USING (word)
      CROSS JOIN m{r} m
      WHERE f.pos < len(v.syms)),
    v{r + 1} AS MATERIALIZED (
      SELECT f.word, f.cnt, f.acc AS syms
      FROM f{r} f JOIN v{r} v USING (word)
      WHERE f.pos = len(v.syms))"""
        )
    sel = select or "\n    UNION ALL\n    ".join(
        f"SELECT {r + 1} AS merge_rank, a AS left_sym, b AS right_sym,"
        # SUM(BIGINT) is HUGEINT in DuckDB — cast back for hash parity
        f" CAST(pair_count AS BIGINT) AS pair_count FROM m{r}"
        for r in range(n_merges)
    )
    return "".join(parts) + "\n    " + sel


@register("bpe_learn_merges", oracle=_bpe_oracle_sql(6))
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training loop (textstats.bpe_learn_merges): the
    first 6 greedy merges learned by iterating vocabulary-sized
    pair-count → argmax → Catalyst-fold merge application, with
    per-round lineage truncation — the full Sennrich et al. 2016
    trainer where bpe_merge_candidates is only round one."""
    return textstats.bpe_learn_merges(
        load_table(spark, sf_dir, "documents"), n_merges=6
    )


def _bpe_batched_oracle_sql(n_rounds: int = 3, batch_k: int = 4) -> str:
    """Unrolled SQL replica of textstats.bpe_learn_merges_batched: per
    round, the shared pair-count CTE, a top-``batch_k`` ranking with
    the (count DESC, a, b) tie-break, the conservative symbol-disjoint
    keep rule as a NOT EXISTS anti-join against ALL higher-ranked
    candidates, and the same position-by-position recursive fold as
    :func:`_bpe_oracle_sql` — with the single argmax CROSS JOIN
    replaced by a LEFT JOIN against the round's kept set (at most one
    pair can match a position, by disjointness)."""
    parts = [
        f"""
    WITH RECURSIVE
    wc AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest({DUCK_TOKENS}) AS word FROM documents) GROUP BY word),
    v0 AS MATERIALIZED (
      SELECT word, cnt, string_split(word, '') AS syms FROM wc)"""
    ]
    for r in range(n_rounds):
        parts.append(
            f""",
    p{r} AS MATERIALIZED (
      SELECT syms[i] AS a, syms[i + 1] AS b, SUM(cnt) AS pair_count
      FROM (
        SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
        FROM v{r} WHERE len(syms) >= 2)
      GROUP BY 1, 2),
    r{r} AS MATERIALIZED (
      SELECT a, b, pair_count,
             ROW_NUMBER() OVER (ORDER BY pair_count DESC, a, b) AS rk
      FROM p{r} QUALIFY rk <= {batch_k}),
    m{r} AS MATERIALIZED (
      SELECT a, b, pair_count,
             ROW_NUMBER() OVER (ORDER BY rk) AS sel_rank
      FROM r{r} c
      WHERE NOT EXISTS (
        SELECT 1 FROM r{r} c2
        WHERE c2.rk < c.rk
          AND (c2.a = c.a OR c2.a = c.b OR c2.b = c.a OR c2.b = c.b))),
    f{r}(word, cnt, pos, acc) AS (
      SELECT word, cnt, 0, CAST([] AS VARCHAR[]) FROM v{r}
      UNION ALL
      SELECT f.word, f.cnt, f.pos + 1,
             CASE WHEN m.a IS NOT NULL
                  THEN list_append(f.acc[1 : len(f.acc) - 1], m.a || m.b)
                  ELSE list_append(f.acc, v.syms[f.pos + 1]) END
      FROM f{r} f
      JOIN v{r} v USING (word)
      LEFT JOIN m{r} m
        ON len(f.acc) > 0 AND f.acc[-1] = m.a
           AND v.syms[f.pos + 1] = m.b
      WHERE f.pos < len(v.syms)),
    v{r + 1} AS MATERIALIZED (
      SELECT f.word, f.cnt, f.acc AS syms
      FROM f{r} f JOIN v{r} v USING (word)
      WHERE f.pos = len(v.syms))"""
        )
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT {r + 1} AS round, CAST(sel_rank AS INT) AS sel_rank,"
        f" a AS left_sym, b AS right_sym,"
        f" CAST(pair_count AS BIGINT) AS pair_count FROM m{r}"
        for r in range(n_rounds)
    )
    return "".join(parts) + "\n    " + sel


@register("bpe_learn_merges_batched", oracle=_bpe_batched_oracle_sql(3, 4))
def q_bpe_learn_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE training (textstats.bpe_learn_merges_batched): up to
    4 symbol-disjoint merges applied per round in a single fold pass —
    the production answer to greedy BPE's one-Spark-job-per-merge round
    count (VERDICT r12 "What's wrong" #2: a 30k-merge vocabulary is
    ~30k/k rounds here instead of 30k). 3 rounds × top-4 registered;
    selection, disjoint keep rule, and the multi-pair fold are all
    replayed exactly by the DuckDB oracle."""
    return textstats.bpe_learn_merges_batched(
        load_table(spark, sf_dir, "documents"), n_rounds=3, batch_k=4
    )


@register(
    "bpe_compression_stats",
    oracle=_bpe_oracle_sql(
        6,
        select="""SELECT 6 AS n_merges, i.total_words, i.init_symbols,
           f.final_symbols,
           ROUND((i.init_symbols - f.final_symbols)
                 / CAST(i.init_symbols AS DOUBLE), 4) AS compression_pct
    FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS total_words,
                 CAST(SUM(len(syms) * cnt) AS BIGINT) AS init_symbols
          FROM v0) i,
         (SELECT CAST(SUM(len(syms) * cnt) AS BIGINT) AS final_symbols
          FROM v6) f""",
    ),
)
def q_bpe_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus symbol counts before vs after the 6 trained BPE merges
    (textstats.bpe_compression_stats): the frequency-weighted
    tokens-saved readout of the training loop — vocabulary-sized
    aggregates on both ends, replayed by the same unrolled oracle."""
    return textstats.bpe_compression_stats(
        load_table(spark, sf_dir, "documents"), n_merges=6
    )

