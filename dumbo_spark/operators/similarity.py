"""Similarity search over embedding columns (north-star extension).

Absent in dumbo (SURVEY §2.5). Two paths:

- :func:`knn_cosine` — exact brute-force cosine top-k: broadcast the
  (small) query set against the corpus; dot products via
  ``zip_with``/``aggregate`` higher-order functions — JVM-side, no
  Python, no UDF. The correctness baseline.
- :func:`knn_cosine_lsh` — random-hyperplane LSH ANN: sign-bit
  signatures bucket the corpus; candidates come from an equi-join on
  band keys and only candidates get exact re-ranking. The 100 TB path:
  bucket join instead of corpus × queries, so per-query work is
  O(bucket), not O(n).

Determinism: dot products fold left-to-right in double on both
engines; cosine is rounded to 6dp before ranking with a doc-id
tie-break, so top-k selection is stable across engines and runs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from dumbo_spark.operators._checkpoint import pin

#: fixed hyperplane seed table — part of the operator contract
_LSH_SEED = 0x5DEECE66D


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double (sequential fold — engine-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def knn_cosine(embeddings: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Exact cosine top-k of every corpus vector for each query vector.

    The query side (vec_id < n_queries) is broadcast; the corpus side
    streams — one narrow pass over the big table, a per-partition
    top-k heap via the rank window on (query_id, rounded cos, id).

    INVARIANT (ADVICE r15, shared by every knn_* top-k in this module):
    the output is PAIR-UNIQUE — row_number (not rank) over
    (query_id, score, neighbor_id) emits exactly one row per
    (query_id, neighbor_id). The *_recall_checked folds left-join a
    top-k side and count rows for their denominators; duplicates would
    inflate both counters, so rewrites must keep row_number semantics.
    """
    emb = embeddings.select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    cos = _dot(F.col("q_emb"), F.col("embedding")) / (
        _norm(F.col("q_emb")) * _norm(F.col("embedding"))
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos, 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def _hyperplane(dim: int, bit: int) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane (splitmix-style PRNG,
    fixed seed — no runtime randomness, reproducible across runs)."""
    out = []
    state = (_LSH_SEED ^ (bit * 0x9E3779B97F4A7C15)) & ((1 << 64) - 1)
    for _ in range(dim):
        state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        out.append(1.0 if (state >> 63) else -1.0)
    return out


def lsh_signatures(embeddings: DataFrame, dim: int = 64, n_bits: int = 16) -> DataFrame:
    """(vec_id, sig: long) random-hyperplane sign signatures.

    All ``n_bits`` projections happen in ONE Arrow-batched numpy matmul
    (batch×dim @ dim×n_bits) — the vectorized-Pandas-UDF case where
    Python beats built-ins: the equivalent expression tree is n_bits
    HOF dot-product folds re-walked per row (measured ~4× slower at
    sf0.1). The hyperplanes are seeded constants shipped in the UDF
    closure, so signatures stay run- and cluster-reproducible.

    Sign bits are taken on INTEGER-quantized components (floor(e·1e6),
    the det_kmeans_cells discipline) so the ±1 dot is an EXACT int64 —
    a float dot's sign near zero depends on summation order (BLAS
    pairwise here vs a SQL fold in the oracle; r11 review finding),
    while an integer sum is order-free, making the signature
    engine-reproducible, not merely run-reproducible.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes_t = np.array(
        [_hyperplane(dim, j) for j in range(n_bits)], dtype=np.int64
    ).T  # (dim, n_bits), entries ±1
    weights = (np.int64(1) << np.arange(n_bits, dtype=np.int64))

    def _sig_batch(emb):
        m = np.vstack(emb.to_numpy()).astype(np.float64)  # (batch, dim)
        mi = np.floor(m * float(KMEANS_QUANT)).astype(np.int64)
        bits = (mi @ planes_t) > 0  # exact integer matmul
        return pd.Series(bits @ weights)

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's hint inference rejects — hint-less
    # functions default to the scalar eval type
    _sig = pandas_udf(_sig_batch, "long")

    return embeddings.select("vec_id", "embedding", _sig("embedding").alias("sig"))


def knn_cosine_lsh(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    dim: int = 64,
    n_bits: int = 16,
    n_bands: int = 8,
) -> DataFrame:
    """ANN cosine top-k: LSH band bucketing → candidate equi-join →
    exact re-rank of candidates only. Recall < 1 by design (unit tests
    pin recall vs :func:`knn_cosine` on the fixtures).

    Band geometry trades recall for candidate volume: more bands with
    fewer bits each ⇒ higher collision probability per band ⇒ higher
    recall and bigger buckets. The 8×2-bit default favors recall on
    weakly-clustered embeddings; at 100 TB with real clustered
    embeddings, fewer/wider bands (e.g. 4×8 of 32 bits) keep buckets
    small — the parameter is the contract, the plan shape is identical.
    """
    sigs = lsh_signatures(embeddings, dim=dim, n_bits=n_bits)
    bits_per_band = n_bits // n_bands
    # banded table feeds both the corpus and the query branch of the
    # candidate join — persist so the 16 hyperplane dot products per
    # row run once, not per branch
    mask = (1 << bits_per_band) - 1
    bands = sigs.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), t * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for t in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "embedding", "bk.band", "bk.val").persist()
    q_bands = (
        bands.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            "band",
            "val",
        )
    )
    cands = (
        bands.join(F.broadcast(q_bands), ["band", "val"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_emb", "vec_id", "embedding")
        .dropDuplicates(["query_id", "vec_id"])
    )
    cos = _dot(F.col("q_emb"), F.col("embedding")) / (
        _norm(F.col("q_emb")) * _norm(F.col("embedding"))
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos, 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


#: quantization scale of the exact-integer k-means: embedding
#: components become floor(e·1e6) BIGINTs, so squared distances are
#: EXACT integers (≤ ~1e15 for 64-dim unit-scale vectors — inside both
#: engines' int64 and double-exact ranges) and the whole Lloyd
#: iteration is engine-neutral.
KMEANS_QUANT = 1_000_000

#: per-session index memo keyed by (plan, n_cells, n_iter) — building
#: the cell assignment is the one-time index-construction step of IVF
#: (at scale a materialized column/table); repeated calls in one
#: session must not refit (the invariant the old ML-KMeans cache
#: carried, restored by the r11 review). spark.catalog.clearCache()
#: drops the persisted blocks but the memoized frames recompute
#: correctly from lineage.
_kmeans_cache: dict = {}


def _centroid_component(s: int, n: int) -> int:
    """floor of the IEEE double quotient — the CONTRACT is the
    oracle's FLOOR(CAST(s AS DOUBLE)/n): round s to double FIRST, then
    divide. Python's bare int/int computes the correctly-rounded TRUE
    rational quotient instead, which can differ in the final ulp once
    |s| >= 2^53 (ADVICE r11); float(s) forces the same int→double
    conversion DuckDB's CAST performs, so both engines floor the same
    double at any magnitude. Module-level (not inlined in the Lloyd
    loop) so the contract tests exercise THIS function, not a copy."""
    return math.floor(float(s) / n)


def det_kmeans_cells(
    embeddings: DataFrame, n_cells: int = 16, n_iter: int = 5
):
    """Distributed, deterministic, ENGINE-NEUTRAL Lloyd k-means — the
    r11 replacement for the Spark-ML coarse quantizer (VERDICT r10
    Next #3: ML KMeans' seeded k-means|| init is run-stable but not
    SQL-reproducible, which kept knn_cosine_ivf rows-only forever).

    Every step is exact integer arithmetic both engines perform
    identically:

    - quantize: x_i = floor(e_i · 1e6) as BIGINT (floor of identical
      IEEE doubles — no rounding-mode divergence);
    - seed: the ``n_cells`` vectors with smallest
      (md5(vec_id), vec_id) — the tree's md5 seeding discipline —
      become cells 0..n_cells-1 in that order;
    - assign: argmin over cells of Σ(x_i − m_i)², an exact BIGINT,
      ties broken by cell id;
    - update: m'_i = floor(double(Σx_i) / n) — the double-quotient
      formula ITSELF is the contract, computed identically here and
      in the oracle (identical IEEE conversion + division + floor at
      ANY magnitude; below 2^53-exact sums it also equals the true
      rational floor); EMPTY cells keep their previous center.

    Magnitude contract: |e_i| ≤ ~180 at dim 64 (squared-distance
    BIGINTs must stay inside int64: dim·(2·|e|·1e6)² < 2^63).
    Embedding columns are unit-scale in practice; out-of-contract
    inputs fail LOUDLY under ANSI (ARITHMETIC_OVERFLOW), never
    silently — and DuckDB's BIGINT multiply throws at the same
    magnitudes, so the contract is symmetric.

    Scale shape: assignment is a narrow broadcast-join pass per
    iteration (corpus × n_cells rows, no corpus shuffle beyond the
    partial-agg of 64 per-dim sums); the only driver traffic is the
    n_cells×dim center matrix per iteration — same footprint as the
    FAISS-style collect in :func:`_ivfpq_index`, fine at 100 TB.
    Reproducible re-runs are the point: a training-data pipeline that
    re-executes must produce the identical partition of vector space.

    Returns (assigned DataFrame (vec_id, embedding, cell),
    centers: list of n_cells quantized BIGINT lists).
    """
    key = (
        embeddings._jdf.queryExecution().logical().semanticHash(),
        n_cells,
        n_iter,
    )
    if key in _kmeans_cache:
        return _kmeans_cache[key]
    # persisted: the quantized frame feeds n_iter+1 assignment passes
    # (cache lifetime is CALLER-owned, the repo's persisted-subplan
    # convention — bench.py clearCache()s between queries)
    q = embeddings.select(
        "vec_id",
        "embedding",
        F.transform(
            "embedding",
            lambda e: F.floor(e.cast("double") * F.lit(float(KMEANS_QUANT))).cast(
                "long"
            ),
        ).alias("x"),
    ).persist()
    # TakeOrderedAndProject seed cut (no global sort); order inside the
    # n_cells-row result assigns cell ids
    seed_rows = (
        q.select(
            "vec_id",
            "x",
            F.md5(F.col("vec_id").cast("string").cast("binary")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(n_cells)
        .collect()
    )
    centers = [list(r["x"]) for r in seed_rows]
    if not centers:
        # empty-input contract (mirrors _ivfpq_index's ADVICE r6 guard)
        raise ValueError(
            "det_kmeans_cells: embeddings has no rows — cannot seed an index"
        )
    n_cells = len(centers)  # clamp for tiny inputs
    spark = embeddings.sparkSession
    dim = len(centers[0])

    def _assign(cents):
        cent_df = spark.createDataFrame(
            [(c, m) for c, m in enumerate(cents)], "cell int, m array<long>"
        )
        d = F.aggregate(
            F.zip_with("x", "m", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        # argmin via min_by PARTIAL aggregate, not a row_number window:
        # the broadcast crossJoin leaves each vector's n_cells rows in
        # one partition, so map-side combine collapses them locally —
        # shuffle volume is corpus rows, where a window would shuffle
        # AND sort corpus × n_cells rows. Tie-break (d, cell) matches
        # the oracle's ROW_NUMBER ordering exactly.
        return (
            q.crossJoin(F.broadcast(cent_df))
            .withColumn("_d", d)
            .groupBy("vec_id")
            .agg(
                F.min_by(
                    F.struct("cell", "embedding", "x"),
                    F.struct(F.col("_d"), F.col("cell")),
                ).alias("_b")
            )
            .select(
                "vec_id",
                F.col("_b.embedding").alias("embedding"),
                F.col("_b.x").alias("x"),
                F.col("_b.cell").alias("cell"),
            )
        )

    for _ in range(n_iter):
        sums = (
            _assign(centers)
            .groupBy("cell")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("x")[i]).alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
        new_centers = list(centers)  # empty cells keep previous center
        for r in sums:
            n = r["n"]
            new_centers[r["cell"]] = [
                _centroid_component(r[f"s{i}"], n) for i in range(dim)
            ]
        centers = new_centers
    assigned = _assign(centers).select("vec_id", "embedding", "cell").persist()
    _kmeans_cache[key] = (assigned, centers)
    return assigned, centers


def knn_cosine_ivf(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style ANN: coarse k-means quantization → probe the n_probe
    nearest cells per query → exact cosine re-rank of cell members.

    The other classic ANN scale path next to LSH
    (:func:`knn_cosine_lsh`): corpus vectors partition into cells once
    (:func:`det_kmeans_cells` — deterministic AND SQL-reproducible
    since r11), and each query touches only ``n_probe / n_cells`` of
    the corpus. The cell assignment is exactly the partition-pruning
    idea applied to vector space; at 100 TB the assignment is a
    materialized column and the probe is a partition-pruned scan.
    """
    assigned, qcenters = det_kmeans_cells(embeddings, n_cells)
    centers = [
        [m / float(KMEANS_QUANT) for m in ms] for ms in qcenters
    ]
    # one 16-row local relation, not a 16-way union of range(1) plans
    centroids = assigned.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        "cell int, centroid array<double>",
    )

    queries = assigned.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    q_cells = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "q_emb",
            "cell",
            (
                _dot(F.col("q_emb"), F.col("centroid"))
                / (_norm(F.col("q_emb")) * _norm(F.col("centroid")))
            ).alias("c_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("c_sim").desc(), F.col("cell").asc())
    probes = q_cells.withColumn("pr", F.row_number().over(w)).where(
        F.col("pr") <= n_probe
    ).select("query_id", "q_emb", "cell")

    cands = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    cos = _dot(F.col("q_emb"), F.col("embedding")) / (
        _norm(F.col("q_emb")) * _norm(F.col("embedding"))
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos, 6).alias("cos_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w2)).where(F.col("rn") <= k)


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact
    verification — the embedding-space analogue of MinHash dedup.
    Candidates share a full 16-bit signature (high-precision buckets);
    exact cosine filters to ≥ threshold."""
    sigs = lsh_signatures(embeddings).persist()
    a = sigs.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "sig"
    )
    b = sigs.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), "sig"
    )
    pairs = a.join(b, ["sig"]).where(F.col("vec_a") < F.col("vec_b"))
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
        _norm(F.col("emb_a")) * _norm(F.col("emb_b"))
    )
    return pairs.select(
        "vec_a", "vec_b", F.round(cos, 6).alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


def embedding_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid in long form: (label, pos, centroid
    component) — class prototypes for embedding-space analytics (the
    same computation IVF uses for its coarse index, here as a
    queryable operator).

    posexplode keeps everything JVM-side; the aggregate is a single
    partial-agg shuffle on (label, pos) with dim × |labels| output
    rows. Long form deliberately: it is joinable, and avoids
    array-equality comparisons downstream.
    """
    return (
        embeddings.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        # + 0.0 folds IEEE -0.0 into +0.0 so engines agree after round
        .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("centroid_v"))
    )


def embedding_quantize(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization per vector — the compression step a
    100 TB embedding store applies before ANN serving (4× smaller than
    float32, dot products stay proportional within a per-vector scale).

    q_i = floor(v_i · 127/max|v| + 0.5); the output row carries the
    scale plus two exact integer digests of the quantized vector
    (position-weighted checksum and L1 mass) — scalar columns so the
    result is hashable by external canonicalizers, while still pinning
    every q_i (a single changed element breaks the checksum).

    All HOF column expressions inside the scan projection: zero
    shuffle, zero Python — an embarrassingly parallel pass.
    """
    emb = F.col("embedding")
    max_abs = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    scale = F.lit(127.0) / max_abs
    q = F.transform(emb, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)))
    checksum = F.aggregate(
        F.zip_with(
            q,
            F.sequence(F.lit(1), F.size(emb)),
            lambda qi, i: qi * i.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    l1 = F.aggregate(q, F.lit(0).cast("long"), lambda acc, v: acc + F.abs(v))
    return (
        embeddings.where(max_abs > 0)
        .select(
            "vec_id",
            F.size(emb).alias("n_dims"),
            F.round(scale, 4).alias("scale"),
            checksum.alias("q_checksum"),
            l1.alias("q_l1"),
        )
    )


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): embeddings whose cosine similarity
    exceeds ``threshold`` are duplicates even when their surface text
    shares nothing (paraphrases, translations, re-renderings), so the
    near-dup PAIRS (:func:`embedding_near_dup`: LSH buckets + exact
    verify, never all-pairs) are closed into clusters by the same
    iterative connected components the text dedup uses, and each
    cluster keeps its min-id member.

    Returns one row per vector that belongs to a duplicate cluster:
    (vec_id, cluster_id, is_keeper, cluster_size). Vectors absent from
    the output touched no near-dup pair and are trivially kept — at
    100 TB that is almost everything, which is why the output is the
    exception list, not a full-corpus verdict column.
    """
    from dumbo_spark.operators.dedup import connected_components

    pairs = embedding_near_dup(embeddings, threshold).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    cc = connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
        "cluster_size",
    )


def semantic_dedup_checked(
    embeddings: DataFrame, threshold: float = 0.4
) -> DataFrame:
    """:func:`semantic_dedup`'s cluster semantics with a FULL value
    oracle (completing the `_checked` tier, round 6): pairs come from
    the EXACT brute-force cosine join (rounded 6dp, ≥ ``threshold``)
    instead of LSH buckets, so an ANSI oracle can recompute every pair
    (list_dot_product) and close them with a recursive-CTE connected
    components — cluster ids, keeper flags and sizes all hash-checked.

    Threshold 0.4 (not semantic_dedup's 0.95) because the fixture
    embeddings are near-isotropic (measured max pairwise cosine 0.513;
    59 pairs ≥ 0.4) — at 0.95 the check would be vacuously empty. The
    brute-force O(n²) pair join is deliberate here: this is the AUDIT
    twin that verifies the clustering machinery at verification scale;
    the production 100 TB path remains :func:`semantic_dedup`'s
    LSH-bucketed candidates.

    Output: (vec_id, cluster_id, is_keeper, cluster_size).
    """
    from dumbo_spark.operators.dedup import connected_components

    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
        _norm(F.col("emb_a")) * _norm(F.col("emb_b"))
    )
    pairs = (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(F.round(cos, 6) >= threshold)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )
    cc = connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
        "cluster_size",
    )


def _centroid_vectors(embeddings: DataFrame) -> DataFrame:
    """(label, cvec) per-label centroid arrays: 4dp-rounded components
    (the engine-stable :func:`embedding_centroids` convention)
    assembled position-ordered — the shared front half of
    :func:`centroid_affinity` and :func:`label_outlier_screen`."""
    exploded = embeddings.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = exploded.groupBy("label", "pos").agg(F.round(F.avg("v"), 4).alias("cv"))
    return (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("s"))
        .select("label", F.transform("s", lambda x: x["cv"]).alias("cvec"))
    )


def centroid_affinity(embeddings: DataFrame) -> DataFrame:
    """Pairwise cosine similarity between per-label centroids — the
    class/source affinity matrix used to spot confusable labels or
    near-duplicate domains before mixing.

    Centroid components are rounded to 4dp FIRST (the same
    engine-stable convention :func:`embedding_centroids` proved), then
    assembled into position-ordered arrays, so the cosine is a
    deterministic sequential fold (:func:`_dot`) over identical
    numbers in identical order on both engines.

    Scale: the only corpus-sized stage is the posexplode partial agg
    (|labels|·dim rows out); the |labels|² pairing is a broadcast
    self-join over a frame of bytes.
    """
    vecs = _centroid_vectors(embeddings)
    a = vecs.select(F.col("label").alias("label_a"), F.col("cvec").alias("va"))
    b = vecs.select(F.col("label").alias("label_b"), F.col("cvec").alias("vb"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", F.round(cos, 6).alias("cos_sim"))
    )


def jl_projection(embeddings: DataFrame, dim: int = 64, out_dims: int = 4) -> DataFrame:
    """Johnson–Lindenstrauss ±1 random projection to ``out_dims``
    real-valued components — the dimensionality-reduction preprocessing
    step before clustering/ANN indexing (distances are preserved within
    (1±ε) by the JL lemma; sign-quantizing these same projections gives
    :func:`lsh_signatures`).

    The planes are the SAME seeded deterministic hyperplanes the LSH
    path uses, so the reduction is reproducible across runs, clusters,
    and engines — which is what lets it carry a full value oracle (the
    plane constants are inlined into the oracle SQL). Projections are
    sequential folds (:func:`_dot`) — engine-stable sums.

    Scale: a zero-shuffle scan projection. For out_dims beyond ~16
    switch to the one-matmul Arrow path (:func:`lsh_signatures`'s
    shape) — the expression tree re-walks per row.
    """
    cols = [
        F.round(
            _dot(
                F.col("embedding"),
                F.array(*[F.lit(v) for v in _hyperplane(dim, j)]),
            ),
            4,
        ).alias(f"proj_{j}")
        for j in range(out_dims)
    ]
    return embeddings.select("vec_id", *cols)


def label_outlier_screen(embeddings: DataFrame, k: int = 3) -> DataFrame:
    """Label-noise screening: for each label, the k vectors FURTHEST
    (by cosine distance) from their own label's centroid — the
    mislabeled-point candidates a training-data audit reviews first.

    Rank-based rather than threshold-based so the cut is deterministic
    (distance rounded 6dp, vec_id tie-break — the house rank
    convention); centroids come from the shared 4dp-rounded
    position-ordered arrays (:func:`_centroid_vectors`), so both
    engines fold identical numbers in identical order.

    Scale: centroids are a |labels|·dim aggregate broadcast back; the
    distance pass is a narrow scan projection; the rank window
    partitions per label over corpus-sized groups — at extreme scale
    swap the window for a per-label TakeOrdered via the salted top-k
    (operators/topk.py) if single labels dominate.
    """
    vecs = _centroid_vectors(embeddings)
    joined = embeddings.select("vec_id", "label", "embedding").join(
        F.broadcast(vecs), "label"
    )
    cos = _dot(F.col("embedding"), F.col("cvec")) / (
        _norm(F.col("embedding")) * _norm(F.col("cvec"))
    )
    scored = joined.select(
        "label", "vec_id", F.round(F.lit(1.0) - cos, 6).alias("centroid_dist")
    )
    w = Window.partitionBy("label").orderBy(
        F.col("centroid_dist").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("label", "vec_id", "centroid_dist", "rank")
    )


def knn_classifier_eval(
    embeddings: DataFrame, n_queries: int = 32, k: int = 5
) -> DataFrame:
    """Embedding-quality evaluation by leave-one-out kNN
    classification: for each held-out query vector, the majority label
    among its top-k cosine neighbors (ties: higher vote count first,
    then smaller label) against its true label — the standard "are
    these embeddings any good" probe before they are trusted for
    dedup or retrieval.

    Builds on :func:`knn_cosine` (broadcast query side, per-partition
    top-k heaps); the vote is a rank window over ≤ n_queries·k rows.
    """
    neighbors = knn_cosine(embeddings, n_queries=n_queries, k=k)
    labels = embeddings.select("vec_id", "label")
    votes = (
        neighbors.join(
            labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
                "label", "n_label"
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "n_label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("n_label").asc()
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"), "votes")
    )
    # only query ids (vec_id < n_queries, knn_cosine's query set) can
    # appear in pred — filter the broadcast side down to them so the
    # broadcast is n_queries rows, not the whole corpus's label table
    # (r15 optimization, guide §3.1: broadcast the side that fits BY
    # CONSTRUCTION; join result unchanged since pred.query_id is a
    # subset of the filtered ids)
    truth = (
        labels.where(F.col("vec_id") < n_queries)
        .withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "true_label")
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "true_label",
        "pred_label",
        "votes",
        (F.col("pred_label") == F.col("true_label")).cast("int").alias("correct"),
    )


def contrastive_pairs(
    embeddings: DataFrame, n_queries: int = 32, k_neg: int = 3
) -> DataFrame:
    """Contrastive training-pair mining: for each query vector, one
    positive (its nearest cosine neighbor) and ``k_neg`` hash-selected
    negatives from OTHER labels — the (anchor, positive, negatives)
    batches contrastive/embedding training consumes.

    Negative selection is the deterministic md5 permutation of
    (query_id, candidate_id) — a pure function of the ids, so the
    mined set is reproducible across runs and engines (the property a
    versioned training set needs; random negatives would be
    rows-only). Positives ride on :func:`knn_cosine`'s broadcast
    top-k.

    Scale: queries broadcast against the corpus once for each of the
    two passes; negative ranking windows per query over hash order.
    """
    pos = (
        knn_cosine(embeddings, n_queries=n_queries, k=1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("other_id"),
            F.lit("pos").alias("role"),
            F.lit(1).alias("rank"),
        )
    )
    q = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    cand = embeddings.select(F.col("vec_id").alias("other_id"), "label")
    keyed = cand.join(F.broadcast(q), F.col("label") != F.col("q_label")).withColumn(
        "_k",
        F.md5(
            F.concat_ws(
                "-", F.col("query_id").cast("string"), F.col("other_id").cast("string")
            )
        ),
    )
    w = Window.partitionBy("query_id").orderBy("_k", "other_id")
    neg = (
        keyed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neg)
        .select("query_id", "other_id", F.lit("neg").alias("role"), "rank")
    )
    return pos.unionByName(neg)


def knn_recall_checked(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    lsh_bound: float = 0.5,
    ivf_bound: float = 0.3,
) -> DataFrame:
    """The ANN family's recall contracts as oracle-checkable booleans
    (VERDICT r4 #6 applied to LSH/IVF): exact brute-force top-k is the
    ground truth, and the LSH / IVF hit-rates against it must clear
    the same bounds the unit tests pin (0.5 / 0.3). The oracle derives
    the exact-pair count from the same pair definition (per query,
    min(k, |candidates|) — exact for any input, since row_number ranks
    every candidate row whatever its cosine) and asserts TRUE per
    bound — an index whose recall collapses flips the hash.

    All three searches share the broadcast query side; the recall
    joins are |exact| rows. One output row.

    Output: (n_queries, n_exact_pairs, lsh_recall_ok, ivf_recall_ok).
    """
    ex = knn_cosine(embeddings, n_queries, k).select("query_id", "neighbor_id")
    lsh = knn_cosine_lsh(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    ivf = knn_cosine_ivf(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    # one evaluation of the exact brute-force subtree: the old
    # (count-agg ⨯ lsh-hit-join ⨯ ivf-hit-join) shape evaluated it
    # THREE times (17 exchanges in the audited plan); both ANN sides
    # are pair-unique top-k outputs, so two left joins preserve
    # cardinality and one aggregate folds all four counters
    folded = (
        ex.join(
            lsh.withColumn("_l", F.lit(1)), ["query_id", "neighbor_id"], "left"
        )
        .join(
            ivf.withColumn("_i", F.lit(1)), ["query_id", "neighbor_id"], "left"
        )
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count("*").alias("n_exact_pairs"),
            F.count("_l").alias("_lsh_hits"),
            F.count("_i").alias("_ivf_hits"),
        )
    )
    return (
        folded
        .select(
            "n_queries",
            "n_exact_pairs",
            (
                F.col("_lsh_hits")
                >= F.lit(lsh_bound) * F.col("n_exact_pairs")
            ).alias("lsh_recall_ok"),
            (
                F.col("_ivf_hits")
                >= F.lit(ivf_bound) * F.col("n_exact_pairs")
            ).alias("ivf_recall_ok"),
        )
    )


def pca_top_component(
    embeddings: DataFrame, n_iter: int = 8
) -> DataFrame:
    """Top principal component of the embedding cloud by POWER
    ITERATION — the corpus-geometry diagnostic behind whitening /
    anisotropy removal (a dominant direction usually encodes length or
    frequency artifacts, not meaning). Distributed exactly as a 100 TB
    run would be: the only corpus-sized work is one Arrow-batched
    Gram-matrix pass (per-batch Xᵀ X partials, summed — the same
    documented vectorized site as the LSH matmul); everything after
    operates on the d×d covariance frame (d=|dims|, tiny), iterated
    IN-PLAN with the same per-round truncation as the CC/PageRank
    family — no driver-side linear algebra, no collect.

    The algorithm is pinned, so it is oracle-checkable (the
    iteration-counter recursive CTE, like pagerank_checked): v₀ =
    1/√d; ``n_iter`` UNnormalized mat-vecs (direction converges
    identically; normalization deferred to the end keeps the recursion
    a single join-aggregate); then one normalize and a Rayleigh
    quotient. Loadings are reported SQUARED (sign-free — the
    eigenvector's sign is arbitrary and engine-dependent).

    Output: (pos, loading_sq, eigenvalue) — d rows, 5dp/4dp rounded.
    """
    import numpy as np
    import pandas as pd

    first = embeddings.select("embedding").first()
    if first is None:
        # empty-input contract (pinned for the rank/percentile/checked
        # machinery in f909a7e; ADVICE r5 extended it here): an empty
        # embeddings table yields an empty result, not a TypeError
        spark = embeddings.sparkSession
        return spark.createDataFrame(
            [], "pos int, loading_sq double, eigenvalue double"
        )
    d = len(first["embedding"])

    def gram_batches(batches):
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            if len(x) == 0:
                continue
            g = x.T @ x
            j, k = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            # column sums ride the SAME batch as k=-1 rows and the row
            # count as the (-1,-1) row (r15 optimization): the means
            # used to be a SECOND corpus pass that posexploded every
            # component (n·d rows shuffled); here they cost d+1 extra
            # rows per batch inside the pass the Gram matrix already
            # pays for (guide §2.3/§2.4 — one corpus scan, not two).
            yield pd.DataFrame(
                {
                    "j": np.concatenate([j.ravel(), np.arange(d), [-1]]),
                    "k": np.concatenate([k.ravel(), np.full(d, -1), [-1]]),
                    "g": np.concatenate([g.ravel(), x.sum(axis=0), [float(len(x))]]),
                }
            )

    # one aggregate holds Gram cells (k≥0), column sums (k=-1) and the
    # row count (-1,-1); lazily checkpointed because three branches
    # (gram / sums / count) read it — without truncation each branch
    # would re-run the corpus pass. All consumers are filters feeding
    # explicitly-broadcast joins, so no AQE size-estimate is lost.
    stats = pin(
        embeddings.select("embedding")
        .mapInPandas(gram_batches, "j int, k int, g double")
        .groupBy("j", "k")
        .agg(F.sum("g").alias("g"))
    )
    gram = stats.where(F.col("k") >= 0)
    ncnt = stats.where((F.col("j") == -1) & (F.col("k") == -1)).select(
        F.col("g").cast("long").alias("n")
    )
    means = (
        stats.where((F.col("k") == -1) & (F.col("j") >= 0))
        .crossJoin(F.broadcast(ncnt))
        .select(
            F.col("j").alias("pos"),
            (F.col("g") / F.col("n")).alias("mu"),
            "n",
        )
    )
    mj = means.select(F.col("pos").alias("j"), F.col("mu").alias("mu_j"), "n")
    mk = means.select(F.col("pos").alias("k"), F.col("mu").alias("mu_k"))
    # C = (G − n·μμᵀ)/n, exact algebraic centering — no second data pass
    # lazy (r15): materialized by the first consumer's job instead
    # of an eager stand-alone job at construction time
    cov = pin(
        gram.join(F.broadcast(mj), "j")
        .join(F.broadcast(mk), "k")
        .select(
            "j",
            "k",
            (
                (F.col("g") - F.col("n") * F.col("mu_j") * F.col("mu_k"))
                / F.col("n")
            ).alias("c"),
        )
    )
    spark = embeddings.sparkSession
    v = spark.range(d).select(
        F.col("id").cast("int").alias("j"),
        (F.lit(1.0) / F.sqrt(F.lit(float(d)))).alias("val"),
    )
    # the iterate is d rows (d=|dims|, tiny) — unlike the corpus-sized
    # CC/PageRank labels, per-round truncation here only bought 8 extra
    # driver jobs. Chain the rounds in ONE plan over the checkpointed
    # cov (each reference is a flat cached scan) and pin just the FINAL
    # vector, which four downstream branches (norm/vn/cv/lam) consume
    # (r15 optimization, guide §1.2: per-round driver actions are
    # overhead at every scale).
    for _ in range(n_iter):
        v = (
            cov.join(v.withColumnRenamed("j", "k"), "k")
            .groupBy("j")
            .agg(F.sum(F.col("c") * F.col("val")).alias("val"))
        )
    v = pin(v)
    norm = v.agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("_nrm"))
    vn = v.crossJoin(F.broadcast(norm)).select(
        "j", (F.col("val") / F.col("_nrm")).alias("val")
    )
    cv = (
        cov.join(vn.withColumnRenamed("j", "k"), "k")
        .groupBy("j")
        .agg(F.sum(F.col("c") * F.col("val")).alias("cv"))
    )
    lam = (
        vn.join(cv, "j")
        .agg(F.sum(F.col("val") * F.col("cv")).alias("_lam"))
    )
    return (
        vn.crossJoin(F.broadcast(lam))
        .select(
            F.col("j").alias("pos"),
            F.round(F.col("val") * F.col("val"), 5).alias("loading_sq"),
            F.round(F.col("_lam"), 4).alias("eigenvalue"),
        )
        .orderBy("pos")
    )


def embedding_norm_stats(embeddings: DataFrame) -> DataFrame:
    """Per-label L2-norm profile of the embedding cloud — the
    first-look vector-quality diagnostic (a label whose norms collapse
    toward 0 or blow out usually marks failed encodes or unnormalized
    batches; pairs with label_outlier_screen's distance view).

    The norm is a per-row array fold (F.aggregate — JVM higher-order
    function, no Python); the rollup is one partial agg. Norms round
    4dp so the doubles agree across engines before averaging at 4dp.

    Output: (label, n_vecs, mean_norm, min_norm, max_norm).
    """
    # empty arrays must yield NULL (DuckDB's list_sum([]) is NULL while
    # F.aggregate would return the 0.0 seed); NULL elements propagate
    # to NULL in both engines already
    norm = F.when(
        F.size("embedding") > 0,
        F.round(
            F.sqrt(
                F.aggregate(
                    "embedding",
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            ),
            4,
        ),
    )
    per = embeddings.select("label", norm.alias("_nrm"))
    return per.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("_nrm"), 4).alias("mean_norm"),
        F.min("_nrm").alias("min_norm"),
        F.max("_nrm").alias("max_norm"),
    )


def _det_kmeans(x, k: int, n_iter: int = 10):
    """Deterministic fixed-iteration Lloyd k-means over a (n, d) numpy
    array — the shared trainer behind :func:`_pq_codebooks` (per-block
    residual books) and :func:`_ivfpq_index` (coarse quantizer).

    Determinism discipline (see `_pq_codebooks` for the full
    cross-engine rationale): evenly-strided integer init over the
    row-ordered input, 6dp centroid rounding after init and after
    every mean update, 9dp distance rounding before the lowest-index
    argmin, empty clusters keep their previous centroid. No RNG.
    """
    import numpy as np

    n = x.shape[0]
    # shared-helper guards (ADVICE r9): the strided init divides by
    # k-1, so k=1 would ZeroDivisionError and n < k would duplicate
    # init centroids — fail loudly like _ivfpq_index's sample guard
    if k < 2:
        raise ValueError(f"_det_kmeans needs k >= 2, got k={k}")
    if n < k:
        raise ValueError(
            f"_det_kmeans needs at least k={k} input rows, got n={n}"
        )
    idx = [(i * (n - 1)) // (k - 1) for i in range(k)]
    cent = np.round(x[idx].copy(), 6)
    for _ in range(n_iter):
        d2 = np.round(((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), 9)
        assign = d2.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cent[c] = np.round(x[mask].mean(axis=0), 6)
    return cent


def _pq_codebooks(
    embeddings: DataFrame, m: int, ksub: int, sample: int, n_iter: int = 10
):
    """Train PQ codebooks on a DETERMINISTIC driver-side sample
    (vec_id < ``sample``) with fixed-iteration Lloyd k-means seeded by
    evenly-strided sample points. Codebook training on a bounded
    sample is the standard PQ recipe (Jégou et al., TPAMI 2011 — the
    codebook describes the space, so a few thousand vectors suffice at
    any corpus scale); determinism comes from the fixed sample, fixed
    init, and fixed iteration count — no RNG anywhere.

    CROSS-ENGINE determinism discipline (VERDICT r7 #4 — the oracle
    replays this exact training in SQL to recompute the recall hit
    count): stride indices use integer arithmetic (no float linspace),
    centroids are rounded to 6dp after init and after every mean
    update, and assignment distances are rounded to 9dp before the
    argmin (lowest-index tie-break, which numpy argmin already gives).
    With identical rounded inputs on both sides, the only remaining
    float divergence is summation order — ulps, which the rounding
    steps absorb — so the SQL replica reproduces the codes in practice.
    CAVEAT (ADVICE r8): the two rounding steps themselves are not
    tie-break-identical — numpy's np.round is half-to-even while
    DuckDB's ROUND is half-away-from-zero — so an exactly-representable
    decimal midpoint at the 6dp/9dp boundary (possible after a fixture
    regeneration) could flip one assignment and cascade through the
    Lloyd iterations into a cross-engine hash mismatch. If a
    fixture-regen ever surfaces one, align the modes (shared half-even
    on both sides: DuckDB has ROUND_EVEN) rather than chasing ulps.

    Returns a (m, ksub, dsub) numpy array.
    """
    import numpy as np

    rows = (
        embeddings.where(F.col("vec_id") < sample)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    if not rows:
        # empty-input contract (ADVICE r6, mirroring pca_top_component's
        # guard): an embeddings table with no vec_id < sample rows would
        # otherwise hit np.asarray([]).shape with a bare ValueError.
        raise ValueError(
            "pq codebook training: embeddings has no rows with vec_id < "
            f"{sample} — cannot train on an empty sample"
        )
    x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    n, d = x.shape
    dsub = d // m
    books = np.empty((m, ksub, dsub))
    for b in range(m):
        # per-block deterministic Lloyd: evenly strided integer init
        # over the id-ordered sample (exactly reproducible in SQL as
        # (i*(n-1)) // (ksub-1), unlike float linspace truncation)
        books[b] = _det_kmeans(x[:, b * dsub : (b + 1) * dsub], ksub, n_iter)
    return books


def pq_codes(
    embeddings: DataFrame,
    m: int = 16,
    ksub: int = 32,
    sample: int = 2048,
    books=None,
) -> DataFrame:
    """Product-quantization codes: each vector compressed to ``m``
    sub-codes (here 16×5 bits = 10 bytes vs 256 bytes float32 — the
    ~25× compression that makes billion-vector ANN serving fit in
    memory; geometry swept on the fixtures: 8×16 → 0.275 recall@5,
    16×16 → 0.40, 16×32 → 0.55 — adopted). Codebooks from :func:`_pq_codebooks`; assignment is ONE
    Arrow-batched numpy pass (block-wise distance argmin against the
    broadcast codebook — the documented vectorized-UDF site class,
    like the LSH matmul), so the corpus never shuffles.

    Output: (vec_id, codes: array<int> of length m).
    """
    import numpy as np
    import pandas as pd

    # books may be passed in by a caller that already trained them
    # (knn_cosine_pq needs them for the query lookup tables too) — the
    # training is deterministic, so the result is identical either way;
    # passing them skips a duplicate driver collect + Lloyd run (r16,
    # mirroring ivfpq_codes' index= parameter)
    if books is None:
        books = _pq_codebooks(embeddings, m, ksub, sample)
    dsub = books.shape[2]

    def assign_batches(batches):
        for pdf in batches:
            xm = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.empty((len(xm), m), dtype=np.int32)
            for b in range(m):
                xb = xm[:, b * dsub : (b + 1) * dsub]
                # 9dp distance rounding: same discipline as codebook
                # training, so the SQL oracle's coding pass agrees
                d2 = np.round(
                    ((xb[:, None, :] - books[b][None, :, :]) ** 2).sum(axis=2),
                    9,
                )
                codes[:, b] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        assign_batches, "vec_id long, codes array<int>"
    )


def knn_cosine_pq(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    m: int = 16,
    ksub: int = 32,
) -> DataFrame:
    """ANN cosine top-k by PQ asymmetric distance computation (ADC):
    corpus vectors live only as ``m`` sub-codes; each query carries its
    per-block lookup table (query-subvector · centroid dot products,
    an m×ksub literal — bytes), and the approximate dot product is m
    table lookups per corpus vector, computed JVM-SIDE by a zip_with
    over (codes, tables). The third classic ANN path next to LSH
    bucketing and IVF cell pruning: no corpus-side float math at all
    at query time, which is what lets ADC scan billions of codes.

    Ranking is on the ADC score rounded to 6dp with an id tie-break
    (engine/run-stable). Norm correction uses the exact corpus norms
    (vector-length metadata a PQ index stores alongside codes).
    """
    import numpy as np

    books = _pq_codebooks(embeddings, m, ksub, 2048)
    dsub = books.shape[2]
    # hand the trained books to the coder: identical (deterministic
    # training), but skips a second driver-side sample collect + Lloyd
    # run — one fewer blocking driver job per query (r16)
    codes = pq_codes(embeddings, m, ksub, books=books)
    norms = embeddings.select(
        "vec_id", _norm(F.col("embedding")).alias("_nrm")
    )
    q_rows = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    spark = embeddings.sparkSession
    q_data = []
    for r in q_rows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        tabs = [
            [
                float(np.dot(qv[b * dsub : (b + 1) * dsub], books[b][c]))
                for c in range(ksub)
            ]
            for b in range(m)
        ]
        q_data.append((r["vec_id"], float(np.linalg.norm(qv)), tabs))
    queries = spark.createDataFrame(
        q_data, "query_id long, q_nrm double, tabs array<array<double>>"
    )
    joined = (
        codes.join(norms, "vec_id")
        .crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
    )
    adc_dot = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("tabs"),
            lambda c, t: F.element_at(t, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(adc_dot / (F.col("q_nrm") * F.col("_nrm")), 6).alias("adc_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def pq_recall_checked(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    bound: float = 0.3,
) -> DataFrame:
    """PQ-ADC recall vs exact brute-force top-k, with the measured hit
    count as a first-class column (VERDICT r7 #4: the boolean alone
    made a recall regression from 0.55 to 0.31 invisible). The oracle
    recomputes ``n_hits`` EXACTLY by replaying the deterministic
    codebook training + coding + ADC ranking in SQL (recursive-CTE
    Lloyd iterations over the same 6dp/9dp-rounded arithmetic — see
    :func:`_pq_codebooks`), so any drift in the PQ path flips the hash,
    not just the gate.

    Recall ceiling: measured 22/40 = 0.55 on the near-isotropic
    fixtures at the adopted 16×32 geometry (random data is PQ's worst
    case — no cluster structure for the codebook to exploit; the swept
    alternatives 8×16 / 16×16 gave 0.275 / 0.40). The 0.3 gate sits
    ~10 pairs below that ceiling: loose enough to absorb fixture
    regeneration, tight enough to fail a broken codebook or lookup
    path.

    Output: (n_queries, n_exact_pairs, n_hits, pq_recall_ok) — one row.
    """
    ex = knn_cosine(embeddings, n_queries, k).select("query_id", "neighbor_id")
    pq = knn_cosine_pq(embeddings, n_queries, k).select("query_id", "neighbor_id")
    # single evaluation of the exact subtree (same fold as
    # knn_recall_checked): left-join the pair-unique PQ top-k and
    # aggregate all counters in one pass
    folded = ex.join(
        pq.withColumn("_h", F.lit(1)), ["query_id", "neighbor_id"], "left"
    ).agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact_pairs"),
        F.count("_h").alias("_hits"),
    )
    return folded.select(
        "n_queries",
        "n_exact_pairs",
        F.col("_hits").alias("n_hits"),
        (F.col("_hits") >= F.lit(bound) * F.col("n_exact_pairs")).alias(
            "pq_recall_ok"
        ),
    )


def _ivfpq_index(
    embeddings: DataFrame,
    n_cells: int,
    m: int,
    ksub: int,
    sample: int,
    n_iter: int = 10,
):
    """Train the IVFADC index (Jégou et al., TPAMI 2011 §IV) on the
    deterministic driver-side sample (vec_id < ``sample``): a coarse
    quantizer of ``n_cells`` full-dimension centroids, then ``m``
    per-block codebooks over the RESIDUALS (vector minus its coarse
    centroid) — residual PQ is what separates IVFADC from flat PQ and
    is why its ADC error is lower at the same code size: residual
    magnitudes are a fraction of vector magnitudes.

    Both trainers are :func:`_det_kmeans`, so the whole index follows
    the 6dp/9dp cross-engine rounding discipline and a SQL oracle can
    replay coarse centroids, codebooks, cell assignments, and codes
    (:func:`knn_cosine_ivf` gained the same property in r11 via the
    distributed integer-exact :func:`det_kmeans_cells`; this one
    trains driver-side on a bounded sample, the FAISS convention).

    Returns (coarse: (n_cells, d), books: (m, ksub, d//m)).
    """
    import numpy as np

    rows = (
        embeddings.where(F.col("vec_id") < sample)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    if not rows:
        # empty-input contract (mirrors _pq_codebooks' ADVICE r6 guard)
        raise ValueError(
            "ivfpq index training: embeddings has no rows with vec_id < "
            f"{sample} — cannot train on an empty sample"
        )
    x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    coarse = _det_kmeans(x, n_cells, n_iter)
    d2 = np.round(((x[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2), 9)
    resid = x - coarse[d2.argmin(axis=1)]
    dsub = x.shape[1] // m
    books = np.empty((m, ksub, dsub))
    for b in range(m):
        books[b] = _det_kmeans(resid[:, b * dsub : (b + 1) * dsub], ksub, n_iter)
    return coarse, books


def ivfpq_codes(
    embeddings: DataFrame,
    n_cells: int = 16,
    m: int = 16,
    ksub: int = 32,
    sample: int = 2048,
    index=None,
) -> DataFrame:
    """IVFADC inverted-list entries: each vector's coarse cell plus its
    ``m`` residual sub-codes. One Arrow-batched numpy pass against the
    broadcast (coarse, books) index — the corpus never shuffles, same
    vectorized-UDF site class as :func:`pq_codes`. At 100 TB the
    ``cell`` column is the partition key of the materialized index
    (probing = partition-pruned scan) and ``codes`` is its 10-byte
    payload.

    Output: (vec_id, cell: int, codes: array<int> of length m).
    """
    import numpy as np
    import pandas as pd

    coarse, books = (
        index if index is not None
        else _ivfpq_index(embeddings, n_cells, m, ksub, sample)
    )
    dsub = books.shape[2]

    def assign_batches(batches):
        for pdf in batches:
            xm = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            # same 9dp-rounded lowest-index argmin as training
            d2 = np.round(
                ((xm[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2), 9
            )
            cell = d2.argmin(axis=1)
            resid = xm - coarse[cell]
            codes = np.empty((len(xm), m), dtype=np.int32)
            for b in range(m):
                rb = resid[:, b * dsub : (b + 1) * dsub]
                db = np.round(
                    ((rb[:, None, :] - books[b][None, :, :]) ** 2).sum(axis=2),
                    9,
                )
                codes[:, b] = db.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cell.astype(np.int32),
                    "codes": list(codes),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        assign_batches, "vec_id long, cell int, codes array<int>"
    )


def knn_cosine_ivfpq(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = 16,
    m: int = 16,
    ksub: int = 32,
    n_probe: int = 4,
) -> DataFrame:
    """IVFADC ANN top-k (Jégou et al., TPAMI 2011): coarse cell pruning
    *composed with* residual-PQ asymmetric distances — the pairing that
    powers billion-vector FAISS-style serving. Each query probes its
    ``n_probe`` most-cosine-similar cells, and within a probed cell the
    approximate dot product is reconstructed JVM-side as

        q·x  ≈  q·c(cell)  +  q·residual  =  qc_dot + Σ_b tabs[b][code_b]

    i.e. one precomputed query-centroid dot plus ``m`` table lookups
    (zip_with over codes × the query's per-cell broadcast table) — no
    corpus-side float math at query time. vs flat :func:`knn_cosine_pq`
    this scans only ~n_probe/n_cells of the codes; vs
    :func:`knn_cosine_ivf` the probed members are ADC lookups over
    10-byte codes instead of exact 256-byte-vector dot products.

    The probe fan-out ships one (query × probed-cell) row carrying the
    lookup table — n_queries × n_probe rows of m×ksub doubles,
    broadcast: bytes, independent of corpus size. Ranking is on the
    6dp-rounded norm-corrected ADC score with an id tie-break; the
    deterministic index (:func:`_ivfpq_index`) makes the whole ranking
    SQL-replayable, so this is oracle-backed where plain IVF can only
    ever be rows-only.
    """
    import numpy as np

    index = _ivfpq_index(embeddings, n_cells, m, ksub, 2048)
    coarse, books = index
    dsub = books.shape[2]
    coded = ivfpq_codes(embeddings, n_cells, m, ksub, index=index)
    norms = embeddings.select("vec_id", _norm(F.col("embedding")).alias("_nrm"))
    q_rows = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    spark = embeddings.sparkSession
    q_data = []
    for row in q_rows:
        qv = np.asarray(row["embedding"], dtype=np.float64)
        qn = float(np.linalg.norm(qv))
        # residual lookup tables are cell-independent (residuals are
        # coded against per-block books shared across cells), so one
        # m×ksub table serves every probed cell of this query
        tabs = [
            [
                float(np.dot(qv[b * dsub : (b + 1) * dsub], books[b][c]))
                for c in range(ksub)
            ]
            for b in range(m)
        ]
        csims = [
            (
                c,
                round(
                    float(np.dot(qv, coarse[c]))
                    / (qn * float(np.linalg.norm(coarse[c]))),
                    9,
                ),
            )
            for c in range(len(coarse))
        ]
        csims.sort(key=lambda t: (-t[1], t[0]))
        for c, _ in csims[:n_probe]:
            q_data.append(
                (row["vec_id"], qn, int(c), float(np.dot(qv, coarse[c])), tabs)
            )
    queries = spark.createDataFrame(
        q_data,
        "query_id long, q_nrm double, cell int, qc_dot double,"
        " tabs array<array<double>>",
    )
    joined = coded.join(F.broadcast(queries), "cell").where(
        F.col("vec_id") != F.col("query_id")
    )
    adc_resid = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("tabs"),
            lambda c, t: F.element_at(t, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = joined.join(norms, "vec_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            (F.col("qc_dot") + adc_resid) / (F.col("q_nrm") * F.col("_nrm")), 6
        ).alias("adc_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def _topk_at_dim(emb: DataFrame, n_queries: int, k: int, dim) -> DataFrame:
    """Cosine top-k using only the first ``dim`` dimensions (None =
    full vector): the :func:`knn_cosine` plan over ``slice(embedding,
    1, dim)``. Shared by :func:`matryoshka_fidelity`."""
    vec = (
        F.col("embedding")
        if dim is None
        else F.slice(F.col("embedding"), 1, dim)
    )
    base = emb.select("vec_id", vec.alias("v"))
    queries = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q_v")
    )
    pairs = base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    cos = _dot(F.col("q_v"), F.col("v")) / (
        _norm(F.col("q_v")) * _norm(F.col("v"))
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos, 6).alias("cs"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cs").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
    )


def matryoshka_fidelity(
    embeddings: DataFrame,
    dims: tuple = (8, 16, 32),
    n_queries: int = 8,
    k: int = 5,
) -> DataFrame:
    """Matryoshka-truncation retrieval fidelity (Kusupati et al. 2022,
    "Matryoshka Representation Learning"): how much of the full-vector
    top-k survives when cosine runs on only the first 8/16/32 of 64
    dimensions — the measurement behind serving embeddings at a
    fraction of their stored width (adaptive retrieval: shortlist at
    low dim, re-rank at full). On MRL-trained embeddings overlap stays
    high at small prefixes; on non-MRL embeddings (these near-isotropic
    fixtures) it decays toward k·dim/64 — either way the table is what
    a serving-cost decision reads.

    Each truncated search is the same broadcast-queries streaming-
    corpus plan as :func:`knn_cosine`, with the prefix slice pushed
    into the projection (the corpus is read once per dim; at 100 TB
    you'd materialize the prefix columns instead — same plan shape).

    Output: one row per dim — (dim, n_exact_pairs, n_hits,
    overlap_pct).
    """
    emb = embeddings.select("vec_id", "embedding")
    # the full-width top-k is consumed 2× per dim branch (count + hits
    # join); pin() cuts the tiny k·n_queries-row result so
    # the corpus isn't re-scanned per consumer — total scans drop from
    # ~3·|dims| to |dims|+1
    full = pin(_topk_at_dim(emb, n_queries, k, None))
    out = None
    for d in dims:
        trunc = _topk_at_dim(emb, n_queries, k, d)
        row = (
            full.agg(F.count("*").alias("n_exact_pairs"))
            .crossJoin(
                full.join(
                    F.broadcast(trunc), ["query_id", "neighbor_id"]
                ).agg(F.count("*").alias("n_hits"))
            )
            .select(
                F.lit(d).alias("dim"),
                "n_exact_pairs",
                "n_hits",
                F.round(
                    F.col("n_hits") / F.col("n_exact_pairs").cast("double"), 4
                ).alias("overlap_pct"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def ivfpq_recall_checked(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    bound: float = 0.2,
) -> DataFrame:
    """IVFADC recall vs exact brute-force top-k with the hit count as a
    first-class column — completes the ANN ``_checked`` matrix (LSH,
    IVF, PQ, IVFPQ). Like :func:`pq_recall_checked`, the oracle
    recomputes ``n_hits`` EXACTLY by replaying the deterministic index
    in SQL, so a drift anywhere in the coarse/residual/ADC path flips
    the hash, not just the gate boolean.

    Recall ceiling: measured 14/40 = 0.35 at the 16-cell/4-probe 16×32
    geometry on the near-isotropic fixtures — below flat PQ's 0.55
    because cell pruning also discards true neighbors that land in
    unprobed cells, and random data gives the coarse quantizer no
    cluster structure to exploit. The 0.2 gate sits ~6 pairs below the
    ceiling: loose enough for fixture regeneration, tight enough to
    fail a broken probe or residual-coding path (which craters to ~0).

    Output: (n_queries, n_exact_pairs, n_hits, ivfpq_recall_ok) — one
    row.
    """
    ex = knn_cosine(embeddings, n_queries, k).select("query_id", "neighbor_id")
    ann = knn_cosine_ivfpq(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    # single evaluation of the exact subtree (same fold as
    # knn_recall_checked): left-join the pair-unique IVFPQ top-k and
    # aggregate all counters in one pass
    folded = ex.join(
        ann.withColumn("_h", F.lit(1)), ["query_id", "neighbor_id"], "left"
    ).agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact_pairs"),
        F.count("_h").alias("_hits"),
    )
    return folded.select(
        "n_queries",
        "n_exact_pairs",
        F.col("_hits").alias("n_hits"),
        (F.col("_hits") >= F.lit(bound) * F.col("n_exact_pairs")).alias(
            "ivfpq_recall_ok"
        ),
    )


def knn_euclid(embeddings: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Exact EUCLIDEAN top-k — the second retrieval ranking next to
    cosine (they disagree whenever vector norms vary: cosine ignores
    magnitude, L2 does not), primarily feeding :func:`rank_fusion_rrf`.
    Same broadcast-queries / streaming-corpus shape as
    :func:`knn_cosine`; distance is the exact sequential fold, rounded
    6dp with an id tie-break for engine-stable ranking.
    """
    emb = embeddings.select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("q_emb"),
            F.col("embedding"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(F.sqrt(d2), 6).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def rank_fusion_rrf(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5, c: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (cosine top-k
    and euclidean top-k): RRF(d) = Σ_lists 1/(c + rank_d) — the
    standard hybrid-retrieval combiner (Cormack et al., SIGIR 2009)
    every RAG stack applies over dense + sparse lists. Fusion is pure
    arithmetic over the two rank columns (full outer join on
    (query, neighbor), missing ranks contribute 0), so the whole
    fusion layer adds no corpus-sized work beyond the input searches.

    RRF scores are exact rationals evaluated in double with a fixed
    formula, then rounded 6dp and tie-broken by id — engine-stable.

    Output: (query_id, neighbor_id, rrf_score, fused_rank), top-k per
    query by fused score.
    """
    cos = knn_cosine(embeddings, n_queries, k).select(
        "query_id", "neighbor_id", F.col("rn").alias("r_cos")
    )
    euc = knn_euclid(embeddings, n_queries, k).select(
        "query_id", "neighbor_id", F.col("rn").alias("r_euc")
    )
    fused = cos.join(euc, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id",
        "neighbor_id",
        (
            F.coalesce(1.0 / (F.lit(c) + F.col("r_cos")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(c) + F.col("r_euc")), F.lit(0.0))
        ).alias("_s"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_s").desc(), F.col("neighbor_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_s", 6).alias("rrf_score"),
            "fused_rank",
        )
    )
