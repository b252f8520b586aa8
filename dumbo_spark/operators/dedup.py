"""Deduplication operators (north-star extension, BASELINE.json).

Absent in dumbo (SURVEY §2.5) — these are the LLM-training-corpus ops
the new engine adds as first-class citizens. Three tiers:

- :func:`dedup_exact` — content-hash grouping. One shuffle on the
  hash; at 100 TB, group on ``md5(text)`` (16 bytes) rather than the
  text itself so shuffle volume is keys + ids, not documents.
- :func:`dedup_normalized` — exact dedup after normalization
  (casefold, punctuation/whitespace collapse): catches trivial
  near-dups, still one shuffle, still SQL-oracle-checkable.
- :func:`minhash_signatures` / :func:`dedup_fuzzy` — MinHash-LSH
  near-dup candidate pairs: shingle → k-wise min-hash signature →
  banded bucket join. NO cross join anywhere: candidate generation is
  an equi-join on band keys, which is the property that survives
  100 TB (pair count is bounded by bucket collisions, not n²).
- :func:`simhash_signatures` / :func:`dedup_simhash` — 64-bit SimHash
  with banded candidate generation and exact Hamming verification
  (bit_count(xor) — JVM intrinsic).

Probabilistic outputs carry rows-only driver checks; unit tests verify
recall against exact Jaccard on small fixtures (SURVEY §7.3#3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import IntegralType, StringType, StructField, StructType

from dumbo_spark.functions.text import ngrams, tokens
from dumbo_spark.operators._checkpoint import _release_local_checkpoint, pin

#: MinHash parameters: k = bands × rows signature components.
MINHASH_K = 32
LSH_BANDS = 8
LSH_ROWS = 4  # MINHASH_K / LSH_BANDS


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup: one row per distinct content, keeper = min(doc_id).

    ``dropDuplicates`` keeps an *arbitrary* row; grouping with min() is
    the deterministic form (and what a reproducible pipeline needs).
    """
    return documents.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
    )


def dedup_normalized(documents: DataFrame) -> DataFrame:
    """Near-dup by normalized content: casefold + collapse non-word
    runs to single spaces + trim, then exact dedup on the result."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\W+", " "))
    return documents.groupBy(F.md5(norm.cast("binary")).alias("norm_hash")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
    )


def minhash_signatures(documents: DataFrame, n_shingle: int = 3) -> DataFrame:
    """(doc_id, sig: array<long>[k]) MinHash signatures over word
    shingles.

    The k-wise hash family is ``xxhash64(i, shingle)`` — k seeded JVM
    hashes per shingle, no overflow-prone affine arithmetic (Spark 4's
    ANSI mode rejects wrapping multiplies). Per doc: elementwise min
    via k partial-aggregating min()s — Catalyst's map-side combine
    keeps shuffle volume at docs × k longs regardless of document size.
    """
    # tokens materialized before the n-gram transform — no CSE through
    # HOF lambdas (see textstats.ngram_count)
    shingled = documents.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.explode(ngrams(F.col("toks"), n_shingle)).alias("shingle")
    )
    per_shingle = shingled.select(
        "doc_id",
        F.array(
            *[F.xxhash64(F.lit(i), F.col("shingle")) for i in range(MINHASH_K)]
        ).alias("hs"),
    )
    return per_shingle.groupBy("doc_id").agg(
        F.array(*[F.min(F.col("hs")[i]) for i in range(MINHASH_K)]).alias("sig")
    )


def _band_keys(sig_df: DataFrame) -> DataFrame:
    """Explode signatures into (band_key, doc_id, sig) — the LSH
    bucketing. The signature rides along so the candidate join needs no
    extra signature lookups."""
    bands = []
    for t in range(LSH_BANDS):
        rows = [F.col("sig")[t * LSH_ROWS + r] for r in range(LSH_ROWS)]
        bands.append(F.xxhash64(F.lit(t), *rows))
    return sig_df.select("doc_id", "sig", F.explode(F.array(*bands)).alias("band_key"))


def dedup_fuzzy(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs with estimated
    Jaccard ≥ threshold.

    Candidate generation is an equi-self-join on band keys (shuffle on
    band_key, bounded buckets) — never a cross join. Signatures ride
    along through the banding, so the estimated Jaccard (signature
    agreement fraction) is computed directly on the joined pair — no
    extra signature-lookup joins. The banded table is persisted because
    a self-join evaluates its subplan once per branch otherwise (the
    signature aggregation is the expensive part).

    INVARIANT (ADVICE r15): the output is PAIR-UNIQUE — exactly one row
    per (doc_a, doc_b), enforced by the dropDuplicates below. The
    recall-check folds (dedup_recall_checked and friends) left-join
    this side and count rows to get n_exact_pairs; a duplicate pair
    here would silently inflate both counters there, so any rewrite of
    this function must preserve the dedup.
    """
    bands = _band_keys(minhash_signatures(documents)).persist()
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
            )
        )
        / F.lit(MINHASH_K)
    )
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def dedup_fuzzy_verified(
    documents: DataFrame,
    jaccard_threshold: float = 0.7,
    candidate_threshold: float = 0.35,
) -> DataFrame:
    """The full production near-dup pipeline: MinHash-LSH candidates
    (cheap, recall-oriented) → exact token-set Jaccard on candidates
    only (precise, cost ∝ candidates, never ∝ n²).

    This is the shape that survives 100 TB: the exact verification — a
    join carrying shingle sets — touches only the LSH survivors, a
    vanishing fraction of all pairs.

    Verification uses SHINGLE-set Jaccard, the exact quantity MinHash
    estimates — not token-set Jaccard, which degenerates on small
    vocabularies (every document's token set converges to the whole
    vocabulary while word order still differs completely).
    """
    cands = dedup_fuzzy(documents, threshold=candidate_threshold).select(
        "doc_a", "doc_b", "est_jaccard"
    )
    tok_sets = documents.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.array_distinct(ngrams(F.col("toks"), 3)).alias("tok_set")
    )
    ta = tok_sets.select(F.col("doc_id").alias("doc_a"), F.col("tok_set").alias("set_a"))
    tb = tok_sets.select(F.col("doc_id").alias("doc_b"), F.col("tok_set").alias("set_b"))
    jaccard = F.size(F.array_intersect("set_a", "set_b")) / F.size(
        F.array_union("set_a", "set_b")
    )
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", "est_jaccard", F.round(jaccard, 4).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


#: Largest edge list connected_components solves on the driver instead
#: of running its distributed loop (measurements in its docstring).
_LOCAL_MAX_EDGES = 100_000


def _not_converged(max_iter: int) -> RuntimeError:
    return RuntimeError(
        f"connected_components did not converge within max_iter="
        f"{max_iter} rounds (a component's diameter exceeds it); "
        "raise max_iter rather than consuming split components"
    )


def _solve_on_driver(
    e0: DataFrame, node: StructField, max_iter: int
) -> DataFrame | None:
    """connected_components' driver path: the labels of a graph with
    at most ``_LOCAL_MAX_EDGES`` edges and non-null integral or
    binary-collated string ids, else None (the caller then runs the
    distributed loop over the same ``e0``)."""
    if not (isinstance(node.dataType, IntegralType) or node.dataType == StringType()):
        return None
    rows = e0.limit(_LOCAL_MAX_EDGES + 1).collect()
    if len(rows) > _LOCAL_MAX_EDGES or any(None in (a, b) for a, b in rows):
        return None
    _release_local_checkpoint(e0)
    neighbors: dict = {}
    for a, b in rows:
        neighbors.setdefault(a, []).append(b)
        neighbors.setdefault(b, []).append(a)
    # Roots in ascending order (Python and Spark order ints and binary
    # strings alike), so each BFS starts from its component's minimum;
    # radius ends as R, the loop's last changing round.
    label: dict = {}
    radius = 0
    for root in sorted(neighbors):
        if root in label:
            continue
        label[root] = root
        frontier, depth = [root], 0
        while True:
            reached = []
            for u in frontier:
                for v in neighbors[u]:
                    if v not in label:
                        label[v] = root
                        reached.append(v)
            if not reached:
                break
            frontier, depth = reached, depth + 1
        radius = max(radius, depth)
    if radius >= max_iter:
        raise _not_converged(max_iter)
    schema = StructType(
        [
            StructField("doc_id", node.dataType, node.nullable),
            StructField("cluster_id", node.dataType, True),
        ]
    )
    # From an Arrow table Spark builds a LocalRelation, which (unlike a
    # frame of Python rows) knows its size, so joins over the labels
    # still plan as broadcasts, as they do over the loop's checkpoint.
    # Imported here: most queries never take this path.
    import pyarrow as pa

    table = pa.table({"doc_id": list(label), "cluster_id": list(label.values())})
    return e0.sparkSession.createDataFrame(table, schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    chain: int = 2,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    The iterative-algorithm pattern dumbo expressed as repeated
    Job.additer passes with temp paths (P6) — here a driver loop over
    DataFrame joins with convergence detection. Each iteration: every
    node takes the min of its own label and its neighbors' labels; stop
    when no label changes. Iteration count is bounded by component
    diameter (near-dup clusters are shallow).

    Convergence contract (r12 review): ``max_iter`` is a SAFETY VALVE,
    not an output parameter — if labels are still changing when it is
    hit, the function RAISES instead of returning silently-wrong
    labels (a path-shaped component of diameter > max_iter would
    otherwise split, and every oracle-checked consumer —
    jaccard_clusters, dedup_clusters_md5, entity_clusters — compares
    against an EXACT transitive closure). Raise-on-nonconvergence
    turns the pathological-graph case into an operational signal
    ("raise max_iter / investigate the graph") rather than corrupt
    keeper/size output.

    Scale notes: the join shuffles on node id each round, and per-round
    lineage truncation keeps plan size constant. This is the standard
    large-graph CC shape (GraphFrames does the same with
    large-star/small-star refinements).

    ``chain`` (r15): propagation rounds fused into one plan per
    materialize+count job. Per-round driver actions are pure overhead
    (a scheduling barrier at every scale), so chaining two rounds per
    job halves them; the label arithmetic is round-by-round identical
    and convergence detection is exact either way (prev is the label
    entering the LAST chained round, so changed == 0 still means the
    fixpoint was reached) at the cost of at most ``chain - 1`` identity
    rounds of extra work past the fixpoint. In-JVM interleaved A/B at
    sf0.1: chain=2 beats 1 (dedup_canonical 4.80→4.31 s,
    copurchase_components 6.26→5.30 s medians); chain=3 measured equal
    to 2, so 2 is the default.

    Driver path: most graphs this engine feeds here are tiny (at sf0.1
    every registered consumer passes 16–3,573 edges), and for them each
    round's Spark job is pure overhead. So after the input checkpoint
    the first ``_LOCAL_MAX_EDGES + 1`` edges are collected, and a graph
    of at most ``_LOCAL_MAX_EDGES`` edges whose ids are non-null and of
    an integral or binary-collated string type is solved on the driver
    by one BFS from each component minimum. It comes back as a local
    DataFrame with the loop's exact schema and the same labels, the
    component minima. ``max_iter`` keeps its meaning there: the loop's
    labels stop changing after round R, the largest distance from any
    node to its component's minimum, so its first identity round is
    R + 1 (the argument given for ``chain`` above) and it raises exactly
    when R >= max_iter; the driver path computes R and raises then too.
    Every other input (more edges, a null id or another id type) runs
    the loop below over the same pinned edges, so a large graph still
    builds its edges once. Median wall time including a noop
    write, driver path vs loop, on 4 cores (``local[4]``) over seeded
    random graphs with as many nodes as edges: 10³ edges 0.18 vs 3.95 s,
    10⁴ 0.20 vs 4.64 s, 10⁵ 1.08 vs 9.34 s, 10⁶ 12.2 vs 59.6 s. There is
    no crossover in that range, so the 10⁵ bound is set by driver memory
    and by what the probe costs a larger graph (collecting 100,001 rows
    before falling through: 19.2 vs 19.7 s medians on 3·10⁵ edges,
    within noise).

    Durability contract: the input edges and each chunk's labels are
    cut by :func:`~dumbo_spark.operators._checkpoint.pin`, dumbo's
    Job.additer hand-off. With ``spark.checkpoint.dir`` set each cut is
    a reliable checkpoint, so a run survives executor loss, at one
    write job more per pin; without it the cuts are
    ``localCheckpoint`` blocks, fast, but an executor loss mid-run
    kills the job. The label table is one row per edge-touched node —
    tiny next to the corpus — so the per-round write is cheap. Every
    checkpoint gets its own ``rdd-N`` directory, so concurrent runs
    never share files.

    edges: (doc_a, doc_b) undirected. Returns (doc_id, cluster_id)
    where cluster_id = min doc_id of the component.
    """
    if chain < 1:
        raise ValueError(f"chain must be >= 1, got {chain}")
    # TRUNCATE the edge lineage, don't just persist it: with persist the
    # (possibly enormous — e.g. a PPJoin) edge-construction subplan stays
    # embedded in every round's logical plan and Catalyst re-optimizes it
    # per iteration — measured 281s → 75s for dup_cluster_sizes at 10×
    # (the same finding as the triangle census, SCALE.md). The INPUT list
    # is checkpointed (half the symmetric table) so the construction runs
    # exactly once; the adjacency below is derived from the cached scan.
    # Lazy: materialized by the driver path's probe or the adjacency
    # persist-count below (no standalone checkpoint job).
    e0 = pin(edges.select("doc_a", "doc_b"))
    # explode(array(ab, ba)) symmetrization: one scan of the e0
    # checkpoint instead of one per union branch (r15; the adjacency
    # below still repartition+persists exactly as before)
    both = e0.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    solved = _solve_on_driver(e0, both.schema["src"], max_iter)
    if solved is not None:
        return solved
    nodes = both.select(F.col("src").alias("node")).distinct()
    # Self-loop trick: append (v, v) for every node, so the self row
    # delivers the node's OWN current label into its min-aggregation
    # group, folding the old `least(own, neighbor_min)` left-join into
    # the same shuffle — and carries the PREVIOUS label out of the agg,
    # making convergence detection a cached-scan predicate instead of a
    # join of consecutive label tables. The loop-invariant adjacency is
    # hash-partitioned by the lookup key ONCE and persist()ed, NOT
    # localCheckpoint()ed: in this Spark version the checkpoint's
    # LogicalRDD reports UnknownPartitioning under AQE (the per-round
    # join re-shuffled the edge side every iteration), while the cached
    # plan keeps its REPARTITION_BY_NUM partitioning (AQE leaves cached
    # plan output partitioning alone by default) — A/B at sf0.1, 50-
    # round capable loop: persist 5.7s vs checkpoint 7.9s median. The
    # lineage above `adj` is already flat (two selects over the e0
    # checkpoint), so persist here cannot re-trigger the per-round
    # plan-growth problem that forced checkpointing the LABELS.
    adj = both.unionByName(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    n_shuffle = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    adj = adj.repartition(n_shuffle, "dst").persist()
    adj.count()
    labels = None  # None ⇒ implicit identity labeling (round 1 inlined)
    converged = False

    def one_round(prev_labels):
        """One min-label propagation round as a LAZY frame (no action).

        prev_labels None ⇒ round 1 inlined: with identity labels the
        label join is the identity (each dst delivers its own id as
        its label), so min-over-neighbors is min(dst) directly and
        prev — the self-loop's delivered label — is src. Saves the
        initial label checkpoint AND the first round's join;
        arithmetic and convergence semantics are identical.
        """
        if prev_labels is None:
            joined = adj.select("src", "dst", F.col("dst").alias("label"))
        else:
            joined = adj.join(prev_labels, adj.dst == prev_labels.node)
        return (
            joined
            .groupBy("src")
            .agg(
                F.min("label").alias("label"),
                F.min(
                    F.when(F.col("dst") == F.col("src"), F.col("label"))
                ).alias("prev"),
            )
            .select(F.col("src").alias("node"), "label", "prev")
        )

    rounds_done = 0
    while rounds_done < max_iter:
        # Chain `chain` propagation rounds into ONE plan before the
        # checkpoint+count action (r15: per-round driver jobs are pure
        # overhead — two rounds per job halves them; the intermediate
        # round is a lazy subtree evaluated once inside the same job).
        # Convergence stays exact: prev is the label entering the LAST
        # chained round, so changed == 0 ⟺ that round was the identity
        # ⟺ the fixpoint was already reached — identical detection
        # semantics, at most `chain - 1` extra (identity) rounds of
        # work past the fixpoint. The raise-on-nonconvergence valve is
        # unchanged: exactly max_iter propagation rounds are applied
        # before giving up.
        step = min(chain, max_iter - rounds_done)
        frame = labels
        for _ in range(step):
            frame = one_round(frame)
        # LAZY pin, materialized by the convergence count below: one
        # job per round instead of an eager-pin job + count job (guide
        # §1.2: per-round driver actions are pure overhead at every scale)
        new_labels = pin(frame)
        rounds_done += step
        # FULL count (not limit(1)): touches every partition, so the
        # lazy checkpoint above is completely materialized by this one
        # job and lineage truncation still holds round to round
        changed = new_labels.where(F.col("label") != F.col("prev")).count()
        if labels is not None:
            # new_labels is materialized and convergence read from it —
            # the previous round's checkpoint has no consumer left
            _release_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            converged = True
            break
    # the final labels are pinned — the adjacency cache and the
    # input-edge pin have no remaining consumer, so release the
    # executor memory eagerly
    adj.unpersist()
    _release_local_checkpoint(e0)
    if not converged:
        raise _not_converged(max_iter)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_clusters(documents: DataFrame) -> DataFrame:
    """Full dedup clustering: LSH candidates → exact shingle-Jaccard
    verification → connected components → cluster summary (keeper =
    min doc_id, cluster size). The end-to-end shape of corpus-level
    fuzzy dedup: what you delete is `docs in cluster - keeper`."""
    edges = dedup_fuzzy_verified(documents)
    cc = connected_components(edges.select("doc_a", "doc_b"))
    return cc.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.min("doc_id").alias("keep_id"),
    )


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash: long) 64-bit SimHash over word tokens.

    Bit j of the signature is the sign of Σ_tokens (±1 by bit j of the
    token hash). Expressed as 64 conditional sums — wide but entirely
    JVM-side, one shuffle of 64 ints per doc (map-side combined).
    """
    toks = documents.select("doc_id", F.explode(tokens("text")).alias("tok"))
    h = F.xxhash64("tok")
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    return _assemble_simhash(bit_sums)


def _assemble_simhash(bit_sums: DataFrame) -> DataFrame:
    """(doc_id, b0..b63 signed bit-sums) -> (doc_id, simhash: long):
    bit j of the signature is 1 iff the sum is strictly positive (ties
    → 0); bit 63 shifts into the sign, i.e. the signature is the
    two's-complement reading -2^63·bit63 + Σ_{j<63} 2^j·bitj."""
    sim = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        sim = term if sim is None else sim.bitwiseOR(term)
    return bit_sums.select("doc_id", sim.alias("simhash"))


def dedup_simhash(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: banded candidate join (4×16-bit chunks —
    any chunk equal ⇒ candidate, guaranteed to catch all pairs with
    Hamming ≤ 3) then exact Hamming via bit_count(xor). The chunked
    table persists across the self-join branches (the 64-way bit-sum
    aggregation is the expensive subplan)."""
    return _simhash_pairs(simhash_signatures(documents), max_hamming)


def _simhash_pairs(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Banded Hamming self-join over (doc_id, simhash) signatures —
    shared by the xxhash64 throughput family and the md5 provability
    family (the banding is hash-family-agnostic: 4×16-bit chunks catch
    every pair with Hamming ≤ 3 by pigeonhole).

    INVARIANT (ADVICE r15): the output is PAIR-UNIQUE — one row per
    (doc_a, doc_b) via the distinct below (a pair can collide in up to
    4 chunks). simhash_recall_checked left-joins this side and counts
    rows; duplicates would inflate its counters, so rewrites must keep
    the distinct."""
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.val").persist()
    pairs = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)

def jaccard_ngram_pairs(
    documents: DataFrame, n: int = 3, threshold_pct: int = 60
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via prefix filtering
    (PPJoin-style) — the deterministic complement to the MinHash and
    SimHash probabilistic paths: every pair with Jaccard ≥ t, no
    false negatives, no cross join.

    Candidate pruning: order each document's grams by ascending global
    document frequency (rarest first); two docs can only reach
    Jaccard ≥ t if they share a gram within each other's first
    ``|d| - ceil(t·|d|) + 1`` grams, so the self-join runs on that
    prefix only — at 100 TB the join fan-out is governed by rare-gram
    collisions, not n². All threshold arithmetic is integer rational
    (t = threshold_pct/100): the prefix bound and the final
    ``den·c ≥ num·(|a|+|b|-c)`` cut are exact, so the result matches a
    brute-force oracle bit-for-bit.
    """
    num, den = threshold_pct, 100
    # Per-doc gram SET built narrowly (no shuffle): the HOF ngram path
    # plus array_distinct stays inside codegen. Materialized once in
    # its own projection (see spark4 HOF-CSE pitfall) and reused by
    # both the explode side and the verification side.
    doc_grams = (
        # tokens materialized before the n-gram transform — no CSE
        # through HOF lambdas (see textstats.ngram_count)
        documents.select("doc_id", tokens("text").alias("_toks"))
        .select("doc_id", F.array_distinct(ngrams(F.col("_toks"), n)).alias("_grams"))
        .withColumn("_n", F.size("_grams"))
        .persist()
    )
    grams = doc_grams.select(
        "doc_id", F.col("_n").alias("n_grams"), F.explode("_grams").alias("gram")
    )
    # Document frequency via partial-aggregated groupBy + equi-join-back,
    # NOT a Window.partitionBy("gram") count: a stop-gram appearing in a
    # large fraction of documents would force one giant single-task
    # window partition, while the groupBy combines map-side and the
    # join-back is an equi-join AQE can skew-split. Per-doc size rides
    # along from doc_grams (no second window pass).
    gram_df = grams.groupBy("gram").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "gram")
    ranked = grams.join(gram_df, "gram").select(
        "doc_id",
        "gram",
        "n_grams",
        F.row_number().over(wdoc).alias("pos"),
    )
    # ceil(num·|d|/den) without floats: floor((num·|d| + den − 1)/den)
    req = F.floor((F.lit(num) * F.col("n_grams") + F.lit(den - 1)) / den)
    # NOTE (r15): a lazy checkpoint here — to fold the two Window nodes
    # the self-join shows in the audited plan — was MEASURED SLOWER
    # (near_dup_rate_by_source 3.4→10.4 s, dedup_recall_checked
    # 4.9→7.0 s): the planner already reuses the identical self-join
    # exchanges, so the "duplicate" window is largely shared, while the
    # checkpoint pays a full materialization of the exploded gram
    # stream and forfeits the reuse. Keep the plain form.
    prefix = ranked.where(F.col("pos") <= F.col("n_grams") - req + 1)
    # PPJoin length filter rides the equi-join: J(a,b) ≥ t forces
    # den·|a| ≥ num·|b| and vice versa (J ≤ min/max), so size-skewed
    # pairs drop before the distinct/verify stages. Output-invariant —
    # pruned pairs could never pass the exact cut below.
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "gram", F.col("n_grams").alias("_la"))
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_b"), "gram", F.col("n_grams").alias("_lb")
            ),
            "gram",
        )
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.lit(den) * F.col("_la") >= F.lit(num) * F.col("_lb"))
            & (F.lit(den) * F.col("_lb") >= F.lit(num) * F.col("_la"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Verification: ship each doc's gram SET once per candidate pair and
    # intersect in-memory (array_intersect, JVM-side) — two shuffles of
    # |candidates| rows instead of re-exploding every gram of every
    # candidate doc through a join+groupBy. Array size is bounded by
    # document length, so executor memory holds at any corpus scale.
    joined = (
        cand.join(
            doc_grams.select(
                F.col("doc_id").alias("doc_a"),
                F.col("_grams").alias("_ga"),
                F.col("_n").alias("_na"),
            ),
            "doc_a",
        )
        .join(
            doc_grams.select(
                F.col("doc_id").alias("doc_b"),
                F.col("_grams").alias("_gb"),
                F.col("_n").alias("_nb"),
            ),
            "doc_b",
        )
        .withColumn("_c", F.size(F.array_intersect("_ga", "_gb")))
    )
    union_sz = F.col("_na") + F.col("_nb") - F.col("_c")
    return joined.where(F.lit(den) * F.col("_c") >= F.lit(num) * union_sz).select(
        "doc_a",
        "doc_b",
        F.round(F.col("_c").cast("double") / union_sz, 6).alias("jaccard"),
    )


def fuzzy_join_jaccard(
    left: DataFrame,
    right: DataFrame,
    n: int = 3,
    threshold_pct: int = 60,
) -> DataFrame:
    """EXACT two-table n-gram Jaccard similarity JOIN — the
    entity-resolution / blocklist-matching form of
    :func:`jaccard_ngram_pairs`: every (left, right) pair with
    Jaccard ≥ t, no false negatives, no cross join.

    The cross-table PPJoin: gram document frequency is computed over
    the UNION of both sides so both prefixes rank grams in the SAME
    global order (the prefix-filter guarantee requires one consistent
    ordering), then the candidate join runs left-prefix ⋈ right-prefix
    on the gram — an equi-join whose fan-out is governed by rare-gram
    collisions, exactly like the self-join form. Verification ships
    each side's gram set once per candidate and intersects JVM-side.

    Both inputs need (doc_id, text); at 100 TB the typical shape is a
    small-but-not-broadcastable reference set against a corpus, and
    the prefix equi-join handles any size ratio without a plan change.
    """
    num, den = threshold_pct, 100

    def gram_side(df: DataFrame, id_alias: str) -> DataFrame:
        return (
            df.select(F.col("doc_id").alias(id_alias), tokens("text").alias("_toks"))
            .select(
                id_alias, F.array_distinct(ngrams(F.col("_toks"), n)).alias("_grams")
            )
            .withColumn("_n", F.size("_grams"))
            .persist()
        )

    lg, rg = gram_side(left, "left_id"), gram_side(right, "right_id")
    gram_df = (
        lg.select(F.explode("_grams").alias("gram"))
        .unionAll(rg.select(F.explode("_grams").alias("gram")))
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
    )

    def prefix_side(g: DataFrame, id_col: str) -> DataFrame:
        grams = g.select(id_col, "_n", F.explode("_grams").alias("gram"))
        w = Window.partitionBy(id_col).orderBy("df", "gram")
        ranked = grams.join(gram_df, "gram").select(
            id_col, "gram", "_n", F.row_number().over(w).alias("pos")
        )
        req = F.floor((F.lit(num) * F.col("_n") + F.lit(den - 1)) / den)
        return ranked.where(F.col("pos") <= F.col("_n") - req + 1)

    cand = (
        prefix_side(lg, "left_id")
        .select("left_id", "gram", F.col("_n").alias("_la"))
        .join(
            prefix_side(rg, "right_id").select(
                "right_id", "gram", F.col("_n").alias("_lb")
            ),
            "gram",
        )
        .where(
            (F.lit(den) * F.col("_la") >= F.lit(num) * F.col("_lb"))
            & (F.lit(den) * F.col("_lb") >= F.lit(num) * F.col("_la"))
        )
        .select("left_id", "right_id")
        .distinct()
    )
    joined = (
        cand.join(
            lg.select("left_id", F.col("_grams").alias("_ga"), F.col("_n").alias("_na")),
            "left_id",
        )
        .join(
            rg.select(
                "right_id", F.col("_grams").alias("_gb"), F.col("_n").alias("_nb")
            ),
            "right_id",
        )
        .withColumn("_c", F.size(F.array_intersect("_ga", "_gb")))
    )
    union_sz = F.col("_na") + F.col("_nb") - F.col("_c")
    result = joined.where(F.lit(den) * F.col("_c") >= F.lit(num) * union_sz).select(
        "left_id",
        "right_id",
        F.round(F.col("_c").cast("double") / union_sz, 6).alias("jaccard"),
    )
    # The gram-side caches (lg/rg) exist only to avoid re-tokenizing
    # each input three times (df-count, prefix, verify). Materialize the
    # (small: matched pairs only) result eagerly so they can be released
    # here instead of leaking two corpus-sized cached tables per call in
    # a long-lived session; the persisted result makes the caller's
    # action a cache read, not a recompute.
    result = result.persist()
    result.count()
    lg.unpersist()
    rg.unpersist()
    return result


def dedup_by_source(documents: DataFrame) -> DataFrame:
    """Per-source duplication profile: documents, distinct contents,
    and the duplicate ratio for every source — the triage view that
    decides which feeds need dedup attention first. One partial-agg
    shuffle on (source); content identity is the same md5 key as
    :func:`dedup_exact`, so the numbers reconcile."""
    h = F.md5(F.col("text").cast("binary"))
    return (
        documents.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(h).alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            F.round(1.0 - F.col("n_unique") / F.col("n_docs"), 4).alias("dup_ratio"),
        )
    )


def cross_source_overlap(documents: DataFrame, prefix_tokens: int = 8) -> DataFrame:
    """Source-pair contamination matrix: for every pair of sources,
    how many distinct document fingerprints appear in BOTH — the check
    that catches a scraped feed re-serving another feed's pages (or a
    benchmark split leaking into a training feed) before the corpora
    are merged.

    The fingerprint is the md5 of the first ``prefix_tokens``
    normalized tokens — prefix identity catches near-duplicates that
    share their opening (titles, boilerplate, benchmark prompts) where
    whole-text md5 only catches byte-exact copies.

    Shape: documents collapse to (fingerprint, source) pairs first
    (partial-agg distinct — the shuffle carries 16-byte hashes, never
    text), then a hash-keyed self-equi-join counts co-occurrences.
    Fan-out per fingerprint is (#sources carrying it choose 2) ≤ 190
    at 20 sources — bounded by the source count, not the corpus, so
    the plan is the same at 100 TB.
    """
    fp = F.md5(
        F.concat_ws(" ", F.slice(tokens("text"), 1, prefix_tokens)).cast("binary")
    )
    h = documents.select(fp.alias("h"), "source").distinct()
    return (
        h.alias("a")
        .join(h.alias("b"), "h")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.countDistinct("h").alias("n_shared"))
    )


def minhash_signatures_md5(documents: DataFrame, n_shingle: int = 3) -> DataFrame:
    """(doc_id, sig: array<string>[k]) MinHash signatures with an
    ENGINE-NEUTRAL hash family: one md5 digest carries 128 bits, so
    each digest is SLICED into four independent 32-bit (8-hex-char)
    lanes — sig[i] = min over shingles of
    substr(md5('⌊i/4⌋:' || shingle), (i%4)·8+1, 8) as lowercase hex.
    Both Spark and DuckDB produce identical md5 hex over identical
    UTF-8 bytes, substring it identically (1-indexed), and sort hex
    strings identically, so the whole LSH pipeline built on this is
    SQL-oracle-checkable end to end (VERDICT r10 Next #3: the
    xxhash64 family of :func:`minhash_signatures` has no DuckDB
    equivalent; this is the md5 discipline sample_per_group
    established, applied to the hash family itself). The 4-lane slice
    (r13, VERDICT r12 Next #2) cuts the md5 call count 4× — 8 digests
    per shingle instead of 32 — with identical provability, and the
    8-char components shuffle 4× narrower than full 32-char digests.

    Production trade-off, documented: 8 md5s per shingle still cost
    more than k seeded xxhash64s (md5 is ~10× the cycles of xxhash64
    and strings shuffle wider than longs), so at 100 TB the xxhash64
    sibling remains the throughput path; the plan SHAPE — corpus-pass
    explode, k partial-aggregating min()s, docs×k shuffle volume — is
    identical, so this variant is both a usable operator and the
    cross-engine proof of the pipeline's semantics.
    """
    shingled = documents.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.explode(ngrams(F.col("toks"), n_shingle)).alias("shingle")
    )
    # digests live in a named intermediate column so each md5 runs
    # once and the four lane substrings read it, not recompute it
    per_shingle = shingled.select(
        "doc_id",
        F.array(
            *[
                F.md5(
                    F.concat(F.lit(f"{d}:"), F.col("shingle")).cast("binary")
                )
                for d in range(MINHASH_K // 4)
            ]
        ).alias("digests"),
    ).select(
        "doc_id",
        F.array(
            *[
                F.substring(F.col("digests")[i // 4], (i % 4) * 8 + 1, 8)
                for i in range(MINHASH_K)
            ]
        ).alias("hs"),
    )
    return per_shingle.groupBy("doc_id").agg(
        F.array(*[F.min(F.col("hs")[i]) for i in range(MINHASH_K)]).alias("sig")
    )


def _band_keys_md5(sig_df: DataFrame) -> DataFrame:
    """Banded bucket keys for the md5 signature family: band t's key is
    md5('t|' || the band's 4 signature components) — same banding
    geometry as :func:`_band_keys`, engine-neutral key derivation."""
    bands = []
    for t in range(LSH_BANDS):
        rows = [F.col("sig")[t * LSH_ROWS + r] for r in range(LSH_ROWS)]
        bands.append(F.md5(F.concat(F.lit(f"{t}|"), *rows).cast("binary")))
    return sig_df.select(
        "doc_id", "sig", F.explode(F.array(*bands)).alias("band_key")
    )


def dedup_fuzzy_verified_md5(
    documents: DataFrame, min_matches: int = 12, n_shingle: int = 3
) -> DataFrame:
    """MinHash-LSH near-dup pipeline on the ENGINE-NEUTRAL md5 hash
    family, with INTEGER thresholds throughout so a SQL oracle can
    reproduce the edge set exactly:

    - candidates: banded equi-self-join (never a cross join), kept
      when >= ``min_matches`` of the 32 signature components agree
      (12/32 = 0.375, the 0.35 candidate threshold's integer form —
      exact, no float rounding at the boundary);
    - verification: exact shingle-set Jaccard >= 0.7 as the
      divisionless integer comparison 10·|∩| >= 7·|∪| (the
      pagerank_checked oracle discipline).

    Returns (doc_a, doc_b) verified pairs. Same 100 TB shape as
    :func:`dedup_fuzzy_verified`: exact verification touches only LSH
    survivors.
    """
    bands = _band_keys_md5(minhash_signatures_md5(documents, n_shingle)).persist()
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    cands = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(matches >= min_matches)
        .select("doc_a", "doc_b")
    )
    shingle_sets = documents.select(
        "doc_id", tokens("text").alias("toks")
    ).select(
        "doc_id", F.array_distinct(ngrams(F.col("toks"), n_shingle)).alias("ss")
    )
    sa = shingle_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("ss").alias("set_a")
    )
    sb = shingle_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("ss").alias("set_b")
    )
    c = F.size(F.array_intersect("set_a", "set_b"))
    u = F.size("set_a") + F.size("set_b") - c
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.lit(10) * c >= F.lit(7) * u)
        .select("doc_a", "doc_b")
    )


def simhash_signatures_md5(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash: long) 64-bit SimHash on the ENGINE-NEUTRAL
    md5 hash family (VERDICT r11 Next #5: the md5-twin discipline
    dedup_fuzzy_verified_md5 established, applied to SimHash).

    Per token, the 64 hash bits come from the first 16 hex digits of
    md5(token): bit j = bit (j mod 4) of hex digit ⌊j/4⌋ — a formula
    both Spark (conv(hexdigit,16,10)) and DuckDB
    (strpos('0123…f', digit) - 1) evaluate identically over identical
    lowercase-hex md5 output, so a SQL oracle reproduces the signature
    bit-for-bit. Same shape as :func:`simhash_signatures`: one corpus
    pass, 64 partially-aggregated conditional sums, no Python. The
    xxhash64 sibling stays the 100 TB throughput path (md5 is ~10× the
    hash cycles — the documented provability trade).
    """
    toks = documents.select("doc_id", F.explode(tokens("text")).alias("tok"))
    h = F.md5(F.col("tok").cast("binary"))
    # 16 hex-digit values (0..15), one per 4 signature bits
    digs = toks.select(
        "doc_id",
        *[
            F.conv(F.substring(h, p + 1, 1), 16, 10)
            .cast("int")
            .alias(f"d{p}")
            for p in range(16)
        ],
    )
    bit_sums = digs.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"d{j // 4}"), j % 4).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    return _assemble_simhash(bit_sums)


def dedup_simhash_md5(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs on the md5 hash family — identical
    banded-join plan to :func:`dedup_simhash` (the banding is lossless
    for Hamming ≤ 3, so a brute-force SQL pair set matches exactly);
    exists so the SimHash pipeline is value-checkable against DuckDB
    end to end."""
    return _simhash_pairs(simhash_signatures_md5(documents), max_hamming)


def dedup_clusters_md5(documents: DataFrame) -> DataFrame:
    """Full dedup clustering on the md5 hash family: the exact
    :func:`dedup_clusters` composition (LSH candidates → integer
    Jaccard verification → connected components → cluster summary)
    over :func:`dedup_fuzzy_verified_md5` edges, so the END-TO-END
    corpus-dedup shape — not just the edge set — is value-checked
    against a DuckDB replay (recursive-CTE transitive closure over the
    same deterministic edges)."""
    edges = dedup_fuzzy_verified_md5(documents)
    cc = connected_components(edges.select("doc_a", "doc_b"))
    return cc.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.min("doc_id").alias("keep_id"),
    )


def pagerank(
    edges: DataFrame,
    max_iter: int = 10,
    damping: float = 0.85,
    chain: int = 2,
) -> DataFrame:
    """PageRank over an undirected edge list — the numeric-iterative
    complement of :func:`connected_components` (dumbo's repeated
    Job.additer pattern, P6/E7, applied to a fixpoint computation
    rather than label propagation).

    Per iteration: each node sends rank/degree along its edges, ranks
    re-form as (1-d)/N + d·Σ incoming — one join + one partial-agg
    shuffle, lineage pinned per round (same durability contract as
    connected_components: reliable under ``spark.checkpoint.dir``).
    Undirected edges mean no dangling mass. Returns (doc_id, rank)
    with Σ rank = 1 up to float error.

    ``chain`` (r15): iterations fused into one plan per checkpoint job
    (same mechanism and rationale as connected_components' ``chain``;
    the per-round IEEE arithmetic is unchanged — the intermediate
    round is a lazy subtree of the same plan, evaluated once).
    Measured neutral at sf0.1 (pagerank_checked 6.16 vs 6.14 s) but
    halves the driver's scheduling barriers, which is the posture you
    want on a cluster; default 2.

    edges: (doc_a, doc_b) pairs.
    """
    if chain < 1:
        raise ValueError(f"chain must be >= 1, got {chain}")
    # TRUNCATE the edge/degree lineage, don't persist it: with persist
    # the (possibly enormous — e.g. a PPJoin) edge-construction subplan
    # stays embedded in every iteration's logical plan and Catalyst
    # re-optimizes it per round — the same plan-string blowup CC fixed
    # in round 4 (measured here: pagerank_checked on the 10× replica
    # 287s → 45s, SCALE.md round-5 table).
    # symmetrize via explode(array(ab, ba)) — same row multiset as the
    # old two-branch unionByName, but the (possibly enormous) edge
    # subtree is evaluated ONCE when the checkpoint below materializes,
    # not once per union branch (r15 optimization, guide §2.4)
    both = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    # lazy: materialized (through the groupBy shuffle, which runs
    # once) by the deg count below — one setup job instead of three
    both = pin(both)
    # pinned like both: the count below materializes it, and adj and
    # the max_iter == 0 path read it without re-running the shuffle
    deg = pin(both.groupBy("src").agg(F.count("*").alias("deg")))
    n_nodes = deg.count()
    if n_nodes == 0:
        # EDGELESS graph (a corpus with zero verified near-dup pairs):
        # the uniform init 1/N is undefined, and every downstream
        # consumer wants "no central documents" — return an empty
        # (doc_id, rank) frame instead of a ZeroDivisionError (r11
        # robustness pass; reachable through doc_pagerank /
        # pagerank_checked whenever the threshold prunes every pair).
        # doc_id keeps the CALLER's id type — pagerank is generic over
        # it, and a hardcoded long would diverge from the non-empty
        # path for string/int ids (r11 review finding)
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("doc_id", edges.schema["doc_a"].dataType),
                T.StructField("rank", T.DoubleType()),
            ]
        )
        return edges.sparkSession.createDataFrame([], schema)
    base = (1.0 - damping) / n_nodes
    # The (src, dst, deg) adjacency is loop-invariant: join it ONCE,
    # hash-partition by the rank-lookup key, and persist — the cached
    # plan keeps its REPARTITION_BY_NUM partitioning (a localCheckpoint
    # would report UnknownPartitioning under AQE and re-shuffle the edge
    # side every round; same A/B as connected_components). Before this
    # hoist every round re-ran both⋈deg and re-shuffled the edge table.
    # Lineage above adj is flat (scans of the both/deg checkpoints), so
    # persist cannot re-trigger the per-round plan-growth problem.
    adj = both.join(deg, "src").select("src", "dst", "deg")
    n_shuffle = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    adj = adj.repartition(n_shuffle, "src").persist()
    adj.count()
    ranks = None  # None ⇒ implicit uniform 1/N ranks (round 1 inlined)

    def one_iter(prev_ranks):
        """One power-iteration round as a LAZY frame (no action).

        Every node of the symmetric edge list has in-edges, so the
        inflow agg's key set IS the node set — the old left-join back
        to the previous ranks (and its coalesce(inflow, 0.0)) was a
        per-round shuffle that could never fire its null arm. The
        contribution stays rank/deg (NOT rank·(1/deg)): the recursive-
        CTE oracles replay that exact IEEE division edge-by-edge.

        prev_ranks None ⇒ round 1 inlined: every rank is the SAME
        literal 1/N, so the rank join is the identity — contribute
        lit(1/N)/deg straight off the adjacency. Same IEEE division
        (the literal is the identical double the init frame carried);
        saves the init-rank checkpoint and the first join round.
        """
        if prev_ranks is None:
            contrib = adj.select(
                "dst", (F.lit(1.0 / n_nodes) / F.col("deg")).alias("c")
            )
        else:
            contrib = adj.join(prev_ranks, adj.src == prev_ranks.node).select(
                "dst", (F.col("rank") / F.col("deg")).alias("c")
            )
        return (
            contrib
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(base) + F.lit(damping) * F.col("inflow")).alias("rank"),
            )
        )

    # Chain `chain` power-iteration rounds into ONE plan before the
    # eager per-chunk checkpoint (r15: the checkpoint is the only
    # per-round action — two rounds per job halves driver round-trips;
    # the intermediate round is a lazy subtree evaluated exactly once
    # inside the same job, and the arithmetic is the identical
    # IEEE sequence round by round).
    rounds_done = 0
    while rounds_done < max_iter:
        step = min(chain, max_iter - rounds_done)
        frame = ranks
        for _ in range(step):
            frame = one_iter(frame)
        new_ranks = pin(frame, eager=True)
        rounds_done += step
        if ranks is not None:
            _release_local_checkpoint(ranks)  # stale round, no consumer
        ranks = new_ranks
    if ranks is None:
        # max_iter == 0: the uniform initialization (kept lazy over the
        # still-live deg checkpoint — nothing to truncate)
        ranks = deg.select(
            F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("rank")
        )
        adj.unpersist()
        _release_local_checkpoint(both)
        return ranks.select(F.col("node").alias("doc_id"), "rank")
    # final ranks are pinned; the adjacency cache and the edge/degree
    # pins that fed it have no consumer left
    adj.unpersist()
    _release_local_checkpoint(both)
    _release_local_checkpoint(deg)
    return ranks.select(F.col("node").alias("doc_id"), "rank")


def near_match_values(
    df: DataFrame,
    col: str,
    max_dist: int = 3,
    block_chars: int = 4,
    block: str = "suffix",
) -> DataFrame:
    """Edit-distance near-match over an attribute's VALUE DOMAIN:
    distinct values of ``col``, blocked by a prefix or suffix key,
    pairwise Levenshtein within each block, pairs within ``max_dist``
    kept — the catalog-harmonization primitive ("small bolt" vs "red
    bolt") that complements the document-scale PPJoin family.

    Scale: the distinct collapses a 100 TB fact column to its value
    domain (attribute domains are bounded — thousands, not billions),
    and blocking keeps the quadratic verify inside blocks. Like
    SimHash banding, recall is scoped by design: only same-block pairs
    are candidates; pick the block end where values AGREE (for
    adjective-noun domains that is the suffix — edits concentrate in
    the head word), and widen by unioning both block keys if needed.
    ``levenshtein`` is a JVM intrinsic — no Python boundary — and
    its ``max_dist`` bound lets it stop early, returning -1 for pairs
    beyond it.
    """
    vals = df.select(F.col(col).alias("val")).distinct()
    blk = (
        F.expr(f"right(val, {block_chars})")
        if block == "suffix"
        else F.substring("val", 1, block_chars)
    )
    blocked = vals.withColumn("_blk", blk)
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk")) & (F.col("a.val") < F.col("b.val")),
        )
        .select(
            F.col("a.val").alias("val_a"),
            F.col("b.val").alias("val_b"),
            F.levenshtein("a.val", "b.val", max_dist).alias("dist"),
        )
        .where(F.col("dist") >= 0)
    )


def containment_join(
    documents: DataFrame, n: int = 3, threshold_pct: int = 60
) -> DataFrame:
    """ASYMMETRIC containment self-join: pairs (a, b) where at least
    ``threshold_pct`` % of a's n-gram set appears in b — excerpt /
    quotation / inclusion detection, the dedup-family member symmetric
    Jaccard cannot express (a 100-word quote inside a 10k-word doc has
    tiny Jaccard but full containment).

    Lossless prefix filter, containment form: if |G_a ∩ G_b| ≥ t·|G_a|
    then a can miss at most ⌊(1−t)·|G_a|⌋ of its own grams, so its
    first ⌊(1−t)·|G_a|⌋+1 grams in a fixed global order must hit G_b.
    Candidates therefore join a's PREFIX against b's FULL gram postings
    (the right side cannot be prefix-pruned in the asymmetric case).
    The global order is ascending document frequency (rarest first), so
    prefix grams are precisely the rare ones and the candidate volume
    Σ_{g∈prefix} df(g) stays small — the same inverted-index shape as
    :func:`~dumbo_spark.operators.textstats.posting_lists`. Exact
    verification intersects the full gram sets JVM-side.
    """
    num, den = threshold_pct, 100
    # Persist the UNFILTERED gram projection and filter the CACHED
    # frame (r15): `.where(_n > 0)` above the persist was pushed below
    # the projections by Catalyst, inlining the whole tokenize→ngram→
    # distinct chain into the Filter condition — and inside the ngram
    # transform lambda the token array itself is re-inlined PER ELEMENT
    # (no CSE through HOF lambdas), turning the cache build into an
    # O(tokens²) pass. Measured at sf0.1: filtered persist+count
    # 16-32 s vs 1.4-3.7 s unfiltered; persist-then-filter 1.5-1.9 s
    # warm with identical downstream rows (the filter now reads the
    # cached _n column). The cache holds the few zero-gram rows too —
    # bytes, not a scale concern.
    g_all = (
        documents.select("doc_id", tokens("text").alias("_toks"))
        .select("doc_id", F.array_distinct(ngrams(F.col("_toks"), n)).alias("_grams"))
        .withColumn("_n", F.size("_grams"))
        .persist()
    )
    g = g_all.where(F.col("_n") > 0)
    gram_df = (
        g.select(F.explode("_grams").alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
    )
    exploded = g.select("doc_id", "_n", F.explode("_grams").alias("gram"))
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    prefix_len = F.floor((F.lit(den - num) * F.col("_n")) / den) + 1
    left_prefix = (
        exploded.join(gram_df, "gram")
        .withColumn("_pos", F.row_number().over(w))
        .where(F.col("_pos") <= prefix_len)
        .select(F.col("doc_id").alias("doc_a"), F.col("_n").alias("_na"), "gram")
    )
    right_all = exploded.select(F.col("doc_id").alias("doc_b"), "gram")
    cand = (
        left_prefix.join(right_all, "gram")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = (
        cand.join(
            g.select(F.col("doc_id").alias("doc_a"), F.col("_grams").alias("_ga"),
                     F.col("_n").alias("_na")),
            "doc_a",
        )
        .join(
            g.select(F.col("doc_id").alias("doc_b"), F.col("_grams").alias("_gb")),
            "doc_b",
        )
        .withColumn("_c", F.size(F.array_intersect("_ga", "_gb")))
        .where(F.lit(den) * F.col("_c") >= F.lit(num) * F.col("_na"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("_c").cast("double") / F.col("_na"), 6).alias("containment"),
        )
    )
    # same cache-release pattern as fuzzy_join_jaccard: the gram table
    # feeds four branches; materialize the (matched pairs only) result
    # eagerly and drop the corpus-sized cache
    result = verified.persist()
    result.count()
    g_all.unpersist()
    return result


def canonical_per_cluster(documents: DataFrame) -> DataFrame:
    """Canonical-document selection over exact-Jaccard duplicate
    clusters: for every multi-member cluster, keep the longest document
    (``n_chars`` DESC, ``doc_id`` ASC tie-break) and report what was
    dropped — the pipeline step AFTER clustering that actually decides
    which bytes survive into a training corpus.

    Composition: :func:`jaccard_ngram_pairs` (exact pair set) →
    :func:`connected_components` (cluster labels) → one small window
    over clusters for the arg-max. The window partitions by cluster_id,
    whose groups are near-dup cliques (tiny by construction), so the
    rank never sees a skewed partition; everything upstream inherits
    the PPJoin/CC scale arguments.
    """
    pairs = jaccard_ngram_pairs(documents).select("doc_a", "doc_b")
    clusters = connected_components(pairs)  # (doc_id, cluster_id)
    members = clusters.join(
        documents.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = members.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.min(F.when(F.col("_rk") == 1, F.col("doc_id"))).alias("canonical_doc"),
            F.min(F.when(F.col("_rk") == 1, F.col("n_chars"))).alias("canonical_chars"),
            (F.count("*") - F.lit(1)).alias("n_dropped"),
        )
        .where(F.col("n_members") >= 2)
    )


def incremental_dedup(
    corpus: DataFrame, batch: DataFrame
) -> DataFrame:
    """Incremental ingest dedup: admit only the documents of a NEW
    batch whose normalized content is (a) not already in the existing
    corpus and (b) not a duplicate within the batch itself (first
    doc_id wins) — the daily-ingest pattern where 100 TB of history is
    NEVER rescanned; only its (hash → keep) fingerprint table, a few
    bytes per document, joins against the new partition.

    Plan: batch-side hash + min(doc_id) partial agg, then a left-anti
    equi-join on 16-byte md5 keys against the corpus fingerprints.
    Both sides shuffle on the hash only; at scale the fingerprint table
    is the materialized output of yesterday's run (append-only), so
    the marginal cost is O(|batch|), not O(|corpus|).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\W+", " "))
    fingerprint = lambda df: df.select(
        F.md5(norm.cast("binary")).alias("norm_hash"), "doc_id"
    )
    batch_first = (
        fingerprint(batch)
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("admit_id"), F.count("*").alias("n_in_batch"))
    )
    corpus_hashes = fingerprint(corpus).select("norm_hash").distinct()
    return batch_first.join(corpus_hashes, "norm_hash", "left_anti")


def incremental_dedup_pruned(
    corpus: DataFrame, batch: DataFrame, bucket_bits: int = 20
) -> DataFrame:
    """:func:`incremental_dedup` with a BLOOM-STYLE pre-shuffle prune
    of the corpus fingerprint side (VERDICT r7 #7 — the 100 TB
    fingerprint table's natural companion).

    The plain anti-join shuffles the ENTIRE corpus fingerprint table
    on every ingest, even though only hashes colliding with today's
    batch can possibly matter. The prune is a one-hash Bloom filter
    expressed as pure JVM-side DataFrame ops: the batch's distinct
    ``pmod(xxhash64(norm_hash), 2^bucket_bits)`` bucket ids (a set
    BOUNDED at 2^bucket_bits longs — 8 MB at the default 20 bits, no
    matter how large the batch) broadcast to a left-semi join that
    drops every corpus fingerprint whose bucket no batch hash
    occupies, BEFORE the anti-join's shuffle. Equal hashes hash to
    equal buckets, so the pruned corpus is a superset of the true
    matches; false positives (~|corpus|·|batch_buckets|/2^bits rows)
    merely ride into the exact anti-join, which removes them —
    semantics are identical to the unpruned form, which is why the
    two share one oracle definition.

    At scale: shuffle volume drops from O(|corpus|) to
    O(|batch| + |corpus| · fp_rate); with a 1 B-row corpus, a 10 M-row
    batch and 20 bucket bits, ~99% of the fingerprint shuffle
    disappears. This is the manual form of Spark's runtime bloom
    filter (spark.sql.optimizer.runtime.bloomFilter.*), kept explicit
    so the prune is visible in the plan (broadcast left-semi on the
    bucket key — asserted in tests/test_plans.py).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\W+", " "))
    fingerprint = lambda df: df.select(  # noqa: E731
        F.md5(norm.cast("binary")).alias("norm_hash"), "doc_id"
    )
    n_buckets = 1 << bucket_bits
    bucket = lambda c: F.pmod(F.xxhash64(c), F.lit(n_buckets))  # noqa: E731
    batch_first = (
        fingerprint(batch)
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("admit_id"), F.count("*").alias("n_in_batch"))
    )
    batch_buckets = batch_first.select(
        bucket(F.col("norm_hash")).alias("_bucket")
    ).distinct()
    corpus_pruned = (
        fingerprint(corpus)
        .select("norm_hash")
        .join(
            F.broadcast(batch_buckets),
            bucket(F.col("norm_hash")) == F.col("_bucket"),
            "left_semi",
        )
    )
    return batch_first.join(corpus_pruned, "norm_hash", "left_anti")


def substring_dup_pairs(
    documents: DataFrame,
    window_tokens: int = 20,
    stride: int = 1,
    max_df: int = 50,
) -> DataFrame:
    """EXACT SUBSTRING-level duplication (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" method,
    token-window form): two documents are substring-dups when they
    share a verbatim ``window_tokens``-token span, even if the rest of
    the documents differ completely — the duplication mode that
    document-level Jaccard/MinHash/SimHash all under-detect (a long
    quote inside otherwise-novel text moves doc-level Jaccard barely
    at all).

    Plan: token windows at EVERY position (stride=1 default —
    O(len) windows, the same row budget as the repo's other n-gram
    operators) → md5 window fingerprints → distinct (doc, window) →
    document-frequency band ``2 ≤ df ≤ max_df`` → equi-self-join
    WITHIN window groups → per-pair shared-window count. The df cap is
    the posting-list lesson: a window shared by thousands of docs is
    boilerplate (licence headers, navigation chrome), pairing it is
    O(df²) noise — the cap bounds every join group AND the skew of the
    window key in one stroke. Everything is JVM-side column work; the
    token array is materialized in its own projection before the
    window transform (the O(len²) inline-tokens trap,
    ngram_novelty_rate lesson).

    ``stride > 1`` subsamples positions for cheapness but FORFEITS the
    detection guarantee: both docs sample span-relative offsets modulo
    the stride, so a shared span whose start positions differ by a
    non-multiple of the stride produces NO common window however long
    the span is (winnowing exists to fix exactly this; stride=1 needs
    no fix). Only stride=1 gives the exact Lee-et-al. semantics —
    every shared ``window_tokens``-token span is caught.

    At 100 TB: total windows ≈ corpus_tokens, shuffled once on the
    16-byte hash; join groups are ≤ max_df rows. No pairwise scan
    anywhere.

    Output: (doc_a, doc_b, n_shared_windows), doc_a < doc_b.
    """
    w = window_tokens
    toked = documents.select("doc_id", tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= w
    )
    pos = F.sequence(F.lit(1), F.size("toks") - F.lit(w - 1), F.lit(stride))
    # lazy checkpoints (r15, guide §2.4): without them the audited plan
    # evaluated the tokenize→explode→md5→distinct subtree FOUR times (4
    # parquet scans: once per df-band branch × once per self-join side).
    # uw pins the corpus pass; banded pins the df-band join so the a/b
    # self-join reads a cached frame instead of re-running it per side.
    uw = pin(
        toked.select("doc_id", "toks", F.explode(pos).alias("p"))
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("p"), w))).alias(
                "wh"
            ),
        )
        .distinct()
    )
    banded = pin(
        uw.join(
            uw.groupBy("wh")
            .agg(F.count("*").alias("_df"))
            .where((F.col("_df") >= 2) & (F.col("_df") <= max_df))
            .select("wh"),
            "wh",
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.wh") == F.col("b.wh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_windows"))
    )


def substring_dedup_trim(
    documents: DataFrame, window_tokens: int = 20
) -> DataFrame:
    """The REMOVAL half of exact substring dedup (Lee et al. 2022's
    ExactSubstr dedup actually *excises* the duplicated span, it
    doesn't just report pairs — :func:`substring_dup_pairs` is the
    detection half, this is the trim): every token position covered by
    a verbatim ``window_tokens``-token span that also appears in an
    earlier document (min doc_id keeps ALL its occurrences — the
    deterministic "first document wins" rule) is removed, and each
    document is re-emitted from its surviving tokens in order.

    Plan (r15 — interval-merge rewrite, VERDICT r14 #3): token windows
    at every position → md5 fingerprints → per-window (keeper=min
    doc_id, distinct-doc df) aggregate → duplicated-window START
    positions in non-keeper docs → per-doc gaps-and-islands merge of
    the overlapping ``[p, p+w)`` spans (lag/sum over a doc_id window —
    bounded by occurrences, never ×w) → the few merged intervals per
    doc collect into an array → ONE doc-keyed join back to the token
    arrays, where the excision runs entirely JVM-side with
    higher-order functions: ``filter(positions, i → ¬exists(ivs,
    s≤i≤e))`` then ``transform``+``concat_ws`` re-emit the survivors
    in order. No covered-position explode, no positional anti-join,
    no collect_list reassembly — the r14 plan's one superlinear stage
    (×w occurrence explode before distinct: 0.099→18.3→58.9 MB at
    1×/10×/30×) is gone; the covered stage now shuffles the merged
    intervals, which track duplicated-window OCCURRENCES. Unlike the
    pair detector, no ``max_df`` cap is needed: removal never forms
    pairs — each occurrence joins one per-window stats row, so a
    boilerplate window shared by 10⁴ docs costs 10⁴ linear rows, not
    10⁸ pairs, and boilerplate is precisely what the trim SHOULD
    remove from every non-keeper.

    At 100 TB: shuffle ledger is (1) the window-hash aggregate over
    ~corpus_tokens fingerprint rows, (2) the duplicated-start rows
    shuffled ONCE on doc_id (the islands window, the interval groupBy,
    and the per-doc collect all reuse that partitioning — Catalyst's
    EnsureRequirements accepts the doc_id hash for the (doc_id, isl)
    clustering), and (3) the corpus shuffled once on doc_id for the
    final join. The corpus is tokenized twice (fingerprints + final
    rejoin) — down from 3× in the r14 shape (ADVICE r14); Catalyst
    does not dedupe the subtree, so the scan cost model is 2× scan +
    2× tokenize, each linear. The per-token ``exists`` probe is
    O(merged_intervals_per_doc), small by construction since merging
    collapses every overlapping boilerplate run to one interval. No
    window function over a global key, no driver materialization.

    Output: (doc_id, n_tokens, n_removed, kept_text) for EVERY input
    document — kept_text is the whitespace-normalized token rejoin
    (identical normalization to the tokenizer, so untouched docs
    round-trip as their token stream, and a fully-duplicated doc
    becomes the empty string rather than vanishing). Bit-identical to
    the r14 anti-join formulation (the DuckDB oracle keeps that shape
    as the independent recomputation).
    """
    w = window_tokens
    # lazy checkpoint (r15): toked feeds the fingerprint pass AND the
    # final rejoin — pinning it halves the tokenize work (one corpus
    # scan, one regex tokenization)
    toked = pin(
        documents.select(
            "doc_id", tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks")
        )
    )
    # lazy checkpoint (r15, guide §2.4): occ feeds stats AND the
    # starts join-back — the band side is an aggregate of the base,
    # so no exchange reuse fires and the fingerprint pass ran
    # twice. With toked also pinned (below the fn's entry), the
    # ledger is ONE parquet scan + ONE tokenize + ONE fingerprint
    # pass; the materialized frames are what Lee et al.'s
    # ExactSubstr materializes (to disk) at scale.
    occ = pin(
        toked.where(F.size("toks") >= w)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - F.lit(w - 1))
            ).alias("p"),
        )
        .select(
            "doc_id",
            "p",
            F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("p"), w))).alias(
                "wh"
            ),
        )
    )
    stats = occ.groupBy("wh").agg(
        F.min("doc_id").alias("_keeper"),
        F.count_distinct("doc_id").alias("_df"),
    )
    # duplicated-window start positions in non-keeper docs; one row per
    # (doc_id, p) — occ is position-unique and stats is window-unique
    starts = (
        occ.join(stats.where(F.col("_df") >= 2), "wh")
        .where(F.col("doc_id") != F.col("_keeper"))
        .select("doc_id", "p")
    )
    return _excise_covered_spans(toked, starts, w)


def _excise_covered_spans(
    toked: DataFrame, starts: DataFrame, w: int
) -> DataFrame:
    """Shared trim tail (substring_dedup_trim / selfrepeat_trim):
    given the tokenized corpus ``(doc_id, toks)`` and the set of
    covered w-token span STARTS ``(doc_id, p)`` (position-unique per
    doc), merge overlapping spans per doc and re-emit every document
    from its surviving tokens.

    Gaps-and-islands over sorted starts: spans [p, p+w-1] of equal
    width merge iff the next start is within w of the previous (a gap
    of exactly w is contiguous coverage); running sum of breaks is the
    island id. The few merged intervals per doc collect into an array
    and the excision runs JVM-side with higher-order functions — no
    covered-position explode, no positional anti-join. Shuffle ledger:
    starts once on doc_id (window + both groupBys reuse the
    partitioning), corpus once on doc_id for the final join.
    """
    win = Window.partitionBy("doc_id").orderBy("p")
    intervals = (
        starts.withColumn("_lag", F.lag("p").over(win))
        .withColumn(
            "_isl",
            F.sum(
                F.when(
                    F.col("_lag").isNull()
                    | (F.col("p") - F.col("_lag") <= F.lit(w)),
                    0,
                ).otherwise(1)
            ).over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .groupBy("doc_id", "_isl")
        .agg(
            F.min("p").alias("s"),
            (F.max("p") + F.lit(w - 1)).alias("e"),
        )
    )
    ivs = intervals.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("_ivs")
    )
    # excise JVM-side: surviving 1-based positions, then ordered rejoin.
    # sequence(1, 0) would count DOWN, so empty token arrays get an
    # explicit empty positions array; exists() over the coalesced empty
    # interval list is false, keeping every token of untouched docs.
    pos = F.when(
        F.size("toks") > 0, F.sequence(F.lit(1), F.size("toks"))
    ).otherwise(F.array().cast("array<int>"))
    safe_ivs = F.coalesce(F.col("_ivs"), F.array().cast("array<struct<s:int,e:int>>"))
    kept_idx = F.filter(
        pos,
        lambda i: ~F.exists(safe_ivs, lambda iv: (iv["s"] <= i) & (i <= iv["e"])),
    )
    return toked.join(ivs, "doc_id", "left").select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size(kept_idx)).cast("bigint").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(kept_idx, lambda i: F.element_at(F.col("toks"), i)),
        ).alias("kept_text"),
    )


def selfrepeat_trim(documents: DataFrame, window_tokens: int = 10) -> DataFrame:
    """INTRA-document ExactSubstr trim: Lee et al. 2022's suffix-array
    dedup also fires on a span repeated WITHIN one document (templated
    boilerplate, copy-paste runs, degenerate generation loops — the
    self-repetition that length filters miss and
    :func:`substring_dedup_trim` by construction cannot see, since its
    keeper rule is cross-document). Every token position covered by a
    ``window_tokens``-token span whose identical content already
    occurred at an EARLIER position of the same document (keep-first:
    the minimum start position retains its tokens) is removed, and the
    document re-emitted from its surviving tokens in order.

    Plan: per-position window md5 → per-(doc, hash) (first=min p,
    occurrence count) aggregate — keyed on doc_id+hash, so the shuffle
    is corpus_tokens rows partitioned WITH the corpus, never a global
    hash table — → non-first occurrence starts → the shared
    gaps-and-islands merge + JVM-side excision
    (:func:`_excise_covered_spans`). At 100 TB: same ledger as the
    cross-doc trim minus its window-hash global aggregate; repeats
    cost rows proportional to repeated-span occurrences, never pairs.

    Output: (doc_id, n_tokens, n_removed, kept_text) for EVERY input
    document, identical contract to :func:`substring_dedup_trim`.
    """
    w = window_tokens
    # lazy checkpoint (r15): toked feeds the fingerprint pass AND the
    # final rejoin in _excise_covered_spans — pinning it halves the
    # tokenize work (occ itself is referenced once via the window, so
    # it needs no pin here)
    toked = pin(
        documents.select(
            "doc_id", tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks")
        )
    )
    occ = (
        toked.where(F.size("toks") >= w)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - F.lit(w - 1))
            ).alias("p"),
        )
        .select(
            "doc_id",
            "p",
            F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("p"), w))).alias(
                "wh"
            ),
        )
    )
    # r15 optimization: non-first occurrences via ONE window over
    # (doc_id, wh) instead of groupBy + join-back — the join form
    # evaluated the tokenize→explode→md5 subtree twice (Catalyst does
    # not dedupe it) and paid two shuffles. `p > min(p) over (doc, wh)`
    # is exactly "has an earlier identical occurrence" (it implies the
    # old `_n >= 2` — another position exists). The window partition is
    # one document's repeats of one hash — bounded by doc length, never
    # corpus-skewed (unlike the cross-doc trim, whose per-hash groups
    # are corpus-wide and keep the partial-agg groupBy form).
    win = Window.partitionBy("doc_id", "wh")
    starts = (
        occ.withColumn("_first", F.min("p").over(win))
        .where(F.col("p") > F.col("_first"))
        .select("doc_id", "p")
    )
    return _excise_covered_spans(toked, starts, w)


def winnowed_dup_pairs(
    documents: DataFrame,
    gram_tokens: int = 8,
    winnow_k: int = 4,
    max_df: int = 50,
) -> DataFrame:
    """Substring-dup pairs via WINNOWING fingerprints (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003 — the MOSS algorithm): per
    document, hash every ``gram_tokens``-token gram, then keep only
    the MINIMUM hash of each ``winnow_k``-length window of consecutive
    gram hashes. The min-selection is alignment-ROBUST — both copies
    of a shared span contain the same gram hashes in the same order,
    so they select the same minima wherever the span starts — which is
    exactly what fixed-stride subsampling cannot guarantee (see
    :func:`substring_dup_pairs`'s stride caveat). Guarantee: every
    shared span of at least ``gram_tokens + winnow_k - 1`` tokens
    yields at least one common fingerprint; density is ~2/(winnow_k+1)
    of the gram count (measured 0.39 at the 8/4 default — the
    theoretical 0.4), so the index is ~2.5× smaller than
    every-position fingerprints at a slightly coarser span guarantee
    (11 tokens here vs 20 exact).

    Plan: materialized token array → per-position gram md5 → sliding
    window MIN over gram order WITHIN each document (partitioned by
    doc_id — bounded by document length, never data-sized) → distinct
    (doc, fingerprint) → df band ``2 ≤ df ≤ max_df`` (boilerplate cap
    + join-group bound, as in :func:`substring_dup_pairs`) →
    equi-self-join per fingerprint. At 100 TB the fingerprint table is
    ~2/(k+1) · corpus_tokens rows, shuffled once on the hash.

    Output: (doc_a, doc_b, n_shared_fps), doc_a < doc_b.
    """
    w, k = gram_tokens, winnow_k
    toked = documents.select("doc_id", tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= w + k - 1
    )
    pos = F.sequence(F.lit(1), F.size("toks") - F.lit(w - 1))
    grams = toked.select(
        "doc_id",
        (F.size("toks") - F.lit(w - 1)).alias("n_grams"),
        "toks",
        F.explode(pos).alias("p"),
    ).select(
        "doc_id",
        "n_grams",
        "p",
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("p"), w))).alias("gh"),
    )
    win = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, k - 1)
    # lazy checkpoints (r15): same 4×-evaluation fix as
    # substring_dup_pairs — the gram/winnow subtree ran once per
    # df-band branch × once per self-join side
    uf = pin(
        grams.select(
            "doc_id",
            "p",
            "n_grams",
            F.min("gh").over(win).alias("fp"),
        )
        # the last k-1 positions see truncated windows; drop them so
        # every fingerprint is the min of a FULL k-window (matches the
        # oracle's p <= n_grams - (k-1) cut)
        .where(F.col("p") <= F.col("n_grams") - F.lit(k - 1))
        .select("doc_id", "fp")
        .distinct()
    )
    banded = pin(
        uf.join(
            uf.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .where((F.col("_df") >= 2) & (F.col("_df") <= max_df))
            .select("fp"),
            "fp",
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_fps"))
    )


def cluster_size_histogram(components: DataFrame) -> DataFrame:
    """Duplicate-cluster size distribution: how many clusters have 2,
    3, ... members — the dedup triage view (a fat head of giant
    clusters means boilerplate/template content; a long tail of pairs
    means true near-dups). Two partial aggs over the CC labeling;
    bounded by |clusters| then |distinct sizes|."""
    sizes = components.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))


def dedup_recall_checked(
    documents: DataFrame,
    jaccard_threshold: float = 0.7,
    bound: float = 0.8,
) -> DataFrame:
    """MinHash-LSH near-dup recall as an oracle-checkable boolean
    (VERDICT r4 #6 applied to the fuzzy-dedup family): the exact
    PPJoin pair set at ``jaccard_threshold`` is the ground truth the
    oracle can compute in SQL; the LSH→verify pipeline
    (:func:`dedup_fuzzy_verified`) must recover at least ``bound`` of
    it. Verified pairs are a subset of the exact set by construction
    (the verify step recomputes exact shingle Jaccard), so the
    hit-join is a containment count. On the fixtures the pipeline's
    recall is 1.0 at every scale; the 0.8 gate leaves margin for
    banding-geometry edits without ever passing a broken index.

    Output: (n_exact_pairs, recall_ok) — one row.
    """
    ex = (
        jaccard_ngram_pairs(
            documents, threshold_pct=int(jaccard_threshold * 100)
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b")
    )
    ver = dedup_fuzzy_verified(documents, jaccard_threshold=jaccard_threshold).select(
        "doc_a", "doc_b"
    )
    # one pass over the exact pair set: the old (count-agg ⨯ hit-join)
    # shape evaluated the whole PPJoin subtree twice (Catalyst does not
    # dedupe subtrees across crossJoin branches — 16 exchanges in the
    # audited plan); a left join against the (pair-unique) verified set
    # folds count and hit-count into one aggregate over one evaluation
    ex_hits = ex.join(
        ver.withColumn("_h", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).agg(
        F.count("*").alias("n_exact_pairs"),
        F.count("_h").alias("_hits"),
    )
    return ex_hits.select(
        "n_exact_pairs",
        (F.col("_hits") >= F.lit(bound) * F.col("n_exact_pairs")).alias(
            "recall_ok"
        ),
    )


def simhash_recall_checked(
    documents: DataFrame,
    jaccard_threshold: float = 0.9,
    bound: float = 0.4,
) -> DataFrame:
    """SimHash near-dup recall as an oracle-checkable boolean — the
    last sketch-tier member without a `_checked` sibling (VERDICT r4
    #6 pattern, completed round 6): the exact PPJoin pair set at
    ``jaccard_threshold`` is the SQL-computable ground truth, and the
    SimHash 4×16-band candidate→Hamming≤3 pipeline
    (:func:`dedup_simhash`) must recover at least ``bound`` of it.

    The bound is deliberately loose (measured recall on the fixtures
    is 0.60 flat across Jaccard 0.7/0.8/0.9): SimHash at Hamming ≤ 3
    of 64 bits is a much tighter similarity cut than token Jaccard —
    its GUARANTEE is only "all pairs within 3 signature bits", and
    word-reordered or partially-edited near-dups can legitimately land
    outside it. 0.4 still fails a broken signature or banding while
    leaving ~5 pair-flips of margin (ADVICE r5 margin discipline).
    Both sides are deterministic (seeded xxhash64 signatures, exact
    PPJoin), so the boolean is run-stable for fixed fixtures.

    Output: (n_exact_pairs, recall_ok) — one row.
    """
    ex = (
        jaccard_ngram_pairs(
            documents, threshold_pct=int(jaccard_threshold * 100)
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b")
    )
    sim = dedup_simhash(documents).select("doc_a", "doc_b")
    # single evaluation of the PPJoin subtree (same fold as
    # dedup_recall_checked): left-join the pair-unique SimHash set and
    # aggregate count + hits in one pass
    ex_hits = ex.join(
        sim.withColumn("_h", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).agg(
        F.count("*").alias("n_exact_pairs"),
        F.count("_h").alias("_hits"),
    )
    return ex_hits.select(
        "n_exact_pairs",
        (F.col("_hits") >= F.lit(bound) * F.col("n_exact_pairs")).alias(
            "recall_ok"
        ),
    )


def dedup_report(documents: DataFrame) -> DataFrame:
    """Executive duplication summary — one row per DETERMINISTIC dedup
    method (exact, normalized, exact n-gram Jaccard), each with the
    corpus-level duplicate count and rate. The one-glance report a
    corpus owner reads before deciding which dedup tier to pay for;
    composes the existing operators so the numbers can never diverge
    from the per-method queries. (MinHash/SimHash tiers are excluded:
    their outputs are probabilistic and carry recall checks instead —
    see dedup_recall_checked.)

    Output: (method, n_docs, n_duplicates, dup_rate) — 3 rows.
    """
    # r16 NOT-OPTIMIZED (VERDICT r15 Next #3 tried and REVERTED): a
    # lazy localCheckpoint of the pruned (doc_id, text) frame feeding
    # all three tiers measured SLOWER — interleaved cross-tree A/B,
    # 5 rounds, medians 5.97s (recompute) vs 6.92s (checkpoint), with
    # pathological 15-52s cold runs on the checkpointed form. Same
    # failure mode as r15's lang_source_contingency/bm25 reverts:
    # caching the raw corpus-width text column costs more memory
    # traffic than the three cheap pruned zstd-parquet scans it saves,
    # and the checkpoint barrier hides sizes from AQE for everything
    # built on top. The three tiers deliberately re-scan.
    total = documents.agg(F.count("*").alias("_n"))

    def row(method: str, dups: DataFrame) -> DataFrame:
        return (
            dups.agg(F.coalesce(F.sum("_d"), F.lit(0)).alias("n_duplicates"))
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(method).alias("method"),
                F.col("_n").alias("n_docs"),
                "n_duplicates",
                F.round(
                    F.col("n_duplicates").cast("double") / F.col("_n").cast("double"),
                    6,
                ).alias("dup_rate"),
            )
        )

    exact = dedup_exact(documents).select((F.col("n_copies") - 1).alias("_d"))
    norm = dedup_normalized(documents).select((F.col("n_copies") - 1).alias("_d"))
    # Jaccard tier: docs that appear in ANY >=0.6 near-dup pair, minus
    # one keeper per connected group is cluster work — report the
    # simpler, well-defined "docs involved in at least one pair" count
    jac_docs = (
        jaccard_ngram_pairs(documents)
        .select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .select(F.lit(1).alias("_d"))
    )
    return (
        row("exact", exact)
        .unionByName(row("normalized", norm))
        .unionByName(row("jaccard_pair_member", jac_docs))
    )


def near_dup_rate_by_source(documents: DataFrame) -> DataFrame:
    """Per-source near-duplication exposure: how many of a source's
    documents sit in at least one exact-Jaccard (≥0.6) near-dup pair —
    the triage view that says WHICH feed is flooding the corpus with
    boilerplate (pairs with dedup_by_source's exact-hash view).

    The pair set is the lossless PPJoin; membership collapses it to
    distinct doc ids before the source join, so fan-out never reaches
    the rollup.

    Output: (source, n_docs, n_near_dup_docs, near_dup_rate).
    """
    members = (
        jaccard_ngram_pairs(documents)
        .select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("_m", F.lit(1))
    )
    return (
        documents.select("doc_id", "source")
        .join(members, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("_m").alias("n_near_dup_docs"),
        )
        .withColumn(
            "near_dup_rate",
            F.round(
                F.col("n_near_dup_docs").cast("double") / F.col("n_docs").cast("double"),
                6,
            ),
        )
    )
