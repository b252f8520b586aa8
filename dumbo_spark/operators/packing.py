"""Training-sequence assembly operators — packing and token budgets.

The last mile of an LLM data pipeline: after dedup/filter/mix, the
corpus is concatenated into fixed-size context windows ("sequence
packing") or cut to an exact token budget. Dumbo-era pipelines did
this with a final single-reducer pass over the whole corpus
(dumbo/lib sumreducer over a global key — the one-reducer bottleneck);
here both ops are expressed so NO task ever sees more than one hash
bucket of one source.

Determinism contract (same as operators/sampling.py): document order
is the fixed pseudo-random permutation (md5 bucket, md5 key, doc_id) —
a pure function of the keys, so results are stable across runs,
partitionings, and engines, and therefore oracle-checkable.

Scale shape: a naive global cumulative sum is a single total-order
window task — the exact thing that dies at 100 TB. Both operators
instead use the two-phase terasort-style prefix sum:

1. partial aggregate per (source, bucket) — tiny frame, |sources|·B
   rows regardless of corpus size;
2. running offsets across buckets on that tiny frame (window over
   k·B rows — trivially one task, bytes not terabytes);
3. broadcast-join the offsets back and window WITHIN each
   (source, bucket) — thousands of independent, bounded tasks.

The same shape as operators/topk.py::bucketed_quartiles (exact global
order statistics without a global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dumbo_spark.functions.text import tokens
from dumbo_spark.operators._checkpoint import pin
from dumbo_spark.operators.sampling import _md5_bucket, sql_md5_bucket

#: The shared context-window token budget (ADVICE r9): greedy_pack_bins,
#: its streaming twin (streaming/stateful._update_packing), the replay
#: runner's bin_slack, and the shared recursive-CTE oracle must all
#: agree on this number — change it HERE, nowhere else.
PACK_BUDGET = 256

#: whitespace-token counting shared by both ops (= len(text.tokens))
def _n_tokens() -> F.Column:
    return F.size(tokens("text"))


def _auto_buckets(df: DataFrame) -> int:
    """Default shard count for the packing permutation when the caller
    doesn't pin one (VERDICT r9 Next #3): the session's
    shuffle-partition setting, floored at 8 — so per-(source, bucket)
    fold/window task size tracks cluster sizing instead of a constant
    that silently folds corpus/(sources·8) rows into one Arrow task at
    100 TB. Callers that need a REPRODUCIBLE permutation (bucket count
    changes the deterministic order, hence results) must pin
    ``buckets`` explicitly — every registry/oracle wrapper does."""
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = 0  # e.g. "auto" under AQE-managed partitioning
    return max(8, n)


def _doc_perm(documents: DataFrame, buckets: int | None = None) -> DataFrame:
    """Documents annotated with the deterministic permutation keys:
    (source, bucket, md5 key) plus the per-doc token count. The scan
    prunes to (doc_id, source, text)."""
    if buckets is None:
        buckets = _auto_buckets(documents)
    return documents.select(
        "doc_id",
        "source",
        _n_tokens().alias("n_tokens"),
        _md5_bucket(F.col("doc_id"), buckets).alias("bucket"),
        F.md5(F.col("doc_id").cast("string")).alias("_k"),
    )


def sequence_packing(
    documents: DataFrame, budget: int = PACK_BUDGET, buckets: int | None = None
) -> DataFrame:
    """GPT-style sequence packing census: concatenate the corpus in
    deterministic order and split at ``budget``-token boundaries; a
    document belongs to the pack where its FIRST token lands. Returns
    per-pack document counts and token totals.

    Packing is per (source, bucket): each hash bucket of each source is
    an independent stream, so every window task is bounded by one
    bucket (corpus_size / (sources·buckets)) — raise ``buckets`` with
    the corpus; no global order anywhere. This is how a 100 TB corpus
    is packed on 1000 executors: the bucket IS the shard a packing
    worker would own.

    Determinism: cumulative sums of BIGINT token counts in md5-key
    order — integer arithmetic, engine-exact.
    """
    w = Window.partitionBy("source", "bucket").orderBy("_k", "doc_id")
    cum = F.sum("n_tokens").over(w)
    packed = _doc_perm(documents, buckets).withColumn(
        "pack_id", F.floor((cum - F.col("n_tokens")) / F.lit(float(budget)))
    )
    return packed.groupBy("source", "bucket", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


def greedy_pack_bins(
    documents: DataFrame, budget: int = PACK_BUDGET, buckets: int | None = None
) -> DataFrame:
    """First-fit WHOLE-document packing census: walk each (source,
    bucket) stream in the deterministic permutation and place each
    document into the current bin unless it would overflow ``budget``
    tokens, then open a new bin. The no-splitting variant of
    :func:`sequence_packing` — what SFT/instruction-tuning batch prep
    uses when examples must stay intact (T5's "packing", Raffel et al.
    2020 §3.1.2) — and a genuinely different computation class: bin
    boundaries depend on the running remainder, a sequential FOLD that
    no prefix-sum window can express (splitting at fixed boundaries
    can; first-fit cannot, because a doc that overflows resets the
    accumulator to its own length, not to cum % budget).

    Execution: one ``applyInPandas`` fold per (source, bucket) group —
    the documented Arrow-batched stateful-fold site class (like the
    streaming stateful ops), NOT a row-at-a-time UDF. Every task holds
    exactly one bucket of one source (corpus/(sources·B) docs — raise
    ``buckets`` with the corpus, same shard story as
    :func:`sequence_packing`); the per-group Python loop is over the
    already-Arrow-materialized token counts, no per-row serialization.
    The oracle replays the fold as a recursive CTE.

    Oversized documents (n_tokens > budget) ALWAYS occupy a bin alone
    (negative slack) — first-fit never splits, and the new-bin test
    counts documents rather than fill so zero-token neighbors can't
    share an overflow bin. Zero-token documents otherwise join the
    current bin.

    Output: (source, bucket, bin_id, n_docs, bin_tokens, bin_slack)
    where bin_slack = budget − bin_tokens.
    """
    import pandas as pd

    docs = _doc_perm(documents, buckets)

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["_k", "doc_id"]).reset_index(drop=True)
        bin_ids = []
        bin_id, fill, in_bin = 0, 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            # new-bin condition counts DOCS, not fill: a bin holding
            # only zero-token docs is non-empty, so an oversized doc
            # still opens its own bin (hypothesis-found edge: the
            # fill>0 variant let [0-token, oversized] share a bin,
            # breaking the "overflow bin = lone oversized doc"
            # invariant)
            if in_bin > 0 and fill + n > budget:
                bin_id += 1
                fill, in_bin = n, 1
            else:
                fill += n
                in_bin += 1
            bin_ids.append(bin_id)
        pdf["bin_id"] = bin_ids
        return pdf[["source", "bucket", "bin_id", "n_tokens"]]

    placed = docs.groupBy("source", "bucket").applyInPandas(
        pack, "source string, bucket int, bin_id long, n_tokens int"
    )
    return placed.groupBy("source", "bucket", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        (F.lit(budget) - F.sum("n_tokens")).cast("bigint").alias("bin_slack"),
    )


def padding_waste_census(
    documents: DataFrame, batch_size: int = 32, buckets: int | None = None
) -> DataFrame:
    """Dynamic-batching efficiency census: bucket documents by
    power-of-two token-length class, form deterministic batches of
    ``batch_size`` within each (length-class, md5-shard) stream, and
    measure the padding waste of pad-to-batch-max — the statistic that
    decides whether a serving/training stack needs length-bucketed
    batching (the waste of naive random batches) or can skip it.

    Length classes use INTEGER-exact log2: class = number of binary
    digits of n_tokens (``conv(n, 10, 2)`` string length; DuckDB
    ``bin(n)``) — floor(log2 n)+1 without float log2, whose exactness
    at powers of two is not portable across engines. Class b covers
    lengths [2^(b−1), 2^b − 1]; zero-token docs land in class 1
    alongside length-1 docs (bin(0) = '0').

    Batching is per (class, md5-shard): the shard bounds every window
    task at corpus/(classes·B·shards) like the packing ops, and
    mirrors how a data-parallel loader actually batches (each worker
    owns a shard; no global queue). Waste per batch =
    rows·max_len − Σlen; the census aggregates to one row per class.

    Output: (len_class, seq_lo, seq_hi, n_docs, n_batches,
    total_tokens, padded_tokens, waste_pct).
    """
    docs = _doc_perm(documents, buckets).withColumn(
        "len_class", F.length(F.conv(F.col("n_tokens").cast("string"), 10, 2))
    )
    w = Window.partitionBy("len_class", "bucket").orderBy("_k", "doc_id")
    batched = docs.withColumn(
        "batch_idx", F.floor((F.row_number().over(w) - 1) / batch_size)
    )
    per_batch = batched.groupBy("len_class", "bucket", "batch_idx").agg(
        F.count("*").alias("_rows"),
        F.max("n_tokens").alias("_max"),
        F.sum("n_tokens").alias("_sum"),
    )
    pad = F.col("_rows") * F.col("_max")
    return (
        per_batch.groupBy("len_class")
        .agg(
            F.sum("_rows").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_batches"),
            F.sum("_sum").cast("bigint").alias("total_tokens"),
            F.sum(pad).cast("bigint").alias("padded_tokens"),
        )
        .select(
            "len_class",
            F.expr(
                "CAST(IF(len_class > 1, shiftleft(1, len_class - 1), 0)"
                " AS BIGINT)"
            ).alias("seq_lo"),
            F.expr(
                "CAST(shiftleft(1, len_class) - 1 AS BIGINT)"
            ).alias("seq_hi"),
            "n_docs",
            "n_batches",
            "total_tokens",
            "padded_tokens",
            F.when(
                F.col("padded_tokens") > 0,
                F.round(
                    (F.col("padded_tokens") - F.col("total_tokens"))
                    / F.col("padded_tokens"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("waste_pct"),
        )
    )


def token_budget_sample(
    documents: DataFrame, budget: int = 600, buckets: int | None = None
) -> DataFrame:
    """Exact per-source token budget: walk each source's documents in
    the deterministic permutation and keep every document that STARTS
    before the source's cumulative token count reaches ``budget`` (so
    the budget is crossed at most once, by the final kept doc) — the
    "cut the mixture to N tokens per domain" step of corpus assembly.

    Two-phase exact global prefix sum (module docstring): bucket token
    totals (partial agg, |sources|·buckets rows) → running offsets on
    the tiny frame → broadcast back → per-bucket window adds the
    offset. No task ever orders more than one bucket; the offsets
    frame is bytes. A naive ``Window.partitionBy(source)`` would put
    every source's full doc list in one task — correct at sf0.01,
    dead at 100 TB.

    The corpus is scanned twice (bucket totals, then the kept-set
    pass) and tokenization runs in both — at 100 TB, persist the
    ~40-byte/doc ``_doc_perm`` frame between the stages if the
    tokenizer dominates; the plan is otherwise identical.
    """
    docs = _doc_perm(documents, buckets)

    bucket_tot = docs.groupBy("source", "bucket").agg(
        F.sum("n_tokens").alias("_bt")
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_tot.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(w_off), F.lit(0))
    ).select("source", "bucket", "_off")

    w_in = Window.partitionBy("source", "bucket").orderBy("_k", "doc_id")
    cum_in_bucket = F.sum("n_tokens").over(w_in)
    return (
        docs.join(F.broadcast(offsets), ["source", "bucket"])
        .withColumn("cum_tokens", F.col("_off") + cum_in_bucket)
        .where(F.col("cum_tokens") - F.col("n_tokens") < F.lit(budget))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def passage_chunks(
    documents: DataFrame, size: int = 64, stride: int = 32
) -> DataFrame:
    """RAG-style overlapping-chunk census: fixed ``size``-token windows
    every ``stride`` tokens per document — the chunking shape decision
    (size vs stride vs overlap inflation) behind every embedding/
    retrieval index build. Chunk starts at 0, stride, 2·stride, …,
    advancing by ``stride`` until start + size ≥ n_tokens — i.e. the
    walk stops once a chunk reaches the end (the last chunk may be
    short, but no start past the covered end is opened: n=64, size=64,
    stride=32 is ONE chunk).

    Everything is CLOSED-FORM integer arithmetic on the per-doc token
    count — n_chunks = 1 + ⌈max(n−size, 0) / stride⌉, chunk_tokens =
    full chunks · size + the ragged tail — so the census is one
    map-only projection + one aggregate: no explode, no per-chunk rows
    (an explode would multiply a 100 TB corpus by ~n/stride for a
    number the arithmetic already knows). The inflation factor
    (chunk_tokens / n_tokens) is the index-storage multiplier the
    size/stride choice costs.

    Output: one row per source — (source, n_docs, total_tokens,
    total_chunks, chunk_tokens, inflation).
    """
    n = F.col("n_tokens")
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.lit(1) + F.ceil(F.greatest(n - size, F.lit(0)) / F.lit(stride))
    )
    # tokens covered by all chunks, counting overlap: every chunk is
    # `size` long except the last, which is n - stride*(n_chunks-1)
    chunk_toks = F.when(n <= 0, F.lit(0)).otherwise(
        (n_chunks - 1) * F.lit(size) + (n - F.lit(stride) * (n_chunks - 1))
    )
    per = _doc_perm(documents, 1).select(
        "source",
        n.alias("n"),
        n_chunks.alias("nc"),
        chunk_toks.alias("ct"),
    )
    return per.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum("nc").cast("bigint").alias("total_chunks"),
        F.sum("ct").cast("bigint").alias("chunk_tokens"),
        F.when(
            F.sum("n") > 0,
            F.round(F.sum("ct") / F.sum("n").cast("double"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("inflation"),
    )


def interleaved_mix_head(
    documents: DataFrame, head: int = 24, buckets: int | None = None
) -> DataFrame:
    """Deterministic maximally-interleaved training order: round-robin
    across sources in the fixed permutation — position =
    (rank_within_source − 1) · n_sources + source_index. The mixture
    ORDERING step after the mixture WEIGHTS are decided
    (:func:`source_temperature_mix` / :func:`training_mix_epochs`
    choose how much of each source; this decides the sequence, so no
    training window sees a long single-source run — the batch-diversity
    property curriculum studies control for).

    rank_within_source uses the two-phase bucket prefix sum (module
    docstring): per-(source, bucket) counts → running offsets on the
    tiny frame → broadcast back — no task ever orders more than one
    bucket, where a naive Window.partitionBy(source) would put each
    whole source in one task. The position formula needs no shuffle at
    all once ranks exist: it is pure arithmetic on (rank, source_index,
    n_sources), the property that makes the interleave embarrassingly
    parallel at 100 TB. Positions are globally unique by construction;
    after a source exhausts, its residues simply stop appearing.

    Output: the first ``head`` rows of the order — (position, doc_id,
    source).
    """
    docs = _doc_perm(documents, buckets)
    counts = docs.groupBy("source", "bucket").agg(F.count("*").alias("_bc"))
    w_off = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_bc").over(w_off), F.lit(0))
    ).select("source", "bucket", "_off")
    # lazy checkpoint: srcs feeds the count scalar AND the index join
    # — one corpus distinct instead of two (r15 optimization)
    srcs = pin(
        documents.select("source")
        .distinct()
        .withColumn(
            "src_idx",
            F.row_number().over(Window.orderBy("source")) - 1,
        )
    )
    n_src = srcs.agg(F.count("*").alias("_ns"))
    w_in = Window.partitionBy("source", "bucket").orderBy("_k", "doc_id")
    ranked = (
        docs.join(F.broadcast(offsets), ["source", "bucket"])
        .withColumn("_rn", F.col("_off") + F.row_number().over(w_in))
        .join(F.broadcast(srcs), "source")
        .crossJoin(F.broadcast(n_src))
    )
    return (
        ranked.select(
            ((F.col("_rn") - 1) * F.col("_ns") + F.col("src_idx"))
            .cast("bigint")
            .alias("position"),
            "doc_id",
            "source",
        )
        .orderBy("position")
        .limit(head)
    )


def training_mix_epochs(
    documents: DataFrame,
    budget_tokens: int = 2_000_000,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Data-mixture planning table: given a total training-token
    budget and target per-source mix weights, how many EPOCHS
    (repetitions) of each source does the plan imply? The table every
    LLM run publishes next to its corpus recipe (epochs > 1 = the
    source is repeated, < 1 = subsampled) — the planning complement of
    :func:`token_budget_sample` (which CUTS to a budget) and
    sampling.source_mix_rebalance (which rebalances doc counts, not
    tokens).

    epochs_s = (budget · w_s / Σw) / available_tokens_s, 6dp.

    Scale: one partial-agg token count per source (|sources| rows), a
    broadcast weight lookup, pure arithmetic after — a single shuffle
    of k rows regardless of corpus size.

    Output: (source, n_docs, available_tokens, target_tokens, epochs)
    ordered by source.
    """
    weights = weights or {}
    # lazy checkpoint: avail feeds the weight-total scalar AND the final
    # projection — one corpus scan instead of two (r15 optimization)
    avail = pin(
        documents.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(_n_tokens()).alias("available_tokens"),
        )
    )
    if weights:
        w_col = F.coalesce(
            *[
                F.when(F.col("source") == s, F.lit(float(w)))
                for s, w in weights.items()
            ],
            F.lit(0.0),
        )
    else:  # default: uniform across observed sources
        w_col = F.lit(1.0)
    # Fail fast when the weights dict matches no observed source
    # (ADVICE r6): tot_w = 0 would otherwise flow NULL / div-by-zero
    # into target_tokens/epochs silently. raise_error keeps the guard
    # lazy (no driver-side action during construction) and surfaces a
    # clear message at execution time. An EMPTY documents table is NOT
    # that error (ADVICE r7): SUM over zero rows is NULL, not 0, so
    # route NULL to a NULL total — the crossJoin below then yields the
    # empty frame an empty input always produced — and reserve the
    # raise for "rows exist but every weight resolved to 0".
    tot_w = avail.select(w_col.alias("_w")).agg(
        F.sum("_w").alias("_tw_raw")
    ).select(
        F.when(F.col("_tw_raw") > 0, F.col("_tw_raw"))
        .when(F.col("_tw_raw").isNull(), F.lit(None).cast("double"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "training_mix_epochs: weights match no observed "
                    "source (total weight is 0)"
                )
            )
        )
        .alias("_tw")
    )
    return (
        avail.crossJoin(F.broadcast(tot_w))
        .select(
            "source",
            "n_docs",
            "available_tokens",
            F.round(
                F.lit(float(budget_tokens)) * w_col / F.col("_tw"), 4
            ).alias("target_tokens"),
            F.round(
                F.lit(float(budget_tokens))
                * w_col
                / F.col("_tw")
                / F.col("available_tokens").cast("double"),
                6,
            ).alias("epochs"),
        )
    )


def dsir_importance_weights(
    documents: DataFrame,
    target_source: str = "src0",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style hashed-bigram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much its hashed n-gram profile looks
    like a TARGET distribution (here: the ``target_source`` slice)
    relative to the raw corpus — the principled replacement for
    hand-tuned source mixing when you have a small high-quality target
    and a huge raw pool.

    Exactness discipline: the only floating-point operation is ONE
    natural log per occupied bucket, taken of an exact integer ratio
    ``((ct+1)·(Nr+B)) / ((cr+1)·(Nt+B))`` (add-one smoothing folded
    into a single division) and immediately fixed-pointed to integer
    MICRO-units. Per-document aggregation is then a plain integer sum
    — order-independent, partition-independent, and cross-engine
    exact, unlike a per-doc sum of raw doubles. Buckets are the
    engine-neutral md5 convention (operators/sampling.py), so DuckDB
    recomputes identical features.

    Scale: one gram explode (O(corpus tokens)), two bucket-level
    partial aggs (≤ n_buckets rows each — broadcast-sized), one
    broadcast join back, one per-doc integer sum. No shuffle is
    corpus-sized except the gram → bucket partial agg's map-side
    combine output.

    Output: (doc_id, n_grams, log_weight_micro) — docs with ≥ 1 bigram;
    positive log_weight_micro ⇒ more target-like than the raw pool.
    """
    from dumbo_spark.functions.text import ngrams

    b = n_buckets
    # r15: the gram explode previously fed FOUR branches (raw, tgt,
    # totals, final doc join). The conditional-count fold below cuts
    # that to TWO (bucket_counts + the doc join) with plain recomputes —
    # a checkpoint here measured neutral (the exploded gram stream
    # outweighs the corpus it derives from, the posting_lists finding).
    grams = documents.select(
        "doc_id", "source", tokens("text").alias("toks")
    ).select(
        "doc_id",
        "source",
        F.explode(ngrams(F.col("toks"), 2)).alias("gram"),
    ).select(
        "doc_id", "source", _md5_bucket(F.col("gram"), b).alias("bucket")
    )
    # one conditional aggregate replaces the old raw/tgt pair (r15):
    # ct is the target-slice count per bucket (0, not NULL, when the
    # slice is absent — the old left join's coalesce(ct,0) arm), and
    # the corpus totals are exact integer sums of the ≤ n_buckets rows
    bucket_counts = grams.groupBy("bucket").agg(
        F.count("*").alias("cr"),
        F.count(F.when(F.col("source") == target_source, 1)).alias("ct"),
    )
    totals = bucket_counts.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    ratios = (
        bucket_counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.col("ct") + 1) * (F.col("nr") + F.lit(b))).cast("double")
                    / ((F.col("cr") + 1) * (F.col("nt") + F.lit(b))).cast(
                        "double"
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    return (
        grams.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("lr_micro").alias("log_weight_micro"),
        )
    )


def source_temperature_mix(documents: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Temperature-based source sampling weights (the mT5 / XLM-R
    alpha-sampling recipe, Xue et al. 2021 §3.1): raise each source's
    natural token share to ``alpha`` and renormalize, so low-resource
    sources are oversampled and the head source is damped — the
    standard knob for balancing a multi-source training mix.

    Per source: docs, tokens, natural share ``p_i = n_i / N``,
    temperature share ``q_i = p_i^α / Σ_j p_j^α`` (6dp), and the
    oversample factor ``q_i / p_i`` (4dp — > 1 means the source is
    sampled above its natural rate).

    Plan shape: one token-count aggregation keyed by source (partial
    agg — the only pass over the data), then two broadcast scalar
    joins over the sources-sized frame. The normalizer sums
    ``|sources|`` doubles — identical inputs across engines; 6dp
    rounding absorbs summation-order ulps.
    """
    # lazy checkpoints: per feeds the total AND the share frame; p
    # feeds the normalizer AND the final projection — one corpus scan
    # instead of four (r15 optimization)
    per = pin(
        documents.select("source", F.size(tokens("text")).alias("_n"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("_n").alias("n_tokens"))
    )
    tot = per.agg(F.sum("n_tokens").alias("_tot"))
    p = pin(
        per.crossJoin(F.broadcast(tot)).withColumn(
            "_p", F.col("n_tokens") / F.col("_tot")
        )
    )
    z = p.agg(F.sum(F.pow(F.col("_p"), F.lit(alpha))).alias("_z"))
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("_p", 6).alias("p_natural"),
            F.round(F.pow(F.col("_p"), F.lit(alpha)) / F.col("_z"), 6).alias(
                "p_temperature"
            ),
            F.round(
                F.pow(F.col("_p"), F.lit(alpha)) / F.col("_z") / F.col("_p"), 4
            ).alias("oversample_factor"),
        )
        .orderBy("source")
    )


def dsir_topk_selection(documents: DataFrame, k: int = 50) -> DataFrame:
    """The selection head of DSIR importance resampling: rank every
    document by its :func:`dsir_importance_weights` log-ratio and keep
    the top ``k`` — the deterministic "select the most target-like
    slice of the raw pool" step that turns the weights into an actual
    training subset (Xie et al. 2023 sample stochastically; the
    deterministic top-k is the reproducible/oracle-checkable variant
    and the common production shortcut).

    Scale: the weights are one gram pass + bounded bucket aggregates
    (see dsir_importance_weights); the cut is orderBy+limit —
    TakeOrderedAndProject, a per-task k-row heap merged on the driver,
    NO global sort. The rank column is a window over the k-row
    result — bounded by construction.

    Output: (sel_rank, doc_id, n_grams, log_weight_micro), sel_rank
    1..k by (log_weight_micro DESC, doc_id ASC).
    """
    weights = dsir_importance_weights(documents)
    order = [F.col("log_weight_micro").desc(), F.col("doc_id").asc()]
    head = weights.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return head.select(
        F.row_number().over(w).cast("int").alias("sel_rank"),
        "doc_id",
        "n_grams",
        "log_weight_micro",
    )
