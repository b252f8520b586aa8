"""Text operators — dumbo's wordcount/ngramcount idioms plus the
text-analysis extensions a training-data pipeline needs.

Reference surface:

- ``examples/wordcount.py`` (mapper yields (word,1); sumreducer) →
  :func:`wordcount` — THE canonical dumbo program, flagship query.
- ``examples/ngramcount.py`` (sliding n-grams per line) →
  :func:`ngram_count`.
- ``examples/multicount.py`` tagged metrics → see agg.tagged_multicount.

North-star extensions (BASELINE.json; absent in dumbo):

- :func:`doc_token_stats` — token/char statistics per language.
- :func:`lang_id` — n-gram/stopword-heuristic language ID.
- :func:`quality_score` — length/stopword/uniqueness quality scoring.
- :func:`doc_fingerprint` — deterministic document fingerprints.

All of these are pure column expressions (whole-stage codegen,
zero Python boundary). At 100 TB the only shuffle in each is the final
low-cardinality aggregate; tokenization is embarrassingly parallel and
pipelined with the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from dumbo_spark.functions.text import ngrams, tokens
from dumbo_spark.operators._checkpoint import pin

#: tiny per-language stopword lists for the heuristic classifier; ASCII
#: only so Spark (Java regex/lower) and DuckDB (RE2) agree bit-for-bit.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "a"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "se"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "zh": ("de", "le", "shi", "bu", "wo", "you", "zai", "ta"),
}

#: classifier priority order (deterministic tie-break, mirrored in SQL)
LANGS = ("en", "es", "fr", "de", "zh")


def wordcount(documents: DataFrame) -> DataFrame:
    """examples/wordcount.py: tokenize → count per word.

    Dumbo: mapper splits each line, emits (word, 1); sumreducer (with
    itself as combiner) sums. Here: explode(tokens) → groupBy.count —
    Catalyst's partial hash aggregate IS the combiner, and the scan
    reads only the ``text`` column (column pruning).
    """
    return (
        documents.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def ngram_count(documents: DataFrame, n: int = 2) -> DataFrame:
    """examples/ngramcount.py: sliding n-grams per document, counted.

    The token array is materialized in its own projection first:
    Catalyst does not common-subexpression-eliminate through
    higher-order-function lambdas, so inlining ``tokens("text")`` into
    the n-gram transform would re-run split+filter per element access —
    O(len²) per document (measured 20× slower at sf0.1).
    """
    return (
        documents.select(tokens("text").alias("toks"))
        .select(F.explode(ngrams(F.col("toks"), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
    )


def doc_token_stats(documents: DataFrame) -> DataFrame:
    """Per-language token/char statistics (north-star text analysis).

    Token counts are exact integers, so sums/ratios are deterministic;
    means are rounded to 4dp (see functions.numeric rationale).
    """
    toks = F.col("toks")
    per_doc = documents.select(
        "lang", tokens("text").alias("toks"), F.length("text").alias("n_chars")
    ).select(
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        "n_chars",
    )
    n = F.count("*")
    return per_doc.groupBy("lang").agg(
        n.alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("n_tokens") / n, 4).alias("avg_tokens"),
        F.round(F.sum("n_uniq") / n, 4).alias("avg_uniq_tokens"),
        F.round(F.sum("n_chars") / n, 4).alias("avg_chars"),
    )


def _stopword_hits(toks: Column, lang: str) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))


def lang_id(documents: DataFrame) -> DataFrame:
    """Heuristic language ID: stopword-hit scores with a fixed priority
    CASE chain as tie-break — confusion-matrix output (label ×
    prediction × count). Deterministic by construction, so it carries a
    full SQL oracle despite being a "model"."""
    toks = F.col("toks")
    scored = documents.select("lang", tokens("text").alias("toks")).select(
        "lang", *[_stopword_hits(toks, lg).alias(f"score_{lg}") for lg in LANGS]
    )
    pred = None
    for lg in LANGS:  # first lang whose score >= all others wins
        cond = None
        for other in LANGS:
            c = F.col(f"score_{lg}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lg)) if pred is None else pred.when(cond, F.lit(lg))
    scored = scored.withColumn("predicted_lang", pred)
    return scored.groupBy("lang", "predicted_lang").agg(F.count("*").alias("n_docs"))


def quality_score(documents: DataFrame) -> DataFrame:
    """Length/stopword/uniqueness quality score, bucketed histogram.

    The per-document score is a fixed arithmetic expression over exact
    integers — IEEE-identical in any engine — and the output buckets it
    (floor(score*10)) per language. The mirror of the heuristic
    "document quality" filters used to curate LLM training corpora.
    """
    toks = F.col("toks")
    per_doc = documents.select("lang", tokens("text").alias("toks")).select(
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))).alias("n_stop"),
    ).where(F.col("n_tokens") > 0)
    score = (
        F.least(F.col("n_tokens") / F.lit(200.0), F.lit(1.0)) * F.lit(0.4)
        + (F.col("n_stop") / F.col("n_tokens")) * F.lit(0.3)
        + (F.col("n_uniq") / F.col("n_tokens")) * F.lit(0.3)
    )
    return (
        per_doc.select("lang", F.floor(score * 10).alias("q_bucket"))
        .groupBy("lang", "q_bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def gopher_quality_screen(
    documents: DataFrame,
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Per-document GOPHER-style quality rules (Rae et al. 2021,
    "Scaling Language Models: … Gopher", Appendix A1.1 — the rule set
    most LLM corpus pipelines descend from), each rule a flag column
    plus the conjunctive pass:

    - ``words_ok``     — word count within [min_words, max_words]
    - ``word_len_ok``  — mean word length within [3, 10] (gibberish /
      symbol-soup screen)
    - ``alpha_ok``     — ≥ 80% of words contain an alphabetic char
      (strips markup/number dumps)
    - ``stopword_ok``  — ≥ 2 stopwords present (the "is this prose at
      all" test)
    - ``gopher_pass``  — all of the above

    Everything is exact integer/ratio arithmetic over the materialized
    token array — one projection, no shuffle, no UDF; at 100 TB this
    is a map-only pass whose output feeds the curation census
    (rejected-by-rule counts) and the admit filter. Emitting flags
    instead of dropping rows keeps the screen auditable — the census
    of WHY documents fail is the artifact reviewers ask for.

    Output: (doc_id, n_words, mean_word_len, alpha_frac, n_stopwords,
    words_ok, word_len_ok, alpha_ok, stopword_ok, gopher_pass).
    """
    toks = F.col("toks")
    per = documents.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.aggregate(
            F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
        ).alias("_len_sum"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).alias("_n_alpha"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))).alias(
            "n_stopwords"
        ),
    ).where(F.col("n_words") > 0)
    mean_len = F.round(F.col("_len_sum") / F.col("n_words").cast("double"), 4)
    alpha_frac = F.round(
        F.col("_n_alpha") / F.col("n_words").cast("double"), 4
    )
    flagged = per.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        "n_stopwords",
    ).select(
        "*",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias(
            "words_ok"
        ),
        (
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
        ).alias("word_len_ok"),
        (F.col("alpha_frac") >= min_alpha_frac).alias("alpha_ok"),
        (F.col("n_stopwords") >= min_stopwords).alias("stopword_ok"),
    )
    return flagged.select(
        "*",
        (
            F.col("words_ok")
            & F.col("word_len_ok")
            & F.col("alpha_ok")
            & F.col("stopword_ok")
        ).alias("gopher_pass"),
    )


def token_doc_freq(documents: DataFrame) -> DataFrame:
    """Document frequency + IDF per token — the tf-idf building block
    (north-star text analysis; dumbo users hand-rolled this as two
    chained jobs). One aggregation pass over exploded distinct tokens;
    the corpus size joins in as a broadcast single-row aggregate so the
    whole computation stays in-plan (no driver-side collect of N).
    """
    return _token_doc_freq_from(
        documents.select("doc_id", tokens("text").alias("_toks"))
    )


def _token_doc_freq_from(toked: DataFrame) -> DataFrame:
    """:func:`token_doc_freq` over a pre-tokenized ``(doc_id, _toks)``
    frame — shared with :func:`tfidf_top_terms` so the composed form
    can reuse ONE tokenize pass (r15) without diverging idf copies."""
    per_doc = toked.select(
        F.explode(F.array_distinct("_toks")).alias("token")
    )
    df_counts = per_doc.groupBy("token").agg(F.count("*").alias("doc_freq"))
    n_docs = toked.select(F.count("*").alias("n_docs"))
    return (
        df_counts.crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "doc_freq",
            F.round(F.ln((F.col("n_docs") + 1) / (F.col("doc_freq") + 1)), 6).alias("idf"),
        )
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document keyword extraction: top-k tokens by tf·idf — the
    composed form of :func:`token_doc_freq` (idf side) with per-doc
    term frequencies, the standard sparse-feature / keyword op.

    Ranking happens on the ROUNDED score (6dp) with a token tie-break,
    so the top-k cut is bit-stable across engines. The window
    partitions by doc_id — millions of tiny groups, no skew hazard;
    the idf side is token-keyed partial agg + equi-join.
    """
    from pyspark.sql import Window

    # one tokenize pass (r15): the tf explode, the idf side's distinct
    # explode, and its corpus count all derive from a lazily
    # checkpointed token-array base (previously three scans+tokenizes)
    base = pin(documents.select("doc_id", tokens("text").alias("_toks")))
    tf = (
        base.select("doc_id", F.explode("_toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    idf = _token_doc_freq_from(base).select("token", "idf")
    scored = tf.join(idf, "token").withColumn(
        "tfidf", F.round(F.col("tf") * F.col("idf"), 6)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "tfidf", "rank")
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 64, overlap: int = 16
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window preparation step of an LLM training/retrieval
    pipeline (north-star text analysis).

    Pure higher-order functions: chunk starts are a ``sequence`` with
    the stride, chunk text is a ``slice``+``concat_ws`` per start — no
    explode-then-window shuffle, no Python. Output grain is one row
    per (doc, chunk).
    """
    step = chunk_tokens - overlap
    toks = F.col("toks")
    starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(step))
    chunk = F.transform(
        starts,
        lambda s: F.struct(
            (s / step).cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)).alias("chunk_text"),
            F.least(F.size(toks) - s, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return (
        documents.select("doc_id", tokens("text").alias("toks"))
        .where(F.size(F.col("toks")) > 0)
        .select("doc_id", F.explode(chunk).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens")
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Deterministic content fingerprint per document: md5 over the
    normalized token stream. The exact-dedup key and the cheap
    content-addressing primitive for 100 TB corpus bookkeeping."""
    return documents.select(
        "doc_id",
        F.md5(F.concat_ws(" ", tokens("text")).cast("binary")).alias("fp"),
    )


def repetition_score(documents: DataFrame, n: int = 3) -> DataFrame:
    """Intra-document repetition (Gopher/C4-style quality signal): the
    fraction of word n-gram occurrences that are repeats of an n-gram
    already seen in the same document. Boilerplate, keyword stuffing
    and template spam score high; natural prose scores near zero.

    Pure column expressions (n-gram HOF + array_distinct) — no shuffle
    at all: the score is computed inside the scan projection, so at
    100 TB this is a single embarrassingly-parallel pass.
    """
    grams = F.col("_grams")
    n_grams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    return (
        # tokens materialized before the n-gram transform (HOF-CSE)
        documents.select("doc_id", tokens("text").alias("_toks"))
        .select("doc_id", ngrams(F.col("_toks"), n).alias("_grams"))
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            n_distinct.alias("n_distinct"),
            F.when(n_grams > 0, F.round(1.0 - n_distinct / n_grams, 4))
            .otherwise(F.lit(0.0))
            .alias("rep_ratio"),
        )
    )


def token_entropy(documents: DataFrame) -> DataFrame:
    """Per-document Shannon entropy (bits) of the unigram token
    distribution — the classic vocabulary-diversity quality signal:
    keyword-stuffed or template text scores low, natural prose high.

    Algebra: H = log2(N) − (Σ c·log2 c)/N over per-token counts c, so
    the whole thing is TWO partial-aggregated groupBys (doc_id,token →
    doc_id) — map-side combined, no window, no Python. At 100 TB both
    shuffles carry (hash, count) pairs, never text.
    """
    toks = documents.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.log2("c")).alias("_clogc"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.log2("n_tokens") - F.col("_clogc") / F.col("n_tokens"), 4)
            .alias("entropy_bits"),
        )
    )


def benchmark_contamination(
    documents: DataFrame, n: int = 3, eval_mod: int = 20
) -> DataFrame:
    """Eval-set contamination check: for every corpus document, the
    fraction of its distinct word n-grams that also occur in a
    held-out evaluation set (here: ``doc_id % eval_mod == 0`` plays
    the benchmark; in production it's the actual eval corpora).

    The plan is the one that survives 100 TB: the eval gram universe
    is benchmark-sized (small), so the membership test is a BROADCAST
    left join against the exploded corpus grams — the corpus never
    shuffles; per-doc aggregation partial-aggregates map-side on
    doc_id.
    """
    g = documents.select("doc_id", tokens("text").alias("_toks")).select(
        "doc_id", F.array_distinct(ngrams(F.col("_toks"), n)).alias("_grams")
    )
    is_eval = F.col("doc_id") % eval_mod == 0
    # explode_outer, NOT explode: plain explode makes Catalyst infer a
    # size(_grams)>0 filter and push it below the projections,
    # substituting the whole tokenize+ngram expression into the filter —
    # inside HOF lambdas that substitution re-runs split() per element
    # access (measured 29× slower at 10× sf0.1). The outer form infers
    # nothing; the null rows (gram-less docs) drop right after.
    eval_grams = (
        g.where(is_eval)
        .select(F.explode_outer("_grams").alias("gram"))
        .where(F.col("gram").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = (
        g.where(~is_eval)
        .select("doc_id", F.explode_outer("_grams").alias("gram"))
        .where(F.col("gram").isNotNull())
    )
    joined = corpus.join(F.broadcast(eval_grams), "gram", "left")
    n_grams = F.count("*").alias("n_grams")
    n_cont = F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated")
    return joined.groupBy("doc_id").agg(n_grams, n_cont).select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        F.round(F.col("n_contaminated") / F.col("n_grams"), 4).alias("contamination"),
    )


#: GPT-2-style pre-tokenizer pattern, restricted to constructs Java
#: regex and RE2 (the DuckDB engine) implement identically — no
#: lookahead, unicode classes only. Order matters: contractions first,
#: then space-prefixed letter/digit/symbol runs, then bare whitespace.
BPE_SPLIT_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(documents: DataFrame) -> DataFrame:
    """Tokenizer-aware size accounting: per document, the whitespace
    token count next to a BPE-ish pre-token count (GPT-2 split regex) —
    the number every training-data budget is denominated in.

    ``regexp_extract_all`` keeps the whole computation JVM-side inside
    the scan projection; no shuffle, no Python. The pattern is
    deliberately limited to the Java∩RE2 common subset so the DuckDB
    oracle runs the byte-identical split.
    """
    pre = F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT_RE), F.lit(0))
    # whitespace-run matches are segment boundaries, not tokens
    pre_tokens = F.filter(pre, lambda t: t.rlike(r"^\s+$") == F.lit(False))
    return documents.select(
        "doc_id",
        F.size(tokens("text")).alias("n_ws_tokens"),
        F.size(pre_tokens).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


def posting_lists(
    documents: DataFrame, n: int = 3, min_df: int = 2, max_df: int = 50
) -> DataFrame:
    """Inverted-index construction over word n-grams: for each gram
    within a document-frequency band, the sorted posting list of
    documents containing it — THE classic second MapReduce program
    after wordcount (dumbo-era search indexing), as one declarative
    plan. Grams rather than unigrams because a phrase index is what
    contamination lookup and quotation tracing actually probe (and on
    a small vocabulary every unigram is a stop word — df explodes).

    Scale shape: document frequency is computed FIRST (partial-agg
    groupBy) and the band filter applied BEFORE any posting list is
    assembled, so stop-phrase grams never materialize a list at all —
    the collect only ever runs over grams whose list length is ≤
    max_df by construction. Postings serialize to a comma-joined
    string (driver canonicalizers cannot hash raw arrays; round-2
    lesson).
    """
    # NOTE (r15): checkpointing the exploded gram stream — to fold its
    # two scan branches — measured neutral-to-slower (warm 1.9-2.5 →
    # 2.5-2.6 s): the gram stream is larger than the corpus it derives
    # from, so materializing it costs more than the second pruned scan.
    pd_ = documents.select("doc_id", tokens("text").alias("_toks")).select(
        "doc_id",
        F.explode(F.array_distinct(ngrams(F.col("_toks"), n))).alias("token"),
    )
    dfreq = (
        pd_.groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .where(F.col("doc_freq").between(min_df, max_df))
    )
    return (
        pd_.join(dfreq, "token")
        .groupBy("token", "doc_freq")
        .agg(
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias(
                "postings"
            )
        )
    )


def doc_perplexity(documents: DataFrame) -> DataFrame:
    """Per-document cross-entropy (and perplexity) under an add-one-
    smoothed corpus BIGRAM language model — the classic statistical
    quality signal: documents whose word sequences are improbable
    under the corpus's own statistics (boilerplate, shuffled text,
    wrong language) score high and get filtered. A self-contained,
    training-free stand-in for the model-based perplexity filters used
    on LLM corpora.

    H(doc) = −(1/N) Σ log₂ P(wᵢ | wᵢ₋₁),
    P(w|v) = (c(v,w) + 1) / (c(v) + |V|)   (Laplace smoothing)

    Shape: bigram/unigram corpus counts are partial-agg shuffles keyed
    by gram; the per-doc stream joins the count tables on the gram key
    (AQE broadcasts them when small — on a natural corpus the bigram
    table is Zipf-bounded); the |V| normalizer is a broadcast 1-row
    aggregate. All probabilities are ratios of exact integers, so both
    engines evaluate log₂ over identical doubles; the per-doc sum is
    rounded (4dp) like :func:`token_entropy`.
    """
    bi = documents.select(
        "doc_id", tokens("text").alias("_t")
    ).select("doc_id", F.explode(ngrams(F.col("_t"), 2)).alias("bigram"))
    uni = documents.select(F.explode(tokens("text")).alias("tok"))
    c2 = bi.groupBy("bigram").agg(F.count("*").alias("c2"))
    c1 = uni.groupBy("tok").agg(F.count("*").alias("c1"))
    vocab = uni.select(F.countDistinct("tok").alias("v"))
    scored = (
        bi.join(c2, "bigram")
        .withColumn("_prev", F.split_part("bigram", F.lit(" "), F.lit(1)))
        .join(c1.withColumnRenamed("tok", "_prev"), "_prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log2((F.col("c2") + 1) / (F.col("c1") + F.col("v"))).alias("_lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.avg("_lp"), 4).alias("xent_bits"),
        F.round(F.pow(F.lit(2.0), -F.avg("_lp")), 4).alias("ppl"),
    )


def vocab_growth(documents: DataFrame, bucket_size: int = 1) -> DataFrame:
    """Heaps'-law vocabulary growth curve: new distinct tokens and
    cumulative vocabulary size per bucket of ``bucket_size`` documents
    (in doc_id order) — the corpus-scaling diagnostic (how fast does
    vocabulary grow as the corpus grows?) that sizes tokenizers and
    detects boilerplate-heavy crawls (a too-flat curve).

    Plan shape: token first-occurrence is a partial-agg
    ``groupBy(token).min(doc_id)`` — the heavy stage, keyed on token,
    map-side combined. The cumulative sum then windows over BUCKETS
    with at least one first occurrence — bounded by VOCABULARY size,
    not corpus size (Heaps' law: ~millions of rows at 100 TB; raise
    ``bucket_size`` to taste to bound it further) — the same
    bounded-window argument as event_transitions. Exact integers
    throughout. The fixture default of 1 doc/bucket maximizes curve
    resolution on the tiny synthetic vocabulary.
    """
    first_seen = (
        documents.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("_first_doc"))
    )
    per_bucket = first_seen.groupBy(
        F.floor(F.col("_first_doc") / bucket_size).alias("bucket")
    ).agg(F.count("*").alias("new_tokens"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_bucket.select(
        "bucket",
        "new_tokens",
        F.sum("new_tokens").over(w).alias("cum_vocab"),
    )


def heavy_hitter_tokens(documents: DataFrame, k: int = 500) -> DataFrame:
    """Exact frequency heavy hitters: every token whose count is at
    least 1/k of the total token count — the vocabulary-pruning /
    stopword-discovery pass of corpus analysis (and the batch analogue
    of a streaming Misra-Gries sketch).

    Why not a sketch: Misra-Gries/SpaceSaving earn their keep when the
    key space cannot be aggregated exactly; Spark's hash aggregate
    with map-side combine already reduces each partition to its
    distinct tokens before the shuffle, so the exact two-phase plan
    (wordcount → broadcast 1-row total → integer filter) moves only
    vocabulary-sized data — cheaper than a sketch AND exact. The
    membership test is pure integer arithmetic (``cnt·k ≥ total``), so
    the cut is bit-stable across engines — no float threshold.

    Scale: the groupBy(word) partial agg is the only corpus-sized
    stage; the total rides along as a broadcast scalar. At 100 TB the
    vocabulary (Heaps' law) is millions of rows — the filter and join
    are noise.
    """
    wc = wordcount(documents)
    total = wc.agg(F.sum("cnt").alias("total_tokens"))
    return (
        wc.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * F.lit(k) >= F.col("total_tokens"))
        .select(
            "word",
            "cnt",
            F.round(F.lit(1_000_000.0) * F.col("cnt") / F.col("total_tokens"), 2).alias(
                "ppm"
            ),
        )
    )


def filter_funnel_report(documents: DataFrame) -> DataFrame:
    """Curation-funnel attrition report: run the standard quality
    chain — nonempty → word count → mean word length → alpha fraction
    → stopword presence → repetition — in order and report, per rule,
    how many documents reach it, pass it, and fail it. The
    observability artifact every corpus-curation review asks for
    (pipelines tune thresholds from the marginal attrition, not the
    final yield): a rule that kills 40% of the crawl deserves a look
    regardless of the end-to-end pass rate.

    Composes :func:`gopher_quality_screen` and
    :func:`gopher_repetition_screen` (both map-only flag passes; this
    adds two doc-keyed joins and a 1-row aggregate — at 100 TB the
    joins co-partition on doc_id and the report is 6 rows). Documents
    the quality screen drops (zero tokens) fail the `nonempty` rule,
    anchored on the full documents table so nothing silently exits the
    funnel.

    Output: 6 rows (rule_order, rule, n_input, n_pass, n_fail,
    pass_pct).
    """
    q = gopher_quality_screen(documents).select(
        "doc_id", "words_ok", "word_len_ok", "alpha_ok", "stopword_ok"
    )
    rep = gopher_repetition_screen(documents).select(
        "doc_id", "repetition_pass"
    )
    j = (
        documents.select("doc_id")
        .join(q, "doc_id", "left")
        .join(rep, "doc_id", "left")
    )
    flag = lambda c: F.coalesce(F.col(c), F.lit(False))  # noqa: E731
    c0 = F.col("words_ok").isNotNull()
    c1 = c0 & flag("words_ok")
    c2 = c1 & flag("word_len_ok")
    c3 = c2 & flag("alpha_ok")
    c4 = c3 & flag("stopword_ok")
    c5 = c4 & flag("repetition_pass")
    agg = j.agg(
        F.count("*").alias("n"),
        *[
            F.sum(c.cast("long")).alias(f"s{i}")
            for i, c in enumerate([c0, c1, c2, c3, c4, c5])
        ],
    )
    rules = [
        "nonempty",
        "word_count",
        "mean_word_len",
        "alpha_frac",
        "stopwords",
        "repetition",
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("rule_order"),
                F.lit(r).alias("rule"),
                F.col("n" if i == 0 else f"s{i - 1}").alias("n_input"),
                F.col(f"s{i}").alias("n_pass"),
            )
            for i, r in enumerate(rules)
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.*")
        .select(
            "rule_order",
            "rule",
            F.col("n_input").cast("bigint").alias("n_input"),
            F.col("n_pass").cast("bigint").alias("n_pass"),
            (F.col("n_input") - F.col("n_pass")).cast("bigint").alias("n_fail"),
            F.when(
                F.col("n_input") > 0,
                F.round(F.col("n_pass") / F.col("n_input").cast("double"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("pass_pct"),
        )
    )


def cms_hitters_checked(
    documents: DataFrame, depth: int = 4, width: int = 64, k: int = 20
) -> DataFrame:
    """Count-min sketch of token frequencies, verified against exact
    counts (Cormode & Muthukrishnan 2005). :func:`heavy_hitter_tokens`
    argues (correctly) that IN-ENGINE exact counts beat a sketch —
    this operator is about the sketch as an ARTIFACT: a depth×width
    integer table (here 4×64 longs — 2 KB) that any other system can
    probe for any token's frequency within εN, and that merges across
    shards/days by cell-wise addition, which a vocabulary-sized exact
    table does not. The `_checked` contract: estimates for the top-k
    exact hitters are recomputed and the CMS overestimate THEOREM
    (estimate ≥ exact, always — min of sums that each include the true
    count) is emitted per row; a hash/bucket bug shows up as a
    violated theorem or a drifted estimate, both hash-visible.

    Determinism: row-i bucket = md5("i:word") through the shared
    4-hex-digit parse (sampling._md5_bucket) — integer arithmetic,
    engine-exact. Built from the VOCABULARY table (sum of counts per
    bucket ≡ streaming increments), so the sketch build is one
    vocab-sized pass per row after the corpus-sized wordcount.

    Output: top-k rows (word, exact_cnt, cms_estimate,
    overestimate_ok), plus the sketch epsilon context columns
    (err_bound = ⌈eN/width⌉, within_bound — holds w.h.p., reported
    not asserted).
    """
    import math
    from functools import reduce as _reduce

    # the vocabulary feeds 6 consumers (4 sketch rows, the top-k cut,
    # the total); pin() cuts the vocab-sized frame so the
    # corpus-sized tokenize+count runs once, not per consumer
    wc = pin(wordcount(documents))

    def bucket_of(i: int, col: F.Column) -> F.Column:
        from dumbo_spark.operators.sampling import _md5_bucket

        return _md5_bucket(
            F.concat_ws(":", F.lit(str(i)), col), width
        )

    rows = [
        wc.select(
            F.lit(i).alias("row_i"),
            bucket_of(i, F.col("word")).alias("bucket"),
            "cnt",
        )
        for i in range(depth)
    ]
    sketch = (
        _reduce(DataFrame.unionByName, rows)
        .groupBy("row_i", "bucket")
        .agg(F.sum("cnt").alias("bucket_cnt"))
    )
    top = wc.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(k)
    probes = top.select(
        "word",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        bucket_of(i, F.col("word")).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p"),
    ).select("word", "cnt", "p.row_i", "p.bucket")
    total = wc.agg(F.sum("cnt").alias("_n"))
    est = (
        probes.join(F.broadcast(sketch), ["row_i", "bucket"])
        .groupBy("word", "cnt")
        .agg(F.min("bucket_cnt").alias("cms_estimate"))
    )
    e_over_w = math.e / width
    return est.crossJoin(F.broadcast(total)).select(
        "word",
        F.col("cnt").cast("bigint").alias("exact_cnt"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") >= F.col("cnt")).alias("overestimate_ok"),
        F.ceil(F.lit(e_over_w) * F.col("_n")).cast("bigint").alias("err_bound"),
        (
            F.col("cms_estimate") - F.col("cnt")
            <= F.ceil(F.lit(e_over_w) * F.col("_n"))
        ).alias("within_bound"),
    )


def token_source_mi(
    documents: DataFrame, k: int = 5, min_count: int = 10
) -> DataFrame:
    """Domain-indicative vocabulary: for each source, the top-k tokens
    by pointwise KL contribution p(t|s)·ln(p(t|s)/p(t)) — which words
    make this source look like itself. The feature-selection /
    domain-shift view of the corpus (a crawl whose indicative tokens
    are boilerplate is a bad crawl).

    All probabilities derive from exact integer counts, so both
    engines divide identical longs into identical doubles; the rank
    cut uses the 6dp-rounded score with a token tie-break (the
    tfidf_top_terms convention).

    Scale: two token-keyed partial aggs (corpus-sized, map-side
    combined); source totals and N broadcast; the rank window
    partitions by source over ≤ |vocabulary| rows.
    """
    tok = documents.select(
        "source", F.explode(tokens("text")).alias("token")
    )
    n_ts = tok.groupBy("token", "source").agg(F.count("*").alias("n_ts"))
    n_t = n_ts.groupBy("token").agg(F.sum("n_ts").alias("n_t"))
    n_s = n_ts.groupBy("source").agg(F.sum("n_ts").alias("n_s"))
    total = n_t.agg(F.sum("n_t").alias("n_total"))

    p_ts = F.col("n_ts") / F.col("n_s")
    p_t = F.col("n_t") / F.col("n_total")
    scored = (
        n_ts.where(F.col("n_ts") >= min_count)
        .join(n_t, "token")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "token",
            "n_ts",
            F.round(p_ts * F.log(p_ts / p_t), 6).alias("mi_score"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("mi_score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("source", "token", "n_ts", "mi_score", "rank")
    )


def lang_source_contingency(documents: DataFrame) -> DataFrame:
    """Language × source contingency table with independence-model
    expectations and Pearson residuals — does a source's language mix
    deviate from the corpus (a crawl suddenly heavy in one language is
    a pipeline bug or a scope change).

    Observed cells only (absent combinations are structurally zero and
    omitted). Expected counts and residuals derive from exact integer
    marginals — ``E = n_lang·n_source / N`` — rounded 4dp; no
    order-dependent float accumulation anywhere.

    Scale: one partial-agg scan to |langs|·|sources| cells; marginals
    re-aggregate the cell frame (tiny) and broadcast back.
    """
    # NOTE (r15): checkpointing the cell aggregate — to fold its four
    # scan branches — was MEASURED 3× SLOWER (1.27→3.83 s): the lazy
    # checkpoint freezes the groupBy's 200 un-coalesced shuffle
    # partitions, and every tiny consumer then pays 200 tasks where
    # AQE-coalesced recomputes were near-free. Keep the recompute for
    # tiny aggregates.
    cells = documents.groupBy("lang", "source").agg(F.count("*").alias("observed"))
    row = cells.groupBy("lang").agg(F.sum("observed").alias("n_lang"))
    col = cells.groupBy("source").agg(F.sum("observed").alias("n_source"))
    total = cells.agg(F.sum("observed").alias("n_total"))
    expected = (
        F.col("n_lang").cast("double")
        * F.col("n_source").cast("double")
        / F.col("n_total").cast("double")
    )
    return (
        cells.join(F.broadcast(row), "lang")
        .join(F.broadcast(col), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            "observed",
            F.round(expected, 4).alias("expected"),
            F.round(
                (F.col("observed").cast("double") - expected) / F.sqrt(expected), 4
            ).alias("residual"),
        )
    )


def hashed_features(documents: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Hashing-trick featurizer: sparse (doc, bucket, count) token
    features with the bucket taken from the engine-neutral md5 hash
    (operators/sampling.py's bucket convention) — the fixed-width
    feature map that feeds linear models without a vocabulary pass.

    Using md5 instead of the engine-native hash (xxhash64/murmur) is
    deliberate: the feature map becomes reproducible across engines
    and runs — the property a feature STORE needs — and costs one
    extra hash per token in exchange (the LSH modules keep xxhash64
    where cross-engine stability is not part of the contract).

    Scale: explode + two-level partial agg; output is bounded by
    |docs|·n_buckets.
    """
    from dumbo_spark.operators.sampling import _md5_bucket

    tok = documents.select("doc_id", F.explode(tokens("text")).alias("token"))
    return (
        tok.groupBy(
            "doc_id", _md5_bucket(F.col("token"), n_buckets).alias("bucket")
        )
        .agg(F.count("*").alias("cnt"))
    )


def bigram_pmi(documents: DataFrame, k: int = 20, min_count: int = 10) -> DataFrame:
    """Collocation detection: top-k adjacent token pairs by pointwise
    mutual information ln(P(xy)/(P(x)P(y))) — the statistic that
    separates real phrases ("prix fixe") from frequent-but-independent
    neighbors, the first step of phrase-aware tokenization.

    All probabilities derive from exact integer counts (bigram counts
    over the same HOF n-gram projection as ngram_count; unigram counts
    from wordcount), so both engines take ln of identical doubles; the
    rank cut uses the 6dp-rounded score with a bigram tie-break.

    Scale: two token-keyed partial aggs; the unigram side joins back
    by token (vocabulary-keyed); the final cut is a
    TakeOrderedAndProject heap.
    """
    bi = ngram_count(documents, n=2).where(F.col("cnt") >= min_count)
    parts = F.split(F.col("ngram"), " ")
    bi = bi.select(
        "ngram",
        F.col("cnt").alias("n_xy"),
        F.get(parts, 0).alias("_x"),
        F.get(parts, 1).alias("_y"),
    )
    # NOTE (r15): checkpointing the wordcount — to fold its three scan
    # branches — was MEASURED 3× SLOWER with 5-7 s spikes (1.03→3.08 s
    # median): the vocabulary-keyed joins lose their planning-time
    # shape and the checkpoint freezes un-coalesced partitions. Keep
    # the recompute.
    uni = wordcount(documents)
    n_total = uni.agg(F.sum("cnt").alias("n_tok"))
    ux = uni.select(F.col("word").alias("_x"), F.col("cnt").alias("n_x"))
    uy = uni.select(F.col("word").alias("_y"), F.col("cnt").alias("n_y"))
    pmi = F.log(
        F.col("n_xy").cast("double")
        * F.col("n_tok").cast("double")
        / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
    )
    return (
        bi.join(ux, "_x")
        .join(uy, "_y")
        .crossJoin(F.broadcast(n_total))
        .select("ngram", "n_xy", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("ngram").asc())
        .limit(k)
    )


def vocab_coverage(documents: DataFrame, ks: tuple = (10, 100, 1000)) -> DataFrame:
    """Vocabulary coverage curve: what share of all corpus tokens the
    top-k most frequent words cover, for each k — the
    tokenizer-budget sizing diagnostic (pairs with
    :func:`vocab_growth` and :func:`heavy_hitter_tokens`).

    Frequency rank is the exact global rank over (count DESC, word)
    via the range-partitioned global rank (sampling.exact_global_rank
    — no global sort, no vocabulary-sized broadcast); covered-token
    sums are exact integers per k.
    """
    from dumbo_spark.operators.sampling import exact_global_rank

    wc = wordcount(documents)
    ranked = exact_global_rank(wc, "cnt", "word", ascending=False)
    # ONE pass over the ranked vocabulary: every k's covered-token sum
    # is a conditional aggregate of the same scan (a union of
    # per-k branches would re-run wordcount+rank once per k — 26
    # exchanges at |ks|=3 in the round-5 plan audit, vs 8 here), then
    # explode the k-wide row back to the (k, tokens_covered) shape.
    sums = ranked.agg(
        F.sum("cnt").alias("n_tok"),
        *[
            F.sum(F.when(F.col("_rank") <= kk, F.col("cnt")).otherwise(F.lit(0))).alias(
                f"_c{kk}"
            )
            for kk in ks
        ],
    )
    pairs = F.array(
        *[
            F.struct(F.lit(kk).alias("k"), F.col(f"_c{kk}").alias("tokens_covered"))
            for kk in ks
        ]
    )
    return sums.select(F.explode(pairs).alias("p"), "n_tok").select(
        F.col("p.k").alias("k"),
        F.col("p.tokens_covered").alias("tokens_covered"),
        F.round(
            F.col("p.tokens_covered").cast("double") / F.col("n_tok").cast("double"), 6
        ).alias("coverage"),
    )


def zipf_fit(documents: DataFrame, top_n: int = 1000) -> DataFrame:
    """Zipf-law fit over the corpus frequency spectrum: OLS slope and
    intercept of log(count) vs log(rank) for the ``top_n`` most
    frequent words — the corpus-health scalar reviewers eyeball a
    rank-frequency plot for (natural text sits near slope −1; a
    machine-generated or template-heavy corpus flattens or cliffs).

    Ranks come from the range-partitioned global rank
    (sampling.exact_global_rank — no vocabulary-sized broadcast); the
    regression is one closed-form aggregate over ≤ ``top_n`` points.
    Output: (n_points, slope, intercept), rounded 6dp.
    """
    from dumbo_spark.operators.sampling import exact_global_rank

    wc = wordcount(documents)
    ranked = exact_global_rank(wc, "cnt", "word", ascending=False).where(
        F.col("_rank") <= top_n
    )
    pts = ranked.select(
        F.log(F.col("_rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    # single-point fits (or degenerate x) give denom = 0: DuckDB's
    # 0.0/0.0 is NULL while Spark's is NaN — emit NULL on both sides
    # (round-5 review finding)
    slope = F.when(
        denom != 0, (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    )
    intercept = F.when(denom != 0, (F.col("sy") - slope * F.col("sx")) / n)
    return s.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


# PII patterns shared by the Spark screen and its DuckDB oracle — kept
# to syntax with identical semantics in Java regex and RE2.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}"
PII_LONGNUM = r"[0-9]{6,}"


def pii_screen(documents: DataFrame) -> DataFrame:
    """Per-source PII exposure screen: how many documents contain
    email-like, phone-like, or long-digit-run substrings — the
    scrub-before-training gate every corpus pipeline runs before a
    source is admitted to the mix.

    One conditional-aggregate scan (three ``rlike`` per row, JVM
    regex, no shuffle beyond the per-source rollup). The synthetic
    fixtures contain no digits or '@' at all, so every fixture count
    is zero — which the oracle CHECKS (both engines must agree the
    corpus is clean); the detection semantics are pinned on planted
    PII in tests/test_round5_fixes.py.

    Output: (source, n_docs, n_email, n_phone, n_longnum, pii_share).
    """
    hit = lambda pat: F.col("text").rlike(pat).cast("long")  # noqa: E731
    agg = documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(hit(PII_EMAIL)).alias("n_email"),
        F.sum(hit(PII_PHONE)).alias("n_phone"),
        F.sum(hit(PII_LONGNUM)).alias("n_longnum"),
        F.sum(
            (
                F.col("text").rlike(PII_EMAIL)
                | F.col("text").rlike(PII_PHONE)
                | F.col("text").rlike(PII_LONGNUM)
            ).cast("long")
        ).alias("_any"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_email",
        "n_phone",
        "n_longnum",
        F.round(F.col("_any").cast("double") / F.col("n_docs").cast("double"), 6).alias(
            "pii_share"
        ),
    )


def bpe_merge_candidates(documents: DataFrame, k: int = 20) -> DataFrame:
    """The first BPE TRAINING step, distributed: the most frequent
    adjacent character pairs inside words, weighted by word frequency
    — exactly the statistic byte-pair encoding greedily merges
    (Sennrich et al. 2016, arXiv:1508.07909 — public). Running it over
    the corpus's WORDCOUNT (vocabulary-sized, not corpus-sized) is
    what makes tokenizer training feasible at 100 TB: the fact table
    collapses to |vocab| rows before any pair enumeration.

    Pair positions explode per distinct word (multiplicity inside a
    word counts: 'aaa' contributes 'aa' twice); counts weight by the
    word's corpus frequency; the final cut is
    TakeOrderedAndProject with a pair tie-break.

    Output: top-k (pair, pair_count).
    """
    wc = wordcount(documents).where(F.length("word") >= 2)
    pairs = wc.select(
        "cnt",
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        F.col("word"),
    ).select(F.expr("substr(word, i, 2)").alias("pair"), "cnt")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(k)
    )


def _bpe_train(documents: DataFrame, n_merges: int = 6):
    """Distributed BPE TRAINING (Sennrich et al. 2016): learn the first
    ``n_merges`` byte-pair merges by iterating argmax-pair → apply-merge
    over the corpus VOCABULARY — the full greedy loop, where
    :func:`bpe_merge_candidates` is only round one's statistic. This is
    how HuggingFace/SentencePiece-style trainers scale: after the one
    corpus-sized wordcount, every round touches |vocab| rows, so 100 TB
    of text costs the same training loop as 100 GB once the word
    frequency table is built.

    Round structure (all JVM-side):
    - pair counts: explode adjacent symbol pairs per vocabulary word
      (weighted by word frequency), partial-agg to (a, b, count);
    - argmax: one driver-side row per round — (count DESC, a ASC,
      b ASC) tie-break, deterministic and oracle-replayable;
    - apply: left-to-right non-overlapping merge of (a, b) in every
      word's symbol array via ``F.aggregate`` — a Catalyst fold, no
      Python ("aaa" + merge(a,a) → [aa, a], exactly BPE's scan order);
    - a per-round ``pin`` truncates the fold lineage (the
      iterative-operator discipline from graph.py — without it round k
      recomputes all k−1 prior folds from the parquet scan).

    The oracle replays every round: the same pair-count/argmax CTEs
    plus a recursive CTE that folds each word position-by-position
    (depth = longest word, all words advance in parallel per step).

    Returns (merges, v, wc): the learned merge list of (rank, a, b,
    count) tuples (≤ ``n_merges``), the post-merge vocabulary DataFrame
    (cnt, syms), and the (lazily checkpointed) wordcount frame the loop
    trained on — :func:`bpe_learn_merges` publishes the merges,
    :func:`bpe_compression_stats` aggregates the latter two (sharing wc
    saves it a second corpus scan+shuffle; r15 optimization).
    """
    wc = pin(wordcount(documents))
    v = pin(wc.select("cnt", F.split("word", "").alias("syms")))
    merges = []
    for r in range(n_merges):
        # len-1 words carry no pairs; the size guard also keeps
        # sequence(1, size-1) from producing Spark's DESCENDING [1, 0]
        pairs = v.where(F.size("syms") >= 2).select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms)-1), "
                    "i -> struct(element_at(syms, i) AS a,"
                    " element_at(syms, i+1) AS b))"
                )
            ).alias("p"),
        ).select("cnt", "p.a", "p.b")
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(
                F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
            )
            .limit(1)
            .collect()
        )
        if not top:
            break  # degenerate corpus: nothing left to merge
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["pair_count"])
        merges.append((r + 1, a, b, c))
        merged = a + b
        v = pin(
            v.select(
                "cnt",
                F.aggregate(
                    "syms",
                    F.expr("cast(array() as array<string>)"),
                    lambda acc, x: F.when(
                        (F.size(acc) > 0)
                        & (F.element_at(acc, -1) == F.lit(a))
                        & (x == F.lit(b)),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1),
                            F.array(F.lit(merged)),
                        ),
                    ).otherwise(F.concat(acc, F.array(x))),
                ).alias("syms"),
            )
        )
    return merges, v, wc


def bpe_learn_merges(documents: DataFrame, n_merges: int = 6) -> DataFrame:
    """Public wrapper over :func:`_bpe_train`: the learned merge table
    (merge_rank, left_sym, right_sym, pair_count), ``n_merges`` rows —
    full semantics and the scale argument in the trainer's docstring.

    Production caveat (VERDICT r12): greedy BPE is one Spark job per
    merge — a 30k-merge production vocabulary means 30k sequential
    rounds. Per-round data flow is distributed and the driver traffic
    is one row, so nothing here breaks at 100 TB, but the JOB COUNT
    does: use :func:`bpe_learn_merges_batched` (top-k symbol-disjoint
    merges per round) when training real vocabularies — it cuts the
    round count ~k× at a documented, deterministic deviation from
    strict greedy order.
    """
    merges, _, _ = _bpe_train(documents, n_merges)
    return documents.sparkSession.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, pair_count bigint",
    )


def _bpe_train_batched(
    documents: DataFrame, n_rounds: int = 3, batch_k: int = 4
):
    """Batched BPE training: per round, take the top ``batch_k`` pairs
    by (count DESC, a, b) and keep a candidate iff it shares NO symbol
    with any strictly higher-ranked candidate (kept or not — the
    conservative rule is a pure anti-join, identically expressible in
    Spark and SQL with no sequential dependency), then apply every kept
    merge in ONE left-to-right fold pass over the vocabulary.

    This is the production answer to greedy BPE's one-job-per-merge
    round count (VERDICT r12 "What's wrong" #2): a 30k-merge vocabulary
    takes ~30k/k rounds instead of 30k. Symbol-disjointness makes the
    single-pass apply well-defined — at most one kept pair can match at
    a scan position. Within-round chaining CAN still occur in one
    narrow case: when a merged token's string equals another kept
    pair's left symbol (e.g. kept ('a','b') and ('ab','c') are
    string-disjoint as pairs, yet the fold that just produced 'ab' can
    immediately match ('ab','c') at the next scan position). That is
    fine for correctness because the Spark fold, the DuckDB oracle,
    and the pure-python test reference all apply the identical
    left-to-right single-pass semantics — chaining happens (or not)
    identically in all three. The trade,
    documented: merge order deviates from strict greedy (lower-ranked
    pairs merge a round earlier than greedy would), which is the same
    trade every batched/parallel BPE trainer makes.

    Returns (merges, v): merges as (round, sel_rank, a, b, pair_count)
    tuples; v the post-merge vocabulary frame (cnt, syms).
    """
    wc = wordcount(documents)
    v = pin(wc.select("cnt", F.split("word", "").alias("syms")))
    merges = []
    for r in range(n_rounds):
        pairs = v.where(F.size("syms") >= 2).select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms)-1), "
                    "i -> struct(element_at(syms, i) AS a,"
                    " element_at(syms, i+1) AS b))"
                )
            ).alias("p"),
        ).select("cnt", "p.a", "p.b")
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(
                F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
            )
            .limit(batch_k)
            .collect()  # batch_k rows — bounded driver traffic per round
        )
        if not top:
            break
        kept = []
        for i, row in enumerate(top):
            if any(
                {row["a"], row["b"]} & {top[j]["a"], top[j]["b"]}
                for j in range(i)
            ):
                continue  # blocked by ANY higher-ranked candidate
            kept.append((row["a"], row["b"], int(row["pair_count"])))
        for sel_rank, (a, b, c) in enumerate(kept, 1):
            merges.append((r + 1, sel_rank, a, b, c))

        def make_fold(kept_pairs):
            # factory, not a default arg: F.aggregate passes a Column
            # for EVERY lambda parameter, so extra params can't carry
            # python state. Chained whens over the kept set;
            # symbol-disjointness guarantees at most one condition
            # fires per position.
            def fold(acc, x):
                expr = F.concat(acc, F.array(x))
                for a, b, _c in kept_pairs:
                    expr = F.when(
                        (F.size(acc) > 0)
                        & (F.element_at(acc, -1) == F.lit(a))
                        & (x == F.lit(b)),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1),
                            F.array(F.lit(a + b)),
                        ),
                    ).otherwise(expr)
                return expr

            return fold

        v = pin(
            v.select(
                "cnt",
                F.aggregate(
                    "syms",
                    F.expr("cast(array() as array<string>)"),
                    make_fold(list(kept)),
                ).alias("syms"),
            )
        )
    return merges, v


def bpe_learn_merges_batched(
    documents: DataFrame, n_rounds: int = 3, batch_k: int = 4
) -> DataFrame:
    """Public wrapper over :func:`_bpe_train_batched`: the learned
    merge table (round, sel_rank, left_sym, right_sym, pair_count) —
    up to ``n_rounds × batch_k`` merges in ``n_rounds`` Spark rounds."""
    merges, _ = _bpe_train_batched(documents, n_rounds, batch_k)
    return documents.sparkSession.createDataFrame(
        merges,
        "round int, sel_rank int, left_sym string, right_sym string,"
        " pair_count bigint",
    )


def bpe_compression_stats(documents: DataFrame, n_merges: int = 6) -> DataFrame:
    """What the learned merges BUY: corpus symbol counts before vs
    after applying the ``n_merges`` trained merges, frequency-weighted
    — the tokens-per-document-saved readout a tokenizer-training run
    is judged by (more merges → fewer symbols → shorter sequences →
    cheaper training steps). Same |vocab|-sized loop as
    :func:`bpe_learn_merges`; both aggregates are over the vocabulary
    table, so the readout is corpus-scale-free after the one wordcount
    pass.

    Output (one row): (n_merges, total_words, init_symbols,
    final_symbols, compression_pct).
    """
    # share the trainer's (checkpointed) wordcount — the old second
    # wordcount(documents) call re-scanned and re-shuffled the corpus
    # for a frame the training loop had already built (r15 optimization)
    merges, v, wc = _bpe_train(documents, n_merges)
    sym_cnt = (F.size("syms") * F.col("cnt")).cast("bigint")
    init = wc.agg(
        F.sum("cnt").cast("bigint").alias("total_words"),
        F.sum(F.length("word") * F.col("cnt")).cast("bigint").alias(
            "init_symbols"
        ),
    )
    final = v.agg(F.sum(sym_cnt).alias("final_symbols"))
    return init.crossJoin(final).select(
        F.lit(len(merges)).alias("n_merges"),
        "total_words",
        "init_symbols",
        "final_symbols",
        F.round(
            (F.col("init_symbols") - F.col("final_symbols"))
            / F.col("init_symbols").cast("double"),
            4,
        ).alias("compression_pct"),
    )


def vocab_indexer(documents: DataFrame, vocab_size: int = 1000) -> DataFrame:
    """Frequency-ordered vocabulary index: dense ids 1..N for the top
    ``vocab_size`` words by (count DESC, word ASC) — the
    token-to-id table every embedding/tokenizer pipeline materializes
    before training. Ids come from the range-partitioned global rank
    (no vocabulary-sized broadcast), so the assignment is exact and
    engine-stable under ties.

    Output: (word, cnt, token_id) for the kept vocabulary.
    """
    from dumbo_spark.operators.sampling import exact_global_rank

    wc = wordcount(documents)
    return (
        exact_global_rank(wc, "cnt", "word", ascending=False)
        .where(F.col("_rank") <= vocab_size)
        .select("word", "cnt", F.col("_rank").cast("int").alias("token_id"))
    )


def doclen_percentiles_by_lang(documents: DataFrame) -> DataFrame:
    """Exact p50/p90 document length per language — the corpus-shape
    profile behind per-language truncation budgets, via
    agg.grouped_exact_percentiles (range-partitioned ranks: a
    language's documents never sort inside one task — at 100 TB the
    dominant language IS most of the corpus, which is exactly when a
    per-group window would serialize).

    Output: (lang, p50_chars, p90_chars).
    """
    from dumbo_spark.operators.agg import grouped_exact_percentiles

    return grouped_exact_percentiles(
        documents.select("lang", "n_chars", "doc_id"),
        "lang",
        "n_chars",
        ["doc_id"],
        (0.5, 0.9),
        ("p50_chars", "p90_chars"),
    )


def distinctive_tokens_by_lang(
    documents: DataFrame, k: int = 5, alpha: float = 1.0
) -> DataFrame:
    """The k most DISTINCTIVE tokens per language by smoothed
    log-odds: log((c_lw + α)/(n_l − c_lw + α)) −
    log((c_w − c_lw + α)/(n − n_l − (c_w − c_lw) + α)) — the
    "what makes this slice different" statistic (Monroe, Colaresi &
    Quinn 2008, public) behind corpus-slice characterization; raw
    frequency top-k just returns stopwords everywhere.

    Two partial-agg passes (per-(lang, word) and per-word counts, the
    second broadcast — vocabulary-sized); the top-k cut ranks the
    ROUNDED score with a word tie-break so it is engine-stable.

    Output: top-k (lang, word, n_lang_word, log_odds) per language.
    """
    lw = (
        documents.select("lang", F.explode(tokens("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("c_lw"))
    )
    w_tot = lw.groupBy("word").agg(F.sum("c_lw").alias("c_w"))
    l_tot = lw.groupBy("lang").agg(F.sum("c_lw").alias("n_l"))
    n_tot = lw.agg(F.sum("c_lw").alias("n"))
    j = (
        lw.join(F.broadcast(w_tot), "word")
        .join(F.broadcast(l_tot), "lang")
        .crossJoin(F.broadcast(n_tot))
    )
    a = F.lit(alpha)
    in_rate = (F.col("c_lw") + a) / (F.col("n_l") - F.col("c_lw") + a)
    out_rate = (F.col("c_w") - F.col("c_lw") + a) / (
        F.col("n") - F.col("n_l") - (F.col("c_w") - F.col("c_lw")) + a
    )
    scored = j.select(
        "lang",
        "word",
        F.col("c_lw").alias("n_lang_word"),
        F.round(F.log(in_rate) - F.log(out_rate), 6).alias("log_odds"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("log_odds").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def corpus_source_concentration(documents: DataFrame) -> DataFrame:
    """How concentrated is the corpus across sources, in TOKENS (not
    documents): per-source token share plus the corpus-level HHI
    (Σ share² ×10000) repeated on every row — the "is one crawl
    dominating the mix" number a data-governance review asks before
    :func:`token_source_mi`'s finer per-token view.

    Token counts are exact whitespace-token integers from one scan
    projection; shares and the HHI divide/square exact longs.

    Output: (source, n_docs, n_tokens, token_share, corpus_hhi).
    """
    # lazy checkpoint: `per` feeds the share projection, the total and
    # the HHI — without truncation Catalyst re-embeds (and re-executes)
    # the corpus scan+aggregate once per branch, 4–5 corpus scans for a
    # |sources|-row frame. One scan at any scale with the checkpoint;
    # no extra job (the query's own action materializes it).
    per = pin(
        documents.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokens("text"))).alias("n_tokens"),
        )
    )
    total = per.agg(F.sum("n_tokens").alias("_t"))
    shared = per.crossJoin(F.broadcast(total)).withColumn(
        "token_share",
        F.round(F.col("n_tokens").cast("double") / F.col("_t").cast("double"), 6),
    )
    hhi = shared.agg(
        F.round(
            F.sum(
                F.pow(F.col("n_tokens").cast("double") / F.col("_t").cast("double"), 2)
            )
            * 10000.0,
            4,
        ).alias("corpus_hhi")
    )
    return shared.crossJoin(F.broadcast(hhi)).select(
        "source", "n_docs", "n_tokens", "token_share", "corpus_hhi"
    )


def ngram_novelty_rate(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram NOVELTY: what fraction of a doc's distinct
    n-grams first appear in THIS doc (no lower-doc_id document contains
    them)? The memorization/freshness profile of a crawl ordered by
    ingestion id — near-1 novelty marks genuinely new text, near-0
    marks recombinations of already-seen phrasing (boilerplate,
    template spam, near-dups that slipped the pairwise tiers).

    First-occurrence attribution is ONE aggregate: gram → min(doc_id)
    over the corpus (the "owner"), joined back to the per-doc distinct
    gram set — two shuffles on the gram key, no pairwise comparison
    anywhere, so cost is O(total grams), not O(docs²); ingestion order
    is the deterministic doc_id, making the rate engine-stable.
    Documents with fewer than ``n`` tokens carry no grams and are
    excluded (the PPJoin family's convention).

    Output: (doc_id, n_grams, n_novel, novelty_rate) — one row per
    gram-bearing document.
    """
    # No gram-keyed join-back: a doc's novel-gram count is exactly the
    # number of grams whose min-owner IS that doc, so both sides of the
    # rate reduce to aggregates — per-doc gram counts and per-first_doc
    # owner counts — joined on the DOC-sized key (50k rows at 10×, vs
    # the tens-of-millions-row gram join the naive form shuffles; the
    # naive join-back measured ~125s at 10×, this form replaces it with
    # a second partial agg). The distinct (doc, gram) subplan feeds
    # both branches; recompute beats localCheckpoint here (A/B: plain
    # ~125s vs checkpointed 143s — serializing the gram frame costs
    # more than re-running scan+explode).
    # token array materialized in its own projection FIRST — inlining
    # tokens() into the n-gram transform re-runs split+filter per
    # element access, O(len²) per doc (the ngram_count lesson; caught
    # again here by the 10× smoke: inlined form ~125s, this form ~15s)
    grams = (
        documents.select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", F.explode(ngrams(F.col("toks"), n)).alias("gram"))
        .distinct()
    )
    per_doc = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    novel = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("_first"))
        .groupBy(F.col("_first").alias("doc_id"))
        .agg(F.count("*").alias("n_novel"))
    )
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        F.round(
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_grams").cast("double"),
            6,
        ).alias("novelty_rate"),
    )


def bm25_topk(
    documents: DataFrame,
    query_tokens: tuple[str, ...] = ("hash", "join", "vector"),
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval for a fixed token query — the sparse-side
    scorer of hybrid search (Robertson–Spärck Jones; the ranking
    function behind Lucene/Elasticsearch defaults), completing the
    retrieval matrix next to dense kNN and :func:`rank_fusion_rrf`:

        score(d) = Σ_t idf_t · tf_td·(k1+1)
                         / (tf_td + k1·(1 − b + b·len_d/avg_len))
        idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))

    Shape: one token-explode pass filtered to the query tokens (the
    scan predicate prunes everything else, so the shuffle carries only
    query-term postings — exactly an inverted-index probe), joined to
    the broadcast per-term df and corpus stats; scores are fixed
    arithmetic over exact counts, rounded 6dp with a doc tie-break.

    Output: (doc_id, n_hit_terms, score, rank) — top-k docs.
    """
    # NOTE (r15): a shared checkpointed token-array base — to fold the
    # plan's four corpus scans into one — was MEASURED 7× SLOWER
    # (1.40→9.77 s): materializing every document's token array to
    # answer a 3-term probe destroys the columnar scan's cheapness, and
    # the four "scans" are each pruned, pipelined passes. Keep the
    # plain form; at 100 TB the inverted-index probe would read a
    # PRE-BUILT posting table instead (posting_lists), not re-derive it.
    toks = documents.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).where(F.col("tok").isin(*query_tokens))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    lens = documents.select(
        "doc_id", F.size(tokens("text")).alias("len_d")
    )
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.avg("len_d").alias("avg_len")
    )
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    scored = (
        tf.join(lens, "doc_id")
        .join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * F.col("tf")
                * (k1 + 1.0)
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("len_d") / F.col("avg_len"))
                )
            ).alias("_s"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit_terms"),
            F.sum("_s").alias("_score"),
        )
    )
    # top-k via orderBy().limit(): TakeOrderedAndProject (per-partition
    # heaps, no global-window single task over the hit set — common
    # query terms can match a corpus-sized doc set); the rank window
    # then runs over exactly k rows
    top = (
        scored.select(
            "doc_id", "n_hit_terms", F.round("_score", 6).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w))


# ── round-9 additions ───────────────────────────────────────────────────


def gopher_repetition_screen(documents: DataFrame) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021, Table A1): the
    character-fraction repetition metrics that complement
    :func:`repetition_score`'s occurrence-fraction — boilerplate is
    often a few LONG repeated phrases, which char fractions catch and
    occurrence fractions understate.

    Per document:
    - ``top2_char_frac`` / ``top3_char_frac`` — fraction of token
      characters contained in the single most frequent word 2-/3-gram
      (count × gram chars ÷ total token chars); threshold 0.20 / 0.18.
    - ``dup5_char_frac`` — fraction of token characters inside
      DUPLICATED 5-grams (all occurrences of grams with count ≥ 2);
      threshold 0.15.
    Gram chars = sum of word lengths (``length(gram) − (n−1)``
    separators); total chars = sum of token lengths, so fractions are
    separator-free and a doc of one repeated word scores ~1.0. Ties on
    the top gram break to the lexicographically smallest gram
    (deterministic cross-engine).

    Plan shape: three explode → ``groupBy(doc_id, gram)`` partial aggs
    (keys are (doc, gram) — skew-free), a per-doc top-1 window over the
    per-doc DISTINCT-gram counts (bounded by a doc's vocabulary, never
    the corpus), and broadcast-joinable per-doc frames. Short docs
    (< n tokens) have no grams: their fractions are 0.0 and they pass.
    """
    base = documents.select("doc_id", tokens("text").alias("_t"))
    chars = base.select(
        "doc_id",
        F.aggregate(
            F.transform("_t", lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
        )
        .cast("bigint")  # align with the oracle's BIGINT count convention
        .alias("n_chars_tok"),
    )

    def _gram_counts(n: int) -> DataFrame:
        return (
            base.select("doc_id", F.explode(ngrams(F.col("_t"), n)).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
            .withColumn("gchars", F.length("g") - F.lit(n - 1))
        )

    def _top1(n: int, out: str) -> DataFrame:
        w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("g").asc())
        return (
            _gram_counts(n)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id", (F.col("c") * F.col("gchars")).alias(out))
        )

    dup5 = (
        _gram_counts(5)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("c") >= 2, F.col("c") * F.col("gchars")).otherwise(0)
            ).alias("_dup5_chars")
        )
    )
    # overlapping gram occurrences count shared characters repeatedly
    # (a doc of one repeated word has 19 overlapping top-2-grams over
    # 20 tokens), so the raw ratio can exceed 1 — cap at 1.0 to keep
    # the "fraction" contract honest (the standard RedPajama/NeMo
    # implementation choice)
    frac = lambda c: F.when(  # noqa: E731
        F.col("n_chars_tok") > 0,
        F.least(
            F.round(F.coalesce(c, F.lit(0)) / F.col("n_chars_tok"), 4), F.lit(1.0)
        ),
    ).otherwise(F.lit(0.0))
    out = (
        chars.join(_top1(2, "_top2_chars"), "doc_id", "left")
        .join(_top1(3, "_top3_chars"), "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars_tok",
            frac(F.col("_top2_chars")).alias("top2_char_frac"),
            frac(F.col("_top3_chars")).alias("top3_char_frac"),
            frac(F.col("_dup5_chars")).alias("dup5_char_frac"),
        )
    )
    return out.select(
        "*",
        (F.col("top2_char_frac") <= 0.20).alias("top2_ok"),
        (F.col("top3_char_frac") <= 0.18).alias("top3_ok"),
        (F.col("dup5_char_frac") <= 0.15).alias("dup5_ok"),
        (
            (F.col("top2_char_frac") <= 0.20)
            & (F.col("top3_char_frac") <= 0.18)
            & (F.col("dup5_char_frac") <= 0.15)
        ).alias("repetition_pass"),
    )


def stupid_backoff_scores(documents: DataFrame, alpha: float = 0.4) -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" — THE canonical
    web-scale distributed n-gram recipe: no normalization, no
    discounting, just counts and a fixed backoff factor, specifically
    so the whole thing is groupBys and joins).

    Train/score split by doc parity (even doc_ids train the counts,
    odd doc_ids are scored) so backoff actually fires — scoring a
    corpus with its own counts never backs off. Per trigram position
    in a scored doc:

        S(w3|w1 w2) = c3(w1w2w3)/c2(w1w2)            if c3 > 0
                    = α · c2(w2w3)/c1(w2)            elif c2(w2w3) > 0
                    = α² · c1(w3)/N                  elif w3 in train
                    = α³ / N                         (OOV floor)

    with α=0.4. Output per scored doc: ``n_trigrams`` and the mean
    log10 score (4dp, the :func:`doc_perplexity` rounding discipline —
    every S is a ratio of exact integers times an exact power of 0.4,
    identical across engines).

    Plan shape: three train count tables keyed by gram (partial-agg,
    Zipf-bounded — AQE broadcasts the small ones), the scored trigram
    stream left-joins them on gram keys, N is a broadcast scalar. This
    IS the Brants et al. architecture re-expressed in DataFrames.
    """
    # lazy checkpoint (r15, guide §2.4): the tokenize subtree feeds
    # SEVEN branches (c3, c2 — referenced twice through the b12/b23
    # joins, c1 — twice through w2/w3, n_train, and the scored trigram
    # stream); pinning the base makes every branch an explode/agg over
    # the cached token arrays instead of its own parquet scan +
    # re-tokenize. The COUNT aggregates stay lazy, so AQE still sees
    # their shuffle sizes and broadcasts the small ones (the
    # doc_perplexity lesson: checkpoint bases, never the aggregates
    # that feed size-estimated joins).
    toks = pin(documents.select("doc_id", tokens("text").alias("_t")))
    train = toks.where(F.col("doc_id") % 2 == 0)
    score = toks.where(F.col("doc_id") % 2 == 1)

    def _counts(df: DataFrame, n: int, cname: str) -> DataFrame:
        grams = (
            df.select(F.explode(ngrams(F.col("_t"), n)).alias("g"))
            if n > 1
            else df.select(F.explode("_t").alias("g"))
        )
        return grams.groupBy("g").agg(F.count("*").alias(cname))

    c3 = _counts(train, 3, "c3")
    c2 = _counts(train, 2, "c2")
    c1 = _counts(train, 1, "c1")
    # r16 NOT-OPTIMIZED (VERDICT r15 Next #5 tried and REVERTED):
    # deriving N from c1 (N = sum of unigram counts, an exact integer
    # identity) removes this branch from the logical plan but NOT from
    # the physical one — Catalyst does not reuse the c1 exchange across
    # the broadcast-scalar subquery and the join branch (measured:
    # stages 15 -> 17, job count flat at 10, interleaved A/B neutral at
    # 0.96x), so the "fold" re-ran the explode+aggregate where this
    # form runs a cheaper size-sum over the cached token arrays. Kept
    # as the direct corpus pass.
    n_train = train.agg(F.sum(F.size("_t")).alias("_n"))

    t = F.col("_t")
    occ = (
        score.where(F.size(t) >= 3)
        .select("doc_id", t.alias("_t"), F.explode(F.sequence(F.lit(0), F.size(t) - 3)).alias("i"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.get(t, F.col("i")), F.get(t, F.col("i") + 1), F.get(t, F.col("i") + 2)).alias("tri"),
            F.concat_ws(" ", F.get(t, F.col("i")), F.get(t, F.col("i") + 1)).alias("b12"),
            F.concat_ws(" ", F.get(t, F.col("i") + 1), F.get(t, F.col("i") + 2)).alias("b23"),
            F.get(t, F.col("i") + 1).alias("w2"),
            F.get(t, F.col("i") + 2).alias("w3"),
        )
    )
    j = (
        occ.join(c3.withColumnRenamed("g", "tri"), "tri", "left")
        .join(c2.withColumnRenamed("g", "b12").withColumnRenamed("c2", "c2p"), "b12", "left")
        .join(c2.withColumnRenamed("g", "b23").withColumnRenamed("c2", "c2s"), "b23", "left")
        .join(c1.withColumnRenamed("g", "w2").withColumnRenamed("c1", "c1w2"), "w2", "left")
        .join(c1.withColumnRenamed("g", "w3").withColumnRenamed("c1", "c1w3"), "w3", "left")
        .crossJoin(F.broadcast(n_train))
    )
    # c3 non-null implies c2p non-null (same train corpus); likewise
    # c2s implies c1w2 — the CASE arms never divide by null
    s = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("c2p"))
        .when(F.col("c2s").isNotNull(), F.lit(alpha) * F.col("c2s") / F.col("c1w2"))
        .when(F.col("c1w3").isNotNull(), F.lit(alpha * alpha) * F.col("c1w3") / F.col("_n"))
        .otherwise(F.lit(alpha**3) / F.col("_n"))
    )
    return (
        j.select("doc_id", F.log10(s).alias("_lp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(F.avg("_lp"), 4).alias("mean_log10_s"),
        )
    )


def kn_continuation_counts(documents: DataFrame) -> DataFrame:
    """Kneser-Ney continuation statistics per token (Kneser & Ney 1995
    — the insight behind every modern n-gram smoother): how many
    DISTINCT left contexts a word follows, not how often it occurs.
    "francisco" is frequent but only ever follows "san" — continuation
    count 1 — so KN gives it almost no unigram backoff mass.

    Per corpus token: total occurrences, distinct left contexts
    (``N1+(·w)``), distinct right continuations (``N1+(w·)``), and the
    KN continuation probability ``N1+(·w) / |distinct bigram types|``
    (6dp). Doc-initial-only / doc-final-only tokens have 0 left/right
    contexts (bigrams do not cross document boundaries).

    Plan shape: one distinct-bigram aggregation keyed by (v, w) — the
    heavy stage, partial-agg, skew-free keys — then two vocab-bounded
    counts over it; output is vocabulary-sized, never corpus-sized.
    """
    toks = documents.select(tokens("text").alias("_t"))
    uni = toks.select(F.explode("_t").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c_total")
    )
    # r16 NOT-OPTIMIZED (VERDICT r15 Next #6 tried and REVERTED): a
    # lazy localCheckpoint on this distinct-bigram type table (it feeds
    # THREE consumers: n_types, left, right) measured SLOWER —
    # interleaved cross-tree A/B, 5 rounds, medians 1.63s (recompute)
    # vs 1.93s (checkpoint). The three consumers' distinct subtrees are
    # byte-identical, so the planner already evaluates the shuffle once
    # (exchange reuse); the checkpoint only added a materialization
    # barrier + an extra cached pass. Same lesson as the r15
    # lang_source_contingency revert: never checkpoint what the
    # planner already shares.
    pairs = (
        toks.select(F.explode(ngrams(F.col("_t"), 2)).alias("g"))
        .select(
            F.split_part("g", F.lit(" "), F.lit(1)).alias("v"),
            F.split_part("g", F.lit(" "), F.lit(2)).alias("w"),
        )
        .distinct()
    )
    n_types = pairs.agg(F.count("*").alias("_nt"))
    left = pairs.groupBy("w").agg(F.count("*").alias("n_left_contexts"))
    right = pairs.groupBy("v").agg(F.count("*").alias("n_right_contexts"))
    return (
        uni.join(left.withColumnRenamed("w", "tok"), "tok", "left")
        .join(right.withColumnRenamed("v", "tok"), "tok", "left")
        .crossJoin(F.broadcast(n_types))
        .select(
            "tok",
            "c_total",
            F.coalesce("n_left_contexts", F.lit(0)).alias("n_left_contexts"),
            F.coalesce("n_right_contexts", F.lit(0)).alias("n_right_contexts"),
            F.round(
                F.coalesce("n_left_contexts", F.lit(0)) / F.col("_nt"), 6
            ).alias("cont_prob"),
        )
    )


def perplexity_tercile_mix(documents: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): split the
    corpus into head / middle / tail TERCILES of LM perplexity and
    profile each source's mix — the standard crawl-quality triage
    (CCNet keeps "head", inspects "middle", drops "tail").

    Perplexity comes from :func:`doc_perplexity` (the corpus's own
    add-one bigram LM); terciles from topk.global_ntile — the
    range-partitioned exact NTILE, NOT a single-task global window.
    The downstream aggregate keeps source AND ppl alongside the bucket,
    which is precisely the pruning-divergent consumer shape that broke
    the pre-round-9 rank machinery: this query is a permanent live
    guard on that fix. Docs with < 2 tokens have no bigrams and are
    excluded (no perplexity is defined for them).

    Output: (source, ppl_bucket, n_docs, avg_ppl), one row per
    source × occupied bucket.
    """
    from dumbo_spark.operators.topk import global_ntile

    ppl = doc_perplexity(documents)
    binned = global_ntile(ppl, [F.col("ppl").asc(), F.col("doc_id").asc()], 3)
    lab = (
        F.when(F.col("ntile") == 1, "head")
        .when(F.col("ntile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        binned.join(documents.select("doc_id", "source"), "doc_id")
        .groupBy("source", lab.alias("ppl_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            # the 4dp ppl values are exact decimals: SUM them as
            # DECIMAL (order-independent) and divide ONCE, with NO
            # final rounding — a float AVG's summation order differs
            # across engines, and rounding the mean is structurally
            # unsafe here (a 4dp-exact sum over n=10 docs lands on
            # exact .00005 midpoints where Spark's shortest-repr
            # HALF_UP and DuckDB's scaled-double round disagree —
            # observed at sf0.001). The unrounded quotient of identical
            # exact-cast doubles is bit-identical IEEE-754 on both.
            (
                F.sum(F.col("ppl").cast("decimal(18,4)")).cast("double")
                / F.count("*")
            ).alias("avg_ppl"),
        )
    )


def source_divergence_matrix(documents: DataFrame) -> DataFrame:
    """Pairwise Jensen–Shannon divergence (nats) between per-source
    unigram token distributions — the domain-distance matrix behind
    mixture design and domain-shift screening (the quantity DSIR /
    DoReMi-style domain weighting reasons about; cf.
    :func:`dumbo_spark.operators.packing.dsir_importance_weights`).

    Exactness discipline (the DSIR convention): the only floating-point
    work is per shared token — p, q, and m = (p+q)/2 are single
    divisions of exact integers, the two logs are taken of those, and
    the token's JS contribution is immediately fixed-pointed to integer
    NANO-units. Per-pair aggregation is then an exact integer sum
    (order-independent, cross-engine). Tokens present in only ONE side
    contribute 0.5·ln2·mass in closed form — computed from the exact
    integer shared-count sums, never from a float residual — so no
    full-outer join is needed: the pair join is INNER on token.

    Scale: one corpus pass builds (source, token) counts (partial agg,
    vocab·|sources| rows); totals broadcast; the token-keyed self-join
    is vocab·|sources|² worst case — bounded by vocabulary, never by
    corpus (for web-scale vocabularies, md5-bucket the tokens first,
    exactly like DSIR's 256-bucket hashing).

    Output: (src_a, src_b, shared_tokens, js_divergence) per unordered
    source pair, 6dp nats; 0 = identical distributions, ln2 ≈ 0.6931 =
    disjoint support.
    """
    # persist the vocab-bounded counts frame: it feeds BOTH pair sides,
    # the totals, and the pair universe — without it each branch
    # re-runs the corpus token explode (the dedup_fuzzy bands.persist()
    # precedent; the frame is vocab·|sources| rows, never corpus-sized).
    # Cache lifetime is CALLER-owned (repo convention for persisted
    # shared subplans — the returned frame is lazy, so unpersisting
    # here would defeat the share): bench.py clearCache()s between
    # queries; long-lived sessions should do the same after
    # materializing (ADVICE r10 low).
    counts = (
        documents.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    a = (
        counts.join(totals, "source")
        .select(
            F.col("source").alias("src_a"),
            "token",
            F.col("c").alias("ca"),
            F.col("n").alias("na"),
        )
    )
    b = (
        counts.join(totals, "source")
        .select(
            F.col("source").alias("src_b"),
            "token",
            F.col("c").alias("cb"),
            F.col("n").alias("nb"),
        )
    )
    p = F.col("ca") / F.col("na")
    q = F.col("cb") / F.col("nb")
    m = (p + q) / F.lit(2.0)
    contrib_nano = F.round(
        (p * F.log(p / m) + q * F.log(q / m)) * F.lit(0.5) * F.lit(1e9)
    ).cast("long")
    shared = (
        a.join(b, "token")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("bigint").alias("shared_tokens"),
            F.sum(contrib_nano).alias("_shared_nano"),
            F.sum("ca").alias("_sca"),
            F.sum("cb").alias("_scb"),
        )
    )
    # the pair UNIVERSE comes from the tiny totals frame, not the
    # shared join — a pair with zero shared tokens (disjoint vocab)
    # must still appear, with JS exactly ln 2
    universe = (
        totals.select(F.col("source").alias("src_a"), F.col("n").alias("_na"))
        .join(
            totals.select(
                F.col("source").alias("src_b"), F.col("n").alias("_nb")
            ),
            F.col("src_a") < F.col("src_b"),
        )
    )
    pairs = universe.join(F.broadcast(shared), ["src_a", "src_b"], "left")
    import math

    only_mass = (
        (F.col("_na") - F.coalesce(F.col("_sca"), F.lit(0))) / F.col("_na")
        + (F.col("_nb") - F.coalesce(F.col("_scb"), F.lit(0))) / F.col("_nb")
    )
    js = (
        F.coalesce(F.col("_shared_nano"), F.lit(0)) / F.lit(1e9)
        + F.lit(0.5 * math.log(2.0)) * only_mass
    )
    return pairs.select(
        "src_a",
        "src_b",
        F.coalesce(F.col("shared_tokens"), F.lit(0)).cast("bigint").alias(
            "shared_tokens"
        ),
        F.round(js, 6).alias("js_divergence"),
    )


def ngram_coverage_curve(
    documents: DataFrame, n: int = 3, ks: tuple[int, ...] = (10, 100, 1000)
) -> DataFrame:
    """Head-coverage curve of the corpus n-gram distribution: what
    fraction of all n-gram OCCURRENCES the top-k most frequent n-gram
    TYPES cover, at each k — the measurement behind vocabulary/phrase-
    table truncation and cache sizing (the Zipf-fit's actionable twin:
    zipf_fit estimates the exponent, this reads the curve directly).

    Scale shape: n-gram counts are one corpus pass (partial agg,
    gram-type-bounded); the head is cut with orderBy+limit —
    TakeOrderedAndProject, a per-task heap of max(ks) rows, NO global
    sort — and the cumulative walk is a window over that max(ks)-row
    driver-bounded frame (documented bounded unpartitioned window).
    Coverage ratios are exact integer quotients divided once.

    Output: one row per k — (k, head_types, covered_occurrences,
    total_occurrences, coverage 6dp). head_types < k when the corpus
    has fewer distinct n-grams than k.
    """
    grams = (
        documents.select(tokens("text").alias("toks"))
        .select(F.explode(ngrams(F.col("toks"), n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("c"))
    )
    total = grams.agg(F.sum("c").alias("total"))
    head = grams.orderBy(F.col("c").desc(), F.col("gram").asc()).limit(max(ks))
    w = Window.orderBy(F.col("c").desc(), F.col("gram").asc())
    ranked = (
        head.select("gram", "c", F.row_number().over(w).alias("r"))
        .withColumn(
            "cum",
            F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .drop("gram")
    )
    ks_df = ranked.sparkSession.createDataFrame(
        [(k,) for k in ks], "k int"
    )
    return (
        ranked.join(F.broadcast(ks_df), F.col("r") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("head_types"),
            F.max("cum").cast("bigint").alias("covered_occurrences"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            "head_types",
            "covered_occurrences",
            F.col("total").cast("bigint").alias("total_occurrences"),
            F.round(
                F.col("covered_occurrences") / F.col("total").cast("double"), 6
            ).alias("coverage"),
        )
    )


def token_position_stats(documents: DataFrame, top: int = 20) -> DataFrame:
    """Positional distribution of the most frequent tokens: where in a
    document does each token tend to appear? Tokens concentrated at
    fixed positions (mean near 0 or 1000 with low spread) are
    boilerplate/header/footer candidates — the positional screen the
    dedup ladder's content screens don't see (cf. Lee et al. 2022's
    boilerplate discussion).

    Positions are normalized to integer PERMILLE via exact integer
    division: pos_mil = (1000·i) div (n−1) for an i-th token (0-based)
    of an n-token document (single-token docs sit at 500 by
    convention) — no floats anywhere in the per-token path, so both
    engines bucket identically. Moments are DECIMAL(38,0) sums of
    pos_mil and pos_mil² (exact, order-independent; BIGINT sums of the
    squares would overflow near 10¹⁸ occurrences); the one float step
    is the final mean/variance arithmetic on the exact sums.

    Scale: posexplode is the corpus-sized pass; the aggregate is
    vocab-bounded; the final top-``top`` cut is orderBy+limit
    (TakeOrderedAndProject).

    Output: top tokens by occurrence — (token, n_occurrences,
    mean_pos_mil 2dp, stddev_pos_mil 2dp).
    """
    # tokenize ONCE through a named projection: inlining tokens("text")
    # into both posexplode and size ran the regex split twice per doc
    # (no CSE through the generator) — 7x slower at sf0.1 (4.97s vs
    # 0.5s, round-10 bench finding)
    placed = documents.select(tokens("text").alias("toks")).select(
        F.posexplode("toks").alias("i", "token"),
        F.size("toks").alias("n"),
    ).select(
        "token",
        # cast i to bigint BEFORE multiplying: posexplode yields a
        # 32-bit index, and 1000*i wraps int32 for documents beyond
        # ~2.1M tokens (silent with ANSI off) — ADVICE r10
        F.when(F.col("n") <= 1, F.lit(500))
        .otherwise(F.expr("(1000 * cast(i as bigint)) div (n - 1)"))
        .cast("long")
        .alias("pos_mil"),
    )
    stats = placed.groupBy("token").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.sum(F.col("pos_mil").cast("decimal(38,0)")).alias("_s1"),
        F.sum((F.col("pos_mil") * F.col("pos_mil")).cast("decimal(38,0)")).alias(
            "_s2"
        ),
    )
    mean = F.col("_s1").cast("double") / F.col("n_occurrences")
    var = (
        F.col("_s2").cast("double") / F.col("n_occurrences") - mean * mean
    )
    return (
        stats.select(
            "token",
            "n_occurrences",
            F.round(mean, 2).alias("mean_pos_mil"),
            F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 2).alias(
                "stddev_pos_mil"
            ),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(top)
    )


def chi2_lang_source(documents: DataFrame) -> DataFrame:
    """Chi-square independence test over the language × source
    contingency table — the single-scalar hypothesis-test companion to
    :func:`lang_source_contingency`'s per-cell Pearson residuals
    ("is the language mix independent of source AT ALL" before asking
    which cells deviate).

    Unlike the residuals table (observed cells only), the statistic
    needs STRUCTURAL ZEROS: a (lang, source) combination that never
    occurs still contributes (0−E)²/E = E, so the cell universe is the
    cross of the observed lang and source marginals (a broadcast
    |langs|×|sources| frame) left-joined with the observed counts.

    Exactness discipline (the JS-divergence convention): each cell's
    contribution (O−E)²/E is computed from exact integer marginals and
    immediately fixed-pointed to integer NANO-units; the sum over
    cells is then an exact integer sum — order-independent,
    cross-engine. dof = (R−1)(C−1) from the marginal cardinalities.

    Output: one row — (n_langs, n_sources, dof, n_total, chi2 4dp).
    """
    # persist: cells feeds FOUR consumers (row/col marginals, total,
    # and the observed left join) — unpersisted, each re-scans the
    # corpus (the source_divergence_matrix lesson this same round).
    # Cache lifetime is CALLER-owned (see source_divergence_matrix):
    # bench.py clearCache()s between queries; long-lived sessions
    # should do the same after materializing (ADVICE r10 low).
    cells = (
        documents.groupBy("lang", "source")
        .agg(F.count("*").alias("observed"))
        .persist()
    )
    row = cells.groupBy("lang").agg(F.sum("observed").alias("n_lang"))
    col = cells.groupBy("source").agg(F.sum("observed").alias("n_source"))
    total = cells.agg(F.sum("observed").alias("n_total"))
    full = (
        row.crossJoin(F.broadcast(col))
        .join(cells, ["lang", "source"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            F.coalesce(F.col("observed"), F.lit(0)).alias("o"),
            "n_lang",
            "n_source",
            "n_total",
        )
    )
    e = (
        F.col("n_lang").cast("double")
        * F.col("n_source").cast("double")
        / F.col("n_total").cast("double")
    )
    o = F.col("o").cast("double")
    contrib_nano = F.round((o - e) * (o - e) / e * F.lit(1e9)).cast("long")
    return full.select(
        contrib_nano.alias("_c"), "lang", "source", "n_total"
    ).agg(
        F.countDistinct("lang").cast("int").alias("n_langs"),
        F.countDistinct("source").cast("int").alias("n_sources"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).cast("int").alias("dof"),
        F.max("n_total").cast("bigint").alias("n_total"),
        F.round(F.sum("_c") / F.lit(1e9), 4).alias("chi2"),
    )


def decontamination_census(
    documents: DataFrame, n: int = 3, eval_mod: int = 20, threshold_pct: int = 10
) -> DataFrame:
    """The ACTING half of :func:`benchmark_contamination`: apply the
    standard removal rule (drop corpus documents whose distinct-n-gram
    overlap with the eval set exceeds ``threshold_pct``%) and report
    what decontamination costs per source — the census a training run
    publishes next to its eval suite ("we removed X% of source Y for
    benchmark overlap").

    The threshold cut is DIVISIONLESS — ``100·n_contaminated >
    threshold_pct·n_grams`` over exact integer counts — so a document
    sitting exactly on the boundary is classified identically in both
    engines (a rounded-ratio compare would not be). Documents with no
    n-grams (< n tokens) cannot be contaminated and are kept; eval
    documents are the benchmark, not corpus, and are excluded from the
    census entirely.

    Plan: the per-doc scores reuse benchmark_contamination's broadcast
    membership join (the corpus never shuffles); the census adds one
    doc_id-keyed join back to (source, n_tokens) and a partial agg to
    |sources| rows.

    Output: (source, n_docs, n_dropped, kept_tokens, dropped_tokens,
    drop_rate 4dp) per source.
    """
    scores = benchmark_contamination(documents, n=n, eval_mod=eval_mod)
    corpus = documents.where(F.col("doc_id") % eval_mod != 0).select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tokens")
    )
    j = corpus.join(
        scores.select("doc_id", "n_grams", "n_contaminated"), "doc_id", "left"
    )
    dropped = (
        F.lit(100) * F.coalesce(F.col("n_contaminated"), F.lit(0))
        > F.lit(threshold_pct) * F.coalesce(F.col("n_grams"), F.lit(0))
    ).cast("int")
    return (
        j.withColumn("_d", dropped)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_d").cast("bigint").alias("n_dropped"),
            F.sum(F.when(F.col("_d") == 0, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
            F.sum(F.when(F.col("_d") == 1, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("dropped_tokens"),
        )
        .withColumn(
            "drop_rate",
            F.round(F.col("n_dropped") / F.col("n_docs").cast("double"), 4),
        )
    )
