"""Text analysis operators for LLM training-data pipelines (SURVEY §7 M5).

All operators are pure Catalyst expressions (no Python UDFs) over the
``documents`` table — tokenization, token counting, quality scoring,
language ID (stopword-profile heuristic), and document fingerprinting.
Each ships a DuckDB oracle computing identical values.

Scale notes (100 TB): every op here is embarrassingly parallel per-row
(narrow transformations — no shuffle at all except the final stats groupBy,
which map-side combines). This is the shape you want for a 1000-executor
corpus scan: one pass, predicate pushdown, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mycarely_saas_dbt_spark.sources.registry import register_sources
from mycarely_saas_dbt_spark.util import await_or_raise

# stopword-profile language markers (tiny on purpose — the heuristic is the
# operator; swap in real profiles for production corpora)
LANG_MARKERS = {
    "en": ["the", "a", "is", "and", "of"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "los", "que", "y", "una"],
}
EN_STOPWORDS = ["the", "a", "is", "and", "of", "to", "in"]


def _toks(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


def _hits(tokens: F.Column, words: list[str]) -> F.Column:
    """Occurrence count of `words` within the token array (JVM lambda —
    stays inside codegen, unlike a Python UDF)."""
    lst = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter(__toks, t -> t IN ({lst})))")


def with_text_features(docs: DataFrame) -> DataFrame:
    """Tokenize + token stats: counts, distinct ratio, regex word count."""
    return (
        docs.withColumn("__toks", _toks())
        .withColumn("n_tokens", F.size("__toks").cast("long"))
        .withColumn(
            "n_distinct_tokens", F.size(F.array_distinct("__toks")).cast("long")
        )
        .withColumn(
            "n_alnum_words",
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)).cast(
                "long"
            ),
        )
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_sources(spark, sf_dir)
    return with_text_features(spark.table("documents")).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "n_alnum_words"
    )


O_TOKEN_STATS = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_alnum_words
FROM documents
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation, lexical diversity,
    stopword balance — the standard cheap pre-filter before expensive
    dedup/training steps."""
    register_sources(spark, sf_dir)
    d = with_text_features(spark.table("documents"))
    stop_ratio = (
        _hits(F.col("__toks"), EN_STOPWORDS).cast("double") / F.col("n_tokens")
    )
    diversity = F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")
    length_sat = F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
    return d.select(
        "doc_id",
        F.col("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        diversity.alias("diversity"),
        length_sat.alias("length_sat"),
        (0.4 * length_sat + 0.4 * diversity + 0.2 * (1.0 - stop_ratio)).alias(
            "quality_score"
        ),
    )


_SQL_STOP_LIST = ", ".join(f"'{w}'" for w in EN_STOPWORDS)

O_QUALITY = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct
    FROM documents
),
f AS (
    SELECT doc_id, n_tokens,
        CAST(len(list_filter(toks, t -> t IN ({_SQL_STOP_LIST}))) AS DOUBLE)
            / n_tokens AS stopword_ratio,
        CAST(n_distinct AS DOUBLE) / n_tokens AS diversity,
        least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS length_sat
    FROM t
)
SELECT doc_id, n_tokens, stopword_ratio, diversity, length_sat,
       0.4 * length_sat + 0.4 * diversity + 0.2 * (1.0 - stopword_ratio)
           AS quality_score
FROM f
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: argmax of marker-hit counts with a
    deterministic priority order; 'und' when nothing matches."""
    register_sources(spark, sf_dir)
    d = spark.table("documents").withColumn("__toks", _toks())
    scores = {l: _hits(F.col("__toks"), ws) for l, ws in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, "und")
    for lang in LANG_MARKERS:  # insertion order = tie-break priority
        pred = pred.when(scores[lang] == best, lang)
    out = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        *[scores[l].cast("long").alias(f"score_{l}") for l in LANG_MARKERS],
    )
    return out


def _marker_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter(toks, t -> t IN ({lst})))"


O_LANG_ID = f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
s AS (
    SELECT doc_id, lang,
           {_marker_sql('en')} AS score_en,
           {_marker_sql('fr')} AS score_fr,
           {_marker_sql('de')} AS score_de,
           {_marker_sql('es')} AS score_es
    FROM t
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN greatest(score_en, score_fr, score_de, score_es) = 0 THEN 'und'
            WHEN score_en = greatest(score_en, score_fr, score_de, score_es) THEN 'en'
            WHEN score_fr = greatest(score_en, score_fr, score_de, score_es) THEN 'fr'
            WHEN score_de = greatest(score_en, score_fr, score_de, score_es) THEN 'de'
            ELSE 'es' END AS predicted_lang,
       CAST(score_en AS BIGINT) AS score_en,
       CAST(score_fr AS BIGINT) AS score_fr,
       CAST(score_de AS BIGINT) AS score_de,
       CAST(score_es AS BIGINT) AS score_es
FROM s
"""


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (md5 over lowercased, whitespace-
    collapsed text) — the cheap exact-dup key for corpus-level dedup."""
    register_sources(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return spark.table("documents").select(
        "doc_id", F.md5(norm).alias("fingerprint")
    )


# DuckDB regexp_replace needs the 'g' flag (Spark replaces all by default)
O_FINGERPRINT = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) corpus rollup — the partition-planning view a
    100 TB pipeline uses to size splits."""
    register_sources(spark, sf_dir)
    return (
        with_text_features(spark.table("documents"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.avg(F.col("n_tokens").cast("double")).alias("avg_tokens"),
        )
    )


O_CORPUS_STATS = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avg_tokens
FROM documents
GROUP BY lang, source
"""


CURATION_MIN_QUALITY = 0.55


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline a training-data run actually executes:
    exact-dedup keep-list (lowest doc_id per content hash) → quality gate →
    per-language profile of the surviving corpus. One extra shuffle for the
    keep-list join beyond the individual operators; the quality features are
    computed once on the already-deduped survivors. Aggregates are
    order-independent (count / min / max / integer sum) so the oracle
    compare is exact."""
    register_sources(spark, sf_dir)
    docs = spark.table("documents")
    canonical = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    q = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    kept = (
        docs.join(canonical.select("doc_id"), "doc_id")
        .join(q, "doc_id")
        .filter(F.col("quality_score") >= CURATION_MIN_QUALITY)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("quality_score"), 6).alias("min_quality"),
        F.round(F.max("quality_score"), 6).alias("max_quality"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


O_CURATION = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct
    FROM documents
),
q AS (
    SELECT doc_id,
           0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
         + 0.2 * (1.0 - CAST(len(list_filter(toks, t -> t IN ({_SQL_STOP_LIST}))) AS DOUBLE)
                        / n_tokens) AS quality_score
    FROM t
),
canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))
SELECT d.lang, COUNT(*) AS n_docs,
       ROUND(MIN(q.quality_score), 6) AS min_quality,
       ROUND(MAX(q.quality_score), 6) AS max_quality,
       CAST(SUM(length(d.text)) AS BIGINT) AS total_chars
FROM documents d
JOIN canon USING (doc_id)
JOIN q USING (doc_id)
WHERE q.quality_score >= {CURATION_MIN_QUALITY}
GROUP BY d.lang
"""


CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
CHUNK_STEP = CHUNK_TOKENS - CHUNK_OVERLAP


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window chunking with overlap — the standard pre-training
    sequence-preparation step (split every document into CHUNK_TOKENS-token
    windows advancing CHUNK_STEP tokens, so consecutive chunks share
    CHUNK_OVERLAP tokens of context).

    Pure Catalyst: sequence() generates the chunk starts, posexplode fans
    them out, slice()+array_join materializes each window — a narrow
    per-row explode, no shuffle, no Python. At 100 TB this is one corpus
    pass whose output is ~n_tokens/CHUNK_STEP rows per doc; downstream
    packing/batching reads it partitioned by doc_id."""
    register_sources(spark, sf_dir)
    d = spark.table("documents").withColumn("__toks", _toks())
    d = d.withColumn("n_tokens", F.size("__toks"))
    starts = F.expr(f"sequence(0, n_tokens - 1, {CHUNK_STEP})")
    return (
        d.select("doc_id", "__toks", "n_tokens", F.posexplode(starts).alias("chunk_id", "start"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.least(F.lit(CHUNK_TOKENS), F.col("n_tokens") - F.col("start"))
            .cast("long")
            .alias("n_chunk_tokens"),
            F.array_join(
                F.expr(f"slice(__toks, start + 1, {CHUNK_TOKENS})"), " "
            ).alias("chunk_text"),
        )
    )


O_CHUNKS = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
),
starts AS (
    SELECT doc_id, toks, n_tokens,
           unnest(generate_series(0, n_tokens - 1, {CHUNK_STEP})) AS start
    FROM t
)
SELECT doc_id,
       CAST(start / {CHUNK_STEP} AS BIGINT) AS chunk_id,
       CAST(least({CHUNK_TOKENS}, n_tokens - start) AS BIGINT) AS n_chunk_tokens,
       array_to_string(toks[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text
FROM starts
"""


def _let(value: str, var: str, body: str) -> str:
    """SQL for ``body`` with ``var`` bound to ONE evaluation of ``value``:
    a lambda over a one-element array. Catalyst copies a projected
    expression into every filter or projection that references it, but
    it never splits a lambda, so whatever ``body`` derives from ``var``
    shares that one evaluation wherever the whole expression lands."""
    return f"transform(array({value}), {var} -> {body})[0]"


def gopher_features() -> F.Column:
    """One struct per doc (symbol_ratio, mean_token_len, top_bigram_frac,
    passes_gopher), every field derived from a SINGLE split(text, ' ').

    The repetition stat needs the doc's TOP bigram multiplicity: a
    sort+run-length fold over the bigram array, per-row work (r15,
    guide §2.4). max(multiplicity) and the gram total are exact integers
    whatever order equal elements group in, and each fraction is the
    same exact-int / exact-int double division as the oracle's."""
    # size<2 guard: sequence(0, -1) would yield [0, -1] (negative step
    # default), fabricating a NULL bigram and top_bigram_frac=1.0 for a
    # single-token doc, where DuckDB's generate_series(1, 0) is empty —
    # both engines must agree the doc has no bigrams (frac 0.0).
    bigrams = (
        "CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(0, size(toks) - 2), i -> "
        "concat(toks[i], ' ', toks[i + 1])) ELSE array() END"
    )
    top_run = (
        "aggregate(array_sort(grams), "
        "struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run, "
        "CAST(0 AS BIGINT) AS top), "
        "(acc, x) -> struct(x AS prev, "
        "IF(x <=> acc.prev, acc.run + 1, CAST(1 AS BIGINT)) AS run, "
        "GREATEST(acc.top, IF(x <=> acc.prev, acc.run + 1, "
        "CAST(1 AS BIGINT))) AS top), "
        "acc -> acc.top)"
    )
    stats = (
        "named_struct('symbol_ratio', CAST(length(regexp_replace(text, "
        "'[a-z0-9 ]', '')) AS DOUBLE) / length(text), "
        "'mean_token_len', CAST(aggregate(transform(toks, t -> length(t)), "
        "0, (a, x) -> a + x) AS DOUBLE) / size(toks), "
        "'top_bigram_frac', CASE WHEN size(grams) = 0 THEN 0.0D "
        f"ELSE CAST({top_run} AS DOUBLE) / size(grams) END)"
    )
    keep = (
        "named_struct('symbol_ratio', s.symbol_ratio, "
        "'mean_token_len', s.mean_token_len, "
        "'top_bigram_frac', s.top_bigram_frac, "
        "'passes_gopher', s.top_bigram_frac <= 0.2D AND s.symbol_ratio <= 0.1D "
        "AND s.mean_token_len BETWEEN 2.0D AND 12.0D)"
    )
    return F.expr(
        _let("split(text, ' ')", "toks",
             _let(bigrams, "grams", _let(stats, "s", keep)))
    )


def gopher_quality(
    spark: SparkSession, sf_dir: str, *, docs: DataFrame | None = None
) -> DataFrame:
    """Gopher-style repetition/shape filters (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", §A1.1): top-bigram repetition fraction,
    symbol-to-char ratio, mean token length, and the combined keep flag.

    One narrow pass with ZERO exchanges: every stat comes from the
    per-doc `gopher_features` struct, which splits each text once. A
    filter on ``passes_gopher`` (training_mix_pipeline's keep-list) is
    pushed into the scan as that one struct expression, so it too
    splits each row once; separately projected stat columns would not
    hold, as Catalyst copies a projection's expressions into a filter
    pushed through it, one copy per reference. ``docs`` overrides the
    source table (degenerate-doc regression tests)."""
    if docs is None:
        register_sources(spark, sf_dir)
        docs = spark.table("documents")
    return docs.select("doc_id", gopher_features().alias("g")).select(
        "doc_id",
        "g.symbol_ratio",
        "g.mean_token_len",
        "g.top_bigram_frac",
        "g.passes_gopher",
    )


O_GOPHER = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents
),
grams AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS gram
    FROM t
),
rep AS (
    SELECT doc_id, CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_bigram_frac
    FROM (SELECT doc_id, gram, COUNT(*) AS n FROM grams GROUP BY doc_id, gram)
    GROUP BY doc_id
),
shape AS (
    SELECT doc_id,
           CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS symbol_ratio,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / len(toks) AS mean_token_len
    FROM t
)
SELECT s.doc_id, s.symbol_ratio, s.mean_token_len,
       COALESCE(r.top_bigram_frac, 0.0) AS top_bigram_frac,
       COALESCE(r.top_bigram_frac, 0.0) <= 0.2
           AND s.symbol_ratio <= 0.1
           AND s.mean_token_len BETWEEN 2.0 AND 12.0 AS passes_gopher
FROM shape s LEFT JOIN rep r USING (doc_id)
"""


# GPT-2-style pre-tokenizer shape (ASCII-simplified for the synthetic
# corpus): letter runs | digit runs | non-space symbol runs
_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]+"


def token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split vs a BPE-ish regex
    pre-tokenizer (the GPT-2 pattern's ASCII core) — the ratio is the
    standard 'how many model tokens per word' planning statistic for
    training-data budgeting. Pure per-row Catalyst regex, no shuffle."""
    register_sources(spark, sf_dir)
    d = spark.table("documents")
    n_ws = F.size(F.split("text", " ")).cast("long")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)).cast("long")
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        (n_bpe.cast("double") / n_ws).alias("bpe_per_word"),
    )


O_TOKEN_BPE = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS DOUBLE)
           / len(string_split(text, ' ')) AS bpe_per_word
FROM documents
"""


# Karp-Rabin rolling hash + winnowing (Schleimer, Wilkerson & Aiken,
# SIGMOD'03): per-position k-gram hashes, then the min hash of each
# w-window; the distinct mins are the document's fingerprints.
WIN_K = 8        # character k-gram length
WIN_W = 4        # winnowing window (guarantee: every match >= k+w-1 chars shares a fingerprint)
WIN_B = 257      # polynomial base
WIN_P = 1_000_003  # modulus (small enough that acc*B+c never overflows int64)


def _winnow_batches(docs: DataFrame, *, exploded: bool) -> DataFrame:
    """Arrow-batched winnowing over (doc_id, text): mapInPandas with exact
    integer arithmetic (weights pre-reduced mod P, products bounded by
    ~8 * 2^21 * 2^20 << 2^63 — no overflow), byte-identical to the Catalyst
    fold and the DuckDB oracle. The closure is self-contained (constants
    captured as locals, helper nested) so cloudpickle ships it by value —
    workers need no importable copy of this package."""
    w_pow = [pow(WIN_B, WIN_K - 1 - j, WIN_P) for j in range(WIN_K)]
    k, w_win, p_mod = WIN_K, WIN_W, WIN_P

    def winnow_doc(codes):
        """Exact Karp-Rabin gram hashes + winnowed per-window minima for one
        doc's codepoint array. The hash of the gram at i is
        sum(c[i+j] * B^(k-1-j)) mod P — identical to the left-to-right fold
        (acc*B + c) % P, but computed as k vectorized shifted adds with
        pre-reduced weights: O(len) numpy work, no per-gram Python."""
        import numpy as np

        L = codes.size - k + 1
        H = np.zeros(L, dtype=np.int64)
        for j, w in enumerate(w_pow):
            H += codes[j : j + L] * w
        H %= p_mod
        M = L - w_win + 1
        if M < 1:  # fewer grams than a window: one truncated window (SQL parity)
            return H, H.min(keepdims=True)
        m = H[:M].copy()
        for t in range(1, w_win):
            np.minimum(m, H[t : t + M], out=m)
        return H, m

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, grams, fps, mn, mx = [], [], [], [], []
            e_ids, e_fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                codes = np.frombuffer(
                    str(text).encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                H, mins = winnow_doc(codes)
                if exploded:
                    uniq = np.unique(mins)
                    e_ids.extend([doc_id] * uniq.size)
                    e_fps.extend(uniq.tolist())
                else:
                    ids.append(doc_id)
                    grams.append(H.size)
                    fps.append(np.unique(mins).size)
                    mn.append(int(mins.min()))
                    mx.append(int(mins.max()))
            if exploded:
                yield pd.DataFrame({"doc_id": e_ids, "fp": e_fps})
            else:
                yield pd.DataFrame(
                    {"doc_id": ids, "n_grams": grams, "n_fingerprints": fps,
                     "min_fp": mn, "max_fp": mx}
                )

    schema = (
        "doc_id bigint, fp bigint"
        if exploded
        else "doc_id bigint, n_grams bigint, n_fingerprints bigint, "
             "min_fp bigint, max_fp bigint"
    )
    # Arrow stages inherit the scan's split count; the r6 interleaved A/B
    # measured a protective repartition as a net LOSS at every site, so
    # the scorer rides the scan's own splits.
    return docs.mapInPandas(run, schema)


def winnowing_fingerprints(
    spark: SparkSession, sf_dir: str, *, strategy: str = "arrow"
) -> DataFrame:
    """Rolling-hash document fingerprinting (Schleimer et al. SIGMOD'03):
    exact integer Karp-Rabin hashes of every WIN_K-char gram, winnowed to
    the per-window minimum. Output: gram/fingerprint counts + min/max
    fingerprint per doc as the contract columns.

    strategy='arrow' (default): Arrow-batched mapInPandas scorer — O(len)
    vectorized numpy per doc (the k shifted adds run at memory bandwidth),
    ~8x less work than the per-gram Catalyst fold; the scale path.
    strategy='catalyst': pure-JVM higher-order-function formulation
    (O(len*k) per doc) kept for zero-Python environments and as the
    cross-check pinned by tests/test_textops_edges.py. Both are
    byte-identical to the DuckDB oracle."""
    register_sources(spark, sf_dir)
    d = spark.table("documents").filter(F.length("text") >= WIN_K)
    if strategy == "arrow":
        return _winnow_batches(d.select("doc_id", "text"), exploded=False)
    if strategy != "catalyst":
        raise ValueError(f"unknown winnowing strategy: {strategy}")
    # Materialize char codes ONCE per row: ascii(substring(text, i, 1))
    # inside the gram loop would re-seek the UTF8 string from the start for
    # every character (O(len²·k) total); a char array + slice() is O(len·k).
    chars = F.expr(
        "transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))"
    )
    gram_hashes = F.expr(
        f"transform(sequence(1, size(ch) - {WIN_K} + 1), i -> "
        f"aggregate(slice(ch, i, {WIN_K}), CAST(0 AS BIGINT), "
        f"(acc, c) -> (acc * {WIN_B} + c) % {WIN_P}))"
    )
    g = d.select("doc_id", chars.alias("ch")).select(
        "doc_id", gram_hashes.alias("gh")
    )
    mins = F.expr(
        f"transform(sequence(1, greatest(size(gh) - {WIN_W} + 1, 1)), t -> "
        f"array_min(slice(gh, t, {WIN_W})))"
    )
    return g.select(
        "doc_id",
        F.size("gh").cast("long").alias("n_grams"),
        F.size(F.array_distinct(mins)).cast("long").alias("n_fingerprints"),
        F.array_min(mins).cast("long").alias("min_fp"),
        F.array_max(mins).cast("long").alias("max_fp"),
    )


O_WINNOWING = f"""
WITH g AS (
    SELECT doc_id,
           list_transform(generate_series(1, length(text) - {WIN_K} + 1), i ->
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(generate_series(0, {WIN_K} - 1), j ->
                           CAST(ord(substring(text, i + j, 1)) AS BIGINT))),
                   (acc, c) -> (acc * {WIN_B} + c) % {WIN_P})) AS gh
    FROM documents WHERE length(text) >= {WIN_K}
),
m AS (
    SELECT doc_id, gh,
           list_transform(generate_series(1, greatest(len(gh) - {WIN_W} + 1, 1)), t ->
               list_min(gh[t : t + {WIN_W} - 1])) AS mins
    FROM g
)
SELECT doc_id,
       CAST(len(gh) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(mins)) AS BIGINT) AS n_fingerprints,
       CAST(list_min(mins) AS BIGINT) AS min_fp,
       CAST(list_max(mins) AS BIGINT) AS max_fp
FROM m
"""


CONTAM_BENCH_DOCS = 20      # doc_id < 20 plays the held-out benchmark set
CONTAM_OVERLAP = 0.5        # fingerprint-overlap fraction that flags a doc


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection (train/test overlap scrubbing):
    a corpus document is flagged when it shares >= CONTAM_OVERLAP of its
    winnowing fingerprints with any benchmark document. Reuses the
    Karp-Rabin winnowing fingerprints; the comparison is a fingerprint
    equi-join (corpus side exploded once, benchmark side broadcast) — the
    same bounded-bucket shape as the LSH dedup, never a doc×doc scan.
    Output: flagged (corpus_doc, bench_doc) pairs with the overlap
    fraction. In this synthetic corpus exact/near duplicates of the
    benchmark docs exist by construction, so the check provably fires."""
    fp = winnowing_fingerprints_exploded(spark, sf_dir)
    bench = fp.filter(F.col("doc_id") < CONTAM_BENCH_DOCS).select(
        F.col("doc_id").alias("bench_doc"), "fp"
    )
    corpus = fp.filter(F.col("doc_id") >= CONTAM_BENCH_DOCS).select(
        F.col("doc_id").alias("corpus_doc"), "fp"
    )
    sizes = corpus.groupBy("corpus_doc").agg(F.count(F.lit(1)).alias("n_fp"))
    shared = (
        corpus.join(F.broadcast(bench), "fp")
        .groupBy("corpus_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes, "corpus_doc")
        .withColumn("overlap", F.col("n_shared") / F.col("n_fp"))
        .filter(F.col("overlap") >= CONTAM_OVERLAP)
        .select("corpus_doc", "bench_doc", "n_shared", "n_fp", "overlap")
    )


def winnowing_fingerprints_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) rows: each document's DISTINCT winnowing fingerprints
    (Arrow scorer — same exact arithmetic as winnowing_fingerprints)."""
    register_sources(spark, sf_dir)
    d = spark.table("documents").filter(F.length("text") >= WIN_K)
    return _winnow_batches(d.select("doc_id", "text"), exploded=True)


def _winnow_fp_sql() -> str:
    return f"""
    SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(len(gh) - {{W}} + 1, 1)), t ->
                   list_min(gh[t : t + {{W}} - 1])) AS mins
        FROM (
            SELECT doc_id,
                   list_transform(generate_series(1, length(text) - {{K}} + 1), i ->
                       list_reduce(
                           list_prepend(CAST(0 AS BIGINT),
                               list_transform(generate_series(0, {{K}} - 1), j ->
                                   CAST(ord(substring(text, i + j, 1)) AS BIGINT))),
                           (acc, c) -> (acc * {{B}} + c) % {{P}})) AS gh
            FROM documents WHERE length(text) >= {{K}}
        )
    )
    """.format(K=WIN_K, W=WIN_W, B=WIN_B, P=WIN_P)


def _contamination_oracle() -> str:
    return f"""
WITH fp AS ({_winnow_fp_sql()}),
bench AS (SELECT doc_id AS bench_doc, fp FROM fp WHERE doc_id < {CONTAM_BENCH_DOCS}),
corpus AS (SELECT doc_id AS corpus_doc, fp FROM fp WHERE doc_id >= {CONTAM_BENCH_DOCS}),
sizes AS (SELECT corpus_doc, COUNT(*) AS n_fp FROM corpus GROUP BY corpus_doc),
shared AS (
    SELECT c.corpus_doc, b.bench_doc, COUNT(*) AS n_shared
    FROM corpus c JOIN bench b USING (fp)
    GROUP BY c.corpus_doc, b.bench_doc
)
SELECT s.corpus_doc, s.bench_doc, s.n_shared, z.n_fp,
       CAST(s.n_shared AS DOUBLE) / z.n_fp AS overlap
FROM shared s JOIN sizes z USING (corpus_doc)
WHERE CAST(s.n_shared AS DOUBLE) / z.n_fp >= {CONTAM_OVERLAP}
"""


# target corpus mixture by source, as fractions of the smallest source's
# share — deterministic md5-bucket downsampling hits the weights exactly
# in expectation and reproducibly in realization
MIXTURE_WEIGHTS = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
MIXTURE_FALLBACK = 0.6


def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: downsample each source to its target
    weight with the deterministic md5-bucket rule (keep iff
    bucket(doc_id) < weight·100) — the data-mixing step that rebalances a
    crawl-heavy corpus before training. Reproducible (content-keyed
    buckets, no RNG state), embarrassingly parallel, and auditable: the
    output reports kept/total per source so the realized mixture is
    checkable downstream."""
    register_sources(spark, sf_dir)
    d = spark.table("documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    weight = F.lit(MIXTURE_FALLBACK)
    for src, wgt in MIXTURE_WEIGHTS.items():
        weight = F.when(F.col("source") == src, F.lit(wgt)).otherwise(weight)
    kept = F.when(bucket < weight * 100, 1).otherwise(0)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept).cast("long").alias("n_kept"),
    )


def _mixture_oracle() -> str:
    whens = "\n            ".join(
        f"WHEN source = '{s}' THEN {w}" for s, w in MIXTURE_WEIGHTS.items()
    )
    return f"""
SELECT source, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
            < (CASE {whens} ELSE {MIXTURE_FALLBACK} END) * 100
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents
GROUP BY source
"""


PACK_BUDGET = 256


def pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: concatenate chunks in deterministic
    (doc_id, chunk_id) order per source partition and cut packs at
    PACK_BUDGET tokens — the training-batch preparation step downstream of
    chunking. pack_id = floor(start_offset / budget), via a running-sum
    window PARTITIONED BY source (packing within a corpus shard keeps the
    window parallel — a single global ordering would serialize on one
    partition at 100 TB; shard-local packs are what a distributed loader
    consumes anyway). Output: per (source, pack) token totals + chunk
    counts."""
    register_sources(spark, sf_dir)
    from pyspark.sql import Window

    chunks = chunk_documents(spark, sf_dir).join(
        spark.table("documents").select("doc_id", "source"), "doc_id"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = chunks.withColumn(
        "pack_id",
        F.floor(
            (F.sum("n_chunk_tokens").over(w) - F.col("n_chunk_tokens"))
            / PACK_BUDGET
        ),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("pack_tokens"),
    )


O_PACKING = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n_tokens, source
    FROM documents
),
chunks AS (
    SELECT doc_id, source,
           CAST(start / {CHUNK_STEP} AS BIGINT) AS chunk_id,
           CAST(least({CHUNK_TOKENS}, n_tokens - start) AS BIGINT) AS n_chunk_tokens
    FROM (SELECT doc_id, source, n_tokens,
                 unnest(generate_series(0, n_tokens - 1, {CHUNK_STEP})) AS start
          FROM t)
),
packed AS (
    SELECT source, n_chunk_tokens,
           CAST(FLOOR((SUM(n_chunk_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id, chunk_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_chunk_tokens) / {PACK_BUDGET}) AS BIGINT) AS pack_id
    FROM chunks
)
SELECT source, pack_id, COUNT(*) AS n_chunks,
       CAST(SUM(n_chunk_tokens) AS BIGINT) AS pack_tokens
FROM packed
GROUP BY source, pack_id
"""


# deterministic synthetic PII injected per doc so the scrub is measurable on
# the synthetic corpus (which contains none); the OPERATOR is the regex chain
_PII_EMAIL = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\(\d{3}\) \d{3}-\d{4}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: inject a deterministic email+phone into every
    3rd document (the synthetic corpus has no real PII), then scrub with
    regexp chains and report per-doc redaction counts + the scrubbed text
    hash. Narrow per-row Catalyst expressions — one corpus pass, the same
    shape a real redaction sweep (emails, phones, SSNs, IPs) runs at
    100 TB."""
    register_sources(spark, sf_dir)
    d = spark.table("documents").withColumn(
        "dirty",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com or ("),
                (F.col("doc_id") % 800 + 100).cast("string"),
                F.lit(") 555-0199"),
            ),
        ).otherwise(F.col("text")),
    )
    n_emails = F.size(F.regexp_extract_all("dirty", F.lit(_PII_EMAIL), 0))
    n_phones = F.size(F.regexp_extract_all("dirty", F.lit(_PII_PHONE), 0))
    clean = F.regexp_replace(
        F.regexp_replace("dirty", _PII_EMAIL, "[EMAIL]"), _PII_PHONE, "[PHONE]"
    )
    return d.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        F.md5(clean).alias("clean_hash"),
    )


O_PII = rf"""
WITH d AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN text || ' contact user' || doc_id || '@example.com or ('
                     || CAST(doc_id % 800 + 100 AS VARCHAR) || ') 555-0199'
                ELSE text END AS dirty
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(dirty, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(dirty, '\(\d{{3}}\) \d{{3}}-\d{{4}}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(dirty, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                          '\(\d{{3}}\) \d{{3}}-\d{{4}}', '[PHONE]', 'g')) AS clean_hash
FROM d
"""


PAIRS = [
    ("text_token_stats", token_stats, O_TOKEN_STATS),
    ("text_quality", quality_scores, O_QUALITY),
    ("text_lang_id", lang_id, O_LANG_ID),
    ("text_fingerprint", fingerprints, O_FINGERPRINT),
    ("text_corpus_stats", corpus_stats, O_CORPUS_STATS),
    ("corpus_curation_pipeline", corpus_curation, O_CURATION),
    ("doc_chunking", chunk_documents, O_CHUNKS),
    ("text_gopher_quality", gopher_quality, O_GOPHER),
    ("chunk_packing", pack_chunks, O_PACKING),
    ("text_pii_scrub", pii_scrub, O_PII),
    ("text_token_bpe", token_bpe, O_TOKEN_BPE),
    ("text_winnowing", winnowing_fingerprints, O_WINNOWING),
]


LEV_DOCS = 10       # pairwise over the first LEV_DOCS docs
LEV_PREFIX = 24     # compare fixed-length prefixes (edit distance is O(m·n))


def levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise edit distance between document prefixes — the high-precision
    string-similarity verifier (both engines implement the classic DP, so
    distances match exactly). Bounded explicitly to LEV_DOCS² pairs: edit
    distance is O(m·n) per pair and does NOT scale as an all-pairs corpus
    op — at 100 TB it runs only on candidate pairs produced by the
    LSH/SimHash/winnowing blockers."""
    register_sources(spark, sf_dir)
    d = spark.table("documents").filter(F.col("doc_id") < LEV_DOCS).select(
        "doc_id", F.substring("text", 1, LEV_PREFIX).alias("prefix")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.levenshtein("pa", "pb").cast("long").alias("edit_distance"),
        )
    )


O_LEVENSHTEIN = f"""
WITH d AS (
    SELECT doc_id, substring(text, 1, {LEV_PREFIX}) AS prefix
    FROM documents WHERE doc_id < {LEV_DOCS}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_distance
FROM d a JOIN d b ON a.doc_id < b.doc_id
"""


DOMAIN_CAP = 10          # max docs kept per source domain
DOMAIN_CAP_HEADROOM = 4  # prefilter keeps ~HEADROOM*CAP expected survivors


def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep at most DOMAIN_CAP docs per ``source``,
    chosen by deterministic md5 hash order — the anti-domination guard every
    web-scale corpus applies so one crawler-friendly domain can't own the
    training mix.

    Scale shape (the part that matters at 100 TB): a naive
    ROW_NUMBER-per-domain sorts EVERY doc of a hot domain through one task.
    Instead the cap is defined as a two-phase sample, and both engines run
    the same spec so it stays hash-exact:
      1. PREFILTER (narrow): per-domain counts broadcast back, keep docs
         whose 32-bit md5 bucket satisfies h * count < HEADROOM*CAP*2^32 —
         pure integer arithmetic, expected ~HEADROOM*CAP survivors per
         domain regardless of domain size.
      2. EXACT RANK (tiny): rank only the survivors per domain by
         (h, doc_id), keep rank <= CAP — the window now touches ~40 rows
         per domain, not millions.
    The (h*count) product assumes count < 2^31 per domain (bigint-safe);
    shard hotter domains before capping."""
    register_sources(spark, sf_dir)
    from pyspark.sql import Window

    docs = spark.table("documents").select("doc_id", "source")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
    )
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_dom"))
    survivors = (
        docs.withColumn("h", h)
        .join(F.broadcast(counts), "source")
        .filter(
            F.col("h") * F.col("n_dom")
            < F.lit(DOMAIN_CAP_HEADROOM * DOMAIN_CAP * (1 << 32))
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        survivors.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= DOMAIN_CAP)
        .select("doc_id", "source", "rank")
    )


O_DOMAIN_CAP = f"""
WITH h AS (
    SELECT doc_id, source,
           ('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 8))::BIGINT AS hv
    FROM documents
),
counts AS (SELECT source, COUNT(*) AS n_dom FROM documents GROUP BY source),
survivors AS (
    SELECT h.doc_id, h.source, h.hv
    FROM h JOIN counts USING (source)
    WHERE h.hv * counts.n_dom < {DOMAIN_CAP_HEADROOM * DOMAIN_CAP} * (1::BIGINT << 32)
)
SELECT doc_id, source, rank FROM (
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY hv ASC, doc_id ASC
           ) AS BIGINT) AS rank
    FROM survivors
) r WHERE rank <= {DOMAIN_CAP}
"""


TFIDF_TOP_K = 3
TFIDF_SCALE = 1_000_000


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction by a TF-IDF-style score kept in
    EXACT INTEGER arithmetic so the cross-engine compare is bit-stable:
    score = floor(tf * SCALE / df) — term frequency in the doc over
    document frequency in the corpus (floats and ln() would differ in
    ulps between engines and flip rank ties; integer division cannot).
    Top TFIDF_TOP_K terms per doc, ties broken (score DESC, tf DESC,
    term ASC).

    Scale shape: one (doc_id, term) count shuffle (map-side combinable),
    a per-term df aggregate joined back BY TERM (df relation ~vocabulary
    size, bounded and broadcastable after the aggregate), then a per-doc
    top-k window over ~distinct-terms-per-doc rows — never the corpus."""
    register_sources(spark, sf_dir)
    from pyspark.sql import Window

    docs = spark.table("documents").select("doc_id", "text")
    tf = (
        docs.select("doc_id", F.explode(_toks()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id", "term", "tf", "df",
        F.floor(F.col("tf") * TFIDF_SCALE / F.col("df")).cast("long").alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("tf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


O_TFIDF = f"""
WITH tf AS (
    SELECT doc_id, t AS term, COUNT(*) AS tf
    FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
    GROUP BY doc_id, t
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           CAST(FLOOR(tf.tf * {TFIDF_SCALE} / df.df) AS BIGINT) AS score
    FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tf, df, score, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, tf DESC, term ASC
    ) AS BIGINT) AS rank
    FROM scored
) r WHERE rank <= {TFIDF_TOP_K}
"""


def training_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-mix report — the composition a 100 TB corpus
    build actually runs, with every stage an already-oracle-checked
    operator:

      1. near-dup removal — keep each cluster's canonical doc
         (`dedup_canonical_keep`: MinHash-LSH → connected components →
         longest-copy selection);
      2. quality gate — Gopher repetition/shape filters
         (`gopher_quality`);
      3. anti-domination — the per-source document cap
         (`domain_cap_sample`).

    The three gates are evaluated independently and intersected (a
    production build would usually sequence them — cap after filtering —
    but independent gates keep the cross-engine oracle compositional and
    each stage separately attributable). Output: docs and whitespace
    tokens per (source, lang) — the mix table a sampler consumes.

    Scale shape: each gate reduces to a doc_id keep-list (bounded:
    cluster members / quality failures / ≤CAP·n_domains rows), so the
    final pass is the documents scan joined against three BROADCAST
    keep-lists — the corpus shuffles only inside the gates that need it.
    """
    from mycarely_saas_dbt_spark.operators.dedup import dedup_canonical_keep

    keep_dedup = (
        dedup_canonical_keep(spark, sf_dir).filter("keep").select("doc_id")
    )
    keep_quality = (
        gopher_quality(spark, sf_dir).filter("passes_gopher").select("doc_id")
    )
    keep_cap = domain_cap_sample(spark, sf_dir).select("doc_id")
    docs = spark.table("documents")
    return (
        docs.join(F.broadcast(keep_dedup), "doc_id")
        .join(F.broadcast(keep_quality), "doc_id")
        .join(F.broadcast(keep_cap), "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(_toks())).cast("long").alias("n_tokens"),
        )
    )


def _training_mix_oracle() -> str:
    from mycarely_saas_dbt_spark.operators.dedup import _canonical_keep_oracle

    return f"""
WITH canon AS ({_canonical_keep_oracle()}),
gq AS ({O_GOPHER}),
cap AS ({O_DOMAIN_CAP})
SELECT d.source, d.lang, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens
FROM documents d
JOIN canon ON d.doc_id = canon.doc_id AND canon.keep
JOIN gq ON d.doc_id = gq.doc_id AND gq.passes_gopher
JOIN cap ON d.doc_id = cap.doc_id
GROUP BY d.source, d.lang
"""


FP_MAX_DF = 20   # fingerprints in more docs than this are boilerplate


def substring_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-containment dedup: find documents whose FULL text
    appears verbatim inside another document (quote-inclusion /
    boilerplate-wrapping — near-dup metrics like Jaccard under-score
    these because the outer doc dilutes the overlap).

    Candidates come from shared winnowing fingerprints — the winnowing
    guarantee (Schleimer et al., SIGMOD'03) is that any match of length
    >= w+k-1 shares at least one selected fingerprint, so a contained
    doc of at least that length ALWAYS surfaces as a candidate (no
    recall loss), while candidate volume stays a fingerprint equi-join,
    never doc x doc. Two quadratic-blowup guards, both part of the
    cross-engine spec (the oracle applies them identically, so the
    result stays hash-exact): fingerprints appearing in more than
    FP_MAX_DF documents are dropped from candidate generation (stopword
    boilerplate — a genuinely contained doc shares MANY fingerprints,
    so its rare ones still surface it), and the inner-shorter-than-outer
    requirement is pushed INTO the join condition so only the useful
    direction of each pair materializes. Verification is exact:
    instr(outer, inner) > 0. Output: (inner_doc, outer_doc, pos)."""
    from mycarely_saas_dbt_spark.util import bounded_persist

    fp = bounded_persist(
        winnowing_fingerprints_exploded(spark, sf_dir), "containment:fp"
    )
    rare = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs")).filter(
        F.col("n_docs") <= FP_MAX_DF
    )
    lens = spark.table("documents").select("doc_id", "n_chars")
    docs = spark.table("documents").select("doc_id", "text", "n_chars")
    fpl = fp.join(rare.select("fp"), "fp").join(lens, "doc_id")
    cand = (
        fpl.alias("a")
        .join(
            fpl.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.n_chars") < F.col("b.n_chars")),
        )
        .select(
            F.col("a.doc_id").alias("inner_doc"),
            F.col("b.doc_id").alias("outer_doc"),
        )
        .distinct()
    )
    inner = docs.select(
        F.col("doc_id").alias("inner_doc"),
        F.col("text").alias("inner_text"),
        F.col("n_chars").alias("inner_len"),
    )
    outer = docs.select(
        F.col("doc_id").alias("outer_doc"),
        F.col("text").alias("outer_text"),
        F.col("n_chars").alias("outer_len"),
    )
    return (
        cand.join(inner, "inner_doc")
        .join(outer, "outer_doc")
        .filter(F.col("inner_len") < F.col("outer_len"))
        .withColumn("pos", F.instr("outer_text", F.col("inner_text")).cast("long"))
        .filter(F.col("pos") > 0)
        .select("inner_doc", "outer_doc", "pos")
    )


O_CONTAINMENT = f"""
WITH fp AS ({_winnow_fp_sql()}),
rare AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {FP_MAX_DF}),
fpl AS (
    SELECT f.doc_id, f.fp, d.n_chars
    FROM fp f JOIN rare USING (fp) JOIN documents d ON d.doc_id = f.doc_id
),
cand AS (
    SELECT DISTINCT a.doc_id AS inner_doc, b.doc_id AS outer_doc
    FROM fpl a JOIN fpl b ON a.fp = b.fp AND a.n_chars < b.n_chars
)
SELECT c.inner_doc, c.outer_doc,
       CAST(strpos(o.text, i.text) AS BIGINT) AS pos
FROM cand c
JOIN documents i ON i.doc_id = c.inner_doc
JOIN documents o ON o.doc_id = c.outer_doc
WHERE i.n_chars < o.n_chars AND strpos(o.text, i.text) > 0
"""


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus normalization pass — the cleanup every ingest runs before
    dedup/tokenization so that byte-level noise doesn't defeat
    content-keyed hashing: strip ASCII control characters, collapse
    whitespace runs, trim, case-fold. Emits the normalized text plus
    before/after lengths and a changed flag so the pass is auditable
    (how much of the corpus was dirty). Pure narrow regexp_replace
    chain — zero exchanges, whole-stage codegen."""
    register_sources(spark, sf_dir)
    d = spark.table("documents")
    norm = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace("text", "[\\x00-\\x1f\\x7f]", " "),
                " {2,}",
                " ",
            )
        )
    )
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("len_raw"),
        F.length(norm).cast("long").alias("len_norm"),
        (norm != F.col("text")).alias("changed"),
        F.md5(norm).alias("norm_key"),
    )


O_TEXT_NORMALIZE = """
WITH n AS (
    SELECT doc_id, text,
           lower(trim(regexp_replace(
               regexp_replace(text, '[\\x00-\\x1f\\x7f]', ' ', 'g'),
               ' {2,}', ' ', 'g'))) AS norm
    FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS len_raw,
       CAST(length(norm) AS BIGINT) AS len_norm,
       norm != text AS changed,
       md5(norm) AS norm_key
FROM n
"""


# C4-style global repeated-span removal (Raffel et al. 2020, "Exploring the
# Limits of Transfer Learning" §2.2 — C4 drops any three-sentence span that
# occurs more than once in the corpus, keeping the FIRST occurrence). The
# testdata's documents are token streams without sentence boundaries, so the
# span unit here is a fixed SEG_TOKENS-token segment (stride = length: the
# "paragraph" surrogate).
SEG_TOKENS = 8


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-segment removal: segment every document into
    SEG_TOKENS-token spans, keep each distinct span's FIRST occurrence
    (min (doc_id, seg_idx) corpus-wide) and drop every later repeat, then
    report per doc the survivor counts and the md5 of the cleaned text.

    Scale shape (the C4 dedup at 100 TB): one narrow segment explode, one
    map-combinable MIN aggregate keyed by span text (the first-occurrence
    table), one shuffle equi-join on the span key, one groupBy doc_id to
    reassemble — no window over the corpus, no driver state. The
    first-occurrence position packs (doc_id, seg_idx) into one BIGINT so
    the MIN is a plain long aggregate in both engines."""
    register_sources(spark, sf_dir)
    d = spark.table("documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    segs = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(tk) / {SEG_TOKENS}.0) as int) - 1), "
                f"i -> array_join(slice(tk, i * {SEG_TOKENS} + 1, {SEG_TOKENS}), ' '))"
            )
        ).alias("seg_idx", "seg"),
    ).withColumn(
        # (doc_id, seg_idx) packed into one BIGINT so the first-occurrence
        # MIN stays a plain long aggregate in both engines. 2^32 shift
        # (ADVICE r5): seg_idx < 2^32 ⇔ docs under ~34e9 tokens (no real
        # document approaches this), doc_id < 2^31 before the product
        # overflows — vs the old 1e6 shift which collided at 8M-token docs
        "pos", F.col("doc_id") * F.lit(4_294_967_296) + F.col("seg_idx")
    )
    firsts = segs.groupBy("seg").agg(F.min("pos").alias("first_pos"))
    kept = segs.join(firsts, "seg").withColumn(
        "keep", F.col("pos") == F.col("first_pos")
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.md5(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list("
                    "CASE WHEN keep THEN struct(seg_idx, seg) END)), s -> s.seg)"
                ),
                " ",
            )
        ).alias("clean_md5"),
    )


O_LINE_DEDUP = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
segs AS (
    SELECT doc_id, CAST(i AS INT) AS seg_idx,
           array_to_string(tk[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}], ' ') AS seg,
           doc_id * 4294967296 + i AS pos
    FROM t, UNNEST(range(0, CAST(ceil(len(tk) / {SEG_TOKENS}.0) AS INT))) AS u(i)
),
firsts AS (SELECT seg, MIN(pos) AS first_pos FROM segs GROUP BY seg)
SELECT s.doc_id,
       COUNT(*) AS n_segs,
       CAST(SUM(CASE WHEN s.pos = f.first_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(CASE WHEN s.pos = f.first_pos THEN s.seg END,
                               ' ' ORDER BY s.seg_idx), '')) AS clean_md5
FROM segs s JOIN firsts f USING (seg)
GROUP BY s.doc_id
"""


# Temperature-flattened source mixture (the multilingual-sampling rule of
# Conneau & Lample 2019 / mC4: sample source s with probability ∝ n_s^(1/τ),
# here τ=2). Keep-rates are anchored to the SMALLEST source (it keeps 100%):
# r_s = sqrt(n_min / n_s), so realized counts ∝ sqrt(n_s) — the flattening —
# while staying bit-deterministic across engines: one integer division and
# one IEEE-exact sqrt per source, no cross-source float summation whose
# accumulation order could differ between Spark and the oracle.
TEMP_TAU = 2


def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep-rates r_s = sqrt(n_min/n_s) realized with the
    deterministic md5-ppm bucket rule (keep iff bucket(doc_id) <
    floor(r_s * 1e6)); reports per source the total, the ppm rate, and the
    realized keep count. Two tiny aggregates + one broadcast join + one
    corpus pass — the 100 TB shape of every data-mixing stage."""
    register_sources(spark, sf_dir)
    d = spark.table("documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    # single-row aggregate broadcast (not a global window — the counts
    # relation is per-source-small but the shape should stay clean)
    n_min = counts.agg(F.min("n_src").alias("n_min"))
    rate = F.sqrt(F.col("n_min").cast("double") / F.col("n_src").cast("double"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "source",
        "n_src",
        F.floor(rate * 1_000_000).cast("long").alias("rate_ppm"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1_000_000
    )
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.min("rate_ppm").alias("rate_ppm"),
            F.sum(F.when(bucket < F.col("rate_ppm"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )


O_TEMPERATURE_MIXTURE = """
WITH c AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
r AS (
    SELECT source, n_src,
           CAST(floor(sqrt(CAST((SELECT MIN(n_src) FROM c) AS DOUBLE)
                           / CAST(n_src AS DOUBLE)) * 1000000) AS BIGINT)
               AS rate_ppm
    FROM c
)
SELECT d.source, COUNT(*) AS n_total, MIN(r.rate_ppm) AS rate_ppm,
       CAST(SUM(CASE WHEN
            CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 1000000 < r.rate_ppm
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN r USING (source)
GROUP BY d.source
"""




# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Robertson & Sparck Jones / Okapi BM25) — the
# inverted-index search shape over the corpus
# ---------------------------------------------------------------------------

BM25_TOP_K = 10
BM25_SCALE = 1000           # score fixed-point scale (millis)
# fixed demo query set over the corpus vocabulary; a production system
# feeds a query table instead — the plan is identical
BM25_QUERIES = [
    (0, ["spark", "join", "query"]),
    (1, ["window", "agg", "data"]),
    (2, ["customer", "order", "part"]),
]


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval (k1=1.2, b=0.75) in EXACT INTEGER
    arithmetic — the repo's cross-engine bit-stability pattern (as
    tfidf_keywords): ln() and float division differ in ulps between
    engines and flip rank ties, so the idf is kept as the Robertson
    rational (N - df + 0.5)/(df + 0.5) = (2N-2df+1)/(2df+1) (log-free —
    monotone per term, so per-term ordering is preserved; swap in ln for
    the classic weighting where bit-parity isn't a requirement) and the
    whole per-term score is one integer DIV:

        score_k = (2N-2df+1) * 44*S*tf * SCALE
                  DIV ( (2df+1) * (20*S*tf + 6*S + 18*dl*N) )

    which is floor(SCALE * idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)))
    with avgdl = S/N cleared of fractions (k1=6/5, b=3/4 → the 44/20/6/18
    integer coefficients). All factors bounded: products stay < 2^63 up
    to ~1e9-token corpora per the constants' derivation; at true lake
    scale the double form is the production scorer (parity harness not
    needed there).

    Scale shape (the inverted-index search path): one (doc_id, term)
    count shuffle builds the postings (map-side combinable); df and the
    corpus totals are tiny aggregates (vocabulary-sized / one row,
    broadcast); the query relation broadcasts against the postings —
    the postings never reshuffle for scoring; the final top-k is a
    per-query window over candidate postings only (docs sharing a query
    term), never the corpus."""
    from mycarely_saas_dbt_spark.util import bounded_persist

    register_sources(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    tf = bounded_persist(
        docs.select("doc_id", F.explode(_toks()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        "bm25:tf",
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    totals = dl.agg(
        F.sum("dl").cast("long").alias("S"), F.count(F.lit(1)).alias("N")
    )
    # df restricted to the QUERY terms (r15, guide §2.3 — aggregate only
    # what the join consumes): the former full-vocabulary per-term
    # aggregate built and broadcast df for EVERY term in the corpus when
    # the scoring join reads exactly the 9 query terms' values. Same df
    # per surviving term — identical scores; at lake scale this removes a
    # vocabulary-sized shuffle + broadcast from the hot path.
    qterms = sorted({t for _, terms in BM25_QUERIES for t in terms})
    tf_q = tf.filter(F.col("term").isin(qterms))
    df_ = tf_q.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = F.broadcast(
        spark.createDataFrame(
            [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
            "qid bigint, term string",
        )
    )
    scored = (
        q.join(tf_q, "term")
        .join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(totals))
        .select(
            "qid",
            "doc_id",
            F.expr(
                f"(2*N - 2*df + 1) * 44 * S * tf * {BM25_SCALE} DIV "
                "((2*df + 1) * (20*S*tf + 6*S + 18*dl*N))"
            ).alias("term_score"),
        )
        .groupBy("qid", "doc_id")
        .agg(
            F.sum("term_score").cast("long").alias("score_k"),
            F.count(F.lit(1)).cast("long").alias("n_hit"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("score_k").desc(), F.col("n_hit").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("qid", "doc_id", "score_k", "n_hit", "rank")
    )


_BM25_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in BM25_QUERIES for t in terms
)

O_BM25 = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS S, COUNT(*) AS N FROM dl),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(qid, term) AS (VALUES {_BM25_VALUES}),
scored AS (
    SELECT q.qid, tf.doc_id,
           CAST(SUM((2*t.N - 2*df.df + 1) * 44 * t.S * tf.tf * {BM25_SCALE}
                    // ((2*df.df + 1) * (20*t.S*tf.tf + 6*t.S + 18*dl.dl*t.N)))
                AS BIGINT) AS score_k,
           COUNT(*) AS n_hit
    FROM q
    JOIN tf USING (term)
    JOIN df USING (term)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN tot t
    GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id, score_k, n_hit,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY score_k DESC, n_hit DESC, doc_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# Persistent BM25 inverted index through the manifest protocol (r7): the
# text sibling of the ANN index. Postings are the committed data files —
# hive-partitioned by a term-hash bucket so a query's term set prunes to
# its buckets' files (the Lucene segment/term-dictionary read pattern) —
# and the two corpus scalars (S, N) ride in the manifest meta. The index
# is SEGMENTED (see bm25_seg_index_build below); a whole-corpus build is
# its one-segment case, so every index entry shares one build and one
# query path.
# ---------------------------------------------------------------------------

BM25_BUCKETS = 16
_BM25_ROOTS: dict = {}


def _bm25_bucket() -> F.Column:
    return F.pmod(F.xxhash64("term"), F.lit(BM25_BUCKETS)).cast("int")


def _bm25_session_root(spark: SparkSession, sf_dir: str) -> str:
    """The per-(application, corpus) root holding the session's
    committed BM25 index and quality prior — the warm path of both
    builds needs the same root across calls."""
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    root = _BM25_ROOTS.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix="mycarely_bm25_idx_")
        _BM25_ROOTS[key] = root
    return root


def _source_max_doc_id(spark: SparkSession, sf_dir: str) -> int:
    """MAX(doc_id) over the documents source — parquet-footer resolved
    (exact, zero Spark jobs; r15 guide §1.2), falling back to the
    aggregate when footer stats are unusable."""
    from mycarely_saas_dbt_spark.sources.registry import source_column_max

    v = source_column_max(sf_dir, "documents.parquet", "doc_id")
    if v is None:
        register_sources(spark, sf_dir)
        v = spark.table("documents").agg(F.max("doc_id")).first()[0]
    return int(v)


# The query terms' bucket ids — a pure function of the two module
# constants (BM25_QUERIES, BM25_BUCKETS) via Spark's xxhash64, so the set
# is computed ONCE per process instead of one collect job per query call
# (r15: the per-call collect was ~0.1-0.2s of pure job floor on every
# index-search entry). Metadata (which partitions to prune to), never a
# query result.
_BM25_QBUCKET_CACHE: list[int] | None = None


def _bm25_query_buckets(spark: SparkSession) -> list[int]:
    global _BM25_QBUCKET_CACHE
    if _BM25_QBUCKET_CACHE is None:
        q = spark.createDataFrame(
            [(t,) for _, terms in BM25_QUERIES for t in terms],
            "term string",
        )
        _BM25_QBUCKET_CACHE = sorted(
            {r["b"] for r in q.select(_bm25_bucket().alias("b")).collect()}
        )
    return _BM25_QBUCKET_CACHE


def _bm25_postings(docs: DataFrame) -> tuple:
    """Postings (term, doc_id, tf, dl, bucket) plus the two corpus
    scalars (S, N) from any (doc_id, text) relation. No df column: a
    segment-local df is stale the moment a second segment exists, so the
    query counts exact global df over its pruned slice instead."""
    from mycarely_saas_dbt_spark.util import bounded_persist

    tf = bounded_persist(
        docs.select("doc_id", F.explode(_toks()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        "bm25index:tf",
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    S, N = dl.agg(
        F.sum("dl").cast("long"), F.count(F.lit(1)).cast("long")
    ).first()
    postings = (
        tf.join(dl, "doc_id")
        .select("term", "doc_id", "tf", "dl")
        .withColumn("bucket", _bm25_bucket())
    )
    # S is NULL on an empty relation (SUM over zero rows) — normalize so
    # the empty-append no-op path sees (0, 0)
    return postings, int(S) if S is not None else 0, int(N)


def bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query the COMMITTED inverted index over the whole corpus: one
    segment built per session root and corpus fingerprint (a warm call is
    one manifest read), then the shared segmented query path — the query
    terms' buckets are driver-known, so the postings read carries an
    IN-filter on the bucket PARTITION column (static partition pruning),
    df is counted over that slice and (S, N) come from the meta. Same
    integer Okapi scorer and per-query top-k as bm25_search (whose
    oracle this entry shares)."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    root = _bm25_session_root(spark, sf_dir)
    bm25_seg_index_build(spark, sf_dir, root)
    return _bm25_seg_query(spark, IncrementalRunner(spark, root))


RRF_K = 60                 # the standard reciprocal-rank-fusion constant
RRF_SCALE = 1_000_000_000  # integer fixed-point for cross-engine exactness


QPRIOR_NAME = "bm25_quality_prior"


def quality_prior_build(spark: SparkSession, sf_dir: str, root: str) -> dict:
    """Build-or-reuse the COMMITTED document-quality prior: one row per
    doc with its global quality rank (distinct-token count desc, then
    length, then doc_id — a strict integer total order), hash-bucketed
    on doc_id for static partition pruning at query time. The global
    rank is computed with ``util.global_rank`` (range-partition + local
    rank + broadcast offsets) — never an unpartitioned Window over the
    corpus. Warm path (corpus fingerprint match) is one manifest JSON
    read, zero jobs — the ``bm25_seg_index_build`` warm path."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.util import corpus_fingerprint, global_rank

    runner = IncrementalRunner(spark, root)
    cur = runner.current_manifest(QPRIOR_NAME)
    fp = corpus_fingerprint(sf_dir, "documents.parquet")
    meta = ((cur or {}).get("meta") or {}).get("qprior")
    if meta is not None and meta.get("corpus") == fp:
        return cur

    register_sources(spark, sf_dir)
    d = spark.table("documents").select(
        "doc_id",
        (
            F.size(F.array_distinct(_toks())).cast("long") * 1_000_000
            + F.size(_toks()).cast("long")
        ).alias("qkey"),
    )
    prior = global_rank(
        d, [F.col("qkey").desc(), F.col("doc_id").asc()], rank_col="q_rank"
    ).select(
        "doc_id",
        "q_rank",
        F.pmod(F.xxhash64("doc_id"), F.lit(BM25_BUCKETS))
        .cast("int")
        .alias("qbucket"),
    )
    spec = ModelSpec(
        name=QPRIOR_NAME,
        unique_key="doc_id",
        watermark_col="doc_id",
        build=lambda sp, sfd, wm: prior,
        partition_by=["qbucket"],
        manifest_meta={"qprior": {"corpus": fp}},
    )
    runner.run(spec, sf_dir, full_refresh=True)
    return runner.current_manifest(QPRIOR_NAME)


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 candidates re-ranked by reciprocal-rank
    fusion (Cormack et al. 2009) with a static document-quality prior —
    the retrieve-then-rerank shape every production search/RAG stack
    runs. RRF in exact integers: SCALE DIV (K + bm25_rank) + SCALE DIV
    (K + quality_rank), so the cross-engine compare is bit-stable.

    Scale shape (VERDICT r8 item 1): the quality prior is a PRECOMPUTED
    manifest-committed column (``quality_prior_build`` — built once per
    corpus fingerprint via the scale-safe ``global_rank``, bucketed on
    doc_id), NOT a query-time global Window over the corpus. The query
    path: BM25's pruned-postings leg yields <= n_queries*top_k
    candidates (its own final output — collected driver-side, bounded
    by construction); their doc_id hash buckets become a static
    IN-filter on the prior's partition column, so only the candidates'
    buckets' files open; the fused re-rank is a per-query window over
    <= k rows."""
    from pyspark.sql import Window

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    bm = bm25_search(spark, sf_dir)  # qid, doc_id, score_k, n_hit, rank
    root = _bm25_session_root(spark, sf_dir)
    quality_prior_build(spark, sf_dir, root)
    runner = IncrementalRunner(spark, root)

    # bounded collect: the BM25 leg's own result — <= n_queries * top_k
    # rows (a few dozen) — becomes a local relation so its buckets are
    # driver-known for partition pruning, the same shape as the
    # query-term buckets of _bm25_query_buckets.
    cand = spark.createDataFrame(bm.collect(), bm.schema)
    buckets = sorted(
        {
            r["b"]
            for r in cand.select(
                F.pmod(F.xxhash64("doc_id"), F.lit(BM25_BUCKETS))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        }
    )
    prior = runner.read_target(QPRIOR_NAME).filter(
        F.col("qbucket").isin(buckets)
    )
    fused = prior.join(F.broadcast(cand), "doc_id").select(
        "qid",
        "doc_id",
        F.expr(
            f"{RRF_SCALE} DIV ({RRF_K} + rank) + "
            f"{RRF_SCALE} DIV ({RRF_K} + q_rank)"
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return fused.withColumn(
        "rrf_rank", F.row_number().over(w).cast("long")
    ).select("qid", "doc_id", "rrf_score", "rrf_rank")


O_HYBRID_RRF = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS S, COUNT(*) AS N FROM dl),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(qid, term) AS (VALUES {_BM25_VALUES}),
scored AS (
    SELECT q.qid, tf.doc_id,
           CAST(SUM((2*t.N - 2*df.df + 1) * 44 * t.S * tf.tf * {BM25_SCALE}
                    // ((2*df.df + 1) * (20*t.S*tf.tf + 6*t.S + 18*dl.dl*t.N)))
                AS BIGINT) AS score_k,
           COUNT(*) AS n_hit
    FROM q
    JOIN tf USING (term)
    JOIN df USING (term)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN tot t
    GROUP BY q.qid, tf.doc_id
),
bm AS (
    SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY score_k DESC, n_hit DESC, doc_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {BM25_TOP_K}
),
prior AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY
        len(list_distinct(string_split(text, ' '))) * 1000000
            + len(string_split(text, ' ')) DESC,
        doc_id ASC) AS q_rank
    FROM documents
),
fused AS (
    SELECT bm.qid, bm.doc_id,
           CAST({RRF_SCALE} // ({RRF_K} + bm.rank)
                + {RRF_SCALE} // ({RRF_K} + p.q_rank) AS BIGINT) AS rrf_score
    FROM bm JOIN prior p USING (doc_id)
)
SELECT qid, doc_id, rrf_score,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rrf_rank
FROM fused
"""


BM25_BASE_NAME = "bm25_docs_base"
BM25_DELETE_PRED = "doc_id % 13 = 2"   # deterministic delete victims

# The tombstone-at-read oracle: corpus statistics (tf/dl/df/S/N) come from
# the FULL corpus the index committed, candidates are restricted to live
# docs BEFORE ranking — a rebuild would instead change df/S/N, so a wrong
# implementation (filtering results post-rank, or rebuilding stats) hash-
# mismatches.
O_BM25_DELETE_AWARE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS S, COUNT(*) AS N FROM dl),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(qid, term) AS (VALUES {_BM25_VALUES}),
scored AS (
    SELECT q.qid, tf.doc_id,
           CAST(SUM((2*t.N - 2*df.df + 1) * 44 * t.S * tf.tf * {BM25_SCALE}
                    // ((2*df.df + 1) * (20*t.S*tf.tf + 6*t.S + 18*dl.dl*t.N)))
                AS BIGINT) AS score_k,
           COUNT(*) AS n_hit
    FROM q
    JOIN tf USING (term)
    JOIN df USING (term)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN tot t
    WHERE NOT (tf.doc_id % 13 = 2)
    GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id, score_k, n_hit,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY score_k DESC, n_hit DESC, doc_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {BM25_TOP_K}
"""


def bm25_index_delete_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full index-under-deletes lifecycle (VERDICT r7 item 2), end to end:

    1. commit ``documents`` as a manifest BASE target,
    2. build the postings index FROM that committed snapshot, recording
       (base, base_version) in the index meta,
    3. row-level DELETE from the base (``doc_id % 13 = 2`` — the Delta
       copy-on-write DELETE, which feeds the CDF),
    4. search through the delete-aware read: the postings anti-join the
       broadcast deleted-key set from ``deleted_keys_since`` so deleted
       docs never appear in (or displace ranks of) results, while the
       corpus statistics keep their committed values until a rebuild —
       ``_bm25_seg_query`` counts df BEFORE the anti-join.

    Scale notes: the deleted-set read is CDF-footprint-bounded (here the
    toy base is unpartitioned so the footprint is the table; a production
    base partitions by ingest date and the diff opens only rewritten
    partitions), the set itself is deletes-since-last-rebuild — small by
    the same argument Delta uses for deletion vectors — and broadcast, so
    the postings never reshuffle. The oracle scores with FULL-corpus
    df/dl/S/N and restricts candidates to live docs: exactly the
    tombstone-at-read semantics, distinguishable from a rebuild (which
    would change df/S/N)."""
    import tempfile

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.util import timed_phase

    register_sources(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mycarely_bm25_da_")
    runner = IncrementalRunner(spark, root)

    base_spec = ModelSpec(
        BM25_BASE_NAME,
        "doc_id",
        "doc_id",
        lambda sp, sfd, wm: sp.table("documents").select("doc_id", "text"),
    )
    with timed_phase("build"):
        runner.run(base_spec, sf_dir)
        bm25_seg_index_build(spark, sf_dir, root, base=BM25_BASE_NAME)
    with timed_phase("mutate"):
        runner.delete_where(base_spec, BM25_DELETE_PRED)
    return _bm25_seg_query(spark, runner)


# ---------------------------------------------------------------------------
# SEGMENTED postings index with true APPEND (r9 — the Lucene segment
# architecture): the one BM25 index format, partitioned seg=K/bucket=N
# with no stored df, so ingest is incremental. Each append commits a NEW
# `seg=` partition level (file-disjoint from every older segment — zero
# old files touched, the FAISS-add economics for text), per-doc stats
# (tf, dl) are segment-local and final, and the two corpus scalars
# accumulate in the manifest meta (S += S_seg, N += N_seg).
# The only cross-segment statistic, per-term df, is recomputed at query
# time from the PRUNED slice: bucket pruning keeps every posting of the
# query's terms, so COUNT(rows) per term over the slice IS the exact
# global df — a count over the query terms' postings, not a corpus
# pass (Lucene instead merges per-segment term dictionaries; same
# information, same cost class).
# ---------------------------------------------------------------------------

BM25_SEG_INDEX_NAME = "bm25_postings_seg"
BM25_SEG_SPLIT = 0.7  # bootstrap segment = first 70% of doc_ids


def bm25_seg_index_build(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    bound: int | None = None,
    *,
    base: str | None = None,
) -> dict:
    """Bootstrap segment 0 over ``doc_id < bound`` (``bound=None``: the
    whole corpus); postings land under seg=0/bucket=N with segment-local
    stats; meta records running (S, N, segs). Over the raw documents
    source the meta also records the corpus fingerprint and ``bound``: a
    matching call on an untouched bootstrap (one segment, no live-docs
    marks) returns after one manifest read — zero Spark jobs. ``base``:
    index a COMMITTED table instead of the raw documents source and
    record (base, base_version) — the query path then auto-applies
    ``deleted_keys_since`` (the same self-describing delete-awareness
    as the ANN index)."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.util import corpus_fingerprint, release_persists

    runner = IncrementalRunner(spark, root)
    if base is not None:
        base_m = runner.current_manifest(base)
        if base_m is None:
            raise RuntimeError(f"bm25_seg_index_build: base {base!r} not committed")
        extra = {"base": base, "base_version": base_m["version"]}
        docs = runner.read_target(base).select("doc_id", "text")
    else:
        extra = {
            "corpus": corpus_fingerprint(sf_dir, "documents.parquet"),
            "bound": bound,
        }
        cur = runner.current_manifest(BM25_SEG_INDEX_NAME)
        meta = ((cur or {}).get("meta") or {}).get("bm25") or {}
        if (
            meta.get("corpus") == extra["corpus"]
            and meta.get("bound") == bound
            and meta.get("segs") == 1
            and not meta.get("dead_dirs")
        ):
            return cur
        register_sources(spark, sf_dir)
        docs = spark.table("documents").select("doc_id", "text")
    if bound is not None:
        docs = docs.filter(F.col("doc_id") < bound)
    postings, S, N = _bm25_postings(docs)
    runner.run(
        ModelSpec(
            BM25_SEG_INDEX_NAME,
            "doc_id",  # a doc's postings are the unit of replacement
            "doc_id",
            lambda sp, sfd, wm: postings.withColumn("seg", F.lit(0)),
            partition_by=["seg", "bucket"],
            manifest_meta={"bm25": {"S": S, "N": N, "segs": 1, **extra}},
        ),
        sf_dir,
        full_refresh=True,
    )
    release_persists("bm25index:tf")
    return runner.current_manifest(BM25_SEG_INDEX_NAME)


def bm25_seg_index_append(
    spark: SparkSession, sf_dir: str, root: str, *, bound: int | None = None
) -> dict:
    """Lucene add-segment: tokenize ONLY the docs past the committed
    integer watermark (metadata-resolved — max doc_id over the postings'
    manifest stats), commit them as the next ``seg=`` partition, and
    accumulate (S, N) in the meta. The incremental merge prunes to the
    new segment's partitions, which exist in no older manifest: zero
    pre-existing files are read or rewritten (pinned by pytest).
    ``bound`` caps the ingest at ``doc_id < bound`` — one bounded batch
    per call, the shape a staged backfill (or the tiered-merge tests)
    use to build several segments from one corpus."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.util import release_persists

    runner = IncrementalRunner(spark, root)
    cur = runner.current_manifest(BM25_SEG_INDEX_NAME)
    if cur is None:
        raise RuntimeError("bm25_seg_index_append: no committed index")
    meta = cur["meta"]["bm25"]
    seg = int(meta["segs"])
    if meta.get("base") is not None:
        docs = runner.read_target(meta["base"]).select("doc_id", "text")
    else:
        register_sources(spark, sf_dir)
        docs = spark.table("documents").select("doc_id", "text")

    # integer watermark over the committed postings — metadata-resolved
    # from the manifest stats (no file opened); tokenize ONLY past it
    wm = runner.watermark(BM25_SEG_INDEX_NAME, "doc_id")
    new = docs if wm is None else docs.filter(F.col("doc_id") > wm)
    if bound is not None:
        new = new.filter(F.col("doc_id") < bound)
    # non-emptiness comes FOR FREE from _bm25_postings' (S, N) aggregate
    # (r15: the former limit(1).count() pre-check was a whole extra Spark
    # job on the happy path just to learn what N2 tells us anyway)
    postings, S2, N2 = _bm25_postings(new)
    if N2 == 0:
        release_persists("bm25index:tf")
        return cur  # nothing past the watermark: append is a no-op
    staged = postings.withColumn("seg", F.lit(seg))
    runner.run(
        ModelSpec(
            BM25_SEG_INDEX_NAME,
            "doc_id",
            "doc_id",
            lambda sp, sfd, w: staged,
            partition_by=["seg", "bucket"],
            manifest_meta={
                "bm25": {
                    # base/base_version (if any) ride forward unchanged:
                    # deletes since the ORIGINAL base snapshot stay
                    # pending — an append never absorbs them
                    **meta,
                    "S": int(meta["S"]) + int(S2),
                    "N": int(meta["N"]) + int(N2),
                    "segs": seg + 1,
                }
            },
        ),
        sf_dir,
    )
    release_persists("bm25index:tf")
    return runner.current_manifest(BM25_SEG_INDEX_NAME)


def _bm25_seg_query(spark: SparkSession, runner) -> DataFrame:
    """Query the segmented index with ONE read of its postings: the
    bucket-pruned slice across ALL segments narrowed to the distinct
    query terms, the live-docs mask, exact global df as a per-term
    window count over that slice (one row per (term, live doc)), then
    the tombstone anti-join, the broadcast query join, the shared
    integer scorer with (S, N) from the accumulated meta, and the
    per-query top-k."""
    from pyspark.sql import Window

    meta = runner.current_manifest(BM25_SEG_INDEX_NAME)["meta"]["bm25"]
    S, N = int(meta["S"]), int(meta["N"])
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
        "qid bigint, term string",
    )
    qterms = sorted({t for _, terms in BM25_QUERIES for t in terms})
    post = runner.read_target(BM25_SEG_INDEX_NAME).filter(
        F.col("bucket").isin(_bm25_query_buckets(spark))
        & F.col("term").isin(qterms)
    )
    # live-docs mask FIRST (maintained indexes): the streaming
    # maintainer keeps (S, N) exactly live, so df must be live too —
    # the maintained regime grades against a FRESH build, unlike the
    # tombstone-at-read regime below (committed stats until rebuild)
    post = _bm25_apply_dead(post, _bm25_dead_df(spark, runner, meta))
    post = post.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    # df is counted BEFORE the delete filter: tombstone-at-read keeps the
    # COMMITTED corpus statistics until a rebuild or optimize absorbs it
    if meta.get("base") is not None:
        deleted = runner.deleted_keys_since(
            meta["base"], "doc_id", meta["base_version"]
        )
        if deleted is not None:
            post = post.join(F.broadcast(deleted), "doc_id", "left_anti")
    scored = (
        F.broadcast(q)
        .join(post, "term")
        .select(
            "qid",
            "doc_id",
            F.expr(
                f"(2*{N} - 2*df + 1) * 44 * {S} * tf * {BM25_SCALE} DIV "
                f"((2*df + 1) * (20*{S}*tf + 6*{S} + 18*dl*{N}))"
            ).alias("term_score"),
        )
        .groupBy("qid", "doc_id")
        .agg(
            F.sum("term_score").cast("long").alias("score_k"),
            F.count(F.lit(1)).cast("long").alias("n_hit"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_k").desc(), F.col("n_hit").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("qid", "doc_id", "score_k", "n_hit", "rank")
    )


def bm25_index_append_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-then-append lifecycle for the TEXT index (the ANN
    `ann_index_append_recall` symmetry): bootstrap segment 0 over the
    first 70% of doc_ids, APPEND the rest as segment 1 (watermark-
    resolved, zero old files touched), query across both segments.
    The combined result must hash-match the full-corpus BM25 oracle —
    provable only if segment stats compose exactly (S/N accumulate,
    global df recomposes from the slice, per-doc tf/dl are final in
    their segment)."""
    import tempfile

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    from mycarely_saas_dbt_spark.util import timed_phase

    register_sources(spark, sf_dir)
    split = int((_source_max_doc_id(spark, sf_dir) + 1) * BM25_SEG_SPLIT)
    root = tempfile.mkdtemp(prefix="mycarely_bm25_seg_")
    runner = IncrementalRunner(spark, root)
    with timed_phase("build"):
        bm25_seg_index_build(spark, sf_dir, root, bound=split)
    with timed_phase("append"):
        bm25_seg_index_append(spark, sf_dir, root)
    return _bm25_seg_query(spark, runner)


def bm25_seg_index_optimize(
    spark: SparkSession, root: str, *, max_segments: int | None = None
) -> dict:
    """Lucene merge policy for the segmented index (VERDICT r9 item 3).

    Default (``max_segments=None``): ``forceMerge(1)`` — merge every
    ``seg=`` level into one fresh segment 0 and ABSORB tombstoned docs:
    postings of keys deleted from the base since the index's recorded
    ``base_version`` are dropped, (S, N) are recomputed from the
    surviving postings, and the meta's base pointer advances to the
    base's CURRENT version (the deletes are now physical, exactly like
    compaction absorbing deletion vectors). After many appends + deletes
    this bounds the query-time df recompute to LIVE postings again.
    No-op (one manifest read, zero jobs) when the index is already one
    segment with nothing pending.

    ``max_segments=K`` (TIERED merge, Lucene's background policy): when
    more than K live segments exist and NO deletes are pending, merge
    the SMALLEST len-K+1 segments (by on-disk bytes — a metadata
    decision) into one new segment so exactly K remain; the largest
    segments' files ride forward BYTE-IDENTICAL, (S, N) and the base
    pointer are untouched (no absorb — per-doc stats are segment-local
    and final, and df is counted at query time, so a
    pure re-layout changes no answer). With deletes pending the call
    escalates to the force-merge: absorption must touch every segment a
    deleted doc lives in, which is what can advance the base pointer.

    Scale shape: the force-merge reads the index — postings, not the
    corpus — through one broadcast anti-join and recomputes
    per-doc-distinct (S, N) with a map-combinable aggregate; the tiered
    merge reads ONLY the small segments it folds and commits through
    ``replace_rels`` (copy-on-write tail: untouched rels ride forward by
    name)."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    runner = IncrementalRunner(spark, root)
    cur = runner.current_manifest(BM25_SEG_INDEX_NAME)
    if cur is None:
        raise RuntimeError("bm25_seg_index_optimize: no committed index")
    meta = cur["meta"]["bm25"]
    deleted = None
    extra: dict = {}
    if meta.get("base") is not None:
        deleted = runner.deleted_keys_since(
            meta["base"], "doc_id", meta["base_version"]
        )
        if deleted is not None and deleted.limit(1).count() == 0:
            # base commits happened but none DELETED anything (pure
            # appends): nothing is pending absorption. Without this the
            # tiered path below would silently escalate to the full
            # forceMerge — rewriting the whole index — on any base
            # commit, losing its documented "reads only the small
            # segments it folds" cost shape (ADVICE r10). The probe is
            # one change-proportional limit(1) job.
            deleted = None
        extra = {
            "base": meta["base"],
            "base_version": runner.current_manifest(meta["base"])["version"],
        }
    if max_segments is not None and deleted is None:
        return _bm25_tiered_merge(runner, cur, meta, max_segments)
    # live segment count from the manifest rels (meta["segs"] is the
    # NEXT id — after a tiered merge it exceeds the live count)
    live_segs = {rel.split("/", 1)[0] for rel in cur["partitions"] if rel}
    if len(live_segs) <= 1 and deleted is None and not meta.get("dead_dirs"):
        return cur  # already optimal: zero jobs
    live = runner.read_target(BM25_SEG_INDEX_NAME)
    # absorb the live-docs mask physically (streaming maintenance's
    # pending marks): masked postings drop, the mark sidecars clear
    live = _bm25_apply_dead(live, _bm25_dead_df(spark, runner, meta))
    live = live.drop("df", "seg", "bucket")
    if deleted is not None:
        live = live.join(F.broadcast(deleted), "doc_id", "left_anti")
    from mycarely_saas_dbt_spark.util import bounded_persist, release_persists

    live = bounded_persist(live, "bm25seg:optimize")
    # (S, N) over surviving DOCS: dl is per-doc (identical on every
    # posting row of a doc), so aggregate one row per doc first
    S, N = (
        live.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(F.sum("dl").cast("long"), F.count(F.lit(1)).cast("long"))
        .first()
    )
    # no stored df: the query counts exact df over its pruned slice
    merged = (
        live.select("term", "doc_id", "tf", "dl")
        .withColumn("bucket", _bm25_bucket())
        .withColumn("seg", F.lit(0))
    )
    runner.run(
        ModelSpec(
            BM25_SEG_INDEX_NAME,
            "doc_id",
            "doc_id",
            lambda sp, sfd, wm: merged,
            partition_by=["seg", "bucket"],
            manifest_meta={
                "bm25": {"S": int(S), "N": int(N), "segs": 1, **extra}
            },
        ),
        "",
        full_refresh=True,
    )
    release_persists("bm25seg:optimize")
    return runner.current_manifest(BM25_SEG_INDEX_NAME)


def _bm25_tiered_merge(runner, cur: dict, meta: dict, max_segments: int) -> dict:
    """Fold the smallest segments into one new ``seg=`` level so at most
    ``max_segments`` remain; every surviving segment's files are
    byte-identical (pinned by pytest). Selection reads only the manifest
    plus one stat() per candidate file — no data opened to decide."""
    import os

    from mycarely_saas_dbt_spark.incremental import ModelSpec

    parts = cur["partitions"]
    seg_rels: dict[str, list[str]] = {}
    for rel in parts:
        seg_rels.setdefault(rel.split("/", 1)[0], []).append(rel)
    if len(seg_rels) <= max_segments:
        return cur  # within policy: zero jobs
    root_path = runner.target_path(BM25_SEG_INDEX_NAME)
    sizes = {
        seg: sum(
            os.path.getsize(os.path.join(root_path, rel, f))
            for rel in rels
            for f in parts[rel]
        )
        for seg, rels in seg_rels.items()
    }
    merge_segs = sorted(seg_rels, key=lambda s: (sizes[s], s))[
        : len(seg_rels) - max_segments + 1
    ]
    merge_rels = sorted(r for s in merge_segs for r in seg_rels[s])
    new_id = int(meta["segs"])
    out_df = runner.read_target(BM25_SEG_INDEX_NAME, rels=merge_rels)
    # live-docs mask over the FOLDED segments only, at their ORIGINAL
    # seg ids: folding re-ids rows to new_id (>= every cutoff), so
    # carrying masked rows forward would resurrect dead docs. Entries
    # stay in the meta — they still mask the untouched segments; the
    # forceMerge is what clears them.
    out_df = _bm25_apply_dead(
        out_df, _bm25_dead_df(runner.spark, runner, meta)
    ).withColumn("seg", F.lit(new_id))
    spec = ModelSpec(
        BM25_SEG_INDEX_NAME, "doc_id", "doc_id", None,
        partition_by=["seg", "bucket"],
    )
    new_meta = dict(cur.get("meta") or {})
    new_meta["bm25"] = {**meta, "segs": new_id + 1}
    return runner.replace_rels(spec, merge_rels, out_df, meta=new_meta)


# Post-optimize oracle: the merge ABSORBED the deletes, so corpus
# statistics (tf/dl/df/S/N) are those of the LIVE corpus — a fresh build
# over it. Distinguishable both from tombstone-at-read (committed stats,
# live candidates: O_BM25_DELETE_AWARE) and from forgetting the deletes.
O_BM25_OPTIMIZE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    WHERE NOT (doc_id % 13 = 2)
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS S, COUNT(*) AS N FROM dl),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(qid, term) AS (VALUES {_BM25_VALUES}),
scored AS (
    SELECT q.qid, tf.doc_id,
           CAST(SUM((2*t.N - 2*df.df + 1) * 44 * t.S * tf.tf * {BM25_SCALE}
                    // ((2*df.df + 1) * (20*t.S*tf.tf + 6*t.S + 18*dl.dl*t.N)))
                AS BIGINT) AS score_k,
           COUNT(*) AS n_hit
    FROM q
    JOIN tf USING (term)
    JOIN df USING (term)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN tot t
    GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id, score_k, n_hit,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY score_k DESC, n_hit DESC, doc_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {BM25_TOP_K}
"""


def bm25_index_optimize_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full segment-merge lifecycle (append -> delete -> OPTIMIZE ->
    search): bootstrap segment 0 over the first 70% of a COMMITTED base,
    append the rest as segment 1, row-level DELETE from the base
    (doc_id % 13 = 2), force-merge the segments absorbing the tombstoned
    postings, then query. Asserts in-entry that exactly ONE live segment
    remains and that the meta's base pointer advanced past the delete
    (replaying the optimize is a zero-job no-op). The result must
    hash-match a FRESH build over the live corpus — stats recomputed,
    not carried — which is what distinguishes absorption from
    tombstone-at-read."""
    import os
    import tempfile

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    register_sources(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mycarely_bm25_opt_")
    runner = IncrementalRunner(spark, root)

    base_spec = ModelSpec(
        BM25_BASE_NAME,
        "doc_id",
        "doc_id",
        lambda sp, sfd, wm: sp.table("documents").select("doc_id", "text"),
    )
    from mycarely_saas_dbt_spark.util import timed_phase

    with timed_phase("build"):
        runner.run(base_spec, sf_dir)
        # MAX(doc_id) over the just-committed base — manifest-stat
        # resolved (metadata-only, the watermark pattern; r15: was a
        # full-scan aggregate job)
        split = int(
            (int(runner.watermark(BM25_BASE_NAME, "doc_id")) + 1)
            * BM25_SEG_SPLIT
        )
        bm25_seg_index_build(
            spark, sf_dir, root, bound=split, base=BM25_BASE_NAME
        )
    with timed_phase("append"):
        bm25_seg_index_append(spark, sf_dir, root)
    with timed_phase("mutate"):
        runner.delete_where(base_spec, BM25_DELETE_PRED)

    with timed_phase("optimize"):
        m = bm25_seg_index_optimize(spark, root)
    meta = m["meta"]["bm25"]
    segs_live = {
        rel.split(os.sep, 1)[0] for rel in m["partitions"] if rel
    }
    assert segs_live == {"seg=0"} and meta["segs"] == 1, segs_live
    assert meta["base_version"] == (
        runner.current_manifest(BM25_BASE_NAME)["version"]
    )
    # idempotence: a second optimize is a metadata no-op (zero jobs)
    assert bm25_seg_index_optimize(spark, root)["version"] == m["version"]
    return _bm25_seg_query(spark, runner)


def _bm25_dead_df(spark: SparkSession, runner, meta: dict):
    """The segmented index's LIVE-DOCS mask — Lucene's per-segment .del
    files in relational form: (doc_id, __cut) where the doc is dead in
    every segment with ``seg < __cut``. Entries accumulate in sidecar
    parquet dirs under `<index>/_dead/` (churn-proportional, named by
    the manifest meta — never the meta JSON itself, so heavy churn can't
    bloat the manifest); MAX(cutoff) per doc is the effective rule
    because a re-added doc always lands in a segment >= its re-add
    cutoff. Returns None when nothing is pending."""
    import os

    dirs = meta.get("dead_dirs") or []
    if not dirs:
        return None
    root = os.path.join(runner.target_path(BM25_SEG_INDEX_NAME), "_dead")
    return (
        spark.read.parquet(*[os.path.join(root, d) for d in dirs])
        .groupBy("doc_id")
        .agg(F.max("cutoff").alias("__cut"))
    )


def _bm25_apply_dead(post: DataFrame, dead) -> DataFrame:
    """Mask postings through the live-docs rule: a posting survives iff
    its doc has no cutoff or sits in a segment at/after it. Broadcast
    left-join + filter (the mask is churn-bounded), never a shuffle of
    the postings."""
    if dead is None:
        return post
    return (
        post.join(F.broadcast(dead), "doc_id", "left")
        .filter(F.col("__cut").isNull() | (F.col("seg") >= F.col("__cut")))
        .drop("__cut")
    )


def bm25_seg_index_apply_changes(
    spark: SparkSession, runner, batch_df: DataFrame, *,
    app_id: str, txn_version: int,
) -> None:
    """Apply ONE change-feed micro-batch of the base corpus to the
    committed segmented index — Lucene's update protocol (update =
    delete + add, deletes as live-docs marks, merges absorb):

      * inserts + update_postimages TOKENIZE the batch's row images into
        the next ``seg=`` level (change-proportional: the corpus is
        never re-read; zero existing files touched — the same
        new-segment shape as the watermark append, but driven by the
        feed so ARBITRARY doc_ids work, not just past-the-watermark);
      * deletes + update_preimages mark (doc_id, cutoff=new_seg) in a
        live-docs sidecar: postings in segments < cutoff are masked at
        read, the re-added images (>= cutoff) stay live — which is what
        makes UPDATE sound even though a doc's postings span many term
        buckets (a by-key merge could never honor the
        same-key-same-partition rule for term-bucketed postings);
      * (S, N) stay EXACTLY the live corpus: the gone docs' dl is
        recomputed from their preimage text with the same tokenizer, so
        the maintained index's stats regime is fresh-build — the query
        recomputes df AFTER the mask and hash-matches a fresh build over
        the mutated corpus (a stronger contract than tombstone-at-read's
        committed-stats rule);
      * the base pointer advances with each batch (deletes are absorbed
        into the mask, so the query-time ``deleted_keys_since``
        anti-join stays the fast None path).

    Data, mask reference, stats and the (app_id, txn_version) ledger
    move in ONE commit: merge_txn for batches with additions,
    ``commit_meta`` (the commitInfo-only shape) for delete-only batches.
    Redelivered batches are ledger no-ops on both arms. forceMerge
    absorbs the mask physically and clears it; the tiered merge filters
    the segments it folds through the mask (folded rows change seg id,
    so carrying dead rows forward would resurrect them) and keeps the
    entries for untouched segments."""
    import os
    import uuid

    from mycarely_saas_dbt_spark.incremental import ModelSpec
    from mycarely_saas_dbt_spark.util import release_persists

    last = runner.txn_last_version(BM25_SEG_INDEX_NAME, app_id)
    if last is not None and txn_version <= last:
        return  # redelivered batch: already applied
    cur = runner.current_manifest(BM25_SEG_INDEX_NAME)
    if cur is None:
        raise RuntimeError("bm25_seg_index_apply_changes: no committed index")
    meta = cur["meta"]["bm25"]
    seg = int(meta["segs"])
    rows = batch_df.persist()
    try:
        gone = rows.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        ).select("doc_id", "text")
        live = rows.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select("doc_id", "text")
        g = gone.agg(
            F.coalesce(F.sum(F.size(_toks())), F.lit(0)).cast("long"),
            F.count(F.lit(1)),
        ).first()
        S_gone, N_gone = int(g[0]), int(g[1])
        has_live = live.limit(1).count() > 0
        if not has_live and not N_gone:
            return  # empty batch
        S2 = N2 = 0
        staged = None
        if has_live:
            postings, S2, N2 = _bm25_postings(live)
            staged = postings.withColumn("seg", F.lit(seg))
        dead_dirs = list(meta.get("dead_dirs") or [])
        if N_gone:
            droot = os.path.join(
                runner.target_path(BM25_SEG_INDEX_NAME), "_dead"
            )
            os.makedirs(droot, exist_ok=True)
            tag = f"dd-{uuid.uuid4().hex[:12]}"
            tmp = os.path.join(droot, f".{tag}.tmp")
            (
                gone.select(
                    "doc_id", F.lit(seg).cast("int").alias("cutoff")
                ).write.mode("overwrite").parquet(tmp)
            )
            os.replace(tmp, os.path.join(droot, tag))
            dead_dirs.append(tag)
        bm25_meta = {
            **meta,
            "S": int(meta["S"]) - S_gone + int(S2),
            "N": int(meta["N"]) - N_gone + int(N2),
            "segs": seg + 1 if has_live else seg,
            "dead_dirs": dead_dirs,
        }
        if meta.get("base") is not None:
            bm25_meta["base_version"] = (
                runner.current_manifest(meta["base"])["version"]
            )
        if has_live:
            runner.merge_txn(
                ModelSpec(
                    BM25_SEG_INDEX_NAME, "doc_id", "doc_id", None,
                    partition_by=["seg", "bucket"],
                ),
                staged,
                app_id=app_id,
                txn_version=txn_version,
                meta_update={"bm25": bm25_meta},
            )
            release_persists("bm25index:tf")
        else:
            # delete-only batch: commitInfo-only commit — mask reference,
            # stats and ledger move atomically, no data file changes
            new_meta = dict(cur.get("meta") or {})
            new_meta["bm25"] = bm25_meta
            txn = dict(new_meta.get("txn") or {})
            txn[app_id] = int(txn_version)
            new_meta["txn"] = txn
            runner.commit_meta(BM25_SEG_INDEX_NAME, new_meta)
    finally:
        rows.unpersist()


BM25_M_BASE_NAME = "bm25_m_docs_base"
BM25_M_DELETE_PRED = "doc_id % 13 = 5"
BM25_M_UPDATE_PRED = "doc_id % 10 = 6"


def streaming_bm25_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The segmented BM25 index FOLLOWS its base through the change-feed
    stream — closing the index-family symmetry (signature index and ANN
    index already maintain themselves off the CDF; the text index had
    only the watermark append):

        base (documents, change_data) --readStream (mycarely_manifest_cdf,
          preimages)--> four-type change rows --foreachBatch-->
          bm25_seg_index_apply_changes: new docs tokenize into the next
          segment, deletes/updates mark live-docs cutoffs, (S, N) track
          the live corpus exactly, base pointer advances.

    Waves: bootstrap(70% of doc_ids) -> cow DELETE then cow UPDATE as two
    separate base commits caught up by ONE hop (the netting task folds the
    two-version range; text gains a token on update, so tf/dl/df MUST
    change — proving update = mask old + re-add, not append) -> insert
    wave (the other 30%) -> replay hop asserted a zero-commit no-op. The
    query hash-matches a FRESH BM25 build over the live mutated corpus —
    stats maintained, masks applied, df recomputed post-mask; nothing
    carried stale."""
    import shutil
    import tempfile

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.pydatasource import (
        register_manifest_cdf_source,
    )
    from mycarely_saas_dbt_spark.util import materialize, timed_phase

    register_sources(spark, sf_dir)
    register_manifest_cdf_source(spark)
    root = tempfile.mkdtemp(prefix="mycarely_bm25m_")
    runner = IncrementalRunner(spark, root)
    # the maintenance stream catches up TWO base commits in one hop —
    # covered by the AGE retention window (r12; Delta's
    # delta.logRetentionDuration contract: a CDF consumer may lag only
    # as far as the log is retained), RETAIN_VERSIONS at the default
    runner.RETENTION_SECONDS = 3600.0
    split = int((_source_max_doc_id(spark, sf_dir) + 1) * BM25_SEG_SPLIT)

    def build(sp, sfd, wm):
        d = sp.table("documents").select("doc_id", "text")
        if wm is None:
            return d.filter(F.col("doc_id") < split)
        return d.filter(F.col("doc_id") > wm)

    base_spec = ModelSpec(
        BM25_M_BASE_NAME, "doc_id", "doc_id", build, change_data=True,
        # change-file buckets sized to the fixture corpus (r15, guide §6)
        cdc_buckets=16,
    )

    with timed_phase("build"):
        runner.run(base_spec, sf_dir)  # v1 bootstrap (70%)
        base_v = runner.current_manifest(BM25_M_BASE_NAME)["version"]
        bm25_seg_index_build(
            spark, sf_dir, root, bound=split, base=BM25_M_BASE_NAME
        )

    def hop():
        stream = (
            spark.readStream.format("mycarely_manifest_cdf")
            .option("root", root)
            .option("model", BM25_M_BASE_NAME)
            .option("key", "doc_id")
            .option("preimages", "true")
            .option("startingversion", base_v)
            .load()
        )

        def sink(batch_df, bid):
            bm25_seg_index_apply_changes(
                spark, runner, batch_df,
                app_id="bm25_maint", txn_version=bid,
            )

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{root}/_ckpt_bm25m")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 300)

    with timed_phase("mutate"):
        runner.delete_where(base_spec, BM25_M_DELETE_PRED)  # cow DELETE
        runner.update_where(                                 # text mutates
            base_spec, BM25_M_UPDATE_PRED,
            {"text": "concat(text, ' zzz')"},
        )
        hop()  # one catch-up over BOTH mutation versions (netted range)
    with timed_phase("append"):
        runner.run(base_spec, sf_dir)  # insert the other 30%
        hop()
    m = runner.current_manifest(BM25_SEG_INDEX_NAME)
    meta = m["meta"]["bm25"]
    assert meta.get("dead_dirs"), "maintenance recorded no live-docs marks"
    assert meta["N"] == runner.read_target(BM25_M_BASE_NAME).count()
    v_idx = m["version"]
    hop()  # replay wave: zero-commit no-op
    assert runner.current_manifest(BM25_SEG_INDEX_NAME)["version"] == v_idx

    out = materialize(_bm25_seg_query(spark, runner))
    shutil.rmtree(root, ignore_errors=True)
    return out


def _bm25_fresh_oracle(corpus_sql: str) -> str:
    """The full-precision integer-BM25 oracle over an arbitrary corpus
    subquery — the grading shape shared by the maintenance and optimize
    lifecycles (both promise fresh-build stats over the LIVE corpus)."""
    return f"""
WITH corpus AS ({corpus_sql}),
toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM corpus
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS S, COUNT(*) AS N FROM dl),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(qid, term) AS (VALUES {_BM25_VALUES}),
scored AS (
    SELECT q.qid, tf.doc_id,
           CAST(SUM((2*t.N - 2*df.df + 1) * 44 * t.S * tf.tf * {BM25_SCALE}
                    // ((2*df.df + 1) * (20*t.S*tf.tf + 6*t.S + 18*dl.dl*t.N)))
                AS BIGINT) AS score_k,
           COUNT(*) AS n_hit
    FROM q
    JOIN tf USING (term)
    JOIN df USING (term)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN tot t
    GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id, score_k, n_hit,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY score_k DESC, n_hit DESC, doc_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {BM25_TOP_K}
"""


def _bm25_m_oracle() -> str:
    split = (
        f"(SELECT CAST((MAX(doc_id) + 1) * {BM25_SEG_SPLIT} AS BIGINT)"
        " FROM documents)"
    )
    return _bm25_fresh_oracle(f"""
    SELECT doc_id,
           CASE WHEN doc_id < {split} AND {BM25_M_UPDATE_PRED}
                THEN text || ' zzz' ELSE text END AS text
    FROM documents
    WHERE NOT (doc_id < {split} AND {BM25_M_DELETE_PRED})
    """)


def bm25_index_tiered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIERED-merge lifecycle (VERDICT r10 item 3 — the background merge
    policy, distinct from bm25_index_optimize_search's forceMerge):
    bootstrap segment 0 over 70% of doc_ids, two bounded appends make
    three segments (r12 bench hygiene: the K-fold assertion needs only
    3 — the third append was ~6s of pure fixture cost per artifact),
    then ``bm25_seg_index_optimize(max_segments=2)`` folds the smallest
    two into one new level. Asserted in-entry: exactly 2 live segments
    remain, the LARGEST segment's files ride forward byte-identical
    ((name, size, mtime) recorded before the merge — copy-on-write
    never rewrites in place), and a repeat call within policy is a
    zero-commit no-op. The query across the merged layout must
    hash-match the full-corpus fresh-build oracle — a pure re-layout
    changes no answer (per-doc stats are segment-local and final;
    df is counted at query time)."""
    import os
    import tempfile

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    from mycarely_saas_dbt_spark.util import timed_phase

    register_sources(spark, sf_dir)
    hi = _source_max_doc_id(spark, sf_dir) + 1
    root = tempfile.mkdtemp(prefix="mycarely_bm25_tier_")
    runner = IncrementalRunner(spark, root)
    with timed_phase("build"):
        bm25_seg_index_build(spark, sf_dir, root, bound=int(hi * 0.7))
    with timed_phase("append"):
        for frac in (0.85, 1.0):
            bm25_seg_index_append(
                spark, sf_dir, root, bound=int(hi * frac) + 1
            )
    m0 = runner.current_manifest(BM25_SEG_INDEX_NAME)
    assert m0["meta"]["bm25"]["segs"] == 3, m0["meta"]["bm25"]
    idx_root = runner.target_path(BM25_SEG_INDEX_NAME)

    def fstate(m, seg):
        return {
            (rel, f): (
                os.path.getsize(p := os.path.join(idx_root, rel, f)),
                os.path.getmtime(p),
            )
            for rel, fl in m["partitions"].items()
            if rel.startswith(f"{seg}/")
            for f in fl
        }

    seg0_before = fstate(m0, "seg=0")
    with timed_phase("optimize"):
        m1 = bm25_seg_index_optimize(spark, root, max_segments=2)
    live = {rel.split("/", 1)[0] for rel in m1["partitions"] if rel}
    assert live == {"seg=0", "seg=3"}, live
    assert fstate(m1, "seg=0") == seg0_before, "seg=0 was rewritten"
    # within policy now: a repeat call is a zero-commit no-op
    assert (
        bm25_seg_index_optimize(spark, root, max_segments=2)["version"]
        == m1["version"]
    )
    return _bm25_seg_query(spark, runner)


# ---------------------------------------------------------------------------
# Within-document repetition filter (Gopher, Rae et al. 2021 §A1.1) —
# complements the corpus-level dedup family with the INTRA-doc criterion
# ---------------------------------------------------------------------------

REP_TOP2_MAX_PPM = 200_000   # most-frequent 2-gram may cover <= 20% of 2-grams
REP_DUP3_MAX_PPM = 300_000   # duplicated 3-grams may cover <= 30% of 3-grams


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition metrics: the fraction of
    n-grams that are repeats (1 - distinct/total) and the share of the
    single most frequent 2-gram — the intra-document symptom of boiler-
    plate/keyword-stuffed pages that corpus-LEVEL dedup cannot see.
    Token-count fractions (the paper uses character-weighted ones — same
    plan, heavier constants) in integer ppm so the cross-engine compare
    is exact.

    Scale shape (r15, guide §2.4 — remove the shuffle outright): the
    metrics are PER-DOCUMENT, so nothing needs to leave its row. The
    former plan exploded every 2-/3-gram STRING of the corpus into a
    (doc_id, n, gram) count shuffle (≈2x the corpus bytes over the wire)
    plus a second rollup exchange and a join back; now one narrow scan
    computes each doc's (total, top multiplicity, distinct count) with a
    sort+run-length fold over the gram array inside the JVM — ZERO
    exchanges, integer-exact (run counting over ANY total order of equal
    elements yields the same multiplicities)."""
    register_sources(spark, sf_dir)

    def _arr(n: int) -> str:
        cat = ", ' ', ".join(
            f"tk[i + {k}]" if k else "tk[i]" for k in range(n)
        )
        return (
            f"CASE WHEN size(tk) >= {n} THEN transform("
            f"sequence(0, size(tk) - {n}), i -> concat({cat})) "
            "ELSE array() END"
        )

    def _stats(col: str) -> str:
        one = "CAST(1 AS BIGINT)"
        return (
            f"aggregate(array_sort({col}), "
            "struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run, "
            "CAST(0 AS BIGINT) AS top, CAST(0 AS BIGINT) AS dist), "
            "(acc, x) -> struct(x AS prev, "
            f"IF(x <=> acc.prev, acc.run + 1, {one}) AS run, "
            f"GREATEST(acc.top, IF(x <=> acc.prev, acc.run + 1, {one})) AS top, "
            "acc.dist + IF(x <=> acc.prev, CAST(0 AS BIGINT), "
            f"{one}) AS dist), "
            "acc -> struct(acc.top AS top, acc.dist AS dist))"
        )

    docs = spark.table("documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    g = docs.select(
        "doc_id",
        F.expr(_arr(2)).alias("g2"),
        F.expr(_arr(3)).alias("g3"),
    ).select(
        "doc_id",
        F.size("g2").cast("long").alias("total2"),
        F.size("g3").cast("long").alias("total3"),
        F.expr(_stats("g2")).alias("s2"),
        F.expr(_stats("g3")).alias("s3"),
    )
    ppm = lambda num, den: F.when(  # noqa: E731
        F.col(den) == 0, F.lit(0)
    ).otherwise(F.expr(f"({num}) * 1000000 DIV {den}")).cast("long")
    return g.select(
        "doc_id",
        F.col("total2").alias("n_2grams"),
        F.col("total3").alias("n_3grams"),
        ppm("s2.top", "total2").alias("top2_ppm"),
        ppm("total2 - s2.dist", "total2").alias("dup2_ppm"),
        ppm("total3 - s3.dist", "total3").alias("dup3_ppm"),
    ).withColumn(
        "passes_repetition",
        (F.col("top2_ppm") <= REP_TOP2_MAX_PPM)
        & (F.col("dup3_ppm") <= REP_DUP3_MAX_PPM),
    )


O_REPETITION = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g2 AS (
    SELECT doc_id, 2 AS n, tk[i] || ' ' || tk[i+1] AS g
    FROM d, UNNEST(range(1, len(tk))) AS u(i) WHERE len(tk) >= 2
),
g3 AS (
    SELECT doc_id, 3 AS n, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
    FROM d, UNNEST(range(1, len(tk) - 1)) AS u(i) WHERE len(tk) >= 3
),
grams AS (SELECT * FROM g2 UNION ALL SELECT * FROM g3),
per_gram AS (
    SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY doc_id, n, g
),
per_n AS (
    SELECT doc_id, n, SUM(c) AS total, COUNT(*) AS distinct_, MAX(c) AS top
    FROM per_gram GROUP BY doc_id, n
),
wide AS (
    SELECT d.doc_id,
           COALESCE(MAX(CASE WHEN n = 2 THEN total END), 0) AS total2,
           COALESCE(MAX(CASE WHEN n = 2 THEN distinct_ END), 0) AS distinct2,
           COALESCE(MAX(CASE WHEN n = 2 THEN top END), 0) AS top2,
           COALESCE(MAX(CASE WHEN n = 3 THEN total END), 0) AS total3,
           COALESCE(MAX(CASE WHEN n = 3 THEN distinct_ END), 0) AS distinct3
    FROM d LEFT JOIN per_n ON d.doc_id = per_n.doc_id
    GROUP BY d.doc_id
)
SELECT doc_id,
       CAST(total2 AS BIGINT) AS n_2grams,
       CAST(total3 AS BIGINT) AS n_3grams,
       CAST(CASE WHEN total2 = 0 THEN 0
                 ELSE top2 * 1000000 // total2 END AS BIGINT) AS top2_ppm,
       CAST(CASE WHEN total2 = 0 THEN 0
                 ELSE (total2 - distinct2) * 1000000 // total2 END AS BIGINT)
           AS dup2_ppm,
       CAST(CASE WHEN total3 = 0 THEN 0
                 ELSE (total3 - distinct3) * 1000000 // total3 END AS BIGINT)
           AS dup3_ppm,
       (CASE WHEN total2 = 0 THEN 0
             ELSE top2 * 1000000 // total2 END) <= {REP_TOP2_MAX_PPM}
       AND (CASE WHEN total3 = 0 THEN 0
                 ELSE (total3 - distinct3) * 1000000 // total3 END)
           <= {REP_DUP3_MAX_PPM} AS passes_repetition
FROM wide
"""


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023, public
# paper): score every RAW-pool document by how target-like its hashed
# n-gram feature distribution is, then keep the top-K. Features are
# unigrams+bigrams hashed into DSIR_BUCKETS (the paper's hashed bag of
# n-grams); per-bucket importance ratios use add-one smoothing. One
# deliberate deviation for cross-engine exactness: the per-bucket
# log-likelihood ratio log(p_b/q_b) is replaced by the FIXED-POINT ratio
# ((p_b+1)*SCALE) DIV (q_b+1) — a bigint both engines compute identically
# (floating-point log summation order would flip the value hash), rank-
# equivalent per bucket and upweighting exactly the same target-heavy
# buckets; and resampling is the deterministic top-K variant (score desc,
# doc_id tiebreak) rather than Gumbel noise.
#
# Scale shape (100 TB): ONE (doc, bucket) shuffle (map-side combinable —
# cardinality <= docs x DSIR_BUCKETS, far below the exploded gram count);
# the bucket ratio table is DSIR_BUCKETS rows, broadcast into the scoring
# join; top-K is Spark's TakeOrdered (per-partition heaps, no full sort).
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024
# 1e6 (not 1e9) keeps sum(n * ratio) comfortably inside BIGINT at corpus
# scale: per-bucket contribution <= ~p_b * SCALE, so even a 10^12-gram
# target stays under 2^63 summed over 1024 buckets. DuckDB raises on
# bigint overflow while Spark wraps — headroom is a correctness contract.
DSIR_SCALE = 1_000_000
DSIR_TOP_K = 120
DSIR_TARGET_LANG = "en"  # target distribution p; raw pool q = every other doc


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_sources(spark, sf_dir)
    d = spark.table("documents").withColumn("__toks", _toks())
    grams = d.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
        F.explode(
            F.expr(
                "concat(__toks, CASE WHEN size(__toks) >= 2 THEN "
                "transform(sequence(0, size(__toks) - 2), i -> "
                "concat(__toks[i], ' ', __toks[i + 1])) ELSE array() END)"
            )
        ).alias("gram"),
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS,
    )
    # the one wide shuffle: per-(doc, bucket) counts, map-side combined.
    # db feeds BOTH the ratio aggregation and the scoring join —
    # localCheckpoint materializes it once (without it the gram explode +
    # shuffle re-runs per consumer; the plan audit caught the double scan)
    db = (
        grams.groupBy("doc_id", "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # bucket-level p (target) and q (raw pool) in one pass — B rows
    ratios = (
        db.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(0)).alias("p"),
            F.sum(F.when(~F.col("is_target"), F.col("n")).otherwise(0)).alias("q"),
        )
        .select(
            "bucket",
            F.expr(f"(p + 1) * CAST({DSIR_SCALE} AS BIGINT) DIV (q + 1)").alias(
                "ratio"
            ),
        )
    )
    scored = (
        db.filter(~F.col("is_target"))
        .join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("ratio")).alias("dsir_score"))
    )
    return (
        scored.join(
            spark.table("documents").select("doc_id", "lang", "source"),
            "doc_id",
        )
        .orderBy(F.desc("dsir_score"), "doc_id")
        .limit(DSIR_TOP_K)
        .select("doc_id", "lang", "source", "dsir_score")
    )


O_DSIR = f"""
WITH t AS (
    SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS is_target,
           string_split(text, ' ') AS toks
    FROM documents
),
grams AS (
    SELECT doc_id, is_target,
           unnest(toks || CASE WHEN len(toks) >= 2 THEN
               list_transform(generate_series(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i + 1])
               ELSE [] END) AS gram
    FROM t
),
db AS (
    SELECT doc_id, is_target,
           CAST(('0x' || substring(md5(gram), 1, 8)) AS BIGINT)
               % {DSIR_BUCKETS} AS bucket,
           COUNT(*) AS n
    FROM grams GROUP BY 1, 2, 3
),
ratios AS (
    SELECT bucket,
           (SUM(CASE WHEN is_target THEN n ELSE 0 END) + 1)
               * CAST({DSIR_SCALE} AS BIGINT)
               // (SUM(CASE WHEN NOT is_target THEN n ELSE 0 END) + 1) AS ratio
    FROM db GROUP BY bucket
),
scored AS (
    SELECT db.doc_id, CAST(SUM(db.n * r.ratio) AS BIGINT) AS dsir_score
    FROM db JOIN ratios r USING (bucket)
    WHERE NOT db.is_target
    GROUP BY db.doc_id
)
SELECT d.doc_id, d.lang, d.source, s.dsir_score
FROM scored s JOIN documents d USING (doc_id)
ORDER BY s.dsir_score DESC, d.doc_id
LIMIT {DSIR_TOP_K}
"""


def register_extra(register) -> None:
    register("text_normalize", text_normalize, O_TEXT_NORMALIZE)
    register("dsir_select", dsir_select, O_DSIR)
    register("tfidf_keywords", tfidf_keywords, O_TFIDF)
    register("training_mix_pipeline", training_mix_pipeline, _training_mix_oracle())
    register("substring_containment", substring_containment, O_CONTAINMENT)
    register("contamination_check", contamination_check, _contamination_oracle())
    register("corpus_mixture", corpus_mixture, _mixture_oracle())
    register("text_levenshtein_pairs", levenshtein_pairs, O_LEVENSHTEIN)
    register("lang_id_accuracy", lang_id_accuracy, O_LANG_ID_ACCURACY)
    register("domain_cap_sample", domain_cap_sample, O_DOMAIN_CAP)
    register("line_dedup", line_dedup, O_LINE_DEDUP)
    register("temperature_mixture", temperature_mixture, O_TEMPERATURE_MIXTURE)
    register("bm25_search", bm25_search, O_BM25)
    register("bm25_index_search", bm25_index_search, O_BM25)
    register("bm25_index_append_search", bm25_index_append_search, O_BM25)
    register(
        "bm25_index_delete_aware", bm25_index_delete_aware, O_BM25_DELETE_AWARE
    )
    register(
        "bm25_index_optimize_search", bm25_index_optimize_search,
        O_BM25_OPTIMIZE,
    )
    register("bm25_index_tiered_search", bm25_index_tiered_search, O_BM25)
    register(
        "streaming_bm25_maintenance", streaming_bm25_maintenance,
        _bm25_m_oracle(),
    )
    register("hybrid_rrf_search", hybrid_rrf_search, O_HYBRID_RRF)
    register("repetition_filter", repetition_filter, O_REPETITION)


def lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval rollup over the language-ID heuristic: per labeled
    language, prediction counts and hit rate — the confusion-summary a
    pipeline watches to decide when the cheap n-gram classifier needs
    replacing for a given slice."""
    preds = lang_id(spark, sf_dir)
    return preds.groupBy("labeled_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("predicted_lang") == F.col("labeled_lang"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
        F.countDistinct("predicted_lang").alias("n_distinct_preds"),
    )


O_LANG_ID_ACCURACY = f"""
WITH s AS (
    SELECT doc_id, lang,
           {{en}} AS score_en, {{fr}} AS score_fr,
           {{de}} AS score_de, {{es}} AS score_es
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
),
p AS (
    SELECT doc_id, lang,
           CASE WHEN greatest(score_en, score_fr, score_de, score_es) = 0 THEN 'und'
                WHEN score_en = greatest(score_en, score_fr, score_de, score_es) THEN 'en'
                WHEN score_fr = greatest(score_en, score_fr, score_de, score_es) THEN 'fr'
                WHEN score_de = greatest(score_en, score_fr, score_de, score_es) THEN 'de'
                ELSE 'es' END AS predicted
    FROM s
)
SELECT lang AS labeled_lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       COUNT(DISTINCT predicted) AS n_distinct_preds
FROM p GROUP BY lang
""".format(
    en=_marker_sql("en"), fr=_marker_sql("fr"), de=_marker_sql("de"),
    es=_marker_sql("es"),
)


def register_queries(register) -> None:
    for name, fn, oracle in PAIRS:
        register(name, fn, oracle)
