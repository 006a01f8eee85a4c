"""Deduplication operators for LLM training-data pipelines (SURVEY §7 M5):
exact, MinHash+LSH, SimHash, and blocked n-gram Jaccard.

Everything is built from JVM-side Catalyst expressions (md5, higher-order
array functions) — no Python UDFs — so the hot path stays in whole-stage
codegen, and every hash is engine-portable (md5 over explicit strings), so
each operator has a byte-matching DuckDB oracle.

Scale notes (100 TB):
  * exact dedup = one shuffle on the fingerprint key (map-side combinable).
  * MinHash+LSH is the classic scale path. Each doc's features — its
    distinct shingle array, 12 minhashes and shingle count — come from
    ONE narrow projection (`doc_signatures`): no shingle-row explode, no
    shuffle. Bands -> bucket join keyed by (band, band_key): candidate
    pairs only within buckets, never the O(n²) cross join. The verify
    step touches candidates only: it re-shingles just the candidate
    members (broadcast id set) and intersects their arrays in-row, no
    shingle-equality join. Band/row counts (4x3 of 12 hashes) tune the
    jaccard S-curve; at ~0.5 target similarity the false-candidate rate
    at corpus scale stays sub-percent (see prototype numbers in the repo
    history).
  * SimHash gives a single 16-bit bucket key — one shuffle, near-free;
    widen to 64 bits for real corpora.
  * n-gram Jaccard uses (lang, n_chars) blocking to bound the quadratic
    verify to within-block pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mycarely_saas_dbt_spark.sources.registry import register_sources
from mycarely_saas_dbt_spark.util import (
    await_or_raise,
    bounded_persist,
    release_persists,
    session_memo,
)

SHINGLE_LEN = 8
SHINGLE_STRIDE = 4
N_HASHES = 12
# Kirsch–Mitzenmacher: mh_i = (h1 + i*h2) mod P from ONE md5 per shingle.
# P ~ 2^30 keeps h1 + 11*h2 well under 2^63 (no overflow in either engine).
MINHASH_P = 1_000_000_007
N_BANDS = 4
ROWS_PER_BAND = 3
MINHASH_JACCARD_THRESHOLD = 0.5
NGRAM_JACCARD_THRESHOLD = 0.3
SIMHASH_BITS = 16


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep the lowest doc_id per distinct
    text; report each group's size."""
    register_sources(spark, sf_dir)
    return (
        spark.table("documents")
        .groupBy(F.md5("text").alias("content_key"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


O_DEDUP_EXACT = """
SELECT md5(text) AS content_key, MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh, n_sh): each doc's distinct character shingles (k=8,
    stride 4) as one array, and its size — one narrow projection, no
    explode, no shuffle. NULL text yields [NULL]: one NULL "shingle", the
    row the exploded SQL form (and the oracle) gives it."""
    sh = F.expr(
        "array_distinct(transform(sequence(1, greatest(length(text) - "
        f"{SHINGLE_LEN - 1}, 1), {SHINGLE_STRIDE}), "
        f"i -> substring(text, i, {SHINGLE_LEN})))"
    )
    return docs.select("doc_id", sh.alias("sh")).withColumn(
        "n_sh", F.size("sh").cast("long")
    )


def doc_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sh, mh0..mhN-1, n_sh): per-doc MinHash signature in one
    narrow pass. ONE md5 per shingle, split into two independent 60-bit
    halves reduced mod MINHASH_P (h1, h2); the N_HASHES family is then
    pure bigint arithmetic, mh_i = array_min((h1 + i*h2) mod P) over the
    doc's shingles — the per-doc min the exploded form took with a
    groupBy, without the shingle-row shuffle. The hashed array is its own
    column, so each md5 runs once, not once per hash."""
    hashed = (
        "transform(transform(sh, s -> md5(s)), m -> named_struct("
        f"'h1', CAST(conv(substring(m, 1, 15), 16, 10) AS BIGINT) % {MINHASH_P}, "
        f"'h2', CAST(conv(substring(m, 17, 15), 16, 10) AS BIGINT) % {MINHASH_P}))"
    )
    return doc_shingles(docs).withColumn("__hh", F.expr(hashed)).select(
        "doc_id",
        "sh",
        *[
            F.expr(
                f"array_min(transform(__hh, x -> (x.h1 + {i} * x.h2) % {MINHASH_P}))"
            ).alias(f"mh{i}")
            for i in range(N_HASHES)
        ],
        "n_sh",
    )


def _sig_with_nsh(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mhN-1, n_sh) — the committed signature-index row:
    minhashes for banding plus the distinct-shingle count."""
    return doc_signatures(docs).drop("sh")


def _bands_of(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): the signature stacked into N_BANDS bucket
    keys of ROWS_PER_BAND minhashes each. A signature with no hash (NULL
    text) gets NULL keys, which no equi-join matches — md5('') would
    otherwise bucket every such doc together as false candidates. (The
    guard sits inside the key, not in a filter on mh0: Catalyst would
    push such a filter below the signature projection and evaluate the
    whole signature twice.)"""
    band_exprs = ", ".join(
        "{b}, md5(nullif(concat_ws('_', {cols}), ''))".format(
            b=b,
            cols=", ".join(
                f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return sig.selectExpr(
        "doc_id", f"stack({N_BANDS}, {band_exprs}) AS (band, band_key)"
    )


def _banded_candidates(
    sig: DataFrame, batch: DataFrame | None = None
) -> DataFrame:
    """Distinct candidate pairs (doc_a, doc_b) sharing a (band, band_key)
    bucket — an equi-join, NEVER an all-pairs comparison. Without
    ``batch``: the self-pairs doc_a < doc_b of ``sig``. With it: every
    (sig doc, batch doc) pair, the batch-sized bands broadcast so the
    ``sig`` side never shuffles."""
    a = _bands_of(sig).alias("a")
    on = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.band_key") == F.col("b.band_key")
    )
    if batch is None:
        b = _bands_of(sig).alias("b")
        on = on & (F.col("a.doc_id") < F.col("b.doc_id"))
    else:
        b = F.broadcast(_bands_of(batch).alias("b"))
    return (
        a.join(b, on)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _jaccard_verify(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the candidate pairs whose exact shingle
    Jaccard reaches the threshold: |A ∩ B| = size(array_intersect) of the
    members' distinct shingle arrays, |A ∪ B| = n_a + n_b - |A ∩ B|.
    ``sh_a`` / ``sh_b`` are doc_shingles relations (doc_a's side and
    doc_b's side; one relation serves both when omitted), expected
    restricted to candidate members — verify touches candidates only."""
    # sides keep their column names, so when both are one relation a
    # shuffled join reuses one exchange for them
    x = sh_a.alias("x")
    y = (sh_a if sh_b is None else sh_b).alias("y")
    n_inter = F.size(F.array_intersect("x.sh", "y.sh"))
    jac = n_inter.cast("double") / (F.col("x.n_sh") + F.col("y.n_sh") - n_inter)
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= MINHASH_JACCARD_THRESHOLD)
    )


def _candidate_shingles(docs: DataFrame, ids: DataFrame) -> DataFrame:
    """doc_shingles of the docs whose id is in ``ids`` (doc_id), the id
    set broadcast: the rest of the corpus is never re-shingled."""
    return doc_shingles(docs.join(F.broadcast(ids), "doc_id", "left_semi"))


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair relation (doc_a, doc_b, jaccard) as a
    session-scoped materialized intermediate.

    This relation is INDEX-shaped: derived from the full corpus but tiny
    (only near-dup members appear), and consumed by four registered
    queries (`dedup_minhash_lsh`, `dedup_cc_clusters`,
    `dedup_canonical_keep`, `training_mix_pipeline`). The production
    boundary is build-once/consume-many (on a lake: a manifest-committed
    target, like the ANN index); in-session the equivalent is one eager
    localCheckpoint memoized per (session, sf_dir, input-file stat) —
    `session_memo` in util.py — and it is the build's only persist.
    Cold-path semantics are identical (MYCARELY_SESSION_MEMO=0 rebuilds
    every call; scripts/ab_minhash.py is the paired A/B)."""
    register_sources(spark, sf_dir)
    return session_memo(
        "minhash:pairs",
        sf_dir,
        ("documents.parquet",),
        lambda: _build_minhash_pairs(spark),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified by true shingle Jaccard.

    per-doc shingles -> 12 minhashes -> 4 bands of 3 -> bucket join on
    (band, band_key) -> candidate pairs -> exact Jaccard >= 0.5.
    """
    return minhash_pairs(spark, sf_dir)


def minhash_candidate_count(spark: SparkSession, sf_dir: str) -> int:
    """Banded candidate-pair COUNT over `documents` (r14 — VERDICT r13
    item 5): the scale suite records it alongside shuffle bytes, so the
    LSH banding claim is pinned in PAIRS at the size where a quadratic
    tail would first show — at a fixed planted near-dup rate the count
    must grow ~linearly in N, far below the N^2/2 all-pairs bound."""
    register_sources(spark, sf_dir)
    return _banded_candidates(_sig_with_nsh(spark.table("documents"))).count()


def _build_minhash_pairs(
    spark: SparkSession, docs: DataFrame | None = None
) -> DataFrame:
    """Signatures -> banded candidates -> exact-Jaccard verify.

    The signature stage is one narrow projection per doc (no shingle
    explode, no exchange below the band join); both sides of the band
    self-join are one plan, so a shuffled join reuses one exchange (a
    small corpus broadcasts one side instead). Verify touches candidates
    only: the candidate member set is broadcast against a second
    documents scan, so only those docs are re-shingled, and their
    intersection is an in-row array_intersect — no shingle-equality
    join. ``docs`` overrides the source table (degenerate-doc tests)."""
    docs = spark.table("documents") if docs is None else docs
    cand = _banded_candidates(doc_signatures(docs))
    members = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    return _jaccard_verify(cand, _candidate_shingles(docs, members))


def _minhash_oracle() -> str:
    mh_cols = ",\n           ".join(
        f"MIN((h1 + {i} * h2) % {MINHASH_P}) AS mh{i}" for i in range(N_HASHES)
    )
    band_rows = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS band_key FROM sig".format(
            b=b,
            cols=", ".join(
                f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""
WITH sh AS (
    SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {SHINGLE_LEN}) AS s
    FROM documents,
         UNNEST(range(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1) + 1,
                      {SHINGLE_STRIDE})) AS t(i)
),
hh AS (
    SELECT doc_id, s,
           ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P} AS h1,
           ('0x' || substr(md5(s), 17, 15))::BIGINT % {MINHASH_P} AS h2
    FROM sh
),
sig AS (
    SELECT doc_id,
           {mh_cols}
    FROM hh GROUP BY doc_id
),
bands AS (
{band_rows}
),
candidates AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
    FROM candidates c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
    GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
           / (za.n_sh + zb.n_sh - COALESCE(i.n_inter, 0)) AS jaccard
FROM candidates c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes za ON za.doc_id = c.doc_a
JOIN sizes zb ON zb.doc_id = c.doc_b
WHERE CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
          / (za.n_sh + zb.n_sh - COALESCE(i.n_inter, 0))
      >= {MINHASH_JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(docs: DataFrame) -> DataFrame:
    """16-bit SimHash over the token multiset: bit j is the sign of the
    weighted sum of bit j of md5(token) (top bit of hex digit j)."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).withColumn("h", F.md5("t"))
    aggs = [
        F.sum(
            F.when(
                F.substring("h", j + 1, 1).isin(list("89abcdef")), 1
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    bits = F.concat(
        *[F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(SIMHASH_BITS)]
    )
    return sums.select("doc_id", bits.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs = identical SimHash buckets."""
    register_sources(spark, sf_dir)
    s = simhash(spark.table("documents"))
    a, b = s.alias("a"), s.alias("b")
    return a.join(
        b,
        (F.col("a.simhash") == F.col("b.simhash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("simhash"),
    )


def _simhash_oracle() -> str:
    sums = ",\n           ".join(
        f"SUM(CASE WHEN substr(h, {j + 1}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s{j}".replace(
            "{j}", str(j)
        )
        for j in range(SIMHASH_BITS)
    )
    bits = " || ".join(
        f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
    SELECT doc_id, md5(t) AS h
    FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
),
sums AS (
    SELECT doc_id,
           {sums}
    FROM tok GROUP BY doc_id
),
sh AS (SELECT doc_id, {bits} AS simhash FROM sums)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash
FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
"""


# --------------------------------------------------------------------------
# 64-bit SimHash with Hamming-band candidate generation
# --------------------------------------------------------------------------

SIMHASH64_BITS = 64
SIMHASH64_BANDS = 4          # 16 bits per band
SIMHASH64_HAM_K = 3          # pairs within Hamming distance 3 are near-dups
# The fingerprint hashes the FIRST 32767 tokens of each doc (part of the
# cross-engine spec — the oracle applies the same cap). This bounds the
# lane-packed aggregation exactly: per-lane counts < 2^15 < 2^16 (no lane
# carry) and the top lane's sum < 2^15 * 2^48 < 2^63 (no BIGINT
# overflow). Fingerprinting a bounded prefix is also the bounded-state
# shape — a 10M-token outlier doc shouldn't dominate a fingerprint pass.
SIMHASH64_MAX_TOKENS = 32767

_HEX_DIGITS = "0123456789abcdef"


def _sim64_sums(h: str = "h"):
    """64 per-bit sign sums: bit j lives in hex digit j//4 of md5, position
    3-(j%4); weight +1 if set else -1."""
    cols = []
    for j in range(SIMHASH64_BITS):
        digit = F.conv(F.substring(h, j // 4 + 1, 1), 16, 10).cast("int")
        mask = 1 << (3 - j % 4)
        cols.append(
            F.sum(F.when(digit.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1))
            .alias(f"s{j}")
        )
    return cols


def _sim64_packed_sums(h: str = "h"):
    """16 lane-packed bit-count sums — one per md5 hex digit — replacing the
    64-wide per-bit aggregate. Digit d carries simhash bits 4d..4d+3; each
    bit's set-count accumulates in its own 16-bit lane of one BIGINT:
    lane shift 16*(3 - j%4) for bit j. The 16 leading hex digits decode
    with just two 8-digit `conv` parses (each fits a signed long); nibble
    extraction is then pure integer shift/mask inside whole-stage codegen
    (vs 64 substring/conv/when trees before), and the aggregation buffer
    is 17 columns instead of 65. Lane-safe for docs up to 2^15 tokens
    (top lane reaches n*2^48 < 2^63); `_sim64_sums` remains the
    unbounded fallback."""
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    cols = []
    for d in range(16):
        word = hi if d < 8 else lo
        digit = F.shiftright(word, 4 * (7 - d % 8)).bitwiseAND(F.lit(15))
        pack = (
            F.shiftright(digit, 3).bitwiseAND(F.lit(1)) * F.lit(1 << 48)
            + F.shiftright(digit, 2).bitwiseAND(F.lit(1)) * F.lit(1 << 32)
            + F.shiftright(digit, 1).bitwiseAND(F.lit(1)) * F.lit(1 << 16)
            + digit.bitwiseAND(F.lit(1))
        )
        cols.append(F.sum(pack).alias(f"ps{d}"))
    return cols


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash split into SIMHASH64_BANDS 16-bit band ints
    (b0..b3) — the fingerprint layout of Manku, Jain & Das Sarma,
    "Detecting Near-Duplicates for Web Crawling" (WWW'07).

    Bit j of the fingerprint is 1 iff the majority of token md5s have bit
    j set (strictly: 2*set_count > n_tokens, matching the sign of the
    +1/-1 weighted sum). Counts come from the lane-packed aggregate
    (`_sim64_packed_sums`); extraction is (ps_d >> lane) & 0xFFFF. The
    SIMHASH64_MAX_TOKENS prefix cap (mirrored in the oracle) keeps every
    lane exactly overflow-free — see the constant's comment."""
    tok = docs.select(
        "doc_id",
        F.explode(
            F.slice(F.split("text", " "), 1, SIMHASH64_MAX_TOKENS)
        ).alias("t"),
    ).withColumn("h", F.md5("t"))
    sums = tok.groupBy("doc_id").agg(
        *_sim64_packed_sums(), F.count(F.lit(1)).alias("n_tok")
    )
    bands = []
    bits_per = SIMHASH64_BITS // SIMHASH64_BANDS
    for b in range(SIMHASH64_BANDS):
        expr = F.lit(0)
        for k in range(bits_per):
            j = b * bits_per + k
            cnt = (
                F.shiftright(F.col(f"ps{j // 4}"), 16 * (3 - j % 4))
                .bitwiseAND(F.lit(0xFFFF))
            )
            bit = F.when(cnt * 2 > F.col("n_tok"), 1).otherwise(0)
            expr = expr + bit * F.lit(1 << (bits_per - 1 - k))
        bands.append(expr.cast("int").alias(f"b{b}"))
    return sums.select("doc_id", *bands)


def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within Hamming distance SIMHASH64_HAM_K of the 64-bit
    SimHash. EXACT under the banding pigeonhole: distance <= 3 over 4 bands
    forces >= 1 identical band, so candidates = pairs sharing any (band
    index, band value) bucket — 4 equi-join buckets, no all-pairs — then
    the true Hamming distance (bit_count of per-band XORs) verifies. The
    scale shape of Manku et al.'s web-crawl dedup: shuffle on small band
    ints, verify only within buckets. The signature subplan appears three
    times (band explode + both verify sides) but is computed once — AQE
    exchange reuse deduplicates the identical aggregation (verified: an
    explicit persist changes nothing at sf0.1)."""
    register_sources(spark, sf_dir)
    s = simhash64(spark.table("documents"))
    bands = s.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(SIMHASH64_BANDS)]))
        .alias("band", "val"),
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    a = s.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{b}").alias(f"ab{b}") for b in range(SIMHASH64_BANDS)],
    )
    b_ = s.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{b}").alias(f"bb{b}") for b in range(SIMHASH64_BANDS)],
    )
    ham = sum(
        F.bit_count(F.col(f"ab{b}").bitwiseXOR(F.col(f"bb{b}")))
        for b in range(SIMHASH64_BANDS)
    )
    return (
        cand.join(a, "doc_a")
        .join(b_, "doc_b")
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH64_HAM_K)
    )


def _simhash64_oracle() -> str:
    bits_per = SIMHASH64_BITS // SIMHASH64_BANDS
    sums = ",\n           ".join(
        f"SUM(CASE WHEN (strpos('{_HEX_DIGITS}', substr(h, {j // 4 + 1}, 1)) - 1)"
        f" & {1 << (3 - j % 4)} != 0 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH64_BITS)
    )
    band_exprs = []
    for b in range(SIMHASH64_BANDS):
        terms = " + ".join(
            f"(CASE WHEN s{b * bits_per + k} > 0 THEN {1 << (bits_per - 1 - k)}"
            " ELSE 0 END)"
            for k in range(bits_per)
        )
        band_exprs.append(f"({terms}) AS b{b}")
    hams = " + ".join(
        f"bit_count(xor(a.b{b}, bb.b{b}))" for b in range(SIMHASH64_BANDS)
    )
    band_union = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, b{b} AS val FROM sh"
        for b in range(SIMHASH64_BANDS)
    )
    return f"""
WITH tok AS (
    SELECT doc_id, md5(t) AS h
    FROM documents,
         UNNEST(string_split(text, ' ')[1:32767]) AS u(t)
),
sums AS (
    SELECT doc_id,
           {sums}
    FROM tok GROUP BY doc_id
),
sh AS (SELECT doc_id, {", ".join(band_exprs)} FROM sums),
bands AS (
{band_union}
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.val = y.val AND x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b, CAST({hams} AS BIGINT) AS hamming
FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh bb ON bb.doc_id = c.doc_b
WHERE {hams} <= {SIMHASH64_HAM_K}
"""


# --------------------------------------------------------------------------
# blocked n-gram Jaccard
# --------------------------------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard over (lang, n_chars)-blocked pairs — the
    high-precision verifier with cheap blocking to bound the quadratic."""
    register_sources(spark, sf_dir)
    bigrams = F.expr(
        "transform(sequence(1, greatest(size(toks) - 1, 1)), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    d = (
        spark.table("documents")
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id", "lang", "n_chars",
            F.array_distinct(bigrams).alias("grams"),
        )
    )
    a, b = d.alias("a"), d.alias("b")
    j = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams"))).cast(
        "double"
    ) / F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            j.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


O_NGRAM_JACCARD = f"""
WITH d AS (
    SELECT doc_id, lang, n_chars,
           list_distinct(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> list_extract(string_split(text, ' '), i) || ' ' ||
                    list_extract(string_split(text, ' '), i + 1)
           )) AS grams
    FROM documents
    WHERE len(string_split(text, ' ')) >= 2
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
           / len(list_distinct(a.grams || b.grams)) AS jaccard
FROM d a JOIN d b
  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / len(list_distinct(a.grams || b.grams)) >= {NGRAM_JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# near-dup cluster formation (connected components)
# --------------------------------------------------------------------------

CC_MAX_ITER = 20


CC_DRIVER_MAX = 4_000_000  # edges; ~64 MB of id pairs — the bounded-collect budget


def connected_components(edges: DataFrame, max_iter: int = CC_MAX_ITER) -> DataFrame:
    """Connected components by iterative min-label propagation over an
    undirected edge list (u, v) — each round every vertex takes the min of
    its own and its neighbors' labels; converges in O(diameter) rounds.

    Per-round cost: one shuffle to join labels onto edges, one to re-group
    by vertex; `localCheckpoint` truncates lineage so the plan doesn't grow
    per iteration. Near-dup graphs are forests of tiny cliques/chains, so
    the diameter (and round count) stays small even at corpus scale; for
    adversarial long-chain graphs switch to the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — same join primitives, O(log n)
    rounds. The driver-side loop only checks a changed-row COUNT per round
    (a scalar), it never collects the data.

    ``edges`` should be cheap to re-read (the near-dup pair relation is
    a checkpoint already): the driver path reads it twice, and only the
    distributed loop materializes its own symmetric copy.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # Driver-side union-find fast path: the near-dup PAIR list after LSH
    # blocking is orders of magnitude smaller than the corpus (only
    # near-dup members appear), so up to CC_DRIVER_MAX edges it is
    # metadata-scale — collect once, union-find exactly, relabel each
    # component to its min vertex (identical labels to the min-label
    # iteration). This replaces ~2-3 Spark jobs PER ROUND (checkpoint +
    # changed-count, ~1.5 s/job floor on this box — measured 10-18 s of
    # pure iteration overhead inside training_mix) with one collect.
    # Beyond the bound, the distributed min-label loop below handles
    # graphs whose edge list itself is corpus-scale.
    import os

    n_edges = edges.count()
    if n_edges <= CC_DRIVER_MAX and os.environ.get("MYCARELY_CC_DRIVER", "1") != "0":
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            a, b = row["u"], row["v"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        labels = [(v, find(v)) for v in parent]
        return edges.sparkSession.createDataFrame(
            sorted(labels), "u bigint, label bigint"
        )
    # the iteration re-reads the edge list every round: materialize it
    # once, so upstream lineage never re-runs inside the loop
    edges = edges.localCheckpoint()
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    labels = sym.select("u").distinct().withColumn("label", F.col("u"))
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, "u")
            .select(F.col("v").alias("u"), "label")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Returning unconverged labels would silently split clusters —
        # wrong keep/drop decisions downstream. Fail loudly; callers with
        # adversarial long-chain graphs should raise max_iter or switch to
        # the O(log n)-round large-star/small-star variant (docstring).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter or use the "
            "large-star/small-star formulation for long-chain graphs"
        )
    return labels


def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the MinHash-LSH near-dup pairs into components and assign
    every member its cluster's canonical (minimum) doc_id — the step that
    turns pairwise similarity into keep/drop decisions. Oracle: transitive
    closure via DuckDB recursive CTE over the same pair set."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    return connected_components(pairs).select(
        F.col("u").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _cc_oracle() -> str:
    return f"""
WITH RECURSIVE lsh_pairs AS (
    SELECT doc_a, doc_b FROM ({_minhash_oracle()}) q
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM lsh_pairs
    UNION ALL
    SELECT doc_b, doc_a FROM lsh_pairs
),
reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
FROM reach GROUP BY u
"""


def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: the step after clustering that decides
    WHICH copy of each near-dup cluster survives into the training corpus.
    Every document gets a cluster (singletons are their own cluster); the
    canonical member is the longest text (``n_chars`` DESC, doc_id ASC
    tiebreak) — the usual keep-the-most-complete-copy curation rule.

    Scale shape: the cluster relation is tiny relative to the corpus (only
    near-dup members appear), so both the membership join and the
    canonical-map join broadcast; the per-cluster argmax is a map-side
    partial ``max_by``. Nothing shuffles the corpus itself."""
    register_sources(spark, sf_dir)
    clusters = dedup_cc_clusters(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "n_chars")
    full = docs.join(F.broadcast(clusters), "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "n_chars",
    )
    canon = full.groupBy("cluster_id").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("n_chars").alias("a"), (-F.col("doc_id")).alias("b")),
        ).alias("kept_doc_id")
    )
    return full.join(F.broadcast(canon), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "kept_doc_id",
        (F.col("doc_id") == F.col("kept_doc_id")).alias("keep"),
    )


def _canonical_keep_oracle() -> str:
    cc = _cc_oracle()
    return f"""
WITH cc AS ({cc}),
cfull AS (
    SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id, d.n_chars
    FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
),
canon AS (
    SELECT cluster_id, doc_id AS kept_doc_id
    FROM (
        SELECT cluster_id, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster_id
                   ORDER BY n_chars DESC, doc_id ASC
               ) AS rn
        FROM cfull
    ) r WHERE rn = 1
)
SELECT f.doc_id, f.cluster_id, c.kept_doc_id,
       f.doc_id = c.kept_doc_id AS keep
FROM cfull f JOIN canon c ON f.cluster_id = c.cluster_id
"""


# --------------------------------------------------------------------------
# Incremental ingestion dedup against a COMMITTED signature index
# --------------------------------------------------------------------------
# The 100 TB ingestion shape: the corpus's minhash signatures live as a
# manifest-committed lakehouse target (12 bigints + a shingle count per doc
# — a ~1% sidecar of the corpus), and each arriving batch is deduped
# AGAINST THE INDEX, never against the re-scanned corpus. Per-batch cost is
# proportional to the batch: the batch's bands are broadcast against the
# index's band relation (the index side never shuffles), candidate
# verification re-shingles only the candidate old docs fetched from the
# corpus store, and survivors' signatures merge into the index through the
# same incremental commit protocol every other target uses.

INGEST_SPLIT_FRACTION = 0.7  # batch 1 (bootstrap corpus) = first 70% of ids
MINHASH_INDEX_NAME = "minhash_sig_index"


def dedup_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase incremental near-dup gate. Phase 1 commits the bootstrap
    corpus's (first 70% of doc_ids) signature index as a manifest target.
    Phase 2 ingests the remaining 30% as an arriving batch: the batch's
    bands probe the COMMITTED index (batch side broadcast — the index
    never shuffles), cross candidates are verified by exact shingle
    Jaccard (old docs' text fetched from the corpus store and re-shingled
    for candidates only), within-batch
    candidates are verified batch-internally, and each new doc is graded
    `dup_of_index` / `dup_within_batch` (a verified pair with a
    smaller-id batch doc — the greedy non-chained rule) / `kept`. Kept
    docs' signatures then MERGE into the index through the incremental
    commit protocol. Returns (doc_id, status) for every batch doc."""
    import tempfile

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    register_sources(spark, sf_dir)
    docs = spark.table("documents")
    # the id split point — parquet-footer resolved (exact, zero Spark
    # jobs; r15 guide §1.2), Spark aggregate as the stats-free fallback
    from mycarely_saas_dbt_spark.sources.registry import source_column_max

    hi = source_column_max(sf_dir, "documents.parquet", "doc_id")
    if hi is None:
        hi = docs.agg(F.max("doc_id")).first()[0]
    split = int((int(hi) + 1) * INGEST_SPLIT_FRACTION)

    root = tempfile.mkdtemp(prefix="mycarely_minhash_idx_")
    runner = IncrementalRunner(spark, root)

    def bootstrap(sp, sfd, wm):
        return _sig_with_nsh(docs.filter(F.col("doc_id") < split))

    runner.run(
        ModelSpec(MINHASH_INDEX_NAME, "doc_id", "doc_id", bootstrap), sf_dir
    )
    idx = runner.read_target(MINHASH_INDEX_NAME)

    new_docs = docs.filter(F.col("doc_id") >= split)
    # the batch's signatures (with their shingle arrays) feed both band
    # joins, both verifies and the append — persist the batch once
    new_sig = bounded_persist(doc_signatures(new_docs), "ingest:new_sig")
    new_sh = new_sig.select("doc_id", "sh", "n_sh")

    # cross candidates: index bands ⋈ broadcast batch bands
    cand_x = bounded_persist(_banded_candidates(idx, new_sig), "ingest:cand_x")
    # candidate old docs' shingles: fetched from the corpus store, the
    # broadcast-semi restriction keeps the re-shingle candidate-sized
    old_sh = _candidate_shingles(
        docs, cand_x.select(F.col("doc_a").alias("doc_id")).distinct()
    )
    dup_of_index = (
        _jaccard_verify(cand_x, old_sh, new_sh)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # within-batch candidates + verify (batch-internal, tiny)
    dup_within = (
        _jaccard_verify(_banded_candidates(new_sig), new_sh)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )

    status = (
        new_docs.select("doc_id")
        .join(dup_of_index.withColumn("x", F.lit(1)), "doc_id", "left")
        .join(dup_within.withColumn("w", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("x").isNotNull(), "dup_of_index")
            .when(F.col("w").isNotNull(), "dup_within_batch")
            .otherwise("kept")
            .alias("status"),
        )
    )
    status = bounded_persist(status, "ingest:status")

    # phase 3: survivors' signatures merge into the committed index (the
    # build reads past the watermark by construction: all kept ids > wm)
    kept = status.filter(F.col("status") == "kept").select("doc_id")

    def append(sp, sfd, wm):
        return new_sig.drop("sh").join(kept, "doc_id")

    runner.run(ModelSpec(MINHASH_INDEX_NAME, "doc_id", "doc_id", append), sf_dir)

    out = status.orderBy("doc_id")
    release_persists("ingest:new_sig")
    release_persists("ingest:cand_x")
    return out


def _index_ingest_oracle() -> str:
    pairs = _minhash_oracle()
    return f"""
WITH pairs AS ({pairs}),
split AS (
    SELECT CAST((MAX(doc_id) + 1) * {INGEST_SPLIT_FRACTION} AS BIGINT) AS s
    FROM documents
)
SELECT d.doc_id,
       CASE WHEN EXISTS (
                SELECT 1 FROM pairs p
                WHERE p.doc_b = d.doc_id AND p.doc_a < (SELECT s FROM split)
            ) THEN 'dup_of_index'
            WHEN EXISTS (
                SELECT 1 FROM pairs p
                WHERE p.doc_b = d.doc_id AND p.doc_a >= (SELECT s FROM split)
            ) THEN 'dup_within_batch'
            ELSE 'kept' END AS status
FROM documents d
WHERE d.doc_id >= (SELECT s FROM split)
"""


SIGM_BASE_NAME = "sigm_docs_base"
SIGM_INDEX_NAME = "sigm_sig_index"
SIGM_DELETE_PRED = "doc_id % 9 = 2"
SIGM_UPDATE_PRED = "doc_id % 10 = 6"


def streaming_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature index FOLLOWS its base table through the change-feed
    stream — the downstream composition the CDF source exists for
    (VERDICT r8 item 5): base inserts/updates/deletes maintain the
    committed minhash index automatically, no rebuild, no manual
    `deleted=` plumbing.

        base (documents, hash-bucket partitioned) --readStream
          (mycarely_manifest_cdf)--> tagged change rows
          --foreachBatch--> signatures recomputed FROM THE ROW IMAGES
          (inserts/updates re-shingle only the changed docs' text —
          per-batch cost is change-proportional, never corpus-
          proportional), deletes ride spec.tombstone_col; merged via
          merge_txn (idempotent under redelivery).

    Waves: bootstrap insert -> cow DELETE -> cow UPDATE (text mutates,
    so the signature must CHANGE, proving upsert-not-append), each
    streamed through a checkpointed hop; a final replay wave is
    asserted a no-op. Returns the final index (doc_id, mh0, mh11,
    n_sh) — the oracle recomputes signatures over the base's live,
    post-update text arithmetically."""
    import shutil
    import tempfile

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.pydatasource import (
        register_manifest_cdf_source,
    )

    register_sources(spark, sf_dir)
    register_manifest_cdf_source(spark)
    root = tempfile.mkdtemp(prefix="mycarely_sigm_")
    runner = IncrementalRunner(spark, root)

    base_spec = ModelSpec(
        SIGM_BASE_NAME,
        "doc_id",
        "doc_id",
        lambda sp, sfd, wm: sp.table("documents").select(
            "doc_id", "text", (F.col("doc_id") % 8).alias("pb")
        ),
        partition_by=["pb"],
    )
    idx_spec = ModelSpec(
        SIGM_INDEX_NAME, "doc_id", "doc_id", None, tombstone_col="__del"
    )

    def hop():
        stream = (
            spark.readStream.format("mycarely_manifest_cdf")
            .option("root", root)
            .option("model", SIGM_BASE_NAME)
            .option("key", "doc_id")
            .load()
        )

        def sink(batch_df, bid):
            rows = batch_df.persist()
            try:
                if not rows.count():
                    return
                live = rows.filter(
                    F.col("_change_type") != "delete"
                ).select("doc_id", "text")
                sigs = _sig_with_nsh(live).withColumn("__del", F.lit(False))
                dels = rows.filter(
                    F.col("_change_type") == "delete"
                ).select("doc_id")
                tomb = dels.select(
                    "doc_id",
                    *[
                        F.lit(None).cast("long").alias(f"mh{i}")
                        for i in range(N_HASHES)
                    ],
                    F.lit(None).cast("long").alias("n_sh"),
                    F.lit(True).alias("__del"),
                )
                runner.merge_txn(
                    idx_spec,
                    sigs.unionByName(tomb),
                    app_id="sigm_hop",
                    txn_version=bid,
                )
            finally:
                rows.unpersist()

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{root}/_ckpt_sigm")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 300)

    runner.run(base_spec, sf_dir)                     # bootstrap inserts
    hop()
    runner.delete_where(base_spec, SIGM_DELETE_PRED)  # cow DELETE
    hop()
    runner.update_where(                              # text mutates
        base_spec, SIGM_UPDATE_PRED, {"text": "concat(text, ' zzz')"}
    )
    hop()
    v_idx = runner.current_manifest(SIGM_INDEX_NAME)["version"]
    hop()                                             # replay: no-op
    assert runner.current_manifest(SIGM_INDEX_NAME)["version"] == v_idx

    from ..util import materialize

    out = materialize(
        runner.read_target(SIGM_INDEX_NAME)
        .select("doc_id", "mh0", f"mh{N_HASHES - 1}", "n_sh")
        .orderBy("doc_id")
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


def _sigm_oracle() -> str:
    last = N_HASHES - 1
    return f"""
WITH base AS (
    SELECT doc_id,
           CASE WHEN {SIGM_UPDATE_PRED} THEN text || ' zzz' ELSE text END
               AS text
    FROM documents WHERE NOT ({SIGM_DELETE_PRED})
),
sh AS (
    SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {SHINGLE_LEN}) AS s
    FROM base,
         UNNEST(range(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1) + 1,
                      {SHINGLE_STRIDE})) AS t(i)
),
hh AS (
    SELECT doc_id, s,
           ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P} AS h1,
           ('0x' || substr(md5(s), 17, 15))::BIGINT % {MINHASH_P} AS h2
    FROM sh
),
sig AS (
    SELECT doc_id,
           CAST(MIN(h1 % {MINHASH_P}) AS BIGINT) AS mh0,
           CAST(MIN((h1 + {last} * h2) % {MINHASH_P}) AS BIGINT) AS mh{last},
           CAST(COUNT(*) AS BIGINT) AS n_sh
    FROM hh GROUP BY doc_id
)
SELECT doc_id, mh0, mh{last}, n_sh FROM sig ORDER BY doc_id
"""


PAIRS = [
    ("dedup_exact", dedup_exact, O_DEDUP_EXACT),
    ("dedup_minhash_lsh", dedup_minhash_lsh, None),  # oracle built lazily
    ("dedup_simhash", dedup_simhash, None),
    ("dedup_ngram_jaccard", dedup_ngram_jaccard, O_NGRAM_JACCARD),
    ("dedup_cc_clusters", dedup_cc_clusters, None),
]


def register_queries(register) -> None:
    register("dedup_exact", dedup_exact, O_DEDUP_EXACT)
    register("dedup_minhash_lsh", dedup_minhash_lsh, _minhash_oracle())
    register("dedup_simhash", dedup_simhash, _simhash_oracle())
    register("dedup_simhash64", dedup_simhash64, _simhash64_oracle())
    register("dedup_ngram_jaccard", dedup_ngram_jaccard, O_NGRAM_JACCARD)
    register("dedup_cc_clusters", dedup_cc_clusters, _cc_oracle())
    register("dedup_canonical_keep", dedup_canonical_keep, _canonical_keep_oracle())
    register("dedup_index_ingest", dedup_index_ingest, _index_ingest_oracle())
    register(
        "streaming_index_maintenance",
        streaming_index_maintenance,
        _sigm_oracle(),
    )
