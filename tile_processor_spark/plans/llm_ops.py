"""LLM training-data pipeline operators over ``documents`` / ``embeddings``:
text statistics, quality scoring, exact + near-duplicate detection
(MinHash-LSH, SimHash), document fingerprinting, and embedding similarity
search (brute-force cosine top-k; hyperplane-LSH bucketing as the scale
path).

Beyond the reference's surface (SURVEY.md §7.8 north-star extensions) but
first-class engine capabilities. Exactness discipline so every query is
oracle-checkable bit-for-bit:

- token/shingle hashes are the first 8 hex chars of md5 → uint32 (both
  engines agree on md5);
- embeddings are quantized ``floor(x * 2^20)`` → BIGINT (multiplying a
  float by a power of two is exact in double, so this is deterministic),
  making dot products / norms order-independent integer sums;
- all ratios are a single double division of exact integers.

Scale notes: MinHash-LSH is the 100 TB dedup path — signatures are
computed per-document with higher-order array functions (no explode of
the shingle set), banding explodes only 32 rows/doc, and candidate
verification touches only bucket-colliding pairs. The brute-force cosine
top-k broadcasts the query set; the LSH bucketing variant replaces the
cross join with an equi-join on bucket at scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window as W

from tile_processor_spark.plans.registry import register
from tile_processor_spark.session import session_cached
from tile_processor_spark.sources.tables import load_table

MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32
NUM_PERM = 128
LSH_BANDS = 32  # r = 4 rows/band → P(miss | J=0.9) ≈ 1e-15
NEAR_DUP_THRESHOLD = 0.5
# MinHash emits only pairs where LSH band recall is ≈ 1: at J = 0.8 a
# 32-band × 4-row scheme misses with P = (1 − 0.8⁴)³² ≈ 5e-8, so the
# banded result equals the exact-Jaccard oracle for any corpus. At the
# generic 0.5 threshold recall is only ~87% for marginal pairs — equality
# would hold only while the corpus has no pair near the threshold.
MINHASH_EMIT_THRESHOLD = 0.8
# Signature-estimate pre-screen between banding and exact verify: a
# bucket-colliding pair is exact-verified only if its 128-perm
# signature agreement (an unbiased Jaccard estimate) is ≥ this. For a
# true J ≥ 0.8 pair, agreement ~ Binomial(128, 0.8)/128: falling below
# 0.6 is a 5.6σ event (P ≈ 1e-8, same order as the banding miss rate
# 5e-8 — the screen does not change which pairs the row emits), while
# low-J bucket collisions (boilerplate/small-vocab mega-buckets, where
# candidate volume grows quadratically in bucket size) agree at ~J and
# are screened out before they ever touch the text join + exact-verify
# UDF. Measured on the 10× rehearsal corpus: 137,580 bucket-colliding
# candidates → the screen passes only the genuinely-similar tail, and
# the verify stage goes back to being output-bound (docs/SCALE.md).
MINHASH_EST_PREFILTER = 0.6
QUANT = 1_048_576.0  # 2^20
# Brute-force cosine baseline: every 50th vector queries, HARD-CAPPED at
# 64 query vectors so the broadcast side is O(1), not O(corpus) — the
# labeled validation baseline stays runnable at any scale while
# ann_ivf_search remains the production similarity path.
BRUTE_QUERY_STRIDE = 50
BRUTE_QUERY_CAP = 64  # max broadcast rows: 64 × (64 longs + id) ≈ 33 KB
STOPWORDS = ("the", "a", "data", "row", "table")


# --- shared column builders (Spark side) ----------------------------------


def tokens_col(text: Column) -> Column:
    """Non-empty whitespace-separated tokens."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda x: F.length(x) > 0)


def hash32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative int64 — the engine's
    deterministic, cross-engine-reproducible token hash."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def shingles_col(words: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined). Guarded: fewer than
    ``n`` words → empty set (Spark's sequence(1, 0) would count DOWN)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(words, i + k) for k in range(n)]),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(F.size(words) >= n, grams).otherwise(empty))


def quantized_col(emb: Column) -> Column:
    """float embedding → exact BIGINT vector (floor(x · 2^20))."""
    return F.transform(emb, lambda e: F.floor(e * F.lit(QUANT)).cast("long"))


EMB_DIM = 64  # embedding dimensionality (pinned by the generator schema)


def dot_col(a: Column, b: Column) -> Column:
    """Exact integer dot product of two equal-length long arrays, as one
    zip_with/aggregate expression.

    Deliberately NOT unrolled into a flat Σ element_at(a,i)·element_at(b,i)
    chain: that variant was measured 3× SLOWER at dim=64 (cosine_topk
    steady-state 2.5 s vs 0.86 s, ivf_search 1.9 s vs 0.79 s, noop-sink
    min-of-3 on a calm host) and neutral at dim=8. With 2·dim column
    references, projection collapse re-derives the upstream quantization
    transform per reference instead of once per row, and the 64-deep Add
    chain defeats whole-stage codegen's subexpression elimination. The
    single higher-order expression evaluates each input array once."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir)


# SQL fragments shared by the oracles (DuckDB dialect, same semantics).
SQL_TOKENS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> length(x) > 0)"
SQL_HASH32 = "CAST('0x' || substr(md5({v}), 1, 8) AS BIGINT)"
SQL_QUANT = "CAST(floor(embedding[{i}] * 1048576.0) AS BIGINT)"


# --------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_token_chars,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS avg_token_len
    FROM t
    """,
    doc="Token counting (whitespace tokenizer): per-doc token/distinct/char stats.",
    tags=("llm", "text"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    lens = F.transform(toks, lambda x: F.length(x).cast("long"))
    total = F.aggregate(lens, F.lit(0).cast("long"), lambda a, v: a + v)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        total.alias("total_token_chars"),
        (total.cast("double") / F.size(toks)).alias("avg_token_len"),
    )


@register(
    "text_quality_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, length(text) AS n_chars, {SQL_TOKENS} AS toks FROM documents),
    s AS (
      SELECT doc_id, lang, n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN {STOPWORDS!r})) AS BIGINT) AS stop_cnt
      FROM t
    )
    SELECT doc_id, lang, n_chars, n_tokens, stop_cnt,
           (LEAST(n_tokens, 100) / 100.0) * (1.0 - CAST(stop_cnt AS DOUBLE) / n_tokens) AS quality
    FROM s
    """,
    doc=(
        "Quality scoring: length + stopword-ratio composite. All ratios "
        "are single double divisions of exact integer counts."
    ),
    tags=("llm", "text", "headline"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_cnt = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("long")
    n_tokens = F.size(toks).cast("long")
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        stop_cnt.alias("stop_cnt"),
    ).withColumn(
        "quality",
        (F.least(F.col("n_tokens"), F.lit(100)) / 100.0)
        * (1.0 - F.col("stop_cnt").cast("double") / F.col("n_tokens")),
    )


@register(
    "dedup_exact",
    oracle="""
    WITH f AS (
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
      FROM documents
    )
    SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
    FROM f GROUP BY fingerprint
    """,
    doc=(
        "Exact dedup: md5 fingerprint of whitespace-normalized lowercase "
        "text, hash-groupBy keeping the lowest doc_id as canonical — one "
        "shuffle on the fingerprint at any scale."
    ),
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
    )


def _py_shingles(text: str, n: int = 3) -> set[str]:
    """Python twin of shingles_col/tokens_col: whitespace tokens → distinct
    space-joined n-grams. Tokenization parity with `split(trim(text),
    '\\s+')` and the DuckDB oracle is pinned by the oracle gate."""
    import re as _re

    words = [w for w in _re.split(r"\s+", text.strip()) if w]
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def _py_hash32(s: str) -> int:
    """Python twin of hash32 (first 8 md5 hex chars as uint32)."""
    import hashlib as _hl

    return int(_hl.md5(s.encode("utf-8")).hexdigest()[:8], 16)


@pandas_udf(T.ArrayType(T.LongType()))
def _minhash_sig_udf(text: pd.Series) -> pd.Series:
    """text → 128-perm MinHash signature in ONE Arrow pass: python
    shingling + md5 (both bit-identical to the Catalyst/DuckDB
    formulations, pinned by the oracle), then a numpy (P×S) matrix min.

    Doing the whole chain here matters: Catalyst higher-order functions
    evaluate interpreted (array_distinct over 250-element arrays is
    quadratic interpreter work — measured 14 s at sf0.1 for shingling
    alone), and the shingle sets would otherwise travel through every
    downstream shuffle. The signature (128 longs) is all that leaves."""
    a = np.arange(1, NUM_PERM + 1, dtype=np.int64)[:, None]  # p+1
    b = (np.arange(NUM_PERM, dtype=np.int64) ** 2 + 1)[:, None]  # p²+1
    out = []
    for t in text:
        hv = np.fromiter(
            (_py_hash32(s) for s in _py_shingles(t)), dtype=np.int64
        )
        if hv.size == 0:
            out.append(np.full(NUM_PERM, MINHASH_PRIME, dtype=np.int64))
        else:
            out.append(((a * hv[None, :] + b) % MINHASH_PRIME).min(axis=1))
    return pd.Series(out)


@pandas_udf(T.LongType())
def _simhash_udf(text: pd.Series) -> pd.Series:
    """text → 32-bit SimHash in one vectorized pass: distinct whitespace
    tokens → md5-prefix hashes → per-bit ±1 majority vote (ties → 0).
    Bit-identical to the exploded formulation pinned by the oracle
    (tokens with bit k set vote +1, else −1; bit k of the result is set
    iff the vote sum is strictly positive)."""
    import re as _re

    ks = np.arange(32, dtype=np.int64)
    out = []
    for t in text:
        toks = {w for w in _re.split(r"\s+", t.strip()) if w}
        hv = np.fromiter((_py_hash32(w) for w in toks), dtype=np.int64)
        if hv.size == 0:
            out.append(0)
            continue
        votes = (2 * ((hv[:, None] >> ks[None, :]) & 1) - 1).sum(axis=0)
        out.append(int(((votes > 0).astype(np.int64) << ks).sum()))
    return pd.Series(out)


@pandas_udf(T.DoubleType())
def _pair_jaccard_udf(text1: pd.Series, text2: pd.Series) -> pd.Series:
    """Exact shingle-set Jaccard for candidate pairs (string shingles, not
    hashes — hash collisions must not perturb the exact verify step).
    Runs only on LSH bucket collisions, so cost is O(candidates)."""
    out = []
    for t1, t2 in zip(text1, text2):
        s1, s2 = _py_shingles(t1), _py_shingles(t2)
        c = len(s1 & s2)
        denom = len(s1) + len(s2) - c
        out.append(float(c) / denom if denom else 0.0)
    return pd.Series(out)


# Deterministic in value, but marked non-deterministic so the optimizer
# may not clone the evaluation below a pushed filter: the plain form of
# `withColumn("jaccard", udf).filter(jaccard >= t)` plans TWO
# ArrowEvalPython nodes (one under the pushed filter, one re-deriving
# the projected column), charging every candidate pair a second exact
# shingle-set pass. One node, same values.
_pair_jaccard_once = _pair_jaccard_udf.asNondeterministic()


_MINHASH_ORACLE = f"""
    WITH words AS (
      SELECT doc_id, {SQL_TOKENS} AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM words
    ),
    toks AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
      FROM toks a JOIN toks b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= {MINHASH_EMIT_THRESHOLD}
"""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig): 128-perm MinHash signatures, one Arrow pass per
    partition. This is the frame to materialize bucketed by band key at
    100 TB (docs/SCALE.md §minhash)."""
    return docs.select("doc_id", _minhash_sig_udf(F.col("text")).alias("sig"))


def minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, bk): LSH band keys, 32 rows per document. Equi-joining on
    ``bk`` yields candidate pairs; write this frame bucketed+sorted by
    ``bk`` (sources.bucketing.write_bucketed) and the banding self-join
    needs zero shuffle."""
    rows = NUM_PERM // LSH_BANDS
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
        lambda b: F.concat_ws(
            ":",
            b.cast("string"),
            F.array_join(F.slice(F.col("sig"), b * rows + 1, rows).cast("array<string>"), "-"),
        ),
    )
    return sig.select("doc_id", F.explode(band_keys).alias("bk"))


@session_cached
def _minhash_signatures_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures for the FULL ``documents`` corpus of ``sf_dir``, per
    session. The 128-perm signature table is an offline index artifact
    (the bucketed path materializes exactly this via write_bucketed;
    the incremental path appends to it), so batch queries reuse one
    Arrow signature pass per corpus. The corpus frame is built here
    (not passed in) so the key (sf_dir) can never alias a filtered or
    re-shaped caller corpus to the wrong cached table. localCheckpoint,
    not cache(): the held reference keeps the blocks alive; dropping
    the entry frees them via ContextCleaner."""
    # Single-row-group gate/bench parquet → 1-task scan, which would
    # serialize the Arrow signature pass onto one core; spread it.
    # At 100 TB the input has thousands of splits and this shuffle of
    # (doc_id, text) is noise next to the work it parallelizes.
    docs = _docs(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return minhash_signatures(docs).localCheckpoint()


def minhash_candidates(bands: DataFrame) -> DataFrame:
    """(d1, d2): distinct bucket-colliding pairs — the only pairs the
    exact verify step ever touches."""
    return (
        bands.alias("a")
        .join(bands.alias("b"), "bk")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def minhash_estimate_filter(
    cand: DataFrame, sig: DataFrame, min_est: float = MINHASH_EST_PREFILTER
) -> DataFrame:
    """Screen candidate pairs by signature-agreement Jaccard estimate
    (see ``MINHASH_EST_PREFILTER``) — two equi-joins against the
    already-computed signature table plus a JVM-side ``zip_with``
    agreement count; no text movement, no Python. This is the tier
    between banding and exact verify that keeps verify OUTPUT-bound
    when bucket collisions are quadratic (mega-buckets)."""
    s1 = sig.select(F.col("doc_id").alias("d1"), F.col("sig").alias("_sig1"))
    s2 = sig.select(F.col("doc_id").alias("d2"), F.col("sig").alias("_sig2"))
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .filter(_sig_agreement() >= F.lit(int(min_est * NUM_PERM)))
        .select("d1", "d2")
    )


def _sig_agreement(a: str = "_sig1", b: str = "_sig2") -> Column:
    """Signature-agreement count (matching positions of two 128-long
    MinHash signatures) — JVM-side zip_with + aggregate, no Python."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def incremental_band_candidates(
    spark: SparkSession, bands_table: str, new_docs: DataFrame
) -> DataFrame:
    """Near-dup candidates for a NEW ingest batch against the
    materialized band index (docs/SCALE.md §2.1) — the incremental path
    that avoids re-running corpus×corpus dedup per delivery.

    The new batch's band keys are computed in one Arrow pass (32
    rows/doc); the equi-join against the bucketed ``bands_table`` then
    shuffles ONLY the new side into the index's bucket layout — the
    existing corpus (the 100 TB side) is read in place, zero exchange
    (``tests/test_incremental_ingest.py`` pins the plan shape).
    Returned candidates feed the same exact-Jaccard verify as the batch
    path."""
    new_bands = minhash_bands(minhash_signatures(new_docs))
    idx = spark.table(bands_table)
    return (
        new_bands.alias("n")
        .join(idx.alias("e"), "bk")
        .filter(F.col("n.doc_id") != F.col("e.doc_id"))
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("e.doc_id").alias("existing_id"),
        )
        .distinct()
    )


def incremental_screened_candidates(
    spark: SparkSession,
    bands_table: str,
    sig_table: str,
    new_docs: DataFrame,
    min_est: float = MINHASH_EST_PREFILTER,
) -> DataFrame:
    """:func:`incremental_band_candidates` plus the signature-agreement
    screen — the full mega-bucket defense on the incremental path
    (docs/SCALE.md §2.1: boilerplate-heavy deliveries hit the same
    quadratic buckets the sf1 rehearsal measured on the batch path).

    ``sig_table`` is the (doc_id, sig) table materialized next to the
    band index at build time (same Arrow pass produces both — bucket it
    by doc_id so the screen's existing-side join rides the layout).
    The new batch's signatures are computed once and reused for its
    band keys AND its screen side; only pairs whose estimated Jaccard
    (agreement/128) reaches ``min_est`` survive to exact verify, so
    verify stays OUTPUT-bound per delivery. Doc ids must be disjoint
    between the new batch and the indexed corpus (ingest batches are).
    Returns (new_id, existing_id)."""
    sig_new = minhash_signatures(new_docs).localCheckpoint()
    new_bands = minhash_bands(sig_new)
    idx = spark.table(bands_table)
    cand = (
        new_bands.alias("n")
        .join(idx.alias("e"), "bk")
        .filter(F.col("n.doc_id") != F.col("e.doc_id"))
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("e.doc_id").alias("existing_id"),
        )
        .distinct()
    )
    s_new = sig_new.select(F.col("doc_id").alias("new_id"), F.col("sig").alias("_sig1"))
    s_old = spark.table(sig_table).select(
        F.col("doc_id").alias("existing_id"), F.col("sig").alias("_sig2")
    )
    return (
        cand.join(s_new, "new_id")
        .join(s_old, "existing_id")
        .filter(_sig_agreement() >= F.lit(int(min_est * NUM_PERM)))
        .select("new_id", "existing_id")
    )


@register(
    "dedup_minhash_pairs",
    oracle=_MINHASH_ORACLE,
    doc=(
        "Near-duplicate pairs: 3-gram shingles → 128-perm MinHash → LSH "
        "banding (32 bands × 4 rows) → exact-Jaccard verification ≥ 0.8. "
        "The oracle computes exact pairwise Jaccard (O(n²), viable only "
        "at gate scale); results agree BY CONSTRUCTION, not corpus luck: "
        "band recall at the emit threshold J = 0.8 is 1 − (1 − 0.8⁴)³² "
        "≈ 1 − 5e-8, so any pair the exact oracle emits is caught by "
        "banding regardless of how the testdata is refreshed. "
        "Pipeline shape for 100 TB: only the 128-long signature leaves "
        "the scan stage (one Arrow pass computes shingles→hashes→sig); "
        "banding emits 32 rows/doc; bucket-colliding pairs are screened "
        "by signature-agreement estimate (MINHASH_EST_PREFILTER — "
        "mega-bucket collisions never reach the text join); shingle "
        "sets are re-derived only for the surviving pairs at exact-"
        "verify time."
    ),
    tags=("llm", "dedup", "headline"),
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No repartition on the text table: it feeds the two BROADCAST
    # builds below, so a repartition exchange sat uselessly inside each
    # BroadcastExchange (shuffle the rows, then collect them all anyway
    # — 2 Exchanges + 64 tasks for nothing; round-17 plan diff). The
    # Python-heavy signature pass has its own spread inside
    # _minhash_signatures_cached, which is where parallelism matters.
    d = _docs(spark, sf_dir)
    sh = _minhash_signatures_cached(spark, sf_dir)
    cand = minhash_estimate_filter(minhash_candidates(minhash_bands(sh)), sh)
    t1 = d.select(F.col("doc_id").alias("d1"), F.col("text").alias("text1"))
    t2 = d.select(F.col("doc_id").alias("d2"), F.col("text").alias("text2"))
    verified = (
        cand.join(t1, "d1")
        .join(t2, "d2")
        .withColumn("jaccard", _pair_jaccard_once(F.col("text1"), F.col("text2")))
        .filter(F.col("jaccard") >= MINHASH_EMIT_THRESHOLD)
    )
    return verified.select("d1", "d2", "jaccard")


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS tok FROM documents
    ),
    hashed AS (SELECT doc_id, {SQL_HASH32.format(v="tok")} AS h FROM toks),
    bits AS (
      SELECT doc_id, k,
             SUM(CASE WHEN (h // CAST(pow(2, k) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed, range(32) r(k) GROUP BY doc_id, k
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, k) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    doc=(
        "SimHash document fingerprint: 32-bit per-bit majority vote over "
        "distinct-token hashes (ties → 0). Near-dup candidates then come "
        "from equal high-order half-keys + Hamming verify; the gate pins "
        "the fingerprint itself, which is the deterministic core."
    ),
    tags=("llm", "dedup"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass vectorized bit-vote (one Arrow batch per partition, no
    # explode): the previous formulation exploded tokens×32 rows before a
    # partial aggregate — correct, but ~10× the map-side CPU at scale.
    # This shape is a pure map: zero shuffles at any corpus size.
    d = _docs(spark, sf_dir)
    # explode-based predecessor dropped token-less docs; preserve that.
    return d.filter(F.size(tokens_col(F.col("text"))) > 0).select(
        "doc_id", _simhash_udf(F.col("text")).alias("simhash")
    )


@register(
    "embedding_cosine_topk",
    oracle=f"""
    WITH qd AS (
      SELECT vec_id AS q_id, i, {SQL_QUANT.format(i="i")} AS qv
      FROM embeddings, range(1, 65) r(i)
      WHERE vec_id % {BRUTE_QUERY_STRIDE} = 0
        AND vec_id < {BRUTE_QUERY_STRIDE * BRUTE_QUERY_CAP}
    ),
    vd AS (
      SELECT vec_id, i, {SQL_QUANT.format(i="i")} AS vv
      FROM embeddings, range(1, 65) r(i)
    ),
    qn AS (SELECT q_id, SUM(qv*qv) AS nq FROM qd GROUP BY 1),
    vn AS (SELECT vec_id, SUM(vv*vv) AS nv FROM vd GROUP BY 1),
    dots AS (
      SELECT q_id, vec_id, SUM(qv*vv) AS dot
      FROM qd JOIN vd ON qd.i = vd.i GROUP BY 1, 2
    ),
    scored AS (
      SELECT q_id, vec_id AS neighbor_id,
             dot / (sqrt(nq) * sqrt(nv)) AS cosine
      FROM dots JOIN qn USING (q_id) JOIN vn USING (vec_id)
      WHERE vec_id != q_id
    )
    SELECT q_id, neighbor_id, cosine, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc=(
        "Brute-force cosine top-k ANN baseline: every 50th vector (hard "
        "cap 64 queries, so the broadcast side is O(1) in corpus size) "
        "queries all others. Embeddings quantized to ints (floor(x·2^20)) "
        "so dot products and norms are exact; cosine is one double "
        "expression → bit-identical ranking in both engines. This is the "
        "labeled validation baseline; ann_ivf_search is the scale path."
    ),
    tags=("llm", "similarity", "headline"),
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _brute_cosine_scored_cached(spark, sf_dir)
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )


# The brute cosine scoring kernel, a constructed plan cached per
# session: quantized_col/dot_col compile higher-order lambdas through
# py4j on every build — pure driver overhead per invocation (guide §5;
# round-17 construction profile: 0.17 s/call). NOT result caching: every
# action re-scans parquet and re-scores.
@session_cached
def _brute_cosine_scored_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select("vec_id", quantized_col(F.col("embedding")).alias("q"))
    e = e.withColumn("norm", dot_col(F.col("q"), F.col("q")))
    queries = (
        e.filter(
            (F.col("vec_id") % BRUTE_QUERY_STRIDE == 0)
            & (F.col("vec_id") < BRUTE_QUERY_STRIDE * BRUTE_QUERY_CAP)
        )
        # the filter already caps rows at BRUTE_QUERY_CAP; the limit is
        # a no-op that makes the bound STRUCTURAL, so the broadcast
        # below is provably ≤64 rows (plan-invariant broadcast check)
        .limit(BRUTE_QUERY_CAP)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("q").alias("qv"),
            F.col("norm").alias("nq"),
        )
    )
    pairs = e.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
    return pairs.withColumn("dot", dot_col(F.col("q"), F.col("qv"))).withColumn(
        "cosine",
        F.col("dot").cast("double") / (F.sqrt(F.col("nq").cast("double")) * F.sqrt(F.col("norm").cast("double"))),
    )


@register(
    "ann_lsh_buckets",
    oracle=f"""
    WITH qd AS (
      SELECT vec_id, i, {SQL_QUANT.format(i="i")} AS qv
      FROM embeddings, range(1, 65) r(i)
    ),
    dots AS (
      SELECT vec_id, p, SUM(qv * (((p*131071 + i*524287) % 997) - 498)) AS dot
      FROM qd, range(16) pp(p) GROUP BY vec_id, p
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id
    """,
    doc=(
        "Random-hyperplane LSH bucketing — the scale path for similarity "
        "search: 16 sign bits from deterministic integer hyperplanes → a "
        "16-bit bucket; near-dup search then equi-joins on bucket instead "
        "of cross-joining. Integer dots are exact, so bucket assignment "
        "is reproducible anywhere."
    ),
    tags=("llm", "similarity"),
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select("vec_id", quantized_col(F.col("embedding")).alias("q"))
    # Plane weights are plan-time constants → 16 flat literal-array dot
    # products (zip_with + integer fold), no nested lambda capture. The
    # whole bucket computation is map-side, shuffle-free.
    bucket = F.lit(0).cast("long")
    for p in range(16):
        w = F.array(*[F.lit(((p * 131071 + d * 524287) % 997) - 498) for d in range(1, 65)])
        dot_p = F.aggregate(
            F.zip_with(F.col("q"), w, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot_p > 0, F.lit(1 << p)).otherwise(0)
    return e.select("vec_id", bucket.alias("bucket"))


# --- language ID, subword counting, IVF assignment ------------------------

LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "y", "una", "es"),
}
CJK_PATTERN = "[一-鿿]"
_BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _stopword_matcher(stopwords: tuple[str, ...]):
    """One-arg HOF lambda factory (a two-arg lambda would be interpreted
    as (element, index) by F.filter)."""
    arr = F.array(*[F.lit(w) for w in stopwords])
    return lambda x: F.array_contains(arr, x)


def _langid_sql() -> str:
    toks = SQL_TOKENS
    scores = ", ".join(
        f"CAST(len(list_filter({toks}, x -> x IN {LANG_STOPWORDS[lang]!r})) AS BIGINT) AS s_{lang}"
        for lang in LANG_STOPWORDS
    )
    return f"""
    WITH s AS (
      SELECT doc_id, lang,
             regexp_matches(text, '{CJK_PATTERN}') AS has_cjk,
             {scores}
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN has_cjk THEN 'zh'
                WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
                WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS predicted,
           s_en, s_de, s_fr, s_es
    FROM s
    """


@register(
    "text_langid",
    oracle=_langid_sql(),
    doc=(
        "Language ID heuristic: CJK charset check, then stopword-profile "
        "argmax with a fixed priority tie-break (en>de>fr>es; all-zero → "
        "'und'). Deterministic and fully relational — the oracle replays "
        "the same rule. Real-sentence sanity is unit-tested separately "
        "(the synthetic corpus is shuffled English vocabulary, so "
        "predictions on it are 'en'/'und' regardless of the lang label)."
    ),
    tags=("llm", "text", "langid"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    df = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.col("text").rlike(CJK_PATTERN).alias("has_cjk"),
        *[
            F.size(F.filter(toks, _stopword_matcher(sw))).cast("long").alias(f"s_{lang}")
            for lang, sw in LANG_STOPWORDS.items()
        ],
    )
    all_zero = (
        (F.col("s_en") == 0) & (F.col("s_de") == 0) & (F.col("s_fr") == 0) & (F.col("s_es") == 0)
    )
    predicted = (
        F.when(F.col("has_cjk"), "zh")
        .when(all_zero, "und")
        .when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es")),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_es")), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
    )
    return df.select(
        "doc_id", "labeled_lang", predicted.alias("predicted"), "s_en", "s_de", "s_fr", "s_es"
    )


@register(
    "text_bpe_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len({SQL_TOKENS}) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS BIGINT) AS n_subwords
    FROM documents
    """,
    doc=(
        "BPE-ish token counting: whitespace words vs subword pieces from "
        "the classic pre-tokenizer regex (letter runs | digit runs | "
        "single punctuation) — the standard proxy for LLM token budgets."
    ),
    tags=("llm", "text"),
)
def text_bpe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_subwords"),
    )


#: sampled-slice audit percentage for the quadratic truth operators —
#: the registered *_sampled rows pin the mechanism at 50% (so the gate
#: corpus still contains near-dup pairs to check); at production scale
#: callers pass 1-5% and the quadratic cost drops by pct².
AUDIT_SAMPLE_PCT = 50

#: DuckDB twin of :func:`audit_slice` — identical md5-prefix bucket.
SQL_AUDIT_SLICE = (
    "CAST('0x' || substr(md5('audit#' || CAST(doc_id AS VARCHAR)), 1, 8)"
    " AS BIGINT) % 100 < {pct}"
)


def audit_slice(d: DataFrame, pct: int = AUDIT_SAMPLE_PCT) -> DataFrame:
    """Deterministic ~pct% corpus slice for the quadratic audit
    operators (exact Jaccard truth, prefix-filter recall, LSH recall):
    membership is the md5-prefix hash of ``'audit#' + doc_id`` — a pure
    map (no shuffle), reproducible at any partition count, and computed
    identically by the DuckDB oracle via :data:`SQL_AUDIT_SLICE`.
    Sampling DOCUMENTS (not pairs) keeps both ends of every surviving
    pair in the slice, so pair-level metrics (jaccard, recall,
    precision) are exact on the sampled sub-corpus."""
    bucket = hash32(F.concat(F.lit("audit#"), F.col("doc_id").cast("string"))) % 100
    return d.filter(bucket < pct)


def _ngram_jaccard_oracle(doc_filter: str = "TRUE") -> str:
    return f"""
    WITH words AS (
      SELECT doc_id, {SQL_TOKENS} AS w FROM documents WHERE {doc_filter}
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8) AS BIGINT)))
               AS hs
      FROM words
    ),
    toks AS (SELECT doc_id, unnest(hs) AS h FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
      FROM toks a JOIN toks b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, c AS n_common,
           CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= {NEAR_DUP_THRESHOLD}
"""


_NGRAM_JACCARD_ORACLE = _ngram_jaccard_oracle()


@pandas_udf(T.ArrayType(T.LongType()))
def _shingle_hashes_udf(text: pd.Series) -> pd.Series:
    """text → distinct 3-gram shingle hashes (uint32 via md5 prefix), one
    Arrow pass — same rationale as _minhash_sig_udf: Catalyst HOF
    shingling is interpreted and quadratic in the shingle count."""
    out = []
    for t in text:
        out.append(
            np.unique(
                np.fromiter((_py_hash32(s) for s in _py_shingles(t)), dtype=np.int64)
            )
        )
    return pd.Series(out)


@register(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    doc=(
        "Exact n-gram Jaccard similarity join: distinct 3-gram shingle "
        "hashes per doc, explode + self-equi-join on the hash, pair "
        "intersection counts, jaccard = c/(n1+n2-c) ≥ 0.5. Joining on "
        "the 32-bit md5-prefix hash (not the string) keeps the shuffle "
        "narrow and is deterministic in both engines. This is the exact "
        "small-corpus path; dedup_minhash_pairs is the 100 TB path — at "
        "scale this join needs the standard prefix filter (drop shingles "
        "with document frequency above a cap) to bound the self-join, "
        "which changes recall, so we keep it exact here and gate-check "
        "it exactly. Past gate scale, run dedup_ngram_jaccard_sampled: "
        "the same exact join on a deterministic audit_slice."
    ),
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return exact_jaccard_pairs(d, NEAR_DUP_THRESHOLD)


@register(
    "dedup_ngram_jaccard_sampled",
    oracle=_ngram_jaccard_oracle(SQL_AUDIT_SLICE.format(pct=AUDIT_SAMPLE_PCT)),
    doc=(
        "Sampled-slice audit mode of dedup_ngram_jaccard: the exact "
        "quadratic Jaccard join restricted to a deterministic "
        "md5-bucket slice of the corpus (audit_slice, both engines "
        "computing identical membership), which is how the exact-truth "
        "operator stays runnable as the corpus grows — the join cost "
        "drops by pct² while every pair INSIDE the slice keeps its "
        "exact jaccard. Gate-pinned at 50% so the slice still holds "
        "near-dup pairs; production audits run 1-5%."
    ),
    tags=("llm", "dedup", "sampled"),
)
def dedup_ngram_jaccard_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = audit_slice(_docs(spark, sf_dir))
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return exact_jaccard_pairs(d, NEAR_DUP_THRESHOLD)


def shingle_tokens(docs: DataFrame, checkpoint: bool = False):
    """(toks, sizes) from the shared 3-gram shingle-hash pass: ONE
    implementation of the shingling so a tokenization fix can never
    diverge the operators built on it (jaccard, containment, prefix
    filter, minhash recall truth). ``checkpoint`` materializes the
    Arrow/md5 UDF output once when a caller derives several frames."""
    sh = docs.select("doc_id", _shingle_hashes_udf(F.col("text")).alias("hs"))
    if checkpoint:
        sh = sh.localCheckpoint()
    toks = sh.select("doc_id", F.explode("hs").alias("h"))
    sizes = sh.select("doc_id", F.size("hs").cast("long").alias("n"))
    return toks, sizes


def shingle_pair_stats(toks: DataFrame, sizes: DataFrame) -> DataFrame:
    """(d1, d2, n_common, n1, n2) for every doc pair sharing at least
    one shingle hash — the self-equi-join every set-similarity metric
    (jaccard, containment, overlap) derives from."""
    inter = (
        toks.alias("a")
        .join(toks.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return inter.join(s1, "d1").join(s2, "d2")


def exact_jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """(d1, d2, n_common, jaccard) for every doc pair with exact 3-gram
    shingle-hash Jaccard ≥ threshold — the shared ground-truth pipeline
    for ``dedup_ngram_jaccard`` and ``dedup_eval.dedup_minhash_recall``."""
    # checkpoint: the pair join + two size joins read the shingle-UDF
    # output SIX times in one plan without it (plan survey, round 16) —
    # materialize the Arrow/md5 pass once
    toks, sizes = shingle_tokens(docs, checkpoint=True)
    return (
        shingle_pair_stats(toks, sizes)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double") / (F.col("n1") + F.col("n2") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "n_common", "jaccard")
    )


FP_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne); rolling-hash modulus
FP_BASE = 37
FP_WINDOW = 8


@register(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_transform({SQL_TOKENS},
               x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)) AS hl
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             CASE WHEN len(hl) >= {FP_WINDOW}
                  THEN list_transform(range(1, len(hl) - {FP_WINDOW - 2}),
                         i -> list_reduce(hl[i:i+{FP_WINDOW - 1}],
                                          (a, b) -> (a * {FP_BASE} + b) % {FP_MOD}))
                  ELSE CAST([] AS BIGINT[]) END AS wins
      FROM t
    )
    SELECT doc_id,
           CAST(len(wins) AS BIGINT) AS n_windows,
           list_min(wins) AS fp_min,
           array_to_string(list_sort(wins)[1:4], '-') AS fp_bottom
    FROM w
    """,
    doc=(
        "Document fingerprinting via Karp-Rabin rolling hash: token-hash "
        "sequence folded through h' = (h·37 + t) mod 2³¹−1 over every "
        "8-token window, summarized as the window count, the minimum "
        "window hash (the winnowing representative), and the bottom-4 "
        "sketch. All-integer modular algebra below 2³⁷, so both engines "
        "agree bit-for-bit; map-side only — no shuffle at any scale."
    ),
    tags=("llm", "text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    hl = F.transform(tokens_col(F.col("text")), lambda x: hash32(x))
    wins = F.when(
        F.size(hl) >= FP_WINDOW,
        F.transform(
            F.sequence(F.lit(1), F.size(hl) - (FP_WINDOW - 1)),
            lambda i: F.aggregate(
                F.slice(hl, i, FP_WINDOW),
                F.lit(0).cast("long"),
                lambda a, b: (a * FP_BASE + b) % FP_MOD,
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return d.select("doc_id", wins.alias("wins")).select(
        "doc_id",
        F.size("wins").cast("long").alias("n_windows"),
        F.array_min("wins").alias("fp_min"),
        F.array_join(F.slice(F.array_sort("wins"), 1, 4).cast("array<string>"), "-").alias(
            "fp_bottom"
        ),
    )


EMB_NEAR_DUP_THRESHOLD = 0.40
LSH_BAND_BITS = 4
LSH_EMB_BANDS = 4


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH qd AS (
      SELECT vec_id, i, {SQL_QUANT.format(i="i")} AS qv
      FROM embeddings, range(1, 65) r(i)
    ),
    dots AS (
      SELECT vec_id, p, SUM(qv * (((p*131071 + i*524287) % 997) - 498)) AS dot
      FROM qd, range(16) pp(p) GROUP BY vec_id, p
    ),
    bands AS (
      SELECT vec_id, p // {LSH_BAND_BITS} AS band,
             SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % {LSH_BAND_BITS}) AS BIGINT) ELSE 0 END)
               AS bkey
      FROM dots GROUP BY vec_id, p // {LSH_BAND_BITS}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
    ),
    norms AS (SELECT vec_id, SUM(qv*qv) AS n2 FROM qd GROUP BY vec_id),
    pd AS (
      SELECT v1, v2, SUM(x.qv * y.qv) AS dot
      FROM cand JOIN qd x ON x.vec_id = v1 JOIN qd y ON y.vec_id = v2 AND x.i = y.i
      GROUP BY 1, 2
    )
    SELECT v1, v2, dot / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
    FROM pd JOIN norms a ON v1 = a.vec_id JOIN norms b ON v2 = b.vec_id
    WHERE dot / (sqrt(a.n2) * sqrt(b.n2)) >= {EMB_NEAR_DUP_THRESHOLD}
    """,
    doc=(
        "Embedding-cosine near-duplicate pairs, the LSH-banded scale "
        "path: the 16 hyperplane sign bits (same deterministic planes as "
        "ann_lsh_buckets) split into 4 bands × 4 bits; candidates are "
        "pairs agreeing on ANY band (equi-join per band + distinct), "
        "verified by exact quantized-integer cosine ≥ 0.4. Replaces the "
        "O(n²) cross join of embedding_cosine_topk with per-band "
        "equi-joins; banding (OR of ands) trades precision for recall "
        "exactly like MinHash-LSH banding does for text."
    ),
    tags=("llm", "similarity", "dedup"),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select("vec_id", quantized_col(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", dot_col(F.col("q"), F.col("q")))
    band_cols = []
    for band in range(LSH_EMB_BANDS):
        bkey = F.lit(0).cast("long")
        for k in range(LSH_BAND_BITS):
            p = band * LSH_BAND_BITS + k
            w = F.array(*[F.lit(((p * 131071 + d * 524287) % 997) - 498) for d in range(1, 65)])
            dot_p = F.aggregate(
                F.zip_with(F.col("q"), w, lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            bkey = bkey + F.when(dot_p > 0, F.lit(1 << k)).otherwise(0)
        band_cols.append(F.struct(F.lit(band).alias("band"), bkey.alias("bkey")))
    bands = e.select("vec_id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "vec_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bkey"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("v1"), F.col("b.vec_id").alias("v2"))
        .distinct()
    )
    e1 = e.select(F.col("vec_id").alias("v1"), F.col("q").alias("q1"), F.col("n2").alias("na"))
    e2 = e.select(F.col("vec_id").alias("v2"), F.col("q").alias("q2"), F.col("n2").alias("nb"))
    return (
        cand.join(e1, "v1")
        .join(e2, "v2")
        .withColumn("dot", dot_col(F.col("q1"), F.col("q2")))
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
        )
        .filter(F.col("cosine") >= EMB_NEAR_DUP_THRESHOLD)
        .select("v1", "v2", "cosine")
    )


@register(
    "ann_ivf_assign",
    oracle=f"""
    WITH qd AS (
      SELECT vec_id, label, i, {SQL_QUANT.format(i="i")} AS qv
      FROM embeddings, range(1, 65) r(i)
    ),
    cent AS (SELECT label AS c_label, i, SUM(qv) AS s FROM qd GROUP BY label, i),
    cn AS (SELECT label AS c_label, COUNT(*) AS n FROM embeddings GROUP BY label),
    cs2 AS (SELECT c_label, SUM(s*s) AS s2 FROM cent GROUP BY c_label),
    q2 AS (SELECT vec_id, SUM(qv*qv) AS q2 FROM qd GROUP BY vec_id),
    qs AS (
      SELECT vec_id, c_label, SUM(qv * s) AS qs
      FROM qd JOIN cent ON qd.i = cent.i GROUP BY vec_id, c_label
    ),
    scored AS (
      SELECT q2.vec_id, qs.c_label,
             CAST(cn.n*cn.n*q2.q2 - 2*cn.n*qs.qs + cs2.s2 AS DOUBLE) / (cn.n*cn.n) AS d2
      FROM q2 JOIN qs ON q2.vec_id = qs.vec_id
      JOIN cn USING (c_label) JOIN cs2 USING (c_label)
    )
    SELECT vec_id, c_label AS assigned, d2 FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
    doc=(
        "IVF coarse quantizer: assign every vector to its nearest "
        "label-centroid. Centroids are integer sum vectors (never divided), "
        "so squared distance expands to n²·|q|² − 2n·(q·s) + |s|² — exact "
        "BIGINT algebra, one double division per (vec, centroid). The "
        "centroid table broadcasts; at 100 TB the scan side is "
        "embarrassingly parallel (this is the IVF routing step for the "
        "bucketed ANN path)."
    ),
    tags=("llm", "similarity", "ivf"),
)
def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", quantized_col(F.col("embedding")).alias("q")
    )
    dims = e.select("vec_id", "label", F.posexplode(F.col("q")).alias("i", "qv"))
    cent = (
        dims.groupBy(F.col("label").alias("c_label"), "i")
        .agg(F.sum("qv").alias("s"))
        .groupBy("c_label")
        .agg(
            F.sort_array(F.collect_list(F.struct("i", "s"))).alias("pairs"),
            F.sum(F.col("s") * F.col("s")).alias("s2"),
        )
        .select("c_label", F.col("pairs.s").alias("sv"), "s2")
    )
    cn = e.groupBy(F.col("label").alias("c_label")).agg(F.count(F.lit(1)).alias("n"))
    centroids = cent.join(cn, "c_label")
    scored = (
        e.withColumn("q2", dot_col(F.col("q"), F.col("q")))
        .crossJoin(F.broadcast(centroids))
        .withColumn("qs", dot_col(F.col("q"), F.col("sv")))
        .withColumn(
            "d2",
            (F.col("n") * F.col("n") * F.col("q2") - 2 * F.col("n") * F.col("qs") + F.col("s2"))
            .cast("double")
            / (F.col("n") * F.col("n")),
        )
    )
    w = W.partitionBy("vec_id").orderBy("d2", "c_label")
    return (
        scored.select("vec_id", "c_label", "d2")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("c_label").alias("assigned"), "d2")
    )


IVF_NPROBE = 2
IVF_TOPK = 5

# (vec_id, c_label, crn): every vector's centroid ranking, per session.
# Index routing is built OFFLINE in production (docs/SCALE.md §2.2
# materializes exactly this table), so queries that consume it reuse one
# build per corpus, same contract as ann_pq.pq_fit_cached. Deterministic
# pure function of the corpus: hits change nothing observable.
# localCheckpointed; the held reference keeps the blocks alive.
@session_cached
def _ivf_routing_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", quantized_col(F.col("embedding")).alias("q")
    )
    dims = e.select("vec_id", "label", F.posexplode(F.col("q")).alias("i", "qv"))
    cent = (
        dims.groupBy(F.col("label").alias("c_label"), "i")
        .agg(F.sum("qv").alias("s"))
        .groupBy("c_label")
        .agg(
            F.sort_array(F.collect_list(F.struct("i", "s"))).alias("pairs"),
            F.sum(F.col("s") * F.col("s")).alias("s2"),
        )
        .select("c_label", F.col("pairs.s").alias("sv"), "s2")
    )
    cn = e.groupBy(F.col("label").alias("c_label")).agg(F.count(F.lit(1)).alias("n"))
    centroids = cent.join(cn, "c_label")
    scored = (
        e.withColumn("q2", dot_col(F.col("q"), F.col("q")))
        .crossJoin(F.broadcast(centroids))
        .withColumn("qs", dot_col(F.col("q"), F.col("sv")))
        .withColumn(
            "d2",
            (F.col("n") * F.col("n") * F.col("q2") - 2 * F.col("n") * F.col("qs") + F.col("s2"))
            .cast("double")
            / (F.col("n") * F.col("n")),
        )
    )
    cw = W.partitionBy("vec_id").orderBy("d2", "c_label")
    # Both the assignment (full corpus) and the probe set branch off the
    # routing result; without persisting it each branch re-executes the
    # whole centroid pipeline (verified: 0 ReusedExchange in the executed
    # plan). Checkpoint once — the materialized IVF routing table.
    return scored.select(
        "vec_id", "c_label", F.row_number().over(cw).alias("crn")
    ).localCheckpoint()


@register(
    "ann_ivf_search",
    oracle=f"""
    WITH qd AS (
      SELECT vec_id, label, i, {SQL_QUANT.format(i="i")} AS qv
      FROM embeddings, range(1, 65) r(i)
    ),
    cent AS (SELECT label AS c_label, i, SUM(qv) AS s FROM qd GROUP BY label, i),
    cn AS (SELECT label AS c_label, COUNT(*) AS n FROM embeddings GROUP BY label),
    cs2 AS (SELECT c_label, SUM(s*s) AS s2 FROM cent GROUP BY c_label),
    q2 AS (SELECT vec_id, SUM(qv*qv) AS q2 FROM qd GROUP BY vec_id),
    qs AS (
      SELECT vec_id, c_label, SUM(qv * s) AS qs
      FROM qd JOIN cent ON qd.i = cent.i GROUP BY vec_id, c_label
    ),
    scored AS (
      SELECT q2.vec_id, qs.c_label,
             CAST(cn.n*cn.n*q2.q2 - 2*cn.n*qs.qs + cs2.s2 AS DOUBLE) / (cn.n*cn.n) AS d2
      FROM q2 JOIN qs ON q2.vec_id = qs.vec_id
      JOIN cn USING (c_label) JOIN cs2 USING (c_label)
    ),
    ranked AS (
      SELECT vec_id, c_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS crn
      FROM scored
    ),
    assign AS (SELECT vec_id, c_label AS assigned FROM ranked WHERE crn = 1),
    probes AS (
      SELECT vec_id AS q_id, c_label FROM ranked
      WHERE vec_id % {BRUTE_QUERY_STRIDE} = 0
        AND vec_id < {BRUTE_QUERY_STRIDE * BRUTE_QUERY_CAP}
        AND crn <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT p.q_id, a.vec_id FROM probes p
      JOIN assign a ON a.assigned = p.c_label
      WHERE a.vec_id != p.q_id
    ),
    pd AS (
      SELECT c.q_id, c.vec_id, SUM(x.qv * y.qv) AS dot
      FROM cand c
      JOIN qd x ON x.vec_id = c.q_id
      JOIN qd y ON y.vec_id = c.vec_id AND x.i = y.i
      GROUP BY 1, 2
    )
    SELECT q_id, neighbor_id, cosine, rn FROM (
      SELECT pd.q_id, pd.vec_id AS neighbor_id,
             pd.dot / (sqrt(nq.q2) * sqrt(nv.q2)) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY pd.q_id
               ORDER BY pd.dot / (sqrt(nq.q2) * sqrt(nv.q2)) DESC, pd.vec_id) AS rn
      FROM pd
      JOIN q2 nq ON nq.vec_id = pd.q_id
      JOIN q2 nv ON nv.vec_id = pd.vec_id
    ) WHERE rn <= {IVF_TOPK}
    """,
    doc=(
        "IVF search — the complete bucketed-ANN query path: route each "
        "query to its nprobe=2 nearest centroids (exact integer algebra, "
        "as in ann_ivf_assign), then exact cosine top-5 over only the "
        "vectors assigned to the probed lists. At scale the candidate "
        "set is nprobe/n_lists of the corpus instead of all of it — the "
        "equi-join on the assigned list replaces embedding_cosine_topk's "
        "broadcast cross join; recall is bounded by probe coverage "
        "exactly as in FAISS-style IVF-Flat."
    ),
    tags=("llm", "similarity", "ivf", "headline"),
)
def ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _ivf_scored_pairs_cached(spark, sf_dir)
    tw = W.partitionBy("q_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine")
        .withColumn("rn", F.row_number().over(tw))
        .filter(F.col("rn") <= IVF_TOPK)
    )


# The IVF search kernel, a constructed plan cached per session (same
# offline-index rationale as the routing: the search program is prepared
# once per corpus and served many times). Construction compiled three
# dot_col lambdas per call — 0.28 s of driver time in the round-17
# profile. NOT result caching: candidates are re-scored from the
# checkpointed routing + parquet on every action.
@session_cached
def _ivf_scored_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", quantized_col(F.col("embedding")).alias("q")
    )
    ranked = _ivf_routing_cached(spark, sf_dir)
    assign = ranked.filter(F.col("crn") == 1).select(
        "vec_id", F.col("c_label").alias("assigned")
    )
    # Same query set as embedding_cosine_topk (shared stride + cap
    # constants) so ann_ivf_recall compares identical query populations
    # and the demo query set stays O(1) in corpus size.
    probes = ranked.filter(
        (F.col("vec_id") % BRUTE_QUERY_STRIDE == 0)
        & (F.col("vec_id") < BRUTE_QUERY_STRIDE * BRUTE_QUERY_CAP)
        & (F.col("crn") <= IVF_NPROBE)
    ).select(F.col("vec_id").alias("q_id"), "c_label")
    cand = (
        probes.join(assign, probes.c_label == assign.assigned)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    # Norms ride the vector projections (one scan each side) instead of
    # separate n2 scans joined back — 2 fewer FileScans + 2 fewer joins.
    # qv is the BROADCAST side: restrict it to the capped probe query
    # ids (the filter bounds it at BRUTE_QUERY_CAP rows; the limit
    # makes the bound structural) — broadcasting the full embeddings
    # frame here would scale with the corpus.
    qv = (
        e.filter(
            (F.col("vec_id") % BRUTE_QUERY_STRIDE == 0)
            & (F.col("vec_id") < BRUTE_QUERY_STRIDE * BRUTE_QUERY_CAP)
        )
        .limit(BRUTE_QUERY_CAP)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("q").alias("qvec"),
            dot_col(F.col("q"), F.col("q")).alias("nq"),
        )
    )
    vv = e.select(
        "vec_id",
        F.col("q").alias("vvec"),
        dot_col(F.col("q"), F.col("q")).alias("nv"),
    )
    return (
        cand.join(F.broadcast(qv), "q_id")
        .join(vv, "vec_id")
        .withColumn("dot", dot_col(F.col("qvec"), F.col("vvec")))
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / (F.sqrt(F.col("nq").cast("double")) * F.sqrt(F.col("nv").cast("double"))),
        )
    )


CHUNK_W = 64  # tokens per chunk
CHUNK_S = 48  # stride (16-token overlap between neighboring chunks)


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, {SQL_TOKENS} AS w FROM documents
    ),
    starts AS (
      SELECT doc_id, w, UNNEST(range(0, GREATEST(len(w), 1), {CHUNK_S})) AS s
      FROM words
    ),
    chunks AS (
      SELECT doc_id,
             CAST(s // {CHUNK_S} AS BIGINT) AS chunk_idx,
             CAST(s AS BIGINT) AS start_tok,
             array_to_string(w[s + 1 : s + {CHUNK_W}], ' ') AS chunk_text
      FROM starts
    )
    SELECT doc_id, chunk_idx, start_tok,
           CAST(len({SQL_TOKENS.replace("text", "chunk_text")}) AS BIGINT)
             AS n_tokens,
           {SQL_HASH32.format(v="chunk_text")} AS chunk_hash
    FROM chunks
    """,
    doc=(
        "Overlapping token-window chunking (64-token windows, stride 48) "
        "— the preprocessing step that turns documents into "
        "embedding-model inputs for the ANN/RAG side of the pipeline. "
        "Pure per-row array algebra (sequence → slice → join), zero "
        "shuffles at any scale; chunk identity is the md5-prefix hash of "
        "the chunk text, so downstream chunk-level dedup and "
        "chunk↔embedding joins are engine-independent."
    ),
    tags=("llm", "text", "chunking"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    w = tokens_col(F.col("text"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(w) - 1, F.lit(0)), F.lit(CHUNK_S)
    )
    ex = d.select(
        "doc_id",
        w.alias("w"),
        F.explode(starts).alias("s"),
    )
    chunk_text = F.array_join(F.slice(F.col("w"), F.col("s") + 1, CHUNK_W), " ")
    ch = ex.select(
        "doc_id",
        F.expr(f"s div {CHUNK_S}").cast("long").alias("chunk_idx"),
        F.col("s").cast("long").alias("start_tok"),
        chunk_text.alias("chunk_text"),
    )
    return ch.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size(tokens_col(F.col("chunk_text"))).cast("long").alias("n_tokens"),
        hash32(F.col("chunk_text")).alias("chunk_hash"),
    )


#: PII patterns shared verbatim by both engines — kept to syntax valid
#: in BOTH Java regex (Spark) and RE2 (DuckDB): no lookaround, no
#: backreferences. Order matters: emails are redacted before IPs so an
#: address-like local part cannot be double-redacted.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_CARD16 = r"\b\d{16}\b"

#: deterministic synthetic-PII injection, built IDENTICALLY by the
#: Spark plan and the DuckDB oracle: the gate corpus is clean vocab
#: text, so without injection a redaction row would pass while
#: matching nothing. Keys off doc_id only — pure string concat.
_SQL_PII_TEXT = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' card 4111222233334444' ELSE '' END"
)


def _pii_text_col() -> Column:
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" card 4111222233334444")).otherwise(
            F.lit("")
        ),
    )


@register(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, {_SQL_PII_TEXT} AS t FROM documents
    ),
    red AS (
      SELECT doc_id,
             len(regexp_extract_all(t, '{PII_EMAIL}')) AS n_emails,
             len(regexp_extract_all(t, '{PII_IPV4}')) AS n_ips,
             len(regexp_extract_all(t, '{PII_CARD16}')) AS n_cards,
             regexp_replace(regexp_replace(regexp_replace(t,
               '{PII_EMAIL}', '[EMAIL]', 'g'),
               '{PII_IPV4}', '[IP]', 'g'),
               '{PII_CARD16}', '[CARD]', 'g') AS redacted
      FROM aug
    )
    SELECT doc_id,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_ips AS BIGINT) AS n_ips,
           CAST(n_cards AS BIGINT) AS n_cards,
           md5(redacted) AS redacted_md5
    FROM red
    """,
    doc=(
        "PII redaction — the scrub stage every training corpus runs "
        "before anything else: emails, IPv4 addresses, and 16-digit "
        "card numbers replaced by typed placeholders, with per-type "
        "match counts. Patterns are restricted to the Java-regex ∩ RE2 "
        "dialect so both engines execute the SAME expressions; "
        "deterministic synthetic PII is injected identically on both "
        "sides (the vocab corpus is clean, and a redactor verified "
        "against zero matches is not verified). The md5 of the fully "
        "redacted text pins replacement order and boundaries, not just "
        "counts. All JVM-side regexp_replace/regexp_count — no Python "
        "in the hot path; at 100 TB this is a pure map stage, no "
        "shuffle at all."
    ),
    tags=("llm", "text", "privacy"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", _pii_text_col().alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), F.lit(PII_EMAIL), F.lit("[EMAIL]")),
            F.lit(PII_IPV4),
            F.lit("[IP]"),
        ),
        F.lit(PII_CARD16),
        F.lit("[CARD]"),
    )
    return t.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count(F.col("t"), F.lit(PII_CARD16)).cast("long").alias("n_cards"),
        F.md5(F.encode(redacted, "UTF-8")).alias("redacted_md5"),
    )


#: HTML wrapper injected identically by both engines (the vocab corpus
#: is plain text; a stripper verified on tag-free input proves
#: nothing). doc_id%4==0 docs also carry a <script> block that must be
#: removed CONTENT AND ALL, not just de-tagged.
_SQL_HTML_TEXT = (
    "'<html><body class=\"c' || CAST(doc_id % 7 AS VARCHAR) || '\"><p>' || text"
    " || '</p>' || CASE WHEN doc_id % 4 = 0"
    " THEN '<script>var x = 1;</script>' ELSE '' END || '</body></html>'"
)

HTML_SCRIPT_RE = r"<script[^>]*>[^<]*</script>"
HTML_TAG_RE = r"<[^>]+>"


def _html_text_col() -> Column:
    return F.concat(
        F.lit('<html><body class="c'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('"><p>'),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            F.col("doc_id") % 4 == 0, F.lit("<script>var x = 1;</script>")
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )


@register(
    "text_html_strip",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, {_SQL_HTML_TEXT} AS t FROM documents
    ),
    noscript AS (
      SELECT doc_id, t,
             regexp_replace(t, '{HTML_SCRIPT_RE}', '', 'g') AS ns
      FROM aug
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(ns, '{HTML_TAG_RE}')) AS BIGINT) AS n_tags,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS had_script,
           md5(trim(regexp_replace(ns, '{HTML_TAG_RE}', ' ', 'g'))) AS stripped_md5
    FROM noscript
    """,
    doc=(
        "HTML→text extraction — the CommonCrawl-shaped stage in front "
        "of every web-scale corpus: <script> blocks removed content "
        "and all (de-tagging a script would LEAK code into training "
        "text — the classic stripper bug this row exists to catch), "
        "remaining tags replaced by spaces, result trimmed. The "
        "wrapper is injected identically in both engines; patterns sit "
        "in the Java-regex ∩ RE2 dialect; the md5 of the stripped text "
        "pins boundary handling, not just tag counts. Pure JVM regexp "
        "map stage — zero shuffle at any scale."
    ),
    tags=("llm", "text", "curation"),
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", _html_text_col().alias("t"))
    ns = F.regexp_replace(F.col("t"), F.lit(HTML_SCRIPT_RE), F.lit(""))
    return t.select(
        "doc_id",
        F.regexp_count(ns, F.lit(HTML_TAG_RE)).cast("long").alias("n_tags"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("had_script"),
        F.md5(
            F.encode(
                F.trim(F.regexp_replace(ns, F.lit(HTML_TAG_RE), F.lit(" "))),
                "UTF-8",
            )
        ).alias("stripped_md5"),
    )


_SQL_URL_TEXT = (
    "text || ' see https://site' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.example.com/page/' || CAST(doc_id AS VARCHAR)"
    " || CASE WHEN doc_id % 6 = 0"
    " THEN ' and http://tracker.blocked.net/px' ELSE '' END"
)

URL_DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"

#: suffix blocklist — matched against the EXTRACTED domain, never the
#: raw text, so 'blocked.net.example.com' does not false-positive
URL_BLOCKLIST = ("blocked.net",)


def _url_text_col() -> Column:
    return F.concat(
        F.col("text"),
        F.lit(" see https://site"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com/page/"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.lit(" and http://tracker.blocked.net/px"),
        ).otherwise(F.lit("")),
    )


@register(
    "text_url_domains",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, {_SQL_URL_TEXT} AS t FROM documents
    ),
    ex AS (
      SELECT doc_id,
             regexp_extract_all(t, '{URL_DOMAIN_RE}', 1) AS domains
      FROM aug
    )
    SELECT doc_id,
           CAST(len(domains) AS BIGINT) AS n_urls,
           CAST(len(list_filter(domains,
                d -> d = 'blocked.net' OR suffix(d, '.blocked.net')))
             AS BIGINT) AS n_blocked,
           domains[1] AS first_domain
    FROM ex
    """,
    doc=(
        "URL domain extraction + suffix blocklist — the provenance "
        "filter stage of a web corpus: domains pulled from the text by "
        "one regex (group capture, identical pattern both engines), "
        "blocklist matched against the EXTRACTED registrable suffix "
        "(never substring-of-text, which would false-positive "
        "'blocked.net.example.com'). Deterministic URL injection on "
        "both sides; per-doc URL/blocked counts and the first domain "
        "pin extraction order. JVM-side regexp + array HOFs, zero "
        "shuffle."
    ),
    tags=("llm", "text", "curation"),
)
def text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", _url_text_col().alias("t"))
    domains = F.regexp_extract_all(F.col("t"), F.lit(URL_DOMAIN_RE), F.lit(1))
    blocked = F.filter(
        domains,
        lambda x: (x == F.lit("blocked.net"))
        | x.endswith(F.lit(".blocked.net")),
    )
    return t.select(
        "doc_id",
        F.size(domains).cast("long").alias("n_urls"),
        F.size(blocked).cast("long").alias("n_blocked"),
        F.get(domains, 0).alias("first_domain"),
    )


# degree-7 polynomial rolling-hash weights: codepoint at window offset i
# (oldest first) is weighted 31^i — cp[p-7]*31^0 + ... + cp[p]*31^7.
_CDC_WEIGHTS = np.array([31**i for i in range(8)], dtype=np.int64)
_CDC_MASK = 64  # boundary when the window hash is 0 mod 64 → ~64-char chunks


def cdc_chunk_rows(docs: DataFrame) -> DataFrame:
    """Explode ``(doc_id, text)`` rows into ``(doc_id, chunk)`` rows at
    content-defined (Rabin-style) boundaries: position ``p`` (1-based)
    ends a chunk when the degree-7 polynomial hash of codepoints
    ``p-7..p`` is 0 mod 64 and ``8 <= p < length``.

    Arrow-batched ``mapInPandas`` rolling-hash kernel: per document the
    codepoint vector is a TRANSIENT numpy view (``utf-32-le`` decode)
    and the window hash is one strided ``np.correlate`` — nothing
    O(doc-length) is materialized into rows, shuffled, or held beyond
    the current Arrow batch. This replaces the earlier JVM
    higher-order-function formulation, which stored a BIGINT codepoint
    array per row (8 bytes/char through the whole map stage — fine at
    gate scale, memory-hostile on book-length documents). Maximum
    codepoint is 0x10FFFF so the 8-term window sum is < 2.4e17, well
    inside int64."""

    def _batches(it):
        for pdf in it:
            out_ids: list = []
            out_chunks: list[str] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                cp = np.frombuffer(
                    text.encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
                n = cp.size
                if n > 8:
                    # valid windows end at p = 8..n (1-based); p = n is
                    # never a boundary (the final chunk always closes
                    # at end-of-text), hence [:-1]
                    # correlate does NOT reverse its kernel: output[j]
                    # = Σ_i cp[j+i] * w[i], exactly the window at
                    # p = j + 8 with cp[p-7] weighted 31^0 .. cp[p] 31^7
                    h = np.correlate(cp, _CDC_WEIGHTS, mode="valid")[:-1]
                    cuts = (np.nonzero(h % _CDC_MASK == 0)[0] + 8).tolist()
                else:
                    cuts = []
                prev = 0
                for c in cuts:
                    out_ids.append(doc_id)
                    out_chunks.append(text[prev:c])
                    prev = c
                out_ids.append(doc_id)
                out_chunks.append(text[prev:])
            yield pd.DataFrame({"doc_id": out_ids, "chunk": out_chunks})

    return docs.mapInPandas(_batches, "doc_id long, chunk string")


@register(
    "dedup_cdc_chunks",
    oracle="""
    WITH cps AS (
      SELECT doc_id, text, length(text) AS n,
             list_transform(range(1, length(text) + 1),
                            i -> CAST(unicode(text[i]) AS BIGINT)) AS cp
      FROM documents
      WHERE length(text) >= 1
    ), hashed AS (
      SELECT doc_id, text, n,
             list_filter(range(8, n),
               p -> (cp[p-7] + cp[p-6]*31 + cp[p-5]*961 + cp[p-4]*29791 +
                     cp[p-3]*923521 + cp[p-2]*28629151 + cp[p-1]*887503681 +
                     cp[p]*27512614111) % 64 = 0
             ) AS bpos
      FROM cps
    ), bounds AS (
      SELECT doc_id, text, n,
             list_concat([CAST(1 AS BIGINT)],
                         list_transform(bpos, p -> p + 1)) AS starts,
             list_concat(bpos, [CAST(n AS BIGINT)]) AS stops
      FROM hashed
    ), chunks AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(starts) + 1),
                    k -> substr(text, CAST(starts[k] AS INT),
                                CAST(stops[k] - starts[k] + 1 AS INT)))) AS chunk
      FROM bounds
    ), hashes AS (
      SELECT doc_id, chunk, md5(chunk) AS ch FROM chunks
    ), dup AS (
      SELECT ch AS dh FROM hashes GROUP BY ch
      HAVING count(DISTINCT doc_id) > 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(length(chunk)) AS BIGINT) AS total_len,
           CAST(count(DISTINCT ch) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN dh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks
    FROM hashes LEFT JOIN dup ON ch = dh
    GROUP BY doc_id
    """,
    doc=(
        "Content-defined chunking (CDC) dedup: split every document at "
        "positions where a degree-7 polynomial rolling hash of the "
        "trailing 8 characters is 0 mod 64 (Rabin-style boundaries — "
        "STABLE under insertions/deletions, unlike fixed-width "
        "chunking), fingerprint each chunk, and count per document the "
        "chunk instances whose fingerprint recurs in other documents — "
        "SUB-document duplication, the granularity boilerplate and "
        "quoted-passage dedup needs where whole-doc MinHash sees "
        "nothing. Chunking is an Arrow-batched mapInPandas rolling-"
        "hash kernel (one numpy correlate per document; the codepoint "
        "vector is a transient view, never a per-row array column — "
        "safe for book-length documents); the oracle recomputes "
        "identical boundaries with DuckDB list lambdas. At 100 TB: "
        "the map stage is embarrassingly parallel; the one shuffle "
        "groups chunk fingerprints (pre-aggregated per partition), "
        "and the dup-set join stays on the groupBy partitioning."
    ),
    tags=("dedup", "llm", "cdc"),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, "documents", sf_dir)
        .filter(F.length("text") >= 1)
        .select("doc_id", "text")
    )
    chunks = cdc_chunk_rows(d).select(
        "doc_id", "chunk", F.md5(F.encode("chunk", "UTF-8")).alias("ch")
    )
    dup = (
        chunks.groupBy("ch")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select(F.col("ch").alias("dh"))
    )
    return (
        chunks.join(dup, chunks["ch"] == dup["dh"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.length("chunk")).cast("long").alias("total_len"),
            F.countDistinct("ch").cast("long").alias("n_distinct"),
            F.sum(
                F.when(F.col("dh").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_dup_chunks"),
        )
    )
