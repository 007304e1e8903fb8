"""Training-data pipeline operators, tier 2: fuzzy-dedup *clustering*
(near-dup pairs → connected components → canonical doc per cluster),
deterministic sampling (stratified / per-group top-k / train-val-test
split), and per-dimension embedding statistics.

These extend the LLM-pipeline surface of ``plans/llm_ops.py`` (beyond the
reference's scope — SURVEY.md §7.8 north-star extensions) and follow the
same exactness discipline: every random-looking choice is a deterministic
md5-prefix hash both engines compute identically, so each query is
oracle-checkable bit-for-bit.

Scale notes (100 TB):

- ``dedup_connected_components`` runs the alternating
  large-star/small-star algorithm (Kiveris et al., "CC in MapReduce and
  Beyond"; ``plans/cc_star.py``) over the near-dup edge set: O(log² n)
  rounds whatever the graph's shape. The edge frame holds only
  LSH-verified pairs — O(duplicates), tiny relative to the corpus — so
  each round is one symmetrize + partial-aggregated min + join, with
  lineage cut per round by ``localCheckpoint``.
- The sampling operators are pure maps (hash, compare, filter): no
  shuffle at any scale, and the sample is reproducible row-by-row no
  matter how the corpus is partitioned — exactly what a training-data
  pipeline needs for auditable train/val/test membership.
- ``embedding_dim_stats`` is a posexplode → partial-aggregate rollup:
  the explode multiplies rows by the (fixed, small) dimension count
  map-side, and the shuffle carries only dim-keyed partial aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tile_processor_spark.plans.cc_star import connected_components_star
from tile_processor_spark.plans.llm_ops import (
    _MINHASH_ORACLE,
    SQL_TOKENS,
    dedup_minhash_pairs,
    hash32,
    quantized_col,
    tokens_col,
)
from tile_processor_spark.plans.registry import register
from tile_processor_spark.sources.tables import load_table

# Deterministic sampling rates (percent kept per language stratum) and
# split fractions. Literal constants shared verbatim by both engines.
STRATA_RATE_EN = 50
STRATA_RATE_OTHER = 30
TOPK_PER_GROUP = 20
SPLIT_TRAIN_PCT = 80  # [0, 80) train, [80, 90) val, [90, 100) test
SPLIT_VAL_PCT = 90


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir)


# Recursive-CTE transitive closure over the exact-Jaccard pair set —
# shared by the clustering query and the cleaned-corpus query.
_CC_ORACLE_CTES = f"""
    WITH RECURSIVE pairs AS (
      SELECT d1, d2 FROM ({_MINHASH_ORACLE})
    ),
    edges AS (
      SELECT d1 AS s, d2 AS t FROM pairs
      UNION ALL
      SELECT d2 AS s, d1 AS t FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.t
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    sizes AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY cluster_id
    )
"""


@register(
    "dedup_connected_components",
    oracle=f"""
    {_CC_ORACLE_CTES}
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           CAST(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END AS INTEGER)
             AS is_canonical
    FROM comp c JOIN sizes s USING (cluster_id)
    """,
    doc=(
        "Fuzzy-dedup clustering: MinHash-LSH near-dup pairs → connected "
        "components (alternating large-star/small-star, plans/cc_star.py) "
        "→ one canonical doc per cluster (min doc_id). The full pipeline a "
        "training corpus dedup actually ships: pairs alone don't dedup — "
        "the keep/drop decision needs the transitive closure. Oracle: "
        "recursive-CTE transitive closure over the exact-Jaccard pairs."
    ),
    tags=("llm", "dedup"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cc_frame(spark, sf_dir)


def _cc_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = dedup_minhash_pairs(spark, sf_dir).select(
        F.col("d1").alias("a"), F.col("d2").alias("b")
    )
    comp = connected_components_star(pairs)
    # Singletons (docs with no near-dup edge) are their own component.
    labels = (
        docs.join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


@register(
    "dedup_keep_canonical",
    oracle=f"""
    {_CC_ORACLE_CTES}
    SELECT d.doc_id, d.lang, d.source, s.cluster_size
    FROM comp c
    JOIN sizes s USING (cluster_id)
    JOIN documents d ON d.doc_id = c.doc_id
    WHERE c.doc_id = c.cluster_id
    """,
    doc=(
        "The cleaned corpus — the dedup pipeline's actual deliverable: "
        "documents surviving fuzzy dedup (one canonical doc per "
        "connected component, singletons included), with the cluster "
        "size each survivor represents. Equi-join of the corpus with "
        "the clustering frame; at 100 TB the labels frame is the small "
        "side (one row per doc but only ids+labels) and the join is "
        "hash-partitioned on doc_id."
    ),
    tags=("llm", "dedup"),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _cc_frame(spark, sf_dir).filter(F.col("is_canonical") == 1)
    return _docs(spark, sf_dir).join(labels, "doc_id").select(
        "doc_id", "lang", "source", "cluster_size"
    )


_SQL_DOC_HASH = "CAST('0x' || substr(md5({v}), 1, 8) AS BIGINT)"


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source,
           {_SQL_DOC_HASH.format(v="lang || '#' || CAST(doc_id AS VARCHAR)")} % 100
             AS sample_bucket
    FROM documents
    WHERE {_SQL_DOC_HASH.format(v="lang || '#' || CAST(doc_id AS VARCHAR)")} % 100
          < CASE WHEN lang = 'en' THEN {STRATA_RATE_EN} ELSE {STRATA_RATE_OTHER} END
    """,
    doc=(
        "Deterministic stratified sampling: keep a per-language fraction "
        "(en 50%, others 30%) chosen by md5-prefix hash of (lang, doc_id). "
        "Pure map — no shuffle, reproducible membership at any partition "
        "count, auditable row-by-row. The sampling idiom a training-data "
        "pipeline needs instead of rand()-based Bernoulli."
    ),
    tags=("llm", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = hash32(
        F.concat_ws("#", F.col("lang"), F.col("doc_id").cast("string"))
    ) % 100
    rate = F.when(F.col("lang") == "en", F.lit(STRATA_RATE_EN)).otherwise(
        F.lit(STRATA_RATE_OTHER)
    )
    return d.filter(bucket < rate).select(
        "doc_id", "lang", "source", bucket.alias("sample_bucket")
    )


@register(
    "sample_per_group_topk",
    oracle=f"""
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_SQL_DOC_HASH.format(v="CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= {TOPK_PER_GROUP}
    """,
    doc=(
        "Deterministic per-group reservoir: k docs per language, chosen by "
        "ranking on the md5-prefix hash of doc_id (a fixed random "
        "permutation both engines agree on). Row-number window per group; "
        "single shuffle on the group key."
    ),
    tags=("llm", "sampling"),
)
def sample_per_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.chunked_windows import banded_topk

    d = _docs(spark, sf_dir)
    # top-k by hash order via cell-count pruning (banded_topk): lang
    # has a handful of values, so the naive per-lang rank window is
    # the low-cardinality funnel class (docs/SCALE.md §sf10); the
    # hash's top 10 bits give 1024 cells bounded by the hash domain at
    # any corpus size, and only cells whose count offset is below k
    # ever reach a row-level window — the corpus is scanned, never
    # shuffled.
    hashed = d.select("lang", "doc_id").withColumn(
        "_h", hash32(F.col("doc_id").cast("string"))
    )
    return banded_topk(
        hashed,
        ["lang"],
        ["_h", "doc_id"],
        F.shiftright(F.col("_h"), 22),
        TOPK_PER_GROUP,
    ).select("lang", "doc_id", F.col("r").cast("long").alias("rk"))


@register(
    "sample_split_assign",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             {_SQL_DOC_HASH.format(v="'split#' || CAST(doc_id AS VARCHAR)")} % 100
               AS hb
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN hb < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN hb < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
    doc=(
        "Deterministic train/val/test assignment (80/10/10) by hash of "
        "doc_id: every engine, at every scale, derives the same membership "
        "without a stored split table. Pure map, no shuffle."
    ),
    tags=("llm", "sampling"),
)
def sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    hb = hash32(F.concat(F.lit("split#"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(hb < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(hb < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", "lang", split.alias("split"))


@register(
    "embedding_dim_stats",
    oracle="""
    WITH q AS (
      SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
             CAST(floor(unnest(embedding) * 1048576.0) AS BIGINT) AS qv
      FROM embeddings
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qv) AS BIGINT) AS sum_q,
           MIN(qv) AS min_q,
           MAX(qv) AS max_q,
           CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS mean_q
    FROM q GROUP BY dim
    """,
    doc=(
        "Per-dimension embedding statistics (count/sum/min/max/mean over "
        "the 2^20-quantized values): the drift/normalization audit a "
        "vector corpus needs before indexing. posexplode multiplies rows "
        "map-side by the fixed dim count; the shuffle carries only "
        "dim-keyed partial aggregates (64 groups)."
    ),
    tags=("llm", "embedding"),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    exploded = e.select(
        F.posexplode(quantized_col(F.col("embedding"))).alias("pos", "qv")
    )
    return (
        exploded.groupBy((F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            F.sum("qv").alias("sum_q"),
            F.min("qv").alias("min_q"),
            F.max("qv").alias("max_q"),
        )
        .withColumn("mean_q", F.col("sum_q").cast("double") / F.col("n"))
    )


CURATE_TOPK = 3

_QUALITY_SQL = """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> length(x) > 0) AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks,
                  x -> x IN ('the', 'a', 'data', 'row', 'table'))) AS BIGINT)
               AS stop_cnt
      FROM t
    ),
    q AS (
      SELECT doc_id,
             (LEAST(n_tokens, 100) / 100.0)
               * (1.0 - CAST(stop_cnt AS DOUBLE) / n_tokens) AS quality
      FROM s
    )
"""


@register(
    "curate_quality_by_cluster",
    oracle=f"""
    {_QUALITY_SQL},
    j AS (
      SELECT e.label, q.doc_id, q.quality
      FROM q JOIN embeddings e ON e.vec_id = q.doc_id
    )
    SELECT label, doc_id, quality, rk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY label ORDER BY quality DESC, doc_id) AS rk
      FROM j
    ) WHERE rk <= {CURATE_TOPK}
    """,
    doc=(
        "Corpus curation: the k highest-quality documents per embedding "
        "cluster - the select-for-training step that combines the quality "
        "scorer with the vector-cluster structure (docs joined to "
        "embeddings on doc_id = vec_id). Per-group top-k window; quality "
        "is the same exact-integer-ratio composite as "
        "text_quality_scores, so both engines rank identically."
    ),
    tags=("llm", "curation", "headline"),
)
def curate_quality_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.llm_ops import text_quality_scores

    q = text_quality_scores(spark, sf_dir).select("doc_id", "quality")
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "label")
    j = q.join(e, q["doc_id"] == e["vec_id"]).select("label", "doc_id", "quality")
    # top-k by quality via cell-count pruning (banded_topk): cluster
    # labels are few, so the naive per-label rank window is the
    # low-cardinality funnel class (docs/SCALE.md §sf10). quality is
    # in [0, 1]; the negated 1/64 bands are a 65-cell monotone
    # coarsening of the DESC order, and only cells whose count offset
    # is below k reach a row-level window. The banded plan scans the
    # quality join TWICE, which dominates at bench scale — so pass the
    # embeddings row count (an upper bound on the inner join: vec_id is
    # the embeddings key AND text_quality_scores is one row per doc_id
    # — that grain is load-bearing for the bound and pinned by
    # tests/test_banded_windows.py::test_curate_topk_bound_contract;
    # read from the parquet footer, no Spark job) and let banded_topk
    # serve the naive window under NAIVE_TOPK_ROWS, the banded plan
    # above it.
    from tile_processor_spark.plans.chunked_windows import banded_topk
    from tile_processor_spark.sources.tables import table_row_count

    emb_rows = table_row_count("embeddings", sf_dir)
    neg = j.withColumn("_negq", -F.col("quality"))
    return banded_topk(
        neg,
        ["label"],
        ["_negq", "doc_id"],
        F.floor(F.col("_negq") * 64).cast("long"),
        CURATE_TOPK,
        input_rows_bound=emb_rows,
    ).select("label", "doc_id", "quality", F.col("r").cast("long").alias("rk"))


_SQL_GRAMS2 = """
      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
"""


@register(
    "text_repetition_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> length(x) > 0) AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, {_SQL_GRAMS2} AS grams
      FROM t WHERE len(toks) >= 2
    ),
    ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    per AS (
      SELECT doc_id, gram, COUNT(*) AS c FROM ex GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
           CAST(MAX(c) AS BIGINT) AS top_gram_count,
           1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) AS rep_ratio,
           CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_gram_frac
    FROM per GROUP BY doc_id
    """,
    doc=(
        "Repetition quality signals (the Gopher/MassiveText filter "
        "family): per-doc word-2-gram totals, distinct count, the most "
        "frequent gram's multiplicity, and the derived repeated-fraction "
        "ratios. Highly repetitive machine-generated text scores high "
        "rep_ratio and is dropped before training. Shape: one explode of "
        "2-grams, partial-aggregated (doc, gram) counts, per-doc rollup "
        "- two shuffles on compound keys, no all-pairs work."
    ),
    tags=("llm", "text", "quality"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    ex = (
        d.select("doc_id", grams.alias("grams"))
        .filter(F.size(F.col("grams")) >= 1)
        .select("doc_id", F.explode("grams").alias("gram"))
    )
    per = ex.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.max("c").alias("top_gram_count"),
        (1.0 - F.count(F.lit(1)).cast("double") / F.sum("c")).alias("rep_ratio"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_gram_frac"),
    )


BENCHMARK_MOD = 37  # doc_id % 37 == 0 plays the held-out benchmark set


@register(
    "decontaminate_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> length(x) > 0) AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM t WHERE len(w) >= 3
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    bench AS (SELECT doc_id, s FROM ex WHERE doc_id % {BENCHMARK_MOD} = 0),
    corpus AS (SELECT doc_id, s FROM ex WHERE doc_id % {BENCHMARK_MOD} <> 0),
    hits AS (
      SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
      FROM corpus c JOIN bench b ON c.s = b.s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_benchmark_docs,
           MIN(bench_id) AS first_bench_id
    FROM hits GROUP BY doc_id
    """,
    doc=(
        "Benchmark decontamination: flag corpus documents sharing any "
        "3-gram shingle with the held-out benchmark set (doc_id % 37 = 0 "
        "plays the benchmark). The standard pre-training hygiene step - "
        "eval contamination is removed by shingle overlap, not exact "
        "match. Shape: shingle explode on both sides, equi-join on the "
        "shingle (benchmark side is small - broadcast), distinct "
        "(corpus, bench) pairs, per-doc rollup. No all-pairs comparison "
        "at any scale."
    ),
    tags=("llm", "dedup", "contamination"),
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.llm_ops import shingles_col, tokens_col

    d = _docs(spark, sf_dir)
    ex = d.select(
        "doc_id", F.explode(shingles_col(tokens_col(F.col("text")))).alias("s")
    )
    bench = ex.filter(F.col("doc_id") % BENCHMARK_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    corpus = ex.filter(F.col("doc_id") % BENCHMARK_MOD != 0)
    # the benchmark side is a modulo SAMPLE of the corpus, so it scales
    # with the data — its join strategy is left to size stats + AQE
    # (auto-broadcast at bench scale; shingle-key shuffle at 100 TB). A
    # real decontamination run substitutes a fixed eval suite here,
    # which stats would then broadcast on their own.
    hits = (
        corpus.join(bench, "s")
        .select("doc_id", "bench_id")
        .distinct()
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_benchmark_docs"),
        F.min("bench_id").alias("first_bench_id"),
    )


PACK_BLOCK_TOKENS = 512  # training sequence length (whitespace tokens)


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> length(x) > 0)) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_start
      FROM t
    )
    SELECT doc_id, lang, n_tokens, tok_start,
           CAST(tok_start // {PACK_BLOCK_TOKENS} AS BIGINT) AS block_start,
           CAST((tok_start + n_tokens - 1) // {PACK_BLOCK_TOKENS} AS BIGINT)
             AS block_end
    FROM c WHERE n_tokens > 0
    """,
    doc=(
        "Sequence packing: concatenate each language's docs (doc_id "
        "order) into one token stream and chunk it into fixed 512-token "
        "training blocks - each doc's stream offset and first/last block "
        "come from a window cumsum, the GPT-style pack-then-chunk data "
        "prep stated declaratively. One shuffle on the partition key; "
        "at 100 TB the partition key is (lang, shard) so no single "
        "window grows unbounded."
    ),
    tags=("llm", "packing"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    from tile_processor_spark.plans.chunked_windows import banded_running_sum

    t = d.select("doc_id", "lang", F.size(toks).cast("long").alias("n_tokens"))
    # per-lang running token offsets via the banded prefix sum: lang
    # has a handful of values, so the naive per-lang running-sum
    # window is the low-cardinality funnel class (docs/SCALE.md
    # §sf10); doc_id is numeric, so id-div cells are a monotone
    # coarsening with ~8k rows per (lang, cell).
    c = banded_running_sum(
        t,
        ["lang"],
        ["doc_id"],
        (F.col("doc_id") / 8192).cast("long"),
        "n_tokens",
        "_cum",
    ).withColumn("tok_start", F.col("_cum") - F.col("n_tokens"))
    return c.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "lang",
        "n_tokens",
        "tok_start",
        (F.col("tok_start") / PACK_BLOCK_TOKENS).cast("long").alias("block_start"),
        ((F.col("tok_start") + F.col("n_tokens") - 1) / PACK_BLOCK_TOKENS)
        .cast("long")
        .alias("block_end"),
    )


TOP_TERMS_K = 3


@register(
    "text_top_terms",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> length(x) > 0)) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM t GROUP BY doc_id, term),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM t GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tf, df, score, rk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM scored
    ) WHERE rk <= {TOP_TERMS_K}
    """,
    doc=(
        "Keyword extraction: top-k terms per doc by tf x N/df - the "
        "tf-idf ranking with a rational idf (no log, so both engines "
        "compute the identical double and rank identically; log idf "
        "orders the same way since x -> ln x is monotone). Shape: tf "
        "and df each aggregate their own token explode (re-scanning "
        "beats materializing the exploded stream, which is larger than "
        "the corpus); the term-keyed df side broadcasts back; one "
        "window per doc for the top-k."
    ),
    tags=("llm", "text"),
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    t = d.select("doc_id", F.explode(toks).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = t.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = d.count()  # dimension scalar; one tiny job
    # df is the per-TERM vocabulary table — it GROWS with the corpus
    # (Heaps' law), so its join strategy is left to size stats + AQE
    # (auto-broadcast at bench scale, shuffle join at 100 TB); tf and
    # df share the `term` key, so the shuffle co-locates them.
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        (F.col("tf").cast("double") * F.lit(n_docs) / F.col("df")).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_TERMS_K)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    )


@register(
    "embedding_normalize",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, label, qv,
             CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS norm2
      FROM q
    )
    SELECT vec_id, label, norm2,
           CAST(len(qv) AS BIGINT) AS dim,
           CAST(qv[1] AS DOUBLE) / sqrt(CAST(norm2 AS DOUBLE)) AS u_first,
           CAST(qv[len(qv)] AS DOUBLE) / sqrt(CAST(norm2 AS DOUBLE)) AS u_last
    FROM n WHERE norm2 > 0
    """,
    doc=(
        "Unit-normalization of the embedding column: the squared norm is "
        "an exact BIGINT sum over quantized components, so the one "
        "sqrt + division per component produces bit-identical doubles "
        "in both engines regardless of summation order. Pure map (zero "
        "shuffles) - the projection every cosine-based index wants "
        "applied once at ingest rather than per query. The gate pins "
        "scalars (norm, dim, first/last unit components) because the "
        "compare harness cannot sort rows on array columns."
    ),
    tags=("llm", "embedding"),
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    qv = quantized_col(F.col("embedding"))
    norm2 = F.aggregate(
        F.transform(qv, lambda v: v * v), F.lit(0).cast("long"), lambda a, v: a + v
    )
    n = e.select("vec_id", "label", qv.alias("qv"), norm2.alias("norm2"))
    rt = F.sqrt(F.col("norm2").cast("double"))
    return n.filter(F.col("norm2") > 0).select(
        "vec_id",
        "label",
        "norm2",
        F.size("qv").cast("long").alias("dim"),
        (F.get("qv", 0).cast("double") / rt).alias("u_first"),
        (F.get("qv", F.size("qv") - 1).cast("double") / rt).alias("u_last"),
    )


N_SHARDS = 64  # training shards; real runs size this to loader parallelism


@register(
    "corpus_shard_assign",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             {_SQL_DOC_HASH.format(v="'shard#' || CAST(doc_id AS VARCHAR)")}
               % {N_SHARDS} AS shard,
             {_SQL_DOC_HASH.format(v="'pos#' || CAST(doc_id AS VARCHAR)")}
               AS pos_key
      FROM documents
    )
    SELECT doc_id, shard, pos_key,
           CAST(row_number() OVER (
             PARTITION BY shard ORDER BY pos_key, doc_id
           ) AS BIGINT) AS pos
    FROM h
    """,
    doc=(
        "Training-shard layout: every doc gets a deterministic shard id "
        "and a within-shard position from independent md5-prefix hashes "
        "of doc_id — the 'global shuffle' a training loader needs, "
        "reproducible row-by-row with no stored permutation table. "
        "N_SHARDS is FIXED, so docs-per-shard scales with the corpus: "
        "positions come from hash-banded global row indexes "
        "(banded_row_index — the per-(shard, hash-cell) grain spreads "
        "the sort), never a per-shard rank window. At 100 TB shards "
        "are written with partitionBy(shard) sortWithinPartitions(pos) "
        "so the loader streams each shard in order."
    ),
    tags=("llm", "sampling", "layout"),
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.chunked_windows import banded_row_index

    d = _docs(spark, sf_dir)
    shard = hash32(F.concat(F.lit("shard#"), F.col("doc_id").cast("string"))) % N_SHARDS
    pos_key = hash32(F.concat(F.lit("pos#"), F.col("doc_id").cast("string")))
    return banded_row_index(
        d.select("doc_id", shard.alias("shard"), pos_key.alias("pos_key")),
        ["shard"],
        ["pos_key", "doc_id"],
        F.shiftright(F.col("pos_key"), 22),
    ).select("doc_id", "shard", "pos_key", F.col("r").cast("long").alias("pos"))


@register(
    "text_doc_frequency_score",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, {SQL_TOKENS} AS w FROM documents
    ),
    toks AS (SELECT DISTINCT doc_id, unnest(w) AS word FROM words),
    df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY word),
    per AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
             CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rare_words,
             CAST(SUM(df) AS BIGINT) AS sum_df,
             CAST(MAX(df) AS BIGINT) AS max_df
      FROM toks t JOIN df USING (word) GROUP BY t.doc_id
    )
    SELECT doc_id, n_distinct_words, n_rare_words, max_df,
           CAST(sum_df AS DOUBLE) / n_distinct_words AS mean_df
    FROM per
    """,
    doc=(
        "Corpus-informed quality signal (CCNet-style, with the corpus as "
        "its own language model): per doc, the document-frequency profile "
        "of its distinct words — rare-word count (df = 1), max df, and "
        "mean df as one exact-integer division. Unlike text_quality_scores "
        "(per-doc heuristics) this is the two-pass shape: a vocabulary "
        "aggregate over the whole corpus joined back to every doc. At "
        "100 TB the df table is vocabulary-sized (Zipf: ≪ corpus); "
        "broadcast its head + shuffle-join the tail, or pre-bucket both "
        "sides by word. Integer counts end-to-end; the single division "
        "is the only double."
    ),
    tags=("llm", "text", "quality"),
)
def text_doc_frequency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("word")
    )
    df_table = toks.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    per = (
        toks.join(df_table, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_rare_words"),
            F.sum("df").alias("sum_df"),
            F.max("df").alias("max_df"),
        )
    )
    return per.select(
        "doc_id",
        "n_distinct_words",
        "n_rare_words",
        "max_df",
        (F.col("sum_df").cast("double") / F.col("n_distinct_words")).alias("mean_df"),
    )


@register(
    "dedup_connected_components_star",
    oracle=f"""
    {_CC_ORACLE_CTES}
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           CAST(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END AS INTEGER)
             AS is_canonical
    FROM comp c JOIN sizes s USING (cluster_id)
    """,
    doc=(
        "The fuzzy-dedup clustering of dedup_connected_components under "
        "the name of its algorithm, alternating large-star/small-star "
        "(Kiveris et al., SoCC'14 — plans/cc_star.py): O(log² n) rounds "
        "regardless of graph shape. Same plan and same oracle "
        "(components are unique): the recursive-CTE transitive closure."
    ),
    tags=("llm", "dedup", "graph"),
)
def dedup_connected_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cc_frame(spark, sf_dir)


@register(
    "sample_temperature_mixture",
    oracle=f"""
    WITH cs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY source
    ),
    ws AS (
      SELECT source, c,
             CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS w
      FROM cs
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(SUM(w) AS BIGINT) AS sw FROM ws
    ),
    thr AS (
      SELECT source,
             CAST(floor(
               CAST((t // 2) * w AS DOUBLE) / CAST(sw * c AS DOUBLE) * 1000000
             ) AS BIGINT) AS thr
      FROM ws, tot
    )
    SELECT d.doc_id, d.lang, d.source,
           {_SQL_DOC_HASH.format(v="'mix#' || CAST(d.doc_id AS VARCHAR)")} % 1000000
             AS hb
    FROM documents d JOIN thr USING (source)
    WHERE {_SQL_DOC_HASH.format(v="'mix#' || CAST(d.doc_id AS VARCHAR)")} % 1000000
          < thr.thr
    """,
    doc=(
        "Temperature-based source mixing (alpha = 0.5): per-source "
        "acceptance rates proportional to count^alpha, targeting half "
        "the corpus — the standard pretraining mixture reweighting that "
        "upsamples small sources relative to their raw share. Exactness: "
        "weights are integer floor-sqrt, the only double op is one "
        "division inside a floor, and membership is the deterministic "
        "md5-prefix hash — reproducible row-by-row at any partitioning. "
        "Scale: the rate table is O(#sources) and broadcast; the corpus "
        "pass is a pure map (no shuffle)."
    ),
    tags=("llm", "sampling"),
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    cs = d.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    ws = cs.withColumn(
        "w", F.floor(F.sqrt(F.col("c").cast("double"))).cast("long")
    )
    tot = ws.agg(
        F.sum("c").cast("long").alias("t"), F.sum("w").cast("long").alias("sw")
    )
    thr = (
        ws.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.floor(
                (F.expr("t div 2") * F.col("w")).cast("double")
                / (F.col("sw") * F.col("c")).cast("double")
                * 1000000
            )
            .cast("long")
            .alias("thr"),
        )
    )
    hb = hash32(F.concat(F.lit("mix#"), F.col("doc_id").cast("string"))) % 1000000
    return (
        d.join(F.broadcast(thr), "source")
        .filter(hb < F.col("thr"))
        .select("doc_id", "lang", "source", hb.alias("hb"))
    )


CURATION_MIN_QUALITY = 0.2


def _curation_oracle() -> str:
    from tile_processor_spark.plans.registry import REGISTRY

    keep = REGISTRY["dedup_keep_canonical"].oracle
    quality = REGISTRY["text_quality_scores"].oracle
    shard_h = _SQL_DOC_HASH.format(v="'shard#' || CAST(k.doc_id AS VARCHAR)")
    pos_h = _SQL_DOC_HASH.format(v="'pos#' || CAST(k.doc_id AS VARCHAR)")
    split_h = _SQL_DOC_HASH.format(v="'split#' || CAST(k.doc_id AS VARCHAR)")
    return f"""
    WITH keep AS (SELECT * FROM ({keep})),
    q AS (SELECT * FROM ({quality}))
    SELECT k.doc_id, k.lang, k.source, k.cluster_size, q.quality,
           CASE WHEN {split_h} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN {split_h} % 100 < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           {shard_h} % {N_SHARDS} AS shard,
           {pos_h} AS pos_key
    FROM keep k JOIN q ON k.doc_id = q.doc_id
    WHERE q.quality >= {CURATION_MIN_QUALITY}
    """


@register(
    "corpus_curation_manifest",
    oracle=_curation_oracle(),
    doc=(
        "The full curation pipeline as ONE composed DataFrame — the "
        "manifest a training run actually consumes: fuzzy dedup "
        "(MinHash-LSH → connected components → canonical doc per "
        "cluster), quality filter (composite score ≥ 0.2), deterministic "
        "train/val/test split, and training-shard layout keys, in a "
        "single lazy plan Catalyst optimizes end-to-end. The oracle is "
        "the same composition of the member queries' oracle SQL — "
        "operators compose, and so do their proofs. Scale: every stage "
        "is the registered operator's plan; nothing materializes "
        "between stages."
    ),
    tags=("llm", "pipeline", "manifest"),
)
def corpus_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.llm_ops import text_quality_scores

    keep = dedup_keep_canonical(spark, sf_dir)
    quality = text_quality_scores(spark, sf_dir).select("doc_id", "quality")
    split_hb = hash32(F.concat(F.lit("split#"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(split_hb < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(split_hb < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    shard = hash32(F.concat(F.lit("shard#"), F.col("doc_id").cast("string"))) % N_SHARDS
    pos_key = hash32(F.concat(F.lit("pos#"), F.col("doc_id").cast("string")))
    return (
        keep.join(quality, "doc_id")
        .filter(F.col("quality") >= CURATION_MIN_QUALITY)
        .select(
            "doc_id",
            "lang",
            "source",
            "cluster_size",
            "quality",
            split.alias("split"),
            shard.alias("shard"),
            pos_key.alias("pos_key"),
        )
    )


WRS_K = 64


@register(
    "sample_weighted_priority",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, lang, n_chars,
             CAST({_SQL_DOC_HASH.format(v="'wrs#' || CAST(doc_id AS VARCHAR)")}
                  AS DOUBLE) / n_chars AS priority
      FROM documents
    )
    SELECT doc_id, lang, n_chars, priority FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS rn FROM pri
    ) WHERE rn <= {WRS_K}
    """,
    doc=(
        "Weighted priority sampling (Efraimidis–Spirakis shape with the "
        "engine's fixed md5 hash in place of the RNG): each doc draws "
        "priority = hash/weight (weight = n_chars; one double division), "
        "the global k smallest priorities win — longer docs "
        "proportionally more likely, selection fully reproducible and "
        "auditable row-by-row. Top-k executes as TakeOrderedAndProject "
        "(per-partition partial top-k, no global sort), so the only "
        "cross-network traffic is k rows per partition at any corpus "
        "size — the sampling idiom for weight-biased corpus selection."
    ),
    tags=("llm", "sampling"),
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    pri = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (
            hash32(F.concat(F.lit("wrs#"), F.col("doc_id").cast("string"))).cast(
                "double"
            )
            / F.col("n_chars")
        ).alias("priority"),
    )
    return pri.orderBy("priority", "doc_id").limit(WRS_K)
