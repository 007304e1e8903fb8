"""PQ invariants beyond the oracle gate: code-book shape, ADC plan
shape (codebook and distance table broadcast, no shuffle of the corpus
against the query side), and recall sanity."""

from __future__ import annotations

import pytest

from tile_processor_spark.plans.ann_pq import (
    ADC_TOPK,
    M_SUB,
    PQ_K,
    ann_pq_adc_recall,
    ann_pq_codes,
    pq_fit,
)
from tile_processor_spark.plans.llm_ops import quantized_col
from tile_processor_spark.sources.tables import load_table

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_pq_codes_cover_every_vector_and_subspace(spark):
    codes = ann_pq_codes(spark, SF)
    n_vec = load_table(spark, "embeddings", SF).count()
    per_vec = codes.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_vec] == [M_SUB]
    assert codes.count() == n_vec * M_SUB
    # codes come from the seeded id space and there are at most PQ_K per sub
    widths = codes.groupBy("sub").agg(F.countDistinct("code").alias("w")).collect()
    assert all(1 <= r["w"] <= PQ_K for r in widths)


def test_pq_codebook_state_is_exact_integer(spark):
    e = load_table(spark, "embeddings", SF).select(
        "vec_id", quantized_col(F.col("embedding")).alias("q")
    )
    _, codebook = pq_fit(e)
    rows = codebook.collect()
    assert rows, "empty codebook"
    for r in rows:
        # integer sums and counts — never a divided mean
        assert isinstance(r["n"], int) and r["n"] >= 1
        assert all(isinstance(v, int) for v in r["sv"])


def test_pq_fit_rejects_a_codebook_with_an_empty_cluster(spark):
    # vec_ids 0 and 1 seed clusters 0 and 1 with identical vectors; ties
    # go to the smallest c_id, so cluster 1 empties in every subspace and
    # every later entry of the dense ADC table would shift
    rows = [(0, [0] * 64), (1, [0] * 64)] + [(i, [10 * i] * 64) for i in range(2, 12)]
    e = spark.createDataFrame(rows, "vec_id long, q array<bigint>")
    with pytest.raises(ValueError, match=f"full {M_SUB}x{PQ_K}"):
        pq_fit(e)


def test_adc_plan_broadcasts_small_sides(spark):
    df = ann_pq_adc_recall(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    rows = df.collect()
    assert rows, "no queries scored"
    assert all(0.0 <= r[f"recall_at{ADC_TOPK}"] <= 1.0 for r in rows)


def test_pq_final_assignment_single_exchange(spark):
    # The slice-based subspace split is map-only and the argmin is a
    # partial-aggregable min(struct(...)) groupBy: the final code
    # assignment must cost exactly ONE exchange (the groupBy's), not a
    # window sort-shuffle per candidate row. Regression pin for the
    # optimized plan shape.
    from tile_processor_spark.sources.bucketing import count_exchanges

    codes = ann_pq_codes(spark, SF)
    assert count_exchanges(codes) <= 1
