"""Equivalence pins for the r12 PQ Arrow kernel: encode, ADC and the
IVF-probe restriction must be value-identical to the r11 JVM broadcast
fold forms (subspace L2 folds, HALF_UP rounding, smallest-cell ties,
subspace-ordered ADC sums)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.operators.pq import (
    EMB_DIM,
    PQ_DSUB,
    PQ_M,
    _code,
    _codebook,
    _collect_codebook,
    _pq_rowwise_kernel,
    _sub_slice,
)
from prefect_flow_arc_indexer_spark.plans import all_queries
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("x")
    )


def test_collected_codebook_matches_broadcast_form(emb):
    cb_row = _codebook(emb.select("label", F.col("x").alias("embedding")))
    jvm = [
        (int(c["cell"]), [float(v) for v in c["centroid"]])
        for c in cb_row.collect()[0]["cents"]
    ]
    assert _collect_codebook(
        emb.select("label", F.col("x").alias("embedding"))
    ) == jvm


def test_encode_kernel_matches_jvm_folds(emb):
    cb = _codebook(emb.select("label", F.col("x").alias("embedding")))
    cents_col, x = F.col("cents"), F.col("x")
    jvm_codes = {
        int(r["vec_id"]): [int(r[f"c{s}"]) for s in range(PQ_M)]
        for r in emb.select("vec_id", "x")
        .crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            *[_code(cents_col, x, s).alias(f"c{s}") for s in range(PQ_M)],
        )
        .collect()
    }
    cents = _collect_codebook(emb.select("label", F.col("x").alias("embedding")))
    got = {
        int(r["vec_id"]): [int(c) for c in r["pq_codes"].split(",")]
        for r in emb.select("vec_id", "x")
        .mapInArrow(
            _pq_rowwise_kernel(cents),
            "vec_id bigint, pq_codes string, code_checksum bigint, "
            "mse_ppm double",
        )
        .collect()
    }
    assert got == jvm_codes


def test_pq_queries_share_one_result_shape(spark):
    """q_pq_adc's rows must be exactly the unrestricted superset of
    q_ivfpq_adc's per-query candidates re-ranked (both top-k over the same
    rounded ADC distance), and q_pq_recall's hit counts must be bounded by
    k — structural invariants the oracle also enforces."""
    adc = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in all_queries()["q_pq_adc"].builder(spark, SF_DIR).collect()
    }
    ivf = all_queries()["q_ivfpq_adc"].builder(spark, SF_DIR).collect()
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in adc:  # same pair surfaced by both searches => same dist
            assert adc[key] == r["adc_dist"], key
    rec = all_queries()["q_pq_recall"].builder(spark, SF_DIR).collect()
    assert all(0 <= r["n_hits"] <= r["k_exact"] for r in rec)


def test_ivfpq_empty_codebook_with_queries_is_empty(spark, monkeypatch):
    """An empty codebook over a non-empty query set probes nothing: the
    search returns no rows instead of reaching the probe loop without a
    centroid matrix."""
    import prefect_flow_arc_indexer_spark.operators.pq as pq

    monkeypatch.setattr(pq, "_collect_codebook", lambda e: [])
    assert pq.q_ivfpq_adc(spark, SF_DIR).collect() == []
