"""Equivalence pins for the r12 Arrow Lloyd/power-iteration kernels: the
mapInArrow partial-sum producers must be value-identical to the r11 JVM
expression forms (argmax over rounded cosine with smallest-cell ties,
HALF_UP quantized integer component sums, centered-dot power step)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.operators.similarity import (
    EMB_DIM,
    PCA_QSTEP,
    QUANT,
    _argmax_cell,
    _lloyd_partials_kernel,
    _pca_step_kernel,
    _with_emb_norm,
)
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "label", "embedding"
    )


def _jvm_comp(assigned):
    """The r11 comp_of aggregation (kept as the equivalence reference)."""
    emb_d = F.col("embedding").cast("array<double>")
    return (
        assigned.select(
            F.col("label").alias("cell"),
            F.posexplode(emb_d).alias("pos", "x"),
        )
        .groupBy("cell", "pos")
        .agg(
            F.sum(F.round(F.col("x") * QUANT).cast("bigint")).alias("s"),
            F.count("*").alias("n"),
        )
    )


def _kernel_comp(emb, cents):
    return (
        emb.select("label", "embedding")
        .mapInArrow(
            _lloyd_partials_kernel(cents), "cell int, pos int, s long, n long"
        )
        .groupBy("cell", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


def _norm_rows(df):
    return sorted((int(r[0]), int(r[1]), int(r[2]), int(r[3])) for r in df.collect())


def test_label_round_partials_match_jvm(emb):
    assert _norm_rows(_kernel_comp(emb, None)) == _norm_rows(_jvm_comp(emb))


def test_assignment_round_matches_jvm_argmax(spark, emb):
    # centroids from the label round, via the same double(s)/n arithmetic
    rows = _kernel_comp(emb, None).collect()
    sums, cnt = {}, {}
    for r in rows:
        sums.setdefault(int(r["cell"]), {})[int(r["pos"])] = int(r["s"])
        cnt[int(r["cell"])] = int(r["n"])
    cents = [
        (c, [float(sums[c][p]) / cnt[c] for p in range(EMB_DIM)])
        for c in sorted(sums)
    ]
    # JVM reference: broadcast argmax fold (the r11 _assign_cells shape)
    crow = spark.createDataFrame(
        [(cents,)], "cents array<struct<cell:int,centroid:array<double>>>"
    )
    jvm_assigned = _with_emb_norm(emb).crossJoin(F.broadcast(crow)).select(
        "vec_id",
        _argmax_cell(F.col("cents")).cast("int").alias("label"),
        "embedding",
    )
    assert _norm_rows(_kernel_comp(emb, cents)) == _norm_rows(
        _jvm_comp(jvm_assigned)
    )


def test_pca_step_matches_jvm_fold(spark, emb):
    e = emb.select(F.col("embedding").cast("array<double>").alias("x"))
    mean_rows = (
        e.select(F.posexplode("x").alias("pos", "y"))
        .groupBy("pos")
        .agg(
            F.sum(F.round(F.col("y") * 1_000_000.0).cast("long")).alias("s"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    n = int(mean_rows[0]["n"])
    mean = [0.0] * EMB_DIM
    for r in mean_rows:
        mean[r["pos"]] = float(r["s"]) / 1_000_000.0 / n
    v = [1.0 if i == 0 else 0.0 for i in range(EMB_DIM)]
    # JVM reference: the r11 _round_step fold
    m_lit = F.array(*[F.lit(x) for x in mean])
    v_lit = F.array(*[F.lit(x) for x in v])
    centered = F.zip_with(F.col("x"), m_lit, lambda a, b: a - b)
    with_c = e.select(centered.alias("c"))
    dot = F.aggregate(
        F.zip_with(F.col("c"), v_lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )
    scaled = F.transform(
        F.col("c"), lambda ci: F.round(ci * dot * F.lit(PCA_QSTEP)).cast("long")
    )
    want = sorted(
        (int(r["pos"]), int(r["sq"]))
        for r in with_c.select(F.posexplode(scaled).alias("pos", "y"))
        .groupBy("pos")
        .agg(F.sum("y").alias("sq"))
        .collect()
    )
    got = sorted(
        (int(r["pos"]), int(r["sq"]))
        for r in e.mapInArrow(_pca_step_kernel(v, mean), "pos int, sq long")
        .groupBy("pos")
        .agg(F.sum("sq").alias("sq"))
        .collect()
    )
    assert got == want
