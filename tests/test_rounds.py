"""The round primitive (``functions/rounds.py``) and the builders that run on
it: placement parity against each other and the DuckDB oracle, job counts,
the k-center kernel against the JVM fold it keeps above the broadcast
threshold, driver-built local relations, and the fan-out decision of
``load_table``."""

from __future__ import annotations

import contextlib
import os
import random
import uuid

import pyarrow as pa
import pytest
from pyspark.sql import Row, functions as F, types as T

from tests.conftest import SF_DIR, SF_DIR_MID
from tests.helpers import assert_matches_oracle

DRIVER, DISTRIBUTED = "driver", "distributed"


@contextlib.contextmanager
def placement(spark, where: str, width: int | None = None):
    """Run under ``where`` placement: Spark's default 10 MB broadcast
    threshold, or -1 so no frame fits. ``width`` sets the shuffle width,
    which the distributed placement fans an under-split frame out to."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": (
            "-1" if where == DISTRIBUTED else str(10 * 1024 * 1024)
        )
    }
    if width is not None:
        confs["spark.sql.shuffle.partitions"] = str(width)
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _jobs(spark, fn):
    """``fn()``'s result and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"rounds-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _bits(rows):
    """Rows with every float as its repr, so -0.0 and NaN compare exactly."""
    return sorted(tuple(repr(v) for v in r) for r in rows)


def _rounds():
    from prefect_flow_arc_indexer_spark.operators.similarity import (
        KMEANS_ITERS,
        PCA_ITERS,
    )

    # k-means: label round, KMEANS_ITERS Lloyd rounds, the census round
    return {"q_kmeans": KMEANS_ITERS + 2, "q_pca_power": PCA_ITERS + 1}


ROUND_BUILDERS = ("q_kmeans", "q_pca_power", "q_coreset_kcenter")


@pytest.mark.parametrize("name", ROUND_BUILDERS)
def test_placements_bit_identical_and_oracle_green(spark, duck, name):
    from prefect_flow_arc_indexer_spark.plans import all_queries

    rq = all_queries()[name]
    got = {}
    for where in (DRIVER, DISTRIBUTED):
        with placement(spark, where):
            df = rq.builder(spark, SF_DIR)
            got[where] = (df.schema, _bits(df.collect()))
            assert_matches_oracle(df, duck, rq.oracle)
    assert got[DRIVER] == got[DISTRIBUTED]
    assert got[DRIVER][1]


@pytest.mark.parametrize("name", ROUND_BUILDERS)
def test_driver_placement_runs_one_job(spark, name):
    from prefect_flow_arc_indexer_spark.plans import all_queries

    with placement(spark, DRIVER):
        rows, jobs = _jobs(
            spark, lambda: all_queries()[name].builder(spark, SF_DIR).collect()
        )
    assert rows
    assert len(jobs) == 1


@pytest.mark.parametrize("name", ("q_kmeans", "q_pca_power"))
def test_distributed_placement_runs_one_shuffle_free_job_per_round(
    spark, name
):
    """Width 1: the single-file table is not fanned out, so every job is a
    round, and one stage per job means no Exchange in a round's plan."""
    from prefect_flow_arc_indexer_spark.plans import all_queries

    with placement(spark, DISTRIBUTED, width=1):
        rows, jobs = _jobs(
            spark, lambda: all_queries()[name].builder(spark, SF_DIR).collect()
        )
    assert rows
    assert len(jobs) == _rounds()[name]
    tracker = spark.sparkContext.statusTracker()
    assert all(len(tracker.getJobInfo(j).stageIds) == 1 for j in jobs)


def test_kcenter_keeps_the_jvm_fold_above_the_threshold(spark, monkeypatch):
    """Above the threshold a Python job per round is slower than the JVM
    fold, so the k-center rounds never reach the distributed placement."""
    from prefect_flow_arc_indexer_spark.operators import curation

    def python_rounds(e, k):
        raise AssertionError("Python k-center rounds above the threshold")

    monkeypatch.setattr(curation, "_kcenter_rounds", python_rounds)
    with placement(spark, DISTRIBUTED):
        df = curation.q_coreset_kcenter(spark, SF_DIR)
    assert df.count() == curation.CORESET_K
    with placement(spark, DRIVER), pytest.raises(AssertionError):
        curation.q_coreset_kcenter(spark, SF_DIR)


def test_distributed_placement_fans_out_to_the_shuffle_width(spark):
    from prefect_flow_arc_indexer_spark.functions.rounds import arrow_rounds

    def kernel(it):
        n = sum(b.num_rows for b in it)
        yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], ["n"])

    frame = spark.range(100).select(F.col("id").alias("v")).coalesce(1)
    for width, tasks in ((1, 1), (7, 7)):
        with placement(spark, DISTRIBUTED, width=width):
            with arrow_rounds(frame) as run:
                part = run(kernel, "n long").column("n").to_pylist()
        assert len(part) == tasks and sum(part) == 100
    with placement(spark, DRIVER):
        with arrow_rounds(frame) as run:
            assert run(kernel, "n long").column("n").to_pylist() == [100]


@pytest.mark.parametrize("where", [DRIVER, DISTRIBUTED])
def test_round_builders_leave_no_persisted_rdd(spark, where):
    from prefect_flow_arc_indexer_spark.plans import all_queries

    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    with placement(spark, where):
        for name in ROUND_BUILDERS:
            assert all_queries()[name].builder(spark, SF_DIR).count() > 0
    assert sc.getPersistentRDDs().size() == before


def test_rounds_release_the_cache_when_a_kernel_raises(spark):
    from prefect_flow_arc_indexer_spark.functions.rounds import arrow_rounds

    def kernel(it):
        for _ in it:
            raise ValueError("kernel failure")
        yield from ()

    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    with placement(spark, DISTRIBUTED):
        with pytest.raises(Exception, match="kernel failure"):
            with arrow_rounds(spark.range(10)) as run:
                run(kernel, "n long")
    assert sc.getPersistentRDDs().size() == before


def test_sum_by_is_exact_and_sorted():
    from prefect_flow_arc_indexer_spark.functions.rounds import sum_by

    big = 2**53 + 1  # not representable as a double
    t = pa.table(
        {
            "k": pa.array([2, 1, 2, 1], pa.int32()),
            "s": pa.array([big, 1, 1, -1], pa.int64()),
        }
    )
    assert sum_by(t, ["k"], ["s"]).to_pylist() == [
        {"s": 0, "k": 1},
        {"s": big + 1, "k": 2},
    ]


@pytest.mark.parametrize(
    "rows,typ",
    [
        ([[1.0, None], [2.0, -0.0], [4.0, 5e15]], pa.float32()),
        ([[0.1, 2.0], [float("nan"), 3.0]], pa.float64()),
        ([[], []], pa.float64()),
        ([], pa.float64()),
    ],
)
def test_list_matrix_reads_like_pylist(rows, typ):
    import numpy as np

    from prefect_flow_arc_indexer_spark.functions.rounds import list_matrix

    col = pa.array([[9.0] * len(rows[0])] + rows if rows else [], pa.list_(typ))
    col = col.slice(1)  # a batch column can start at an offset
    got = list_matrix(col)
    want = np.array(col.to_pylist(), dtype=np.float64)
    assert got.size == want.size
    if got.size:
        assert got.tobytes() == want.tobytes()


@pytest.mark.parametrize("rows", [[[1.0], [1.0, 2.0]], [None, [1.0]]])
def test_list_matrix_rejects_null_and_ragged_rows(rows):
    from prefect_flow_arc_indexer_spark.functions.rounds import list_matrix

    with pytest.raises(ValueError):
        list_matrix(pa.array(rows, pa.list_(pa.float64())))


# --------------------------------------------------------------------------
# k-center kernel vs the JVM fold it runs beside
# --------------------------------------------------------------------------
def _outcome(fn):
    try:
        return fn()
    except Exception as exc:  # both sides must fail the same way
        assert "overflow" in str(exc).lower(), exc
        return "overflow"


def _vectors(rng, case, n, d):
    def draw(value):
        return [[value() for _ in range(d)] for _ in range(n)]

    if case == "gauss":
        return draw(lambda: rng.gauss(0, 1))
    if case == "ties":  # three distinct points, repeated: argmax ties
        base = draw(lambda: float(rng.randint(-2, 2)))[:3]
        return [list(base[i % 3]) for i in range(n)]
    if case == "signed_zero":
        return draw(lambda: rng.choice([0.0, -0.0, 1.0, -1.0]))
    if case == "near_1e15":  # large magnitude, distances still in range
        return draw(lambda: 1e15 + 0.125 * rng.randint(-8, 8))
    if case == "huge":  # squared distances past a bigint: both raise
        return draw(lambda: rng.gauss(0, 1e15))
    if case == "nan":  # an all-NaN distance row keeps +inf: both raise
        vecs = draw(lambda: rng.gauss(0, 1))
        vecs[n // 2][1] = float("nan")
        return vecs
    raise AssertionError(case)


FUZZ_CASES = ["gauss", "ties", "signed_zero", "near_1e15", "huge", "nan"]


@pytest.mark.parametrize("case", FUZZ_CASES + ["empty"])
def test_kcenter_kernel_matches_jvm_fold(spark, case):
    from prefect_flow_arc_indexer_spark.operators.curation import (
        _kcenter_fold_rounds,
        _kcenter_rounds,
    )

    rng = random.Random(f"{case}-{DRIVER}")
    vecs = [] if case == "empty" else _vectors(rng, case, 23, 5)
    ids = rng.sample(range(1, 1000), len(vecs))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("x", T.ArrayType(T.DoubleType())),
        ]
    )
    # more partitions than some rows fill: empty partitions on both paths
    e = spark.createDataFrame(list(zip(ids, vecs)), schema).repartition(9)
    want = _outcome(lambda: _kcenter_fold_rounds(e, 6))
    with placement(spark, DRIVER):
        got = _outcome(lambda: _kcenter_rounds(e, 6))
    assert got == want
    if case in ("huge", "nan"):
        assert got == "overflow"
    elif case == "empty":
        assert got == []
    else:
        assert len(got) == 6


# --------------------------------------------------------------------------
# driver-built local relations
# --------------------------------------------------------------------------
LOCAL_CASES = [
    ([(1, 2, 3)], "cluster int, n_members bigint, centroid_checksum bigint"),
    ([], "rank_pos int, term string, pagerank double"),
    ([("a", 1, None)], "token string, d int, w int"),
    (
        [(1, [Row(cell=2, centroid=[1.0, -0.0])])],
        "label int, cents array<struct<cell:int,centroid:array<double>>>",
    ),
    (
        [Row(k=1, v="x")],
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("v", T.StringType(), True),
            ]
        ),
    ),
]


@pytest.mark.parametrize("rows,schema", LOCAL_CASES)
def test_local_frame_matches_create_dataframe_and_runs_no_job(
    spark, rows, schema
):
    from prefect_flow_arc_indexer_spark.functions.frames import local_frame

    old = spark.createDataFrame(rows, schema)
    new, jobs = _jobs(spark, lambda: local_frame(spark, rows, schema))
    got, more = _jobs(spark, new.collect)
    assert new.schema == old.schema
    assert _bits(got) == _bits(old.collect())
    assert jobs == [] and more == []
    plan = new._jdf.queryExecution().analyzed().getClass().getSimpleName()
    assert plan == "LocalRelation"


# --------------------------------------------------------------------------
# load_table(fan_out=True) decides from the footer
# --------------------------------------------------------------------------
def test_fan_out_decision_reads_the_footer_and_agrees_with_the_scan(spark):
    import types

    import pyarrow.parquet as pq

    from prefect_flow_arc_indexer_spark.sources.parquet import (
        TABLES,
        _splits,
        load_table,
    )

    # a frame with no plan: a local file never consults the scan
    planless = types.SimpleNamespace(sparkSession=spark)
    for sf_dir in (SF_DIR, SF_DIR_MID):
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            groups = pq.read_metadata(path).num_row_groups
            scan = load_table(spark, sf_dir, name).rdd.getNumPartitions()
            assert _splits(planless, path) == min(groups, scan)


def test_fan_out_counts_byte_splits_of_a_many_row_group_file(spark, tmp_path):
    """Eight row groups in a 10 MB file: Spark cuts it into fewer byte
    splits than that (3 at 4 cores), and only those splits read rows."""
    import types

    import numpy as np
    import pyarrow.parquet as pq

    from prefect_flow_arc_indexer_spark.sources.parquet import _splits

    path = str(tmp_path / "groups.parquet")
    n = 8 * 160_000  # incompressible doubles: 10 MB
    values = np.random.default_rng(0).random(n)
    pq.write_table(
        pa.table({"v": values}), path, row_group_size=n // 8,
        compression="none",
    )
    assert pq.read_metadata(path).num_row_groups == 8
    df = spark.read.parquet(path)
    scan = df.rdd.getNumPartitions()
    readers = (
        df.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    splits = _splits(types.SimpleNamespace(sparkSession=spark), path)
    assert scan < 8
    assert splits == scan
    assert readers <= splits


def test_fan_out_falls_back_to_the_scan_without_a_footer(spark, tmp_path):
    from prefect_flow_arc_indexer_spark.sources.parquet import _splits

    spark.range(40).repartition(3).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    assert _splits(df, str(tmp_path / "t")) == df.rdd.getNumPartitions()
