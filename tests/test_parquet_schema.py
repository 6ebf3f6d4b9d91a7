"""Zero-job table loads: ``load_table`` takes its schema from the parquet
footer (``sources.parquet.footer_schema``) instead of a Spark inference job.

Every committed table, the pyarrow-written sync source layout and a sweep
of parquet column types must give exactly the schema inference gives; a
Spark-written directory falls back to inference; a load records no job.
"""

from __future__ import annotations

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from prefect_flow_arc_indexer_spark.sources import parquet
from prefect_flow_arc_indexer_spark.sources.parquet import (
    TABLES,
    footer_schema,
    index_documents,
    load_table,
)
from tests.conftest import SF_DIR, SF_DIR_MID
from tests.helpers import signature

SF_DIRS = (
    SF_DIR,
    SF_DIR_MID,
    os.path.join(os.path.dirname(SF_DIR), "sf0.1"),
    os.path.join(os.path.dirname(__file__), "..", "perfbench", "data", "sf0.01"),
)
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
TS = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)


def _inferred_load(monkeypatch, spark, sf_dir, name, **kw):
    """``load_table`` with the footer path switched off: today's schema
    inference, followed by the same events normalization."""
    with monkeypatch.context() as m:
        m.setattr(parquet, "footer_schema", lambda *a: None)
        return load_table(spark, sf_dir, name, **kw)


def _rows(df):
    return signature(df.columns, [tuple(r) for r in df.collect()])


@pytest.mark.parametrize("name", TABLES)
@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=lambda d: d.split("/")[-1])
def test_footer_schema_equals_inference(spark, monkeypatch, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    served = footer_schema(spark, path)
    assert served is not None, f"{path} fell back to inference"
    assert served == spark.read.parquet(path).schema
    assert (
        load_table(spark, sf_dir, name).schema
        == _inferred_load(monkeypatch, spark, sf_dir, name).schema
    )


@pytest.mark.parametrize("name", ("events", "lineitem", "embeddings"))
def test_footer_load_reads_the_same_rows(spark, monkeypatch, name):
    sf_dir = SF_DIRS[0]
    assert _rows(load_table(spark, sf_dir, name)) == _rows(
        _inferred_load(monkeypatch, spark, sf_dir, name)
    )


def _sync_events(tmp_path, unit: str, tz: str | None) -> str:
    """An ``events.parquet`` in the sync source layout, written by pyarrow."""
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 13], pa.int64()),
            "ts": pa.array([TS] * 3, pa.timestamp(unit, tz=tz)),
            "user_id": pa.array([7, 8, 9], pa.int64()),
            "event_type": pa.array(["a", "b", "a"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(['{"k": 1}', "{}", None]),
        }
    )
    d = tmp_path / f"{unit}_{tz}"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "unit,tz", [("us", "UTC"), ("ns", "UTC"), ("ns", None), ("us", None)]
)
def test_sync_layout_events_load_like_inference(
    spark, monkeypatch, tmp_path, unit, tz
):
    sf_dir = _sync_events(tmp_path, unit, tz)
    path = os.path.join(sf_dir, "events.parquet")
    assert footer_schema(spark, path) == spark.read.parquet(path).schema
    got = load_table(spark, sf_dir, "events")
    want = _inferred_load(monkeypatch, spark, sf_dir, "events")
    assert got.schema == want.schema
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert _rows(got) == _rows(want)
    assert _rows(index_documents(spark, sf_dir)) == _rows(
        want.select(
            want.event_type.alias("index"),
            want.event_id.cast("string").alias("id"),
            want.props.alias("document"),
            ((want.event_id % 13) == 0).alias("is_deleted"),
            want.ts.alias("updated_at"),
        )
    )


def test_nanos_without_nanos_as_long_falls_back(spark, tmp_path):
    path = os.path.join(_sync_events(tmp_path, "ns", "UTC"), "events.parquet")
    before = spark.conf.get(NANOS_CONF)
    spark.conf.set(NANOS_CONF, "false")
    try:
        # inference raises on TIMESTAMP(NANOS) here; the footer must not
        # quietly serve a schema Spark would refuse
        assert footer_schema(spark, path) is None
    finally:
        spark.conf.set(NANOS_CONF, before)


def test_spark_written_directory_falls_back(spark, monkeypatch, tmp_path):
    sf_dir = str(tmp_path)
    src = load_table(spark, SF_DIRS[0], "orders")
    src.write.parquet(os.path.join(sf_dir, "orders.parquet"))
    assert footer_schema(spark, os.path.join(sf_dir, "orders.parquet")) is None
    got = load_table(spark, sf_dir, "orders")
    want = _inferred_load(monkeypatch, spark, sf_dir, "orders")
    assert got.schema == want.schema
    assert _rows(got) == _rows(src)


# one column per parquet type family; a footer schema is either None
# (left to inference) or exactly the inferred schema
TYPE_SWEEP = {
    "i8": pa.array([1], pa.int8()),
    "i16": pa.array([1], pa.int16()),
    "i32": pa.array([1], pa.int32()),
    "u32": pa.array([1], pa.uint32()),
    "f32": pa.array([1.5], pa.float32()),
    "b": pa.array([True]),
    "bin": pa.array([b"x"]),
    "fbin": pa.array([b"xy"], pa.binary(2)),
    "d": pa.array([datetime.date(2024, 1, 2)]),
    "dec9": pa.array([decimal.Decimal("1.25")], pa.decimal128(9, 2)),
    "dec30": pa.array([decimal.Decimal("1.25")], pa.decimal128(30, 2)),
    "ts_ms": pa.array([TS], pa.timestamp("ms")),
    "ts_ms_utc": pa.array([TS], pa.timestamp("ms", tz="UTC")),
    "dict": pa.array(["x"]).dictionary_encode(),
    "ls": pa.array(["x"], pa.large_string()),
    "lstr": pa.array([["a", None]], pa.list_(pa.string())),
    "lts": pa.array([[TS]], pa.list_(pa.timestamp("us"))),
    "st": pa.array([{"a": 1}]),
    "mp": pa.array([[("a", 1)]], pa.map_(pa.string(), pa.int64())),
    "nul": pa.array([None], pa.null()),
}


@pytest.mark.parametrize("legacy_lists", [False, True])
@pytest.mark.parametrize("col", sorted(TYPE_SWEEP))
def test_type_sweep_matches_inference(spark, tmp_path, col, legacy_lists):
    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table({col: TYPE_SWEEP[col]}),
        path,
        use_compliant_nested_type=not legacy_lists,
    )
    served = footer_schema(spark, path)
    assert served is None or served == spark.read.parquet(path).schema


@pytest.mark.parametrize(
    "conf",
    [
        "spark.sql.parquet.binaryAsString",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    ],
)
def test_inference_confs_are_followed(spark, tmp_path, conf):
    path = str(tmp_path / "c.parquet")
    cols = ("bin", "fbin", "ts_ms", "ts_ms_utc")
    pq.write_table(pa.table({c: TYPE_SWEEP[c] for c in cols}), path)
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false" if before == "true" else "true")
    try:
        assert footer_schema(spark, path) == spark.read.parquet(path).schema
    finally:
        spark.conf.set(conf, before)


def test_required_columns_match_inference(spark, tmp_path):
    path = str(tmp_path / "req.parquet")
    schema = pa.schema(
        [pa.field("k", pa.int64(), nullable=False), pa.field("v", pa.string())]
    )
    pq.write_table(pa.table({"k": [1], "v": ["x"]}, schema=schema), path)
    assert footer_schema(spark, path) == spark.read.parquet(path).schema


def test_loads_run_no_spark_job(spark):
    sc = spark.sparkContext
    group = "test-zero-job-loads"
    sc.setJobGroup(group, "load_table schemas")
    try:
        for sf_dir in SF_DIRS:
            for name in TABLES:
                load_table(spark, sf_dir, name).schema
                load_table(spark, sf_dir, name, fan_out=True).schema
            index_documents(spark, sf_dir).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
