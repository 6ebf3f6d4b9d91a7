"""``scripts/selfcheck.py``'s DuckDB memory limit beside the Spark driver."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

GIB = 1 << 30


@pytest.fixture(scope="module")
def selfcheck():
    path = Path(__file__).resolve().parent.parent / "scripts" / "selfcheck.py"
    spec = importlib.util.spec_from_file_location("selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("heap", ["8g", "8G", "8gb", "8192", "8192m"])
def test_heap_parses_like_spark_driver_memory(selfcheck, heap):
    # 20 GiB - 8 GiB heap - 2 GiB headroom, below DuckDB's 16 GiB default
    assert selfcheck.duckdb_memory_limit(20 * GIB, heap) == "10240MB"


@pytest.mark.parametrize("heap", ["1.5g", "eight", "8x", ""])
def test_unparseable_heap_keeps_duckdbs_default(selfcheck, heap):
    assert selfcheck.duckdb_memory_limit(16 * GIB, heap) is None


def test_default_stands_where_it_fits_beside_the_heap(selfcheck):
    # 80% of 64 GiB fits beside an 8 GiB heap and the headroom
    assert selfcheck.duckdb_memory_limit(64 * GIB, "8g") is None


def test_cap_never_goes_below_the_oracle_floor(selfcheck):
    # 12 GiB with an 8 GiB heap leaves 2 GiB: the floor holds instead
    limit = selfcheck.duckdb_memory_limit(12 * GIB, "8g")
    assert limit == f"{selfcheck._ORACLE_FLOOR >> 20}MB"
    # where the floor is above DuckDB's own default, the default stands
    assert selfcheck.duckdb_memory_limit(7 * GIB, "4g") is None
