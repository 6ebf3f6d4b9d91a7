"""Tests of the benchmark's own parts: the Elasticsearch stub against the
request sequences ``pipeline.es_sink`` sends, the output checkers (each must
fail on a result with one document dropped or one value altered), and the
span arithmetic. No Spark session is started.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import checks  # noqa: E402
from esstub import EsStub, digest  # noqa: E402
from layers import op_totals  # noqa: E402
from spans import parse_sql_metric, self_times  # noqa: E402

SF_DIR = os.path.join(BENCH, "data", "sf0.01")


# -- stub -------------------------------------------------------------------
@pytest.fixture()
def stub():
    s = EsStub()
    url = s.start()
    yield s, url
    s.stop()


def _bulk(url: str, lines: list[dict | str]) -> dict:
    import urllib.request

    body = "".join(
        (json.dumps(x) if isinstance(x, dict) else x) + "\n" for x in lines
    ).encode()
    req = urllib.request.Request(
        f"{url}/_bulk", data=body, headers={"Content-Type": "application/x-ndjson"}
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def test_stub_swap_alias_and_count_give_the_alias_es_would_hold(stub):
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        count_index,
        get_alias_indexes,
        swap_alias,
    )

    s, url = stub
    cfg = EsSinkConfig(nodes=url)
    assert get_alias_indexes(cfg, "docs") == []  # 404 while absent
    _bulk(url, [{"index": {"_index": "docs_g1", "_id": i}} if n % 2 == 0 else f'{{"v":{i}}}'
                for i in ("a", "b", "c") for n in range(2)])
    assert swap_alias(cfg, "docs", "docs_g1") == []
    assert count_index(cfg, "docs") == 3
    _bulk(url, [{"index": {"_index": "docs_g2", "_id": "a"}}, '{"v":"new"}'])
    assert swap_alias(cfg, "docs", "docs_g2") == ["docs_g1"]
    assert "docs_g1" not in s.indexes  # the old generation is deleted
    assert get_alias_indexes(cfg, "docs") == ["docs_g2"]
    assert s.contents("docs") == {"a": digest(b'{"v":"new"}')}
    assert s.settings["docs_g2"] == {"refresh_interval": "30s", "number_of_replicas": 1}
    assert count_index(cfg, "docs") == 1


def test_stub_writes_through_an_alias_and_deletes_like_es(stub):
    s, url = stub
    _bulk(url, [{"index": {"_index": "g1", "_id": "x"}}, "{}"])
    s.handle("POST", "/_aliases", json.dumps(
        {"actions": [{"add": {"index": "g1", "alias": "al"}}]}).encode())
    res = _bulk(url, [{"index": {"_index": "al", "_id": "y"}}, '{"k":1}',
                      {"delete": {"_index": "al", "_id": "x"}},
                      {"delete": {"_index": "al", "_id": "missing"}}])
    assert res["errors"] is False
    assert [list(i.values())[0]["result"] for i in res["items"]] == [
        "created", "deleted", "not_found"]
    assert s.contents("al") == {"y": digest(b'{"k":1}')}
    res = _bulk(url, [{"delete": {"_index": "nope", "_id": "x"}}])
    assert res["errors"] is True
    c = s.counters()
    assert (c["bulk_requests"], c["bulk_index_items"], c["bulk_delete_items"]) == (3, 2, 3)


# -- query checks -----------------------------------------------------------
@pytest.fixture(scope="module")
def checker(tmp_path_factory):
    from prefect_flow_arc_indexer_spark.plans.registry import oracle_map
    from prefect_flow_arc_indexer_spark.sources.parquet import TABLES

    return checks.QueryChecker(
        SF_DIR, TABLES, oracle_map(), 4, str(tmp_path_factory.mktemp("cache"))
    )


def _altered(rows: list[tuple], col: int) -> list[tuple]:
    r = list(rows[0])
    r[col] = r[col] * 2 + 1 if isinstance(r[col], (int, float)) else f"{r[col]}x"
    return [tuple(r)] + rows[1:]


def test_oracle_check_fails_on_dropped_or_altered_rows(checker):
    res = checker.con.execute(checker.oracles["q_index_order"])
    cols, rows = [d[0] for d in res.description], res.fetchall()
    assert checker.check("q_index_order", cols, rows) == []
    assert checker.check("q_index_order", cols, rows[1:])
    assert checker.check("q_index_order", cols, _altered(rows, 1))


def _exact(con, name: str) -> tuple[list[str], list[tuple]]:
    """A result each property accepts, built from exact DuckDB values."""
    sql = {
        "q_approx_distinct": "SELECT o_orderstatus, count(DISTINCT o_custkey) AS "
        "approx_customers, count(DISTINCT o_custkey) AS exact_customers FROM orders GROUP BY 1",
        "q_hll_merge": "SELECT o_orderpriority AS segment, count(DISTINCT o_custkey) AS "
        "approx_customers, count(DISTINCT o_custkey) AS exact_customers FROM orders GROUP BY 1 "
        "UNION ALL SELECT 'ALL', count(DISTINCT o_custkey), NULL FROM orders",
        "q_approx_percentiles": "SELECT l_returnflag, "
        "quantile_disc(l_extendedprice, 0.25)::DOUBLE AS approx_p25, "
        "quantile_disc(l_extendedprice, 0.5)::DOUBLE AS approx_p50, "
        "quantile_disc(l_extendedprice, 0.75)::DOUBLE AS approx_p75, "
        "quantile_cont(l_extendedprice::DOUBLE, 0.5) AS exact_median, count(*) AS n "
        "FROM lineitem GROUP BY 1",
        "q_heavy_hitters": "SELECT t AS token, count(*) AS est_count FROM (SELECT unnest("
        "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t "
        "FROM documents) GROUP BY t ORDER BY 2 DESC, 1 LIMIT 10",
    }[name]
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


@pytest.mark.parametrize("name,col", [
    ("q_approx_distinct", 1), ("q_hll_merge", 1),
    ("q_approx_percentiles", 2), ("q_heavy_hitters", 1),
])
def test_property_checks_fail_on_dropped_or_altered_rows(checker, name, col):
    cols, rows = _exact(checker.con, name)
    assert checker.check(name, cols, rows) == []
    assert checker.check(name, cols, rows[1:])
    assert checker.check(name, cols, _altered(rows, col))


def test_audio_property_fails_on_dropped_or_altered_windows(checker):
    cols = ["doc_id", "window_idx", "dominant_bin", "centroid"]
    rows = [(d, w, 1 + (d * w) % 32, 16.0) for d in (1, 2) for w in range(4)]
    assert checker.check("q_audio_spectral", cols, rows) == []
    assert checker.check("q_audio_spectral", cols, rows[:1] + rows[2:])
    assert checker.check("q_audio_spectral", cols, [(1, 0, 0, 16.0)] + rows[1:])


def test_query_without_oracle_or_property_never_passes(checker):
    assert checker.check("q_not_registered", ["a"], [(1,)])


# -- sync checks ------------------------------------------------------------
def test_live_set_comparison_fails_on_dropped_or_altered_document():
    want = {"ix": {"1": digest(b"a"), "2": digest(b"b")}}
    assert checks.compare_live("sink", {"ix": dict(want["ix"])}, want) == []
    assert checks.compare_live("sink", {"ix": {"1": digest(b"a")}}, want)
    assert checks.compare_live("sink", {"ix": {"1": digest(b"a"), "2": digest(b"c")}}, want)


def test_expected_and_published_live_sets_agree_on_the_same_data(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "events.parquet"
    pq.write_table(pa.table({
        "event_type": ["a", "a", "b"], "event_id": [1, 13, 2],
        "props": ['{"x":1}', '{"x":13}', '{"x":2}'],
    }), src)
    sink = tmp_path / "sink"
    for alias, ids, docs in (("a", ["1"], ['{"x":1}']), ("b", ["2"], ['{"x":2}'])):
        (sink / f"{alias}_g").mkdir(parents=True)
        pq.write_table(pa.table({"id": ids, "document": docs}),
                       sink / f"{alias}_g" / "part-0.parquet")
    (sink / "manifest.json").write_text(json.dumps({"a": "a_g", "b": "b_g"}))
    want = checks.expected_live(str(src))
    assert set(want["a"]) == {"1"}  # id 13 is a tombstone
    assert checks.compare_live("sink", checks.published_live(str(sink)), want) == []


def test_report_check_fails_on_wrong_counts_or_flags():
    want = {"written": {"a": 3}, "skipped": ["b"], "rebuilt": [], "full": False}
    good = {"written": {"a": 3}, "skipped": ["b"], "rebuilt": [],
            "reconcile_ok": {}, "mirror_reconcile": {"a": True}}
    assert checks.check_report(good, want) == []
    assert checks.check_report({**good, "written": {"a": 2}}, want)
    assert checks.check_report({**good, "skipped": []}, want)
    assert checks.check_report({**good, "mirror_reconcile": {"a": False}}, want)
    assert checks.check_report({**good, "mirror_reconcile": {"a": None}}, want)


def test_full_sync_report_must_reconcile_every_written_index():
    want = {"written": {"a": 3, "b": 1}, "skipped": [], "rebuilt": [], "full": True}
    good = {"written": {"a": 3, "b": 1}, "skipped": [], "rebuilt": [],
            "reconcile_ok": {"a": True, "b": True},
            "mirror_reconcile": {"a": True, "b": True}}
    assert checks.check_report(good, want) == []
    assert checks.check_report({**good, "reconcile_ok": {}}, want)
    assert checks.check_report({**good, "reconcile_ok": {"a": True}}, want)
    assert checks.check_report({**good, "reconcile_ok": {"a": True, "b": False}}, want)


# -- spans ------------------------------------------------------------------
def test_self_time_is_span_minus_covered_child_time():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    own = self_times(spans)
    assert own == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}
    assert sum(own.values()) == pytest.approx(10.0 + 1.0)  # 1 s of overlap


def _span(sid, parent, layer, start, end):
    return {"id": sid, "parent": parent, "layer": layer, "start": start, "end": end,
            "metrics": {"jobs": 0}}


def test_reported_layer_times_sum_to_the_op_wall():
    spans = [
        _span(0, None, "op", 0.0, 10.0),
        _span(1, 0, "operators", 0.5, 4.0),
        _span(2, 1, "sources", 1.0, 2.0),
        _span(3, 0, "spark.exec", 4.0, 9.5),
    ]
    m, err = op_totals(spans, 10.0)
    assert (m["operators.build_s"], m["sources.load_s"], m["spark.exec_s"]) == (2.5, 1.0, 5.5)
    assert m["trace.unattributed_s"] == 1.0
    assert err == 0.0
    _, err = op_totals(spans, 12.0)  # 2 s of the wall outside every span
    assert err == pytest.approx(2.0 / 12.0)
    with pytest.raises(KeyError):  # a layer that no metric reports
        op_totals(spans + [_span(4, 0, "elsewhere", 9.5, 9.8)], 10.0)


def test_parse_sql_metric_reads_the_total():
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n4.1 s (885 ms, 1.1 s, 1.1 s (stage 6.0: task 9))",
        "time") == pytest.approx(4.1)
    assert parse_sql_metric("150 ms", "time") == pytest.approx(0.15)
    assert parse_sql_metric("total (...)\n233.2 KiB (56.9 KiB ...)", "size") == pytest.approx(
        233.2 * 1024 / 1e6)
