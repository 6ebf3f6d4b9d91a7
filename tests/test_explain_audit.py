"""Plan-hygiene gates of ``scripts/explain_audit.py``.

Unpartitioned windows: the audit flags WindowExec nodes with an empty
partition spec over corpus-cardinality input. These tests pin the detector
itself (fires on a synthetic global window, exempts the sanctioned two-pass
``_pid`` offset pattern) and assert a zero flag count over the converted
plans plus the distrank consumers that already used the two-pass form.

Lambda invariance: the audit flags column-reading subexpressions of a
lambda body that no lambda variable reaches. The detector fires on the
former ``word_ngrams`` over an inline ``tokens(text)``, stays quiet on the
projected form, searches cached relations, and finds the five n-gram
queries and the in-row pair expansion clean.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest
from pyspark.sql import Window, functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from explain_audit import (
    BOUNDED_GLOBAL_WINDOWS,
    INVARIANT_LAMBDAS,
    INVARIANT_LAMBDAS_RATCHET,
    audit,
    build_and_capture,
    lambda_invariants,
    unpartitioned_windows,
)

from prefect_flow_arc_indexer_spark.functions.textfns import tokens, word_ngrams

from tests.conftest import SF_DIR

# The round-4 "weak" plans (now two-pass) plus existing distrank consumers:
# every one must plan with ZERO non-exempt unpartitioned windows.
MUST_BE_CLEAN = (
    "q_rfm_segments",
    "q_weighted_sample",
    "q_pack_sequences",
    "q_conformal_threshold",
    "q_rank_fusion",
    "q_spearman",
    "q_gini",
    "q_shard_balance",
)


def _globals_of(df) -> list[str]:
    return unpartitioned_windows(df._jdf.queryExecution().executedPlan())


def test_detector_fires_on_global_window(spark):
    df = spark.range(100).withColumn(
        "rk", F.row_number().over(Window.orderBy("id"))
    )
    assert len(_globals_of(df)) == 1


def test_detector_ignores_partitioned_window(spark):
    df = spark.range(100).withColumn("g", F.col("id") % 4)
    df = df.withColumn(
        "rk", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert _globals_of(df) == []


def test_detector_exempts_two_pass_offset_window(spark):
    from prefect_flow_arc_indexer_spark.operators.distrank import (
        global_rank,
    )

    df = global_rank(
        spark.range(1000).withColumn("v", F.col("id") % 7),
        [F.col("v").desc(), F.col("id").asc()],
    )
    # the only unpartitioned window is the _pid offset table — exempt
    assert _globals_of(df) == []


@pytest.mark.parametrize("name", MUST_BE_CLEAN)
def test_converted_plans_have_no_global_window(spark, name):
    from prefect_flow_arc_indexer_spark.plans import all_queries

    rq = all_queries()[name]
    flagged = _globals_of(rq.builder(spark, SF_DIR))
    assert flagged == [], f"{name} still plans a global window: {flagged}"


def test_allowlist_names_are_registered():
    from prefect_flow_arc_indexer_spark.plans import all_queries

    qs = all_queries()
    missing = [n for n in BOUNDED_GLOBAL_WINDOWS if n not in qs]
    assert missing == []
    # every allowlist entry must say WHY the input is bounded
    assert all(len(v) > 10 for v in BOUNDED_GLOBAL_WINDOWS.values())


NGRAM_QUERIES = (
    "q_repeated_ngrams",
    "q_bigram_surprisal",
    "q_pagerank",
    "q_decontaminate",
    "q_bloom_decontaminate",
)


def _invariants_of(df) -> list[str]:
    return lambda_invariants(df._jdf.queryExecution().executedPlan())


def _inline_word_ngrams(tok, n: int):
    """``word_ngrams`` as it was when it accepted any array expression:
    ``tok`` is inlined into the lambda body."""
    ng = F.transform(
        F.sequence(F.lit(1), F.size(tok) - F.lit(n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tok, i + F.lit(k)) for k in range(n)]
        ),
    )
    return F.when(F.size(tok) >= n, ng).otherwise(
        F.array().cast("array<string>")
    )


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(
        [(1, "The cat sat on the mat"), (2, "a b"), (3, None)],
        "doc_id long, text string",
    )


def test_lambda_invariance_fires_on_inline_tokens(spark, texts):
    old = texts.select(
        "doc_id", _inline_word_ngrams(tokens(F.col("text")), 3).alias("ng")
    )
    hits = _invariants_of(old)
    # the whole tokenize expression is the (maximal) invariant subtree
    assert hits and all("lower(text#" in h for h in hits), hits
    new = texts.select("doc_id", tokens("text").alias("tok")).select(
        "doc_id", word_ngrams("tok", 3).alias("ng")
    )
    assert _invariants_of(new) == []
    assert sorted(old.collect()) == sorted(new.collect())


def test_lambda_invariance_searches_cached_relations(spark, texts):
    cached = texts.select(
        F.explode(_inline_word_ngrams(tokens(F.col("text")), 2)).alias("b")
    ).persist()
    try:
        assert _invariants_of(cached.groupBy("b").count()) != []
    finally:
        cached.unpersist()


def test_lambda_invariance_ignores_lambda_dependent_terms(spark):
    df = spark.createDataFrame([([1, 2], 3)], "xs array<int>, k int")
    # x * k reaches the lambda variable; k alone is a leaf column read
    dependent = df.select(F.transform("xs", lambda x: x * F.col("k")))
    assert _invariants_of(dependent) == []
    assert _invariants_of(
        df.select(F.transform("xs", lambda x: x + F.abs(F.col("k"))))
    ) != []
    # the inner lambda reads k but runs per element of array(x): neither
    # it nor the inner transform is invariant in x
    nested = df.select(
        F.transform(
            "xs", lambda x: F.transform(F.array(x), lambda y: y * F.col("k"))
        )
    )
    assert _invariants_of(nested) == []


def test_word_ngrams_takes_only_a_column_name():
    with pytest.raises(TypeError):
        word_ngrams(tokens(F.col("text")), 2)


def test_lambda_invariance_searches_builder_materialized_frames(spark, texts):
    def builder(spark, sf_dir):
        # the q_pagerank shape: the tokenizing pass is persisted, run and
        # released inside the builder; the returned plan never reads it
        edges = texts.select(
            F.explode(_inline_word_ngrams(tokens(F.col("text")), 2)).alias("b")
        ).persist()
        try:
            n = edges.count()
        finally:
            edges.unpersist()
        return spark.range(n)

    df, roots = build_and_capture(builder, spark, SF_DIR)
    assert _invariants_of(df) == []
    assert lambda_invariants(*roots) != []


@pytest.mark.parametrize("name", NGRAM_QUERIES)
def test_ngram_queries_have_no_lambda_invariant(spark, name):
    from prefect_flow_arc_indexer_spark.plans import all_queries

    _, roots = build_and_capture(all_queries()[name].builder, spark, SF_DIR)
    assert lambda_invariants(*roots) == []


def test_in_row_pairs_lengths_0_1_2_n(spark):
    """Every pair i < j in array order, nothing for fewer than two
    elements, and a lambda body the audit finds clean."""
    from itertools import combinations

    from prefect_flow_arc_indexer_spark.functions.pairs import in_row_pairs

    arrays = [[], [7], [7, 3], list(range(9))]
    df = spark.createDataFrame(
        list(enumerate(arrays)), "k int, arr array<int>"
    ).select("k", in_row_pairs("arr", "a", "b").alias("p"))
    got = {r.k: [(p.a, p.b) for p in r.p] for r in df.collect()}
    assert got == {k: list(combinations(a, 2)) for k, a in enumerate(arrays)}
    assert _invariants_of(df) == []


def test_lambda_allowlist_ratchet_and_reasons():
    from prefect_flow_arc_indexer_spark.plans import all_queries

    assert set(INVARIANT_LAMBDAS) <= INVARIANT_LAMBDAS_RATCHET
    assert set(INVARIANT_LAMBDAS) <= set(all_queries())
    assert all(len(v) > 10 for v in INVARIANT_LAMBDAS.values())
    # none of the n-gram queries may come back through the allow-list
    assert not set(NGRAM_QUERIES) & INVARIANT_LAMBDAS_RATCHET


def test_salted_join_scans_lineitem_once(spark):
    from prefect_flow_arc_indexer_spark.plans import all_queries

    df = all_queries()["q_salted_join"].builder(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one lineitem scan and one orders scan: the skew scalar is a literal
    assert audit(plan)["scans"] == 2, plan
    assert len(re.findall(r"FileScan parquet \[l_", plan)) == 1, plan
