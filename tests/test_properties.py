"""Property-based tests (hypothesis): the engine's core column-expression
semantics cross-checked against plain-Python references on random inputs.
The DuckDB oracles catch cross-engine drift on the fixed fixtures; these
catch semantic edge cases the fixtures don't contain (exotic whitespace,
empty strings, ties, NULLs)."""

from __future__ import annotations

import re
from hashlib import md5

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.functions.hashing import stable_hash
from prefect_flow_arc_indexer_spark.functions.textfns import tokens, word_ngrams

PROP_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable-ish text including whitespace variety the tokenizer must survive
_text = st.text(
    alphabet=st.characters(
        codec="ascii", categories=("L", "N", "P", "Zs"), include_characters=" \t"
    ),
    max_size=60,
)


def _py_tokens(s: str) -> list[str]:
    return [t for t in re.split(r"\s+", s.lower()) if t]


@settings(**PROP_SETTINGS)
@given(texts=st.lists(_text, min_size=1, max_size=25))
def test_tokens_and_ngrams_match_python(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, s string"
    )
    rows = {
        r["i"]: (r["tok"], r["ng"])
        for r in df.select("i", tokens(F.col("s")).alias("tok"))
        .select("i", "tok", word_ngrams("tok", 3).alias("ng"))
        .collect()
    }
    for i, t in enumerate(texts):
        want_tok = _py_tokens(t)
        want_ng = (
            [" ".join(want_tok[j : j + 3]) for j in range(len(want_tok) - 2)]
            if len(want_tok) >= 3
            else []
        )
        assert rows[i][0] == want_tok, f"tokens diverge on {t!r}"
        assert rows[i][1] == want_ng, f"ngrams diverge on {t!r}"


@settings(**PROP_SETTINGS)
@given(values=st.lists(_text, min_size=1, max_size=25))
def test_stable_hash_matches_python_md5(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = [
        r["h"] for r in df.select(stable_hash(F.col("s")).alias("h")).collect()
    ]
    want = [int(md5(v.encode()).hexdigest()[:7], 16) for v in values]
    assert got == want
    assert all(0 <= h < 2**28 for h in got)


@settings(**PROP_SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=1,
        max_size=20,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 999)),
        min_size=0,
        max_size=20,
        unique_by=lambda r: (r[0], r[1]),  # unique (key, ts): as-of is
        # otherwise ambiguous at equal timestamps
    ),
)
def test_asof_join_matches_python_scan(spark, lefts, rights):
    """Backward-looking inclusive as-of: each left row picks the latest
    right row with right.ts <= left.ts on the same key, NULL if none."""
    from prefect_flow_arc_indexer_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], "k long, t long, lid long"
    )
    right = spark.createDataFrame(rights, "k long, t long, payload long") if rights else spark.createDataFrame([], "k long, t long, payload long")
    out = asof_join(left, right, "k", "k", "t", "t", ["payload"])
    got = {r["lid"]: r["payload"] for r in out.collect()}
    for i, (k, t) in enumerate(lefts):
        cands = [(rt, p) for rk, rt, p in rights if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, f"lid={i} key={k} ts={t}"


@settings(**PROP_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(0, 99),
            st.one_of(st.none(), st.just('{"v":1}')),
            st.booleans(),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_doc_actions_routing_property(spark, rows):
    """Incremental action routing: tombstones become delete actions with a
    NULL source, everything else upserts its document verbatim."""
    from prefect_flow_arc_indexer_spark.operators.actions import doc_actions

    df = spark.createDataFrame(
        [(idx, str(i), doc, d) for i, (idx, _, doc, d) in enumerate(rows)],
        "`index` string, id string, document string, is_deleted boolean",
    )
    out = {r["_id"]: r for r in doc_actions(df, timestamp=None).collect()}
    assert len(out) == len(rows)
    for i, (idx, _, doc, deleted) in enumerate(rows):
        r = out[str(i)]
        assert r["_index"] == idx
        if deleted:
            assert r["_op_type"] == "delete" and r["_source"] is None
        else:
            assert r["_op_type"] == "index" and r["_source"] == doc


@settings(**PROP_SETTINGS)
@given(
    stream=st.lists(
        st.sampled_from("abcdefgh"), min_size=1, max_size=300
    ),
    cap=st.integers(2, 8),
)
def test_misra_gries_bound_property(stream, cap):
    """For ANY stream and capacity: counters never overcount, and every
    estimate is within n/(cap+1) of the true count — including items the
    sketch dropped entirely (estimate 0)."""
    import pandas as pd

    from prefect_flow_arc_indexer_spark.operators.sketches import _mg_partition

    [summary] = list(
        _mg_partition(cap)(iter([pd.DataFrame({"token": stream})]))
    )
    est = dict(zip(summary["token"], summary["est"]))
    n = len(stream)
    true = {}
    for t in stream:
        true[t] = true.get(t, 0) + 1
    assert len(est) <= cap
    for t, c in true.items():
        e = est.get(t, 0)
        assert e <= c, f"{t}: overcounted {e} > {c}"
        assert e >= c - n / (cap + 1), f"{t}: {e} < {c} - {n/(cap+1):.2f}"


@settings(**PROP_SETTINGS)
@given(
    vec=st.lists(
        st.floats(
            min_value=-100.0,
            max_value=100.0,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=1,
        max_size=16,
    )
)
def test_quantization_error_bound_property(spark, vec):
    """Symmetric int8 quantization: codes stay in [-127, 127] and every
    component reconstructs within half a quantization step (0.5/scale)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(vec,)], "embedding array<float>")
    emb = F.col("embedding").cast("array<double>")
    max_abs = F.array_max(F.transform(emb, F.abs))
    scaled = df.select(
        emb.alias("emb"),
        F.when(max_abs == 0, F.lit(1.0))
        .otherwise(F.lit(127.0) / max_abs)
        .alias("scale"),
    )
    s = F.col("scale")
    row = scaled.select(
        "emb",
        "scale",
        F.transform(F.col("emb"), lambda x: F.round(x * s).cast("int")).alias(
            "q8"
        ),
    ).collect()[0]
    step = 0.5 / row["scale"]
    for x, q in zip(row["emb"], row["q8"]):
        assert -127 <= q <= 127
        assert abs(x - q / row["scale"]) <= step + 1e-12


@settings(**PROP_SETTINGS)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 16) - 1),
            st.integers(min_value=0, max_value=(1 << 16) - 1),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_zorder_interleave_roundtrip_property(spark, pairs):
    """The Morton key must be a bijection: de-interleaving the Spark-computed
    key recovers (x, y) exactly, and the key is monotone in each coordinate
    when the other's bits above the changed bit are fixed."""
    from prefect_flow_arc_indexer_spark.operators.layout import (
        ZORDER_BITS,
        _interleave_sql,
    )

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pairs)], "i long, x long, y long"
    )
    rows = {
        r["i"]: r["z"]
        for r in df.select(
            "i", F.expr(_interleave_sql("x", "y", "spark")).alias("z")
        ).collect()
    }
    for i, (x, y) in enumerate(pairs):
        z = rows[i]
        rx = ry = 0
        for b in range(ZORDER_BITS):
            rx |= ((z >> (2 * b)) & 1) << b
            ry |= ((z >> (2 * b + 1)) & 1) << b
        assert (rx, ry) == (x, y), f"roundtrip broke for {(x, y)} -> {z}"


@settings(**PROP_SETTINGS)
@given(
    token_counts=st.lists(
        st.integers(min_value=0, max_value=1200), min_size=1, max_size=40
    )
)
def test_pack_sequences_window_math_property(spark, token_counts):
    """Packing arithmetic against a plain-Python accumulator: every doc's
    (pack_id, pack_offset) must equal the running-total division, including
    docs longer than the context window and zero-token docs."""
    from prefect_flow_arc_indexer_spark.operators.corpus_quality import (
        PACK_CONTEXT,
    )
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(token_counts)], "doc_id long, n long"
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    start = F.coalesce(F.sum("n").over(w), F.lit(0)).cast("bigint")
    rows = {
        r["doc_id"]: (r["pack_id"], r["off"])
        for r in df.select(
            "doc_id",
            start.alias("_s"),
        )
        .select(
            "doc_id",
            F.expr(f"_s div {PACK_CONTEXT}").alias("pack_id"),
            (F.col("_s") % PACK_CONTEXT).alias("off"),
        )
        .collect()
    }
    running = 0
    for i, n in enumerate(token_counts):
        assert rows[i] == (running // PACK_CONTEXT, running % PACK_CONTEXT), (
            i,
            n,
            running,
        )
        running += n


# --------------------------------------------------------------------------
# Hilbert key
# --------------------------------------------------------------------------
def test_hilbert_bijective_on_grid():
    """Every cell of a 32x32 grid gets a distinct code in [0, 1024)."""
    from prefect_flow_arc_indexer_spark.operators.layout import hilbert_d

    codes = {hilbert_d(x, y, bits=5) for x in range(32) for y in range(32)}
    assert codes == set(range(32 * 32))


def test_hilbert_consecutive_codes_are_adjacent_cells():
    """THE Hilbert property (Morton lacks it): walking the curve moves one
    manhattan step at a time — no quadrant jumps."""
    from prefect_flow_arc_indexer_spark.operators.layout import hilbert_d

    inv = {hilbert_d(x, y, bits=5): (x, y) for x in range(32) for y in range(32)}
    for d in range(32 * 32 - 1):
        (x0, y0), (x1, y1) = inv[d], inv[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1, f"jump at d={d}"


def test_hilbert_kernel_matches_scalar_reference():
    import pandas as pd

    from prefect_flow_arc_indexer_spark.operators.layout import (
        _hilbert_batches, hilbert_d,
    )

    pdf = pd.DataFrame(
        {"x": [0, 1, 5, 1000, 65535, 40000], "y": [0, 2, 7, 2000, 65535, 123]}
    )
    out = list(_hilbert_batches(iter([pdf])))[0]
    for _, r in out.iterrows():
        assert r["hkey"] == hilbert_d(int(r["x"]), int(r["y"]))


@given(
    sessions=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 10**5)),
        min_size=1,
        max_size=30,
    ),
    incidents=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(1, 10**5)),
        min_size=1,
        max_size=30,
    ),
    bucket=st.sampled_from([1, 7, 100, 3600]),
)
@settings(max_examples=100, deadline=None)
def test_interval_bucket_blocking_is_complete(sessions, incidents, bucket):
    """The q_interval_join physical rule — explode each closed interval to
    its covered buckets, pair on shared bucket — must find EVERY pair the
    theta join (s0 <= i1 AND i0 <= s1) finds, for any bucket width."""
    svs = [(s, s + d) for s, d in sessions]
    ivs = [(s, s + d) for s, d in incidents]
    truth = {
        (a, b)
        for a, (s0, s1) in enumerate(svs)
        for b, (i0, i1) in enumerate(ivs)
        if s0 <= i1 and i0 <= s1
    }

    def buckets(lo, hi):
        return range(lo // bucket, hi // bucket + 1)

    got = {
        (a, b)
        for a, (s0, s1) in enumerate(svs)
        for b, (i0, i1) in enumerate(ivs)
        if (set(buckets(s0, s1)) & set(buckets(i0, i1)))
        and s0 <= i1
        and i0 <= s1
    }
    assert got == truth
