"""Equivalence pins for the r12 Arrow shingle kernels: the mapInArrow
MinHash/SimHash producers must be value-identical to the r11 JVM expression
forms (split/lower tokenize, word n-grams, md5-derived stable hash) on the
edge-case classes the corpus can contain."""

from __future__ import annotations

import hashlib
from functools import reduce

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.functions.hashing import (
    HASH_PRIME,
    MINHASH_COEFFS,
    minhash_perm,
    stable_hash,
)
from prefect_flow_arc_indexer_spark.functions.textfns import tokens, word_ngrams
from prefect_flow_arc_indexer_spark.operators.dedup import (
    N_PERM,
    SHINGLE_N,
    SIMHASH_BITS,
    minhash_signature,
    simhash_fingerprints,
)

# null text, empty text, whitespace-only, < n tokens, exactly n tokens,
# repeated shingles, tab/newline/CR separators, case folding, and a doc
# whose every shingle is identical
EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "   \t\n  "),
    (4, "one two"),
    (5, "one two three"),
    (6, "a b c a b c a b c"),
    (7, "Tabs\tand\nnewlines\rseparate WORDS like spaces do"),
    (8, "x x x x x x"),
    (9, "The Quick BROWN fox the quick brown fox"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")


def _jvm_minhash(docs):
    """The r11 JVM form this round's kernel replaced (kept here as the
    equivalence reference)."""
    exploded = docs.select(
        "doc_id", tokens(F.col("text")).alias("tok")
    ).select(
        "doc_id", F.explode(word_ngrams("tok", SHINGLE_N)).alias("s")
    )
    h = exploded.select("doc_id", stable_hash(F.col("s")).alias("h"))
    return h.groupBy("doc_id").agg(
        *[
            F.min(minhash_perm(F.col("h"), i)).alias(f"m{i}")
            for i in range(N_PERM)
        ]
    )


def _jvm_simhash(docs):
    tok_hashes = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("w")
    ).select("doc_id", stable_hash(F.col("w")).alias("h"))
    votes = [
        F.sum(
            F.when(
                F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = tok_hashes.groupBy("doc_id").agg(*votes)
    fp = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)),
        range(SIMHASH_BITS),
        F.lit(0).cast("bigint"),
    )
    return per_doc.select("doc_id", fp.alias("simhash"))


def test_minhash_kernel_matches_jvm_form(docs):
    got = sorted(map(tuple, minhash_signature(docs).collect()))
    want = sorted(map(tuple, _jvm_minhash(docs).collect()))
    assert got == want
    # rows exist exactly for docs with >= SHINGLE_N tokens
    assert [r[0] for r in got] == [5, 6, 7, 8, 9]


def test_simhash_kernel_matches_jvm_form(docs):
    got = sorted(map(tuple, simhash_fingerprints(docs).collect()))
    want = sorted(map(tuple, _jvm_simhash(docs).collect()))
    assert got == want
    # rows exist exactly for docs with >= 1 token
    assert [r[0] for r in got] == [4, 5, 6, 7, 8, 9]


def test_minhash_kernel_pure_python_replica(docs):
    """Belt-and-braces: the kernel against a from-scratch replica that
    shares no code with it (hexdigest slice instead of digest bits)."""
    rows = {r[0]: r[1:] for r in minhash_signature(docs).collect()}
    for did, text in EDGE_ROWS:
        if text is None:
            assert did not in rows
            continue
        toks = [t for t in __import__("re").split("[ \t\n\x0b\f\r]+", text.lower()) if t]
        grams = [
            " ".join(toks[i : i + SHINGLE_N])
            for i in range(len(toks) - SHINGLE_N + 1)
        ]
        if not grams:
            assert did not in rows
            continue
        hs = [
            int(hashlib.md5(g.encode("utf-8")).hexdigest()[:7], 16)
            for g in grams
        ]
        want = tuple(
            min((h * a + b) % HASH_PRIME for h in hs)
            for a, b in MINHASH_COEFFS
        )
        assert rows[did] == want, did


def test_kernel_keeps_string_ids(spark):
    """The kernels are generic in the id column type like the JVM forms
    (test_lsh_cap exercises the string-id path end to end)."""
    docs = spark.createDataFrame(
        [("a1", "one two three four"), ("b2", "one two three four")],
        "doc_id string, text string",
    )
    sig = minhash_signature(docs)
    assert dict(sig.dtypes)["doc_id"] == "string"
    rows = {r["doc_id"]: tuple(r)[1:] for r in sig.collect()}
    assert set(rows) == {"a1", "b2"}
    assert rows["a1"] == rows["b2"]
    fp = simhash_fingerprints(docs)
    assert dict(fp.dtypes)["doc_id"] == "string"
