"""Corpus-preparation operators — PII pseudonymization, repetition
filtering, chunk-level dedup, TF-IDF ranking, inverted-index build, and
skew-safe token counting (training-data-pipeline extension surface; ABSENT
in the reference, which treats document payloads as opaque JSON —
``flows/main_flow.py:319`` selects the jsonb whole).

The inverted-index build is the closest query-shaped analog of what the
reference's Elasticsearch sink does server-side (term -> posting list); here
it is expressed as an explode + two-level aggregation so Spark owns the
build instead of ES.

Scale notes (100 TB): every operator below is explode -> hash-agg with
map-side partial aggregation, so the shuffle carries (term, partial-count)
rows, not raw tokens. The salted variant demonstrates the two-stage
aggregation that bounds per-reducer load under Zipfian term skew — the
standard fix when one hot key (a stopword) would otherwise receive the
whole corpus's postings in one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from prefect_flow_arc_indexer_spark.functions.textfns import (
    dd_tokens,
    dd_word_ngrams,
    tokens,
    word_ngrams,
)
from prefect_flow_arc_indexer_spark.functions.caching import CheckpointRelease
from prefect_flow_arc_indexer_spark.functions.frames import local_frame
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import (
    load_table,
    table_row_count,
)

CHUNK_TOKENS = 8
CHUNK_STRIDE = 4
TOPTERMS_K = 3
POSTING_PREVIEW = 20
SALT_BUCKETS = 16
REPETITION_FLAG_FRAC = 0.1


# --------------------------------------------------------------------------
# PII pseudonymization
# --------------------------------------------------------------------------
@register(
    "q_pii_pseudonymize",
    oracle="""SELECT sha256(CAST(c_custkey AS VARCHAR)) AS pseudo_id,
       concat(substr(c_name, 1, 1), repeat('*', greatest(length(c_name) - 1, 0))) AS name_masked,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_bucket,
       c_nationkey AS nationkey,
       c_mktsegment AS mktsegment
  FROM customer
""",
    doc="PII pseudonymization: deterministic key hashing (sha256), name "
    "masking (first char + stars), and k-anonymity-style balance binning; "
    "quasi-identifiers (nation, segment) retained for analytics",
)
def q_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.sha2(F.col("c_custkey").cast("string"), 256).alias("pseudo_id"),
        F.concat(
            F.substring("c_name", 1, 1),
            F.expr("repeat('*', greatest(length(c_name) - 1, 0))"),
        ).alias("name_masked"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias(
            "acctbal_bucket"
        ),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    )


# --------------------------------------------------------------------------
# repetition detection (Gopher-style quality rule)
# --------------------------------------------------------------------------
def repetition_cols(tok: Column) -> tuple[Column, Column, Column, Column]:
    """Row-local repetition signals (n_tokens, distinct_ratio,
    top_bigram_frac, repetitive) over a token-array column.

    The most-frequent-bigram count is computed INSIDE the row: sort the
    doc's bigram array and fold it once, tracking the longest equal run —
    bigram counts never cross a document boundary, so the previous
    explode + groupBy(doc_id, g) + groupBy(doc_id) + join-back shape paid
    two corpus-sized exchanges and a second tokenize pass for a per-row
    max (r11, guide §2.4). Shared by q_repetition and the fused
    q_quality_ensemble scan so the signals cannot drift."""
    n_tokens = F.coalesce(F.size(tok), F.lit(0))
    n_distinct = F.coalesce(F.size(F.array_distinct(tok)), F.lit(0))
    bigram = F.when(
        F.size(tok) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(tok, i), F.element_at(tok, i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # longest run in the sorted bigram array == max per-bigram count;
    # state: (previous bigram, current run length, max run so far)
    max_bigram = F.aggregate(
        F.array_sort(bigram),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("cnt"),
            F.lit(0).cast("long").alias("mx"),
        ),
        lambda st, g: F.struct(
            g.alias("prev"),
            F.when(st.prev.isNotNull() & (g == st.prev), st.cnt + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("cnt"),
            F.greatest(
                st.mx,
                F.when(st.prev.isNotNull() & (g == st.prev), st.cnt + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("mx"),
        ),
        lambda st: st.mx,
    )
    top_frac = F.round(
        max_bigram.cast("double") / F.greatest(n_tokens - 1, F.lit(1)), 6
    )
    return (
        n_tokens,
        F.round(
            n_distinct.cast("double") / F.greatest(n_tokens, F.lit(1)), 6
        ),
        top_frac,
        top_frac > REPETITION_FLAG_FRAC,
    )


@register(
    "q_repetition",
    oracle=f"""WITH toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok FROM documents
),
stats AS (
  SELECT doc_id,
         coalesce(len(tok), 0) AS n_tokens,
         coalesce(len(list_distinct(tok)), 0) AS n_distinct
    FROM toks
),
bigrams AS (
  SELECT doc_id, t.g
    FROM toks, unnest(
      CASE WHEN len(tok) >= 2 THEN
        list_transform(generate_series(1, len(tok) - 1), i -> tok[i] || ' ' || tok[i+1])
      ELSE [] END) AS t(g)
),
topbg AS (
  SELECT doc_id, max(c) AS max_bigram
    FROM (SELECT doc_id, g, count(*) AS c FROM bigrams GROUP BY doc_id, g)
   GROUP BY doc_id
)
SELECT s.doc_id,
       s.n_tokens,
       round(CAST(s.n_distinct AS DOUBLE) / greatest(s.n_tokens, 1), 6) AS distinct_ratio,
       round(CAST(coalesce(t.max_bigram, 0) AS DOUBLE) / greatest(s.n_tokens - 1, 1), 6) AS top_bigram_frac,
       (round(CAST(coalesce(t.max_bigram, 0) AS DOUBLE) / greatest(s.n_tokens - 1, 1), 6) > {REPETITION_FLAG_FRAC}) AS repetitive
  FROM stats s LEFT JOIN topbg t ON t.doc_id = s.doc_id
""",
    doc="repetition detection (Gopher-style): distinct-token ratio and "
    "most-frequent-bigram fraction per doc; docs whose top bigram exceeds "
    f"{REPETITION_FLAG_FRAC:.0%} of positions are flagged repetitive",
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", tokens(F.col("text")).alias("tok")
    )
    n_tokens, distinct_ratio, top_frac, repetitive = repetition_cols(
        F.col("tok")
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        top_frac.alias("top_bigram_frac"),
        repetitive.alias("repetitive"),
    )


# --------------------------------------------------------------------------
# chunk-level exact dedup (fine-grained substring dedup)
# --------------------------------------------------------------------------
@register(
    "q_chunk_dedup",
    oracle=f"""WITH toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok FROM documents
),
chunks AS (
  SELECT doc_id,
         array_to_string(list_slice(tok, i, i + {CHUNK_TOKENS - 1}), ' ') AS chunk
    FROM toks, unnest(generate_series(1, greatest(len(tok) - {CHUNK_TOKENS - 1}, 1), {CHUNK_STRIDE})) AS t(i)
   WHERE len(tok) > 0
)
SELECT chunk,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS keeper_doc_id
  FROM chunks
 GROUP BY chunk
HAVING count(DISTINCT doc_id) > 1
""",
    doc=f"chunk-level exact dedup: strided {CHUNK_TOKENS}-token windows "
    f"(stride {CHUNK_STRIDE}) grouped corpus-wide; chunks appearing in >1 "
    "doc are boilerplate/copied spans a fine-grained dedup pass would drop "
    "(the groupBy-on-chunk approximation of exact-substring dedup)",
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", tokens(F.col("text")).alias("tok")
    )
    tok = F.col("tok")
    positions = F.sequence(
        F.lit(1),
        F.greatest(F.size(tok) - F.lit(CHUNK_TOKENS - 1), F.lit(1)),
        F.lit(CHUNK_STRIDE),
    )
    return (
        docs.where(F.size(tok) > 0)
        .select("doc_id", "tok", F.explode(positions).alias("i"))
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(tok, F.col("i"), F.lit(CHUNK_TOKENS))
            ).alias("chunk"),
        )
        .groupBy("chunk")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# TF-IDF top terms
# --------------------------------------------------------------------------
@register(
    "q_tfidf_topterms",
    oracle=f"""WITH toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok FROM documents
),
tf AS (
  SELECT doc_id, t.term, count(*) AS tf
    FROM toks, unnest(tok) AS t(term)
   GROUP BY doc_id, t.term
),
df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (
  SELECT count(*) AS n_docs FROM documents
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round((tf.tf * (n.n_docs + 1.0)) / (df.df + 1.0), 6) AS score
    FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
    FROM scored
)
SELECT doc_id, term, tf, df, score
  FROM ranked WHERE rk <= {TOPTERMS_K}
""",
    doc=f"TF-IDF top-{TOPTERMS_K} terms per doc (linear-idf variant "
    "(N+1)/(df+1) — IEEE-exact division, so both engines rank "
    "bit-identically; ln-idf would differ in the last ulp across libm "
    "implementations and could flip tie-adjacent ranks). r12 (guide §5/"
    "§6): the tf aggregation is checkpointed once — the broadcast df "
    "build is a separately-built broadcast, so exchange reuse never "
    "fired and tf's explode+shuffle ran twice — and n_docs comes from "
    "parquet footer metadata (the q_semdedup discipline) instead of a "
    "third documents scan through its own broadcast",
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    ).localCheckpoint(eager=True)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # long + 1.0 in Spark is cast-to-double-then-add; Python float(n) + 1.0
    # is the identical IEEE value for any table size under 2^53
    n_docs = float(table_row_count(spark, sf_dir, "documents"))
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            (F.col("tf") * F.lit(n_docs + 1.0)) / (F.col("df") + F.lit(1.0)),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    out = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPTERMS_K)
        .drop("rk")
    )
    # caller releases the tf checkpoint blocks after materializing
    # (q_containment contract; harness sweeps blanket-release)
    out.ckpt_release = CheckpointRelease(tf)
    return out


# --------------------------------------------------------------------------
# inverted-index build (what the reference's ES sink does server-side)
# --------------------------------------------------------------------------
@register(
    "q_inverted_index",
    oracle=f"""WITH toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok FROM documents
),
per_doc AS (
  SELECT t.term, doc_id, count(*) AS cnt
    FROM toks, unnest(tok) AS t(term)
   GROUP BY t.term, doc_id
)
SELECT term,
       count(*) AS doc_freq,
       CAST(sum(cnt) AS BIGINT) AS occurrences,
       array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, {POSTING_PREVIEW}), ',') AS posting_preview
  FROM per_doc
 GROUP BY term
""",
    doc="inverted-index build: term -> (doc freq, total occurrences, "
    f"first-{POSTING_PREVIEW} posting list) via explode + two-level agg — "
    "the Spark-owned analog of the ES indexing the reference delegates "
    "(flows/main_flow.py:413 streaming_bulk); full posting lists at 100 TB "
    "would be written sorted-within-term-partition rather than collected",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    per_doc = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("cnt"))
    )
    return per_doc.groupBy("term").agg(
        F.count("*").alias("doc_freq"),
        F.sum("cnt").alias("occurrences"),
        F.concat_ws(
            ",",
            F.slice(
                F.sort_array(F.collect_list("doc_id")),
                1,
                POSTING_PREVIEW,
            ).cast("array<string>"),
        ).alias("posting_preview"),
    )


# --------------------------------------------------------------------------
# skew-safe (salted) token counting
# --------------------------------------------------------------------------
@register(
    "q_salted_token_counts",
    oracle=f"""WITH toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok FROM documents
)
SELECT t.term, count(*) AS occurrences
  FROM toks, unnest(tok) AS t(term)
 GROUP BY t.term
""",
    doc="skew-safe token counting: two-stage salted aggregation — stage 1 "
    f"groups by (term, doc_id % {SALT_BUCKETS}) so a Zipf-hot term's rows "
    f"spread over {SALT_BUCKETS} reducers, stage 2 sums the per-salt "
    "partials; semantically identical to the plain groupBy the oracle "
    "runs, which is the point: salting changes the physical plan only",
)
def q_salted_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    exploded = docs.select(
        (F.col("doc_id") % SALT_BUCKETS).alias("salt"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    partial = exploded.groupBy("term", "salt").agg(
        F.count("*").alias("partial_cnt")
    )
    return partial.groupBy("term").agg(
        F.sum("partial_cnt").alias("occurrences")
    )


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------
DECON_N = 3  # real pipelines use 8-13-gram overlap; 3 keeps the synthetic
# corpus's hit set non-trivial so the oracle comparison exercises real rows
DECON_EVAL_MOD = 50  # doc_id % 50 == 0 plays the held-out benchmark set


@register(
    "q_decontaminate",
    oracle=f"""WITH toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok
    FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT DISTINCT doc_id, unnest({dd_word_ngrams("tok", DECON_N)}) AS g
    FROM toks
),
eval_g AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % {DECON_EVAL_MOD} = 0
)
SELECT t.doc_id, count(*) AS n_shared_ngrams
  FROM grams t JOIN eval_g e ON t.g = e.g
 WHERE t.doc_id % {DECON_EVAL_MOD} <> 0
 GROUP BY t.doc_id
""",
    doc="benchmark decontamination: flag training docs sharing word "
    f"{DECON_N}-grams with the held-out eval slice (doc_id % "
    f"{DECON_EVAL_MOD} = 0). The eval n-gram set is tiny relative to the "
    "corpus — built once, deduplicated, and BROADCAST, so the corpus-side "
    "gram stream joins map-side with no shuffle; the only exchange is the "
    "per-doc hit count. This is the shape that survives 100 TB: corpus "
    "scanned once, eval set in memory on every executor",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    # per-doc gram sets dedupe ROW-LOCALLY (array_distinct before explode):
    # the naive `explode().distinct()` formulation shuffles every gram
    # string across the cluster just to drop within-doc repeats — measured
    # 10s vs 2s at sf0.01, and it is the difference between shuffling the
    # corpus and shuffling nothing at 100 TB
    gram_sets = lambda df: df.select(  # noqa: E731
        "doc_id", tokens("text").alias("tok")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams("tok", DECON_N))).alias("g"),
    )
    # eval filter runs BEFORE gram-ification: only the tiny benchmark slice
    # pays tokenization twice; cross-doc duplicate grams collapse in the
    # broadcast-side distinct (small by construction)
    eval_g = (
        gram_sets(docs.where(F.col("doc_id") % DECON_EVAL_MOD == 0))
        .select("g")
        .distinct()
    )
    train = gram_sets(docs.where(F.col("doc_id") % DECON_EVAL_MOD != 0))
    return (
        train.join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


# --------------------------------------------------------------------------
# Bloom-prefiltered decontamination
# --------------------------------------------------------------------------
BLOOM_K = 7  # hash probes per key


def _bloom_build(hashes, k: int = BLOOM_K):
    """(bits uint64[], mask) Bloom filter over signed-int64 keys.

    Positions are the classic double-hash family h1 + i*h2 (Kirsch &
    Mitzenmacher 2006); h2 is an odd multiplicative mix of h1 so the k
    probes stay affine in two 64-bit values — cheap to replicate
    vectorized at probe time."""
    import numpy as np

    h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
    n = max(len(h), 1)
    m_bits = 1 << max(16, int(np.ceil(np.log2(n * 16))))
    mask = np.uint64(m_bits - 1)
    bits = np.zeros(m_bits >> 6, dtype=np.uint64)
    h2 = (h * np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1)
    for i in range(k):
        idx = (h + np.uint64(i) * h2) & mask
        np.bitwise_or.at(
            bits, (idx >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (idx & np.uint64(63)),
        )
    return bits, mask


@register(
    "q_bloom_decontaminate",
    oracle=f"""WITH toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok
    FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT DISTINCT doc_id, unnest({dd_word_ngrams("tok", DECON_N)}) AS g
    FROM toks
),
eval_g AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % {DECON_EVAL_MOD} = 0
),
hits AS (
  SELECT t.doc_id, count(*) AS n
    FROM grams t JOIN eval_g e ON t.g = e.g
   WHERE t.doc_id % {DECON_EVAL_MOD} <> 0
   GROUP BY t.doc_id
)
SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared_ngrams,
       h.n IS NULL AS is_clean
  FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
 WHERE d.text IS NOT NULL AND d.doc_id % {DECON_EVAL_MOD} <> 0
""",
    doc="decontamination with a Bloom prefilter: the eval slice's n-gram "
    "hashes compress into a bit array a few hundred KB wide (vs GBs for "
    "the gram strings at real scale), the corpus gram stream probes it "
    "with an Arrow-vectorized pandas UDF (k affine hash probes per gram, "
    "all numpy), and only the ~FP-rate survivors reach the exact verify "
    "join — which therefore shuffles a candidate trickle, not the corpus. "
    "The exact join makes the result IDENTICAL to the no-Bloom answer "
    "(false positives die in verify), so the Bloom stage is pure physical "
    "optimization: the 100 TB play when the eval gram set outgrows a "
    "broadcast but a bitmap of it does not. Output: every train doc with "
    "its shared-gram count and a clean flag.",
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )

    def gram_sets(df: DataFrame) -> DataFrame:
        return df.select("doc_id", tokens("text").alias("tok")).select(
            "doc_id",
            F.explode(F.array_distinct(word_ngrams("tok", DECON_N))).alias(
                "g"
            ),
        )

    eval_docs = docs.where(F.col("doc_id") % DECON_EVAL_MOD == 0)
    eval_g = gram_sets(eval_docs).select("g").distinct()
    # driver-side Bloom build over the (small by construction) eval hashes;
    # ships to executors once as a task-closure broadcast
    bits, mask = _bloom_build(
        [r["h"] for r in eval_g.select(F.xxhash64("g").alias("h")).collect()]
    )

    def _might_contain(h):
        import numpy as np

        hv = h.to_numpy(dtype=np.int64).astype(np.uint64)
        h2 = (hv * np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1)
        ok = np.ones(len(hv), dtype=bool)
        for i in range(BLOOM_K):
            idx = (hv + np.uint64(i) * h2) & mask
            word = bits[(idx >> np.uint64(6)).astype(np.int64)]
            ok &= (word >> (idx & np.uint64(63))) & np.uint64(1) != 0
        return pd.Series(ok)

    # the module-level `from __future__ import annotations` stringifies
    # hints, which pandas_udf can't resolve — attach real objects instead
    _might_contain.__annotations__ = {"h": pd.Series, "return": pd.Series}
    might_contain = F.pandas_udf(_might_contain, "boolean")

    train = docs.where(F.col("doc_id") % DECON_EVAL_MOD != 0)
    candidates = gram_sets(train).where(
        might_contain(F.xxhash64("g"))
    )
    # exact verify on the gram STRING restores exact semantics regardless
    # of Bloom false positives or hash collisions
    hits = (
        candidates.join(eval_g, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_shared_ngrams"),
            F.col("n").isNull().alias("is_clean"),
        )
    )


# --------------------------------------------------------------------------
# BPE tokenizer training (merge-rule learning over the word-count table)
# --------------------------------------------------------------------------
BPE_MERGES = 8
BPE_VOCAB = 2000  # top words by (count desc, word asc) enter training


@register(
    "q_bpe_merges",
    # Full DuckDB replay of the merge loop (r7 — was rows-only): a
    # recursive CTE carries the evolving (cnt, syms) vocab as ONE list-
    # valued row per round. Each step runs two laterals: the first counts
    # adjacent symbol pairs over the unnested vocab and picks the best
    # (support DESC, pair ASC — a single-space pair string compares
    # identically to the (a ASC, b ASC) tuple because ' ' sorts below
    # [a-z0-9]); the second rebuilds the vocab applying the merge as a
    # LEFT FOLD over each word's symbols (merge when the accumulator's
    # last token == a and the next symbol == b) — provably equivalent to
    # Spark's ' a b(?= )' global regex pass, whose scanner also resumes
    # after each replacement, and expressible in RE2-less SQL (DuckDB's
    # regexp has no lookahead — the reason this was rows-only). All
    # arithmetic is integer counts; recursion stops when no pair reaches
    # support 2 (empty lateral), mirroring the driver loop's break.
    # Exactness is additionally pinned by the pure-Python replay test.
    oracle=f"""WITH RECURSIVE toks AS (
  SELECT unnest({dd_tokens("text")}) AS w
    FROM documents WHERE text IS NOT NULL
),
wc AS (
  SELECT w, count(*) AS cnt FROM toks
   WHERE regexp_matches(w, '^[a-z0-9]+$')
   GROUP BY w ORDER BY cnt DESC, w ASC LIMIT {BPE_VOCAB}
),
v0 AS (
  SELECT cnt, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms FROM wc
),
steps AS (
  SELECT 0 AS r, CAST(NULL AS VARCHAR) AS pair,
         CAST(NULL AS VARCHAR) AS merged, CAST(NULL AS BIGINT) AS support,
         list({{'cnt': cnt, 'syms': syms}}) AS vocab
    FROM v0
  UNION ALL
  SELECT s.r + 1, f.pair, f.merged, f.support, f.vocab
    FROM steps s,
    LATERAL (
      -- one lateral: the 1-row best-pair subquery cross-joins the
      -- unnested vocab, so the merge lambda captures best.* as ordinary
      -- same-FROM columns (DuckDB 1.0 cannot bind a PRECEDING lateral's
      -- columns, nor outer lambda vars in nested lambdas, inside lambdas)
      SELECT best.pair, best.merged, best.support,
             list({{'cnt': t2.cnt, 'syms': list_reduce(
                 string_split(t2.syms, ' '),
                 (acc, x) -> CASE
                   WHEN x = best.b
                    AND (acc = best.a OR acc LIKE '% ' || best.a)
                   THEN substr(acc, 1, len(acc) - len(best.a)) || best.merged
                   ELSE acc || ' ' || x END)}}) AS vocab
        FROM (
          SELECT u.pair, sum(u.cnt) AS support,
                 string_split(u.pair, ' ')[1] AS a,
                 string_split(u.pair, ' ')[2] AS b,
                 replace(u.pair, ' ', '') AS merged
            FROM (
              SELECT t.cnt AS cnt,
                     unnest(list_transform(
                         range(1, len(string_split(t.syms, ' '))),
                         i -> string_split(t.syms, ' ')[i] || ' '
                              || string_split(t.syms, ' ')[i + 1])) AS pair
                FROM (SELECT unnest(s.vocab, recursive := true)) t(cnt, syms)
            ) u
           GROUP BY u.pair
          HAVING sum(u.cnt) >= 2
           ORDER BY support DESC, u.pair ASC
           LIMIT 1
        ) best,
        (SELECT unnest(s.vocab, recursive := true)) t2(cnt, syms)
       GROUP BY best.pair, best.merged, best.support, best.a, best.b
    ) f
   WHERE s.r < {BPE_MERGES}
)
SELECT r AS "rank", pair, merged, support FROM steps WHERE r >= 1
""",
    doc="BPE tokenizer training: the corpus reduces once to a (word, "
    "count) table — the ONLY corpus-bounded step (map-side-combined "
    f"token agg + top-{BPE_VOCAB} TakeOrdered) — and the {BPE_MERGES} "
    "sequential merge rounds run on the driver over that k-bounded "
    "vocab (the q_kmeans centroid discipline): per round, count "
    "adjacent symbol pairs weighted by word count, pick the max-support "
    "pair (ties to the lexicographically smallest), apply the merge "
    "with a left-to-right non-overlapping pass. At 100 TB training "
    "cost is independent of corpus size. Output: the ordered merge "
    "table (rank, pair, new symbol, support count).",
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w").rlike("^[a-z0-9]+$"))  # regex-safe symbols
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(BPE_VOCAB)
        # symbols as a space-separated char string: "hello" -> "h e l l o"
        .select(
            "cnt",
            F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("syms"),
        )
    )
    # r11 (guide §1.2 algorithm first, §5 driver bounds): the training
    # state is the top-BPE_VOCAB word table — k-bounded by construction,
    # exactly like q_kmeans' k centroids — so the 8 sequential merge
    # rounds run on the driver over the collected vocab instead of as 8
    # distributed jobs (each round was a fresh plan + head() + eager
    # localCheckpoint over a 2000-row table: pure scheduling overhead).
    # The corpus-bounded step (word count -> top-k) stays distributed.
    # Semantics are byte-identical to the previous in-plan loop: integer
    # pair supports, (support DESC, a ASC, b ASC) tie-break, and the same
    # left-to-right non-overlapping ' a b(?= )' merge regex — all pinned
    # by the pure-Python replay test and the recursive-CTE oracle.
    import re
    from collections import Counter

    rows = [(r["cnt"], r["syms"]) for r in vocab.collect()]
    merges = []
    for rank in range(1, BPE_MERGES + 1):
        pair_counts: Counter = Counter()
        for cnt, syms in rows:
            s = syms.split(" ")
            for a, b in zip(s, s[1:]):
                pair_counts[(a, b)] += cnt
        if not pair_counts:
            break
        (a, b), support = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if support < 2:
            break
        merges.append((rank, f"{a} {b}", a + b, int(support)))
        # left-to-right non-overlapping merge: the lookahead keeps the
        # trailing boundary unconsumed so "a a a" -> "aa a", like BPE
        # (symbols are [a-z0-9]+ so the pattern needs no escaping)
        pat = re.compile(f" {a} {b}(?= )")
        rows = [
            (cnt, pat.sub(f" {a + b}", f" {syms} ").strip())
            for cnt, syms in rows
        ]
    return local_frame(
        spark, merges, "rank int, pair string, merged string, support bigint"
    )


# --------------------------------------------------------------------------
# BPE ENCODE: apply a shipped merge table to the corpus (tokenizer inference)
# --------------------------------------------------------------------------
# The trained tokenizer as a model artifact: ordered merge rules, applied
# rank-by-rank (like the logistic weights of q_quality_logistic, the model
# rides the plan as fixed expressions, not as data). Rules chosen from the
# synthetic corpus's highest-support pairs so they actually fire.
BPE_ENCODE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "a"),
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("s", "h"),
    ("ta", "b"),
    ("l", "e"),
    ("tab", "le"),
)
_BPE_WORD_SEP = "␄"  # boundary symbol outside the merge alphabet


def _dd_bpe_fold(expr: str) -> str:
    """DuckDB expression applying the shipped merge rules in rank order to
    one word's space-joined symbol string (r7 — this made q_bpe_encode
    oracle-able): each rule is a LEFT FOLD over the symbol list — merge
    when the accumulator's last token is ``a`` and the next symbol is
    ``b`` — which is exactly the left-to-right non-overlapping semantics
    of Spark's ``' a b(?= )'`` global regex (whose scanner also resumes
    after each replacement). RE2's missing lookahead kept this rows-only;
    the fold needs no lookahead, and the rules are literals, so no lambda
    captures anything but plain columns."""
    for a, b in BPE_ENCODE_MERGES:
        expr = (
            f"list_reduce(string_split({expr}, ' '), (acc, x) -> CASE "
            f"WHEN x = '{b}' AND (acc = '{a}' OR acc LIKE '% {a}') "
            f"THEN substr(acc, 1, len(acc) - {len(a)}) || '{a + b}' "
            f"ELSE acc || ' ' || x END)"
        )
    return expr


# f-string expression parts cannot contain backslashes; build the fold over
# the char-split form ("hello" -> "h e l l o") ahead of the oracle literal
_DD_BPE_ENCODED = _dd_bpe_fold("trim(regexp_replace(w, '(.)', '\\1 ', 'g'))")


@register(
    "q_bpe_encode",
    # Full DuckDB replay (r7 — was rows-only): words unnested to rows, the
    # fixed merge chain applied per word via :func:`_dd_bpe_fold`, then a
    # per-doc rollup. Word-locality is free here (Spark joins words with a
    # boundary symbol no rule contains; the fold simply never sees other
    # words), and the boundary-symbol count correction drops out — per-word
    # token counts sum directly. Exactness also pinned by the pure-Python
    # replay test.
    oracle=f"""WITH words AS (
  SELECT doc_id, unnest(list_filter({dd_tokens("text")},
                 w -> regexp_matches(w, '^[a-z0-9]+$'))) AS w
    FROM documents WHERE text IS NOT NULL
),
encoded AS (
  SELECT doc_id, len(w) AS n_chars,
         len(string_split({_DD_BPE_ENCODED}, ' ')) AS n_tok
    FROM words
),
per_doc AS (
  SELECT doc_id,
         count(*) AS n_words,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_alnum,
         CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
    FROM encoded GROUP BY doc_id
)
SELECT doc_id, CAST(n_words AS INT) AS n_words, n_chars_alnum, n_bpe_tokens,
       round(CAST(n_chars_alnum AS DOUBLE) / n_bpe_tokens, 6)
         AS chars_per_token
  FROM per_doc
""",
    doc="BPE tokenizer INFERENCE over the corpus: chars -> symbols via the "
    f"{len(BPE_ENCODE_MERGES)} shipped merge rules applied in rank order "
    "(left-to-right non-overlapping, word-bounded). The merge table is a "
    "model artifact baked into the plan as a fixed regexp_replace chain — "
    "fully codegen'd, no Python in the hot path, no joins, no shuffle "
    "before the final stats projection; the per-doc outputs (word count, "
    "BPE token count, chars-per-token compression) are the numbers a "
    "token-budget planner needs from a 100 TB corpus in one scan.",
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    words = F.filter(
        tokens(F.col("text")), lambda w: w.rlike("^[a-z0-9]+$")
    )
    # each word char-split ("hello" -> "h e l l o"), words joined by the
    # boundary symbol so no merge crosses a word edge
    syms = F.array_join(
        F.transform(
            words,
            lambda w: F.trim(F.regexp_replace(w, "(.)", "$1 ")),
        ),
        f" {_BPE_WORD_SEP} ",
    )
    enc = F.concat(F.lit(" "), syms, F.lit(" "))
    for a, b in BPE_ENCODE_MERGES:
        enc = F.regexp_replace(enc, f" {a} {b}(?= )", f" {a + b}")
    n_words = F.size(words)
    n_syms = F.size(
        F.filter(
            F.split(F.trim(enc), " "), lambda s: s != F.lit("")
        )
    )
    n_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    # boundary symbols are counted in n_syms; subtract them back out
    n_tokens = n_syms - F.greatest(n_words - 1, F.lit(0))
    return (
        docs.select(
            "doc_id",
            n_words.alias("n_words"),
            n_chars.alias("n_chars_alnum"),
            n_tokens.alias("n_bpe_tokens"),
        )
        .where(F.col("n_words") > 0)
        .withColumn(
            "chars_per_token",
            F.round(
                F.col("n_chars_alnum").cast("double")
                / F.col("n_bpe_tokens"),
                6,
            ),
        )
    )


# --------------------------------------------------------------------------
# T5-style span-corruption planning (pretraining objective prep)
# --------------------------------------------------------------------------
SPAN_LEN = 3  # tokens per corruption span
SPAN_MASK_PCT = 15  # percent of spans masked


@register(
    "q_span_mask",
    oracle=f"""WITH d AS (
  SELECT doc_id, len({dd_tokens("text")}) AS n_tokens
    FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT doc_id, n_tokens,
         CAST(ceil(n_tokens / {SPAN_LEN}.0) AS BIGINT) AS n_spans
    FROM d WHERE n_tokens > 0
),
m AS (
  SELECT doc_id, n_tokens, n_spans,
         CAST(list_aggregate(list_transform(
             generate_series(0, CAST(n_spans AS INT) - 1),
             i -> CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                        || ':' || CAST(i AS VARCHAR)), 1, 7) AS BIGINT)
                       % 100 < {SPAN_MASK_PCT}
                  THEN CASE WHEN i < n_spans - 1 THEN {SPAN_LEN}
                            ELSE n_tokens - {SPAN_LEN} * (n_spans - 1) END
                  ELSE 0 END), 'sum') AS BIGINT) AS n_tokens_masked,
         CAST(list_aggregate(list_transform(
             generate_series(0, CAST(n_spans AS INT) - 1),
             i -> CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                        || ':' || CAST(i AS VARCHAR)), 1, 7) AS BIGINT)
                       % 100 < {SPAN_MASK_PCT}
                  THEN 1 ELSE 0 END), 'sum') AS BIGINT) AS n_spans_masked
    FROM s
)
SELECT doc_id, n_tokens, n_spans, n_spans_masked, n_tokens_masked,
       round(CAST(n_tokens_masked AS DOUBLE) / n_tokens, 6) AS mask_ratio,
       n_tokens - n_tokens_masked + n_spans_masked AS input_len,
       n_tokens_masked + n_spans_masked AS target_len
  FROM m
""",
    doc="T5-style span-corruption planning: tokens grouped into "
    f"{SPAN_LEN}-token spans, ~{SPAN_MASK_PCT}% of spans selected by a "
    "salted-hash draw (deterministic => reproducible masking AND oracle-"
    "checkable), per-doc masked-token census plus the encoder/decoder "
    "sequence lengths (masked spans collapse to one sentinel each) a "
    "pretraining batch planner needs. Entirely row-local — the span draw "
    "is a fold over sequence(0, n_spans), no explode, no shuffle: the "
    "whole objective plan for a 100 TB corpus is one narrow scan.",
)
def q_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    n_tokens = F.size(tokens(F.col("text")))
    base = docs.select("doc_id", n_tokens.alias("n_tokens")).where(
        F.col("n_tokens") > 0
    )
    n_spans = F.ceil(F.col("n_tokens") / SPAN_LEN).cast("bigint")

    def _drawn(i):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        i.cast("string"),
                    )
                ),
                1,
                7,
            ),
            16,
            10,
        ).cast("bigint")
        return (h % 100) < SPAN_MASK_PCT

    span_ids = F.sequence(F.lit(0), (F.col("n_spans") - 1).cast("int"))
    last_w = F.col("n_tokens") - SPAN_LEN * (F.col("n_spans") - 1)
    width = lambda i: F.when(  # noqa: E731
        i < F.col("n_spans") - 1, F.lit(SPAN_LEN)
    ).otherwise(last_w)
    masked_tokens = F.aggregate(
        span_ids,
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.when(_drawn(i), width(i)).otherwise(F.lit(0)).cast("bigint"),
    )
    masked_spans = F.aggregate(
        span_ids,
        F.lit(0).cast("bigint"),
        lambda acc, i: acc + F.when(_drawn(i), 1).otherwise(0).cast("bigint"),
    )
    return (
        base.withColumn("n_spans", n_spans)
        .withColumn("n_spans_masked", masked_spans)
        .withColumn("n_tokens_masked", masked_tokens)
        .select(
            "doc_id",
            "n_tokens",
            "n_spans",
            "n_spans_masked",
            "n_tokens_masked",
            F.round(
                F.col("n_tokens_masked").cast("double") / F.col("n_tokens"), 6
            ).alias("mask_ratio"),
            (
                F.col("n_tokens")
                - F.col("n_tokens_masked")
                + F.col("n_spans_masked")
            ).alias("input_len"),
            (F.col("n_tokens_masked") + F.col("n_spans_masked")).alias(
                "target_len"
            ),
        )
    )
