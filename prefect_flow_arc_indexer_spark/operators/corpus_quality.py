"""Corpus-quality / training-data-prep operators (north-star extension
surface, ABSENT in the reference — SURVEY §7 Phase 4 family).

These are the remaining pieces of the standard LLM-corpus pipeline around
the dedup/text-analysis operators that already exist:

- `q_bm25`: BM25 term-document ranking — the Spark-owned analog of the
  QUERY side of the reference's Elasticsearch sink (ES's default relevance
  function is BM25; the reference delegates scoring to ES at
  flows/main_flow.py:413 the same way it delegates inverted-index builds).
- `q_gopher_rules`: composite Gopher-style quality filter — the
  keep/drop verdict plus the first failed rule per document.
- `q_ks_drift` / `q_psi_drift`: distribution-drift monitors between the
  deterministic train/holdout splits (two-sample Kolmogorov-Smirnov
  statistic; population-stability index over fixed bins) — the checks a
  pipeline runs before accepting a new crawl snapshot into training.
- `q_winsorize`: per-language p05/p95 winsorization of a length feature —
  robust-preprocessing companion to q_mad.
- `q_cooccurrence`: within-document term co-occurrence with PMI — the
  embedding-training / phrase-mining prep aggregate.
- `q_pack_sequences`: greedy document->context-window packing map
  (pack id + offset per doc) — the batch-assembly step of LLM training.
- `q_reservoir_sample`: deterministic k-per-stratum uniform sample
  (hash-ordered "reservoir") — exact-k companion to the percentage-based
  q_stratified_sample.

Scale notes are per-operator; the common theme is that every aggregate
here shuffles SUMMARIES (per-term, per-bin, per-group rows), never raw
text, and every per-row decision is a scan-side projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from prefect_flow_arc_indexer_spark.functions.hashing import (
    dd_stable_hash,
    stable_hash,
)
from prefect_flow_arc_indexer_spark.functions.pairs import in_row_pairs
from prefect_flow_arc_indexer_spark.functions.textfns import (
    STOPWORDS,
    dd_tokens,
    tokens,
)
from prefect_flow_arc_indexer_spark.operators.sampling import (
    TRAIN_PCT,
    SPLIT_SALT,
    _dd_bucket,
    split_bucket,
)
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

# BM25 constants (the Lucene/ES defaults — the reference's sink scores with
# exactly these via ES's default similarity)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10

_TOKS_CTE = f"""toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok
    FROM documents WHERE text IS NOT NULL
)"""


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .where(F.col("text").isNotNull())
        .select("doc_id", tokens(F.col("text")).alias("tok"))
    )


# --------------------------------------------------------------------------
# BM25 ranking
# --------------------------------------------------------------------------
@register(
    "q_bm25",
    oracle=f"""WITH {_TOKS_CTE},
dl AS (SELECT doc_id, len(tok) AS dl FROM toks),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, t.term, count(*) AS tf
    FROM toks, unnest(tok) AS t(term) GROUP BY doc_id, t.term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.term, tf.doc_id, tf.tf,
         round(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl / s.avgdl)),
               6) AS bm25
    FROM tf
    JOIN df USING (term)
    JOIN dl d USING (doc_id)
    CROSS JOIN stats s
)
SELECT term, doc_id, tf, bm25, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY term
                               ORDER BY bm25 DESC, doc_id ASC) AS rk
    FROM scored
) WHERE rk <= {BM25_TOP_K}
""",
    doc="BM25 term-document ranking (Lucene/ES defaults k1=1.2 b=0.75, the "
    "scoring the reference delegates to its ES sink): per-doc (term, tf) "
    "lists are computed ROW-LOCALLY on each doc's own token array and "
    "exploded with doc length in the same row — no (doc,term) groupBy "
    "shuffle and no doc-keyed dl join; df rolls up from that stream and "
    "broadcasts back with the 1-row corpus stats; "
    f"top-{BM25_TOP_K} docs per term via a per-term window. Ranking "
    "compares the 6dp-ROUNDED score (both engines), so rank order can "
    "never diverge on a last-ulp ln() difference. At 100 TB the only "
    "full-corpus shuffle is the (doc,term) tf aggregate — partial "
    "aggregation compresses it map-side; everything after is per-term "
    "summary traffic",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _toks(spark, sf_dir)
    # tf computed ROW-LOCALLY: each doc's (term, tf) list is array math on
    # its own token array, exploded with the doc length carried in the same
    # row — this deletes both the (doc_id, term) groupBy shuffle and the
    # doc-keyed dl join that a relational formulation pays (the oracle's
    # shape). Per-doc cost is O(distinct * len), bounded by doc size.
    tok = F.col("tok")
    tf_entries = F.transform(
        F.array_distinct(tok),
        lambda term: F.struct(
            term.alias("term"),
            F.size(F.filter(tok, lambda x: x == term)).alias("tf"),
        ),
    )
    tf = t.select(
        "doc_id",
        F.size("tok").alias("dl"),
        F.explode(tf_entries).alias("e"),
    ).select("doc_id", "dl", "e.term", "e.tf")
    stats = t.select(F.size("tok").alias("dl")).agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            "tf",
            F.round(idf * F.col("tf") * (BM25_K1 + 1) / norm, 6).alias("bm25"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= BM25_TOP_K)
    )


# --------------------------------------------------------------------------
# Gopher-style composite quality filter
# --------------------------------------------------------------------------
_EN_STOP = STOPWORDS["en"]
GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOP_HITS = 2


def gopher_cols(tok: Column, text: Column) -> dict[str, Column]:
    """Row-local Gopher signal/verdict expressions over a token-array and
    text column — the single source of the rule family, shared by
    q_gopher_rules and the fused single-scan composers (q_quality_ensemble,
    q_conformal_threshold, …) so the verdict cannot drift between the
    standalone operator and the pipelines that embed it. Thresholds
    compare the RAW ratio values; only the output columns are rounded,
    exactly as the oracle does."""
    n_tokens = F.size(tok)
    char_sum = F.aggregate(
        F.transform(tok, lambda t: F.length(t)), F.lit(0), lambda a, v: a + v
    )
    mean_word_len = char_sum.cast("double") / F.greatest(n_tokens, F.lit(1))
    symbol_ratio = F.length(
        F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    ).cast("double") / F.greatest(F.length(text), F.lit(1))
    stop_hits = F.size(F.filter(tok, lambda t: t.isin(*_EN_STOP)))
    fail = (
        F.when(
            (n_tokens < GOPHER_MIN_TOKENS) | (n_tokens > GOPHER_MAX_TOKENS),
            F.lit("n_tokens"),
        )
        .when(
            (mean_word_len < GOPHER_MIN_WORD_LEN)
            | (mean_word_len > GOPHER_MAX_WORD_LEN),
            F.lit("word_len"),
        )
        .when(symbol_ratio > GOPHER_MAX_SYMBOL_RATIO, F.lit("symbol_ratio"))
        .when(stop_hits < GOPHER_MIN_STOP_HITS, F.lit("stopwords"))
    )
    keep = (
        (n_tokens >= GOPHER_MIN_TOKENS)
        & (n_tokens <= GOPHER_MAX_TOKENS)
        & (mean_word_len >= GOPHER_MIN_WORD_LEN)
        & (mean_word_len <= GOPHER_MAX_WORD_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return {
        "n_tokens": n_tokens,
        "mean_word_len": F.round(mean_word_len, 4),
        "symbol_ratio": F.round(symbol_ratio, 4),
        "stop_hits": stop_hits,
        "fail_reason": fail,
        "keep": keep,
    }


@register(
    "q_gopher_rules",
    oracle=f"""WITH {_TOKS_CTE},
sig AS (
  SELECT doc_id,
         len(tok) AS n_tokens,
         CAST(coalesce(list_aggregate(list_transform(tok, t -> length(t)), 'sum'), 0) AS DOUBLE)
           / greatest(len(tok), 1) AS mean_word_len,
         CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS symbol_ratio,
         len(list_filter(tok, t -> list_contains({list(_EN_STOP)!r}, t))) AS stop_hits
    FROM toks JOIN documents USING (doc_id)
)
SELECT doc_id, n_tokens, round(mean_word_len, 4) AS mean_word_len,
       round(symbol_ratio, 4) AS symbol_ratio, stop_hits,
       CASE
         WHEN n_tokens < {GOPHER_MIN_TOKENS} OR n_tokens > {GOPHER_MAX_TOKENS} THEN 'n_tokens'
         WHEN mean_word_len < {GOPHER_MIN_WORD_LEN} OR mean_word_len > {GOPHER_MAX_WORD_LEN} THEN 'word_len'
         WHEN symbol_ratio > {GOPHER_MAX_SYMBOL_RATIO} THEN 'symbol_ratio'
         WHEN stop_hits < {GOPHER_MIN_STOP_HITS} THEN 'stopwords'
         ELSE NULL
       END AS fail_reason,
       (n_tokens >= {GOPHER_MIN_TOKENS} AND n_tokens <= {GOPHER_MAX_TOKENS}
        AND mean_word_len >= {GOPHER_MIN_WORD_LEN} AND mean_word_len <= {GOPHER_MAX_WORD_LEN}
        AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
        AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
  FROM sig
""",
    doc="composite Gopher-style quality filter (Rae et al. 2021 rule "
    "family): token-count bounds, mean-word-length band, symbol ratio, "
    "minimum stopword hits — each signal row-local over one token "
    "projection, combined into a keep verdict plus the FIRST failed rule "
    "(the triage field a curation dashboard aggregates). Pure scan-side "
    "projection: zero shuffles at any scale. Ratio signals rounded 4dp in "
    "the OUTPUT only; rule thresholds compare the raw values, which are "
    "exact integer/length arithmetic on both engines",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .where(F.col("text").isNotNull())
        .withColumn("tok", tokens(F.col("text")))
    )
    g = gopher_cols(F.col("tok"), F.col("text"))
    return docs.select(
        "doc_id",
        g["n_tokens"].alias("n_tokens"),
        g["mean_word_len"].alias("mean_word_len"),
        g["symbol_ratio"].alias("symbol_ratio"),
        g["stop_hits"].alias("stop_hits"),
        g["fail_reason"].alias("fail_reason"),
        g["keep"].alias("keep"),
    )


# --------------------------------------------------------------------------
# split drift: two-sample KS statistic
# --------------------------------------------------------------------------
_DD_MARKED = f"""marked AS (
  SELECT n_chars,
         CASE WHEN {_dd_bucket(SPLIT_SALT)} < {TRAIN_PCT} THEN 1 ELSE 0 END AS is_train
    FROM documents WHERE n_chars IS NOT NULL
)"""


def _marked(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull()
    )
    return docs.select(
        "n_chars",
        (split_bucket(F.col("doc_id"), SPLIT_SALT) < TRAIN_PCT)
        .cast("int")
        .alias("is_train"),
    )


@register(
    "q_ks_drift",
    oracle=f"""WITH {_DD_MARKED},
per_v AS (
  SELECT n_chars AS v,
         CAST(sum(is_train) AS BIGINT) AS ca,
         CAST(sum(1 - is_train) AS BIGINT) AS cb
    FROM marked GROUP BY n_chars
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
    FROM per_v
),
cum AS (
  SELECT CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
    FROM per_v
)
SELECT t.na AS n_train, t.nb AS n_holdout,
       max(round(abs(CAST(c.cum_a AS DOUBLE) / t.na
                     - CAST(c.cum_b AS DOUBLE) / t.nb), 6)) AS ks_stat
  FROM cum c CROSS JOIN tot t
 GROUP BY t.na, t.nb
""",
    doc="two-sample Kolmogorov-Smirnov drift statistic between the "
    "deterministic train/holdout splits on the n_chars feature: "
    "D = max |ECDF_train - ECDF_holdout|, computed from per-value counts "
    "(one bounded-cardinality aggregate) and a cumulative window over the "
    "sorted distinct values. Every cum/total ratio is exact-integer-"
    "derived, so the statistic is bit-stable; the abs difference is "
    "rounded BEFORE max so both engines rank identical values. The "
    "single-partition cumulative window runs over |distinct feature "
    "values| rows, not corpus rows — at 100 TB you'd pre-bin a continuous "
    "feature to keep that bounded (q_psi_drift is exactly that shape)",
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_v = (
        _marked(spark, sf_dir)
        .groupBy(F.col("n_chars").alias("v"))
        .agg(
            F.sum("is_train").alias("ca"),
            F.sum(1 - F.col("is_train")).alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = per_v.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    diff = F.round(
        F.abs(
            F.col("cum_a").cast("double") / F.col("na")
            - F.col("cum_b").cast("double") / F.col("nb")
        ),
        6,
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy(F.col("na").alias("n_train"), F.col("nb").alias("n_holdout"))
        .agg(F.max(diff).alias("ks_stat"))
    )


# --------------------------------------------------------------------------
# split drift: population stability index over fixed bins
# --------------------------------------------------------------------------
PSI_BINS = 10


@register(
    "q_psi_drift",
    oracle=f"""WITH {_DD_MARKED},
bounds AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM marked),
binned AS (
  SELECT least({PSI_BINS - 1},
               ((m.n_chars - b.lo) * {PSI_BINS}) // (b.hi - b.lo + 1)) AS bin,
         m.is_train
    FROM marked m CROSS JOIN bounds b
),
per_bin AS (
  SELECT bin,
         CAST(sum(is_train) AS BIGINT) AS ca,
         CAST(sum(1 - is_train) AS BIGINT) AS cb
    FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
    FROM per_bin
)
SELECT p.bin, p.ca AS n_train, p.cb AS n_holdout,
       round(((p.ca + 0.5) / (t.na + {PSI_BINS} * 0.5)
              - (p.cb + 0.5) / (t.nb + {PSI_BINS} * 0.5))
             * ln(((p.ca + 0.5) / (t.na + {PSI_BINS} * 0.5))
                  / ((p.cb + 0.5) / (t.nb + {PSI_BINS} * 0.5))), 6)
         AS psi_term
  FROM per_bin p CROSS JOIN tot t
""",
    doc="population-stability-index drift monitor between the train/holdout "
    f"splits: {PSI_BINS} equal-width bins over the global n_chars range "
    "(integer bin arithmetic, exact on both engines), per-bin "
    "(p_a - p_b) * ln(p_a / p_b) contributions with Laplace smoothing "
    "(+0.5 per bin) so empty bins never divide by zero; sum of psi_term "
    "is the PSI. Bin assignment is a scan-side projection against a "
    "broadcast 1-row bounds frame; only per-bin summaries shuffle — the "
    "bounded-cardinality companion to q_ks_drift at 100 TB",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    marked = _marked(spark, sf_dir)
    bounds = marked.agg(
        F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
    )
    binned = marked.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(PSI_BINS - 1),
            F.expr(f"((n_chars - lo) * {PSI_BINS}) div (hi - lo + 1)"),
        ).alias("bin"),
        "is_train",
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("is_train").alias("ca"),
        F.sum(1 - F.col("is_train")).alias("cb"),
    )
    tot = per_bin.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    pa = (F.col("ca") + 0.5) / (F.col("na") + PSI_BINS * 0.5)
    pb = (F.col("cb") + 0.5) / (F.col("nb") + PSI_BINS * 0.5)
    return per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("ca").alias("n_train"),
        F.col("cb").alias("n_holdout"),
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
    )


# --------------------------------------------------------------------------
# winsorization
# --------------------------------------------------------------------------
WINSOR_LO = 0.05
WINSOR_HI = 0.95


@register(
    "q_winsorize",
    oracle=f"""WITH q AS (
  SELECT lang,
         quantile_cont(n_chars, {WINSOR_LO}) AS p05,
         quantile_cont(n_chars, {WINSOR_HI}) AS p95
    FROM documents GROUP BY lang
)
SELECT d.lang,
       round(any_value(q.p05), 4) AS p05,
       round(any_value(q.p95), 4) AS p95,
       count(*) AS n,
       round(avg(CAST(d.n_chars AS DOUBLE)), 4) AS mean_raw,
       round(avg(least(greatest(CAST(d.n_chars AS DOUBLE), q.p05), q.p95)), 4)
         AS mean_winsorized
  FROM documents d JOIN q USING (lang)
 GROUP BY d.lang
""",
    doc="per-language winsorization of the n_chars feature: exact "
    "p05/p95 per group (companion pass to q_mad's median), values clipped "
    "into [p05, p95], mean before/after — the robust-preprocessing step "
    "that tames heavy-tailed length features before normalization. Two "
    "same-key passes; the tiny per-lang quantile frame broadcasts back "
    "onto the fact scan. Means rounded 4dp (float sum order across "
    "partitions is the only nondeterminism; at 4dp over 1e3-row groups "
    "the bound is ~1e-9 relative, far inside the rounding)",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    q = docs.groupBy("lang").agg(
        F.percentile("n_chars", WINSOR_LO).alias("p05"),
        F.percentile("n_chars", WINSOR_HI).alias("p95"),
    )
    v = F.col("n_chars").cast("double")
    clipped = F.least(F.greatest(v, F.col("p05")), F.col("p95"))
    return (
        docs.join(F.broadcast(q), "lang")
        .groupBy("lang")
        .agg(
            F.round(F.any_value("p05"), 4).alias("p05"),
            F.round(F.any_value("p95"), 4).alias("p95"),
            F.count("*").alias("n"),
            F.round(F.avg(v), 4).alias("mean_raw"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
        )
    )


# --------------------------------------------------------------------------
# term co-occurrence + PMI
# --------------------------------------------------------------------------
COOCCUR_MIN_PAIRS = 5


@register(
    "q_cooccurrence",
    oracle=f"""WITH {_TOKS_CTE},
words AS (
  SELECT DISTINCT doc_id, t.term FROM toks, unnest(tok) AS t(term)
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM words),
df AS (SELECT term, count(*) AS df FROM words GROUP BY term),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_pair
    FROM words a JOIN words b
      ON a.doc_id = b.doc_id AND a.term < b.term
   GROUP BY a.term, b.term
)
SELECT p.term_a, p.term_b, p.n_pair,
       round(ln(CAST(p.n_pair AS DOUBLE) * n.n_docs
                / (CAST(da.df AS DOUBLE) * db.df)), 6) AS pmi
  FROM pairs p
  JOIN df da ON da.term = p.term_a
  JOIN df db ON db.term = p.term_b
  CROSS JOIN n
 WHERE p.n_pair >= {COOCCUR_MIN_PAIRS}
""",
    doc="within-document term co-occurrence with pointwise mutual "
    "information (phrase-mining / embedding-prep aggregate): each doc's "
    "distinct term set is built ROW-LOCALLY (array_sort + array_distinct "
    "on its own tokens — zero shuffles, vs the oracle's exploded "
    "DISTINCT), ordered pairs are generated from that sorted set by "
    "array combinatorics inside codegen (the lsh_candidate_pairs "
    "pattern, not a doc-keyed self-join), then one per-pair count whose "
    "cardinality is bounded by vocab^2, not corpus size; document "
    "frequencies broadcast back onto the pair set. Pairs below "
    f"{COOCCUR_MIN_PAIRS} occurrences are dropped",
)
def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _toks(spark, sf_dir)
    # per-doc distinct term set built ROW-LOCALLY (array_sort+array_distinct
    # on the doc's own tokens) — the relational formulation's
    # explode+DISTINCT is a full word-stream shuffle that the plan would
    # then recompute for each consumer; here set construction costs zero
    # shuffles and the exploded stream below is already distinct-per-doc
    per_doc = t.select(
        "doc_id", F.array_distinct(F.array_sort("tok")).alias("terms")
    )
    # the oracle counts docs with >= 1 token (empty/whitespace-only texts
    # produce no `words` rows there) — mirror that
    n = per_doc.where(F.size("terms") > 0).agg(
        F.count("*").alias("n_docs")
    )
    df = (
        per_doc.select(F.explode("terms").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    pairs = (
        per_doc.select(
            F.explode(in_row_pairs("terms", "term_a", "term_b")).alias("p")
        )
        .groupBy("p.term_a", "p.term_b")
        .agg(F.count("*").alias("n_pair"))
        .where(F.col("n_pair") >= COOCCUR_MIN_PAIRS)
    )
    pmi = F.log(
        F.col("n_pair").cast("double")
        * F.col("n_docs")
        / (F.col("da_df").cast("double") * F.col("db_df"))
    )
    return (
        pairs.join(
            F.broadcast(df.select(F.col("term").alias("term_a"),
                                  F.col("df").alias("da_df"))),
            "term_a",
        )
        .join(
            F.broadcast(df.select(F.col("term").alias("term_b"),
                                  F.col("df").alias("db_df"))),
            "term_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "term_a", "term_b", "n_pair", F.round(pmi, 6).alias("pmi")
        )
    )


# --------------------------------------------------------------------------
# sequence packing
# --------------------------------------------------------------------------
PACK_CONTEXT = 512


@register(
    "q_pack_sequences",
    oracle=f"""WITH {_TOKS_CTE},
t AS (SELECT doc_id, len(tok) AS n_tokens FROM toks)
SELECT doc_id, n_tokens,
       CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) // {PACK_CONTEXT} AS pack_id,
       CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) % {PACK_CONTEXT} AS pack_offset
  FROM t
""",
    doc=f"document->context-window packing map ({PACK_CONTEXT}-token "
    "windows): docs concatenated in doc_id order, each doc assigned the "
    "pack where its first token lands plus its offset — the deterministic "
    "batch-assembly step of LLM training (GPT-style streaming concat). "
    "Exact integer window arithmetic. The doc_id-ordered prefix sum is "
    "the DETERMINISM CONTRACT of this operator and runs in the two-pass "
    "distrank.global_cumsum form (parallel range sort + broadcast "
    "offsets; exclusive start = inclusive cum - own length), so packing "
    "is parallel at any cardinality without changing the assignment",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prefect_flow_arc_indexer_spark.operators.distrank import (
        global_cumsum,
    )

    t = _toks(spark, sf_dir).select(
        "doc_id", F.size("tok").alias("n_tokens")
    )
    cum = global_cumsum(
        t, F.col("n_tokens"), [F.col("doc_id").asc()], "_cum"
    )
    rel = cum.ckpt_release  # distrank's pinned-partitioning handle
    start = (
        F.col("_cum") - F.coalesce(F.col("n_tokens"), F.lit(0))
    ).cast("bigint")
    out = cum.select(
        "doc_id", "n_tokens", start.alias("_start")
    ).select(
        "doc_id",
        "n_tokens",
        F.expr(f"_start div {PACK_CONTEXT}").alias("pack_id"),
        (F.col("_start") % PACK_CONTEXT).alias("pack_offset"),
    )
    out.ckpt_release = rel
    return out


# --------------------------------------------------------------------------
# dataset card
# --------------------------------------------------------------------------
@register(
    "q_dataset_card",
    oracle=f"""WITH {_TOKS_CTE},
enriched AS (
  SELECT d.source, d.lang, d.n_chars,
         coalesce(len(t.tok), 0) AS n_tokens,
         {dd_stable_hash("d.text")} AS text_h
    FROM documents d LEFT JOIN toks t USING (doc_id)
)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT text_h) AS n_unique_texts,
       round(1.0 - CAST(count(DISTINCT text_h) AS DOUBLE) / count(*), 6)
         AS dup_rate,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens
  FROM enriched
 GROUP BY source, lang
""",
    doc="dataset-card rollup: the per-(source, lang) summary a corpus "
    "release ships — doc counts, token/char totals, distinct-content "
    "count with duplicate rate, token-length extrema. One grouped "
    "aggregate over scan-side projections (token counts and the content "
    "hash are row-local); the distinct-count is per-group exact (the "
    "shuffle carries one hash per row — at 100 TB swap in "
    "approx_count_distinct / q_hll_merge for the summary-only path, "
    "noted because dataset cards tolerate estimates). NULL lang/source "
    "form their own groups; NULL text hashes to NULL (md5 propagates) and "
    "both engines' COUNT(DISTINCT) skip NULLs identically, so an all-NULL "
    "group reports 0 unique texts / dup_rate 1.0 on both sides",
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "n_chars",
        F.coalesce(F.size(tokens(F.col("text"))), F.lit(0)).alias(
            "n_tokens"
        ),
        stable_hash(F.col("text")).alias("text_h"),
    )
    return docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.count_distinct("text_h").alias("n_unique_texts"),
        F.round(
            1.0 - F.count_distinct("text_h").cast("double") / F.count("*"), 6
        ).alias("dup_rate"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# deterministic k-per-stratum reservoir sample
# --------------------------------------------------------------------------
RESERVOIR_K = 5
RESERVOIR_SALT = "res:"


@register(
    "q_reservoir_sample",
    oracle=f"""SELECT source, doc_id, rk FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {dd_stable_hash(f"concat('{RESERVOIR_SALT}', CAST(doc_id AS VARCHAR))")} ASC,
                    doc_id ASC) AS rk
    FROM documents
) WHERE rk <= {RESERVOIR_K}
""",
    doc=f"deterministic {RESERVOIR_K}-per-stratum uniform sample: order "
    "each source's docs by the salted engine-stable hash (a fixed random "
    "permutation) and keep the first k — reservoir-sample semantics with "
    "reproducibility across runs/cluster shapes, the exact-k companion "
    "to the percentage-based q_stratified_sample. One per-stratum window; "
    "at 100 TB the same result comes from a per-partition top-k "
    "(takeOrdered per group) without a full sort — semantics identical "
    "because the hash order is data-independent",
)
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    order = stable_hash(
        F.concat(F.lit(RESERVOIR_SALT), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(
        order.asc(), F.col("doc_id").asc()
    )
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") <= RESERVOIR_K)
    )


# --------------------------------------------------------------------------
# categorical independence: chi-square + Cramér's V
# --------------------------------------------------------------------------
@register(
    "q_chi_square",
    oracle="""WITH obs AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
    FROM documents GROUP BY source, lang
),
rows_ AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY source),
cols_ AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY lang),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
cells AS (
  SELECT o.o, CAST(r.r AS DOUBLE) * c.c / t.n AS e
    FROM obs o
    JOIN rows_ r ON r.source = o.source
    JOIN cols_ c ON c.lang = o.lang, tot t
)
SELECT round(sum((o - e) * (o - e) / e), 6) AS chi2,
       (SELECT CAST((count(DISTINCT source) - 1)
                    * (count(DISTINCT lang) - 1) AS BIGINT)
          FROM documents) AS dof,
       round(sqrt(sum((o - e) * (o - e) / e)
                  / ((SELECT n FROM tot)
                     * least((SELECT count(DISTINCT source) - 1 FROM documents),
                             (SELECT count(DISTINCT lang) - 1 FROM documents)))),
             6) AS cramers_v
  FROM cells
""",
    doc="chi-square independence test between two categorical columns "
    "(source x lang) with Cramér's V effect size — the 'is my corpus mix "
    "confounded' check beside the KS/PSI drift monitors; observed and "
    "marginal counts are exact integers (|sources| x |langs|-bounded "
    "frames), expectations computed once per cell, one rounded statistic",
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("source", "lang").agg(F.count("*").alias("o"))
    rows_ = obs.groupBy("source").agg(F.sum("o").cast("long").alias("r"))
    cols_ = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("c"))
    tot = obs.agg(
        F.sum("o").cast("long").alias("n"),
        (F.count_distinct("source") - 1).alias("dr"),
        (F.count_distinct("lang") - 1).alias("dc"),
    )
    cells = (
        obs.join(F.broadcast(rows_), "source")
        .join(F.broadcast(cols_), "lang")
        .join(F.broadcast(tot))
        .select(
            "o",
            (F.col("r").cast("double") * F.col("c") / F.col("n")).alias("e"),
            "n",
            "dr",
            "dc",
        )
    )
    chi2 = F.sum(
        (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    )
    return cells.groupBy("n", "dr", "dc").agg(chi2.alias("chi2_raw")).select(
        F.round(F.col("chi2_raw"), 6).alias("chi2"),
        (F.col("dr") * F.col("dc")).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2_raw") / (F.col("n") * F.least("dr", "dc"))
            ),
            6,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Zipf rank-frequency fit
# --------------------------------------------------------------------------
ZIPF_TOP_N = 30


@register(
    "q_zipf_fit",
    oracle=f"""WITH {_TOKS_CTE},
stream AS (SELECT t.term FROM toks, unnest(tok) AS t(term)),
freq AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM stream GROUP BY term),
ranked AS (
  SELECT term, n,
         row_number() OVER (ORDER BY n DESC, term ASC) AS rnk
    FROM freq
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
           AS zipf_slope,
       round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
           AS fit_r2
  FROM ranked WHERE rnk <= {ZIPF_TOP_N}
""",
    doc=f"Zipf rank-frequency fit: ln(freq) ~ ln(rank) regression slope "
    f"over the top-{ZIPF_TOP_N} terms (natural corpora sit near -1; "
    "word-salad or boilerplate-heavy corpora deviate) — a one-number "
    "corpus health check; term counts are exact, the rank order is fully "
    "tie-broken, and the regression runs over a "
    f"{ZIPF_TOP_N}-row frame",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    stream = docs.where(F.col("text").isNotNull()).select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    freq = stream.groupBy("term").agg(F.count("*").alias("n"))
    # top-k FIRST via orderBy+limit (plans as TakeOrderedAndProject —
    # parallel partial top-k per partition, no single-task sort of the
    # vocabulary table, which at web scale is 1e8-1e9 raw terms), then
    # number the 30 survivors; identical to rank-then-filter because the
    # window orders by the same total (n DESC, term ASC) key — the
    # q_pagerank pattern (graph_text.py), VERDICT r10 task 2.
    ranked = (
        freq.orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(ZIPF_TOP_N)
        .select(
            "term",
            "n",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("term").asc()))
            .alias("rnk"),
        )
    )
    ln_n = F.log(F.col("n").cast("double"))
    ln_r = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.round(F.regr_slope(ln_n, ln_r), 6).alias("zipf_slope"),
        F.round(F.regr_r2(ln_n, ln_r), 6).alias("fit_r2"),
    )


# --------------------------------------------------------------------------
# quality-signal fusion: majority vote over the registered quality operators
# --------------------------------------------------------------------------
ENSEMBLE_ENTROPY_MIN = 4.0  # vote threshold on the rounded char entropy
ENSEMBLE_MIN_VOTES = 2


def _register_quality_ensemble():
    """Closure-registered (like q_ivf_recall) so the oracle embeds the
    ALREADY-REGISTERED gopher/repetition/entropy oracles: the fused verdict
    can never drift from the operators it fuses."""
    # force the component modules' registration first: a direct import of
    # THIS module (tests do it) otherwise runs before the registry loads them
    import prefect_flow_arc_indexer_spark.operators.text_analysis  # noqa: F401
    import prefect_flow_arc_indexer_spark.operators.textprep  # noqa: F401
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    gopher_sql = _REGISTRY["q_gopher_rules"].oracle
    rep_sql = _REGISTRY["q_repetition"].oracle
    ent_sql = _REGISTRY["q_char_entropy"].oracle
    oracle = f"""WITH g AS ({gopher_sql}),
r AS ({rep_sql}),
e AS ({ent_sql}),
votes AS (
  SELECT g.doc_id,
         CAST(g.keep AS INT) + CAST(NOT r.repetitive AS INT)
           + CAST(e.char_entropy >= {ENSEMBLE_ENTROPY_MIN} AS INT) AS n_votes,
         g.keep AS gopher_keep, r.repetitive, e.char_entropy
    FROM g JOIN r ON r.doc_id = g.doc_id
           JOIN e ON e.doc_id = g.doc_id
)
SELECT doc_id, gopher_keep, repetitive, char_entropy,
       CAST(n_votes AS INT) AS n_votes,
       n_votes >= {ENSEMBLE_MIN_VOTES} AS keep_ensemble
  FROM votes
"""

    @register(
        "q_quality_ensemble",
        oracle=oracle,
        doc="quality-signal fusion: majority vote over three registered "
        "quality operators (Gopher rule verdict, repetition flag, char-"
        f"entropy >= {ENSEMBLE_ENTROPY_MIN}) — the ensemble gate real "
        "corpora use because single filters each have blind spots. "
        "Composed FROM the registered operators (oracle embeds their "
        "oracles) so the fused verdict stays in lockstep; the composition "
        "costs two same-key (doc_id) joins of row-local signal tables. A "
        "production pipeline would fuse all three signals into the one "
        "scan q_corpus_pipeline demonstrates — this operator is the "
        "auditable reference form the fused plan is validated against.",
    )
    def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
        # r11 (guide §2.4): all three component signals are row-local, so
        # the ensemble is ONE fused scan — no per-component corpus scan,
        # no doc_id joins. The signal expressions come from the SAME
        # helpers the registered components build on (gopher_cols /
        # repetition_cols / char_entropy_col), so the fused verdict stays
        # in lockstep with them by construction. Row set: the previous
        # inner joins kept exactly the docs with non-null, non-empty text
        # (g: text IS NOT NULL; e: ... AND length > 0; r: all docs), which
        # is the filter applied here.
        from prefect_flow_arc_indexer_spark.operators.text_analysis import (
            char_entropy_col,
        )
        from prefect_flow_arc_indexer_spark.operators.textprep import (
            repetition_cols,
        )

        docs = (
            load_table(spark, sf_dir, "documents", fan_out=True)
            .where(F.col("text").isNotNull() & (F.length("text") > 0))
            .withColumn("tok", tokens(F.col("text")))
        )
        keep = gopher_cols(F.col("tok"), F.col("text"))["keep"]
        repetitive = repetition_cols(F.col("tok"))[3]
        ent = char_entropy_col(F.col("text"))
        votes = (
            keep.cast("int")
            + (~repetitive).cast("int")
            + (ent >= ENSEMBLE_ENTROPY_MIN).cast("int")
        )
        return docs.select(
            "doc_id",
            keep.alias("gopher_keep"),
            repetitive.alias("repetitive"),
            ent.alias("char_entropy"),
            votes.cast("int").alias("n_votes"),
            (votes >= ENSEMBLE_MIN_VOTES).alias("keep_ensemble"),
        )


_register_quality_ensemble()
