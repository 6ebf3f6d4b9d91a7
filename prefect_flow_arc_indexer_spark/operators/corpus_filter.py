"""Corpus-level filtering operators — the thresholded keep/drop passes a
training-data pipeline runs AFTER per-document scoring (extension surface;
the reference has no corpus notion — its closest analog is the per-row
``NOT is_deleted`` keep predicate, ``/root/reference/flows/main_flow.py:340``).

What distinguishes this family from the per-doc scorers in
``text_analysis``/``corpus_quality``: every operator here derives its
threshold FROM THE CORPUS ITSELF (a percentile, a tercile boundary, a
document-frequency cutoff), which at 100 TB means a global statistic must be
computed and shipped back to every row. The scale shape is the same in all
of them:

1. reduce the corpus to a BOUNDED summary (a token-length histogram, a
   quantized-score histogram, a gram->document-frequency table) — one
   shuffle whose output is vocabulary/value-bounded, never corpus-sized;
2. derive thresholds on that summary (tiny window or aggregate);
3. broadcast the thresholds (a one-row relation) back over the corpus —
   the verdict pass is then a shuffle-free projection.

Step 2's single-partition window runs over the bounded summary only. The
quantization step (micro-nats, integer token counts) is what keeps that
summary bounded AND makes the arithmetic engine-stable: sums of bigints are
accumulation-order-independent, so the DuckDB oracles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from prefect_flow_arc_indexer_spark.functions.textfns import (
    dd_tokens,
    dd_word_ngrams,
    tokens,
    word_ngrams,
)
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

TRIM_LO_PCT = 1  # drop below the 1st token-count percentile
TRIM_HI_PCT = 99  # and above the 99th
SURPRISAL_QUANT = 1_000_000  # micro-nats: integer-exact per-doc sums
BOILER_N = 3  # boilerplate gram width
BOILER_DF = 3  # a gram present in >= this many distinct docs is boilerplate


_DD_TOKS = f"""toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok
    FROM documents WHERE text IS NOT NULL
)"""


# --------------------------------------------------------------------------
# corpus length-percentile trim
# --------------------------------------------------------------------------
@register(
    "q_length_trim",
    oracle=f"""WITH {_DD_TOKS},
lens AS (SELECT doc_id, len(tok) AS n_tok FROM toks),
hist AS (SELECT n_tok, count(*) AS c FROM lens GROUP BY n_tok),
cum AS (SELECT n_tok, sum(c) OVER (ORDER BY n_tok) AS cum FROM hist),
tot AS (SELECT count(*) AS n FROM lens),
thr AS (
  SELECT min(CASE WHEN 100 * cum >= {TRIM_LO_PCT} * n THEN n_tok END) AS lo,
         min(CASE WHEN 100 * cum >= {TRIM_HI_PCT} * n THEN n_tok END) AS hi
    FROM cum, tot
)
SELECT l.doc_id, l.n_tok, t.lo, t.hi,
       l.n_tok BETWEEN t.lo AND t.hi AS keep
  FROM lens l, thr t
""",
    doc="corpus length-percentile trim: drop the shortest 1% and longest 1% "
    "of documents by token count. Thresholds are exact discrete percentiles "
    "derived from the token-LENGTH HISTOGRAM (values-bounded: one row per "
    "distinct length, never one per doc), selected with pure integer "
    "arithmetic (100*cum >= pct*n — no float percentile drift between "
    "engines), then broadcast back so the verdict pass is a shuffle-free "
    "projection. The scale template for every 'cut at the pXX' filter.",
)
def q_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    lens = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    hist = lens.groupBy("n_tok").agg(F.count("*").alias("c"))
    w = Window.orderBy("n_tok").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = hist.agg(F.sum("c").alias("n"))
    cum = hist.select("n_tok", F.sum("c").over(w).alias("cum"))
    thr = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(100 * F.col("cum") >= TRIM_LO_PCT * F.col("n"), F.col("n_tok"))
            ).alias("lo"),
            F.min(
                F.when(100 * F.col("cum") >= TRIM_HI_PCT * F.col("n"), F.col("n_tok"))
            ).alias("hi"),
        )
    )
    return lens.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_tok",
        "lo",
        "hi",
        F.col("n_tok").between(F.col("lo"), F.col("hi")).alias("keep"),
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity terciles (head / middle / tail)
# --------------------------------------------------------------------------
@register(
    "q_ccnet_buckets",
    oracle=f"""WITH {_DD_TOKS},
stream AS (SELECT doc_id, t.term FROM toks, unnest(tok) AS t(term)),
freq AS (SELECT term, count(*) AS n FROM stream GROUP BY term),
tot AS (SELECT count(*) AS total FROM stream),
scores AS (
  SELECT s.doc_id,
         CAST(sum(CAST(round(-ln(CAST(f.n AS DOUBLE) / tot.total)
                             * {SURPRISAL_QUANT}) AS BIGINT)) // count(*)
              AS BIGINT) AS score_micronat
    FROM stream s JOIN freq f ON f.term = s.term, tot
   GROUP BY s.doc_id
),
shist AS (SELECT score_micronat AS sc, count(*) AS c FROM scores GROUP BY sc),
scum AS (SELECT sc, sum(c) OVER (ORDER BY sc) AS cum FROM shist),
sd AS (SELECT count(*) AS d FROM scores),
thr AS (
  SELECT min(CASE WHEN 3 * cum >= d THEN sc END) AS t1,
         min(CASE WHEN 3 * cum >= 2 * d THEN sc END) AS t2
    FROM scum, sd
)
SELECT s.doc_id, s.score_micronat,
       CASE WHEN s.score_micronat <= t.t1 THEN 'head'
            WHEN s.score_micronat <= t.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
  FROM scores s, thr t
""",
    doc="CCNet-style quality terciles: each document's mean unigram "
    "surprisal (the cheap perplexity proxy, as in q_unigram_surprisal) "
    "places it in the head / middle / tail third of the corpus — the split "
    "CCNet uses to stage training data by LM quality. Engine-stable by "
    "construction: per-token surprisal is quantized to integer micro-nats "
    "BEFORE summing (bigint sums are accumulation-order-independent; a "
    "float mean could flip a tercile boundary between engines), and the "
    "tercile cutoffs come from the quantized-score histogram with integer "
    "rank arithmetic (3*cum >= d). Scale: model fit and histogram are both "
    "vocab/value-bounded aggregates; cutoffs broadcast back, so the corpus "
    "is scanned twice (fit + score) and the bucket verdict never shuffles. "
    "At 100 TB the quantization step doubles as the histogram-width knob: "
    "coarsen micro- to milli-nats if the score histogram outgrows one "
    "threshold-stage partition.",
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    stream = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # one fit scan feeds both the model broadcast and the total
    freq = (
        stream.groupBy("term")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = freq.agg(F.sum("n").alias("total"))
    q6 = F.round(
        -F.log(F.col("n").cast("double") / F.col("total")) * SURPRISAL_QUANT
    ).cast("bigint")
    scores = (
        stream.join(F.broadcast(freq), "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.sum(q6).alias("sq"), F.count("*").alias("nt"))
        .select("doc_id", F.expr("sq div nt").alias("score_micronat"))
    )
    shist = scores.groupBy(F.col("score_micronat").alias("sc")).agg(
        F.count("*").alias("c")
    )
    w = Window.orderBy("sc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sd = shist.agg(F.sum("c").alias("d"))
    scum = shist.select("sc", F.sum("c").over(w).alias("cum"))
    thr = scum.crossJoin(F.broadcast(sd)).agg(
        F.min(F.when(3 * F.col("cum") >= F.col("d"), F.col("sc"))).alias("t1"),
        F.min(F.when(3 * F.col("cum") >= 2 * F.col("d"), F.col("sc"))).alias(
            "t2"
        ),
    )
    out = scores.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "score_micronat",
        F.when(F.col("score_micronat") <= F.col("t1"), F.lit("head"))
        .when(F.col("score_micronat") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    # caller-release contract for the fitted-model checkpoint (ADVICE r10)
    from prefect_flow_arc_indexer_spark.functions.caching import (
        CheckpointRelease,
    )

    out.ckpt_release = CheckpointRelease(freq)
    return out


# --------------------------------------------------------------------------
# boilerplate detection by gram document-frequency
# --------------------------------------------------------------------------
@register(
    "q_boilerplate",
    oracle=f"""WITH {_DD_TOKS},
gs AS (
  SELECT DISTINCT doc_id, unnest({dd_word_ngrams("tok", BOILER_N)}) AS g
    FROM toks
),
df AS (SELECT g, count(*) AS d FROM gs GROUP BY g),
per_doc AS (
  SELECT gs.doc_id,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN df.d >= {BOILER_DF} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_boiler
    FROM gs JOIN df ON df.g = gs.g
   GROUP BY gs.doc_id
)
SELECT t.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.n_boiler, 0) AS n_boiler,
       CASE WHEN p.n_grams > 0
            THEN round(CAST(p.n_boiler AS DOUBLE) / p.n_grams, 6)
            ELSE 0.0 END AS boiler_frac
  FROM toks t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
""",
    doc="boilerplate detection: a word-3-gram occurring in >= 3 distinct "
    "documents is 'boilerplate' (shared header/footer/template text); each "
    "document reports its gram count and boilerplate fraction — the "
    "line-level C4 cleaning analog for corpora whose repeated content is "
    "phrase- rather than line-delimited. Scale: the shuffle carries "
    "distinct (gram, doc) pairs and the df table is gram-vocabulary-"
    "bounded; the df join keys on the gram, the SAME key the distinct/df "
    "aggregation just partitioned by, so Catalyst reuses the exchange "
    "instead of re-shuffling the gram stream. The df cutoff is absolute "
    "here; at corpus scale it becomes a fraction of n_docs — same plan, "
    "one more broadcast scalar.",
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    base = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens(F.col("text")).alias("tok")
    )
    gs = base.select(
        "doc_id",
        # per-doc distinct computed map-side — no full gram-stream shuffle
        # (the _hashed_shingles fix, VERDICT r9 task 4)
        F.explode(
            F.array_distinct(word_ngrams("tok", BOILER_N))
        ).alias("g"),
    )
    df = gs.groupBy("g").agg(F.count("*").alias("d"))
    per_doc = (
        gs.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("d") >= BOILER_DF, 1).otherwise(0)
            ).cast("long").alias("n_boiler"),
        )
    )
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.col("n_boiler").cast("double") / F.col("n_grams"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("boiler_frac"),
        )
    )


# --------------------------------------------------------------------------
# near-dup dedup applied: the component-keeper corpus
# --------------------------------------------------------------------------
def _register_neardup_apply():
    """Registered via a closure embedding the q_dedup_components oracle, so
    the materialized output stays in lockstep with the clustering operator
    (same pattern as q_ivf_recall / q_lsh_recall). Unlike those (same-file
    dependencies), this one crosses modules, so the dedup module is imported
    explicitly — registration must not depend on the registry's module
    ordering."""
    import prefect_flow_arc_indexer_spark.operators.dedup  # noqa: F401

    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    cc_sql = _REGISTRY["q_dedup_components"].oracle
    oracle = f"""SELECT d.doc_id, d.lang, d.source,
       c.component_size AS n_dups
  FROM ({cc_sql}) c
  JOIN documents d ON d.doc_id = c.doc_id
 WHERE c.doc_id = c.component_id
"""

    @register(
        "q_neardup_apply",
        oracle=oracle,
        doc="near-dup dedup applied end-to-end: the corpus restricted to "
        "connected-component keepers (min doc_id of each MinHash-LSH "
        "near-dup cluster), carrying each keeper's cluster size — the "
        "transitive-closure counterpart of q_dedup_apply's exact-hash "
        "keeper filter, and the actual corpus a training pipeline ships "
        "after near-dedup. The clustering stage is q_dedup_components "
        "itself; applying it is one semi-join-shaped filter (keeper iff "
        "doc_id == component_id) plus a broadcast-friendly metadata "
        "join-back.",
    )
    def q_neardup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
        from prefect_flow_arc_indexer_spark.operators.dedup import (
            component_label_sizes,
        )

        # r11 (guide §2.4): join the small CC label table once against the
        # metadata scan. The previous shape materialized the full
        # q_dedup_components output (its own corpus-wide left join) and
        # joined the corpus AGAIN for the metadata — two documents scans
        # and a corpus-to-corpus join for what the label table already
        # decides: keeper iff unlabeled (singleton) or comp == doc_id.
        docs = load_table(spark, sf_dir, "documents", fan_out=True).select(
            "doc_id", "lang", "source"
        )
        labeled = component_label_sizes(
            load_table(spark, sf_dir, "documents", fan_out=True)
        )
        return (
            docs.join(labeled, "doc_id", "left")
            .where(
                F.col("comp").isNull() | (F.col("comp") == F.col("doc_id"))
            )
            .select(
                "doc_id",
                "lang",
                "source",
                F.coalesce("sz", F.lit(1)).cast("bigint").alias("n_dups"),
            )
        )


_register_neardup_apply()


# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023): hashed-n-gram domain relevance
# --------------------------------------------------------------------------
DSIR_BUCKETS = 256
DSIR_TARGET_SOURCE = "src0"  # the "target domain" sample
DSIR_SALT = "dsir:"
_LOG_QUANT = 1_000_000  # micro-nats: per-bucket log-ratio quantized


def _register_dsir():
    from prefect_flow_arc_indexer_spark.functions.hashing import (
        dd_stable_hash,
        stable_hash,
    )

    salted = f"'{DSIR_SALT}' || w"
    bucket_dd = f"{dd_stable_hash(salted)} % {DSIR_BUCKETS}"
    oracle = f"""WITH toks AS (
  SELECT doc_id, source, unnest({dd_tokens("text")}) AS w FROM documents
),
bucketed AS (
  SELECT doc_id, source, {bucket_dd} AS bucket FROM toks
),
tstats AS (
  SELECT bucket, count(*) AS c FROM bucketed
   WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bucket
),
qstats AS (
  SELECT bucket, count(*) AS c FROM bucketed GROUP BY bucket
),
totals AS (
  SELECT (SELECT count(*) FROM bucketed
           WHERE source = '{DSIR_TARGET_SOURCE}') AS nt,
         (SELECT count(*) FROM bucketed) AS nq
),
ratio AS (
  SELECT q.bucket,
         CAST(round((ln((coalesce(t.c, 0) + 1.0) / (totals.nt + {DSIR_BUCKETS}))
                     - ln((q.c + 1.0) / (totals.nq + {DSIR_BUCKETS})))
                    * {_LOG_QUANT}) AS BIGINT) AS lr_micro
    FROM qstats q CROSS JOIN totals LEFT JOIN tstats t ON t.bucket = q.bucket
)
SELECT b.doc_id,
       count(*) AS n_tokens,
       CAST(sum(r.lr_micro) AS BIGINT) AS logweight_micro
  FROM bucketed b JOIN ratio r ON r.bucket = b.bucket
 GROUP BY b.doc_id
"""

    @register(
        "q_dsir_weights",
        oracle=oracle,
        doc="DSIR importance weights (Xie et al. 2023, Data Selection via "
        "Importance Resampling): documents scored by the log-likelihood "
        f"ratio of a hashed-unigram ({DSIR_BUCKETS} buckets) model of the "
        f"target domain (source = {DSIR_TARGET_SOURCE!r}, Laplace-"
        "smoothed) against the corpus-wide proposal model — the weight "
        "that importance-resamples a web-scale corpus toward a target "
        "domain. Per-bucket log-ratios are quantized to micro-nats ONCE "
        "(bounded table), so per-doc sums are exact bigint arithmetic on "
        "both engines. Scale shape: the feature space is fixed at "
        f"{DSIR_BUCKETS} buckets, so both n-gram models reduce map-side "
        "to a bounded table, the ratio table broadcasts, and the per-doc "
        "score is one scan + one doc-keyed sum — the corpus is never "
        "shuffled wide, which is the property that lets DSIR score "
        "trillions of tokens.",
    )
    def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        bucketed = docs.select(
            "doc_id",
            "source",
            F.explode(tokens(F.col("text"))).alias("w"),
        ).select(
            "doc_id",
            "source",
            (
                stable_hash(F.concat(F.lit(DSIR_SALT), F.col("w")))
                % DSIR_BUCKETS
            ).alias("bucket"),
        )
        tstats = (
            bucketed.where(F.col("source") == DSIR_TARGET_SOURCE)
            .groupBy("bucket")
            .agg(F.count("*").alias("tc"))
        )
        qstats = bucketed.groupBy("bucket").agg(F.count("*").alias("qc"))
        totals = bucketed.agg(
            F.count("*").alias("nq"),
            F.sum(
                (F.col("source") == DSIR_TARGET_SOURCE).cast("long")
            ).alias("nt"),
        )
        ratio = (
            qstats.join(tstats, "bucket", "left")
            .crossJoin(F.broadcast(totals))
            .select(
                "bucket",
                F.round(
                    (
                        F.log(
                            (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                            / (F.col("nt") + DSIR_BUCKETS)
                        )
                        - F.log(
                            (F.col("qc") + 1.0) / (F.col("nq") + DSIR_BUCKETS)
                        )
                    )
                    * _LOG_QUANT
                )
                .cast("bigint")
                .alias("lr_micro"),
            )
        )
        return (
            bucketed.join(F.broadcast(ratio), "bucket")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_tokens"),
                # the resampling score stays in EXACT micro-nats: a derived
                # double average invites 6dp tie-rounding divergence
                # (lw/n lands on .5 boundaries whenever 2n | lw)
                F.sum("lr_micro").cast("bigint").alias("logweight_micro"),
            )
        )


_register_dsir()


# --------------------------------------------------------------------------
# skyline (Pareto frontier) doc selection: multi-objective keep set
# --------------------------------------------------------------------------
@register(
    "q_skyline_docs",
    oracle=f"""WITH toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok
    FROM documents WHERE text IS NOT NULL
),
feat AS (
  SELECT doc_id,
         CAST(len(tok) AS BIGINT) AS n_tok,
         CAST((1000000 * len(list_distinct(tok))) // len(tok) AS BIGINT)
           AS div_micro
    FROM toks WHERE len(tok) > 0
)
SELECT f.doc_id, f.n_tok, f.div_micro
  FROM feat f
 WHERE NOT EXISTS (
         SELECT 1 FROM feat g
          WHERE g.n_tok >= f.n_tok AND g.div_micro >= f.div_micro
            AND (g.n_tok > f.n_tok OR g.div_micro > f.div_micro)
       )
""",
    doc="skyline (Pareto-frontier) document selection over two objectives "
    "— token count and integer-exact lexical diversity: the classic "
    "multi-objective keep set ('no other doc is at least as long AND at "
    "least as diverse, strictly better in one'). The oracle is the "
    "textbook NOT-EXISTS dominance self-join (O(n^2), fine at gate SF); "
    "the Spark plan is the scale form: reduce to the per-token-count "
    "maximum diversity (one value-bounded shuffle: the n_tok HISTOGRAM "
    "axis), scan that frontier once with a running max ordered by n_tok "
    "descending (window over the bounded histogram, allowlisted), and "
    "broadcast the surviving (n_tok, div) frontier back over the corpus "
    "as an equi-join. No corpus x corpus comparison anywhere — dominance "
    "collapses onto the histogram because the objectives are the axis "
    "itself plus a per-axis max.",
)
def q_skyline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    tok = tokens(F.col("text"))
    scaled = (F.lit(1_000_000) * F.size(F.array_distinct(tok))).cast("bigint")
    n_tok = F.size(tok).cast("bigint")
    # exact integer floor division via the remainder identity: (a - a%b)/b
    # is an integer < 2^53, so the double division cannot round (the bare
    # floor(a/b) CAN misround when FP lands just below an exact quotient)
    div_micro = ((scaled - scaled % n_tok) / n_tok).cast("bigint")
    feat = (
        docs.select(
            "doc_id",
            n_tok.alias("n_tok"),
            div_micro.alias("div_micro"),
        )
        .where(F.col("n_tok") > 0)
    )
    # per-x maximum y: ONE shuffle, output bounded by distinct token counts
    gmax = feat.groupBy("n_tok").agg(F.max("div_micro").alias("gmax"))
    # frontier scan over the bounded histogram (allowlisted global window):
    # a token count survives iff its best diversity beats every longer doc
    w = (
        Window.orderBy(F.col("n_tok").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = gmax.withColumn("_prev", F.max("gmax").over(w)).where(
        F.col("_prev").isNull() | (F.col("gmax") > F.col("_prev"))
    )
    # broadcast the (tiny) frontier back: a doc is skyline iff it SITS on it
    return feat.join(
        F.broadcast(
            frontier.select("n_tok", F.col("gmax").alias("div_micro"))
        ),
        ["n_tok", "div_micro"],
    ).select("doc_id", "n_tok", "div_micro")


# --------------------------------------------------------------------------
# top-p (nucleus) corpus trim: per-source token-mass budget
# --------------------------------------------------------------------------
TOP_P_NUM = 4  # keep the doc prefix holding < 4/5 (80%) of the source's
TOP_P_DEN = 5  # token mass, plus the boundary doc that crosses it


@register(
    "q_top_p_corpus",
    oracle=f"""WITH feat AS (
  SELECT doc_id, source,
         CAST(len({dd_tokens("text")}) AS BIGINT) AS n_tok
    FROM documents WHERE text IS NOT NULL
),
cum AS (
  SELECT doc_id, source, n_tok,
         sum(n_tok) OVER (PARTITION BY source
                          ORDER BY n_tok DESC, doc_id ASC) AS cum_tok,
         sum(n_tok) OVER (PARTITION BY source) AS total_tok
    FROM feat
)
SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
  FROM cum
 WHERE {TOP_P_DEN} * (cum_tok - n_tok) < {TOP_P_NUM} * total_tok
""",
    doc=f"top-p (nucleus) corpus trim: per source, keep the largest docs "
    f"until {TOP_P_NUM}/{TOP_P_DEN} of the source's total token mass is "
    "covered (boundary doc included) — the budgeted mixture-trim shape a "
    "training pipeline uses to cap a source's contribution without a "
    "fixed doc count. The inclusion test is exact integer arithmetic "
    f"({TOP_P_DEN}*(cum-n) < {TOP_P_NUM}*total), so the cut cannot drift "
    "between engines. Both windows are PARTITIONED by source (parallel, "
    "bounded state); one corpus shuffle on the source key. Distinct from "
    "q_length_trim (percentile bounds) and q_ccnet_buckets (global "
    "terciles): this is a cumulative-share budget per group.",
)
def q_top_p_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    feat = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"),
    )
    w_ord = (
        Window.partitionBy("source")
        .orderBy(F.col("n_tok").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("source")
    cum = feat.select(
        "doc_id",
        "source",
        "n_tok",
        F.sum("n_tok").over(w_ord).cast("bigint").alias("cum_tok"),
        F.sum("n_tok").over(w_all).alias("total_tok"),
    )
    return cum.where(
        F.lit(TOP_P_DEN) * (F.col("cum_tok") - F.col("n_tok"))
        < F.lit(TOP_P_NUM) * F.col("total_tok")
    ).select("doc_id", "source", "n_tok", "cum_tok")
