"""Corpus policy operators (round 5): the knobs a data-governance /
mixture-design pass turns — temperature-scaled source sampling, declared-
vs-detected language agreement, and lexicon-based safety flagging.

- q_mixture_temperature: alpha-temperature source sampling weights
  (p_s^alpha renormalized — the mT5/XLM-R recipe for up-sampling small
  sources without drowning big ones);
- q_lang_confusion: confusion matrix between the DECLARED lang column and
  the in-plan stopword-argmax language ID (composes the registered
  q_lang_id — its oracle is embedded verbatim as a CTE);
- q_toxicity_lexicon: per-source blocklist-hit audit (the lexicon-filter
  shape of a safety pass; hit counting is scan-side array math).

All three are scan-side expressions plus values-bounded rollups
(#sources, #langs^2) — zero corpus-sized shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prefect_flow_arc_indexer_spark.functions.textfns import (
    dd_tokens,
    tokens,
)
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

MIX_ALPHA = 0.3  # temperature: 1.0 = proportional, 0 = uniform
BLOCKLIST = ("slow", "dup", "big")  # stands in for a safety lexicon


@register(
    "q_mixture_temperature",
    oracle=f"""WITH toks AS (
  SELECT source, len({dd_tokens("text")}) AS n_tok
    FROM documents WHERE text IS NOT NULL
),
per AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS tok_s,
         CAST(count(*) AS BIGINT) AS n_docs
    FROM toks GROUP BY source
),
w AS (
  SELECT *, CAST(round(pow(tok_s, {MIX_ALPHA}) * 1000000) AS BIGINT)
              AS w_micro
    FROM per
),
tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tot_micro FROM w)
SELECT w.source, w.n_docs, w.tok_s, w.w_micro,
       CAST((1000000 * w.w_micro) // t.tot_micro AS BIGINT)
         AS sample_share_micro
  FROM w, tot t
""",
    doc=f"temperature-scaled source mixture (alpha={MIX_ALPHA}): each "
    "source's sampling weight is its token mass raised to alpha, "
    "renormalized — the mT5/XLM-R recipe that up-samples small sources "
    "without letting the head dominate. Weights are quantized to integer "
    "micro-units before the renormalizing floor division, so shares are "
    "engine-exact (pow over integer token masses is the one float op, "
    "rounded immediately — the q_negative_sampling discipline). One "
    "corpus-token scan into a source-keyed (values-bounded) rollup; the "
    "scalar total is a broadcast.",
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    per = (
        docs.select("source", F.size(tokens(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(
            F.sum("n_tok").cast("bigint").alias("tok_s"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
    )
    w = per.withColumn(
        "w_micro",
        F.round(F.pow(F.col("tok_s"), MIX_ALPHA) * 1_000_000).cast("bigint"),
    )
    tot = w.agg(F.sum("w_micro").cast("bigint").alias("tot_micro"))
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tok_s",
        "w_micro",
        F.expr("(1000000 * w_micro) div tot_micro")
        .cast("bigint")
        .alias("sample_share_micro"),
    )


def _register_lang_confusion() -> None:
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    lang_id_sql = _REGISTRY["q_lang_id"].oracle
    oracle = f"""WITH pred AS ({lang_id_sql})
SELECT d.lang AS declared_lang, p.predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN p.best_hits = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_no_evidence
  FROM documents d JOIN pred p USING (doc_id)
 GROUP BY d.lang, p.predicted_lang
"""

    @register(
        "q_lang_confusion",
        oracle=oracle,
        doc="declared-vs-detected language confusion matrix: the corpus's "
        "lang column against the in-plan stopword-argmax language ID "
        "(q_lang_id composed verbatim — its oracle is embedded as a "
        "CTE), with a no-evidence count (zero stopword hits) per cell — "
        "the metadata-trust audit run before lang-conditional filtering "
        "or mixture design. r12 (guide §2.4, the r11 row-local fusion "
        "class): the declared lang rides the SAME scan that computes the "
        "prediction (shared lang_id_frame helper — q_lang_id composed "
        "structurally, not via a doc_id self-join of two projections of "
        "one scan), so the plan is one scan into a langs^2 "
        "values-bounded rollup; NULL declared langs form their own row.",
    )
    def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
        from prefect_flow_arc_indexer_spark.operators.text_analysis import (
            lang_id_frame,
        )

        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        # equal to the oracle's inner self-join on doc_id only while doc_id
        # is unique and non-null: a duplicate would multiply the join's
        # rows and a NULL would drop them, where this one scan counts each
        # row once. The corpus generator emits doc_id as the documents
        # table's unique non-null key.
        pred = lang_id_frame(docs, [F.col("lang").alias("declared_lang")])
        return pred.groupBy("declared_lang", "predicted_lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("best_hits") == 0).cast("int"))
            .cast("bigint")
            .alias("n_no_evidence"),
        )


_register_lang_confusion()


def _dd_block_hits() -> str:
    terms = ", ".join(f"'{t}'" for t in BLOCKLIST)
    return (
        f"list_aggregate(list_transform({dd_tokens('text')}, "
        f"t -> CASE WHEN list_contains([{terms}], t) THEN 1 ELSE 0 END), "
        "'sum')"
    )


@register(
    "q_toxicity_lexicon",
    oracle=f"""WITH per_doc AS (
  SELECT source,
         coalesce({_dd_block_hits()}, 0) AS hits,
         len({dd_tokens("text")}) AS n_tok
    FROM documents WHERE text IS NOT NULL
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN hits >= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(sum(hits) AS BIGINT) AS total_hits,
       CAST((1000000 * sum(CASE WHEN hits >= 1 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS flag_rate_micro
  FROM per_doc GROUP BY source
""",
    doc="lexicon safety audit per source: documents containing blocklist "
    "terms (a stand-in lexicon over the synthetic vocabulary), with "
    "per-source flag counts, total hits, and an integer-exact flag rate "
    "— the shape of every lexicon-based safety/compliance pass (real "
    "deployments swap the term list; scoring is unchanged). Hit "
    "counting is a scan-side array fold inside codegen; the rollup keys "
    "on source (values-bounded). At 100 TB a large lexicon becomes a "
    "broadcast set + array_intersect, same plan class.",
)
def q_toxicity_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    block = F.array(*[F.lit(t) for t in BLOCKLIST])
    hits = F.coalesce(
        F.aggregate(
            F.transform(
                tokens(F.col("text")),
                lambda t: F.when(F.array_contains(block, t), 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ),
        F.lit(0),
    )
    per_doc = docs.select("source", hits.alias("hits"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("hits") >= 1).cast("int"))
        .cast("bigint")
        .alias("n_flagged"),
        F.sum("hits").cast("bigint").alias("total_hits"),
        F.expr("(1000000 * sum(cast(hits >= 1 as int))) div count(1)")
        .cast("bigint")
        .alias("flag_rate_micro"),
    )


# --------------------------------------------------------------------------
# epoch/repeat plan: the data recipe a mixture actually executes
# --------------------------------------------------------------------------
TARGET_TOKENS = 1_000_000  # training token budget the mixture must fill
MAX_EPOCHS_MICRO = 4_000_000  # 4-epoch repeat ceiling (data-constrained LM
# scaling: value of repeated data decays fast past ~4 epochs)


@register(
    "q_epoch_plan",
    oracle=f"""WITH toks AS (
  SELECT source, len({dd_tokens("text")}) AS n_tok
    FROM documents WHERE text IS NOT NULL
),
per AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS tok_s
    FROM toks GROUP BY source
  HAVING sum(n_tok) > 0  -- a zero-mass source has nothing to schedule
),
w AS (
  SELECT *, CAST(round(pow(tok_s, {MIX_ALPHA}) * 1000000) AS BIGINT)
              AS w_micro
    FROM per
),
tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tot_micro FROM w),
plan AS (
  SELECT w.source, w.tok_s,
         CAST(({TARGET_TOKENS} * w.w_micro) // t.tot_micro AS BIGINT)
           AS target_tok
    FROM w, tot t
)
SELECT source, tok_s, target_tok,
       CAST((1000000 * target_tok) // tok_s AS BIGINT) AS epochs_micro,
       CAST((1000000 * target_tok) // tok_s > {MAX_EPOCHS_MICRO} AS BOOLEAN)
         AS over_cap,
       CAST(least(target_tok,
                  ({MAX_EPOCHS_MICRO} * tok_s) // 1000000) AS BIGINT)
         AS effective_tok
  FROM plan
""",
    doc=f"epoch/repeat plan — the data recipe the temperature mixture "
    f"(alpha={MIX_ALPHA}) actually executes against a "
    f"{TARGET_TOKENS:,}-token budget: per source, its target token "
    "allotment, the implied epoch count (integer micro-epochs: how many "
    "times the source must repeat), an over-cap flag at the 4-epoch "
    "repeat ceiling (repeated data decays fast past ~4 epochs — the "
    "data-constrained scaling rule), and the capped effective tokens the "
    "run will really draw. All integer floor arithmetic after one "
    "rounded pow, so the plan is engine-exact; same scale shape as "
    "q_mixture_temperature — one corpus-token scan, a source-keyed "
    "values-bounded rollup, scalar-broadcast renormalization.",
)
def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    per = (
        docs.select(
            "source", F.size(tokens(F.col("text"))).alias("n_tok")
        )
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("tok_s"))
        # a zero-mass source has nothing to schedule — and would divide by
        # zero in the epoch arithmetic (caught by the degenerate sweep)
        .where(F.col("tok_s") > 0)
    )
    w = per.withColumn(
        "w_micro",
        F.round(F.pow(F.col("tok_s"), F.lit(MIX_ALPHA)) * 1_000_000)
        .cast("bigint"),
    )
    tot = w.agg(F.sum("w_micro").cast("bigint").alias("tot_micro"))
    plan = w.crossJoin(F.broadcast(tot)).withColumn(
        "target_tok",
        F.expr(f"({TARGET_TOKENS} * w_micro) div tot_micro").cast("bigint"),
    )
    epochs = F.expr("(1000000 * target_tok) div tok_s").cast("bigint")
    return plan.select(
        "source",
        "tok_s",
        "target_tok",
        epochs.alias("epochs_micro"),
        (epochs > MAX_EPOCHS_MICRO).alias("over_cap"),
        F.least(
            F.col("target_tok"),
            F.expr(f"({MAX_EPOCHS_MICRO} * tok_s) div 1000000").cast(
                "bigint"
            ),
        ).alias("effective_tok"),
    )
