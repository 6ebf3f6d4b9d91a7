"""Corpus curation wave: normalization, winnowing fingerprints, preference
pairs, contrastive-batch auditing, embedding outliers, and coreset selection.

Training-data-pipeline extension surface (ABSENT in the reference, which
ships documents verbatim to ES — `flows/main_flow.py:366-395` never rewrites
a payload). Six operators a curation pipeline runs between ingest and
training:

- ``q_text_normalize`` — canonical text form (casefold, non-alphanumeric →
  space, whitespace collapse) + content hash: the pre-pass that makes exact
  dedup robust to formatting noise. Row-local projection, zero shuffles.
- ``q_winnowing`` — MOSS-style winnowing fingerprint selection (Schleimer,
  Wilkerson, Aiken, SIGMOD'03): k-gram rolling hashes, per-window minimum;
  the guaranteed-coverage local fingerprinting scheme behind plagiarism /
  near-dup detection at substring granularity. Row-local higher-order
  functions, zero shuffles.
- ``q_preference_pairs`` — DPO/RLHF-style (chosen, rejected) pair
  construction from logged feedback: one map-side-combinable aggregation,
  no window sort.
- ``q_contrastive_batches`` — in-batch-negative audit for contrastive
  training: deterministic batch assignment + per-batch label-collision
  census (the false-negative exposure of in-batch negatives).
- ``q_embed_outliers`` — embedding-space outlier pruning by cosine to the
  engine-stable global centroid.
- ``q_coreset_kcenter`` — greedy k-center (farthest-first traversal,
  Gonzalez'85) coreset selection: the classic 2-approximation diversity
  sampler used for data pruning; k rounds, on the driver when the corpus
  fits the broadcast threshold, else one JVM scan each.

All hash-bearing outputs use the engine-stable 28-bit md5 hash
(`functions.hashing`) so DuckDB replays them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prefect_flow_arc_indexer_spark.functions.hashing import (
    dd_stable_hash,
    stable_hash,
)
from prefect_flow_arc_indexer_spark.functions.vectors import (
    cosine_similarity,
    dd_cosine_similarity,
)
from prefect_flow_arc_indexer_spark.functions.caching import (
    CheckpointRelease,
)
from prefect_flow_arc_indexer_spark.functions.frames import local_frame
from prefect_flow_arc_indexer_spark.functions.rounds import (
    arrow_rounds,
    fits_driver,
    list_matrix,
)
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

# --------------------------------------------------------------------------
# text normalization
# --------------------------------------------------------------------------
# one regex pass: any run of non-[a-z0-9] becomes a single space (applied on
# the casefolded text), then trim. Identical RE2/Java semantics.
from prefect_flow_arc_indexer_spark.functions.textfns import (  # noqa: E402
    NORM_RE as _NORM_RE,
)


@register(
    "q_text_normalize",
    oracle=f"""SELECT doc_id,
       length(text) AS len_raw,
       length(trim(regexp_replace(lower(text), '{_NORM_RE}', ' ', 'g'))) AS len_norm,
       md5(trim(regexp_replace(lower(text), '{_NORM_RE}', ' ', 'g'))) AS norm_hash,
       (text IS DISTINCT FROM trim(regexp_replace(lower(text), '{_NORM_RE}', ' ', 'g'))) AS changed
  FROM documents
""",
    doc="canonical text normalization: casefold, non-alphanumeric runs -> "
    "single space, trim; emits the md5 content hash of the normal form — "
    "the key exact dedup should group on so formatting noise (case, "
    "punctuation, whitespace) doesn't split duplicate groups. Pure "
    "row-local projection inside whole-stage codegen: at 100 TB this is "
    "scan-speed, zero shuffles, and the hash (16 bytes) is all that needs "
    "to flow into the downstream dedup exchange — never the text.",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), _NORM_RE, " "))
    return docs.select(
        "doc_id",
        F.length("text").alias("len_raw"),
        F.length(norm).alias("len_norm"),
        F.md5(norm).alias("norm_hash"),
        (~F.col("text").eqNullSafe(norm)).alias("changed"),
    )


# --------------------------------------------------------------------------
# winnowing fingerprints (MOSS)
# --------------------------------------------------------------------------
WINNOW_K = 7  # char k-gram width
WINNOW_W = 5  # winnowing window (guarantee: any match >= K+W-1 chars shares
# a fingerprint)


@register(
    "q_winnowing",
    oracle=f"""WITH g AS (
  SELECT doc_id,
         CASE WHEN coalesce(length(text), 0) >= {WINNOW_K}
              THEN coalesce(length(text), 0) - {WINNOW_K - 1} ELSE 0 END AS n_grams,
         CASE WHEN coalesce(length(text), 0) >= {WINNOW_K} THEN
           list_transform(generate_series(1, coalesce(length(text), 0) - {WINNOW_K - 1}),
                          i -> {dd_stable_hash(f"substr(text, i, {WINNOW_K})")})
         ELSE CAST([] AS BIGINT[]) END AS h
    FROM documents
), w AS (
  SELECT doc_id, n_grams,
         CASE WHEN n_grams >= 1 THEN greatest(n_grams - {WINNOW_W - 1}, 1)
              ELSE 0 END AS n_windows, h
    FROM g
), f AS (
  SELECT doc_id, n_grams, n_windows,
         CASE WHEN n_windows >= 1 THEN
           list_distinct(list_transform(generate_series(1, n_windows),
                         j -> list_min(h[j:j+{WINNOW_W - 1}])))
         ELSE CAST([] AS BIGINT[]) END AS fps
    FROM w
)
SELECT doc_id, n_grams, n_windows,
       len(fps) AS n_fps,
       CASE WHEN n_windows = 0 THEN NULL
            ELSE round(CAST(len(fps) AS DOUBLE) / n_windows, 6) END AS density,
       list_min(fps) AS min_fp,
       list_max(fps) AS max_fp
  FROM f
""",
    doc="winnowing fingerprint selection (MOSS, SIGMOD'03): hash every "
    f"{WINNOW_K}-char gram, keep the minimum of each {WINNOW_W}-wide "
    "window — guarantees any shared substring of length >= K+W-1 shares a "
    "selected fingerprint, at ~2/(W+1) selection density. Entirely "
    "row-local higher-order functions (sequence/transform/slice/"
    "array_min) in whole-stage codegen: at 100 TB the fingerprints are "
    "computed at scan speed with zero shuffles, and only the selected "
    "~1/3 of gram hashes (8 bytes each) would flow into a downstream "
    "substring-dedup exchange — the payload never leaves the scan.",
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = winnow_frame(
        load_table(spark, sf_dir, "documents", fan_out=True).select(
            "doc_id", "text"
        )
    )
    return f.select(
        "doc_id",
        "n_grams",
        "n_windows",
        F.size("fps").cast("bigint").alias("n_fps"),
        F.when(F.col("n_windows") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.size("fps").cast("double") / F.col("n_windows"), 6)
        )
        .alias("density"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


def winnow_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, n_windows, fps array<bigint>): the winnowing
    fingerprint set per doc — shared by the profile query and the pair
    detector."""
    n = F.coalesce(F.length("text"), F.lit(0))
    g = docs.select(
        "doc_id",
        "text",
        F.when(n >= WINNOW_K, n - (WINNOW_K - 1)).otherwise(0).alias("n_grams"),
    ).withColumn(
        "h",
        F.when(
            F.col("n_grams") >= 1,
            F.expr(
                f"transform(sequence(1, n_grams), i -> "
                f"cast(conv(substring(md5(substring(text, i, {WINNOW_K})), 1, 7), 16, 10) as bigint))"
            ),
        ).otherwise(F.expr("cast(array() as array<bigint>)")),
    )
    w = g.withColumn(
        "n_windows",
        F.when(
            F.col("n_grams") >= 1,
            F.greatest(F.col("n_grams") - (WINNOW_W - 1), F.lit(1)),
        ).otherwise(0),
    )
    return w.withColumn(
        "fps",
        F.when(
            F.col("n_windows") >= 1,
            F.expr(
                f"array_distinct(transform(sequence(1, n_windows), "
                f"j -> array_min(slice(h, j, {WINNOW_W}))))"
            ),
        ).otherwise(F.expr("cast(array() as array<bigint>)")),
    ).select("doc_id", "n_grams", "n_windows", "fps")


def winnow_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) DISTINCT winnowing-fingerprint postings, row-wise.

    Semantically identical to exploding ``winnow_frame``'s fps arrays, but
    the per-window minimum is a ROLLING window function over exploded gram
    rows instead of ``array_min(slice(h, j, W))`` inside a lambda: the
    array formulation is an optimizer-inlining hazard — once downstream
    joins trigger projection collapse, the gram-hash array gets inlined
    into the window lambda and recomputed PER WINDOW (O(n^2) md5 per doc;
    measured: q_winnow_pairs went from minutes-hang to ~4s at sf0.1 with
    this rewrite). Costs one doc-keyed window shuffle, which the pair
    stage's downstream aggregations amortize."""
    n = F.coalesce(F.length("text"), F.lit(0))
    g = docs.select(
        "doc_id",
        "text",
        F.when(n >= WINNOW_K, n - (WINNOW_K - 1)).otherwise(0).alias("n_grams"),
    ).withColumn(
        "n_windows",
        F.when(
            F.col("n_grams") >= 1,
            F.greatest(F.col("n_grams") - (WINNOW_W - 1), F.lit(1)),
        ).otherwise(0),
    )
    rows = g.where(F.col("n_grams") >= 1).select(
        "doc_id",
        "n_windows",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, n_grams), i -> "
                f"cast(conv(substring(md5(substring(text, i, {WINNOW_K})), 1, 7), 16, 10) as bigint))"
            )
        ).alias("pos", "h"),
    )
    from pyspark.sql import Window

    w_roll = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    return (
        rows.withColumn("fp", F.min("h").over(w_roll))
        .where(F.col("pos") < F.col("n_windows"))  # pos is 0-based
        .select("doc_id", "fp")
        .distinct()
    )


# --------------------------------------------------------------------------
# winnowing pair detection (the MOSS match stage)
# --------------------------------------------------------------------------
WINNOW_MAX_DF = 20  # fingerprints shared by more docs are boilerplate grams
WINNOW_MIN_SHARED = 5  # pair reported at >= this many shared fingerprints

# the fps CTE chain shared with q_winnowing's oracle
_DD_WINNOW_FPS = f"""g AS (
  SELECT doc_id,
         CASE WHEN coalesce(length(text), 0) >= {WINNOW_K}
              THEN coalesce(length(text), 0) - {WINNOW_K - 1} ELSE 0 END AS n_grams,
         CASE WHEN coalesce(length(text), 0) >= {WINNOW_K} THEN
           list_transform(generate_series(1, coalesce(length(text), 0) - {WINNOW_K - 1}),
                          i -> {dd_stable_hash(f"substr(text, i, {WINNOW_K})")})
         ELSE CAST([] AS BIGINT[]) END AS h
    FROM documents
), w AS (
  SELECT doc_id, n_grams,
         CASE WHEN n_grams >= 1 THEN greatest(n_grams - {WINNOW_W - 1}, 1)
              ELSE 0 END AS n_windows, h
    FROM g
), f AS (
  SELECT doc_id, n_grams, n_windows,
         CASE WHEN n_windows >= 1 THEN
           list_distinct(list_transform(generate_series(1, n_windows),
                         j -> list_min(h[j:j+{WINNOW_W - 1}])))
         ELSE CAST([] AS BIGINT[]) END AS fps
    FROM w
)"""


@register(
    "q_winnow_pairs",
    oracle=f"""WITH {_DD_WINNOW_FPS},
fp AS (
  SELECT doc_id, unnest(fps) AS fp FROM f
),
keep AS (
  SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}
),
sizes AS (
  SELECT doc_id, len(fps) AS nf FROM f
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM fp a
    JOIN keep k ON a.fp = k.fp
    JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
   GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {WINNOW_MIN_SHARED}
)
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       round(CAST(n_shared AS DOUBLE) / least(sa.nf, sb.nf), 6) AS overlap
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
""",
    doc="winnowing pair detection (the MOSS match stage): docs sharing >= "
    f"{WINNOW_MIN_SHARED} selected fingerprints, scored by shared/min — "
    "substring-granular near-dup evidence that exact-hash and "
    "shingle-set dedup both miss (a long copied PASSAGE inside an "
    "otherwise-different doc). Fingerprints occurring in > "
    f"{WINNOW_MAX_DF} docs are dropped as boilerplate grams BEFORE pair "
    "generation — the df cap is what bounds the equi-join fan-out: "
    "posting lists are <= MAX_DF long, so pair volume is "
    "sum(df^2) <= MAX_DF * |postings|, linear in the corpus. One "
    "fingerprint-keyed shuffle + one bounded pair aggregation; the text "
    "itself never leaves the scan stage.",
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 (guide §5): the fingerprint frame feeds FOUR consumers (df
    # census, per-doc sizes, both self-join sides) and its pipeline is
    # expensive (per-char substring hashing + the rolling-min window) —
    # the before-plan recomputed it 5x (10 parquet scans, 5 WindowExec).
    # A lazy localCheckpoint materializes it once as narrow (doc_id, fp)
    # rows; measured 1.64 -> 1.13 s at sf0.1. Caller-release contract as
    # in q_band_sweep (ADVICE r10's naked-checkpoint class).
    fp = winnow_postings(
        load_table(spark, sf_dir, "documents", fan_out=True).select(
            "doc_id", "text"
        )
    ).localCheckpoint(eager=False)
    keep = fp.groupBy("fp").agg(F.count("*").alias("df")).where(
        F.col("df") <= WINNOW_MAX_DF
    )
    sizes = fp.groupBy("doc_id").agg(F.count("*").alias("nf"))
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(keep.select("fp"), "fp")
        .join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    out = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double")
                / F.least("na", "nb"),
                6,
            ).alias("overlap"),
        )
    )
    out.ckpt_release = CheckpointRelease(fp)
    return out


# --------------------------------------------------------------------------
# preference-pair construction (DPO/RLHF shape)
# --------------------------------------------------------------------------
@register(
    "q_preference_pairs",
    oracle="""WITH p AS (
  SELECT user_id, event_id, value FROM events
   WHERE event_type = 'purchase' AND value IS NOT NULL
), c AS (
  SELECT user_id, event_id AS chosen_event, value AS chosen_value
    FROM p
   QUALIFY row_number() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id) = 1
), r AS (
  SELECT user_id, event_id AS rejected_event, value AS rejected_value
    FROM p
   QUALIFY row_number() OVER (PARTITION BY user_id
                              ORDER BY value ASC, event_id) = 1
)
SELECT c.user_id, chosen_event,
       round(chosen_value, 6) AS chosen_value,
       rejected_event,
       round(rejected_value, 6) AS rejected_value,
       round(chosen_value - rejected_value, 6) AS margin
  FROM c JOIN r ON c.user_id = r.user_id
 WHERE chosen_value > rejected_value
""",
    doc="preference-pair construction for reward-model / DPO training from "
    "logged feedback: per user, chosen = highest-valued purchase, rejected "
    "= lowest (event_id tie-breaks make both picks unique), strict-margin "
    "pairs only. One map-side-combinable aggregation (max_by/min_by over "
    "a unique (value, event_id) ordering struct) — no window sort, one "
    "shuffle on the grouping key; at 100 TB this beats the row_number "
    "formulation by skipping the per-group sort entirely and combining "
    "partials at the scan.",
)
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # value IS NOT NULL keeps the struct-ordered max_by/min_by aligned with
    # the oracle's nulls-last ranking if the corpus ever carries NULL values
    # (Spark sorts NULL smallest inside a struct; DuckDB ranks it last)
    p = (
        load_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select("user_id", "event_id", "value")
    )
    agg = p.groupBy("user_id").agg(
        F.expr(
            "max_by(event_id, struct(value, -event_id))"
        ).alias("chosen_event"),
        F.max("value").alias("chosen_raw"),
        F.expr(
            "min_by(event_id, struct(value, event_id))"
        ).alias("rejected_event"),
        F.min("value").alias("rejected_raw"),
    )
    return (
        agg.where(F.col("chosen_raw") > F.col("rejected_raw"))
        .select(
            "user_id",
            "chosen_event",
            F.round("chosen_raw", 6).alias("chosen_value"),
            "rejected_event",
            F.round("rejected_raw", 6).alias("rejected_value"),
            F.round(F.col("chosen_raw") - F.col("rejected_raw"), 6).alias(
                "margin"
            ),
        )
    )


# --------------------------------------------------------------------------
# contrastive in-batch-negative audit
# --------------------------------------------------------------------------
N_BATCHES = 16
_CB_SALT = "cb:"


@register(
    "q_contrastive_batches",
    oracle=f"""WITH assigned AS (
  SELECT {dd_stable_hash(f"'{_CB_SALT}' || CAST(vec_id AS VARCHAR)")} % {N_BATCHES} AS batch,
         label
    FROM embeddings
), per_label AS (
  SELECT batch, label, count(*) AS c FROM assigned GROUP BY batch, label
)
SELECT batch,
       CAST(sum(c) AS BIGINT) AS batch_size,
       count(*) AS n_labels,
       CAST(sum(c * (c - 1) / 2) AS BIGINT) AS dup_label_pairs,
       round(CAST(sum(c * (c - 1) / 2) AS DOUBLE)
             / (sum(c) * (sum(c) - 1) / 2), 6) AS collision_rate
  FROM per_label GROUP BY batch
""",
    doc="in-batch-negative audit for contrastive training: deterministic "
    f"salted-hash assignment into {N_BATCHES} batches, then per batch the "
    "same-label pair count (pairs that would be FALSE negatives if used "
    "as in-batch negatives) and its rate over all pairs. Exact integer "
    "pair combinatorics (c*(c-1)/2) so partial-agg order can't drift. Two "
    "cheap aggregations on bounded keys (batch x label, then batch) — at "
    "100 TB the first agg combines map-side to |batches|x|labels| rows "
    "and everything after is driver-trivial.",
)
def q_contrastive_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    batch = (
        stable_hash(F.concat(F.lit(_CB_SALT), F.col("vec_id").cast("string")))
        % N_BATCHES
    )
    per_label = (
        e.select(batch.alias("batch"), "label")
        .groupBy("batch", "label")
        .agg(F.count("*").alias("c"))
    )
    pairs = (F.col("c") * (F.col("c") - 1) / 2).cast("bigint")
    return per_label.groupBy("batch").agg(
        F.sum("c").alias("batch_size"),
        F.count("*").alias("n_labels"),
        F.sum(pairs).alias("dup_label_pairs"),
        F.round(
            F.sum(pairs).cast("double")
            / (F.sum("c") * (F.sum("c") - 1) / 2),
            6,
        ).alias("collision_rate"),
    )


# --------------------------------------------------------------------------
# embedding-space outliers vs the engine-stable global centroid
# --------------------------------------------------------------------------
QUANT = 1_000_000
# cosine-to-centroid below this (in 1e-6 units) flags the vector; an
# orthogonal-or-worse vector is pointing away from the corpus bulk.
OUTLIER_COS_MICRO = 0


def _global_centroid(e: DataFrame) -> DataFrame:
    """One-row (centroid array<double>) frame, micro-unit-exact mean."""
    comp = (
        e.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "x"
            )
        )
        .groupBy("pos")
        .agg(
            F.sum(F.round(F.col("x") * QUANT).cast("bigint")).alias("s"),
            F.count("*").alias("n"),
        )
    )
    return comp.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        (F.col("s").cast("double") / F.col("n")).alias("c"),
                    )
                )
            ),
            lambda p: p["c"],
        ).alias("centroid")
    )


@register(
    "q_embed_outliers",
    oracle=f"""WITH comp AS (
  SELECT i,
         sum(CAST(round((embedding::DOUBLE[])[i] * {QUANT}) AS BIGINT)) AS s,
         count(*) AS n
    FROM embeddings CROSS JOIN range(1, 65) t(i)
   GROUP BY i
), cent AS (
  SELECT list(CAST(s AS DOUBLE) / n ORDER BY i) AS centroid FROM comp
)
SELECT vec_id, label,
       round({dd_cosine_similarity('embedding', 'centroid')}, 6) AS cos_centroid,
       (CAST(round({dd_cosine_similarity('embedding', 'centroid')} * {QUANT}) AS BIGINT)
        < {OUTLIER_COS_MICRO}) AS is_outlier
  FROM embeddings CROSS JOIN cent
""",
    doc="embedding-space outlier pruning: cosine of every vector against "
    "the global corpus centroid (micro-unit-quantized integer mean — "
    "partial-agg-order-proof, same recipe as the IVF centroids), outliers "
    "flagged on the exact integer micro-cosine so the boundary compare "
    "can't half-round differently across engines. The centroid is a "
    "64-group aggregate that map-side-combines to nothing; the scoring "
    "pass is a broadcast of one 512-byte row + a row-local fold — at "
    "100 TB: two scans, no data-sized shuffle.",
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", "embedding"
    )
    cent = _global_centroid(e)
    cos = cosine_similarity(F.col("embedding"), F.col("centroid"))
    return e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        F.round(cos, 6).alias("cos_centroid"),
        (
            F.round(cos * QUANT).cast("bigint") < OUTLIER_COS_MICRO
        ).alias("is_outlier"),
    )


# --------------------------------------------------------------------------
# greedy k-center coreset (farthest-first traversal)
# --------------------------------------------------------------------------
CORESET_K = 8


_FARTHEST_SCHEMA = "vec_id long, d2u long, x array<double>"
_LONG_MAX_AS_DOUBLE = 2.0**63


def _farthest_kernel(cents):
    """mapInArrow factory for one farthest-first round over (vec_id, x):
    emit ONE candidate row per task, the row maximizing (d2u, -vec_id),
    where d2u = round(d2 * QUANT) and d2 is the squared L2 distance to the
    nearest of ``cents``. With no centres d2u is 0, so the candidate is the
    smallest vec_id: the seed. A bit-exact replica of the JVM expression
    ``round(aggregate(transform(cents, c -> aggregate(zip_with(x, c,
    (a - b) * (a - b)), 0.0, +)), +inf, least) * QUANT)`` cast to bigint:

    - each centre's sum is the left-to-right double fold (``np.cumsum``;
      0.0 + d1 == d1 for a square);
    - ``least`` folds the centres in list order from +inf, and Spark
      orders NaN above every double, so a NaN distance never wins
      (``np.fmin``, not ``np.min``);
    - HALF_UP rounding is the Catalyst replica, and the ANSI cast to
      bigint raises on a value above 2^63, as Spark does (a row whose
      every distance is NaN keeps the +inf start; 2^63 itself saturates
      to Long.MAX_VALUE).
    """
    import numpy as np
    import pyarrow as pa

    from prefect_flow_arc_indexer_spark.functions.rounding import (
        spark_round_half_up_long,
    )

    cmat = [np.asarray(c, dtype=np.float64) for c in cents]

    def d2u_of(x):
        if not cmat:
            return np.zeros(len(x), dtype=np.int64)
        d2 = np.full(len(x), np.inf)
        for c in cmat:
            sq = (x - c) * (x - c)
            fold = np.cumsum(sq, axis=1)[:, -1] if sq.shape[1] else 0.0
            d2 = np.fmin(d2, fold)
        y = d2 * QUANT
        if (y > _LONG_MAX_AS_DOUBLE).any():
            raise ArithmeticError(
                "CAST_OVERFLOW: a squared distance in 1e-6 units does not "
                "fit a bigint"
            )
        top = y >= _LONG_MAX_AS_DOUBLE
        out = spark_round_half_up_long(np.where(top, 0.0, y))
        out[top] = np.iinfo(np.int64).max
        return out

    def run(it):
        best = None
        for batch in it:
            if batch.num_rows == 0:
                continue
            ids = np.asarray(batch.column(0).to_pylist(), dtype=np.int64)
            x = list_matrix(batch.column(1))
            d2u = d2u_of(x)
            ties = np.flatnonzero(d2u == d2u.max())
            i = ties[np.argmin(ids[ties])]
            key = (int(d2u[i]), -int(ids[i]))
            if best is None or key > best[0]:
                best = (key, batch.slice(i, 1).column(1))
        if best is None:
            return
        (d2u, neg_id), x = best
        yield pa.RecordBatch.from_arrays(
            [pa.array([-neg_id], pa.int64()), pa.array([d2u], pa.int64()), x],
            ["vec_id", "d2u", "x"],
        )

    return run


@register(
    "q_coreset_kcenter",
    # Full DuckDB replay of the greedy loop (r7 — was rows-only): a
    # recursive CTE carries the selected-center list; each step replicates
    # the kernel's arithmetic EXACTLY — per-center squared-L2 as a LEFT
    # FOLD in array order (list_reduce matches np.cumsum), least() across
    # centers in list order, THEN one round(*1e6) to integer micro-units,
    # argmax broken ties-to-smaller-id via ORDER BY d2u DESC, vec_id ASC
    # LIMIT 1 (the kernel: max of (d2u, -vec_id)). Exactness is
    # additionally pinned by the pure-Python replay test in
    # tests/test_curation.py and the JVM-fold fuzz in tests/test_rounds.py.
    oracle=f"""WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
),
seed AS (SELECT vec_id, x FROM e ORDER BY vec_id LIMIT 1),
steps AS (
  -- anchor selects FROM seed (not scalar subqueries), so an empty corpus
  -- yields 0 rows here, matching the Spark builder's empty-seed guard
  SELECT 0 AS round, vec_id, CAST(0 AS BIGINT) AS radius_d2_micro,
         [x] AS sel
    FROM seed
  UNION ALL
  SELECT s.round + 1, f.vid, f.radius, list_append(s.sel, f.vx)
    FROM steps s, LATERAL (
      SELECT e.vec_id AS vid,
             CAST(round(list_reduce(
                 list_transform(s.sel, c -> list_reduce(
                     list_transform(list_zip(e.x, c),
                                    p -> (p[1] - p[2]) * (p[1] - p[2])),
                     (acc, v) -> acc + v)),
                 (acc, v) -> least(acc, v)) * {QUANT}) AS BIGINT) AS radius,
             e.x AS vx
        FROM e
       ORDER BY radius DESC, e.vec_id ASC
       LIMIT 1
    ) f
   WHERE s.round < {CORESET_K - 1}
)
SELECT round, vec_id, radius_d2_micro FROM steps
""",
    doc="greedy k-center coreset selection (farthest-first traversal, "
    "Gonzalez'85 2-approximation): seed = min vec_id, each round adds the "
    "point farthest from the selected set and records the covering radius "
    "— the diversity sampler behind data-pruning/active-learning "
    "selection. When the corpus fits the broadcast threshold, every round "
    "runs on the driver through functions.rounds.arrow_rounds: one Arrow "
    "kernel, a bit-exact replica of the JVM distance-to-set fold, over one "
    "collected copy. Above it, each round is one JVM job: the selected set "
    "ships as an array literal, distance-to-set is a row-local fold and "
    "the argmax a map-side-combinable max_by. Radii are squared-L2 in "
    "1e-6 units (exact integers) so ties and replay are deterministic.",
)
def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    def embeddings(fan_out: bool) -> DataFrame:
        return load_table(spark, sf_dir, "embeddings", fan_out=fan_out).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("x")
        )

    e = embeddings(fan_out=False)
    if fits_driver(e):
        rows = _kcenter_rounds(e, CORESET_K)
    else:
        rows = _kcenter_fold_rounds(embeddings(fan_out=True), CORESET_K)
    return local_frame(
        spark, rows, "round int, vec_id bigint, radius_d2_micro bigint"
    )


def _kcenter_rounds(e: DataFrame, k: int) -> list[tuple[int, int, int]]:
    """(round, vec_id, radius) of ``k`` farthest-first rounds over
    ``(vec_id, x)``; no rows for an empty ``e``."""
    out: list[tuple[int, int, int]] = []
    cents: list[list[float]] = []
    with arrow_rounds(e) as run:
        for rnd in range(k):
            # round 0 has no centres, so its farthest row is the seed
            part = run(_farthest_kernel(cents), _FARTHEST_SCHEMA).to_pylist()
            if not part:
                break
            far = max(part, key=lambda r: (r["d2u"], -r["vec_id"]))
            cents.append(far["x"])
            out.append((rnd, far["vec_id"], far["d2u"]))
    return out


def _kcenter_fold_rounds(e: DataFrame, k: int) -> list[tuple[int, int, int]]:
    """:func:`_kcenter_rounds` as one JVM job per round over a persisted
    ``e``, for a corpus above the broadcast threshold, where a Python job
    per round is the slower one (3.17 against 2.64 s at sf0.01 with the
    threshold forced to -1). The selected set ships as an in-plan array
    literal, distance-to-set is a row-local fold over it, and the argmax is
    a map-side-combinable ``max_by`` on ``struct(d2u, -vec_id)`` that also
    returns the farthest vector, so a round needs no second lookup job."""
    e = e.persist()
    try:
        # one job fetches the seed id AND its vector (min_by on the key)
        seed, seed_vec = e.agg(
            F.min("vec_id"), F.expr("min_by(x, vec_id)")
        ).first()
        if seed is None:
            return []
        selected = [list(seed_vec)]
        out = [(0, int(seed), 0)]
        for rnd in range(1, k):
            cents = F.array(
                *[F.array(*[F.lit(float(x)) for x in v]) for v in selected]
            )
            # squared L2 to the nearest selected center, in exact 1e-6 units
            d2 = F.aggregate(
                F.transform(
                    cents,
                    lambda c: F.aggregate(
                        F.zip_with(
                            F.col("x"), c, lambda a, b: (a - b) * (a - b)
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ),
                ),
                F.lit(float("inf")),
                lambda acc, v: F.least(acc, v),
            )
            far = (
                e.select(
                    "vec_id",
                    "x",
                    F.round(d2 * QUANT).cast("bigint").alias("d2u"),
                )
                .agg(
                    F.expr("max_by(vec_id, struct(d2u, -vec_id))").alias("vid"),
                    F.max("d2u").alias("radius"),
                    F.expr("max_by(x, struct(d2u, -vec_id))").alias("vx"),
                )
                .first()
            )
            selected.append(list(far["vx"]))
            out.append((rnd, int(far["vid"]), int(far["radius"])))
    finally:
        e.unpersist()
    return out


# --------------------------------------------------------------------------
# class-balance weights (inverse-frequency + effective-number)
# --------------------------------------------------------------------------
EFF_BETA = 0.99  # Cui et al. '19 effective-number re-weighting


@register(
    "q_class_weights",
    oracle=f"""WITH per AS (
  SELECT label, count(*) AS n FROM embeddings GROUP BY label
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_labels FROM per
)
SELECT label, CAST(n AS BIGINT) AS n,
       round(CAST(total AS DOUBLE) / (n_labels * n), 6) AS inv_weight,
       round((1 - {EFF_BETA}) / (1 - power({EFF_BETA}, n)), 6) AS eff_weight
  FROM per CROSS JOIN tot
""",
    doc="class-balance weights for training on a skewed label "
    "distribution: inverse-frequency (N / (K * n_k)) and "
    f"effective-number (Cui et al. '19, beta={EFF_BETA}: "
    "(1-b)/(1-b^n)) per label — the loss re-weighting table a "
    "classifier head trains with. One map-side-combined count on the "
    "bounded label key, the totals a 1-row broadcast; all per-label "
    "arithmetic is single deterministic IEEE ops on exact integer "
    "counts, so engines agree bit-for-bit before rounding.",
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count("*").alias("n"))
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count("*").alias("n_labels"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "label",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("total").cast("double") / (F.col("n_labels") * F.col("n")),
            6,
        ).alias("inv_weight"),
        F.round(
            (1 - F.lit(EFF_BETA)) / (1 - F.pow(F.lit(EFF_BETA), F.col("n"))),
            6,
        ).alias("eff_weight"),
    )


# --------------------------------------------------------------------------
# reciprocal-rank-fusion quality ranking (multi-signal doc selection)
# --------------------------------------------------------------------------
RRF_C = 60  # the standard RRF damping constant
RRF_TOP = 20
RRF_PARTS = 8  # range partitions for each scale-honest global rank


def _global_rank(df: DataFrame, signal: str) -> DataFrame:
    """row_number() by (signal DESC, doc_id ASC) in the scale-honest
    TWO-PASS form — thin wrapper over the shared
    :func:`~prefect_flow_arc_indexer_spark.operators.distrank.global_rank`
    (repartitionByRange -> per-partition row_number -> broadcast offsets;
    never a single-task global window). Returns (doc_id, rnk)."""
    from prefect_flow_arc_indexer_spark.operators.distrank import (
        global_rank,
    )

    return global_rank(
        df,
        [F.col(signal).desc(), F.col("doc_id").asc()],
        "rnk",
        num_parts=RRF_PARTS,
    ).select("doc_id", "rnk")


def _register_rank_fusion():
    from prefect_flow_arc_indexer_spark.functions.textfns import (
        dd_tokens,
        tokens,
    )

    dd_tok = dd_tokens("text")
    dd_sigs = f"""sig AS (
  SELECT doc_id,
         CAST(coalesce(len({dd_tok}), 0) AS BIGINT) AS s_tokens,
         CAST(CASE WHEN coalesce(len({dd_tok}), 0) = 0 THEN 0
              ELSE round(1000000.0 * len(list_distinct({dd_tok}))
                         / len({dd_tok})) END AS BIGINT) AS s_distinct,
         CAST(CASE WHEN coalesce(len({dd_tok}), 0) = 0 THEN 0
              ELSE round(1000000.0 * list_aggregate(list_transform({dd_tok}, t -> length(t)), 'sum')
                         / len({dd_tok})) END AS BIGINT) AS s_avglen
    FROM documents
)"""
    rrf_term = f"CAST(round(1000000000.0 / ({RRF_C} + {{r}})) AS BIGINT)"
    oracle = f"""WITH {dd_sigs},
r1 AS (SELECT doc_id, row_number() OVER (ORDER BY s_tokens DESC, doc_id) AS rnk FROM sig),
r2 AS (SELECT doc_id, row_number() OVER (ORDER BY s_distinct DESC, doc_id) AS rnk FROM sig),
r3 AS (SELECT doc_id, row_number() OVER (ORDER BY s_avglen DESC, doc_id) AS rnk FROM sig)
SELECT s.doc_id,
       r1.rnk AS rank_tokens, r2.rnk AS rank_distinct, r3.rnk AS rank_avglen,
       CAST({rrf_term.format(r="r1.rnk")} + {rrf_term.format(r="r2.rnk")}
            + {rrf_term.format(r="r3.rnk")} AS BIGINT) AS rrf_nano
  FROM sig s
  JOIN r1 ON r1.doc_id = s.doc_id
  JOIN r2 ON r2.doc_id = s.doc_id
  JOIN r3 ON r3.doc_id = s.doc_id
 ORDER BY rrf_nano DESC, s.doc_id
 LIMIT {RRF_TOP}
"""

    @register(
        "q_rank_fusion",
        oracle=oracle,
        doc="reciprocal-rank fusion over three independent row-local "
        "quality signals (token count, distinct-token ratio, mean token "
        "length): per signal a GLOBAL dense ranking in the scale-honest "
        "two-pass form (repartitionByRange + local row_number + "
        "broadcast offsets — no single-task window), fused as exact "
        f"integer nano-unit 1/({RRF_C}+rank) terms (order-proof sums), "
        "deterministic top-k via TakeOrdered. The rank-fusion shape "
        "(RRF, Cormack'09) is how multi-signal doc selection avoids "
        "hand-tuned score scales — each signal only contributes its "
        "ORDER. Three range exchanges (one per signal) is the honest "
        "cost of three exact global rankings.",
    )
    def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True).select(
            "doc_id", "text"
        )
        tok = tokens(F.col("text"))
        n_tok = F.coalesce(F.size(tok), F.lit(0))
        # size() is -1 for NULL arrays under legacy conf; coalesce+greatest
        # keeps the signal at 0 for NULL/empty texts on both engines
        n_tok = F.greatest(n_tok, F.lit(0))
        sigs = docs.select(
            "doc_id",
            n_tok.cast("bigint").alias("s_tokens"),
            F.when(n_tok == 0, F.lit(0))
            .otherwise(
                F.round(
                    1_000_000.0
                    * F.size(F.array_distinct(tok))
                    / n_tok
                )
            )
            .cast("bigint")
            .alias("s_distinct"),
            F.when(n_tok == 0, F.lit(0))
            .otherwise(
                F.round(
                    1_000_000.0
                    * F.aggregate(
                        F.transform(tok, F.length),
                        F.lit(0),
                        lambda a, t: a + t,
                    )
                    / n_tok
                )
            )
            .cast("bigint")
            .alias("s_avglen"),
        )
        r1 = _global_rank(sigs.select("doc_id", "s_tokens"), "s_tokens")
        r2 = _global_rank(sigs.select("doc_id", "s_distinct"), "s_distinct")
        r3 = _global_rank(sigs.select("doc_id", "s_avglen"), "s_avglen")

        def term(c):
            return F.round(1_000_000_000.0 / (RRF_C + c)).cast("bigint")

        return (
            sigs.select("doc_id")
            .join(r1.withColumnRenamed("rnk", "rank_tokens"), "doc_id")
            .join(r2.withColumnRenamed("rnk", "rank_distinct"), "doc_id")
            .join(r3.withColumnRenamed("rnk", "rank_avglen"), "doc_id")
            .select(
                "doc_id",
                "rank_tokens",
                "rank_distinct",
                "rank_avglen",
                (
                    term(F.col("rank_tokens"))
                    + term(F.col("rank_distinct"))
                    + term(F.col("rank_avglen"))
                )
                .cast("bigint")
                .alias("rrf_nano"),
            )
            .orderBy(F.col("rrf_nano").desc(), "doc_id")
            .limit(RRF_TOP)
        )


_register_rank_fusion()


# --------------------------------------------------------------------------
# Spearman rank correlation between quality signals
# --------------------------------------------------------------------------
def _register_spearman():
    from prefect_flow_arc_indexer_spark.functions.textfns import (
        dd_tokens,
        tokens,
    )

    dd_tok = dd_tokens("text")
    oracle = f"""WITH sig AS (
  SELECT doc_id,
         CAST(coalesce(len({dd_tok}), 0) AS BIGINT) AS s_tokens,
         CAST(CASE WHEN coalesce(len({dd_tok}), 0) = 0 THEN 0
              ELSE round(1000000.0 * list_aggregate(list_transform({dd_tok}, t -> length(t)), 'sum')
                         / len({dd_tok})) END AS BIGINT) AS s_avglen
    FROM documents
),
ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY s_tokens DESC, doc_id) AS ra,
         row_number() OVER (ORDER BY s_avglen DESC, doc_id) AS rb
    FROM sig
),
sums AS (
  SELECT count(*) AS n,
         CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n, sum_d2,
       round(1.0 - 6.0 * sum_d2 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1)), 6) AS rho
  FROM sums
"""

    @register(
        "q_spearman",
        oracle=oracle,
        doc="Spearman rank correlation between two quality signals (token "
        "count vs mean token length): are the signals redundant or "
        "complementary before fusing them? Ranks are unique row_numbers "
        "(doc_id tie-break — the convention both engines pin), computed "
        "in the scale-honest two-pass form; sum of squared rank "
        "differences is exact bigint, rho is ONE double evaluation of "
        "1 - 6*sum_d2/(n(n^2-1)). Two range exchanges + a 1-row "
        "reduction — rank statistics without a single-task sort.",
    )
    def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True).select(
            "doc_id", "text"
        )
        tok = tokens(F.col("text"))
        n_tok = F.greatest(F.coalesce(F.size(tok), F.lit(0)), F.lit(0))
        sigs = docs.select(
            "doc_id",
            n_tok.cast("bigint").alias("s_tokens"),
            F.when(n_tok == 0, F.lit(0))
            .otherwise(
                F.round(
                    1_000_000.0
                    * F.aggregate(
                        F.transform(tok, F.length),
                        F.lit(0),
                        lambda a, t: a + t,
                    )
                    / n_tok
                )
            )
            .cast("bigint")
            .alias("s_avglen"),
        )
        ra = _global_rank(sigs.select("doc_id", "s_tokens"), "s_tokens")
        rb = _global_rank(sigs.select("doc_id", "s_avglen"), "s_avglen")
        joined = ra.withColumnRenamed("rnk", "ra").join(
            rb.withColumnRenamed("rnk", "rb"), "doc_id"
        )
        d2 = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
        sums = joined.agg(
            F.count("*").alias("n"),
            F.sum(d2).cast("bigint").alias("sum_d2"),
        )
        n_d = F.col("n").cast("double")
        return sums.select(
            F.col("n").cast("bigint").alias("n"),
            "sum_d2",
            F.round(
                1.0 - 6.0 * F.col("sum_d2") / (n_d * (n_d * F.col("n") - 1)),
                6,
            ).alias("rho"),
        )


_register_spearman()


# --------------------------------------------------------------------------
# hashing-trick document vectors (fasttext-style bag-of-words, in-plan)
# --------------------------------------------------------------------------
HE_DIM = 64  # hashed embedding width
_HE_SALT = "he:"
_HE_SIGN_SALT = "hs:"


def _register_hash_embed():
    from prefect_flow_arc_indexer_spark.functions.textfns import (
        dd_tokens,
        tokens,
    )

    dd_tok = dd_tokens("text")
    dim = dd_stable_hash(f"'{_HE_SALT}' || t") + f" % {HE_DIM}"
    sign = (
        "CASE WHEN "
        + dd_stable_hash(f"'{_HE_SIGN_SALT}' || t")
        + " % 2 = 0 THEN 1 ELSE -1 END"
    )
    oracle = f"""WITH toks AS (
  SELECT doc_id, unnest(coalesce({dd_tok}, [])) AS t FROM documents
),
comps AS (
  SELECT doc_id, {dim} AS dim, CAST(sum({sign}) AS BIGINT) AS v
    FROM toks GROUP BY doc_id, {dim}
)
SELECT d.doc_id,
       CAST(coalesce(count(c.dim) FILTER (WHERE c.v <> 0), 0) AS BIGINT) AS nnz,
       CAST(coalesce(sum(abs(c.v)), 0) AS BIGINT) AS l1_norm,
       CAST(coalesce(sum(c.v * (c.dim + 1)), 0) AS BIGINT) AS checksum
  FROM documents d LEFT JOIN comps c ON c.doc_id = d.doc_id
 GROUP BY d.doc_id
"""

    @register(
        "q_hash_embed",
        oracle=oracle,
        doc=f"hashing-trick document vectors built IN-PLAN (fasttext-style "
        f"signed feature hashing into {HE_DIM} dims, Weinberger'09): each "
        "token adds +/-1 to its hashed dimension — a model-free text "
        "embedding whose construction is exact integer arithmetic, so "
        "the per-doc profile (nnz, l1 norm, position-weighted checksum) "
        "is bit-stable across engines and partitionings. Scale shape: "
        "token explode -> one (doc, dim) map-side-combined aggregation "
        "-> per-doc rollup; the vector itself never materializes as a "
        "row-level array wider than its non-zero components.",
    )
    def q_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True).select(
            "doc_id", "text"
        )
        tok = F.coalesce(
            tokens(F.col("text")), F.array().cast("array<string>")
        )
        toks = docs.select("doc_id", F.explode(tok).alias("t"))
        dim_c = (
            stable_hash(F.concat(F.lit(_HE_SALT), F.col("t"))) % HE_DIM
        )
        sign_c = F.when(
            stable_hash(F.concat(F.lit(_HE_SIGN_SALT), F.col("t"))) % 2 == 0,
            1,
        ).otherwise(-1)
        comps = (
            toks.select("doc_id", dim_c.alias("dim"), sign_c.alias("s"))
            .groupBy("doc_id", "dim")
            .agg(F.sum("s").cast("bigint").alias("v"))
        )
        per_doc = comps.groupBy("doc_id").agg(
            F.sum(F.when(F.col("v") != 0, 1).otherwise(0))
            .cast("bigint")
            .alias("nnz"),
            F.sum(F.abs("v")).cast("bigint").alias("l1_norm"),
            F.sum(F.col("v") * (F.col("dim") + 1))
            .cast("bigint")
            .alias("checksum"),
        )
        return (
            docs.select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("nnz", F.lit(0)).cast("bigint").alias("nnz"),
                F.coalesce("l1_norm", F.lit(0))
                .cast("bigint")
                .alias("l1_norm"),
                F.coalesce("checksum", F.lit(0))
                .cast("bigint")
                .alias("checksum"),
            )
        )


_register_hash_embed()


# --------------------------------------------------------------------------
# embedding-dimension health: per-dim variance / dead-dimension audit
# --------------------------------------------------------------------------
DEAD_VAR = 1e-4  # a dimension varying less than this is dead weight


def _register_dim_variance():
    oracle = f"""WITH comp AS (
  SELECT i - 1 AS dim,
         count(*) AS n,
         CAST(sum(CAST(round((embedding::DOUBLE[])[i] * 1000000) AS BIGINT))
              AS BIGINT) AS sx,
         CAST(sum(CAST(round((embedding::DOUBLE[])[i] * 1000000) AS BIGINT)
                  * CAST(round((embedding::DOUBLE[])[i] * 1000000) AS BIGINT))
              AS BIGINT) AS sxx
    FROM embeddings CROSS JOIN range(1, 65) t(i)
   GROUP BY i
)
SELECT dim,
       round(CAST(sx AS DOUBLE) / n / 1000000, 6) AS mean_v,
       round(CAST(sxx AS DOUBLE) / n / 1000000000000
             - (CAST(sx AS DOUBLE) / n / 1000000)
               * (CAST(sx AS DOUBLE) / n / 1000000), 6) AS var_v,
       (round(CAST(sxx AS DOUBLE) / n / 1000000000000
              - (CAST(sx AS DOUBLE) / n / 1000000)
                * (CAST(sx AS DOUBLE) / n / 1000000), 6) < {DEAD_VAR!r})
         AS is_dead
  FROM comp
"""

    @register(
        "q_dim_variance",
        oracle=oracle,
        doc="embedding-dimension health audit: per-dimension mean and "
        "variance from EXACT integer micro-unit sums (first and second "
        "moments are bigint-additive, so partial-agg order can't drift), "
        f"dimensions with variance < {DEAD_VAR} flagged dead — the "
        "pre-index check that catches collapsed/dead dimensions before "
        "they waste index width (and the empirical basis for the "
        "Matryoshka prefix choice). One posexplode + a 64-key "
        "map-side-combined aggregation; output is dimension-bounded.",
    )
    def q_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings", fan_out=True)
        u = F.round(F.col("x") * 1_000_000).cast("bigint")
        comp = (
            e.select(
                F.posexplode(
                    F.col("embedding").cast("array<double>")
                ).alias("pos", "x")
            )
            .select(F.col("pos").alias("dim"), u.alias("u"))
            .groupBy("dim")
            .agg(
                F.count("*").alias("n"),
                F.sum("u").cast("bigint").alias("sx"),
                F.sum(F.col("u") * F.col("u")).cast("bigint").alias("sxx"),
            )
        )
        mean_d = F.col("sx").cast("double") / F.col("n") / 1_000_000
        var_d = (
            F.col("sxx").cast("double") / F.col("n") / 1_000_000_000_000
            - mean_d * mean_d
        )
        return comp.select(
            "dim",
            F.round(mean_d, 6).alias("mean_v"),
            F.round(var_d, 6).alias("var_v"),
            (F.round(var_d, 6) < DEAD_VAR).alias("is_dead"),
        )


_register_dim_variance()


# --------------------------------------------------------------------------
# k-fold cross-validation assignment + fold-balance audit
# --------------------------------------------------------------------------
KFOLDS = 5
_KF_SALT = "fold:"


def _register_kfold():
    from prefect_flow_arc_indexer_spark.functions.textfns import (
        dd_tokens,
        tokens,
    )

    fold = dd_stable_hash(f"'{_KF_SALT}' || CAST(doc_id AS VARCHAR)") + (
        f" % {KFOLDS}"
    )
    dd_tok = dd_tokens("text")
    oracle = f"""WITH assigned AS (
  SELECT {fold} AS fold,
         coalesce(len({dd_tok}), 0) AS n_tok
    FROM documents
)
SELECT fold,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens
  FROM assigned GROUP BY fold
"""

    @register(
        "q_kfold",
        oracle=oracle,
        doc=f"{KFOLDS}-fold cross-validation assignment by salted "
        "engine-stable hash of the doc id (reproducible on any cluster "
        "shape — the property CV needs so a re-run never moves a doc "
        "across folds), summarized as the per-fold doc and token census "
        "(the balance audit). The fold decision is a zero-shuffle "
        "scan-side projection; only the 5-row summary aggregates. "
        "Complements q_train_split (fixed 80/10/10) with the rotating-"
        "holdout surface.",
    )
    def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        fold_c = (
            stable_hash(
                F.concat(F.lit(_KF_SALT), F.col("doc_id").cast("string"))
            )
            % KFOLDS
        )
        n_tok = F.greatest(
            F.coalesce(F.size(tokens(F.col("text"))), F.lit(0)), F.lit(0)
        )
        return (
            docs.select(fold_c.alias("fold"), n_tok.alias("n_tok"))
            .groupBy("fold")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tok").cast("bigint").alias("total_tokens"),
            )
        )


_register_kfold()


# --------------------------------------------------------------------------
# duplication vs quality: the governance cross-tab
# --------------------------------------------------------------------------
def _register_dup_quality():
    """Does duplicated content fail quality at a different rate? Join the
    dedup-cluster size (q_dedup_components) against the Gopher verdict
    (q_gopher_rules) and cross-tab keep rate by duplication bucket — the
    governance readout that decides whether dedup and quality filtering
    are redundant or complementary gates on THIS corpus."""
    # import the providers FIRST so their registrations exist even when
    # this module is imported directly (e.g. a test importing a constant)
    # before the registry's ordered load runs; neither module imports
    # curation, so there is no cycle
    import prefect_flow_arc_indexer_spark.operators.corpus_quality  # noqa: F401
    import prefect_flow_arc_indexer_spark.operators.dedup  # noqa: F401
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    comp_sql = _REGISTRY["q_dedup_components"].oracle
    gopher_sql = _REGISTRY["q_gopher_rules"].oracle
    oracle = f"""WITH comp AS ({comp_sql}),
gopher AS ({gopher_sql}),
joined AS (
  SELECT CASE WHEN c.component_size = 1 THEN 'unique'
              WHEN c.component_size <= 4 THEN 'small_cluster'
              ELSE 'large_cluster' END AS dup_bucket,
         CASE WHEN g.keep THEN 1 ELSE 0 END AS kept
    FROM comp c JOIN gopher g ON g.doc_id = c.doc_id
)
SELECT dup_bucket,
       count(*) AS n_docs,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       round(CAST(sum(kept) AS DOUBLE) / count(*), 6) AS keep_rate
  FROM joined GROUP BY dup_bucket
"""

    @register(
        "q_dup_quality",
        oracle=oracle,
        doc="duplication x quality cross-tab: dedup-cluster size buckets "
        "(unique / 2-4 / 5+) against the Gopher keep verdict — per "
        "bucket the doc count and keep rate. The governance readout "
        "that tells you whether near-dup content is ALSO low-quality "
        "(gates redundant) or orthogonal (both needed). Composes two "
        "oracle-gated operators with an ids-only join; the cross-tab is "
        "3 rows.",
    )
    def q_dup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
        from prefect_flow_arc_indexer_spark.functions.textfns import tokens
        from prefect_flow_arc_indexer_spark.operators.corpus_quality import (
            gopher_cols,
        )
        from prefect_flow_arc_indexer_spark.operators.dedup import (
            component_label_sizes,
        )

        # r11 (guide §2.4): the Gopher verdict is row-local, so it rides
        # the SAME corpus scan that anchors the cluster-size lookup — the
        # previous shape joined the full q_dedup_components output (itself
        # a corpus-wide left join) against a second corpus-sized gopher
        # scan. Row set: the inner join kept gopher's rows (text IS NOT
        # NULL), which is the filter here; component_size for a doc
        # absent from the label table is 1 (singleton), exactly
        # q_dedup_components' coalesce.
        docs = (
            load_table(spark, sf_dir, "documents", fan_out=True)
            .where(F.col("text").isNotNull())
            .withColumn("tok", tokens(F.col("text")))
        )
        keep = gopher_cols(F.col("tok"), F.col("text"))["keep"]
        labeled = component_label_sizes(
            load_table(spark, sf_dir, "documents", fan_out=True)
        )
        comp_size = F.coalesce("sz", F.lit(1))
        bucket = (
            F.when(comp_size == 1, "unique")
            .when(comp_size <= 4, "small_cluster")
            .otherwise("large_cluster")
        )
        return (
            docs.select("doc_id", keep.cast("int").alias("kept"))
            .join(labeled.select("doc_id", "sz"), "doc_id", "left")
            .select(bucket.alias("dup_bucket"), "kept")
            .groupBy("dup_bucket")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("kept").cast("bigint").alias("n_kept"),
                F.round(
                    F.sum("kept").cast("double") / F.count("*"), 6
                ).alias("keep_rate"),
            )
        )


_register_dup_quality()


# --------------------------------------------------------------------------
# Gini concentration of corpus contribution
# --------------------------------------------------------------------------
def _register_gini():
    from prefect_flow_arc_indexer_spark.functions.textfns import (
        dd_tokens,
        tokens,
    )

    dd_tok = dd_tokens("text")
    oracle = f"""WITH sig AS (
  SELECT doc_id, CAST(coalesce(len({dd_tok}), 0) AS BIGINT) AS n_tok
    FROM documents
),
ranked AS (
  SELECT n_tok, row_number() OVER (ORDER BY n_tok ASC, doc_id ASC) AS i
    FROM sig
),
sums AS (
  SELECT count(*) AS n,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(sum(i * n_tok) AS BIGINT) AS s1
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n, total_tokens,
       round(2.0 * s1 / (CAST(n AS DOUBLE) * total_tokens)
             - (n + 1.0) / n, 6) AS gini
  FROM sums
"""

    @register(
        "q_gini",
        oracle=oracle,
        doc="Gini coefficient of per-doc token contribution: the one-number "
        "concentration readout (0 = every doc contributes equally, ->1 = "
        "a few docs dominate the token budget) a corpus governance report "
        "publishes next to the dataset card. The sorted-rank formulation "
        "G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n uses the scale-honest "
        "two-pass global rank (ascending), exact bigint moment sums, and "
        "ONE double evaluation — no single-task sort, "
        "aggregation-order-proof.",
    )
    def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True).select(
            "doc_id", "text"
        )
        n_tok = F.greatest(
            F.coalesce(F.size(tokens(F.col("text"))), F.lit(0)), F.lit(0)
        ).cast("bigint")
        sig = docs.select("doc_id", n_tok.alias("n_tok"))
        # ascending rank via the shared two-pass helper: rank desc on the
        # NEGATED signal == rank asc on the signal, with the same doc_id
        # tie-break direction as the oracle's (n_tok ASC, doc_id ASC)
        neg = sig.select("doc_id", (-F.col("n_tok")).alias("neg_tok"), "n_tok")
        ranked = _global_rank(
            neg.select("doc_id", "neg_tok"), "neg_tok"
        ).join(sig, "doc_id")
        sums = ranked.agg(
            F.count("*").alias("n"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum(F.col("rnk") * F.col("n_tok")).cast("bigint").alias("s1"),
        )
        n_d = F.col("n").cast("double")
        return sums.select(
            F.col("n").cast("bigint").alias("n"),
            "total_tokens",
            F.round(
                2.0 * F.col("s1") / (n_d * F.col("total_tokens"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini"),
        )


_register_gini()
