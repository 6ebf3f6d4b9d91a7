"""Corpus mining operators (round 5): cross-document repetition signals and
tokenizer/curriculum profiling — the remaining pre-training-prep surface on
top of the dedup/quality families.

- q_repeated_ngrams: corpus-level repeated n-gram mining (the signal behind
  exact-substring dedup, Lee et al. '22 "Deduplicating Training Data");
- q_line_dedup: boilerplate line/sentence removal stats (RefinedWeb/CCNet
  line-dedup shape): lines recurring across >= K documents are boilerplate;
- q_tokenizer_fertility: per-language chars/token and BPE-vs-whitespace
  fertility — the tokenizer-budget profile a multilingual corpus publishes;
- q_curriculum_stages: equal-size difficulty staging via the two-pass
  distrank global rank (curriculum ordering for training schedulers).

All plans are single-shuffle aggregations keyed on content (gram/line) or
the two-pass rank; no corpus-cardinality single-task windows, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prefect_flow_arc_indexer_spark.functions.textfns import (
    dd_regex_token_count,
    dd_tokens,
    dd_word_ngrams,
    regex_token_count,
    tokens,
    word_ngrams,
)
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

NGRAM_N = 5
NGRAM_MIN_DOCS = 2
LINE_BOILER_DOCS = 3  # a line in >= K distinct docs is boilerplate
CURR_STAGES = 4


@register(
    "q_repeated_ngrams",
    oracle=f"""WITH toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok
    FROM documents WHERE text IS NOT NULL
),
ng AS (
  SELECT doc_id, unnest({dd_word_ngrams("tok", NGRAM_N)}) AS g FROM toks
),
per_doc AS (
  SELECT g, doc_id, count(*) AS occ FROM ng GROUP BY g, doc_id
)
SELECT g AS ngram,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(occ) AS BIGINT) AS n_occurrences
  FROM per_doc GROUP BY g HAVING count(*) >= {NGRAM_MIN_DOCS}
""",
    doc=f"corpus-level repeated {NGRAM_N}-gram mining — the detection "
    "signal behind exact-substring training-data dedup (Lee et al. '22): "
    f"every {NGRAM_N}-gram recurring in >= {NGRAM_MIN_DOCS} distinct "
    "documents, with its document and occurrence counts. Plan: n-grams "
    "are scan-side higher-order functions, the (gram, doc) pre-aggregate "
    "is map-side combinable, and the final shuffle keys on the gram — "
    "the repetition threshold makes the OUTPUT bounded by actual "
    "cross-document repetition, never corpus size. At 100 TB the gram "
    "key is hashed (sha2 prefix) instead of carried verbatim and the "
    "same two-level aggregate holds; this is the q_chunk_dedup shape one "
    "level below chunks.",
)
def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    ng = docs.select("doc_id", tokens("text").alias("tok")).select(
        "doc_id", F.explode(word_ngrams("tok", NGRAM_N)).alias("g")
    )
    per_doc = ng.groupBy("g", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    return (
        per_doc.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("occ").cast("bigint").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= NGRAM_MIN_DOCS)
        .select(F.col("g").alias("ngram"), "n_docs", "n_occurrences")
    )


# lines = sentence-ish units: split on '.', trimmed + lowercased, empties out
_DD_LINES = """
  SELECT doc_id,
         trim(lower(l)) AS line
    FROM (SELECT doc_id, unnest(string_split(text, '.')) AS l
            FROM documents WHERE text IS NOT NULL)
   WHERE trim(lower(l)) <> ''
"""


@register(
    "q_line_dedup",
    oracle=f"""WITH lines AS ({_DD_LINES}),
uniq AS (SELECT DISTINCT doc_id, line FROM lines),
df AS (
  SELECT line, count(*) AS n_docs FROM uniq GROUP BY line
),
flagged AS (
  SELECT l.doc_id, l.line,
         CASE WHEN d.n_docs >= {LINE_BOILER_DOCS} THEN 1 ELSE 0 END AS b
    FROM lines l JOIN df d USING (line)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(b) AS BIGINT) AS n_boiler,
       CAST((1000000 * (count(*) - sum(b))) // count(*) AS BIGINT)
         AS keep_ratio_micro
  FROM flagged GROUP BY doc_id
""",
    doc="boilerplate line dedup stats (the RefinedWeb/CCNet line-level "
    "pass): sentence-ish lines (split on '.', trimmed, lowercased) that "
    f"recur in >= {LINE_BOILER_DOCS} distinct documents are boilerplate; "
    "per document, total lines, boilerplate lines, and the exact-integer "
    "retained-fraction in micro-units (floor division on both engines — "
    "no float rounding seam). Plan: one (doc, line) distinct + a "
    "line-keyed count (map-side combinable), then a line-keyed equi-join "
    "back; the line-frequency table is bounded by actual repetition. At "
    "100 TB lines are hashed and the join stays a hash join on content — "
    "never a broadcast of corpus-sized state.",
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    lines = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\.")).alias("l"),
    ).select(
        "doc_id", F.trim(F.lower(F.col("l"))).alias("line")
    ).where(F.col("line") != "")
    df = (
        lines.select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    flagged = lines.join(df, "line").select(
        "doc_id",
        (F.col("n_docs") >= LINE_BOILER_DOCS).cast("int").alias("b"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("b").cast("bigint").alias("n_boiler"),
        F.expr("(1000000 * (count(1) - sum(b))) div count(1)")
        .cast("bigint")
        .alias("keep_ratio_micro"),
    )


@register(
    "q_tokenizer_fertility",
    oracle=f"""WITH per_doc AS (
  SELECT lang,
         length(text) AS n_chars_txt,
         len({dd_tokens("text")}) AS ws_tok,
         {dd_regex_token_count("text")} AS bpe_tok
    FROM documents WHERE text IS NOT NULL
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws_tok) AS BIGINT) AS ws_tokens,
       CAST(sum(bpe_tok) AS BIGINT) AS bpe_tokens,
       CAST((1000000 * sum(bpe_tok)) // nullif(sum(ws_tok), 0) AS BIGINT)
         AS fertility_micro,
       CAST((1000000 * sum(n_chars_txt)) // nullif(sum(bpe_tok), 0)
            AS BIGINT) AS chars_per_token_micro
  FROM per_doc GROUP BY lang
""",
    doc="tokenizer fertility profile per language: BPE-ish regex tokens "
    "per whitespace word (fertility — how many subword pieces a word "
    "costs) and characters per token, in exact integer micro-units "
    "(floor division; zero denominators -> NULL via nullif on both "
    "engines). The budget table a multilingual pre-training mix needs to "
    "convert corpus bytes into token counts per language. Plan: "
    "scan-side expressions + ONE map-side-combinable rollup keyed by "
    "lang (values-bounded); NULL lang forms its own group.",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    per_doc = docs.select(
        "lang",
        F.length("text").alias("n_chars_txt"),
        F.size(tokens(F.col("text"))).alias("ws_tok"),
        regex_token_count(F.col("text")).alias("bpe_tok"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ws_tok").cast("bigint").alias("ws_tokens"),
        F.sum("bpe_tok").cast("bigint").alias("bpe_tokens"),
        F.expr("(1000000 * sum(bpe_tok)) div nullif(sum(ws_tok), 0)")
        .cast("bigint")
        .alias("fertility_micro"),
        F.expr("(1000000 * sum(n_chars_txt)) div nullif(sum(bpe_tok), 0)")
        .cast("bigint")
        .alias("chars_per_token_micro"),
    )


@register(
    "q_curriculum_stages",
    oracle=f"""WITH sig AS (
  SELECT doc_id,
         CAST(coalesce({dd_regex_token_count("text")}, 0) AS BIGINT)
           AS difficulty
    FROM documents
),
ranked AS (
  SELECT doc_id, difficulty,
         row_number() OVER (ORDER BY difficulty, doc_id) AS rnk,
         count(*) OVER () AS n
    FROM sig
)
SELECT doc_id, difficulty,
       CAST(({CURR_STAGES} * (rnk - 1)) // n AS INT) AS stage
  FROM ranked
""",
    doc=f"curriculum staging: every document ranked by a difficulty "
    "signal (BPE-ish token count — longer docs train later) and cut into "
    f"{CURR_STAGES} equal-size stages by exact integer rank arithmetic "
    "(k*(rank-1)/n — the q_rfm_segments quintile rule), the ordering a "
    "curriculum-learning scheduler consumes. The corpus-cardinality rank "
    "runs in the two-pass distrank.global_rank form (range repartition + "
    "broadcast offsets) — no single-task window; n is a broadcast "
    "scalar. Ties break by doc_id so stages are engine-stable.",
)
def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prefect_flow_arc_indexer_spark.operators.distrank import global_rank

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    sig = docs.select(
        "doc_id",
        F.coalesce(regex_token_count(F.col("text")), F.lit(0))
        .cast("bigint")
        .alias("difficulty"),
    )
    n_tot = sig.agg(F.count(F.lit(1)).alias("n"))
    ranked = global_rank(
        sig, [F.col("difficulty").asc(), F.col("doc_id").asc()], "rnk"
    )
    rel = ranked.ckpt_release  # distrank's pinned-partitioning handle
    out = ranked.crossJoin(F.broadcast(n_tot)).select(
        "doc_id",
        "difficulty",
        F.expr(f"cast(({CURR_STAGES} * (rnk - 1)) div n as int)").alias(
            "stage"
        ),
    )
    out.ckpt_release = rel
    return out
