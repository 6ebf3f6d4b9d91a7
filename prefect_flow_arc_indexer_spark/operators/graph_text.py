"""Corpus-graph analytics and language-model scoring — two shapes the other
corpus modules don't cover: a multi-way SELF-join over a derived edge list
(triangle counting, the canonical distributed-graph aggregate) and a
corpus-statistics-broadcast scoring pass (unigram-LM surprisal, the cheap
perplexity proxy quality filters rank documents by).

Scale posture:
- the term graph is VOCABULARY-bounded, not corpus-bounded: edges are
  distinct within-doc term pairs generated row-locally (each doc's own token
  set, a<b ordering), so the corpus contributes one scan and the joins run
  over at most |vocab|^2 edge rows. The a<b<c orientation makes each
  triangle count exactly once and keeps the self-join acyclic.
- surprisal's model table is per-term counts (|vocab| rows) broadcast back
  over the token stream — the corpus is scanned twice (fit + score), never
  shuffled by doc; ln() runs on exact integer ratios and the per-doc mean
  rounds once at the output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from prefect_flow_arc_indexer_spark.functions.caching import (
    CheckpointRelease,
    release_local_checkpoint,
)
from prefect_flow_arc_indexer_spark.functions.frames import local_frame
from prefect_flow_arc_indexer_spark.functions.textfns import dd_tokens, tokens
from prefect_flow_arc_indexer_spark.operators.corpus_quality import _TOKS_CTE
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table


def _doc_term_pairs(docs: DataFrame) -> DataFrame:
    """Distinct (term_a < term_b) pairs per doc, generated row-locally from
    each doc's own token set — the corpus never shuffles by doc or token to
    build the graph. The token set is materialized as a column FIRST: a
    lambda that closes over the raw tokenize expression would re-evaluate
    the split+distinct+sort once per outer element (O(V) tokenizations per
    row); bound to an attribute it is computed once per row."""
    with_set = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.array_sort(F.array_distinct(tokens(F.col("text")))).alias("ts"),
    )
    ts = F.col("ts")
    pairs = F.filter(
        F.flatten(
            F.transform(
                ts,
                lambda a: F.transform(
                    ts, lambda b: F.when(a < b, F.struct(a.alias("a"), b.alias("b")))
                ),
            )
        ),
        lambda s: s.isNotNull(),
    )
    return with_set.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.a").alias("term_a"), F.col("p.b").alias("term_b")
    )


@register(
    "q_triangle_count",
    oracle=f"""WITH {_TOKS_CTE},
words AS (
  SELECT DISTINCT doc_id, t.term FROM toks, unnest(tok) AS t(term)
),
edges AS (
  SELECT DISTINCT a.term AS a, b.term AS b
    FROM words a JOIN words b ON a.doc_id = b.doc_id AND a.term < b.term
),
verts AS (
  SELECT count(DISTINCT v) AS n_vertices
    FROM (SELECT a AS v FROM edges UNION SELECT b FROM edges)
),
tri AS (
  SELECT count(*) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.a = e1.b
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT verts.n_vertices,
       (SELECT count(*) FROM edges) AS n_edges,
       tri.n_triangles
  FROM verts, tri
""",
    doc="triangle count over the term co-occurrence graph: row-local pair "
    "generation -> vocab^2-bounded distinct edge list -> the canonical "
    "oriented 3-way self-join (a<b<c counts each triangle once); the "
    "graph side never exceeds |vocab|^2 rows regardless of corpus size",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    edges = (
        _doc_term_pairs(docs)
        .select(F.col("term_a").alias("a"), F.col("term_b").alias("b"))
        .distinct()
        # the vocab^2-bounded edge list is referenced five times below (the
        # 3-way join + the two count frames); checkpointing it locally cuts
        # five corpus scans down to one and truncates the explode lineage
        .localCheckpoint(eager=True)
    )
    e1 = edges
    e2 = edges.select(F.col("a").alias("b2a"), F.col("b").alias("b2b"))
    e3 = edges.select(F.col("a").alias("b3a"), F.col("b").alias("b3b"))
    tri = (
        e1.join(F.broadcast(e2), F.col("b") == F.col("b2a"))
        .join(
            F.broadcast(e3),
            (F.col("a") == F.col("b3a")) & (F.col("b2b") == F.col("b3b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    verts = (
        edges.select(F.col("a").alias("v"))
        .union(edges.select("b"))
        .agg(F.count_distinct("v").alias("n_vertices"))
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    out = verts.join(F.broadcast(n_edges)).join(F.broadcast(tri)).select(
        "n_vertices", "n_edges", "n_triangles"
    )
    # caller-release contract for the shared edge-list checkpoint (ADVICE
    # r10's naked-checkpoint class)
    out.ckpt_release = CheckpointRelease(edges)
    return out


@register(
    "q_unigram_surprisal",
    oracle=f"""WITH {_TOKS_CTE},
stream AS (
  SELECT doc_id, t.term FROM toks, unnest(tok) AS t(term)
),
freq AS (SELECT term, count(*) AS n FROM stream GROUP BY term),
tot AS (SELECT count(*) AS total FROM stream)
SELECT s.doc_id,
       count(*) AS n_tokens,
       round(avg(-ln(CAST(f.n AS DOUBLE) / tot.total)), 6) AS mean_surprisal
  FROM stream s JOIN freq f ON s.term = f.term, tot
 GROUP BY s.doc_id
""",
    doc="unigram-LM surprisal: fit per-term corpus frequencies (vocab-"
    "bounded agg), broadcast the model back over the token stream, score "
    "each doc by mean -ln p(token) — the cheap perplexity proxy used to "
    "rank documents for quality filtering; exact integer ratios into ln, "
    "one rounded mean per doc",
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    stream = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # the fitted model is vocab-bounded; checkpointing it means ONE fit scan
    # feeds both its broadcast and the total, so the corpus is read exactly
    # twice (fit + score)
    freq = (
        stream.groupBy("term")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = freq.agg(F.sum("n").alias("total"))
    surprisal = -F.log(F.col("n").cast("double") / F.col("total"))
    out = (
        stream.join(F.broadcast(freq), "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(surprisal), 6).alias("mean_surprisal"),
        )
    )
    # caller-release contract for the fitted-model checkpoint (ADVICE r10)
    out.ckpt_release = CheckpointRelease(freq)
    return out


def _dd_bigrams() -> str:
    from prefect_flow_arc_indexer_spark.functions.textfns import dd_word_ngrams

    return dd_word_ngrams("tok", 2)


@register(
    "q_bigram_surprisal",
    oracle=f"""WITH {_TOKS_CTE},
bgs AS (
  SELECT doc_id, t.b FROM toks, unnest({{bg}}) AS t(b)
),
model AS (SELECT b, count(*) AS n FROM bgs GROUP BY b),
starts AS (
  SELECT split_part(b, ' ', 1) AS w, CAST(sum(n) AS BIGINT) AS ns
    FROM model GROUP BY split_part(b, ' ', 1)
)
SELECT g.doc_id,
       count(*) AS n_bigrams,
       round(avg(-ln(CAST(m.n AS DOUBLE) / s.ns)), 6) AS mean_surprisal
  FROM bgs g
  JOIN model m ON g.b = m.b
  JOIN starts s ON s.w = split_part(g.b, ' ', 1)
 GROUP BY g.doc_id
""".format(bg=_dd_bigrams()),
    doc="bigram-LM surprisal: per-doc mean -ln p(w_i | w_(i-1)) under the "
    "corpus's own bigram model — p = c(bigram)/c(first-word continuations), "
    "both exact integer counts, the continuation totals derived from the "
    "(vocab^2-bounded) model table rather than a third corpus scan; the "
    "sharper perplexity proxy beside q_unigram_surprisal (fluent word "
    "ORDER scores low even when unigram frequencies are common)",
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prefect_flow_arc_indexer_spark.functions.textfns import word_ngrams

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    bgs = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", tokens("text").alias("tok"))
        .select("doc_id", F.explode(word_ngrams("tok", 2)).alias("b"))
    )
    model = (
        bgs.groupBy("b")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)  # one fit scan feeds model + starts
    )
    starts = model.groupBy(
        F.substring_index("b", " ", 1).alias("w")
    ).agg(F.sum("n").cast("long").alias("ns"))
    surprisal = -F.log(F.col("n").cast("double") / F.col("ns"))
    return (
        bgs.join(F.broadcast(model), "b")
        .join(
            F.broadcast(starts),
            F.substring_index("b", " ", 1) == F.col("w"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(surprisal), 6).alias("mean_surprisal"),
        )
    )


# --------------------------------------------------------------------------
# vocabulary coverage curve (tokenizer-budget planning)
# --------------------------------------------------------------------------
VOCAB_SIZES = (100, 1000, 10000)


@register(
    "q_vocab_coverage",
    oracle=f"""WITH {_TOKS_CTE},
tf AS (SELECT unnest(tok) AS w FROM toks),
counts AS (SELECT w, count(*) AS cnt FROM tf GROUP BY w),
ranked AS (
  SELECT w, cnt,
         row_number() OVER (ORDER BY cnt DESC, w) AS rnk,
         sum(cnt) OVER (ORDER BY cnt DESC, w ROWS UNBOUNDED PRECEDING) AS cum
    FROM counts
),
total AS (SELECT sum(cnt) AS total FROM counts),
sizes AS (SELECT unnest([{", ".join(str(s) for s in VOCAB_SIZES)}]) AS vocab_size)
SELECT s.vocab_size,
       CAST(max(r.rnk) AS BIGINT) AS terms_used,
       CAST(max(r.cum) AS BIGINT) AS covered_tokens,
       round(CAST(max(r.cum) AS DOUBLE) / (SELECT total FROM total), 6)
           AS coverage
  FROM sizes s JOIN ranked r ON r.rnk <= s.vocab_size
 GROUP BY s.vocab_size
""",
    doc="vocabulary coverage curve: fraction of the corpus token stream "
    "covered by the top-{100,1k,10k} terms — the number that sizes a "
    "tokenizer vocab / UNK budget before training. Top-max(VOCAB_SIZES) "
    "FIRST via orderBy+limit (TakeOrderedAndProject: parallel partial "
    "top-k, no single-task sort of the raw-term vocabulary, which at web "
    "scale is 1e8-1e9 rows of typos/URLs/ids), then the rank+cumulative "
    "window runs over only the 10k survivors — identical to the global "
    "window because the cumulative sum at rank r depends only on the "
    "ordered prefix up to r, and the limit keeps exactly that prefix "
    "(same total (cnt DESC, w ASC) order). The corpus-stream total comes "
    "from a separate aggregate on the shared checkpointed frequency "
    "table (VERDICT r10 task 3; the q_pagerank pattern).",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    counts = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        # one corpus scan feeds both consumers (top-k + total); without
        # this the total-tokens aggregate re-reads the parquet lineage
        .localCheckpoint(eager=True)
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("w")).limit(max(VOCAB_SIZES))
    w = Window.orderBy(F.desc("cnt"), F.asc("w"))
    ranked = top.select(
        "cnt",
        F.row_number().over(w).alias("rnk"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    sizes = local_frame(spark, [(s,) for s in VOCAB_SIZES], "vocab_size int")
    at = (
        ranked.join(F.broadcast(sizes), F.col("rnk") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(
            F.max("rnk").cast("bigint").alias("terms_used"),
            F.max("cum").alias("covered_tokens"),
        )
    )
    out = at.crossJoin(F.broadcast(total)).select(
        "vocab_size",
        "terms_used",
        "covered_tokens",
        F.round(
            F.col("covered_tokens").cast("double") / F.col("total"), 6
        ).alias("coverage"),
    )
    # caller-release contract for the shared frequency checkpoint (the
    # q_pagerank/q_golden_record shape); harness sweeps also blanket-
    # release persistent RDDs between queries.
    out.ckpt_release = CheckpointRelease(counts)
    return out


# --------------------------------------------------------------------------
# PageRank over the bigram-transition term graph (iterative; exact oracle)
# --------------------------------------------------------------------------
PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85
PAGERANK_TOP_K = 25
# rank vector held in FIXED-POINT units of 1/PAGERANK_QUANT as BIGINT: every
# per-edge contribution is rounded to an integer, so the destination-keyed
# SUM is order-independent — the same quantization move that made q_kmeans
# an exact oracle, and the principled reproducibility choice at scale (the
# result no longer depends on partitioning or AQE's reduction order). With
# ranks <= 1 the units stay <= 1e12 (double-exact, < 2^53) and the summed
# inflow stays far under BIGINT range; per-edge quantization error is
# <= 5e-13 rank units against an output rounded at 1e-6.
PAGERANK_QUANT = 10**12

# Broadcast the rank vector into the per-iteration joins while the node set
# stays under this bound (~30 bytes/row -> ~150 MB built relation at the
# cap, inside the guide's few-hundred-MB comfort zone). Past it the loop
# keeps the shuffle-join shape, so a 10^9-term raw web vocabulary still
# works — the gate is data-derived, not a local[32] constant. Env override
# for cluster profiles with bigger driver/executor memory.
PAGERANK_BCAST_MAX = int(
    os.environ.get("SPARK_GRAFT_PAGERANK_BCAST_MAX", 5_000_000)
)


def _dd_pagerank_sql() -> str:
    """Unrolled PageRank iterations in DuckDB SQL — textually parallel to
    the Spark loop arithmetic (identical literals, association, and
    rounding points), so fixed-point ranks match BIGINT-for-BIGINT."""
    d = PAGERANK_DAMPING
    q = float(PAGERANK_QUANT)
    base = f"""bgs AS (
  SELECT t.b FROM toks, unnest({_dd_bigrams()}) AS t(b)
),
edges AS (
  SELECT split_part(b, ' ', 1) AS src, split_part(b, ' ', 2) AS dst,
         count(*) AS w
    FROM bgs GROUP BY 1, 2
),
outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY src),
trans AS (
  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.outw AS DOUBLE) AS p
    FROM edges e JOIN outw o USING (src)
),
nodes AS (SELECT src AS term FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM nodes),
noout AS (
  SELECT term FROM nodes WHERE term NOT IN (SELECT src FROM outw)
),
r0 AS (
  SELECT term, CAST(round({q} / (SELECT nd FROM nn)) AS BIGINT) AS rq
    FROM nodes
)"""
    iters = []
    for t in range(PAGERANK_ITERS):
        iters.append(
            f"""c{t} AS (
  SELECT tr.dst,
         CAST(sum(CAST(round(tr.p * CAST(r.rq AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS inflowq
    FROM trans tr JOIN r{t} r ON r.term = tr.src GROUP BY tr.dst
),
d{t} AS (
  SELECT CAST(COALESCE(sum(rq), 0) AS BIGINT) AS dmassq
    FROM r{t} WHERE term IN (SELECT term FROM noout)
),
r{t + 1} AS (
  SELECT n.term,
         CAST(round((1.0 - {d}) * {q} / (SELECT nd FROM nn)
                    + {d} * CAST(dq.dmassq AS DOUBLE) / (SELECT nd FROM nn)
                    + {d} * CAST(COALESCE(c.inflowq, 0) AS DOUBLE))
              AS BIGINT) AS rq
    FROM nodes n LEFT JOIN c{t} c ON c.dst = n.term CROSS JOIN d{t} dq
)"""
        )
    last = f"r{PAGERANK_ITERS}"
    return (
        f"WITH {_TOKS_CTE},\n{base},\n" + ",\n".join(iters) + f"""
SELECT CAST(rank_pos AS INTEGER) AS rank_pos, term, pagerank FROM (
  SELECT row_number() OVER (ORDER BY rq DESC, term ASC) AS rank_pos,
         term, round(CAST(rq AS DOUBLE) / {q}, 6) AS pagerank
    FROM {last})
 WHERE rank_pos <= {PAGERANK_TOP_K}
"""
    )


@register(
    "q_pagerank",
    oracle=_dd_pagerank_sql(),
    doc="iterative graph algorithm surface: PageRank over the directed "
    "term-transition graph (edge term_a -> term_b with weight = corpus "
    "bigram count). Per iteration: one broadcast-able join of the rank "
    "vector (|vocab| rows) onto the edge list and one shuffle keyed on the "
    "destination term; dangling mass is folded back uniformly so total "
    "rank stays 1. The edge list is persisted once and every iteration "
    "reuses it — the canonical Spark iterative pattern (same family as "
    "q_kmeans, on a graph instead of a vector space). Round 9: ranks are "
    "fixed-point BIGINT units of 1/PAGERANK_QUANT with per-edge "
    "contributions rounded BEFORE the destination sum, making every "
    "aggregate order-independent — which upgrades the query from "
    "rows-only to an exact unrolled-CTE oracle (the q_kmeans discipline) "
    "AND makes the production result reproducible under any partitioning. "
    "Output: top-25 terms by exact fixed-point rank, tie-broken by term.",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from prefect_flow_arc_indexer_spark.functions.textfns import word_ngrams

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # Persist the AGGREGATED edge list — |distinct bigrams| rows, the small
    # product of the expensive corpus pass (scan + tokenize + explode +
    # groupBy). Everything downstream (out_w, trans, nodes, the dangling
    # set) derives from this cache, so the corpus is tokenized exactly once
    # per call; previously only `trans`/`nodes` were persisted and their
    # *population* plus no_out's checkpoint each re-ran the full corpus
    # pass (3 tokenization passes measured in the r11 setup profile).
    edges = (
        docs.where(F.col("text").isNotNull())
        .select(tokens("text").alias("tok"))
        .select(F.explode(word_ngrams("tok", 2)).alias("b"))
        .select(
            F.substring_index("b", " ", 1).alias("src"),
            F.substring_index("b", " ", -1).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .persist()
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    trans = (
        edges.join(out_w, "src")
        .select(
            "src", "dst", (F.col("w") / F.col("outw")).alias("p")
        )
        .persist()
    )
    nodes = (
        edges.select(F.col("src").alias("term"))
        .union(edges.select("dst"))
        .distinct()
    )
    try:
        # the single setup action: materializes the `edges` persist (one
        # corpus pass) and counts the node set off the cached aggregate
        n = nodes.count()
        d, q = PAGERANK_DAMPING, float(PAGERANK_QUANT)
        # fixed-point units of 1/QUANT, BIGINT throughout the loop: the
        # per-edge round() BEFORE the destination sum makes each aggregate
        # an exact integer sum — order-independent, hence reproducible
        # under any partitioning AND oracle-comparable (every rounding
        # point below has a textually parallel twin in _dd_pagerank_sql)
        if n == 0:
            # empty corpus: the oracle's CTEs all collapse to zero rows;
            # without the guard the q/n literal divides by zero under ANSI.
            # Checked BEFORE rank is checkpointed so the early return
            # cannot strand checkpoint blocks (ADVICE r10).
            return local_frame(
                spark, [], "rank_pos int, term string, pagerank double"
            )
        # the rank vector is |vocab| rows of (term, bool, long) — small
        # enough to broadcast for any realistic vocabulary, which turns
        # both per-iteration joins into broadcast hash joins (no shuffle
        # of the cached edge table, no shuffle of the checkpointed rank);
        # past the gate the loop falls back to the shuffle-join shape.
        bcast = n <= PAGERANK_BCAST_MAX

        def _b(df):
            return F.broadcast(df) if bcast else df

        # dangling membership rides IN the rank vector as a boolean — the
        # loop-invariant no_out set needs no separate checkpoint and the
        # per-iteration dangling aggregate becomes a filter over the
        # already-checkpointed rank instead of a semi join.
        rank = (
            nodes.join(
                out_w.select(
                    F.col("src").alias("term"), F.lit(True).alias("has_out")
                ),
                "term",
                "left",
            )
            .select(
                "term",
                F.coalesce(F.col("has_out"), F.lit(False)).alias("has_out"),
                F.round(F.lit(q) / F.lit(float(n))).cast("long").alias("rq"),
            )
            .localCheckpoint(eager=True)
        )
        for _ in range(PAGERANK_ITERS):
            prev = rank
            contrib = (
                trans.join(_b(rank.select("term", "rq")),
                           trans.src == F.col("term"))
                .select(
                    "dst",
                    F.round(F.col("p") * F.col("rq").cast("double"))
                    .cast("long")
                    .alias("cq"),
                )
                .groupBy("dst")
                .agg(F.sum("cq").alias("inflowq"))
            )
            # dangling terms (no out-edge) leak their mass; fold it back
            # uniformly. The 1-row dangling aggregate stays IN the plan as a
            # broadcast cross join instead of a per-iteration driver collect
            # (one action per round instead of two).
            dang = rank.where(~F.col("has_out")).agg(
                F.coalesce(F.sum("rq"), F.lit(0)).cast("long").alias("dmassq")
            )
            rank = (
                rank.join(_b(contrib), rank.term == contrib.dst, "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "term",
                    "has_out",
                    F.round(
                        F.lit(1.0 - d) * F.lit(q) / F.lit(float(n))
                        + F.lit(d)
                        * F.col("dmassq").cast("double")
                        / F.lit(float(n))
                        + F.lit(d)
                        * F.coalesce(F.col("inflowq"), F.lit(0)).cast("double")
                    )
                    .cast("long")
                    .alias("rq"),
                )
                # eager: each round's plan references `rank` twice (contrib +
                # dangling), so an unmaterialized checkpoint would re-run both
                .localCheckpoint(eager=True)
            )
            # the new round is materialized (eager), so the superseded
            # round's checkpoint blocks are dead weight — free them NOW,
            # inside the loop; otherwise every call strands one block set
            # per iteration for the session's lifetime (the r8 leak class;
            # caught by tests/test_cache_soak.py's r9-rewrite soak).
            release_local_checkpoint(prev)
        # top-k FIRST via orderBy+limit (plans as TakeOrderedAndProject —
        # parallel partial top-k, no single-task sort of the node table),
        # then number the k survivors; identical to rank-then-filter
        # because the sort key is the same total order.
        wnd = Window.orderBy(F.desc("rq"), F.asc("term"))
        out = (
            rank.orderBy(F.desc("rq"), F.asc("term"))
            .limit(PAGERANK_TOP_K)
            .withColumn("rank_pos", F.row_number().over(wnd))
            .select(
                "rank_pos",
                "term",
                F.round(F.col("rq").cast("double") / F.lit(q), 6).alias(
                    "pagerank"
                ),
            )
        )
        # the final round's checkpoint backs the returned plan — its
        # release is the caller's (q_golden_record's ckpt_release shape)
        out.ckpt_release = CheckpointRelease(rank)
        return out
    finally:
        trans.unpersist()
        edges.unpersist()


# --------------------------------------------------------------------------
# OOV-rate profile: per-doc fraction of tokens outside the top-k vocabulary
# --------------------------------------------------------------------------
OOV_VOCAB_SIZE = 1000


@register(
    "q_oov_rate",
    oracle=f"""WITH {_TOKS_CTE},
tf AS (SELECT doc_id, unnest(tok) AS w FROM toks),
counts AS (SELECT w, count(*) AS cnt FROM tf GROUP BY w),
vocab AS (
  SELECT w FROM counts
   ORDER BY cnt DESC, w ASC LIMIT {OOV_VOCAB_SIZE}
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
       round(CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS oov_rate
  FROM tf t LEFT JOIN vocab v ON t.w = v.w
 GROUP BY t.doc_id
""",
    doc="per-doc out-of-vocabulary rate against the corpus top-"
    f"{OOV_VOCAB_SIZE} vocabulary — the UNK-budget health check run before "
    "committing a tokenizer vocab (docs with high OOV are the ones a too-"
    "small vocab will shred). The vocab is an aggregate of the corpus "
    "token stream (vocab-bounded, tie-broken by term) broadcast back "
    "against the same stream: two corpus-scan-shaped stages, one "
    "term-keyed exchange for the counts, and a broadcast hash join for "
    "membership — no vocab-side shuffle at any scale.",
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    tf = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        # one tokenize pass feeds both the vocab build and the probe
        .localCheckpoint(eager=True)
    )
    vocab = (
        tf.groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(OOV_VOCAB_SIZE)
        .select(F.col("w").alias("v_w"))
    )
    oov = F.sum(F.when(F.col("v_w").isNull(), 1).otherwise(0)).cast("long")
    out = (
        tf.join(F.broadcast(vocab), F.col("w") == F.col("v_w"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            oov.alias("n_oov"),
            F.round(oov.cast("double") / F.count("*"), 6).alias("oov_rate"),
        )
    )
    # caller-release contract for the shared token-stream checkpoint
    # (ADVICE r10's naked-checkpoint class)
    out.ckpt_release = CheckpointRelease(tf)
    return out


# --------------------------------------------------------------------------
# per-source distinctive keywords: smoothed log-odds vs the rest of corpus
# --------------------------------------------------------------------------
KEYWORD_VOCAB = 200  # corpus top-K terms form the comparison vocabulary
KEYWORDS_PER_SOURCE = 3


@register(
    "q_source_keywords",
    oracle=f"""WITH src_toks AS (
  SELECT source, {dd_tokens("text")} AS tok
    FROM documents WHERE text IS NOT NULL
),
tf AS (
  SELECT source, t.w, count(*) AS cnt
    FROM src_toks, unnest(tok) AS t(w)
   GROUP BY source, t.w
),
vocab AS (
  SELECT w FROM (SELECT w, sum(cnt) AS c FROM tf GROUP BY w)
   ORDER BY c DESC, w ASC LIMIT {KEYWORD_VOCAB}
),
st AS (SELECT tf.* FROM tf JOIN vocab USING (w)),
tot AS (
  SELECT st.*,
         CAST(sum(cnt) OVER (PARTITION BY w) AS BIGINT) AS y_w,
         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_s,
         CAST(sum(cnt) OVER () AS BIGINT) AS n
    FROM st
),
scored AS (
  SELECT source, w AS term, CAST(cnt AS BIGINT) AS cnt,
         round(ln((cnt + 0.5) / (n_s - cnt + 0.5))
               - ln((y_w - cnt + 0.5) / (n - n_s - (y_w - cnt) + 0.5)),
               6) AS log_odds
    FROM tot
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY log_odds DESC, term ASC) AS rk
    FROM scored
)
SELECT source, term, cnt, log_odds, CAST(rk AS INT) AS rank
  FROM ranked WHERE rk <= {KEYWORDS_PER_SOURCE}
""",
    doc="per-source distinctive keywords: Haldane-smoothed log-odds of each "
    f"corpus top-{KEYWORD_VOCAB} term in a source vs the rest of the "
    "corpus, top-3 per source — the slice-comparison tool (what makes "
    "this crawl/source different?) behind dataset cards and mixture "
    "debugging. One (source, term) shuffle over the token stream; every "
    "later stage (vocab cut, marginals via windows, rank) runs on the "
    "vocab-x-sources-bounded table, so the log-odds algebra never "
    "touches corpus-scale data again.",
)
def q_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    tf = (
        docs.where(F.col("text").isNotNull())
        .select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)  # one tokenize feeds vocab + scoring
    )
    vocab = (
        tf.groupBy("w")
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(KEYWORD_VOCAB)
        .select("w")
    )
    st = tf.join(F.broadcast(vocab), "w")
    y_w = F.sum("cnt").over(Window.partitionBy("w")).cast("bigint")
    n_s = F.sum("cnt").over(Window.partitionBy("source")).cast("bigint")
    # the scalar grand total comes from a separate aggregate + broadcast
    # crossJoin rather than sum() OVER () — same number (both sum cnt over
    # the vocab-restricted table), but no unpartitioned WindowExec in the
    # plan (audit ratchet, VERDICT r10 task 5)
    n_tot = st.agg(F.sum("cnt").cast("bigint").alias("n"))
    tot = st.select(
        "source", "w", "cnt", y_w.alias("y_w"), n_s.alias("n_s")
    ).crossJoin(F.broadcast(n_tot))
    log_odds = F.round(
        F.log(
            (F.col("cnt") + 0.5) / (F.col("n_s") - F.col("cnt") + 0.5)
        )
        - F.log(
            (F.col("y_w") - F.col("cnt") + 0.5)
            / (
                F.col("n")
                - F.col("n_s")
                - (F.col("y_w") - F.col("cnt"))
                + 0.5
            )
        ),
        6,
    )
    scored = tot.select(
        "source",
        F.col("w").alias("term"),
        F.col("cnt").cast("bigint").alias("cnt"),
        log_odds.alias("log_odds"),
    )
    w_rank = Window.partitionBy("source").orderBy(
        F.col("log_odds").desc(), F.col("term").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= KEYWORDS_PER_SOURCE)
    )
    # caller-release contract for the shared term-frequency checkpoint
    # (ADVICE r10's naked-checkpoint class)
    out.ckpt_release = CheckpointRelease(tf)
    return out


# --------------------------------------------------------------------------
# contrastive-objective noise distribution: unigram^0.75 sampling table
# --------------------------------------------------------------------------
NEG_VOCAB = 100  # sampling table over the corpus top-K terms
NEG_POWER = 0.75


@register(
    "q_negative_sampling",
    oracle=f"""WITH src_tf AS (
  SELECT t.w, count(*) AS cnt
    FROM (SELECT {dd_tokens("text")} AS tok
            FROM documents WHERE text IS NOT NULL), unnest(tok) AS t(w)
   GROUP BY t.w
),
vocab AS (
  SELECT w, CAST(cnt AS BIGINT) AS cnt,
         CAST(round(pow(cnt, {NEG_POWER}) * 1000000) AS BIGINT) AS w_micro
    FROM src_tf
   ORDER BY cnt DESC, w ASC LIMIT {NEG_VOCAB}
),
cum AS (
  SELECT *,
         CAST(sum(w_micro) OVER (ORDER BY cnt DESC, w ASC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end,
         CAST(sum(w_micro) OVER () AS BIGINT) AS total_micro
    FROM vocab
)
SELECT w AS term, cnt, w_micro,
       cum_end - w_micro AS cum_start, cum_end,
       round(CAST(w_micro AS DOUBLE) / total_micro, 6) AS p_draw
  FROM cum
""",
    doc="noise distribution for contrastive objectives (word2vec negative "
    f"sampling / InfoNCE): unigram counts tempered by the {NEG_POWER} "
    "power over the corpus top-"
    f"{NEG_VOCAB} vocabulary, emitted as an inverse-CDF table "
    "(cumulative micro-unit ranges) a sampler probes with "
    "hash-uniform draws. Weights quantized to integer micro-units "
    "BEFORE the cumulative sum, so partial-aggregation order cannot "
    "drift the ranges; one corpus-token shuffle, then everything runs "
    "on the vocab-bounded table (the single-partition cumsum window is "
    f"{NEG_VOCAB} rows by construction).",
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    vocab = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(NEG_VOCAB)
        .select(
            "w",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(F.pow(F.col("cnt"), NEG_POWER) * 1_000_000)
            .cast("bigint")
            .alias("w_micro"),
        )
    )
    w_cum = Window.orderBy(F.col("cnt").desc(), F.col("w").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = vocab.select(
        "w",
        "cnt",
        "w_micro",
        F.sum("w_micro").over(w_cum).cast("bigint").alias("cum_end"),
        F.sum("w_micro").over(w_all).cast("bigint").alias("total_micro"),
    )
    return cum.select(
        F.col("w").alias("term"),
        "cnt",
        "w_micro",
        (F.col("cum_end") - F.col("w_micro")).alias("cum_start"),
        "cum_end",
        F.round(
            F.col("w_micro").cast("double") / F.col("total_micro"), 6
        ).alias("p_draw"),
    )
