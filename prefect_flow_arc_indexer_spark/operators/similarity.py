"""Approximate-nearest-neighbor search over the ``embeddings`` table
(``array<float>`` column) — training-data-pipeline extension surface.

Two strategies:

- **brute force** (`q_knn_cosine`): query-set x corpus broadcast join, exact
  cosine, per-query top-k via window. The baseline — and, with a small query
  set broadcast against a huge corpus, a legitimately scalable plan: the
  corpus is scanned once, narrow, no shuffle until the tiny top-k agg.
- **LSH-bucketed** (`q_knn_lsh`): random-hyperplane-style sign bits (here:
  fixed coordinate hyperplanes, so the oracle can replicate them) partition
  the corpus into 16 buckets; each query searches only its own bucket. This
  is the 100 TB shape: bucket id is a join key, so candidate generation is a
  hash join instead of a cross product; recall is traded for a ~bucket-count
  speedup. A production variant would use learned IVF centroids — the
  dataflow (bucket -> local top-k) is identical.

Cosine values are rounded to 6 decimals before ranking; ties broken by
vec_id so results are engine-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from prefect_flow_arc_indexer_spark.functions.frames import local_frame
from prefect_flow_arc_indexer_spark.functions.rounds import (
    arrow_rounds,
    list_matrix,
    sum_by,
)
from prefect_flow_arc_indexer_spark.functions.vectors import (
    cosine_similarity,
    dd_cosine_similarity,
    dot,
    norm,
)
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import (
    load_table,
    table_row_count,
)

TOP_K = 5
N_QUERIES = 5  # vec_id < 5 play the query set
# Coordinate hyperplanes for the 16 LSH buckets: sign of dims 0, 8, 16, 24.
LSH_DIMS = (0, 8, 16, 24)


def _queries_and_corpus(spark: SparkSession, sf_dir: str):
    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select("vec_id", "embedding")
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return q, c


def _topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


@register(
    "q_knn_cosine",
    oracle=f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({dd_cosine_similarity("q.q_emb", "e.embedding")}, 6) AS cos_sim
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
""",
    doc="ANN baseline: brute-force cosine top-k (broadcast query set x "
    "corpus scan, window top-k)",
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, c = _queries_and_corpus(spark, sf_dir)
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("q_emb"), F.col("embedding")), 6
            ).alias("cos_sim"),
        )
    )
    return _topk(scored)


def _bucket_expr(emb_col: str) -> F.Column:
    """16-bucket LSH id: sign bits of fixed coordinates."""
    bits = [
        F.when(F.element_at(F.col(emb_col), d + 1) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        for i, d in enumerate(LSH_DIMS)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _dd_bucket(emb_expr: str) -> str:
    return " + ".join(
        f"(CASE WHEN ({emb_expr})[{d + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i, d in enumerate(LSH_DIMS)
    )


@register(
    "q_knn_lsh",
    oracle=f"""WITH e AS (
  SELECT vec_id, embedding, {_dd_bucket("embedding")} AS bucket FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM e WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({dd_cosine_similarity("q.q_emb", "e.embedding")}, 6) AS cos_sim
    FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
""",
    doc="ANN scale path: hyperplane-sign LSH buckets (16) -> bucket-local "
    "brute force -> per-query top-k; bucket id is an equi-join key so "
    "candidate generation is a hash join, not a cross product",
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "embedding", _bucket_expr("embedding").alias("bucket")
    )
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), "embedding", "bucket")
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("q_emb"), F.col("embedding")), 6
            ).alias("cos_sim"),
        )
    )
    return _topk(scored)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN
# --------------------------------------------------------------------------
EMB_DIM = 64
QUANT = 1_000_000  # centroid quantization: exact integer sums -> engine-stable


def ivf_centroids(e: DataFrame) -> DataFrame:
    """(label, centroid array<double>): per-label mean embedding.

    The mean is computed over per-component integer sums (components
    quantized to 1e-6) so partial-aggregation order can't introduce float
    drift — sums of bigints are exact, and the final ``sum/count`` double
    division is a single deterministic IEEE op. This is the "training" step
    a production IVF index gets from k-means; one shuffle on (label, pos).
    """
    comp = (
        e.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "x"
            ),
        )
        .groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("x") * QUANT).cast("bigint")).alias("s"),
            F.count("*").alias("n"),
        )
    )
    return comp.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos", (F.col("s").cast("double") / F.col("n")).alias("c")
                    )
                )
            ),
            lambda p: p["c"],
        ).alias("centroid")
    )


def _with_emb_norm(df: DataFrame) -> DataFrame:
    """``df`` plus ``_emb_d`` (its embedding as doubles) and ``_emb_norm``,
    the per-row inputs :func:`_argmax_cell` reads. Project them BEFORE the
    centroid cross join: inside the fold's lambda they would be recomputed
    once per centroid."""
    return df.select(
        "*",
        F.col("embedding").cast("array<double>").alias("_emb_d"),
        norm(F.col("embedding")).alias("_emb_norm"),
    )


def _argmax_cell(cents: Column) -> Column:
    """Nearest-centroid id via a fold over the (tiny, broadcast) centroid
    array: max of struct(rounded cosine, -cell), so ties go to the smallest
    cell — the exact (cos_c DESC, cell ASC) order a ranking window would
    use, but computed in ONE narrow projection. The corpus is never
    shuffled: the window/groupBy argmax formulations both move every
    (vector x centroid) row through an exchange, which at 100 TB is k
    copies of the corpus through the wire for what is per-row math. Reads
    the row's embedding through :func:`_with_emb_norm`'s columns, so the
    cosine is ``cosine_similarity`` with its row-side norm hoisted."""
    best = F.array_max(
        F.transform(
            cents,
            lambda c: F.struct(
                F.round(
                    dot(F.col("_emb_d"), c["centroid"])
                    / (F.col("_emb_norm") * norm(c["centroid"])),
                    6,
                ).alias("s"),
                (-c["cell"]).alias("neg_cell"),
            ),
        )
    )
    return -best["neg_cell"]


def ivf_assign(e: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid (cosine, nprobe=1).

    The centroid table is tiny (n_labels rows) by contract: it collapses to
    a one-row array relation, broadcasts, and the assignment is a
    shuffle-free projection (see :func:`_argmax_cell`)."""
    cent = centroids.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("label").alias("cell"), F.col("centroid"))
            )
        ).alias("cents")
    )
    return (
        _with_emb_norm(e.drop("label"))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            _argmax_cell(F.col("cents")).cast("int").alias("cell"),
        )
    )


def _dd_ivf_cells() -> str:
    cos_c = dd_cosine_similarity("e.embedding", "c.centroid")
    return f"""comp AS (
  SELECT label, i,
         sum(CAST(round((embedding::DOUBLE[])[i] * {QUANT}) AS BIGINT)) AS s,
         count(*) AS n
    FROM embeddings CROSS JOIN range(1, {EMB_DIM + 1}) t(i)
   GROUP BY label, i
),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY i) AS centroid
    FROM comp GROUP BY label
),
assign AS (
  SELECT e.vec_id, e.embedding, c.label AS cell,
         round({cos_c}, 6) AS cos_c
    FROM embeddings e CROSS JOIN cent c
),
cells AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_c DESC, cell ASC) AS rn
      FROM assign) WHERE rn = 1
)"""


@register(
    "q_knn_ivf",
    oracle=f"""WITH {_dd_ivf_cells()},
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, cell
    FROM cells WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({dd_cosine_similarity("q.q_emb", "c.embedding")}, 6) AS cos_sim
    FROM q JOIN cells c ON c.cell = q.cell AND c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
""",
    doc="IVF ANN: per-label quantized-mean centroids (the k-means stand-in), "
    "nearest-centroid cell assignment (broadcast, nprobe=1), cell-local "
    "search + per-query top-k — the inverted-file scale path where each "
    "query touches corpus/n_cells candidates",
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prefect_flow_arc_indexer_spark.functions.caching import (
        CheckpointRelease,
    )

    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", "embedding"
    )
    # r11 (guide §5): `cells` feeds BOTH join sides (query + corpus), and
    # each side re-derived the whole centroid aggregation from its own
    # corpus scan. Checkpointing the k-row centroid table evaluates that
    # subtree once; the assignment projection itself stays lazy per side
    # (scan-cost). The q_pq_adc r11 shape; caller releases via
    # ckpt_release.
    cents = ivf_centroids(e).localCheckpoint(eager=True)
    cents_release = CheckpointRelease(cents)
    cells = ivf_assign(e, cents)
    q = cells.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("cell").alias("q_cell"),
    )
    c = cells.select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "cell"
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("cell") == F.col("q_cell"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_similarity(F.col("q_emb"), F.col("embedding")), 6
        ).alias("cos_sim"),
    )
    out = _topk(scored)
    out.ckpt_release = cents_release
    return out


# --------------------------------------------------------------------------
# blocked-matmul exact KNN (vectorized scale path for brute force)
# --------------------------------------------------------------------------
def _blocked_knn_batches(q_ids, q_mat):
    """Build the mapInPandas worker: per Arrow batch, one float64 matmul
    against the (tiny, closure-captured) normalized query matrix, then a
    per-batch top-k cut so only k candidates per query per batch survive."""
    import numpy as np
    import pandas as pd

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.array(pdf["embedding"].tolist(), dtype="float64")
            c_norm = c / np.linalg.norm(c, axis=1, keepdims=True)
            sims = c_norm @ q_mat.T  # (batch, n_queries)
            n_ids = pdf["vec_id"].to_numpy()
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                mask = n_ids != qid
                ids, vals = n_ids[mask], col[mask]
                if len(ids) > TOP_K:
                    cut = np.argpartition(-vals, TOP_K)[:TOP_K]
                    ids, vals = ids[cut], vals[cut]
                out_q.extend([qid] * len(ids))
                out_n.extend(ids.tolist())
                out_s.extend(np.round(vals, 6).tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_s}
            )

    return score


@register(
    "q_knn_blocked",
    # exact top-k => same oracle as the brute-force baseline
    oracle=f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({dd_cosine_similarity("q.q_emb", "e.embedding")}, 6) AS cos_sim
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
""",
    doc="blocked exact KNN: the corpus streams through mapInPandas in Arrow "
    "batches, each scored against the normalized query matrix with ONE "
    "float64 matmul, cut to k per query per batch, then globally merged — "
    "exact results (same oracle as brute force) at BLAS speed; the shape "
    "that wins when the query set is large enough to make per-row "
    "expression evaluation the bottleneck",
)
def q_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "embedding"
    )
    # query set is tiny by contract (broadcast pattern): driver collects it
    # once and ships it inside the UDF closure
    q_rows = sorted(
        e.where(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r["vec_id"]
    )
    if not q_rows:
        # empty corpus/query set: np.array([]) is 1-D, so the axis-1
        # normalization below would crash instead of returning no neighbors
        return local_frame(
            e.sparkSession,
            [],
            "query_id long, neighbor_id long, cos_sim double, rank int",
        )
    q_ids = np.array([r["vec_id"] for r in q_rows])
    q_mat = np.array([r["embedding"] for r in q_rows], dtype="float64")
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    candidates = e.mapInPandas(
        _blocked_knn_batches(q_ids, q_mat),
        schema="query_id long, neighbor_id long, cos_sim double",
    )
    return _topk(candidates)


# --------------------------------------------------------------------------
# iterative refinement: k-means (Lloyd) over the IVF pieces
# --------------------------------------------------------------------------
KMEANS_ITERS = 3


def _dd_kmeans_sql() -> str:
    """Unrolled Lloyd iterations in DuckDB SQL (see q_kmeans's oracle
    comment). cent0 comes from the original labels; each round assigns by
    rounded cosine (ties to the smaller cell) and re-estimates quantized
    integer-mean centroids; the final assignment sizes the clusters."""

    def _cent(idx: int, src: str) -> str:
        return f"""comp{idx} AS (
  SELECT cell, i,
         sum(CAST(round((embedding::DOUBLE[])[i] * {QUANT}) AS BIGINT)) AS s,
         count(*) AS n
    FROM {src} CROSS JOIN range(1, {EMB_DIM + 1}) t(i)
   GROUP BY cell, i
),
cent{idx} AS (
  SELECT cell, list(CAST(s AS DOUBLE) / n ORDER BY i) AS centroid
    FROM comp{idx} GROUP BY cell
)"""

    def _assign(idx: int, cent: str) -> str:
        cos_c = dd_cosine_similarity("e.embedding", "c.centroid")
        return f"""assign{idx} AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round({cos_c}, 6) DESC, c.cell ASC) AS rn
      FROM embeddings e CROSS JOIN {cent} c) WHERE rn = 1
)"""

    parts = [
        "base AS (SELECT label AS cell, embedding FROM embeddings)",
        _cent(0, "base"),
    ]
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(_assign(it, f"cent{it - 1}"))
        parts.append(_cent(it, f"assign{it}"))
    parts.append(_assign(KMEANS_ITERS + 1, f"cent{KMEANS_ITERS}"))
    body = ",\n".join(parts)
    return f"""WITH {body},
sizes AS (
  SELECT cell AS cluster, count(*) AS n_members
    FROM assign{KMEANS_ITERS + 1} GROUP BY cell
),
checks AS (
  SELECT cell AS cluster,
         CAST(sum(CAST(round_even((CAST(s AS DOUBLE) / n) * {QUANT}, 0)
                       AS BIGINT)) AS BIGINT) AS centroid_checksum
    FROM comp{KMEANS_ITERS} GROUP BY cell
)
SELECT CAST(s.cluster AS INT) AS cluster, s.n_members, c.centroid_checksum
  FROM sizes s JOIN checks c USING (cluster)
"""


def _lloyd_partials_kernel(cents):
    """mapInArrow factory for one Lloyd round over (label, embedding):
    assign each vector to its nearest centroid (``cents`` = cell-ascending
    [(cell, centroid), ...]; None = keep the row's label column) and emit
    ONE partial batch per task of the per-(cell, dimension) quantized
    integer sums — the map-side half of the comp{t} aggregation.

    Bit-exact JVM replicas throughout (guide §4.2): cosine is the
    left-to-right double fold (np.cumsum), the 6-dp rounding and the
    x*QUANT quantization use functions.rounding's Catalyst HALF_UP
    replica, and argmax over cell-ascending rounded cosines resolves ties
    to the smallest cell exactly like the (s DESC, cell ASC) struct max.
    """
    import numpy as np
    import pyarrow as pa

    from prefect_flow_arc_indexer_spark.functions.rounding import (
        spark_round_half_up,
        spark_round_half_up_long,
    )

    def run(it):
        if cents is not None and not cents:
            # empty selected-center set only occurs for an empty corpus
            # (comp rows exist iff rows do): nothing to assign or sum
            return
        cmat = cnorm = cell_ids = None
        if cents is not None:
            cell_ids = np.array([c for c, _ in cents], dtype=np.int32)
            cmat = np.array([v for _, v in cents], dtype=np.float64)
            cnorm = np.sqrt(np.cumsum(cmat * cmat, axis=1)[:, -1])
        acc_s: dict = {}
        acc_n: dict = {}
        for batch in it:
            emb = list_matrix(batch.column(1))
            if emb.size == 0:
                continue
            if cents is None:
                labels = np.asarray(
                    batch.column(0).to_pylist(), dtype=np.int64
                )
            else:
                # the same left-to-right fold, one dimension at a time:
                # never builds the (rows, k, d) product (5x faster at 20k
                # rows, bit-identical to np.cumsum's sequential adds)
                et = emb.T
                dots = np.multiply.outer(et[0], cmat[:, 0])
                for j in range(1, len(et)):
                    dots += np.multiply.outer(et[j], cmat[:, j])
                en = np.sqrt(np.cumsum(emb * emb, axis=1)[:, -1])
                cos = dots / (en[:, None] * cnorm[None, :])
                r6 = spark_round_half_up(cos.ravel(), 6).reshape(cos.shape)
                labels = cell_ids[np.argmax(r6, axis=1)].astype(np.int64)
            q = spark_round_half_up_long((emb * QUANT).ravel()).reshape(
                emb.shape
            )
            for c in np.unique(labels):
                mask = labels == c
                s = q[mask].sum(axis=0)
                if c in acc_s:
                    acc_s[c] += s
                    acc_n[c] += int(mask.sum())
                else:
                    acc_s[c] = s
                    acc_n[c] = int(mask.sum())
        if not acc_s:
            return
        cells: list[int] = []
        poss: list[int] = []
        ss: list[int] = []
        ns: list[int] = []
        for c in sorted(acc_s):
            sv = acc_s[c]
            d = len(sv)
            cells.extend([int(c)] * d)
            poss.extend(range(d))
            ss.extend(int(v) for v in sv)
            ns.extend([acc_n[c]] * d)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.asarray(cells, dtype=np.int32)),
                pa.array(np.asarray(poss, dtype=np.int32)),
                pa.array(np.asarray(ss, dtype=np.int64)),
                pa.array(np.asarray(ns, dtype=np.int64)),
            ],
            ["cell", "pos", "s", "n"],
        )

    return run


@register(
    "q_kmeans",
    # Full DuckDB replay (r7 — was rows-only): KMEANS_ITERS is a constant,
    # so the Lloyd loop UNROLLS as chained CTEs — no recursion needed. Every
    # step is engine-exact by construction: centroids are integer-quantized
    # per-component sums divided once (sum of bigints is aggregation-order-
    # proof; s/n is one deterministic IEEE division), assignment is the
    # established _dd_ivf_cells shape (round(cos, 6) + row_number ties to
    # the smaller cell == Spark's array_max struct fold), and the checksum
    # uses round_even to match the DRIVER-side Python round() (banker's),
    # unlike the half-up F.round/round used everywhere else. Determinism +
    # convergence remain pytest-asserted.
    oracle=_dd_kmeans_sql(),
    doc="iterative algorithm surface: k-means via Lloyd iterations — "
    "per round, one Arrow kernel assigns each vector to its nearest "
    "centroid (argmax rounded cosine, ties to the smaller cell) and emits "
    "per-task quantized integer component sums, reduced exactly on the "
    "driver into the next k x d centroids. The rounds run through "
    "functions.rounds.arrow_rounds: on the driver when the corpus fits the "
    "broadcast threshold, else one shuffle-free Arrow job per round; a "
    "last round over the final centroids is the membership census. "
    "Output: per-cluster size and a quantized centroid checksum.",
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("label", "embedding")

    def cents_of(comp):
        """Cell-ascending [(cell, centroid)]: double(s)/n per dimension
        (s < 2^53, so the int -> double cast and the division are the same
        IEEE ops as the oracle's)."""
        sums: dict[int, dict[int, int]] = {}
        cnt: dict[int, int] = {}
        for r in comp.to_pylist():
            sums.setdefault(r["cell"], {})[r["pos"]] = r["s"]
            cnt[r["cell"]] = r["n"]
        return [
            (c, [float(sums[c][p]) / cnt[c] for p in range(EMB_DIM)])
            for c in sorted(sums)
        ]

    # Each Lloyd round is one kernel pass (assignment + quantized partial
    # sums, bit-exact, see the kernel docstring) reduced exactly on the
    # driver; round 0 sums by the rows' labels. The last pass over the
    # final centroids is the membership census: n rides every partial.
    cents = None
    with arrow_rounds(e) as run:
        for _ in range(KMEANS_ITERS + 2):
            part = run(
                _lloyd_partials_kernel(cents),
                "cell int, pos int, s long, n long",
            )
            comp = sum_by(part, ["cell", "pos"], ["s", "n"])
            cent_rows, cents = cents, cents_of(comp)
    n_members = {r["cell"]: r["n"] for r in comp.to_pylist() if r["pos"] == 0}
    return local_frame(
        spark,
        sorted(
            (
                int(lbl),
                n_members.get(int(lbl), 0),
                sum(int(v) for v in (round(x * QUANT) for x in c)),
            )
            for lbl, c in cent_rows
        ),
        "cluster int, n_members bigint, centroid_checksum bigint",
    ).where(F.col("n_members") > 0)


@register(
    "q_embed_norm",
    oracle="""SELECT vec_id,
       len(embedding) AS dim,
       round(sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')), 6) AS l2_norm,
       round(list_aggregate(embedding::DOUBLE[], 'sum') / len(embedding), 6) AS mean_component,
       round(list_aggregate(embedding::DOUBLE[], 'max'), 6) AS max_component
  FROM embeddings
""",
    doc="embedding normalization stats: dimension, L2 norm, component "
    "mean/max per vector — the per-row preflight a similarity pipeline "
    "runs before normalizing; pure narrow array math inside codegen "
    "(no shuffle, scan-speed at any scale)",
)
def q_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", fan_out=True)
    emb = F.col("embedding").cast("array<double>")
    sq_sum = F.aggregate(emb, F.lit(0.0), lambda acc, v: acc + v * v)
    comp_sum = F.aggregate(emb, F.lit(0.0), lambda acc, v: acc + v)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(comp_sum / F.size("embedding"), 6).alias("mean_component"),
        F.round(F.array_max(emb), 6).alias("max_component"),
    )


@register(
    "q_embed_quantize",
    oracle="""WITH scaled AS (
  SELECT vec_id,
         CASE WHEN list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') = 0
              THEN 1.0
              ELSE 127.0 / list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max')
         END AS scale,
         embedding::DOUBLE[] AS emb
    FROM embeddings
)
SELECT vec_id,
       round(scale, 6) AS scale_r,
       array_to_string(list_transform(emb, x -> CAST(round(x * scale) AS INTEGER)), ',') AS q8,
       CAST(list_aggregate(
           list_transform(list_zip(emb, range(1, len(emb) + 1)),
                          p -> CAST(round(p[1] * scale) AS BIGINT) * p[2]),
           'sum') AS BIGINT) AS q8_checksum,
       round(list_aggregate(
           list_transform(emb, x -> (x - round(x * scale) / scale)
                                  * (x - round(x * scale) / scale)),
           'sum') / len(emb) * 1e6, 6) AS mse_ppm
  FROM scaled
""",
    doc="int8 embedding quantization (the storage/ANN-memory pressure "
    "valve): per-vector symmetric scale 127/max|x|, quantized components, "
    "and reconstruction MSE — all row-local array math, zero shuffle. "
    "Parity notes: scale is computed ONCE as a projected column (inlining "
    "it in the transform would re-reduce the array per element, O(d^2)); "
    "Spark round() and DuckDB round() both use half-away-from-zero, and "
    "the fold order is left-to-right in both engines, so quantized codes "
    "AND the error sum match bit-exactly before the final rounding. The "
    "code vector is surfaced as a comma-joined STRING plus a "
    "position-weighted BIGINT checksum, not a raw array column: the "
    "driver's comparator sorts raw result values and ndarray cells are "
    "unhashable (r2 harness crash); scalars certify the same bits",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", fan_out=True)
    emb = F.col("embedding").cast("array<double>")
    max_abs = F.array_max(F.transform(emb, F.abs))
    scaled = e.select(
        "vec_id",
        emb.alias("emb"),
        F.when(max_abs == 0, F.lit(1.0))
        .otherwise(F.lit(127.0) / max_abs)
        .alias("scale"),
    )
    s = F.col("scale")
    q = F.transform(F.col("emb"), lambda x: F.round(x * s).cast("int"))
    checksum = F.aggregate(
        F.zip_with(
            q.cast("array<bigint>"),
            F.sequence(F.lit(1), F.size("emb")).cast("array<bigint>"),
            lambda c, i: c * i,
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    err = F.aggregate(
        F.transform(
            F.col("emb"),
            lambda x: (x - F.round(x * s) / s) * (x - F.round(x * s) / s),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return scaled.select(
        "vec_id",
        F.round(s, 6).alias("scale_r"),
        F.array_join(q.cast("array<string>"), ",").alias("q8"),
        checksum.alias("q8_checksum"),
        F.round(err / F.size("emb") * 1e6, 6).alias("mse_ppm"),
    )


# --------------------------------------------------------------------------
# ANN quality metric: IVF recall against the exact top-k
# --------------------------------------------------------------------------
def _register_ivf_recall():
    """Registered via a closure so the oracle can EMBED the already-
    registered exact/IVF oracles as subqueries — the metric definition
    stays in lockstep with the operators it measures."""
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    exact_sql = _REGISTRY["q_knn_cosine"].oracle
    approx_sql = _REGISTRY["q_knn_ivf"].oracle
    oracle = f"""WITH exact AS (SELECT * FROM ({exact_sql})),
approx AS (SELECT * FROM ({approx_sql}))
SELECT e.query_id,
       count(*) AS k_exact,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS recall_at_k
  FROM exact e
  LEFT JOIN approx a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
 GROUP BY e.query_id
"""

    @register(
        "q_ivf_recall",
        oracle=oracle,
        doc="ANN quality metric: per-query recall@k of the IVF index "
        "against the exact cosine top-k — the acceptance gate a pipeline "
        "runs before swapping brute force for the bucketed index; both "
        "sides are the registered operators themselves (deterministic "
        "tie-breaks), joined on (query, neighbor)",
    )
    def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
        exact = q_knn_cosine(spark, sf_dir).select("query_id", "neighbor_id")
        ivf = q_knn_ivf(spark, sf_dir)
        approx = ivf.select(
            F.col("query_id").alias("a_qid"),
            F.col("neighbor_id").alias("a_nid"),
        )
        hit = F.sum(
            F.when(F.col("a_nid").isNotNull(), 1).otherwise(0)
        ).cast("long")
        out = (
            exact.join(
                approx,
                (F.col("query_id") == F.col("a_qid"))
                & (F.col("neighbor_id") == F.col("a_nid")),
                "left",
            )
            .groupBy("query_id")
            .agg(
                F.count("*").alias("k_exact"),
                hit.alias("n_hits"),
                F.round(
                    hit.cast("double") / F.count("*"), 6
                ).alias("recall_at_k"),
            )
        )
        # propagate the IVF centroid checkpoint's release handle
        out.ckpt_release = ivf.ckpt_release
        return out


_register_ivf_recall()


# --------------------------------------------------------------------------
# cluster-separation diagnostics: pairwise centroid cosine
# --------------------------------------------------------------------------
@register(
    "q_centroid_similarity",
    oracle="""WITH comp AS (
  SELECT label, i,
         sum(CAST(round((embedding::DOUBLE[])[i] * 1000000) AS BIGINT)) AS s,
         count(*) AS n
    FROM embeddings CROSS JOIN range(1, 65) t(i)
   GROUP BY label, i
),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY i) AS centroid
    FROM comp GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
       round((list_aggregate(list_transform(generate_series(1, len(a.centroid)), i -> (a.centroid::DOUBLE[])[i] * (b.centroid::DOUBLE[])[i]), 'sum'))
             / ((sqrt(list_aggregate(list_transform(a.centroid::DOUBLE[], x -> x * x), 'sum')))
                * (sqrt(list_aggregate(list_transform(b.centroid::DOUBLE[], x -> x * x), 'sum')))),
             6) AS cos_sim
  FROM cent a JOIN cent b ON a.label < b.label
""",
    doc="cluster-separation diagnostics: pairwise cosine between the "
    "per-label centroids — the post-clustering health check (centroids "
    "too similar => merge cells / retrain). Centroids are the same "
    "engine-stable quantized means the IVF index trains on; the pairwise "
    "stage is a k x k self-join of a k-row frame, so the corpus "
    "contributes exactly one (label, pos) aggregation scan",
)
def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prefect_flow_arc_indexer_spark.functions.caching import (
        CheckpointRelease,
    )

    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "label", "embedding"
    )
    # r11 (guide §5): the k-row centroid table feeds both self-join sides;
    # without the checkpoint each side re-derived the corpus aggregation
    # (the q_knn_ivf shape). Caller releases via ckpt_release.
    cent = ivf_centroids(e).localCheckpoint(eager=True)
    cent_release = CheckpointRelease(cent)
    a = cent.select(
        F.col("label").alias("label_a"), F.col("centroid").alias("cent_a")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("centroid").alias("cent_b")
    )
    out = (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(
                cosine_similarity(F.col("cent_a"), F.col("cent_b")), 6
            ).alias("cos_sim"),
        )
    )
    out.ckpt_release = cent_release
    return out


# --------------------------------------------------------------------------
# top principal component via power iteration (iterative linear algebra)
# --------------------------------------------------------------------------
PCA_ITERS = 4
# fixed-point quantization making every corpus-wide float SUM an exact
# integer sum (the q_kmeans/q_pagerank discipline): inputs/means at 1e6
# (the ivf_centroids scale), per-row step contributions at 1e9. Everything
# DOWNSTREAM of the sums (norm, normalize, Rayleigh quotient) runs over a
# d=64 vector in pinned dimension order, so it is deterministic without
# quantization.
PCA_QIN = 1_000_000.0
PCA_QSTEP = 1_000_000_000.0


def _dd_pca_sql() -> str:
    """Unrolled power iterations in DuckDB — textually parallel to the
    Spark/driver arithmetic: identical quantization points, division
    sequences, fold orders, and the same `norm == 0 -> 1.0` guard."""
    dim = EMB_DIM
    head = f"""WITH e AS (SELECT embedding::DOUBLE[] AS x FROM embeddings),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
msum AS (
  SELECT i, sum(CAST(round(x[i] * {PCA_QIN}) AS BIGINT)) AS sq
    FROM e CROSS JOIN range(1, {dim + 1}) t(i) GROUP BY i
),
mvec AS (
  SELECT list(CAST(sq AS DOUBLE) / {PCA_QIN} / (SELECT n FROM nn)
              ORDER BY i) AS m
    FROM msum
),
v0 AS (
  SELECT list_transform(generate_series(1, {dim}),
                        i -> CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END) AS v,
         1.0 AS nrm
)"""
    iters = []
    for t in range(PCA_ITERS):
        iters.append(
            f"""s{t} AS (
  SELECT i,
         sum(CAST(round((x[i] - m[i]) * dot * {PCA_QSTEP}) AS BIGINT)) AS sq
    FROM (
      SELECT x, m,
             list_aggregate(
               list_transform(generate_series(1, {dim}),
                              j -> (x[j] - m[j]) * v[j]), 'sum') AS dot
        FROM e, mvec, v{t}
    ) CROSS JOIN range(1, {dim + 1}) t(i)
   GROUP BY i
),
sv{t} AS (
  SELECT list(CAST(sq AS DOUBLE) / {PCA_QSTEP} ORDER BY i) AS s FROM s{t}
),
v{t + 1} AS (
  SELECT list_transform(s, y -> y / nrm) AS v, nrm FROM (
    SELECT s,
           CASE WHEN sqrt(list_aggregate(
                    list_transform(s, y -> y * y), 'sum')) = 0
                THEN 1.0
                ELSE sqrt(list_aggregate(
                    list_transform(s, y -> y * y), 'sum')) END AS nrm
      FROM sv{t})
)"""
        )
    last = f"v{PCA_ITERS}"
    return (
        head
        + ",\n"
        + ",\n".join(iters)
        + f""",
firstnz AS (
  SELECT min(i) AS fi
    FROM range(1, {dim + 1}) t(i), {last}
   WHERE abs(v[i]) > 1e-12
),
flip AS (
  SELECT CASE WHEN fi IS NOT NULL AND v[fi] < 0 THEN -1.0 ELSE 1.0 END AS sg
    FROM {last}, firstnz
)
SELECT CAST(i - 1 AS INTEGER) AS component_idx,
       round(sg * v[i], 6) AS loading,
       round(nrm / (SELECT n FROM nn), 6) AS eigenvalue
  FROM range(1, {dim + 1}) t(i), {last}, flip
 CROSS JOIN (SELECT 1 FROM nn WHERE n > 0)
"""
    )


def _pca_mean_kernel():
    """mapInArrow kernel for the mean round over (x): emit ONE partial
    batch per task of the per-dimension sums of HALF_UP round(y * PCA_QIN)
    (the Catalyst replica) and the row count n, the oracle's quantized
    mean inputs."""
    import numpy as np
    import pyarrow as pa

    from prefect_flow_arc_indexer_spark.functions.rounding import (
        spark_round_half_up_long,
    )

    def run(it):
        acc, n = None, 0
        for batch in it:
            x = list_matrix(batch.column(0))
            if x.size == 0:
                continue
            part = spark_round_half_up_long((x * PCA_QIN).ravel()).reshape(
                x.shape
            ).sum(axis=0)
            acc = part if acc is None else acc + part
            n += len(x)
        if acc is None:
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.arange(acc.size, dtype=np.int32)),
                pa.array(acc.astype(np.int64)),
                pa.array(np.full(acc.size, n, dtype=np.int64)),
            ],
            ["pos", "s", "n"],
        )

    return run


def _pca_step_kernel(v, m):
    """mapInArrow factory for one power-iteration round over (x): center,
    dot with the direction vector, quantize, and emit ONE partial batch
    per task of the per-dimension integer sums (the map-side half of the
    s{t} aggregation). Bit-exact JVM replicas: centering and the
    (ci * dot) * QSTEP product are elementwise float64 ops, the dot is
    the left-to-right fold (np.cumsum), and the quantization is the
    Catalyst HALF_UP replica (guide §4.2)."""
    import numpy as np
    import pyarrow as pa

    from prefect_flow_arc_indexer_spark.functions.rounding import (
        spark_round_half_up_long,
    )

    def run(it):
        va = np.array(v, dtype=np.float64)
        ma = np.array(m, dtype=np.float64)
        acc = None
        for batch in it:
            x = list_matrix(batch.column(0))
            if x.size == 0:
                continue
            c = x - ma[None, :]
            dot = np.cumsum(c * va[None, :], axis=1)[:, -1]
            contrib = spark_round_half_up_long(
                ((c * dot[:, None]) * PCA_QSTEP).ravel()
            ).reshape(c.shape)
            part = contrib.sum(axis=0)
            acc = part if acc is None else acc + part
        if acc is None:
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.arange(acc.size, dtype=np.int32)),
                pa.array(acc.astype(np.int64)),
            ],
            ["pos", "sq"],
        )

    return run


@register(
    "q_pca_power",
    oracle=_dd_pca_sql(),
    doc="iterative linear-algebra surface: top principal component of the "
    "centered embedding cloud via power iteration on the covariance "
    "operator — each round computes v <- normalize(sum_x x (x . v)) "
    "WITHOUT materializing the d x d covariance, so the per-round cost is "
    "a corpus pass + a d-width reduction, never d^2 state. The mean and "
    "each step sum PRE-ROUNDED integer contributions (PCA_QIN / PCA_QSTEP "
    "units), so every corpus-wide aggregate is exact and order-independent "
    "and the oracle is an exact unrolled-CTE replay; norm/normalize/"
    "Rayleigh run over the d-vector in pinned dimension order on both "
    "engines. The rounds run through functions.rounds.arrow_rounds: on the "
    "driver when the corpus fits the broadcast threshold, else one "
    "shuffle-free Arrow job per round. Output: the component quantized to "
    "1e-6 plus the Rayleigh-quotient eigenvalue estimate, sign-normalized "
    "(first nonzero coordinate positive) for run-to-run stability.",
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("x")
    )
    with arrow_rounds(e) as run:
        # one round yields n and the quantized mean sums together
        mean_rows = sum_by(
            run(_pca_mean_kernel(), "pos int, s long, n long"),
            ["pos"],
            ["s", "n"],
        ).to_pylist()
        n = mean_rows[0]["n"] if mean_rows else 0
        if n == 0:
            # empty corpus: the oracle's `WHERE n > 0` guard yields zero
            # rows; without this the mean division below hits ANSI 22012
            return local_frame(
                spark,
                [],
                "component_idx int, loading double, eigenvalue double",
            )
        mean = [0.0] * EMB_DIM
        for r in mean_rows:
            mean[r["pos"]] = float(r["s"]) / PCA_QIN / n

        def step(vec):
            """One power round: the exact d-vector sum_x c (c . v) in
            PCA_QSTEP units, as doubles."""
            sq = sum_by(
                run(_pca_step_kernel(vec, mean), "pos int, sq long"),
                ["pos"],
                ["sq"],
            )
            out = [0.0] * EMB_DIM
            for r in sq.to_pylist():
                out[r["pos"]] = float(r["sq"]) / PCA_QSTEP
            return out

        # The between-round normalization is the oracle's left-to-right
        # fold plus a correctly rounded sqrt (JVM sqrt == math.sqrt),
        # zero-guarded the same way.
        v_cur = [1.0 if i == 0 else 0.0 for i in range(EMB_DIM)]
        for _ in range(PCA_ITERS - 1):
            s_t = step(v_cur)
            acc = 0.0
            for y in s_t:
                acc += y * y
            nrm = math.sqrt(acc)
            if nrm == 0.0:
                nrm = 1.0
            v_cur = [y / nrm for y in s_t]
        s = step(v_cur)
    # math.sqrt (correctly rounded), NOT **0.5 (libm pow): the oracle's
    # sqrt() must see the same double
    norm = math.sqrt(sum(x * x for x in s)) or 1.0
    v = [x / norm for x in s]
    # Rayleigh quotient lambda = v' C v = ||C v|| at the fixpoint; norm of
    # the last un-normalized step over n gives the eigenvalue
    eigenvalue = norm / n
    # sign normalization: first nonzero coordinate positive
    for x in v:
        if abs(x) > 1e-12:
            if x < 0:
                v = [-y for y in v]
            break
    rows = [
        (i, round(v[i], 6), round(eigenvalue, 6)) for i in range(EMB_DIM)
    ]
    return local_frame(
        spark, rows, "component_idx int, loading double, eigenvalue double"
    )


# --------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster-bounded cosine pairs)
# --------------------------------------------------------------------------
SEM_MIN_ANCHORS = 8  # floor on the anchor count for tiny corpora
SEM_THRESHOLD = 0.3  # same scale as dedup.COSINE_DUP_THRESHOLD
# target EXPECTED cluster size for the production (linear) anchor rule:
# k = max(8, ceil(n / C)) bounds in-cluster pair volume at ~n*C = O(n)
SEM_TARGET_CLUSTER = 256

# the SemDeDup plan as a DuckDB oracle, parameterized ONLY by the anchor-
# count rule (the `k` expression) — both registered variants share every
# other line, which is the point: k is one scalar, nothing else changes
_SEM_ORACLE_TEMPLATE = """WITH nk AS (
  SELECT GREATEST({min_anchors}, CAST({k_expr} AS BIGINT)) AS k
    FROM embeddings
),
anch AS (
  SELECT vec_id AS cell, embedding FROM embeddings, nk WHERE vec_id < nk.k
),
assigned AS (
  SELECT vec_id, embedding, cell AS cluster FROM (
    SELECT e.vec_id, e.embedding, a.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({cos_ea}, 6) DESC,
                      a.cell ASC) AS rn
      FROM embeddings e CROSS JOIN anch a) WHERE rn = 1
),
dups AS (
  SELECT a.vec_id, CAST(min(b.vec_id) AS BIGINT) AS dup_of
    FROM assigned a JOIN assigned b
      ON b.cluster = a.cluster AND b.vec_id < a.vec_id
   WHERE round({cos_ab}, 6) >= {threshold}
   GROUP BY a.vec_id
)
SELECT s.vec_id, CAST(s.cluster AS INTEGER) AS cluster, d.dup_of,
       d.dup_of IS NULL AS is_kept
  FROM assigned s LEFT JOIN dups d ON d.vec_id = s.vec_id
"""


def _sem_oracle(k_expr: str) -> str:
    return _SEM_ORACLE_TEMPLATE.format(
        min_anchors=SEM_MIN_ANCHORS,
        k_expr=k_expr,
        cos_ea=dd_cosine_similarity("e.embedding", "a.embedding"),
        cos_ab=dd_cosine_similarity("a.embedding", "b.embedding"),
        threshold=SEM_THRESHOLD,
    )


# above this anchor count the nearest-anchor assignment switches from the
# per-row expression fold to one float64 matmul per Arrow batch: the fold
# evaluates k rounded cosines through codegen'd expression eval per vector
# (n*k scalar fold steps — measured as the whole 18x sf1 wall of the first
# q_semdedup_capped cut, where k grows linearly with n), while the matmul
# pays the identical flop count at BLAS speed. Below it the fold wins by
# staying JVM-side with zero Python/Arrow transfer.
SEM_BLAS_MIN_ANCHORS = 32


def _round_half_up_6(x):
    """6-dp round-half-away-from-zero on an ndarray — the same rule Spark's
    F.round and DuckDB's round apply, where np.round would use banker's
    (half-even) rounding. Exactness caveat: the *1e6 scaling is binary
    float arithmetic, so a cosine within ~1 ulp of a x.xxxxxx5 boundary
    can still land differently than a decimal-exact engine — the residual
    ulp hazard accepted at q_knn_blocked's registration."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _blocked_assign_batches(anchor_bc):
    """mapInPandas worker for nearest-anchor assignment: per Arrow batch,
    ONE float64 matmul against the broadcast anchor matrix, then argmax
    over the 6-dp-rounded similarities. Similarities follow the fold/
    oracle association — raw dot products divided by the norm product
    (NOT pre-normalized rows, whose extra per-element division perturbs
    different ulps) — and round half-away-from-zero like F.round/DuckDB.
    ``cells`` is sorted ascending, and np.argmax takes the FIRST max, so
    ties go to the smallest cell — the fold path's (cos DESC, cell ASC)
    rule. BLAS pairwise summation can still differ from the fold's
    sequential sum at ulp level near a rounding boundary (the
    q_knn_blocked residual hazard, ADVICE r9); the tie-break rule itself
    is exact."""
    import numpy as np
    import pandas as pd

    def assign(batches):
        cells, a_mat, a_norm = anchor_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.array(pdf["embedding"].tolist(), dtype="float64")
            c_norm = np.linalg.norm(c, axis=1, keepdims=True)
            sims = _round_half_up_6(
                (c @ a_mat.T) / (c_norm * a_norm[None, :])
            )  # (batch, k)
            best = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cluster": cells[best],
                }
            )

    return assign


# Upper bound on the anchor matrix the BLAS path will collect to the driver
# and broadcast: 1M anchors x 64 dims x 8 B = ~512 MB, the last size a
# single driver/executor comfortably holds. q_semdedup_capped's linear rule
# k = n/256 crosses this around n = 256M vectors — the rung where the
# documented coarse/fine anchor-tree plan (SCALE.md §SemDeDup) must take
# over; failing loudly beats silently degrading into a driver OOM.
SEM_BLAS_MAX_ANCHORS = 1_000_000


def semdedup(e: DataFrame, k: int) -> DataFrame:
    """SemDeDup over ``(vec_id, embedding)`` with ``k`` anchor cells:
    assign every vector to its nearest anchor (shuffle-free — a broadcast
    array fold for small k, a BLAS-blocked mapInPandas matmul once k
    crosses SEM_BLAS_MIN_ANCHORS; identical argmax semantics either way),
    then mark any vector whose cosine to a smaller-id cluster-mate reaches
    SEM_THRESHOLD as a duplicate of the min such id. Callers pick ``k`` —
    see :func:`q_semdedup` (k = ceil(sqrt(n)), the oracle-study form) and
    :func:`q_semdedup_capped` (k = ceil(n/C), the linear production
    default, which is exactly the regime where k is large enough for the
    matmul path)."""
    a_rows = None
    if k > SEM_BLAS_MIN_ANCHORS:
        if k > SEM_BLAS_MAX_ANCHORS:
            raise ValueError(
                f"semdedup: k={k} anchors exceeds SEM_BLAS_MAX_ANCHORS="
                f"{SEM_BLAS_MAX_ANCHORS}; a flat anchor matrix no longer "
                "fits one broadcast — use the coarse/fine anchor-tree "
                "rung (SCALE.md §SemDeDup) or a larger cap per anchor"
            )
        # k anchor rows by contract — the same driver-side bound the
        # fold path's one-row collect_list carries (empty corpus falls
        # through to the fold path, which already handles it)
        a_rows = sorted(
            e.where(F.col("vec_id") < k).collect(), key=lambda r: r["vec_id"]
        )
    if a_rows:
        import numpy as np

        cells = np.array([r["vec_id"] for r in a_rows], dtype="int32")
        a_mat = np.array([r["embedding"] for r in a_rows], dtype="float64")
        a_norm = np.linalg.norm(a_mat, axis=1)
        # torrent-distributed Spark broadcast, NOT closure capture: the
        # anchor matrix is O(k) and a task closure ships per task launch
        # (ADVICE r9)
        anchor_bc = e.sparkSession.sparkContext.broadcast(
            (cells, a_mat, a_norm)
        )
        assigned = e.select("vec_id", "embedding").mapInPandas(
            _blocked_assign_batches(anchor_bc),
            schema="vec_id long, embedding array<float>, cluster int",
        )
    else:
        anchors = e.where(F.col("vec_id") < k).agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("cell"),
                        F.col("embedding").alias("centroid"),
                    )
                )
            ).alias("cents")
        )
        assigned = (
            _with_emb_norm(e)
            .crossJoin(F.broadcast(anchors))
            .select(
                "vec_id",
                "embedding",
                _argmax_cell(F.col("cents")).cast("int").alias("cluster"),
            )
        )
    # r12 (guide §5): assigned feeds THREE branches (both pair sides and
    # the keeper select), each of which re-ran the scan + nearest-anchor
    # argmax/matmul. Materialize the assignment once; write-once-read-
    # thrice is also the 100 TB shape (one k*d pass per vector instead of
    # three). Caller releases via ckpt_release (q_containment contract).
    from prefect_flow_arc_indexer_spark.functions.caching import (
        CheckpointRelease,
    )

    assigned = assigned.localCheckpoint(eager=True)
    left = assigned.select(
        "vec_id", "cluster", F.col("embedding").alias("a_emb")
    )
    right = assigned.select(
        F.col("vec_id").alias("b_id"),
        F.col("cluster").alias("b_cluster"),
        F.col("embedding").alias("b_emb"),
    )
    dups = (
        left.join(
            right,
            (F.col("b_cluster") == F.col("cluster"))
            & (F.col("b_id") < F.col("vec_id")),
        )
        .where(
            F.round(cosine_similarity(F.col("a_emb"), F.col("b_emb")), 6)
            >= SEM_THRESHOLD
        )
        .groupBy("vec_id")
        .agg(F.min("b_id").alias("dup_of"))
    )
    out = (
        assigned.select("vec_id", "cluster")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "dup_of",
            F.col("dup_of").isNull().alias("is_kept"),
        )
    )
    out.ckpt_release = CheckpointRelease(assigned)
    return out


@register(
    "q_semdedup",
    oracle=_sem_oracle("ceil(sqrt(count(*)))"),
    doc="semantic dedup, SemDeDup shape (Abbas et al. 2023): coarse-cluster "
    "the corpus (nearest of k = max(8, ceil(sqrt(n))) anchor embeddings — "
    "the deterministic stand-in for k-means centroids, anchor count GROWING "
    "with the corpus), then drop any vector whose cosine to a SMALLER-id "
    f"cluster-mate reaches {SEM_THRESHOLD}. The pairwise stage is "
    "cluster-bounded: assignment is a shuffle-free broadcast projection "
    "(sqrt(n) anchors x 64 dims stays a few MB even at 10^9 vectors), and "
    "the only corpus shuffle keys on cluster id, so expected pair volume "
    "is sum(|cluster|^2) ~ n^2/k = n^1.5 instead of n^2/8. The sqrt rule "
    "is the recall-study form (clusters grow with the corpus, so no fixed "
    "ceiling truncates them); q_semdedup_capped is the PRODUCTION default "
    "— same plan, k = ceil(n/C), pair volume O(n).",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "embedding"
    )
    # r11: k derives from the TABLE row count, which the parquet footer
    # answers for free (the table_row_count gate pattern) — e.count()
    # paid a scan THROUGH the fan_out repartition (the shuffle blocks
    # count pushdown). Same number as the oracle's count(*), exactly.
    n = table_row_count(spark, sf_dir, "embeddings")
    k = max(SEM_MIN_ANCHORS, math.ceil(math.sqrt(n))) if n else SEM_MIN_ANCHORS
    return semdedup(e, k)


@register(
    "q_semdedup_capped",
    oracle=_sem_oracle(f"ceil(count(*) / {SEM_TARGET_CLUSTER}.0)"),
    doc="semantic dedup, the PRODUCTION anchor rule (VERDICT r8 task 3, "
    "the q_neardup_capped discipline): identical plan to q_semdedup with "
    f"k = max({SEM_MIN_ANCHORS}, ceil(n / {SEM_TARGET_CLUSTER})) — anchors "
    "grow LINEARLY with the corpus so the expected cluster size is pinned "
    f"at ~{SEM_TARGET_CLUSTER} and in-cluster pair volume is bounded at "
    f"~n*{SEM_TARGET_CLUSTER} = O(n), vs the sqrt rule's n^1.5 (measured "
    "14.9x wall for 10x data at sf1). Both engines derive k from the same "
    "count, so the oracle holds exactly at every SF. The nearest-anchor "
    "assignment runs BLAS-blocked above SEM_BLAS_MIN_ANCHORS (one float64 "
    "matmul per Arrow batch, same rounded-argmax semantics as the fold — "
    "measured 25.8 s -> 5.2 s at sf1, ratio 18x -> ~2.5x); its n*k flop "
    "count stays the asymptotic term around k ~ 10^6, where SCALE.md names "
    "the next rung (a two-level coarse/fine anchor tree) — the pair stage, "
    "the part that was superlinear, is linear here.",
)
def q_semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "embedding"
    )
    # footer row count, not a scan-through-repartition job (see q_semdedup)
    n = table_row_count(spark, sf_dir, "embeddings")
    k = (
        max(SEM_MIN_ANCHORS, math.ceil(n / SEM_TARGET_CLUSTER))
        if n
        else SEM_MIN_ANCHORS
    )
    return semdedup(e, k)


# --------------------------------------------------------------------------
# Matryoshka truncation: recall of the first-16-dim prefix vs full vectors
# --------------------------------------------------------------------------
MRL_DIMS = 16  # prefix length; the 4x-cheaper candidate representation


def _register_mrl_recall():
    """Matryoshka-representation-learning style dimension truncation: search
    with only the first MRL_DIMS of the 64 dims (cosine renormalizes, so no
    explicit rescale is needed) and measure per-query recall@k against the
    full-vector exact top-k. Registered via the same closure pattern as
    q_ivf_recall so the exact side IS the registered q_knn_cosine oracle.

    Scale story: the prefix index is a 4x smaller scan (and a 4x smaller
    Arrow transfer in the blocked-matmul variant); a 100 TB pipeline runs
    the prefix pass as the recall stage over the whole corpus and the
    full-dim rerank only on survivors — this metric is the acceptance gate
    for that swap, exactly like q_ivf_recall gates the IVF swap.
    """
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    exact_sql = _REGISTRY["q_knn_cosine"].oracle
    trunc = f"(e.embedding::DOUBLE[])[1:{MRL_DIMS}]"
    trunc_q = f"(q.q_emb::DOUBLE[])[1:{MRL_DIMS}]"
    approx_sql = f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({dd_cosine_similarity(trunc_q, trunc)}, 6) AS cos_sim
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id FROM ranked WHERE rank <= {TOP_K}"""
    oracle = f"""WITH exact AS (SELECT * FROM ({exact_sql})),
approx AS ({approx_sql})
SELECT e.query_id,
       count(*) AS k_exact,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS recall_at_k
  FROM exact e
  LEFT JOIN approx a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
 GROUP BY e.query_id
"""

    @register(
        "q_mrl_recall",
        oracle=oracle,
        doc="Matryoshka truncation gate: per-query recall@k of a "
        f"first-{MRL_DIMS}-dims cosine search against the full-vector "
        "exact top-k — the acceptance metric for swapping the corpus scan "
        "to the 4x-narrower prefix index (prefix recall pass + full-dim "
        "rerank of survivors at production scale)",
    )
    def q_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
        q, c = _queries_and_corpus(spark, sf_dir)
        qt = q.select("query_id", F.slice("q_emb", 1, MRL_DIMS).alias("q_emb"))
        ct = c.select(
            "neighbor_id", F.slice("embedding", 1, MRL_DIMS).alias("embedding")
        )
        scored = (
            F.broadcast(qt)
            .join(ct, F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    cosine_similarity(F.col("q_emb"), F.col("embedding")), 6
                ).alias("cos_sim"),
            )
        )
        approx = _topk(scored).select(
            F.col("query_id").alias("a_qid"),
            F.col("neighbor_id").alias("a_nid"),
        )
        exact = q_knn_cosine(spark, sf_dir).select("query_id", "neighbor_id")
        hit = F.sum(
            F.when(F.col("a_nid").isNotNull(), 1).otherwise(0)
        ).cast("long")
        return (
            exact.join(
                # k*n_queries rows: always broadcast-able by construction
                F.broadcast(approx),
                (F.col("query_id") == F.col("a_qid"))
                & (F.col("neighbor_id") == F.col("a_nid")),
                "left",
            )
            .groupBy("query_id")
            .agg(
                F.count("*").alias("k_exact"),
                hit.alias("n_hits"),
                F.round(hit.cast("double") / F.count("*"), 6).alias(
                    "recall_at_k"
                ),
            )
        )


_register_mrl_recall()


# --------------------------------------------------------------------------
# hard-negative mining: nearest neighbors OUTSIDE the query's label
# --------------------------------------------------------------------------
HARDNEG_K = 3


@register(
    "q_hard_negatives",
    oracle=f"""WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, embedding AS q_emb
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id,
         e.label AS neighbor_label,
         round({dd_cosine_similarity("q.q_emb", "e.embedding")}, 6) AS cos_sim
    FROM q JOIN embeddings e
      ON e.vec_id <> q.query_id AND e.label <> q.query_label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim, rank
  FROM ranked WHERE rank <= {HARDNEG_K}
""",
    doc="hard-negative mining for retrieval/embedding training: per query, "
    f"the top-{HARDNEG_K} most-similar vectors from a DIFFERENT label — "
    "the near-miss negatives contrastive training needs (random negatives "
    "are too easy; these sit right at the decision boundary). Same "
    "scalable shape as the brute-force search: query set broadcast, one "
    "narrow corpus scan with the label-exclusion predicate applied at the "
    "scan, per-query top-k; at production scale the corpus side swaps to "
    "the IVF/PQ index with the label filter as a post-filter on "
    "candidates.",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", "embedding"
    )
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("q_emb"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        "embedding",
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label")),
        )
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round(
                cosine_similarity(F.col("q_emb"), F.col("embedding")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= HARDNEG_K)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cos_sim",
            "rank",
        )
    )


# --------------------------------------------------------------------------
# NDCG@k of the prefix (Matryoshka) ranking — rank-weighted quality gate
# --------------------------------------------------------------------------
def _register_ndcg_eval():
    """Recall@k (q_mrl_recall) treats every exact top-k neighbor equally;
    NDCG@k grades the approximate RANKING: relevance of an approx hit is
    (k - exact_rank + 1), discounted by 1/log2(pos+1) at its approx
    position. This is the metric that catches an index which finds the
    right neighbors in the wrong order. Every discount weight and the
    ideal DCG are Python-float literals embedded identically in both
    engines, each term is quantized to 1e-9 units BEFORE the sum (exact
    bigint addition — partial-agg-order-proof), so engines agree
    bit-for-bit."""
    import math

    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    weights = {p: 1.0 / math.log2(p + 1) for p in range(1, TOP_K + 1)}
    idcg = sum((TOP_K - p + 1) * weights[p] for p in range(1, TOP_K + 1))

    exact_sql = _REGISTRY["q_knn_cosine"].oracle
    trunc = f"(e.embedding::DOUBLE[])[1:{MRL_DIMS}]"
    trunc_q = f"(q.q_emb::DOUBLE[])[1:{MRL_DIMS}]"
    w_case = " ".join(
        f"WHEN a.rank = {p} THEN {weights[p]!r}" for p in weights
    )
    oracle = f"""WITH exact AS (SELECT * FROM ({exact_sql})),
approx AS (
  WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
  ),
  scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({dd_cosine_similarity(trunc_q, trunc)}, 6) AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  ),
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
  )
  SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {TOP_K}
),
terms AS (
  SELECT a.query_id,
         CASE WHEN e.rank IS NOT NULL THEN 1 ELSE 0 END AS hit,
         CAST(round(
           (CASE WHEN e.rank IS NOT NULL THEN {TOP_K} - e.rank + 1 ELSE 0 END)
           * (CASE {w_case} END) * 1000000000) AS BIGINT) AS term_u
    FROM approx a
    LEFT JOIN exact e
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
)
SELECT query_id,
       CAST(sum(hit) AS BIGINT) AS n_overlap,
       round(CAST(sum(term_u) AS DOUBLE) / 1000000000, 6) AS dcg,
       round(CAST(sum(term_u) AS DOUBLE) / 1000000000 / {idcg!r}, 6) AS ndcg
  FROM terms GROUP BY query_id
"""

    @register(
        "q_ndcg_eval",
        oracle=oracle,
        doc="NDCG@k of the Matryoshka prefix ranking against the exact "
        "cosine top-k: rank-weighted index quality (graded relevance = "
        "inverted exact rank, log2 position discount) — the gate that "
        "catches right-neighbors-wrong-order, which recall@k cannot. "
        "Discount weights and IDCG are shared float literals; DCG terms "
        "sum as exact 1e-9-unit integers, so aggregation order can't "
        "drift. Same cost shape as the recall gates: broadcast query "
        "set, one corpus scan per side, k*n_queries-row join.",
    )
    def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        q, c = _queries_and_corpus(spark, sf_dir)
        qt = q.select(
            "query_id", F.slice("q_emb", 1, MRL_DIMS).alias("q_emb")
        )
        ct = c.select(
            "neighbor_id",
            F.slice("embedding", 1, MRL_DIMS).alias("embedding"),
        )
        scored = (
            F.broadcast(qt)
            .join(ct, F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    cosine_similarity(F.col("q_emb"), F.col("embedding")), 6
                ).alias("cos_sim"),
            )
        )
        approx = _topk(scored).select(
            "query_id", "neighbor_id", F.col("rank").alias("rank_a")
        )
        exact = q_knn_cosine(spark, sf_dir).select(
            F.col("query_id").alias("e_qid"),
            F.col("neighbor_id").alias("e_nid"),
            F.col("rank").alias("rank_e"),
        )
        weight = F.lit(None).cast("double")
        for p, w in weights.items():
            weight = F.when(F.col("rank_a") == p, F.lit(w)).otherwise(weight)
        rel = F.when(
            F.col("rank_e").isNotNull(), TOP_K - F.col("rank_e") + 1
        ).otherwise(0)
        term_u = F.round(rel * weight * 1_000_000_000).cast("bigint")
        hit = F.when(F.col("rank_e").isNotNull(), 1).otherwise(0)
        joined = approx.join(
            F.broadcast(exact),
            (F.col("query_id") == F.col("e_qid"))
            & (F.col("neighbor_id") == F.col("e_nid")),
            "left",
        ).select("query_id", hit.alias("hit"), term_u.alias("term_u"))
        dcg = F.sum("term_u").cast("double") / 1_000_000_000
        return joined.groupBy("query_id").agg(
            F.sum("hit").cast("bigint").alias("n_overlap"),
            F.round(dcg, 6).alias("dcg"),
            F.round(dcg / idcg, 6).alias("ndcg"),
        )


_register_ndcg_eval()


# --------------------------------------------------------------------------
# margin-based bitext mining (Artetxe & Schwenk '19 / CCMatrix shape)
# --------------------------------------------------------------------------
MARGIN_K = 4  # neighborhood size for the margin denominator
MARGIN_TOP = 20  # review-queue size


def _register_bitext_margin():
    """Cross-side translation-pair mining: label parity plays the two
    languages; a pair's score is its cosine RELATIVE to both endpoints'
    average k-NN cosine into the other side (the margin criterion that
    suppresses hubness — raw cosine mines hub vectors, margin doesn't).
    All means are exact integer sums of 1e-6-quantized cosines with ONE
    double division at the end, so engines agree bit-for-bit.

    Candidate generation is the LSH bucket equi-join (the same
    hyperplane-sign buckets q_knn_lsh uses), NOT a cross join: both engines
    score exactly the pairs that share a bucket, so the oracle mirrors the
    candidate rule and agreement is by construction, not by recall luck.
    This is the CCMatrix production shape — FAISS candidates feed the
    margin criterion; the margin algebra itself is generator-agnostic."""
    oracle = f"""WITH e AS (
  SELECT vec_id, label, embedding, {_dd_bucket("embedding")} AS bucket
    FROM embeddings
), s0 AS (
  SELECT vec_id AS id_a, embedding, bucket FROM e WHERE label % 2 = 0
), s1 AS (
  SELECT vec_id AS id_b, embedding, bucket FROM e WHERE label % 2 = 1
),
crossed AS (
  SELECT a.id_a, b.id_b,
         CAST(round({dd_cosine_similarity("a.embedding", "b.embedding")} * 1000000)
              AS BIGINT) AS cos_u
    FROM s0 a JOIN s1 b ON b.bucket = a.bucket
),
knn_a AS (
  SELECT id_a, CAST(sum(cos_u) AS BIGINT) AS sum_a,
         CAST(count(*) AS BIGINT) AS cnt_a
    FROM (SELECT id_a, cos_u,
                 row_number() OVER (PARTITION BY id_a
                                    ORDER BY cos_u DESC, id_b) AS rn
            FROM crossed) t
   WHERE rn <= {MARGIN_K} GROUP BY id_a
),
knn_b AS (
  SELECT id_b, CAST(sum(cos_u) AS BIGINT) AS sum_b,
         CAST(count(*) AS BIGINT) AS cnt_b
    FROM (SELECT id_b, cos_u,
                 row_number() OVER (PARTITION BY id_b
                                    ORDER BY cos_u DESC, id_a) AS rn
            FROM crossed) t
   WHERE rn <= {MARGIN_K} GROUP BY id_b
)
SELECT c.id_a, c.id_b,
       round(CAST(c.cos_u AS DOUBLE) / 1000000, 6) AS cos_sim,
       round(2.0 * c.cos_u * ka.cnt_a * kb.cnt_b
             / (ka.sum_a * kb.cnt_b + kb.sum_b * ka.cnt_a), 6) AS margin
  FROM crossed c
  JOIN knn_a ka ON ka.id_a = c.id_a
  JOIN knn_b kb ON kb.id_b = c.id_b
 ORDER BY margin DESC, c.id_a, c.id_b
 LIMIT {MARGIN_TOP}
"""

    @register(
        "q_bitext_margin",
        oracle=oracle,
        doc="margin-based bitext mining (Artetxe & Schwenk '19, the "
        "CCMatrix criterion): cross-side candidate pairs scored by "
        "cosine over the average of both endpoints' k-NN cosine into "
        "the other side — the hubness-robust selection rule for mining "
        "parallel training pairs; label parity plays the two languages. "
        "The denominator weighs each endpoint by its ACTUAL neighbor "
        "count min(K, candidates), so sparse LSH buckets don't inflate "
        "margins. Neighborhood means are exact integer sums of "
        "1e-6-quantized cosines (order-proof), one double division per "
        "pair, "
        "deterministic top-20 review queue via TakeOrdered. Candidates "
        "come from the LSH bucket equi-join (hash join on bucket id — "
        "the oracle applies the identical rule), so the plan contains NO "
        "cross join and neither language side is ever broadcast or "
        "collected; pair volume is sum over buckets of |A_b|x|B_b| "
        "instead of |A|x|B| — at 100 TB the bucket count scales with the "
        "corpus (more sign bits) to hold per-bucket volume constant.",
    )
    def q_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
            "vec_id", "label", "embedding",
            _bucket_expr("embedding").alias("bucket"),
        )
        s0 = e.where(F.col("label") % 2 == 0).select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("va"),
            "bucket",
        )
        s1 = e.where(F.col("label") % 2 == 1).select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("vb"),
            F.col("bucket").alias("bucket_b"),
        )
        # three consumers (pair scores + both k-NN sides) would re-run the
        # 64-dim fold over the candidate matrix; the scored matrix is NARROW
        # (two ids + one long), so materialize it once — same rationale as
        # q_simhash_pairs' fingerprint checkpoint
        crossed = (
            s0.join(s1, F.col("bucket_b") == F.col("bucket"))
            .select(
                "id_a",
                "id_b",
                F.round(
                    cosine_similarity(F.col("va"), F.col("vb")) * 1_000_000
                )
                .cast("bigint")
                .alias("cos_u"),
            )
            .localCheckpoint(eager=False)
        )
        w_a = Window.partitionBy("id_a").orderBy(
            F.col("cos_u").desc(), F.col("id_b")
        )
        w_b = Window.partitionBy("id_b").orderBy(
            F.col("cos_u").desc(), F.col("id_a")
        )
        # carry the ACTUAL neighbor count (min(K, candidates)) into the
        # denominator: an endpoint in a small LSH bucket has fewer than K
        # candidates, and dividing its sum by K would understate its k-NN
        # mean and inflate margins (ADVICE r4) — the count-weighted form
        # keeps the Artetxe & Schwenk criterion exact for sparse buckets
        # and reduces to the 2K*cos/(sum_a+sum_b) form when both are full
        knn_a = (
            crossed.withColumn("rn", F.row_number().over(w_a))
            .where(F.col("rn") <= MARGIN_K)
            .groupBy("id_a")
            .agg(
                F.sum("cos_u").cast("bigint").alias("sum_a"),
                F.count(F.lit(1)).cast("bigint").alias("cnt_a"),
            )
        )
        knn_b = (
            crossed.withColumn("rn", F.row_number().over(w_b))
            .where(F.col("rn") <= MARGIN_K)
            .groupBy("id_b")
            .agg(
                F.sum("cos_u").cast("bigint").alias("sum_b"),
                F.count(F.lit(1)).cast("bigint").alias("cnt_b"),
            )
        )
        # knn_a/knn_b have one row per endpoint (|side| rows) — NOT
        # broadcastable at corpus scale; plain equi-joins let AQE pick
        out = (
            crossed.join(knn_a, "id_a")
            .join(knn_b, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(F.col("cos_u").cast("double") / 1_000_000, 6).alias(
                    "cos_sim"
                ),
                F.round(
                    2.0
                    * F.col("cos_u")
                    * F.col("cnt_a")
                    * F.col("cnt_b")
                    / (
                        F.col("sum_a") * F.col("cnt_b")
                        + F.col("sum_b") * F.col("cnt_a")
                    ),
                    6,
                ).alias("margin"),
            )
            .orderBy(F.col("margin").desc(), "id_a", "id_b")
            .limit(MARGIN_TOP)
        )
        # caller-release contract for the scored-matrix checkpoint (lazy:
        # materialized by the result's first action) — ADVICE r10's
        # naked-checkpoint class
        from prefect_flow_arc_indexer_spark.functions.caching import (
            CheckpointRelease,
        )

        out.ckpt_release = CheckpointRelease(crossed)
        return out


_register_bitext_margin()


# --------------------------------------------------------------------------
# nearest-centroid confusion matrix (in-plan classifier evaluation)
# --------------------------------------------------------------------------
@register(
    "q_confusion_matrix",
    oracle=f"""WITH comp AS (
  SELECT label, i,
         sum(CAST(round((embedding::DOUBLE[])[i] * {QUANT}) AS BIGINT)) AS s,
         count(*) AS n
    FROM embeddings CROSS JOIN range(1, {EMB_DIM + 1}) t(i)
   GROUP BY label, i
),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY i) AS centroid
    FROM comp GROUP BY label
),
assign AS (
  SELECT e.vec_id, e.label AS actual, c.label AS cell,
         round({dd_cosine_similarity("e.embedding", "c.centroid")}, 6) AS cos_c
    FROM embeddings e CROSS JOIN cent c
),
pred AS (
  SELECT vec_id, actual, cell AS predicted FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_c DESC, cell ASC) AS rn
      FROM assign) WHERE rn = 1
),
conf AS (
  SELECT actual, predicted, count(*) AS n FROM pred GROUP BY actual, predicted
),
tot AS (SELECT actual, sum(n) AS t FROM conf GROUP BY actual)
SELECT c.actual, c.predicted, CAST(c.n AS BIGINT) AS n,
       round(CAST(c.n AS DOUBLE) / t.t, 6) AS recall_share,
       (c.actual = c.predicted) AS is_correct
  FROM conf c JOIN tot t ON t.actual = c.actual
""",
    doc="in-plan classifier evaluation: confusion matrix of the "
    "nearest-centroid classifier (the IVF cell assignment read as a "
    "prediction) against the true labels — per (actual, predicted) "
    "count, per-class recall share, diagonal flag. The centroids are "
    "the engine-stable quantized means, assignment is the broadcast "
    "shuffle-free fold the IVF index already pays, and the matrix "
    "itself is a |labels|^2-bounded aggregate — model evaluation at "
    "scan cost, the way an embedding-quality gate runs inside a 100 TB "
    "pipeline rather than exporting vectors to a notebook.",
)
def q_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", "embedding"
    )
    # r11 (guide §2.4): the true label already sits on the assignment
    # scan's own rows — carrying it through the broadcast argmax fold
    # removes the second embeddings scan and the corpus-to-corpus join on
    # vec_id the previous shape paid to re-attach it.
    cent = ivf_centroids(e).agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("label").alias("cell"), F.col("centroid"))
            )
        ).alias("cents")
    )
    conf = (
        _with_emb_norm(e)
        .crossJoin(F.broadcast(cent))
        .select(
            F.col("label").alias("actual"),
            _argmax_cell(F.col("cents")).cast("int").alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
    )
    tot = conf.groupBy("actual").agg(F.sum("n").alias("t"))
    return conf.join(F.broadcast(tot), "actual").select(
        "actual",
        "predicted",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias(
            "recall_share"
        ),
        (F.col("actual") == F.col("predicted")).alias("is_correct"),
    )
