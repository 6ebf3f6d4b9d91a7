"""Product quantization (PQ) — the memory-compression layer of large-scale
ANN (IVF-PQ): each 64-dim float vector is encoded as 8 small integers, and
search runs against the CODES via a per-query lookup table, never touching
the original floats. This is the operator family that makes a 100 TB
embedding corpus searchable from RAM: 256 bytes/vector become 8.

Two operators:

- **q_pq_codes** (train + encode): the codebook is the per-label
  quantized-mean centroids (the same engine-stable k-means stand-in the IVF
  index trains on — see ``similarity.ivf_centroids``), sliced into
  ``PQ_M`` = 8 subspaces of 8 dims. Each vector's code in subspace ``s`` is
  the argmin-L2 centroid over that slice (rounded distance, ties to the
  smallest cell — the deterministic (d ASC, cell ASC) order). The codebook
  collapses to a ONE-ROW broadcast relation and encoding is a shuffle-free
  projection: 8 independent argmin folds inside whole-stage codegen, zero
  exchanges over the corpus. Output carries the code vector (comma string +
  position-weighted checksum — scalar certificates, not raw arrays) and
  reconstruction MSE.
- **q_pq_adc** (asymmetric-distance search): each query precomputes its
  (subspace x centroid) distance lookup table — ``PQ_M * K`` rounded floats,
  tiny — and a corpus vector's distance is the SUM OF 8 TABLE LOOKUPS on
  its codes. The LUT ships as a one-row broadcast; scoring every corpus
  code row is again a shuffle-free projection, and only the per-query
  top-k agg moves data. Float discipline: per-subspace distances are
  rounded to 6dp BEFORE summing and partial sums accumulate in fixed
  subspace order 0..7 in both engines, so the DuckDB oracle is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from prefect_flow_arc_indexer_spark.operators.similarity import (
    EMB_DIM,
    ivf_centroids,
)
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

PQ_M = 8  # subspaces
PQ_DSUB = EMB_DIM // PQ_M  # dims per subspace
PQ_TOP_K = 5
PQ_N_QUERIES = 5

# per-label quantized-mean centroids (similarity.ivf_centroids), UNSCALED
# back to raw units: ivf_centroids returns means in micro-units (sum of
# round(x*1e6) over n) — harmless under scale-invariant cosine, fatal under
# PQ's L2, so the codebook divides by the quantization factor. Division
# order (s/n)/1e6 is identical in both engines.
_DD_CENT = """comp AS (
  SELECT label, i,
         sum(CAST(round((embedding::DOUBLE[])[i] * 1000000) AS BIGINT)) AS s,
         count(*) AS n
    FROM embeddings CROSS JOIN range(1, 65) t(i)
   GROUP BY label, i
),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) / n / 1000000 ORDER BY i) AS centroid
    FROM comp GROUP BY label
)"""


def _dd_subdist(vec_expr: str, cent_expr: str, sub_expr: str) -> str:
    """Rounded L2^2 between 8-dim slices; left-ordered sum like Spark's fold."""
    term = (
        f"(({vec_expr})[{sub_expr} * {PQ_DSUB} + k] - ({cent_expr})[{sub_expr} * {PQ_DSUB} + k])"
        f" * (({vec_expr})[{sub_expr} * {PQ_DSUB} + k] - ({cent_expr})[{sub_expr} * {PQ_DSUB} + k])"
    )
    return (
        f"round(list_aggregate(list_transform(generate_series(1, {PQ_DSUB}),"
        f" k -> {term}), 'sum'), 6)"
    )


_DD_CODES = f"""dists AS (
  SELECT e.vec_id, sub.s AS sub, c.label,
         {_dd_subdist("e.embedding::DOUBLE[]", "c.centroid", "sub.s")} AS d
    FROM embeddings e CROSS JOIN cent c CROSS JOIN range(0, {PQ_M}) sub(s)
),
codes AS (
  SELECT vec_id, sub, label AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY d ASC, label ASC) AS rn
      FROM dists) WHERE rn = 1
)"""


def _codebook(e: DataFrame) -> DataFrame:
    """One-row (cents) relation; cell == array position - 1 (labels are the
    contiguous 0..k-1 cluster ids, asserted by the sort). Centroids are
    unscaled from ivf_centroids' micro-units back to raw units — see
    ``_DD_CENT``."""
    from prefect_flow_arc_indexer_spark.operators.similarity import QUANT

    cent = ivf_centroids(e).select(
        "label",
        F.transform(
            F.col("centroid"), lambda v: v / F.lit(float(QUANT))
        ).alias("centroid"),
    )
    return cent.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("label").alias("cell"), F.col("centroid"))
            )
        ).alias("cents")
    )


def _collect_codebook(e: DataFrame) -> list:
    """Driver-collected, cell-ascending [(cell, centroid floats)] — the
    r12 kernel-side codebook. Identical values to the one-row broadcast
    form: ivf_centroids' micro-unit doubles divided by QUANT per element
    (float64 division, same IEEE op as the JVM transform)."""
    from prefect_flow_arc_indexer_spark.operators.similarity import QUANT

    rows = ivf_centroids(e).collect()
    return sorted(
        (int(r["label"]), [float(v) / float(QUANT) for v in r["centroid"]])
        for r in rows
    )


def _pq_rowwise_kernel(cents, queries=None, probes=None):
    """mapInArrow factory over (vec_id, x): PQ-encode each vector (8
    argmin-L2 sub-codes) and emit either the encode outputs (codes string,
    checksum, reconstruction MSE — ``queries is None``) or the ADC rows
    ((query_id, neighbor_id, adc_dist) per query — ``queries`` =
    [(query_id, qvec), ...]). With ``probes`` ({query_id: [cells]}, the
    IVF-PQ mode) each row's coarse cell is additionally computed (argmax
    rounded cosine, ties to the smallest cell — the _best_cell fold) and
    a query only scores rows routed to one of its probed cells.

    Bit-exact JVM replicas (guide §4.2): every subspace distance is the
    left-to-right float64 fold (np.cumsum) of (a-b)^2 over the slice,
    rounded through the Catalyst HALF_UP replica; argmin over
    cell-ascending rounded distances resolves ties to the smallest cell
    exactly like the (-d, -cell) struct max; the ADC sum accumulates the 8
    LUT lookups in subspace order; the MSE folds err_0 + err_1 + ... in
    subspace order before the /EMB_DIM * 1e6 scaling."""
    import numpy as np
    import pyarrow as pa

    from prefect_flow_arc_indexer_spark.functions.rounding import (
        spark_round_half_up,
    )

    def run(it):
        if not cents or (queries is not None and not queries):
            # empty codebook / query set only occurs for an empty corpus
            return
        cmat = np.array([c for _, c in cents], dtype=np.float64)  # (k, d)
        cell_ids = np.array([lbl for lbl, _ in cents], dtype=np.int64)
        sub = cmat.reshape(cmat.shape[0], PQ_M, PQ_DSUB)
        if queries is not None:
            # per-(query, sub, cell) rounded LUT, same fold as _sub_dist
            qids = [q for q, _ in queries]
            lut = np.empty((len(queries), PQ_M, cmat.shape[0]))
            for qi, (_, qv) in enumerate(queries):
                qs = np.array(qv, dtype=np.float64).reshape(PQ_M, PQ_DSUB)
                diff = qs[None, :, :] - sub  # (k, M, dsub)
                d = np.cumsum(diff * diff, axis=2)[:, :, -1].T  # (M, k)
                lut[qi] = spark_round_half_up(d.ravel(), 6).reshape(d.shape)
        for batch in it:
            ids = batch.column(0)
            x = np.array(batch.column(1).to_pylist(), dtype=np.float64)
            if x.size == 0:
                continue
            n = x.shape[0]
            xs = x.reshape(n, PQ_M, PQ_DSUB)
            codes = np.empty((n, PQ_M), dtype=np.int64)
            errs = np.empty((n, PQ_M), dtype=np.float64)
            for s in range(PQ_M):
                diff = xs[:, None, s, :] - sub[None, :, s, :]  # (n, k, dsub)
                d = np.cumsum(diff * diff, axis=2)[:, :, -1]  # (n, k)
                r6 = spark_round_half_up(d.ravel(), 6).reshape(d.shape)
                pick = np.argmin(r6, axis=1)
                codes[:, s] = cell_ids[pick]
                # reconstruction error fold over the CHOSEN centroid's
                # slice — unrounded, like err_s
                ch = sub[pick, s, :]
                cd = xs[:, s, :] - ch
                errs[:, s] = np.cumsum(cd * cd, axis=1)[:, -1]
            if queries is None:
                # total_err = err_0 + err_1 + ... in subspace order
                tot = errs[:, 0].copy()
                for s in range(1, PQ_M):
                    tot = tot + errs[:, s]
                mse = spark_round_half_up(tot / EMB_DIM * 1e6, 6)
                checksum = (codes * np.arange(1, PQ_M + 1)[None, :]).sum(
                    axis=1, dtype=np.int64
                )
                strs = [",".join(str(int(c)) for c in row) for row in codes]
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.array(strs, type=pa.string()),
                        pa.array(checksum),
                        pa.array(mse),
                    ],
                    ["vec_id", "pq_codes", "code_checksum", "mse_ppm"],
                )
            else:
                # cell ids are the contiguous 0..k-1 positions (asserted
                # by the codebook sort), so codes index the LUT directly
                id_np = np.asarray(ids.to_pylist(), dtype=np.int64)
                if probes is not None:
                    # coarse routing: argmax rounded cosine, smallest-cell
                    # ties (the _best_cell fold, same replicas as the
                    # Lloyd kernel)
                    cnorm = np.sqrt(np.cumsum(cmat * cmat, axis=1)[:, -1])
                    dots = np.cumsum(
                        x[:, None, :] * cmat[None, :, :], axis=2
                    )[:, :, -1]
                    en = np.sqrt(np.cumsum(x * x, axis=1)[:, -1])
                    cos = dots / (en[:, None] * cnorm[None, :])
                    r6c = spark_round_half_up(cos.ravel(), 6).reshape(
                        cos.shape
                    )
                    row_cell = cell_ids[np.argmax(r6c, axis=1)]
                out_q: list[int] = []
                out_n: list[int] = []
                out_d: list[float] = []
                for qi, qid in enumerate(qids):
                    got = lut[qi][np.arange(PQ_M)[None, :], codes]  # (n, M)
                    dist = spark_round_half_up(
                        np.cumsum(got, axis=1)[:, -1], 6
                    )
                    keep = id_np != qid
                    if probes is not None:
                        keep = keep & np.isin(
                            row_cell,
                            np.asarray(probes[qid], dtype=np.int64),
                        )
                    out_q.extend([qid] * int(keep.sum()))
                    out_n.extend(int(v) for v in id_np[keep])
                    out_d.extend(float(v) for v in dist[keep])
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.asarray(out_q, dtype=np.int64)),
                        pa.array(np.asarray(out_n, dtype=np.int64)),
                        pa.array(np.asarray(out_d, dtype=np.float64)),
                    ],
                    ["query_id", "neighbor_id", "adc_dist"],
                )

    return run


def _sub_slice(col: Column, s: int) -> Column:
    return F.slice(col, s * PQ_DSUB + 1, PQ_DSUB)


def _sub_dist(x: Column, c: Column, s: int) -> Column:
    """Rounded L2^2 between subspace slices (left-fold, 0.0-seeded)."""
    return F.round(
        F.aggregate(
            F.zip_with(
                _sub_slice(x, s), _sub_slice(c, s), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def _code(cents: Column, x: Column, s: int) -> Column:
    """argmin-distance cell in subspace s; ties to the smallest cell (the
    same max-of-struct fold as similarity._argmax_cell — no shuffle)."""
    best = F.array_max(
        F.transform(
            cents,
            lambda c: F.struct(
                (-_sub_dist(x, c["centroid"], s)).alias("negd"),
                (-c["cell"]).alias("negcell"),
            ),
        )
    )
    return (-best["negcell"]).cast("int")


@register(
    "q_pq_codes",
    oracle=f"""WITH {_DD_CENT},
{_DD_CODES},
errs AS (
  SELECT e.vec_id, c2.sub, c2.code,
         list_aggregate(list_transform(generate_series(1, {PQ_DSUB}),
           k -> ((e.embedding::DOUBLE[])[c2.sub * {PQ_DSUB} + k] - ct.centroid[c2.sub * {PQ_DSUB} + k])
              * ((e.embedding::DOUBLE[])[c2.sub * {PQ_DSUB} + k] - ct.centroid[c2.sub * {PQ_DSUB} + k])),
           'sum') AS err_s
    FROM embeddings e
    JOIN codes c2 ON c2.vec_id = e.vec_id
    JOIN cent ct ON ct.label = c2.code
)
SELECT vec_id,
       string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS pq_codes,
       CAST(sum((sub + 1) * code) AS BIGINT) AS code_checksum,
       round(list_aggregate(list(err_s ORDER BY sub), 'sum')
             / {EMB_DIM} * 1e6, 6) AS mse_ppm
  FROM errs GROUP BY vec_id
""",
    doc="product quantization encode: 64-dim vectors become 8 sub-codes "
    "(argmin-L2 against the per-label quantized-mean codebook slice, "
    "rounded distance, deterministic ties) — 256 bytes of floats becoming "
    "8 bytes of codes, the compression that holds a 100 TB ANN corpus in "
    "executor RAM. Codebook is a one-row broadcast; encoding is 8 argmin "
    "folds in one shuffle-free codegen'd projection. Output: code string + "
    "position-weighted checksum (scalar certificates) and reconstruction "
    "MSE ppm, accumulated per-subspace in fixed order so the oracle "
    "matches bit-for-bit.",
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("x")
    )
    # r12 (guide §4.2): the codebook is a k x 64 driver collect and the 8
    # argmin folds + error folds run in ONE Arrow kernel over the corpus
    # — the broadcast-codebook form paid a large Python-built fold tree
    # (plan construction + codegen dominated the wall; execution was
    # trivial). Values bit-exact: see _pq_rowwise_kernel.
    cents = _collect_codebook(e.select("label", F.col("x").alias("embedding")))
    return e.select("vec_id", "x").mapInArrow(
        _pq_rowwise_kernel(cents),
        "vec_id bigint, pq_codes string, code_checksum bigint, "
        "mse_ppm double",
    )


@register(
    "q_pq_adc",
    oracle=f"""WITH {_DD_CENT},
{_DD_CODES},
lut AS (
  SELECT q.vec_id AS query_id, sub.s AS sub, c.label,
         {_dd_subdist("q.embedding::DOUBLE[]", "c.centroid", "sub.s")} AS d
    FROM embeddings q CROSS JOIN cent c CROSS JOIN range(0, {PQ_M}) sub(s)
   WHERE q.vec_id < {PQ_N_QUERIES}
),
adc AS (
  SELECT l.query_id, c2.vec_id AS neighbor_id,
         round(list_aggregate(list(l.d ORDER BY l.sub), 'sum'), 6) AS adc_dist
    FROM codes c2
    JOIN lut l ON l.sub = c2.sub AND l.label = c2.code
   WHERE c2.vec_id <> l.query_id
   GROUP BY l.query_id, c2.vec_id
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM adc) WHERE rank <= {PQ_TOP_K}
""",
    doc="PQ asymmetric-distance (ADC) search: each query precomputes a "
    "(subspace x centroid) distance lookup table — PQ_M*K rounded floats, "
    "shipped as a one-row broadcast — and every corpus vector's distance "
    "is 8 table lookups on its CODES summed in fixed subspace order; the "
    "original floats are never read at search time. Scoring is a "
    "shuffle-free projection over the code table; only the per-query "
    "top-k ranking aggregates. The search half of IVF-PQ: at 100 TB the "
    "code table is ~1/32 the corpus bytes and the LUT cost is "
    "per-query-constant.",
)
def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("x")
    )
    # r12 (guide §4.2): the codebook is a k x 64 driver collect (replacing
    # the r11 eager one-row checkpoint) and the query vectors are a
    # PQ_N_QUERIES-row collect off the pruned parquet scan; encoding, the
    # per-query LUTs and the 8-lookup ADC sums all run in ONE Arrow
    # kernel over the corpus — the broadcast-LUT form paid a large
    # Python-built fold tree per consumer. Values bit-exact: see
    # _pq_rowwise_kernel (LUT fold, subspace-ordered ADC sum, HALF_UP
    # rounding replicas).
    cents = _collect_codebook(e.select("label", F.col("x").alias("embedding")))
    queries = sorted(
        (int(r["vec_id"]), [float(v) for v in r["x"]])
        for r in e.where(F.col("vec_id") < PQ_N_QUERIES)
        .select("vec_id", "x")
        .collect()
    )
    scored = e.select("vec_id", "x").mapInArrow(
        _pq_rowwise_kernel(cents, queries),
        "query_id bigint, neighbor_id bigint, adc_dist double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


# --------------------------------------------------------------------------
# PQ quality gate: ADC recall against the exact L2 top-k
# --------------------------------------------------------------------------
def _dd_l2(a: str, b: str) -> str:
    """Rounded full-vector L2^2; left-ordered sum like Spark's fold."""
    term = f"(({a})[k] - ({b})[k]) * (({a})[k] - ({b})[k])"
    return (
        f"round(list_aggregate(list_transform(generate_series(1, {EMB_DIM}),"
        f" k -> {term}), 'sum'), 6)"
    )


def _register_pq_recall():
    """Registered via a closure embedding the q_pq_adc oracle so the metric
    stays in lockstep with the operator it measures (q_ivf_recall pattern)."""
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    adc_sql = _REGISTRY["q_pq_adc"].oracle
    oracle = f"""WITH exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           {_dd_l2("q.embedding::DOUBLE[]", "e.embedding::DOUBLE[]")} AS d,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_dd_l2("q.embedding::DOUBLE[]", "e.embedding::DOUBLE[]")} ASC,
                      e.vec_id ASC) AS rk
      FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
     WHERE q.vec_id < {PQ_N_QUERIES}
  ) WHERE rk <= {PQ_TOP_K}
),
approx AS (SELECT * FROM ({adc_sql}))
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
        "q_pq_recall",
        oracle=oracle,
        doc="PQ quality gate: per-query recall@k of the ADC code-table "
        "search against the exact L2 top-k over the raw floats — the "
        "acceptance metric a pipeline checks before swapping the float "
        "index for the 32x-smaller code table (low recall => more "
        "subspaces or a finer codebook). Both sides are deterministic "
        "(rounded distances, id tie-breaks); the exact side is the "
        "broadcast-query brute-force shape, candidate-bounded join-back "
        "on (query, neighbor).",
    )
    def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("x")
        )
        q = e.where(F.col("vec_id") < PQ_N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("x").alias("qx")
        )
        dist = F.round(
            F.aggregate(
                F.zip_with(F.col("qx"), F.col("x"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("d").asc(), F.col("neighbor_id").asc()
        )
        exact = (
            e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                dist.alias("d"),
            )
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= PQ_TOP_K)
            .select("query_id", "neighbor_id")
        )
        adc = q_pq_adc(spark, sf_dir)
        approx = adc.select(
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
                F.round(hit.cast("double") / F.count("*"), 6).alias(
                    "recall_at_k"
                ),
            )
        )
        return out


_register_pq_recall()


# --------------------------------------------------------------------------
# IVF-PQ: coarse cell restriction + ADC scoring (the full FAISS-style path)
# --------------------------------------------------------------------------
PQ_NPROBE = 2  # coarse cells each query probes


def _dd_ivfpq_common() -> str:
    """Shared CTEs: cell assignment + per-query probe list over the SAME
    raw-unit centroid table the PQ codebook uses (one coarse quantizer
    serves both stages — the centroids are scale-invariant under cosine)."""
    from prefect_flow_arc_indexer_spark.functions.vectors import (
        dd_cosine_similarity,
    )

    cos_e = dd_cosine_similarity("e.embedding", "c.centroid")
    cos_q = dd_cosine_similarity("q.embedding", "c.centroid")
    return f"""acell AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.label AS cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({cos_e}, 6) DESC, c.label ASC) AS rn
      FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
),
qprobe AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.label AS cell,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round({cos_q}, 6) DESC, c.label ASC) AS rn
      FROM embeddings q CROSS JOIN cent c
     WHERE q.vec_id < {PQ_N_QUERIES}) WHERE rn <= {PQ_NPROBE}
)"""


@register(
    "q_ivfpq_adc",
    oracle=f"""WITH {_DD_CENT},
{_DD_CODES},
{_dd_ivfpq_common()},
lut AS (
  SELECT q.vec_id AS query_id, sub.s AS sub, c.label,
         {_dd_subdist("q.embedding::DOUBLE[]", "c.centroid", "sub.s")} AS d
    FROM embeddings q CROSS JOIN cent c CROSS JOIN range(0, {PQ_M}) sub(s)
   WHERE q.vec_id < {PQ_N_QUERIES}
),
adc AS (
  SELECT l.query_id, c2.vec_id AS neighbor_id,
         round(list_aggregate(list(l.d ORDER BY l.sub), 'sum'), 6) AS adc_dist
    FROM codes c2
    JOIN acell ac ON ac.vec_id = c2.vec_id
    JOIN qprobe qp ON qp.cell = ac.cell
    JOIN lut l ON l.query_id = qp.query_id
             AND l.sub = c2.sub AND l.label = c2.code
   WHERE c2.vec_id <> l.query_id
   GROUP BY l.query_id, c2.vec_id
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM adc) WHERE rank <= {PQ_TOP_K}
""",
    doc="IVF-PQ search, the composition production ANN engines run (Jégou "
    "et al. 2011): a coarse quantizer routes each corpus vector to a cell "
    f"and each query to its {PQ_NPROBE} best cells (nprobe), then "
    "asymmetric-distance scoring runs ONLY over the probed cells' PQ "
    "codes. Cell assignment and encoding happen in one shuffle-free "
    "broadcast projection over a single corpus scan; candidate generation "
    "is a hash join on the cell key (query side broadcast), so per-query "
    "work is corpus/n_cells * nprobe code-table lookups — the shape that "
    "serves billion-vector search from RAM. One centroid table serves "
    "both stages (cosine is scale-invariant, so the PQ codebook's "
    "raw-unit centroids route identically to the IVF micro-unit ones).",
)
def q_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from prefect_flow_arc_indexer_spark.functions.rounding import (
        spark_round_half_up,
    )

    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("x")
    )
    # r12 (guide §4.2): same shape as q_pq_adc — k x 64 codebook collect,
    # query collect, ONE Arrow kernel doing coarse routing + encoding +
    # probe-restricted ADC. The per-query probe lists replicate the
    # probe_structs sort on the driver: rounded cosine (same fold order
    # replicas), ordered by (-cos, cell), first PQ_NPROBE cells.
    cents = _collect_codebook(e.select("label", F.col("x").alias("embedding")))
    queries = sorted(
        (int(r["vec_id"]), [float(v) for v in r["x"]])
        for r in e.where(F.col("vec_id") < PQ_N_QUERIES)
        .select("vec_id", "x")
        .collect()
    )
    probes = {}
    if cents and queries:
        cmat = np.array([c for _, c in cents], dtype=np.float64)
        cell_ids = [lbl for lbl, _ in cents]
        cnorm = np.sqrt(np.cumsum(cmat * cmat, axis=1)[:, -1])
        for qid, qv in queries:
            qa = np.array(qv, dtype=np.float64)
            dots = np.cumsum(qa[None, :] * cmat, axis=1)[:, -1]
            qn = float(np.sqrt(np.cumsum(qa * qa)[-1]))
            cos = dots / (qn * cnorm)
            r6 = spark_round_half_up(cos, 6)
            order = sorted(
                (float(-r6[i]), cell_ids[i]) for i in range(len(cell_ids))
            )
            probes[qid] = [cell for _, cell in order[:PQ_NPROBE]]
    scored = e.select("vec_id", "x").mapInArrow(
        _pq_rowwise_kernel(cents, queries, probes),
        "query_id bigint, neighbor_id bigint, adc_dist double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )
