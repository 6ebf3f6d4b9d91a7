"""Deduplication operators over the ``documents`` / ``embeddings`` tables —
the training-data-pipeline extension surface (north star; not present in the
reference, which has no document-similarity notion).

Five families, each scale-minded:

- **exact**: content-hash groupBy — one shuffle on a 64-hex key; at 100 TB
  this is the classic first pass (hash is computed scan-side, only the hash +
  id shuffle).
- **MinHash + LSH**: shingle -> 16-permutation MinHash signature -> 4 bands
  of 4 -> bucket self-join. The join key is (band_id, band_key), so candidate
  generation never compares all pairs — cost is bucket-local. Skew guard: a
  degenerate bucket (e.g. empty-text docs) would explode quadratically; AQE
  skew-join handles moderate cases and the shingle filter drops empty docs.
- **SimHash**: 28-bit fingerprint via per-bit majority vote, computed in a
  single aggregation (28 conditional sums) — one shuffle, no explode.
- **n-gram Jaccard**: exact Jaccard over 3-gram shingle sets for
  *content-blocked* pairs — the block key is each doc's minimum shingle
  hash (1-permutation MinHash; share probability = Jaccard), so candidate
  volume is bounded by block sizes, never id adjacency; the containment
  variant blocks on the asymmetric anchor-gram rule (either doc's min
  shingle occurring anywhere in the other) for perfect subset-dup recall.
- **embedding cosine near-dup**: same-label blocking join + JVM-side cosine.

All hashes go through ``functions.hashing.stable_hash`` (md5-derived) so the
DuckDB oracles replicate values bit-for-bit.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from prefect_flow_arc_indexer_spark.functions.caching import (
    CheckpointRelease,
    release_frame,
)
from prefect_flow_arc_indexer_spark.functions.frames import local_frame
from prefect_flow_arc_indexer_spark.functions.hashing import (
    HASH_PRIME,
    MINHASH_COEFFS,
    dd_stable_hash,
    stable_hash,
)
from prefect_flow_arc_indexer_spark.functions.pairs import in_row_pairs
from prefect_flow_arc_indexer_spark.functions.shingle_kernel import (
    minhash_signatures_arrow,
    simhash_arrow,
)
from prefect_flow_arc_indexer_spark.functions.textfns import (
    dd_tokens,
    dd_word_ngrams,
    tokens,
    word_ngrams,
)
from prefect_flow_arc_indexer_spark.functions.vectors import (
    cosine_similarity,
    dd_cosine_similarity,
)
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import (
    load_table,
    table_row_count,
)

N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS
SHINGLE_N = 3
SIMHASH_BITS = 28
COSINE_DUP_THRESHOLD = 0.3  # same-label random pairs top out ~0.47


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
@register(
    "q_dedup_exact",
    oracle="""
SELECT sha256(text) AS text_sha,
       count(*) AS dup_count,
       min(doc_id) AS keeper_doc_id
  FROM documents
 GROUP BY sha256(text)
""",
    doc="exact dedup: content-hash groups with keeper selection "
    "(min doc_id); groups with dup_count>1 are the duplicates",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .groupBy(F.sha2("text", 256).alias("text_sha"))
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
def minhash_signature(docs: DataFrame) -> DataFrame:
    """(doc_id, m0..m15): MinHash signature over shingle hashes.

    r12 (guide §4.2): computed by ONE vectorized Arrow kernel
    (:func:`functions.shingle_kernel.minhash_signatures_arrow`) — tokenize,
    3-gram, md5 stable-hash and the 16 permutation mins all happen
    row-locally per batch, so the signature never shuffles and the per-row
    JVM expression chain (split / element_at n-grams / md5 / conv per
    shingle) is gone. min() over permuted hashes is insensitive to shingle
    multiplicity, so shingles are hashed positionally with no per-doc
    distinct, exactly like the JVM ``distinct=False`` path this replaces
    (same values, pinned by the pure-Python replica tests and every
    consumer's DuckDB oracle).
    """
    return minhash_signatures_arrow(docs, SHINGLE_N)


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Band the signature -> bucket by (band_id, band_key) -> emit candidate
    (doc_a, doc_b) pairs bucket-locally.

    Single-pass formulation: a bucket self-join would evaluate the whole
    signature pipeline twice (AQE broadcasts one side, so the exchange is
    never reused); grouping instead computes the signature ONCE and pays one
    shuffle keyed on the band. Pair generation happens inside each bucket
    via array combinatorics (codegen'd ``transform``/``slice``), which is
    the same quadratic-in-bucket-size cost the join formulation has — LSH's
    contract is that buckets stay small. At 100 TB a degenerate bucket
    (near-identical boilerplate docs) should be capped upstream by a
    bucket-size guard; we keep exact semantics here because the oracle is
    the uncapped pair set.
    """
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                "_",
                *[F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
            ).alias("band_key"),
        )
        for b in range(N_BANDS)
    ]
    buckets = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band_id", "bk.band_key")
    grouped = (
        buckets.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    # all ordered pairs (ids[i], ids[j]) with i < j, fully JVM-side
    return (
        grouped.select(
            F.explode(in_row_pairs("ids", "doc_a", "doc_b")).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


# Default degenerate-bucket cap for the PRODUCTION near-dedup path.  An LSH
# bucket of B docs emits B*(B-1)/2 pairs; 1000 caps a single bucket at
# ~500k pairs (and, more importantly, caps the collect_list row at 1000
# ids).  Honest LSH buckets at real shingle entropy are orders of magnitude
# smaller — anything over the cap is boilerplate/empty-text degeneracy whose
# members are better handled by exact dedup upstream.
MAX_BUCKET_DEFAULT = 1000


class _NoopRelease:
    """Release-handle stand-in for frames that persisted nothing — used as
    the ``getattr(frame, "sig_release", _NoopRelease())`` default by
    callers that consume frames which may or may not carry a handle."""

    def release(self) -> None:
        return None


class _CacheRelease:
    """Release handle for a persisted upstream frame.

    ``lsh_candidate_pairs_capped`` persists the MinHash signature frame so
    its two passes (bucket-size census, honest-bucket pair generation)
    share one signature computation.  Spark's CacheManager holds a strong
    reference to a cached plan until ``unpersist()`` — dropping the Python
    frames alone leaks one MEMORY_AND_DISK entry per call in a long-lived
    session (ADVICE r6).  Callers release explicitly once the pairs/census
    are materialized; a ``weakref.finalize`` backstop fires when the last
    returned frame is garbage-collected.
    """

    def __init__(self, frame: DataFrame) -> None:
        self._frame: DataFrame | None = frame
        self._finalizer = weakref.finalize(self, _unpersist_quiet, frame)

    def release(self) -> None:
        frame, self._frame = self._frame, None
        if frame is not None:
            self._finalizer.detach()
            _unpersist_quiet(frame)


def _unpersist_quiet(frame: DataFrame) -> None:
    try:
        frame.unpersist()
    except Exception:  # session already stopped / interpreter shutdown
        pass


def lsh_candidate_pairs_capped(
    sig: DataFrame, max_bucket_size: int = MAX_BUCKET_DEFAULT
) -> tuple[DataFrame, DataFrame]:
    """:func:`lsh_candidate_pairs` with the degenerate-bucket guard the
    uncapped form documents but cannot apply (its oracle is the exact pair
    set): buckets larger than ``max_bucket_size`` are SIDELINED into a
    census frame instead of exploding quadratically.

    Returns ``(pairs, census)`` where ``census`` is
    ``(band_id, band_key, bucket_size)`` for every dropped bucket — the
    production caller logs/persists it so capped volume is visible, never
    silent (VERDICT r5 task 2).

    Scale shape: bucket sizes are measured with a COUNT aggregation first
    (map-side partial agg — the shuffle carries one row per partition x
    bucket, never a member list), and over-cap keys are removed by a
    broadcast anti-join BEFORE the ``collect_list`` shuffle, so no
    aggregation row ever materializes a degenerate bucket's id array — the
    exact failure mode the uncapped form has at 100 TB.  The signature
    frame is persisted so the two passes share one MinHash computation;
    both returned frames carry a shared ``sig_release`` handle
    (:class:`_CacheRelease`) — call ``pairs.sig_release.release()`` once
    the results are materialized to free the cache entry deterministically
    (a GC finalizer backstops forgotten handles).
    """
    from pyspark import StorageLevel

    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    release = _CacheRelease(sig)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                "_",
                *[F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
            ).alias("band_key"),
        )
        for b in range(N_BANDS)
    ]
    buckets = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band_id", "bk.band_key")
    sizes = buckets.groupBy("band_id", "band_key").agg(
        F.count("*").alias("bucket_size")
    )
    census = sizes.where(F.col("bucket_size") > max_bucket_size)
    ok = buckets.join(
        F.broadcast(census.select("band_id", "band_key")),
        ["band_id", "band_key"],
        "left_anti",
    )
    grouped = (
        ok.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = (
        grouped.select(
            F.explode(in_row_pairs("ids", "doc_a", "doc_b")).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    pairs.sig_release = release
    census.sig_release = release
    return pairs, census


def near_dedup_keepers(
    docs: DataFrame, max_bucket_size: int = MAX_BUCKET_DEFAULT
) -> tuple[DataFrame, DataFrame]:
    """PRODUCTION near-dedup: MinHash -> capped LSH pairs -> connected
    components -> per-doc keeper assignment.  The degenerate-bucket cap is
    DEFAULT-ON here (the oracle-gated queries stay exact and uncapped);
    over-cap buckets are returned as the census and logged when non-empty.

    Returns ``(keepers, census)``: ``keepers`` is
    ``(doc_id, component_id, component_size)`` restricted to component
    keepers (``doc_id == component_id``), i.e. the surviving corpus ids.
    ``keepers.ckpt_release`` frees the component-label checkpoint blocks
    once the caller has materialized keepers (service loops MUST call it —
    a checkpoint is invisible to both df.unpersist and the ContextCleaner,
    see functions/caching.py).
    """
    import logging

    pairs, census = lsh_candidate_pairs_capped(
        minhash_signature(docs), max_bucket_size
    )
    # Materialize the (tiny: one row per over-cap bucket) census as a
    # local relation so the returned frame survives the signature-cache
    # release below without recomputing MinHash — collect+recreate rather
    # than localCheckpoint, which would strand its blocks for the session
    # (df.unpersist is a no-op on checkpoints; see functions/caching.py)
    census = local_frame(census.sparkSession, census.collect(), census.schema)
    dropped = census.count()
    if dropped:
        logging.getLogger(__name__).warning(
            "near_dedup_keepers: %d LSH bucket(s) over cap %d sidelined "
            "(census frame carries band_id/band_key/bucket_size)",
            dropped,
            max_bucket_size,
        )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(edges)
    comp = labels.withColumnRenamed("id", "doc_id")
    # connected_components returns an eager localCheckpoint, so nothing
    # downstream re-reads the signature frame — free its cache entry now
    # instead of leaking one per call in a long-lived session (ADVICE r6).
    pairs.sig_release.release()
    assigned = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("comp", "doc_id").alias("component_id")
    )
    # keepers ARE the size aggregation: component_id is the min member id,
    # which is itself a member, so every component (incl. singletons)
    # surfaces exactly one group row (keeper_doc_id == component_id). The
    # r11 fusion drops the filter + join-back — one corpus scan and one
    # shuffle instead of two of each, same rows by construction.
    keepers = assigned.groupBy("component_id").agg(
        F.count("*").alias("component_size")
    ).select(
        F.col("component_id").alias("doc_id"),
        "component_id",
        "component_size",
    )
    # keepers reads the component labels through connected_components'
    # returned localCheckpoint; the caller releases those blocks once
    # keepers is materialized — keepers.ckpt_release.release(). No GC
    # backstop: a checkpoint has no lineage to recompute from, so an
    # automatic release would break late readers outright (caching.py).
    keepers.ckpt_release = CheckpointRelease(labels)
    return keepers, census


def _dd_shingle_cte() -> str:
    return f"""toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, unnest({dd_word_ngrams("tok", SHINGLE_N)}) AS s FROM toks
),
hashes AS (
  SELECT doc_id, {dd_stable_hash("s")} AS h FROM shingles
)"""


def _dd_minhash_sql() -> str:
    mins = ",\n         ".join(
        f"min((h * {a} + {b}) % {HASH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, concat_ws('_', "
        + ", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ") AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    return f"""WITH {_dd_shingle_cte()},
sig AS (
  SELECT doc_id,
         {mins}
    FROM hashes GROUP BY doc_id
),
buckets AS (
{bands}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
"""


@register(
    "q_dedup_minhash",
    oracle=_dd_minhash_sql(),
    doc="MinHash(16 perms)+LSH(4 bands x 4): candidate near-dup pairs from "
    "band-bucket self-join over word-3-gram shingles",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return lsh_candidate_pairs(minhash_signature(docs))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 28-bit SimHash over distinct word unigrams.

    r12 (guide §4.2): one vectorized Arrow kernel
    (:func:`functions.shingle_kernel.simhash_arrow`) — the per-doc distinct
    token set, unigram hashes and the 28 per-bit majority votes are
    row-local by construction, so the explode + 28-conditional-sum groupBy
    (one full exchange of the token-hash stream's partials) is gone
    entirely. Values identical to the JVM aggregation (pure-Python replica
    test + every consumer's oracle)."""
    return simhash_arrow(docs, SIMHASH_BITS)


def _dd_simhash_sql() -> str:
    votes = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""WITH toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok FROM documents
),
words AS (
  SELECT DISTINCT doc_id, unnest(tok) AS w FROM toks
),
hashes AS (
  SELECT doc_id, {dd_stable_hash("w")} AS h FROM words
)
SELECT doc_id, CAST({votes} AS BIGINT) AS simhash
  FROM hashes GROUP BY doc_id
"""


@register(
    "q_dedup_simhash",
    oracle=_dd_simhash_sql(),
    doc="SimHash: 28-bit per-doc fingerprint via per-bit majority vote over "
    "word-unigram hashes; near-dups share fingerprints within small Hamming "
    "distance",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(load_table(spark, sf_dir, "documents", fan_out=True))


# --------------------------------------------------------------------------
# n-gram Jaccard
# --------------------------------------------------------------------------
def _hashed_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, source, s, h): distinct shingles with their stable hash —
    the shared input of the content-blocked pair family below.

    Distinctness is PER DOCUMENT (source is functionally dependent on
    doc_id), so it's computed map-side with array_distinct before the
    explode instead of a row-level ``.distinct()`` — the row form
    shuffled the full (doc_id, source, shingle) stream (260k string rows
    at sf0.1, corpus-sized at 100 TB) for a dedup that never crosses a
    document boundary (VERDICT r9 task 4).

    r12 note: an Arrow-kernel producer
    (functions/shingle_kernel.hashed_shingles_arrow) was measured and
    REVERTED for the string-exploding consumers: emitting the shingle
    STRING stream from Python costs ~0.47 s/pass vs 0.25 s for this JVM
    chain at sf0.1 (the Python worker round-trip floor dominates when the
    output is corpus-sized strings rather than 17-int signature rows).
    The kernel stays for the signature/fingerprint shapes, where it also
    deletes the aggregation exchange."""
    return (
        docs.select("doc_id", "source", tokens(F.col("text")).alias("tok"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(word_ngrams("tok", SHINGLE_N))
            ).alias("s"),
        )
        .withColumn("h", stable_hash(F.col("s")))
    )


def _distinct_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, s): per-doc-distinct shingle strings — the verify-stage
    input of q_minhash_verified / q_minhash_estimate / q_pair_features
    (they join on the STRING, not the hash, so a 28-bit collision can
    never inflate an intersection). Same JVM-chain-beats-Arrow measurement
    as :func:`_hashed_shingles`."""
    return docs.select("doc_id", tokens(F.col("text")).alias("tok")).select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams("tok", SHINGLE_N))
        ).alias("s"),
    )


def _pair_intersections(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, i): exact shingle-intersection size for each candidate
    pair — two hash joins (doc_a, then doc_b+shingle), one count agg."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), "s")
    sb = sh.select(F.col("doc_id").alias("doc_b_r"), F.col("s").alias("s_b"))
    return (
        cand.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("doc_b_r"))
            & (F.col("s") == F.col("s_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )


_DD_MINSH_CTE = """minsh AS (
  SELECT doc_id, min(h) AS mh FROM hashes GROUP BY doc_id
),
meta AS (
  SELECT doc_id, source FROM documents
),
sizes AS (
  SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
)"""


NGRAM_MAX_BLOCK = 32  # blocks (min-hash x source) larger than this are boilerplate


def ngram_jaccard_block_census(
    minsh: DataFrame, max_block: int = NGRAM_MAX_BLOCK
) -> DataFrame:
    """(mh, source, block_size) for every over-cap min-hash block — the
    blocks :func:`q_ngram_jaccard` sidelines instead of exploding
    quadratically. Same visibility contract as
    :func:`lsh_candidate_pairs_capped`'s census: a production caller logs
    or persists this so capped volume is never silent. Sizes come from a
    map-side-combined COUNT; no member list ever materializes."""
    return (
        minsh.groupBy("mh", "source")
        .agg(F.count("*").alias("block_size"))
        .where(F.col("block_size") > max_block)
    )


@register(
    "q_ngram_jaccard",
    oracle=f"""WITH {_dd_shingle_cte()},
{_DD_MINSH_CTE},
msrc AS (
  SELECT a.doc_id, a.mh, ma.source
    FROM minsh a JOIN meta ma ON ma.doc_id = a.doc_id
),
hot AS (
  SELECT mh, source FROM msrc
   GROUP BY mh, source HAVING count(*) > {NGRAM_MAX_BLOCK}
),
ok AS (
  SELECT m.* FROM msrc m ANTI JOIN hot h
    ON h.mh = m.mh AND h.source = m.source
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ok a
    JOIN ok b ON b.mh = a.mh AND b.source = a.source
            AND b.doc_id > a.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
    FROM cand c
    JOIN shingles a ON a.doc_id = c.doc_a
    JOIN shingles b ON b.doc_id = c.doc_b AND b.s = a.s
   GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
""",
    doc="n-gram Jaccard: exact 3-gram-shingle Jaccard for content-blocked "
    "pairs — the blocking key is each doc's MINIMUM shingle hash "
    "(1-permutation MinHash: two docs share the block with probability "
    "equal to their Jaccard, so high-J pairs are found and the key never "
    "depends on id adjacency). Candidate generation is a hash self-join "
    "on (min-hash, source), with blocks larger than "
    f"{NGRAM_MAX_BLOCK} docs dropped FIRST (the q_winnow_pairs df-cap "
    "discipline: a hot min-hash block is boilerplate content whose pair "
    "volume grows quadratically with corpus duplication — measured 8x "
    "wall for 10x data before the cap; with it, pair volume is bounded "
    "by cap * |blocks|, linear in the corpus). Both engines apply the "
    "same HAVING rule so the oracle holds at every SF; "
    ":func:`ngram_jaccard_block_census` surfaces what was dropped. The "
    "exact intersection then flows through two equi-joins and one count "
    "agg — no pair survives without shared content.",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # the shingle frame feeds FOUR consumers (sizes, minsh, and both sides
    # of the intersection join) and the tokenize+ngram+distinct+hash chain
    # is the query's dominant compute — persist it once instead of
    # replaying it per consumer (spills to disk at scale; recompute is the
    # strictly worse alternative). Same for the one-row-per-doc minsh,
    # which the census, the anti-join, and both self-join sides read.
    sh = _hashed_shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    release = _CacheRelease(sh)
    # ONE (doc_id, source)-keyed aggregation serves both per-doc facts the
    # query needs — the min shingle hash (blocking key) and the shingle
    # count (Jaccard denominator). The previous separate groupBy("doc_id")
    # for sizes re-shuffled the full shingle stream a second time for a
    # frame this one already produces (VERDICT r9 task 4).
    minsh = (
        sh.groupBy("doc_id", "source")
        .agg(F.min("h").alias("mh"), F.count("*").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    release_minsh = _CacheRelease(minsh)
    sizes = minsh.select("doc_id", "n")
    ok = minsh.join(
        F.broadcast(ngram_jaccard_block_census(minsh).select("mh", "source")),
        ["mh", "source"],
        "left_anti",
    )
    a, b = ok.alias("a"), ok.alias("b")
    cand = a.join(
        b,
        (F.col("b.mh") == F.col("a.mh"))
        & (F.col("b.doc_id") > F.col("a.doc_id"))
        & (F.col("b.source") == F.col("a.source")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    inter = _pair_intersections(cand, sh)
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").alias("sa"), "doc_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("n", "nb")
            .alias("sb"),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("i").cast("double")
                / (F.col("n") + F.col("nb") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
    )
    out.sig_release = release
    out.minsh_release = release_minsh
    return out


# --------------------------------------------------------------------------
# embedding cosine near-dup (label x growing sub-cell blocking)
# --------------------------------------------------------------------------
EMB_DUP_MIN_ANCHORS = 4  # floor on per-label sub-cell count for tiny labels
_EMB_ANCHOR_SHARDS = 64  # stage-1 fan-out for the exact per-label top-k


# the (label, nearest-anchor sub-cell) assignment CTE — shared between the
# q_dedup_embedding oracle and the q_embedding_cell_census visibility
# oracle so the census describes EXACTLY the blocking the dedup applies
_EMB_ASSIGNED_CTE = f"""e AS (
  SELECT vec_id, label, embedding FROM embeddings
),
nk AS (
  SELECT label,
         GREATEST({EMB_DUP_MIN_ANCHORS},
                  CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
    FROM e GROUP BY label
),
anch AS (
  SELECT label, vec_id AS cell, embedding FROM (
    SELECT e.vec_id, e.label, e.embedding, nk.k,
           row_number() OVER (PARTITION BY e.label ORDER BY e.vec_id) AS rn
      FROM e JOIN nk USING (label)) WHERE rn <= k
),
assigned AS (
  SELECT vec_id, label, embedding, cell FROM (
    SELECT e.vec_id, e.label, e.embedding, a.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({dd_cosine_similarity("e.embedding", "a.embedding")}, 6) DESC,
                      a.cell ASC) AS rn
      FROM e JOIN anch a ON a.label = e.label) WHERE rn = 1
)"""


@register(
    "q_dedup_embedding",
    oracle=f"""WITH {_EMB_ASSIGNED_CTE}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({dd_cosine_similarity("a.embedding", "b.embedding")}, 6) AS cos_sim
  FROM assigned a
  JOIN assigned b
    ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
 WHERE round({dd_cosine_similarity("a.embedding", "b.embedding")}, 6) >= {COSINE_DUP_THRESHOLD}
""",
    doc="embedding near-dup: label x SUB-CELL blocking join + cosine >= "
    f"{COSINE_DUP_THRESHOLD}. Labels alone are a FIXED blocking key, so "
    "per-block pair cost grows quadratically with the corpus (measured "
    "64x wall for 10x data at sf1); each label is therefore split into "
    "k_label = max(4, ceil(sqrt(n_label))) sub-cells via the q_semdedup "
    "growing-anchor recipe — anchors are the label's k smallest vec_ids, "
    "every vector joins its nearest anchor (rounded cosine, ties to the "
    "smallest cell), and pairs are scored only within (label, cell). "
    "Both engines derive k from the same per-label count, so the oracle "
    "holds exactly at every SF while expected pair volume drops from "
    "sum n_l^2 to ~ sum n_l^1.5. Anchor selection is an exact two-stage "
    "top-k on a NARROW (vec_id,label) projection (per-shard partial "
    "top-k, then a <= shards*k-row per-label merge) — no full-width sort, "
    "no skewed single-label window over embedding payloads; anchor "
    "embeddings and per-label centroid arrays stay sqrt(n)-bounded and "
    "broadcast, so the corpus itself shuffles once, on (label, cell).",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned, release = _embedding_assignment(spark, sf_dir)
    a = assigned.alias("a")
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("cell").alias("b_cell"),
        F.col("embedding").alias("b_emb"),
    )
    if table_row_count(spark, sf_dir, "embeddings") <= EMB_SMALL_CORPUS_GATE:
        # gate-bounded side fits a broadcast: drops both (label, cell)
        # exchanges + sorts from the self-join (checkpointed RDDs carry no
        # stats, so Catalyst would otherwise plan SMJ and only AQE could
        # recover it mid-query)
        b = F.broadcast(b)
    cos = F.round(cosine_similarity(F.col("a.embedding"), F.col("b_emb")), 6)
    out = (
        a.join(
            b,
            (F.col("b_label") == F.col("a.label"))
            & (F.col("b_cell") == F.col("a.cell"))
            & (F.col("b_id") > F.col("a.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
    )
    # the self-join reads `assigned` twice — without the persist both sides
    # recompute the scan + 45-cosine assignment (measured 12s -> ~6s at
    # sf1); the caller releases the cache via the shared handle, a GC
    # finalizer backstops forgotten ones (same contract as
    # lsh_candidate_pairs_capped)
    out.sig_release = release
    return out


# Below this many vectors the assignment takes a single-plan shortcut:
# skip the sharded stage-1 top-k window, the lineage-truncating collect,
# and the persist — at toy scale each extra Spark job costs more than the
# recompute it saves (measured 2.2 s -> ~1.0 s at sf0.1's 2k vectors),
# while above it the sharded windows + persist keep sf1's 6 s -> 12 s
# recompute win. Both paths produce byte-identical assignments (the
# f91d8c8 gate pattern; parity pinned by tests/test_round10.py).
EMB_SMALL_CORPUS_GATE = 10_000


def _embedding_assignment(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, "_CacheRelease | CheckpointRelease"]:
    """The (label, nearest-anchor sub-cell) assignment behind
    q_dedup_embedding — persisted, with its release handle. Shared with
    q_embedding_cell_census so the census describes the exact blocking the
    dedup applies.

    Release contract (ADVICE r10): the handle's strength depends on the
    path. The big path returns a :class:`_CacheRelease` (persist-backed:
    GC-finalizer backstop, an early release merely recomputes). The small
    path returns a :class:`CheckpointRelease` (checkpoint-backed: NO GC
    backstop, and an early release breaks every frame derived from the
    assignment outright — there is no lineage to recompute from). Callers
    must therefore release only AFTER the last consumer of the returned
    frame (or anything built on it) has materialized; both registered
    consumers (q_dedup_embedding, q_embedding_cell_census) surface the
    handle as ``out.sig_release`` under exactly that contract."""
    # cheap gate between the two oracle-identical plans — parquet footer
    # metadata on the driver, zero Spark jobs
    small = (
        table_row_count(spark, sf_dir, "embeddings")
        <= EMB_SMALL_CORPUS_GATE
    )
    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", "embedding"
    )
    # per-label anchor budget k = max(floor, ceil(sqrt(n_label))) — the
    # label-bounded counts relation broadcasts
    counts = e.groupBy("label").agg(
        F.greatest(
            F.lit(EMB_DUP_MIN_ANCHORS),
            F.ceil(F.sqrt(F.count("*"))).cast("int"),
        ).alias("k")
    )
    # exact per-label k-smallest vec_ids WITHOUT a per-label global sort:
    # stage 1 keeps each (label, vec_id % shards) shard's k smallest (the
    # true top-k is a subset of the union), stage 2 merges <= shards*k
    # narrow rows per label — both windows run over (vec_id, label, k)
    # only. The small path runs stage 2 alone: one window over a frame
    # already below the gate.
    narrow = e.select("vec_id", "label").join(F.broadcast(counts), "label")
    if not small:
        w1 = Window.partitionBy(
            "label", F.pmod(F.col("vec_id"), F.lit(_EMB_ANCHOR_SHARDS))
        ).orderBy("vec_id")
        narrow = narrow.withColumn("rn", F.row_number().over(w1)).where(
            F.col("rn") <= F.col("k")
        ).drop("rn")
    w2 = Window.partitionBy("label").orderBy("vec_id")
    anchor_ids = (
        narrow.withColumn("rn2", F.row_number().over(w2))
        .where(F.col("rn2") <= F.col("k"))
        .select("label", F.col("vec_id").alias("cell"))
    )
    # fetch anchor embeddings (sqrt(n)-bounded id list broadcasts) and
    # fold them into one per-label sorted centroid array
    cents = (
        e.join(
            F.broadcast(
                anchor_ids.select(F.col("cell").alias("vec_id"), "label")
            ),
            ["vec_id", "label"],
        )
        .groupBy("label")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("cell"),
                        F.col("embedding").alias("centroid"),
                    )
                )
            ).alias("cents")
        )
    )
    # collecting the label-bounded result and re-creating it as a local
    # relation truncates the counts->windows->join lineage so downstream
    # consumers don't recompute anchor selection — the payload is exactly
    # what the broadcast ships anyway (sqrt(n_label) structs per label),
    # and unlike a localCheckpoint it leaves nothing persisted behind.
    # Below the gate the collect's extra job costs more than the in-plan
    # recompute it avoids, so the small path keeps cents lazy.
    if not small:
        cents = local_frame(spark, cents.collect(), cents.schema)
    # nearest-anchor assignment: a shuffle-free fold over the broadcast
    # per-label centroid array — max of struct(rounded cos, -cell) is the
    # oracle's (cos DESC, cell ASC) ranking in one narrow projection
    from pyspark import StorageLevel

    from prefect_flow_arc_indexer_spark.operators.similarity import (
        _argmax_cell,
        _with_emb_norm,
    )

    assigned = (
        _with_emb_norm(e)
        .join(F.broadcast(cents), "label")
        .select(
            "vec_id",
            "label",
            "embedding",
            _argmax_cell(F.col("cents")).alias("cell"),
        )
    )
    if small:
        # lazy localCheckpoint: the first action materializes the
        # assignment once and truncates lineage, the self-join's second
        # side reads the stored copy — one consumer job instead of the
        # big path's collect + persist jobs. Checkpoint blocks are NOT
        # ContextCleaner-reclaimable from PySpark (functions/caching.py),
        # so the caller-release contract is the checkpoint handle.
        ckpt = assigned.localCheckpoint(eager=False)
        return ckpt, CheckpointRelease(ckpt)
    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    release = _CacheRelease(assigned)
    return assigned, release


@register(
    "q_embedding_cell_census",
    oracle=f"""WITH {_EMB_ASSIGNED_CTE},
cells AS (
  SELECT label, cell, count(*) AS c FROM assigned GROUP BY label, cell
)
SELECT label,
       CAST(sum(c) AS BIGINT) AS n_vecs,
       count(*) AS n_cells,
       CAST(max(c) AS BIGINT) AS max_cell,
       CASE WHEN sum(c) > 1 THEN
         round(CAST(sum(c * (c - 1) / 2) AS DOUBLE)
               / (CAST(sum(c) AS DOUBLE) * (sum(c) - 1) / 2), 6)
       END AS scored_pair_frac
  FROM cells GROUP BY label
""",
    doc="visibility companion to q_dedup_embedding's sub-cell blocking "
    "(the q_ngram_jaccard census discipline, ADVICE r8): per label, the "
    "cell-size distribution plus scored_pair_frac = the fraction of all "
    "in-label pairs the blocked join actually scores (sum_c C(c,2) / "
    "C(n,2)). 1 - scored_pair_frac bounds the silent recall loss from "
    "cross-cell near-duplicates — the SemDeDup-style trade the blocking "
    "makes; this frame makes it observable per label instead of silent. "
    "Cost: one hash agg on the assignment relation the dedup builds "
    "anyway.",
)
def q_embedding_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned, release = _embedding_assignment(spark, sf_dir)
    n = F.sum("c").cast("double")
    out = (
        assigned.groupBy("label", "cell")
        .agg(F.count("*").alias("c"))
        .groupBy("label")
        .agg(
            F.sum("c").cast("bigint").alias("n_vecs"),
            F.count("*").alias("n_cells"),
            F.max("c").cast("bigint").alias("max_cell"),
            F.when(
                F.sum("c") > 1,
                F.round(
                    F.sum(
                        (F.col("c") * (F.col("c") - 1) / 2).cast("bigint")
                    ).cast("double")
                    / (n * (F.sum("c") - 1) / 2),
                    6,
                ),
            ).alias("scored_pair_frac"),
        )
    )
    out.sig_release = release
    return out


# --------------------------------------------------------------------------
# end-to-end near-dup pipeline: LSH candidates -> exact-Jaccard verify
# --------------------------------------------------------------------------
MINHASH_VERIFY_THRESHOLD = 0.5


@register(
    "q_minhash_verified",
    oracle=f"""WITH {_dd_shingle_cte()},
sig AS (
  SELECT doc_id,
         {",".join(f"min((h * {a} + {b}) % {HASH_PRIME}) AS m{i}" for i, (a, b) in enumerate(MINHASH_COEFFS))}
    FROM hashes GROUP BY doc_id
),
buckets AS (
{chr(10).join("  SELECT doc_id, " + str(b) + " AS band_id, concat_ws('_', " + ", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)) + ") AS band_key FROM sig" + ("" if b == N_BANDS - 1 else chr(10) + "  UNION ALL") for b in range(N_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
sizes AS (
  SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
    FROM cand c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
   GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.i AS DOUBLE) / (za.n + zb.n - i.i), 6) AS jaccard
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
 WHERE round(CAST(i.i AS DOUBLE) / (za.n + zb.n - i.i), 6) >= {MINHASH_VERIFY_THRESHOLD}
""",
    doc="end-to-end near-dup pipeline: MinHash+LSH candidate generation "
    "followed by exact-Jaccard verification of ONLY the candidates (the "
    "production two-phase shape: cheap recall stage, exact precision stage "
    "over a tiny pair set) — pairs at jaccard >= 0.5",
)
def q_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    cand = lsh_candidate_pairs(minhash_signature(docs))
    # The verification stage joins on the shingle STRING, exactly like the
    # oracle (sb.s = sa.s): a 28-bit stable_hash collision between two
    # different shingles would inflate the intersection count and could flip
    # the jaccard >= 0.5 verdict at corpus scale (ADVICE r1, low). Strings
    # shuffle a few more bytes than ints, but the join is restricted to the
    # tiny LSH candidate set, so recall-stage cost is unchanged. (A
    # single-distinct-relation formulation feeding both the signature and
    # the verify stage was measured SLOWER here: the signature's
    # distinct=False path partial-aggregates map-side and never shuffles
    # shingle strings, which beats sharing the distinct's exchange.)
    sh = _distinct_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    shb = sh.select(F.col("doc_id").alias("_db"), F.col("s").alias("sb"))
    inter = (
        cand.join(sha, "doc_a")
        .join(
            shb,
            (F.col("doc_b") == F.col("_db")) & (F.col("sb") == F.col("sa")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD)
    )


# --------------------------------------------------------------------------
# connected components over the near-dup graph -> dedup clusters
# --------------------------------------------------------------------------
CC_MAX_ITERS = 20
# r11 measurement: the fuzzy-match graph (q_golden_record) has name chains
# that need 7 plain-propagation rounds; jumping from round 2 converges it in
# 5 (3.29 -> 2.83 s standalone CC at sf0.1) while clique-ish LSH graphs that
# already converge by round 2-3 pay at most one jump round of overhead
# (q_dedup_components measured flat). Labels are jump-schedule-invariant, so
# every consumer's oracle hash is unchanged by construction.
CC_JUMP_AFTER = 2

# r11: below this many (undirected) edges the label loop is pure fixed
# overhead — 3-5 rounds x (join + agg + checkpoint + convergence action) to
# propagate labels a driver-side union-find computes in seconds from the
# SAME edge rows a broadcast-sized collect can hold. This is plan selection
# by data size, not caching: every run still scans/builds the edge set from
# the inputs, and both plans produce the identical min-label component ids.
# At 100 TB a real near-dup graph blows past the gate and the distributed
# O(log diameter) loop below runs unchanged (the gate is data-derived —
# same discipline as FUZZY_VARIANT_GATE and PAGERANK_BCAST_MAX).
#
# Gate size: 5M edges x 16 B ≈ 80 MB Arrow-collected — the scale of an
# ordinary broadcast relation (guide §3.1: "a few hundred MB is usually
# fine"), far under spark.driver.maxResultSize. Raised from 1M when the
# collect switched to the Arrow path (sf1 fuzzy graph measurement: 3.9M
# edges Arrow-collect 1.2 s + union-find 3.4 s, vs 18.9 s for the
# distributed loop on the same graph — the 1M gate was sized to the
# pickled-Row collect's cost, not the data's). Env-overridable for
# clusters with tighter drivers.
CC_DRIVER_MAX_EDGES = 5_000_000


def _driver_union_find(
    srcs: list, dsts: list, id_type
) -> tuple[list[tuple], str]:
    """Min-label union-find over collected src/dst value lists; returns
    the (id, comp) rows sorted by id plus a ddl schema for them. comp is
    the component's min node id — identical, by construction, to the
    distributed loop's fixpoint labels."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(srcs, dsts):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    rows = sorted((node, find(node)) for node in parent)
    return rows, f"id {id_type}, comp {id_type}"


def connected_components(
    edges: DataFrame,
    max_iters: int = CC_MAX_ITERS,
    jump_after: int = CC_JUMP_AFTER,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """(id, comp) for every node incident to an edge; comp = min node id in
    the node's connected component.

    Size-adaptive plan (r11): when the materialized edge set fits the
    broadcast-sized ``driver_max_edges`` gate (env
    ``SPARK_GRAFT_CC_DRIVER_MAX_EDGES``), labels come from one driver-side
    union-find over the collected edges — identical labels, none of the
    loop's per-round shuffles/actions. Past the gate (any real corpus at
    scale) the distributed loop below runs unchanged; ``driver_max_edges=0``
    forces it (tests pin loop behavior that way).

    Adaptive MapReduce CC: each round every node takes the min label over
    itself and its neighbors (one union + hash-agg on the cached edge
    partitioning); from round ``jump_after`` onward the round ALSO jumps
    through its label's own label (the large-star/small-star contraction),
    halving chain depth so late rounds are O(log diameter). Why adaptive:
    real near-dup graphs are unions of small cliques-ish clusters (diameter
    1-3), where plain propagation converges in 2-3 rounds and the jump's
    extra self-join per round is pure overhead — measured 3.1s vs 7.6s at
    sf0.1 with identical labels. A pathological chain still converges: at
    most ``jump_after`` linear rounds, then doubling, so ``max_iters``
    rounds cover diameter ~ jump_after * 2^(max_iters - jump_after).

    State per round is one (node, comp) row per *edge-incident* node
    (singleton docs never enter the loop — at a healthy dedup threshold
    that keeps the frontier a small fraction of the corpus). Convergence is
    detected with a 1-scalar action per round: sum(comp) is strictly
    decreasing until the fixpoint, so no change-count join is needed. The
    converged labels are localCheckpoint'ed so the returned plan is shallow
    instead of replaying the whole loop lineage.
    """
    # The edge list is the loop's big invariant side: hash-partition it on
    # the join key ONCE and persist that layout. Every round's
    # neighbor-propagation join then reuses the cached partitioning (the
    # InMemoryRelation keeps its outputPartitioning, so no exchange lands on
    # the edge side) — at scale this is the difference between shuffling the
    # whole edge set every round and shuffling only the (node, comp) labels.
    if driver_max_edges is None:
        import os

        driver_max_edges = int(
            os.environ.get(
                "SPARK_GRAFT_CC_DRIVER_MAX_EDGES", str(CC_DRIVER_MAX_EDGES)
            )
        )
    # Materialize the (often expensive: LSH / fuzzy-match) edge lineage
    # exactly once, BEFORE the undirected expansion: the gate count reads
    # it, the driver path collects it as-is (half the rows of the
    # undirected form, no repartition shuffle), and the distributed path
    # builds `both` from the cache instead of re-running the lineage.
    directed = edges.select("src", "dst").persist()
    n_edges = directed.count()
    if n_edges <= driver_max_edges:
        spark = edges.sparkSession
        try:
            # Arrow transfer (guide §6): measured 1.2 s for 3.9M edges vs
            # 10.3 s for the pickled-Row collect() — the transfer, not the
            # union-find, was the driver path's cost at the gate boundary.
            pdf = directed.toPandas()
            rows, ddl = _driver_union_find(
                pdf["src"].tolist(),
                pdf["dst"].tolist(),
                edges.schema["src"].dataType.simpleString(),
            )
        finally:
            directed.unpersist()
        # A local relation, like the loop's returned checkpoint, is fully
        # materialized (no lineage back into the edge inputs), so callers'
        # release discipline is unchanged: release_local_checkpoint /
        # CheckpointRelease no-op safely on it (caching.py checks the
        # storage level), and upstream caches can be freed immediately.
        return local_frame(spark, rows, ddl)
    both = (
        directed.union(
            directed.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .repartition(F.col("src"))
        .persist()
    )
    labels = (
        both.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .persist()
    )
    prev_total = None
    converged = False
    returned = False
    try:
        for it in range(max_iters):
            # min over {self} ∪ {neighbors} in ONE aggregation: union the
            # current labels with the propagated neighbor labels and take
            # the per-node min — no separate left join against nbr_min.
            stepped = (
                labels.union(
                    both.join(labels.withColumnRenamed("id", "src"), "src")
                    .select(F.col("dst").alias("id"), "comp")
                )
                .groupBy("id")
                .agg(F.min("comp").alias("comp"))
            )
            if it >= jump_after:
                ptr = stepped.select(
                    F.col("id").alias("comp"), F.col("comp").alias("jcomp")
                )
                stepped = stepped.join(ptr, "comp", "left").select(
                    "id",
                    F.least("comp", F.coalesce("jcomp", "comp")).alias("comp"),
                )
            # localCheckpoint, not persist: each round references `labels`
            # TWICE (self ∪ neighbor propagation), so an un-truncated
            # lineage DOUBLES per round — by round ~10 the logical plan is
            # 2^10 nodes and the driver OOMs in plan processing before any
            # data moves. Checkpointing materializes the same rows a cache
            # would (the convergence action runs regardless) and resets the
            # plan to a flat scan. (Caught by the chain-graph test, not the
            # LSH corpora — shallow graphs never reached the deep rounds.)
            new_labels = stepped.localCheckpoint(eager=True)
            total = new_labels.agg(F.sum("comp")).collect()[0][0]
            # round 0's labels is a persist() (unpersist works); every
            # later round's is a localCheckpoint, for which unpersist() is
            # a silent NO-OP — release_frame handles both, so the loop no
            # longer strands one checkpoint's blocks per round for the
            # session's lifetime (see functions/caching.py)
            release_frame(labels)
            labels = new_labels
            if total == prev_total:
                converged = True
                break
            prev_total = total
        if not converged:
            # A silent exit here would return partially-propagated labels on
            # a high-diameter graph — wrong clusters with no signal (ADVICE
            # r1, low). Jumped rounds double reach, so the default covers
            # diameter ~ jump_after * 2^(max_iters - jump_after); anything
            # beyond that is an input anomaly the caller must hear about.
            raise RuntimeError(
                f"connected_components did not converge within {max_iters} "
                "iterations (sum(comp) still decreasing); raise max_iters — "
                "post-warmup rounds are O(log diameter), so this graph's "
                f"diameter exceeds ~{jump_after} * 2^{max_iters - jump_after}"
            )
        # labels already IS the final round's eager localCheckpoint — a
        # second checkpoint here would strand another full copy of the
        # label set in block storage per call. The caller owns the
        # returned checkpoint (release_local_checkpoint when done).
        returned = True
        return labels
    finally:
        both.unpersist()
        directed.unpersist()
        if not returned:  # error exit: don't strand the working labels
            release_frame(labels)


def component_label_sizes(docs: DataFrame) -> DataFrame:
    """(doc_id, comp, sz) for every edge-incident doc of the MinHash-LSH
    near-dup graph — the label table q_dedup_components and its composers
    (q_neardup_apply, q_dup_quality) share. Component sizes are derivable
    from the label table ALONE (r11, guide §2.4 shuffle fewer bytes):
    every doc absent from it is a singleton (size 1), and a labeled doc's
    component consists only of labeled docs (labels cover exactly the
    docs incident to an edge), so the size groupBy runs over the small
    label table and the corpus sees one broadcast-friendly left join."""
    edges = lsh_candidate_pairs(minhash_signature(docs)).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(edges).withColumnRenamed("id", "doc_id")
    sizes = comp.groupBy("comp").agg(F.count("*").alias("sz"))
    return comp.join(sizes, "comp")



@register(
    "q_dedup_components",
    oracle=f"""WITH RECURSIVE {_dd_shingle_cte()},
sig AS (
  SELECT doc_id,
         {",".join(f"min((h * {a} + {b}) % {HASH_PRIME}) AS m{i}" for i, (a, b) in enumerate(MINHASH_COEFFS))}
    FROM hashes GROUP BY doc_id
),
buckets AS (
{chr(10).join("  SELECT doc_id, " + str(b) + " AS band_id, concat_ws('_', " + ", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)) + ") AS band_key FROM sig" + ("" if b == N_BANDS - 1 else chr(10) + "  UNION ALL") for b in range(N_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b, doc_a FROM cand
),
reach(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
comps AS (
  SELECT id AS doc_id, min(comp) AS component_id FROM reach GROUP BY id
)
SELECT doc_id, component_id,
       count(*) OVER (PARTITION BY component_id) AS component_size
  FROM comps
""",
    doc="dedup clustering: connected components over the MinHash+LSH "
    "candidate-pair graph (min-label propagation + pointer jumping, "
    "O(log diameter) rounds — the MapReduce CC algorithm), every doc "
    "assigned to a cluster keyed by its component's min doc_id; "
    "component_id is the keeper a transitive near-dup pipeline retains",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    labeled = component_label_sizes(docs)
    return docs.select("doc_id").join(labeled, "doc_id", "left").select(
        "doc_id",
        F.coalesce("comp", "doc_id").alias("component_id"),
        F.coalesce("sz", F.lit(1)).cast("bigint").alias("component_size"),
    )


def _register_neardup_capped():
    """Driver-gate exposure for the PRODUCTION capped near-dedup path
    (``near_dedup_keepers``, degenerate-bucket cap DEFAULT-ON): on an
    honest corpus no bucket approaches the cap (measured max bucket size
    3-4 at sf0.01/sf0.1 vs cap 1000), so the capped keeper set is exactly
    the uncapped one and the q_dedup_components keeper restriction is its
    exact oracle — proving the cap is surgical, not lossy, wherever LSH's
    contract (small buckets) holds. The binding-cap behavior is pinned
    separately by tests/test_lsh_cap.py on an all-identical-docs corpus."""
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    cc_sql = _REGISTRY["q_dedup_components"].oracle

    @register(
        "q_neardup_capped",
        oracle=f"""SELECT doc_id, component_id, component_size
  FROM ({cc_sql}) c
 WHERE c.doc_id = c.component_id
""",
        doc="production near-dedup keepers through the CAPPED LSH path "
        "(near_dedup_keepers, max_bucket_size=1000 default-on): keeper "
        "rows (doc_id == component_id) with cluster sizes. Identical to "
        "the uncapped clustering wherever buckets stay honest — the "
        "oracle asserts exactly that equivalence; the census is empty "
        "here and returned/logged in production when it is not.",
    )
    def q_neardup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        keepers, _census = near_dedup_keepers(docs)
        return keepers


_register_neardup_capped()


@register(
    "q_dedup_apply",
    oracle="""WITH keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
  FROM documents d JOIN keepers k ON k.doc_id = d.doc_id
""",
    doc="dedup applied: the corpus restricted to exact-dup keepers "
    "(min doc_id per content hash) — the materialized output a training "
    "pipeline feeds downstream; hash computed scan-side, one shuffle",
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    keepers = docs.groupBy(F.sha2("text", 256).alias("_sha")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    return docs.join(keepers, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


# --------------------------------------------------------------------------
# LSH quality metric: candidate recall against true-Jaccard pairs
# --------------------------------------------------------------------------
def _register_lsh_recall():
    """Registered via a closure embedding the two already-registered
    oracles, so the metric stays in lockstep with the operators it
    measures (same pattern as q_ivf_recall)."""
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    true_sql = _REGISTRY["q_ngram_jaccard"].oracle
    cand_sql = _REGISTRY["q_dedup_minhash"].oracle
    oracle = f"""WITH truth AS (SELECT * FROM ({true_sql})),
cand AS (SELECT * FROM ({cand_sql}))
SELECT count(*) AS n_true,
       (SELECT count(*) FROM cand) AS n_candidates,
       CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
       round(CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS recall
  FROM truth t
  LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
"""

    @register(
        "q_lsh_recall",
        oracle=oracle,
        doc="dedup quality metric: recall of the MinHash-LSH candidate set "
        "against the true above-threshold n-gram Jaccard pairs — the "
        "acceptance gate for LSH band/row tuning (more bands -> higher "
        "recall, more candidate pairs to verify); both sides are the "
        "registered operators themselves, joined on the ordered pair",
    )
    def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
        truth = q_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        cand = q_dedup_minhash(spark, sf_dir).select(
            F.col("doc_a").alias("c_a"), F.col("doc_b").alias("c_b")
        )
        n_cand = cand.agg(F.count("*").alias("n_candidates"))
        hit = F.sum(
            F.when(F.col("c_a").isNotNull(), 1).otherwise(0)
        ).cast("long")
        return (
            truth.join(
                cand,
                (F.col("doc_a") == F.col("c_a"))
                & (F.col("doc_b") == F.col("c_b")),
                "left",
            )
            .agg(
                F.count("*").alias("n_true"),
                hit.alias("n_hits"),
                F.round(hit.cast("double") / F.count("*"), 6).alias("recall"),
            )
            .join(F.broadcast(n_cand))
            .select("n_true", "n_candidates", "n_hits", "recall")
        )


_register_lsh_recall()


# --------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# --------------------------------------------------------------------------
def _register_dedup_incremental():
    """The daily-crawl production shape: dedup an incoming batch against the
    STANDING corpus (and within itself) without re-deduping the corpus.
    Membership comes from the engine-stable salted hash (a stand-in for the
    'already ingested' flag a real pipeline reads from its manifest)."""
    from prefect_flow_arc_indexer_spark.operators.sampling import _dd_bucket
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    CORPUS_SALT = "corpus:"
    EXISTING_PCT = 80
    cand_sql = _REGISTRY["q_dedup_minhash"].oracle
    oracle = f"""WITH cand AS (SELECT * FROM ({cand_sql})),
mem AS (
  SELECT doc_id, ({_dd_bucket(CORPUS_SALT)}) < {EXISTING_PCT} AS is_existing
    FROM documents
),
edges AS (
  SELECT c.doc_b AS new_id, c.doc_a AS partner
    FROM cand c JOIN mem mb ON mb.doc_id = c.doc_b
   WHERE NOT mb.is_existing
  UNION ALL
  SELECT c.doc_a, c.doc_b
    FROM cand c
    JOIN mem ma ON ma.doc_id = c.doc_a
    JOIN mem mb2 ON mb2.doc_id = c.doc_b
   WHERE NOT ma.is_existing AND mb2.is_existing
),
verdict AS (SELECT new_id, min(partner) AS dup_of FROM edges GROUP BY new_id)
SELECT m.doc_id,
       v.dup_of IS NOT NULL AS is_dup,
       v.dup_of
  FROM mem m LEFT JOIN verdict v ON v.new_id = m.doc_id
 WHERE NOT m.is_existing
"""

    @register(
        "q_dedup_incremental",
        oracle=oracle,
        doc="incremental dedup (the daily-crawl pattern): LSH-dedup an "
        "incoming batch against the standing corpus AND itself, without "
        "re-deduping the corpus — existing docs always win as keepers, "
        "within-batch ties keep the smallest id; candidate generation is "
        "the same banded equi-join as q_dedup_minhash, so at 100 TB the "
        "standing corpus contributes only its (precomputable, mergeable) "
        "band buckets, never a rescan of its text",
    )
    def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        from prefect_flow_arc_indexer_spark.operators.sampling import (
            split_bucket,
        )

        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        mem = docs.select(
            "doc_id",
            (split_bucket(F.col("doc_id"), CORPUS_SALT) < EXISTING_PCT).alias(
                "is_existing"
            ),
        )
        pairs = lsh_candidate_pairs(minhash_signature(docs))
        # r11 (guide §2.4): membership is a deterministic hash of the id
        # itself, so the pair sides get it as an inline expression — the
        # previous two joins against the corpus-sized membership frame
        # (two extra documents scans + exchanges) computed exactly this
        p = pairs.select(
            "doc_a",
            "doc_b",
            (split_bucket(F.col("doc_a"), CORPUS_SALT) < EXISTING_PCT).alias(
                "a_existing"
            ),
            (split_bucket(F.col("doc_b"), CORPUS_SALT) < EXISTING_PCT).alias(
                "b_existing"
            ),
        )
        edges = (
            p.where(~F.col("b_existing"))
            .select(F.col("doc_b").alias("new_id"), F.col("doc_a").alias("partner"))
            .unionByName(
                p.where(~F.col("a_existing") & F.col("b_existing")).select(
                    F.col("doc_a").alias("new_id"),
                    F.col("doc_b").alias("partner"),
                )
            )
        )
        verdict = edges.groupBy("new_id").agg(F.min("partner").alias("dup_of"))
        return (
            mem.where(~F.col("is_existing"))
            .join(verdict, F.col("doc_id") == F.col("new_id"), "left")
            .select(
                "doc_id",
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
            )
        )


_register_dedup_incremental()


# --------------------------------------------------------------------------
# SimHash banded near-dup pairs (Hamming-ball LSH over the fingerprint)
# --------------------------------------------------------------------------
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 7
SIMHASH_HAMMING_MAX = 3


def _dd_simhash_pairs_sql() -> str:
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash >> {b * SIMHASH_BAND_BITS}) & "
        f"{(1 << SIMHASH_BAND_BITS) - 1} AS band_val FROM fp"
        for b in range(SIMHASH_BANDS)
    )
    return f"""WITH fp AS ({_dd_simhash_sql()}),
buckets AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sha, b.simhash AS shb
    FROM buckets a JOIN buckets b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
  FROM cand
 WHERE bit_count(xor(sha, shb)) <= {SIMHASH_HAMMING_MAX}
"""


@register(
    "q_simhash_pairs",
    oracle=_dd_simhash_pairs_sql(),
    doc="SimHash Hamming-ball near-dup pairs: the 28-bit fingerprint is "
    "banded into 4 x 7-bit keys (pigeonhole: any pair within Hamming "
    "distance 3 of the full fingerprint agrees exactly on at least one "
    "band), candidates are generated bucket-locally from one shuffle on "
    "(band_id, band_val), and verification is a single bit_count(xor) "
    "per pair — no token re-scan in the precision stage, which is what "
    "distinguishes this family from MinHash verify at 100 TB: the "
    "fingerprint IS the verifier. Complements q_dedup_simhash (per-doc "
    "fingerprints) with the pair-emitting variant.",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # The fingerprint table is corpus-keyed but NARROW (doc_id + one long);
    # localCheckpoint materializes it once so the bucket self-join below
    # doesn't re-run the token pipeline per side. Pair generation is then a
    # STREAMING bucket-keyed self-join with the Hamming verifier applied as
    # a join predicate — on a corpus with degenerate fingerprints (tiny
    # shared vocab => many identical simhashes => buckets of hundreds) the
    # grouped array-combinatorics formulation materializes |bucket|^2 structs
    # in one row's memory and shuffles every candidate into the distinct
    # (measured 12.2s at sf0.1); the join form streams candidates through
    # the bit_count filter so only true near-dup pairs reach the distinct
    # exchange, and AQE skew-join splits any remaining hot bucket.
    #
    # The repartition before the checkpoint is PARALLELISM INSURANCE for
    # the pair join, not data movement that matters: AQE right-sizes the
    # fingerprint aggregation's exchange for its own tiny output (50k
    # narrow rows coalesce to ~4 partitions), but the checkpoint freezes
    # that count and the broadcast band join then enumerates ALL candidate
    # pairs across exactly those stream-side partitions — 4 tasks doing
    # 175.6M pairs of work at sf1 (measured 3.2x wall vs 16). The shuffle
    # moved is doc_id+int64 per row — negligible at every scale against
    # the pair enumeration it parallelizes.
    fp = (
        simhash_fingerprints(docs)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .localCheckpoint(eager=True)
    )
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright("simhash", b * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for b in range(SIMHASH_BANDS)
    ]
    buckets = fp.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "simhash", "bk.band_id", "bk.band_val")
    a = buckets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sha"),
        "band_id",
        "band_val",
    )
    b = buckets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("shb"),
        "band_id",
        "band_val",
    )
    hamming = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).cast("bigint")
    out = (
        a.join(b, ["band_id", "band_val"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (hamming <= SIMHASH_HAMMING_MAX)
        )
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
    )
    # caller-release contract for the fingerprint checkpoint (the
    # q_pagerank shape, ADVICE r10): release only after `out` has
    # materialized — checkpoint blocks have no lineage to recompute from.
    out.ckpt_release = CheckpointRelease(fp)
    return out


# --------------------------------------------------------------------------
# capped SimHash pairs — the bounded PRODUCTION twin of q_simhash_pairs
# (the q_neardup_capped discipline, VERDICT r9 task 2)
# --------------------------------------------------------------------------
SIMHASH_BUCKET_CAP = 128


def _dd_simhash_capped_cte() -> str:
    """Shared fp -> banded buckets -> deterministically capped buckets CTE
    for the capped-pairs oracle and its census oracle (same text => the
    census describes exactly the cap the pair query applies)."""
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash >> {b * SIMHASH_BAND_BITS}) & "
        f"{(1 << SIMHASH_BAND_BITS) - 1} AS band_val FROM fp"
        for b in range(SIMHASH_BANDS)
    )
    return f"""fp AS ({_dd_simhash_sql()}),
buckets AS (
{bands}
),
ranked AS (
  SELECT doc_id, simhash, band_id, band_val,
         row_number() OVER (PARTITION BY band_id, band_val
                            ORDER BY doc_id) AS rn
    FROM buckets
),
capped AS (
  SELECT doc_id, simhash, band_id, band_val FROM ranked
   WHERE rn <= {SIMHASH_BUCKET_CAP}
)"""


def _simhash_capped_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of :func:`_dd_simhash_capped_cte`: banded simhash buckets
    with each (band_id, band_val) bucket deterministically truncated to its
    ``SIMHASH_BUCKET_CAP`` smallest doc_ids. The row_number window shuffles
    on the SAME key the candidate self-join uses, so the cap adds no extra
    exchange — the join reuses the window's partitioning."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # repartition before the checkpoint: parallelism insurance for the
    # downstream candidate join (see q_simhash_pairs — AQE coalesces the
    # tiny fingerprint exchange and the checkpoint freezes that count as
    # the join's stream-side task parallelism)
    fp = (
        simhash_fingerprints(docs)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .localCheckpoint(eager=True)
    )
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright("simhash", b * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for b in range(SIMHASH_BANDS)
    ]
    buckets = fp.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "simhash", "bk.band_id", "bk.band_val")
    w = Window.partitionBy("band_id", "band_val").orderBy("doc_id")
    capped = (
        buckets.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SIMHASH_BUCKET_CAP)
        .drop("rn")
    )
    # caller-release contract for the fingerprint checkpoint (ADVICE r10):
    # q_simhash_capped propagates this to its output frame.
    capped.ckpt_release = CheckpointRelease(fp)
    return capped


@register(
    "q_simhash_capped",
    oracle=f"""WITH {_dd_simhash_capped_cte()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sha, b.simhash AS shb
    FROM capped a JOIN capped b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
  FROM cand
 WHERE bit_count(xor(sha, shb)) <= {SIMHASH_HAMMING_MAX}
""",
    doc="SimHash near-dup pairs through the CAPPED production path: each "
    f"(band_id, band_val) bucket keeps only its {SIMHASH_BUCKET_CAP} "
    "smallest doc_ids before the candidate self-join, bounding candidate "
    "volume at cap^2/2 * n_buckets instead of sum |bucket|^2 — the one "
    "remaining n^2-output contract in the dedup family (q_simhash_pairs: "
    "175.6M pairs at sf1, 11.2x wall for 10x data) bounded the same way "
    "q_neardup_capped bounds MinHash-LSH. The cap is deterministic "
    "(row_number by doc_id inside the bucket), so the oracle holds "
    "exactly even where the cap binds; the recall it trades on "
    "degenerate (boilerplate-fingerprint) buckets is surfaced per band "
    "by q_simhash_band_census rather than lost silently. Measured "
    "output: 98k pairs at sf0.1 -> 237k at sf1 (2.4x for 10x data).",
)
def q_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    capped = _simhash_capped_buckets(spark, sf_dir)
    # r11 (guide §2.4): pair generation happens INSIDE each capped bucket
    # via array combinatorics (the lsh_candidate_pairs shape) instead of a
    # bucket self-join — the join form evaluated the whole
    # exchange+sort+cap-window subtree once per side. The collect_list row
    # is bounded by the bucket cap (the window truncated the bucket
    # first), and the groupBy shares the cap window's (band_id, band_val)
    # partitioning, so no new exchange appears before pair explosion.
    grouped = (
        capped.groupBy("band_id", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ms")
        )
        .where(F.size("ms") > 1)
    )
    hamming = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).cast("bigint")
    out = (
        grouped.select(F.explode(in_row_pairs("ms", "x", "y")).alias("p"))
        .select(
            F.col("p.x.doc_id").alias("doc_a"),
            F.col("p.y.doc_id").alias("doc_b"),
            F.col("p.x.simhash").alias("sha"),
            F.col("p.y.simhash").alias("shb"),
        )
        .where(hamming <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
    )
    # propagate the fingerprint-checkpoint release handle attached by
    # _simhash_capped_buckets (ADVICE r10)
    out.ckpt_release = capped.ckpt_release
    return out


@register(
    "q_simhash_band_census",
    oracle=f"""WITH {_dd_simhash_capped_cte()},
sz AS (
  SELECT band_id, band_val, count(*) AS c,
         sum(CASE WHEN rn > {SIMHASH_BUCKET_CAP} THEN 1 ELSE 0 END)
             AS n_dropped
    FROM ranked GROUP BY band_id, band_val
)
SELECT band_id,
       count(*) AS n_buckets,
       CAST(max(c) AS BIGINT) AS max_bucket,
       CAST(sum(n_dropped) AS BIGINT) AS n_docs_dropped,
       round(CAST(sum(least(c, {SIMHASH_BUCKET_CAP})
                      * (least(c, {SIMHASH_BUCKET_CAP}) - 1) / 2) AS DOUBLE)
             / greatest(sum(c * (c - 1) / 2), 1), 6) AS cand_retained_frac
  FROM sz GROUP BY band_id
""",
    doc="visibility companion to q_simhash_capped (the "
    "q_embedding_cell_census discipline): per band, the bucket count, the "
    "largest bucket, how many doc slots the cap truncated, and the "
    "fraction of uncapped candidate pairs the capped join still scores "
    "(sum C(min(c,cap),2) / sum C(c,2)). 1 - cand_retained_frac bounds "
    "the recall the cap trades on degenerate buckets — observable per "
    "band instead of silent. Cost: one hash agg on the banded bucket "
    "relation the capped join builds anyway.",
)
def q_simhash_band_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # no checkpoint: the fingerprint table feeds exactly one linear
    # consumer chain (buckets -> per-bucket sizes -> per-band rollup), so
    # materializing it would only strand blocks (ADVICE r10's naked-
    # checkpoint class) without saving a recompute
    fp = simhash_fingerprints(docs)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright("simhash", b * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for b in range(SIMHASH_BANDS)
    ]
    buckets = fp.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band_id", "bk.band_val")
    cap = F.lit(SIMHASH_BUCKET_CAP)
    sz = buckets.groupBy("band_id", "band_val").agg(
        F.count("*").alias("c")
    )
    kept = F.least(F.col("c"), cap)
    return sz.groupBy("band_id").agg(
        F.count("*").alias("n_buckets"),
        F.max("c").cast("bigint").alias("max_bucket"),
        F.sum(F.greatest(F.col("c") - cap, F.lit(0)))
        .cast("bigint")
        .alias("n_docs_dropped"),
        F.round(
            F.sum(kept * (kept - 1) / 2).cast("double")
            / F.greatest(F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(1)),
            6,
        ).alias("cand_retained_frac"),
    )


# --------------------------------------------------------------------------
# cross-source content overlap (corpus-governance diagnostics)
# --------------------------------------------------------------------------
OVERLAP_GRAM = 5


@register(
    "q_source_overlap",
    oracle=f"""WITH toks AS (
  SELECT doc_id, source, {dd_tokens("text")} AS tok
    FROM documents WHERE text IS NOT NULL
),
gs AS (
  SELECT DISTINCT source, unnest({dd_word_ngrams("tok", OVERLAP_GRAM)}) AS g
    FROM toks
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
    FROM gs a JOIN gs b ON a.g = b.g AND a.source < b.source
)
SELECT source_a, source_b, count(*) AS shared_5grams
  FROM pairs GROUP BY source_a, source_b
""",
    doc="cross-source content-overlap matrix: distinct (word-5-gram, source) "
    "pairs self-joined on the gram with source_a < source_b — the "
    "provenance-leak / mirrored-crawl diagnostic run before mixing sources "
    "into one training corpus (the cross-SOURCE analog of benchmark "
    "decontamination's eval-vs-corpus sweep). Scale: the shuffle carries "
    "one row per distinct (gram, source) — the text never moves — and "
    "per-gram fan-out is bounded by the source count (~tens), so the join "
    "output is gram-vocabulary-bounded, not corpus-quadratic.",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # r11 (guide §2.4): the old distinct + gram self-join evaluated the
    # whole tokenize+5-gram subtree once per join side (no exchange reuse
    # across the aliased sides). One groupBy(g) with a map-side-combined
    # collect_set replaces BOTH the distinct and the self-join: the
    # per-gram source set is bounded by the source count (~tens), pairs
    # fall out of in-row combinatorics over the sorted set — the
    # lsh_candidate_pairs shape.
    gs = (
        docs.where(F.col("text").isNotNull())
        .select("source", tokens(F.col("text")).alias("tok"))
        .select(
            "source",
            F.explode(word_ngrams("tok", OVERLAP_GRAM)).alias("g"),
        )
    )
    grouped = (
        gs.groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .where(F.size("srcs") > 1)
    )
    return (
        grouped.select(
            F.explode(in_row_pairs("srcs", "source_a", "source_b")).alias("p")
        )
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_5grams"))
    )


# --------------------------------------------------------------------------
# split-leakage audit: near-dup pairs crossing train/val/test boundaries
# --------------------------------------------------------------------------
def _register_split_leakage():
    from prefect_flow_arc_indexer_spark.operators.sampling import (
        SPLIT_SALT,
        TRAIN_PCT,
        VAL_PCT,
        _dd_bucket,
        split_bucket,
    )

    base = _dd_minhash_sql()
    # split at the FINAL select (the pair emitter) — earlier CTEs also use
    # SELECT DISTINCT, so a left split would cut inside the shingle CTE
    head, tail = base.rsplit("SELECT DISTINCT", 1)

    def _dd_split(col: str) -> str:
        b = _dd_bucket(SPLIT_SALT).replace("doc_id", col)
        return (
            f"CASE WHEN {b} < {TRAIN_PCT} THEN 'train' "
            f"WHEN {b} < {TRAIN_PCT + VAL_PCT} THEN 'val' "
            f"ELSE 'test' END"
        )

    oracle = f"""{head.rstrip().rstrip(')').rstrip()}
),
pairs AS (
  SELECT DISTINCT{tail.rstrip()}
),
spl AS (
  SELECT doc_a, doc_b,
         {_dd_split("doc_a")} AS split_a,
         {_dd_split("doc_b")} AS split_b
    FROM pairs
)
SELECT split_a, split_b,
       count(*) AS n_pairs,
       count(DISTINCT doc_a) AS n_docs_a,
       count(DISTINCT doc_b) AS n_docs_b
  FROM spl
 WHERE split_a <> split_b
 GROUP BY split_a, split_b
"""

    @register(
        "q_split_leakage",
        oracle=oracle,
        doc="eval-integrity audit: MinHash+LSH near-dup candidate pairs "
        "that CROSS the deterministic train/val/test boundary — the leak "
        "a random split always has and a content-aware split must prove "
        "absent. Composes the dedup candidate generator with the salted "
        "split assignment (both scan-side projections); the output is the "
        "per-(split,split) leak census a pipeline gates a release on. At "
        "100 TB the pair stream is already band-bucket-local, and the "
        "split labels join in as two hash projections — no new shuffle "
        "beyond the dedup pass itself.",
    )
    def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        pairs = lsh_candidate_pairs(minhash_signature(docs))

        def spl(c: str):
            b = split_bucket(F.col(c), SPLIT_SALT)
            return (
                F.when(b < TRAIN_PCT, F.lit("train"))
                .when(b < TRAIN_PCT + VAL_PCT, F.lit("val"))
                .otherwise(F.lit("test"))
            )

        return (
            pairs.select(
                "doc_a",
                "doc_b",
                spl("doc_a").alias("split_a"),
                spl("doc_b").alias("split_b"),
            )
            .where(F.col("split_a") != F.col("split_b"))
            .groupBy("split_a", "split_b")
            .agg(
                F.count("*").alias("n_pairs"),
                F.countDistinct("doc_a").alias("n_docs_a"),
                F.countDistinct("doc_b").alias("n_docs_b"),
            )
        )


_register_split_leakage()


# --------------------------------------------------------------------------
# containment similarity: subset-duplicate detection (quotes, inclusions)
# --------------------------------------------------------------------------
CONTAIN_MIN = 0.8  # max-side containment that flags a subset duplicate


@register(
    "q_containment",
    oracle=f"""WITH {_dd_shingle_cte()},
{_DD_MINSH_CTE},
cand AS (
  SELECT DISTINCT least(m.doc_id, o.doc_id) AS doc_a,
                  greatest(m.doc_id, o.doc_id) AS doc_b
    FROM minsh m
    JOIN hashes o ON o.h = m.mh AND o.doc_id <> m.doc_id
    JOIN meta ma ON ma.doc_id = m.doc_id
    JOIN meta mb ON mb.doc_id = o.doc_id
   WHERE ma.source = mb.source
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
    FROM cand c
    JOIN shingles a ON a.doc_id = c.doc_a
    JOIN shingles b ON b.doc_id = c.doc_b AND b.s = a.s
   GROUP BY c.doc_a, c.doc_b
),
scored AS (
  SELECT doc_a, doc_b, CAST(i AS BIGINT) AS i,
         CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         round(CAST(i AS DOUBLE) / least(sa.n, sb.n), 6) AS containment,
         round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT *,
       CASE WHEN n_a <= n_b THEN 'a_in_b' ELSE 'b_in_a' END AS direction,
       containment >= {CONTAIN_MIN} AS is_subset_dup
  FROM scored
 ORDER BY containment DESC, doc_a ASC, doc_b ASC
 LIMIT 20
""",
    doc="containment (asymmetric Jaccard) for SUBSET duplicates: "
    "i / min(|A|,|B|) flags a small doc embedded in a bigger one (quotes, "
    "boilerplate inclusion, excerpt pages) that symmetric Jaccard scores "
    "low and MinHash-LSH therefore misses — the standard companion "
    "measure in web-dedup stacks. Blocking is the ANCHOR-GRAM rule: a "
    "pair is a candidate when either doc's minimum shingle hash appears "
    "anywhere in the other doc's shingle set — a true subset A within B "
    "always has A's min shingle in B, so recall for genuine subset dups "
    "is 1.0 by construction (min-hash EQUALITY, the symmetric Jaccard "
    "block, would miss them: B's min usually lies outside A). Candidate "
    "generation is the hash equi-join minsh.mh = hashes.h; the verdict "
    "columns are row-local arithmetic on the pair aggregates. Output is "
    "the deterministic top-20 review queue by containment (TakeOrdered, "
    "no materialized global sort) with the subset-dup flag at "
    f"{CONTAIN_MIN}.",
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # the shingle stream feeds FIVE plan branches (sizes, minsh, the
    # anchor-gram probe side, and both _pair_intersections sides);
    # without materialization each branch re-tokenizes the corpus —
    # measured 9.8 -> 7.7 s at sf1. Caller releases via ckpt_release
    # after consuming (q_pagerank/q_golden_record contract; harness
    # sweeps also blanket-release between queries).
    sh = _hashed_shingles(docs).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    minsh = sh.groupBy("doc_id", "source").agg(F.min("h").alias("mh"))
    # anchor-gram blocking: m's min shingle occurs anywhere in o
    other = sh.select(
        F.col("doc_id").alias("o_id"), F.col("source").alias("o_src"), "h"
    )
    cand = (
        minsh.join(
            other,
            (F.col("h") == F.col("mh"))
            & (F.col("o_id") != F.col("doc_id"))
            & (F.col("o_src") == F.col("source")),
        )
        .select(
            F.least("doc_id", "o_id").alias("doc_a"),
            F.greatest("doc_id", "o_id").alias("doc_b"),
        )
        .distinct()
    )
    inter = _pair_intersections(cand, sh).withColumn(
        "i", F.col("i").cast("bigint")
    )
    scored = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n").cast("bigint").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n").cast("bigint").alias("n_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "i",
            "n_a",
            "n_b",
            F.round(
                F.col("i").cast("double") / F.least("n_a", "n_b"), 6
            ).alias("containment"),
            F.round(
                F.col("i").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
    )
    out = (
        scored.select(
            "doc_a",
            "doc_b",
            "i",
            "n_a",
            "n_b",
            "containment",
            "jaccard",
            F.when(F.col("n_a") <= F.col("n_b"), F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("direction"),
            (F.col("containment") >= CONTAIN_MIN).alias("is_subset_dup"),
        )
        # deterministic top-k (TakeOrdered — no global sort materialized):
        # the review queue is the k most-contained pairs, however low
        .orderBy(
            F.col("containment").desc(),
            F.col("doc_a").asc(),
            F.col("doc_b").asc(),
        )
        .limit(20)
    )
    out.ckpt_release = CheckpointRelease(sh)
    return out


# --------------------------------------------------------------------------
# MinHash estimator-quality audit: signature estimate vs exact Jaccard
# --------------------------------------------------------------------------
def _register_minhash_estimate():
    """Per LSH candidate pair: the SIGNATURE-level Jaccard estimate
    (matching components / 16) against the exact shingle-set Jaccard —
    the estimator-error audit that justifies trusting signatures at scale
    (E[est] = J; at 16 perms, sd ~ sqrt(J(1-J)/16) ~ 0.12)."""
    mins = ",".join(
        f"min((h * {a} + {b}) % {HASH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, concat_ws('_', "
        + ", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ") AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN ga.m{i} = gb.m{i} THEN 1 ELSE 0 END"
        for i in range(N_PERM)
    )
    oracle = f"""WITH {_dd_shingle_cte()},
sig AS (
  SELECT doc_id, {mins} FROM hashes GROUP BY doc_id
),
buckets AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         ({matches}) AS n_match
    FROM cand c
    JOIN sig ga ON ga.doc_id = c.doc_a
    JOIN sig gb ON gb.doc_id = c.doc_b
),
sizes AS (
  SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
    FROM cand c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
   GROUP BY c.doc_a, c.doc_b
)
SELECT e.doc_a, e.doc_b,
       round(CAST(e.n_match AS DOUBLE) / {N_PERM}, 6) AS est_jaccard,
       round(CAST(coalesce(i.i, 0) AS DOUBLE)
             / (za.n + zb.n - coalesce(i.i, 0)), 6) AS exact_jaccard,
       round(abs(CAST(e.n_match AS DOUBLE) / {N_PERM}
             - CAST(coalesce(i.i, 0) AS DOUBLE)
               / (za.n + zb.n - coalesce(i.i, 0))), 6) AS abs_err
  FROM est e
  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
  JOIN sizes za ON za.doc_id = e.doc_a
  JOIN sizes zb ON zb.doc_id = e.doc_b
"""

    @register(
        "q_minhash_estimate",
        oracle=oracle,
        doc="MinHash estimator-quality audit: per LSH candidate pair, the "
        "signature-level Jaccard estimate (matching permutation "
        "components / 16) beside the exact shingle-set Jaccard and the "
        "absolute error — the measurement that justifies replacing "
        "exact verification with signature screening at scale. The "
        "estimate stage joins the TINY candidate set against the 16-int "
        "signatures (no shingle re-scan); only the exact column touches "
        "the shingle stream, restricted to candidates.",
    )
    def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        sig = minhash_signature(docs)
        cand = lsh_candidate_pairs(sig)
        ga = sig.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"m{i}").alias(f"a{i}") for i in range(N_PERM)],
        )
        gb = sig.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"m{i}").alias(f"b{i}") for i in range(N_PERM)],
        )
        n_match = sum(
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(N_PERM)
        )
        est = (
            cand.join(ga, "doc_a")
            .join(gb, "doc_b")
            .select("doc_a", "doc_b", n_match.alias("n_match"))
        )
        sh = _distinct_shingles(docs)
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
        shb = sh.select(F.col("doc_id").alias("_db"), F.col("s").alias("sb"))
        inter = (
            cand.join(sha, "doc_a")
            .join(
                shb,
                (F.col("doc_b") == F.col("_db"))
                & (F.col("sb") == F.col("sa")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("i"))
        )
        ex = F.coalesce(F.col("i"), F.lit(0)).cast("double") / (
            F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))
        )
        est_j = F.col("n_match").cast("double") / N_PERM
        return (
            est.join(inter, ["doc_a", "doc_b"], "left")
            .join(
                sizes.select(
                    F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
                ),
                "doc_a",
            )
            .join(
                sizes.select(
                    F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
                ),
                "doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                F.round(est_j, 6).alias("est_jaccard"),
                F.round(ex, 6).alias("exact_jaccard"),
                F.round(F.abs(est_j - ex), 6).alias("abs_err"),
            )
        )


_register_minhash_estimate()


# --------------------------------------------------------------------------
# the production dedup cascade, fused (normalize -> exact -> near-dup CC)
# --------------------------------------------------------------------------
def _register_dedup_cascade():
    """The staged cascade every production corpus runs: cheap exact dedup
    on the NORMALIZED content hash first (kills formatting-noise dups at
    scan cost), then the expensive MinHash+LSH+connected-components pass
    over only the exact survivors. Emits the per-stage survivor census —
    the funnel numbers a dedup report publishes."""
    from prefect_flow_arc_indexer_spark.functions.textfns import NORM_RE as _NORM_RE

    norm = f"trim(regexp_replace(lower(text), '{_NORM_RE}', ' ', 'g'))"
    mins = ",".join(
        f"min((h * {a} + {b}) % {HASH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, concat_ws('_', "
        + ", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ") AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    oracle = f"""WITH RECURSIVE base AS (
  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5({norm})) AS keeper
    FROM documents WHERE text IS NOT NULL
),
exact_kept AS (
  SELECT doc_id, text FROM base WHERE doc_id = keeper
),
toks AS (
  SELECT doc_id, {dd_tokens("text")} AS tok FROM exact_kept
),
shingles AS (
  SELECT DISTINCT doc_id, unnest({dd_word_ngrams("tok", SHINGLE_N)}) AS s FROM toks
),
hashes AS (
  SELECT doc_id, {dd_stable_hash("s")} AS h FROM shingles
),
sig AS (
  SELECT doc_id, {mins} FROM hashes GROUP BY doc_id
),
buckets AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b, doc_a FROM cand
),
reach(id, comp) AS (
  SELECT doc_id, doc_id FROM exact_kept
  UNION
  SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
comps AS (
  SELECT id AS doc_id, min(comp) AS component_id FROM reach GROUP BY id
)
SELECT * FROM (
  SELECT 'corpus' AS stage, 0 AS ord,
         (SELECT count(*) FROM base) AS n_docs
  UNION ALL
  SELECT 'exact_kept', 1, (SELECT count(*) FROM exact_kept)
  UNION ALL
  SELECT 'near_kept', 2,
         (SELECT count(*) FROM comps WHERE doc_id = component_id)
) t
"""

    @register(
        "q_dedup_cascade",
        oracle=oracle,
        doc="the production dedup cascade fused into one plan: normalized "
        "content-hash exact dedup (window-min keeper on the md5 of the "
        "q_text_normalize canonical form — scan-cost, kills formatting "
        "dups), then MinHash+LSH+connected-components near-dedup over "
        "ONLY the exact survivors. Emits the stage funnel (corpus -> "
        "exact survivors -> near-dup cluster keepers). The staging order "
        "is the 100 TB cost argument: the expensive shingle/signature "
        "pass runs on the exact-deduped corpus, so formatting-noise "
        "duplicates never reach the LSH exchange.",
    )
    def q_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark import StorageLevel

        from prefect_flow_arc_indexer_spark.functions.textfns import (
            NORM_RE as norm_re,
        )

        docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
            F.col("text").isNotNull()
        )
        norm_c = F.trim(
            F.regexp_replace(F.lower(F.col("text")), norm_re, " ")
        )
        # r11: the window-min keeper is a plain hash aggregation — the
        # keeper is min(doc_id) per normalized-hash group and min_by
        # recovers its (original, un-normalized) text; doc_id is unique so
        # both are deterministic. A groupBy partial-aggregates map-side
        # (the window form sorted the full corpus), carries the group
        # count so BOTH censuses fall out of the same pass (corpus =
        # sum of group sizes, exact survivors = group count), and the
        # persist means normalize+hash runs ONCE per call — the previous
        # shape re-ran the window pass for each census and again for the
        # LSH branch and the near-kept join (4 corpus passes).
        groups = (
            docs.groupBy(F.md5(norm_c).alias("_h"))
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.expr("min_by(text, doc_id)").alias("text"),
                F.count("*").alias("grp_n"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        release = _CacheRelease(groups)
        exact_kept = groups.select("doc_id", "text")
        edges = lsh_candidate_pairs(minhash_signature(exact_kept)).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        comp = connected_components(edges).withColumnRenamed("id", "doc_id")
        near_kept = (
            exact_kept.select("doc_id")
            .join(comp, "doc_id", "left")
            .where(
                F.coalesce("comp", "doc_id") == F.col("doc_id")
            )
        )
        two = groups.agg(
            F.sum("grp_n").alias("n_corpus"),
            F.count("*").alias("n_exact"),
        )

        def pick(col: str, stage: str, ord_: int) -> DataFrame:
            return two.select(
                F.lit(stage).alias("stage"),
                F.lit(ord_).alias("ord"),
                F.col(col).alias("n_docs"),
            )

        out = (
            pick("n_corpus", "corpus", 0)
            .unionByName(pick("n_exact", "exact_kept", 1))
            .unionByName(
                near_kept.agg(
                    F.lit("near_kept").alias("stage"),
                    F.lit(2).alias("ord"),
                    F.count("*").alias("n_docs"),
                )
            )
        )
        # the keeper-group cache backs the returned plan; service loops
        # release it after materializing (weakref backstop otherwise)
        out.sig_release = release
        return out


_register_dedup_cascade()


# --------------------------------------------------------------------------
# LSH banding-scheme sweep (the S-curve tuning table)
# --------------------------------------------------------------------------
BAND_SCHEMES = ((2, 8), (4, 4), (8, 2))  # (bands, rows) over the 16 perms


def _register_band_sweep():
    """Index tuning: the same 16-perm signature banded three ways. The
    (b, r) choice sets the S-curve threshold ~(1/b)^(1/r) — more bands =
    lower threshold = more candidates; this sweep measures the actual
    candidate volume per scheme so the threshold choice is data-driven,
    not folklore. One signature computation feeds all three bandings."""
    mins = ",".join(
        f"min((h * {a} + {b}) % {HASH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    pieces = []
    for b, r in BAND_SCHEMES:
        bands = "\n  UNION ALL\n".join(
            f"  SELECT doc_id, {bi} AS band_id, concat_ws('_', "
            + ", ".join(f"m{bi * r + ri}" for ri in range(r))
            + ") AS band_key FROM sig"
            for bi in range(b)
        )
        thr = round((1.0 / b) ** (1.0 / r), 6)
        pieces.append(
            f"""SELECT '{b}x{r}' AS scheme, {b} AS n_bands, {r} AS rows_per_band,
       {thr!r} AS threshold,
       (SELECT count(*) FROM (
          SELECT DISTINCT a.doc_id AS da, c.doc_id AS db
            FROM (\n{bands}\n) a
            JOIN (\n{bands}\n) c
              ON a.band_id = c.band_id AND a.band_key = c.band_key
             AND a.doc_id < c.doc_id)) AS n_candidates"""
        )
    oracle = f"""WITH {_dd_shingle_cte()},
sig AS (
  SELECT doc_id, {mins} FROM hashes GROUP BY doc_id
)
{chr(10).join(f'{p}{chr(10)}UNION ALL' for p in pieces[:-1])}
{pieces[-1]}
"""

    @register(
        "q_band_sweep",
        oracle=oracle,
        doc="LSH banding-scheme sweep: the SAME 16-permutation MinHash "
        "signature banded as 2x8 / 4x4 / 8x2, each scheme's S-curve "
        "threshold (1/b)^(1/r) beside its MEASURED candidate-pair "
        "volume — the data-driven tuning table behind choosing the "
        "near-dup operating point. The signature is computed once "
        "(narrow 17-column frame, checkpointed) and each banding is an "
        "explode + bucket self-join over it; at 100 TB this is how you "
        "price a threshold change BEFORE re-running the full pipeline.",
    )
    def q_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        sig = minhash_signature(docs).localCheckpoint(eager=False)
        out = None
        for b, r in BAND_SCHEMES:
            band_structs = [
                F.struct(
                    F.lit(bi).alias("band_id"),
                    F.concat_ws(
                        "_", *[F.col(f"m{bi * r + ri}") for ri in range(r)]
                    ).alias("band_key"),
                )
                for bi in range(b)
            ]
            buckets = sig.select(
                "doc_id", F.explode(F.array(*band_structs)).alias("bk")
            ).select("doc_id", "bk.band_id", "bk.band_key")
            grouped = (
                buckets.groupBy("band_id", "band_key")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
                .where(F.size("ids") > 1)
            )
            n_cand = (
                grouped.select(
                    F.explode(in_row_pairs("ids", "da", "db")).alias("p")
                )
                .select("p.da", "p.db")
                .distinct()
                .agg(F.count("*").alias("n_candidates"))
            )
            row = n_cand.select(
                F.lit(f"{b}x{r}").alias("scheme"),
                F.lit(b).alias("n_bands"),
                F.lit(r).alias("rows_per_band"),
                F.lit(round((1.0 / b) ** (1.0 / r), 6)).alias("threshold"),
                "n_candidates",
            )
            out = row if out is None else out.unionByName(row)
        # caller-release contract for the shared signature checkpoint
        # (lazy: materialized by the first scheme's action, read by the
        # other two) — ADVICE r10's naked-checkpoint class
        out.ckpt_release = CheckpointRelease(sig)
        return out


_register_band_sweep()


# --------------------------------------------------------------------------
# learned-dedup training table: features + label per candidate pair
# --------------------------------------------------------------------------
def _register_pair_features():
    """Training-set construction for a LEARNED dedup verifier: per LSH
    candidate pair, cheap row-local features (token-length ratio, same
    source, same lang) beside the exact-Jaccard label — the table a
    learned blocker/verifier trains on so the expensive exact stage can
    eventually be replaced by a model score."""
    mins = ",".join(
        f"min((h * {a} + {b}) % {HASH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, concat_ws('_', "
        + ", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ") AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    oracle = f"""WITH {_dd_shingle_cte()},
sig AS (
  SELECT doc_id, {mins} FROM hashes GROUP BY doc_id
),
buckets AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
meta AS (
  SELECT doc_id, source, lang,
         coalesce(len({dd_tokens("text")}), 0) AS n_tok
    FROM documents
),
sizes AS (
  SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
    FROM cand c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
   GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       CAST(round(1000000.0 * least(ma.n_tok, mb.n_tok)
                  / greatest(greatest(ma.n_tok, mb.n_tok), 1)) AS BIGINT)
         AS len_ratio_u,
       (ma.source = mb.source) AS same_source,
       (ma.lang = mb.lang) AS same_lang,
       round(CAST(coalesce(i.i, 0) AS DOUBLE)
             / (za.n + zb.n - coalesce(i.i, 0)), 6) AS jaccard,
       (round(CAST(coalesce(i.i, 0) AS DOUBLE)
              / (za.n + zb.n - coalesce(i.i, 0)), 6)
        >= {MINHASH_VERIFY_THRESHOLD}) AS label
  FROM cand c
  JOIN meta ma ON ma.doc_id = c.doc_a
  JOIN meta mb ON mb.doc_id = c.doc_b
  JOIN sizes za ON za.doc_id = c.doc_a
  JOIN sizes zb ON zb.doc_id = c.doc_b
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
"""

    @register(
        "q_pair_features",
        oracle=oracle,
        doc="learned-dedup training table: per LSH candidate pair, cheap "
        "row-local features (micro-unit token-length ratio, same-source "
        "and same-lang flags) beside the exact-Jaccard label at the "
        "production threshold — the supervision a learned verifier "
        "trains on to replace the exact stage with a model score. "
        "Features join ids-only against per-doc metadata; only the "
        "label column touches the shingle stream, restricted to the "
        "candidate set (same cost envelope as the verify pipeline it "
        "would eventually retire).",
    )
    def q_pair_features(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        cand = lsh_candidate_pairs(minhash_signature(docs))
        meta = docs.select(
            "doc_id",
            "source",
            "lang",
            F.coalesce(F.size(tokens(F.col("text"))), F.lit(0)).alias(
                "n_tok"
            ),
        )
        sh = _distinct_shingles(docs)
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
        shb = sh.select(F.col("doc_id").alias("_db"), F.col("s").alias("sb"))
        inter = (
            cand.join(sha, "doc_a")
            .join(
                shb,
                (F.col("doc_b") == F.col("_db"))
                & (F.col("sb") == F.col("sa")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("i"))
        )
        ma = meta.select(
            F.col("doc_id").alias("doc_a"),
            F.col("source").alias("src_a"),
            F.col("lang").alias("lang_a"),
            F.col("n_tok").alias("tok_a"),
        )
        mb = meta.select(
            F.col("doc_id").alias("doc_b"),
            F.col("source").alias("src_b"),
            F.col("lang").alias("lang_b"),
            F.col("n_tok").alias("tok_b"),
        )
        za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
        zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
        jac = F.round(
            F.coalesce(F.col("i"), F.lit(0)).cast("double")
            / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))),
            6,
        )
        return (
            cand.join(ma, "doc_a")
            .join(mb, "doc_b")
            .join(za, "doc_a")
            .join(zb, "doc_b")
            .join(inter, ["doc_a", "doc_b"], "left")
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    1_000_000.0
                    * F.least("tok_a", "tok_b")
                    / F.greatest(F.greatest("tok_a", "tok_b"), F.lit(1))
                )
                .cast("bigint")
                .alias("len_ratio_u"),
                (F.col("src_a") == F.col("src_b")).alias("same_source"),
                (F.col("lang_a") == F.col("lang_b")).alias("same_lang"),
                jac.alias("jaccard"),
                (jac >= MINHASH_VERIFY_THRESHOLD).alias("label"),
            )
        )


_register_pair_features()
