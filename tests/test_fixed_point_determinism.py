"""The round-9 fixed-point conversions (q_pagerank, q_pca_power) claim
ORDER-INDEPENDENCE: every corpus-wide float reduction sums pre-rounded
integers, so the result cannot depend on partition count, partial-agg
merge order, or AQE's runtime coalescing. Pin that by running each query
under two very different shuffle-parallelism settings and requiring
bit-identical results — the test a plain float-sum implementation fails
(double addition is not associative, so different merge trees round
differently)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _run_with_parallelism(spark, name, n_shuffle, distributed=False):
    """``distributed`` sets the broadcast threshold to -1, so the
    functions.rounds builders run each round as a Spark job over a frame
    fanned out to ``n_shuffle`` partitions instead of on the driver, where
    the parallelism would not reach them."""
    from prefect_flow_arc_indexer_spark.plans import all_queries

    confs = {"spark.sql.shuffle.partitions": str(n_shuffle)}
    if distributed:
        confs["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        return sorted(
            map(tuple, all_queries()[name].builder(spark, SF_DIR).collect())
        )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_pagerank_identical_across_parallelism(spark):
    a = _run_with_parallelism(spark, "q_pagerank", 1)
    b = _run_with_parallelism(spark, "q_pagerank", 17)
    assert a == b
    assert len(a) > 0


def test_pca_power_identical_across_parallelism(spark):
    a = _run_with_parallelism(spark, "q_pca_power", 1, distributed=True)
    b = _run_with_parallelism(spark, "q_pca_power", 17, distributed=True)
    assert a == b
    assert len(a) == 64
