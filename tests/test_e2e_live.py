"""LIVE Elasticsearch + Postgres end-to-end (VERDICT r9 task 6).

Runs the reference's full_sync + incremental_sync dataflow against REAL
services (reference test_instance.sh:1-24; network path
flows/main_flow.py:413-422): a Spark JDBC scan of Postgres feeds the
ES ``_bulk`` REST writer shipping from executor tasks, the
count-reconcile gate reads ``_count``, publish restores serving settings
and flips the alias atomically, and the incremental pass ships an update,
an insert and a tombstone in one mixed ``_bulk`` job
(``write_upserts_rest(..., deleted_column="is_deleted")``), the CLI's own
mirror path.

Gated on the environment scripts/e2e_live.sh exports after bringing up
docker/e2e-compose.yml — on machines without a Docker daemon every test
here SKIPS, keeping the suite's existing env-skip posture (the REST
contract itself stays covered by the mocked-transport tests in
tests/test_pipeline.py and tests/test_round6_pipeline.py).
"""

from __future__ import annotations

import json
import os
import urllib.request

import pytest

ES = os.environ.get("SPARK_GRAFT_E2E_ES")
PG = os.environ.get("SPARK_GRAFT_E2E_PG")
PG_USER = os.environ.get("SPARK_GRAFT_E2E_PG_USER", "postgres")
PG_PASSWORD = os.environ.get("SPARK_GRAFT_E2E_PG_PASSWORD", "")
PG_JAR = os.environ.get("SPARK_GRAFT_E2E_PG_JAR", "")

ALIAS = "arc_e2e"
PG_TABLE = "index_documents_e2e"
PG_DRIVER = "org.postgresql.Driver"


def _reachable(url: str) -> bool:
    try:
        urllib.request.urlopen(url, timeout=3).close()
        return True
    except Exception:
        return False


pytestmark = pytest.mark.skipif(
    not (ES and PG and PG_JAR and os.path.exists(PG_JAR) and _reachable(ES)),
    reason="live e2e env absent — run via scripts/e2e_live.sh "
    "(needs a Docker daemon)",
)


@pytest.fixture(scope="module")
def live():
    """Own SparkSession carrying the Postgres driver jar. Must be the
    FIRST session in the process (spark.jars is launch-time), which is why
    scripts/e2e_live.sh runs this file in its own pytest process."""
    from pyspark.sql import SparkSession

    from prefect_flow_arc_indexer_spark.session import prepare_session

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("e2e-live")
        .config("spark.jars", PG_JAR)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    prepare_session(spark)
    yield spark
    spark.stop()


def _es_cfg():
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import EsSinkConfig

    return EsSinkConfig(nodes=ES, batch_entries=7, timeout_s=30)


def _jdbc_cfg(**kw):
    from prefect_flow_arc_indexer_spark.sources.jdbc import JdbcSourceConfig

    return JdbcSourceConfig(
        url=PG,
        table=PG_TABLE,
        user=PG_USER,
        password=PG_PASSWORD,
        extra_options={"driver": PG_DRIVER},
        **kw,
    )


def _seed_rows(n: int, start: int = 0, updated: str = "2024-01-10 00:00:00"):
    return [
        (
            str(i),
            ALIAS,
            json.dumps({"k": i, "name": f"doc{i}"}),
            i % 13 == 0,
            updated,
        )
        for i in range(start, start + n)
    ]


def _write_pg(spark, rows, mode: str):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "id string, index string, document string, is_deleted boolean,"
        " updated_at string"
    ).withColumn("updated_at", F.to_timestamp("updated_at"))
    (
        df.write.format("jdbc")
        .option("url", PG)
        .option("dbtable", PG_TABLE)
        .option("user", PG_USER)
        .option("password", PG_PASSWORD)
        .option("driver", PG_DRIVER)
        .mode(mode)
        .save()
    )


def _delete_index(pattern: str) -> None:
    req = urllib.request.Request(f"{ES}/{pattern}", method="DELETE")
    try:
        urllib.request.urlopen(req, timeout=10).close()
    except Exception:
        pass


def test_full_then_incremental_sync_against_live_services(live):
    from pyspark.sql import functions as F

    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        count_index,
        get_alias_indexes,
        swap_alias,
        write_upserts_rest,
    )
    from prefect_flow_arc_indexer_spark.sources.jdbc import read_jdbc

    _delete_index(f"{ALIAS}*")
    cfg = _es_cfg()

    # ---- seed the source-of-truth through a REAL JDBC write ----
    n0 = 40
    _write_pg(live, _seed_rows(n0), "overwrite")

    # ---- full sync: JDBC scan -> generation write -> reconcile -> swap --
    docs = read_jdbc(live, _jdbc_cfg()).where(F.col("index") == ALIAS)
    gen = f"{ALIAS}_gen1"
    live_docs = docs.where(~F.col("is_deleted"))
    write_upserts_rest(
        live_docs.select("id", "document", F.lit(gen).alias("_index")),
        cfg,
        source_column="document",
    )
    live_rows = live_docs.count()
    # X7 count-reconcile against the real _count endpoint
    assert count_index(cfg, gen) == live_rows
    # X6 atomic publish: settings restore + alias flip on the real cluster
    swap_alias(cfg, ALIAS, gen)
    assert get_alias_indexes(cfg, ALIAS) == [gen]
    assert count_index(cfg, ALIAS) == live_rows
    settings = json.loads(
        urllib.request.urlopen(f"{ES}/{gen}/_settings", timeout=10).read()
    )[gen]["settings"]["index"]
    assert settings["refresh_interval"] == "30s"

    # ---- incremental: update + insert + tombstone, one mixed job --------
    watermark = "2024-01-15 00:00:00"
    later = "2024-01-16 00:00:00"
    batch = [
        ("1", ALIAS, json.dumps({"k": 1, "name": "doc1-v2"}), False, later),
        (str(n0), ALIAS, json.dumps({"k": n0, "name": "new"}), False, later),
        ("2", ALIAS, json.dumps({}), True, later),  # tombstone
    ]
    _write_pg(live, batch, "append")
    incr = read_jdbc(live, _jdbc_cfg()).where(
        (F.col("index") == ALIAS)
        & (F.col("updated_at") >= F.lit(watermark).cast("timestamp"))
    )
    assert incr.count() == len(batch)  # the watermark predicate pushed down
    # routed through the alias, as the CLI's incremental mirror does
    write_upserts_rest(
        incr.select(
            "id", "document", "is_deleted", F.col("index").alias("_index")
        ),
        cfg,
        source_column="document",
        deleted_column="is_deleted",
    )
    # T3 delete propagation + upsert visibility on the real cluster
    assert count_index(cfg, ALIAS) == live_rows + 1 - 1
    got = json.loads(
        urllib.request.urlopen(f"{ES}/{ALIAS}/_doc/1", timeout=10).read()
    )
    assert got["_source"]["name"] == "doc1-v2"
    with pytest.raises(Exception):
        urllib.request.urlopen(f"{ES}/{ALIAS}/_doc/2", timeout=10)

    _delete_index(f"{ALIAS}*")
