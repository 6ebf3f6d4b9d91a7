"""PySpark-native analytics engine with the query/data-processing surface of
``viaacode/prefect-flow-arc-indexer`` (reference read-only at /root/reference),
re-expressed Spark-first, plus large-scale training-data-pipeline extensions
(dedup, similarity search, text analysis, multimodal plumbing).

Layout
------
- ``session``    — tuned SparkSession builder (AQE, Arrow, shuffle sizing)
- ``sources``    — parquet/JDBC readers + the ``index_documents`` logical view
- ``functions``  — cross-engine-stable column expressions (hashing, text, vectors)
- ``operators``  — the SURVEY §2 operator inventory + extensions, one module each
- ``plans``      — query registry: name -> (Spark builder, DuckDB oracle SQL)
- ``streaming``  — the watermark store of the incremental sync
- ``pipeline``   — full-sync / incremental drivers, versioned sink, atomic publish
- ``multimodal`` — binary-column plumbing (decode stubs, mapInPandas feature extract)
"""

from prefect_flow_arc_indexer_spark.session import get_spark, prepare_session

__all__ = ["get_spark", "prepare_session"]
