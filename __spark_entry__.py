"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG query on sf0.001; ``queries`` /
``oracle_sql`` register the KG system's rows: pipeline stages and KG
analytics, the reference importer and generators, streaming, connected
components and the Pregel-style graph catalog (implementation + oracle
pairs live in graph_importer_spark/contract.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from graph_importer_spark import contract as _c


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG chain (extract -> mentions -> link -> triples ->
    aggregate) over the sf0.001 documents corpus."""
    return _c.q_kg_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_c.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_c.ORACLES)
