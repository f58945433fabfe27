"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H-Q1-like over the engine's
map-reduce API) at sf0.001.  ``queries()`` exposes one entry per
implemented operator family from SURVEY.md §2 (+ the mandated scale
extensions); ``oracle_sql()`` gives the DuckDB twin for each
SQL-expressible one.  The rigs, the query table and the twins live in
``query_rigs.py``; import that module for anything beyond this surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import query_rigs as _rigs


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _rigs.q_tpch_q1(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry: the ``registry`` rows of ``query_rigs.QUERY_TABLE``,
    in table order."""
    return {s.name: s.rig for s in _rigs.QUERY_TABLE if s.registry}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin per SQL-expressible registry query (query_rigs owns
    the dict; this delegation keeps the contract surface here)."""
    return _rigs.oracle_sql()
