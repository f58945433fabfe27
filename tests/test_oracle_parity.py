"""Differential tests: every queries() entry vs its DuckDB oracle —
a local replica of the driver's t2 correctness gate (sort-before-compare,
FIXTURES.md convention).

Run at sf0.001 by default (fast); set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
for the driver-scale check.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb
import pytest

import __spark_entry__ as entry_mod
from frames_map_reduce_spark.sources import STAR_TABLES

from tests.conftest import SF_DIR

# data-dependent oracles (ann_ivf's centroid replay) must derive their
# spec constants from the SAME fixture this suite compares against
import os as _os  # noqa: E402

_os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()
WITH_ORACLE = sorted(ORACLES)
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


def test_every_oracle_has_a_query():
    """A twin left behind by a renamed or removed query would otherwise
    silently drop out of the parity run."""
    assert set(ORACLES) <= set(QUERIES), sorted(set(ORACLES) - set(QUERIES))


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _canon(rows, columns):
    """Driver-replica canonicalization (r10 verdict #2): sort columns by
    name, then sort ROWS VIA PANDAS ``sort_values`` — the driver's
    harness does exactly this, and its lexsort factorizes each column
    through a hash table, so unhashable cells (lists/structs/dicts) die
    with the driver's exact TypeError.  Local green must imply driver
    green: do NOT fall back to a str()-keyed sort here (that list-safe
    shortcut is how the r10 token-ID rows passed locally and failed the
    driver)."""
    import pandas as pd

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    normed = [[_norm(r[i]) for i in order] for r in rows]
    df = pd.DataFrame(normed, columns=cols, dtype=object)
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort", na_position="last")
    return [tuple(row) for row in df.itertuples(index=False, name=None)]


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(ORACLES[name])
    duck_cols = list(rel.columns)
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), \
        f"{name}: column names differ: {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), \
        f"{name}: row count {len(spark_rows)} vs oracle {len(duck_rows)}"
    a = _canon(spark_rows, spark_cols)
    b = _canon(duck_rows, duck_cols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_canon_is_list_fatal():
    """The driver-replica property (r10 verdict #2): list-typed cells
    must make _canon raise — if this test ever passes with a list-safe
    sort, local parity green stops implying driver green."""
    with pytest.raises(TypeError):
        _canon([("a", [1, 2]), ("b", [3])], ["k", "ids"])


def test_lint_forbids_nested_oracle_types():
    """tools/lint_oracle_types.py FORBIDDEN must flag LIST/STRUCT/MAP
    outputs (the r10 corpus_to_token_ids failure class) and still allow
    the scalar types every registry oracle ships."""
    import re
    from tools.lint_oracle_types import FORBIDDEN

    for bad in ["INTEGER[]", "BIGINT[]", "VARCHAR[3]",
                "STRUCT(a INTEGER)", "MAP(VARCHAR, BIGINT)",
                "UNION(i INTEGER)", "JSON", "HUGEINT", "DECIMAL(18,3)"]:
        assert FORBIDDEN.match(bad), f"lint must forbid {bad}"
    for ok in ["BIGINT", "INTEGER", "VARCHAR", "DOUBLE", "BOOLEAN",
               "DATE", "TIMESTAMP"]:
        assert not FORBIDDEN.match(ok), f"lint must allow {ok}"
