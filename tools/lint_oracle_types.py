"""Oracle output-type lint (r7 verdict #1): bind every ``oracle_sql()``
entry in DuckDB and fail on any output column whose DuckDB type has no
exact Spark counterpart (HUGEINT, UHUGEINT, DECIMAL, unsigned ints).

Why: the driver's correctness hash covers column TYPES, and DuckDB
silently widens e.g. ``sum(BIGINT)`` to HUGEINT — values identical,
hash red (the round-7 `label_outliers` failure class).  The repo
convention (query_rigs.py header) is that integer-ish outputs are
cast to BIGINT on BOTH sides; this lint makes the class impossible to
reintroduce.

    python tools/lint_oracle_types.py          # uses sf0.001 views

Binding a relation (`con.sql(sql).types`) plans the query without
executing it, so the sweep over the full registry takes ~seconds.
"""

from __future__ import annotations

import os
import re
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_LINT_SF_DIR", "/root/testdata/sf0.001")
# data-dependent oracles derive their spec constants from this fixture
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)

#: DuckDB types with no exact Spark analogue — any oracle output column
#: matching one of these would hash-mismatch a value-identical Spark
#: result at the driver's type-aware compare — PLUS nested types
#: (LIST/ARRAY/STRUCT/MAP/UNION/JSON): the driver canonicalizes by
#: sorting a pandas frame, and list/struct cells are unhashable there
#: (the r10 corpus_to_token_ids failure class — r10 verdict #2).
#: Nested outputs must ship a deterministic scalar projection instead,
#: e.g. ``md5(to_json(col))`` identically on both sides.
FORBIDDEN = re.compile(
    r"^(HUGEINT|UHUGEINT|DECIMAL\b.*|UTINYINT|USMALLINT|UINTEGER|UBIGINT"
    r"|.*\[\d*\]|STRUCT\b.*|MAP\b.*|UNION\b.*|LIST\b.*|JSON)$",
    re.IGNORECASE)


def main() -> None:
    import __spark_entry__ as entry_mod
    from frames_map_reduce_spark.sources import STAR_TABLES

    con = duckdb.connect()
    for t in STAR_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    oracles = entry_mod.oracle_sql()
    bad: list[str] = []
    for name in sorted(oracles):
        try:
            rel = con.sql(oracles[name])
            cols = list(zip(rel.columns, [str(t) for t in rel.types]))
        except Exception as exc:  # a non-binding oracle is also a fail
            bad.append(f"{name}: oracle failed to bind: {exc}")
            continue
        for col, typ in cols:
            if FORBIDDEN.match(typ):
                bad.append(f"{name}.{col}: {typ}")
    if bad:
        print(f"FORBIDDEN oracle output types ({len(bad)}):")
        for line in bad:
            print(f"  {line}")
        sys.exit(1)
    print(f"oracle type lint: {len(oracles)} oracles, 0 forbidden output "
          f"column types (checked against {SF_DIR})")


if __name__ == "__main__":
    main()
