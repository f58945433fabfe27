"""Scale-curve harness: materialize an sf1.0-equivalent dataset (10x
sf0.1) under /tmp and run the headline suite at both scales, so the
100 TB design claims rest on a measured curve, not only on plan shapes.

Usage:
    python bench_scale.py generate   # build /tmp/fmr_sf1.0 (idempotent)
    SPARK_GRAFT_SF_DIR=/tmp/fmr_sf1.0 python bench.py   # then bench it
    python bench_scale.py verify     # full CORRECTNESS parity at sf1.0
                                     # -> SCALE_PARITY.json (r5 verdict #9)

Verify mode is the standing regression gate for correctness AT SCALE
(wall-time regressions are bench.py's job): every registry query runs
against the sf1.0 replica and, where the DuckDB twin is tractable,
is value-compared with the same sort-columns/sort-rows canonicalization
the driver uses.  Twins that are SUPER-LINEAR in the corpus (the
exhaustive all-pairs Jaccard oracles, the recursive-CTE closures) are
intractable at 50k docs by construction — those queries still RUN at
scale and record row counts (a crash or empty-result regression is
caught), with the skip reason recorded in the JSON; their value parity
is proven at sf0.001/0.01 where the quadratic twin is affordable.

Scaling model (replica construction, fully deterministic):

- every keyed table is unioned 10x with key offsets of r * 10^10 per
  replica r, so joins stay 1:1 (orders<->lineitem, customer<->orders,
  part/supplier<->lineitem, user_id<->events) and group cardinalities
  scale linearly — the same shape a 10x bigger generator run would give;
- region/nation stay fixed (dimensions);
- document text is Caesar-rotated per replica (letters only, case
  preserved): token/shingle STRUCTURE — lengths, whitespace, repetition
  — is preserved so per-doc work is identical, while content becomes
  replica-distinct so dedup semantics scale linearly (10 exact copies
  per doc would instead explode near-dup classes quadratically, which
  benchmarks the corpus, not the engine);
- embeddings keep their vector values (scoring cost is value-blind);
  ann queries draw their 5 probe vectors from vec_id < 5, i.e. replica
  0 only, so query count stays fixed while the corpus scales 10x.

Timestamps are left untouched: 10x events in the same wall-clock span
is exactly what 10x traffic looks like to windowed aggregations.
"""

from __future__ import annotations

import os
import string
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SRC = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SCALE_DST", "/tmp/fmr_sf1.0")
FACTOR = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
OFF = 10_000_000_000  # replica key offset; >> any base key at sf0.1

KEY_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]

_ALPHA = string.ascii_lowercase
_UPPER = string.ascii_uppercase


def _rotated_text(col, r_col):
    """CASE over replica id: Caesar-rotate letters by r (r=0 passes
    through).  translate() needs constant alphabets, hence the unrolled
    branches — FACTOR is small and this runs once, at generation."""
    out = F.when(r_col == 0, col)
    for r in range(1, FACTOR):
        rot = _ALPHA[r:] + _ALPHA[:r] + _UPPER[r:] + _UPPER[:r]
        out = out.when(r_col == r, F.translate(col, _ALPHA + _UPPER, rot))
    return out


def _scale_table(df: DataFrame, name: str) -> DataFrame:
    reps = df.sparkSession.range(FACTOR).select(F.col("id").alias("_r"))
    wide = df.crossJoin(reps)
    for k in KEY_COLS[name]:
        wide = wide.withColumn(k, F.col(k) + F.col("_r") * F.lit(OFF))
    if name == "documents":
        wide = wide.withColumn("text", _rotated_text(F.col("text"), F.col("_r")))
    return wide.drop("_r").repartition(32)


def generate() -> None:
    from frames_map_reduce_spark.session import get_spark
    spark: SparkSession = get_spark("fmr-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in DIMS + list(KEY_COLS):
        dst = f"{DST}/{name}.parquet"
        if os.path.exists(f"{dst}/_SUCCESS"):
            print(f"# {name}: exists, skipping", file=sys.stderr)
            continue
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        out = df if name in DIMS else _scale_table(df, name)
        out.write.mode("overwrite").parquet(dst)
        print(f"# {name}: {spark.read.parquet(dst).count()} rows",
              file=sys.stderr)
    print(f"# scale data ready at {DST}", file=sys.stderr)


#: oracles whose DuckDB twin is super-linear in the corpus (exhaustive
#: all-pairs Jaccard / SRP replays, recursive-CTE transitive closures):
#: value-proven at sf0.001/0.01, rows-only at the sf1.0 gate.
SUPER_LINEAR_ORACLES = {
    # r13: the eight Jaccard-twin queries moved OFF this list — their
    # oracles are now the prefix-filtered bitstring-verify form
    # (dedup.jaccard_pairs_prefix_sql), run at the gate via the staged
    # temp-table rendering (query_rigs.scale_staged_oracles) — full-value
    # exact at sf1.0 in ~2-5 min each instead of intractable.
    "dedup_simhash": "exhaustive all-pairs Hamming/spec replay twin",
    "embedding_neardup": "all-pairs cosine twin",
}


def _norm(v):
    import datetime as _dt
    import math
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _canon(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(
        (v is None, str(type(v)), str(v)) for v in t))


def _ulp_equal(a_rows, b_rows, abs_tol=1.5e-6, rel_tol=1e-8):
    """Exact equality except float cells, which may differ by one
    ROUNDING STEP of the query's published precision.  Queries emitting
    ``round(sum/avg(doubles), k)`` sit on rounding boundaries two ways:
    (1) the double sum accumulates in engine-specific order, so at scale
    a handful of groups land one ulp across the boundary (and can flip
    run-to-run); (2) a mean that is EXACTLY on a decimal tie rounds
    differently by construction — Spark's round() rounds the shortest
    decimal representation (BigDecimal.valueOf) while DuckDB rounds the
    exact binary.  A flip is one step of the published granularity:
    1e-6 for the 6dp averages (absolute), 0.01 for the 2dp money sums —
    huge aggregates, hence the RELATIVE bound (observed: 0.01 on
    7.2e7 ⇒ 1.4e-10 relative; a genuinely dropped row would move the
    sum orders of magnitude more than 1e-8 relative).  The driver gate
    at sf0.01 stays EXACT; this sf1.0 gate separates boundary flips
    (recorded, counted) from real divergence (FAIL).  Rows are aligned
    by their non-float cells so a flipped float cannot misalign the
    sort; rows SHARING non-float cells (duplicate group keys differing
    only in float columns — r6 ADVICE) are matched as a multiset within
    the key group (exact permutation search for small groups) so a
    wobble cannot pair Spark and DuckDB rows differently and fake a
    FAIL — or mask a real one."""
    from collections import defaultdict
    from itertools import permutations

    def key(t):
        return tuple(str(v) for v in t if not isinstance(v, float))

    def pair_ok(ra, rb):
        # (matches?, n_ulp_cells) for one candidate row pairing
        if len(ra) != len(rb):
            return False, 0
        n = 0
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if va == vb:
                    continue
                d = abs(va - vb)
                if d <= abs_tol or d <= rel_tol * max(abs(va), abs(vb)):
                    n += 1
                    continue
                return False, 0
            elif va != vb:
                return False, 0
        return True, n

    ga, gb = defaultdict(list), defaultdict(list)
    for r in a_rows:
        ga[key(r)].append(r)
    for r in b_rows:
        gb[key(r)].append(r)
    if set(ga) != set(gb):
        return False, 0
    n_ulp = 0
    for k, la in ga.items():
        lb = gb[k]
        if len(la) != len(lb):
            return False, 0
        if len(la) == 1:
            ok, n = pair_ok(la[0], lb[0])
            if not ok:
                return False, 0
            n_ulp += n
            continue
        # duplicate non-float key: find a perfect matching.  Exact
        # permutation search for small groups; larger groups align by
        # float cells rounded to the published precision (coarse enough
        # that both engines sort wobbling values identically in
        # practice, and any residual mispairing still has to pass
        # pair_ok to count as equal).
        if len(la) <= 6:
            best = None
            for perm in permutations(lb):
                total = 0
                for ra, rb in zip(la, perm):
                    ok, n = pair_ok(ra, rb)
                    if not ok:
                        break
                    total += n
                else:
                    if best is None or total < best:
                        best = total
            if best is None:
                return False, 0
            n_ulp += best
        else:
            def fkey(t):
                return tuple(round(v, 5) if isinstance(v, float) else None
                             for v in t)
            for ra, rb in zip(sorted(la, key=fkey), sorted(lb, key=fkey)):
                ok, n = pair_ok(ra, rb)
                if not ok:
                    return False, 0
                n_ulp += n
    return True, n_ulp


#: deterministic doc-slice modulus for the sliced-exact pass (r11
#: verdict #5): at sf1.0 the `% 10 == 0` slice holds ~1/10 of the docs
#: — the quadratic twins cost what they already pay at sf0.1, but the
#: values proven are sf1.0's (replica-rotated text, offset keys).
SLICE_MOD = 10
#: the corpus tables the super-linear queries read; everything else is
#: symlinked into the slice replica unchanged
SLICE_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


def generate_slice(src: str, mod: int = SLICE_MOD) -> str:
    """Materialize the deterministic doc-slice replica of ``src``:
    documents/embeddings filtered to ``key % mod == 0`` (one
    column-pruned scan each), every other table symlinked.  Idempotent
    per (src, mod)."""
    import shutil

    from frames_map_reduce_spark.session import get_spark
    from frames_map_reduce_spark.sources import STAR_TABLES

    dst = f"/tmp/fmr_slice_{mod}_{os.path.basename(src.rstrip('/'))}"
    marker = os.path.join(dst, "_SLICE_OK")
    if os.path.exists(marker):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    spark = get_spark("fmr-slice-gen")
    from pyspark.sql import functions as F
    for t in STAR_TABLES:
        sp = f"{src}/{t}.parquet"
        dp = f"{dst}/{t}.parquet"
        if t in SLICE_KEYS:
            (spark.read.parquet(sp)
                  .filter(F.col(SLICE_KEYS[t]) % mod == 0)
                  .write.parquet(dp))
        else:
            os.symlink(os.path.abspath(sp), dp)
    with open(marker, "w") as f:
        f.write(f"src={src} mod={mod}\n")
    return dst


def _compare_one(spark, con, fn, name: str, oracle: str | None,
                 sf_dir: str, skip_oracle_reason: str | None,
                 setup: list | None = None) -> dict:
    """Run one registry query at ``sf_dir`` and value-compare against
    its DuckDB twin (``con``'s views must already point at the same
    fixture).  Returns the SCALE_PARITY record for the query."""
    import time
    rec: dict = {}
    t0 = time.perf_counter()
    try:
        spark.catalog.clearCache()
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        rec["spark_rows"] = len(srows)
        rec["spark_sec"] = round(time.perf_counter() - t0, 2)
        if skip_oracle_reason is not None:
            rec["status"] = "rows_only_at_scale"
            rec["reason"] = skip_oracle_reason
        elif oracle is None:
            rec["status"] = "rows_only"
        else:
            t1 = time.perf_counter()
            for stmt in setup or ():
                con.execute(stmt)
            rel = con.sql(oracle)
            dcols = list(rel.columns)
            drows = rel.fetchall()
            rec["oracle_sec"] = round(time.perf_counter() - t1, 2)
            rec["oracle_rows"] = len(drows)
            shape_ok = (sorted(scols) == sorted(dcols)
                        and len(srows) == len(drows))
            a, b = _canon(srows, scols), _canon(drows, dcols)
            if shape_ok and a == b:
                rec["status"] = "pass"
            elif shape_ok:
                ok, n_ulp = _ulp_equal(a, b)
                if ok:
                    rec["status"] = "pass_float_ulp"
                    rec["n_ulp_cells"] = n_ulp
                else:
                    rec["status"] = "FAIL"
            else:
                rec["status"] = "FAIL"
    except Exception as exc:  # noqa: BLE001 — record, keep going
        rec["status"] = "ERROR"
        rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
    return rec


def verify(sf_dir: str = DST) -> int:
    """Run every registry query at ``sf_dir`` and value-compare against
    its DuckDB twin where tractable; write SCALE_PARITY.json.  Returns
    the number of failures (CI-style exit code).

    Queries whose twins are SUPER-LINEAR get a second, SLICED-EXACT
    pass (r11 verdict #5): the same query + the same quadratic twin run
    over the deterministic ``doc_id % {SLICE_MOD} == 0`` replica of
    ``sf_dir`` — oracle cost back at the sf0.1 level, but the values
    proven are this fixture's.  Their top-level status upgrades to
    ``pass_sliced_exact`` on success, with the slice record attached."""
    import json

    import duckdb

    # data-dependent oracles (ann_ivf centroid replay) must track this
    # run's fixture; an unreplayable fixture degrades those two entries
    # to rows-only via oracle_sql()'s guard
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    import __spark_entry__ as entry
    import query_rigs
    from frames_map_reduce_spark.session import get_spark
    from frames_map_reduce_spark.sources import STAR_TABLES

    spark = get_spark("fmr-scale-verify")
    spark.sparkContext.setLogLevel("ERROR")

    def make_con(d: str):
        c = duckdb.connect()
        for t in STAR_TABLES:
            # testdata ships single-file tables; the replica generator
            # writes Spark DIRECTORIES — glob the parts in that case
            p = f"{d}/{t}.parquet"
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        return c

    con = make_con(sf_dir)
    queries = entry.queries()
    oracles = entry.oracle_sql()
    # staged temp-table rendering of the Jaccard twins
    staged = query_rigs.scale_staged_oracles()
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        setup, oracle = staged.get(name, (None, oracles.get(name)))
        rec = _compare_one(spark, con, fn, name, oracle,
                           sf_dir, SUPER_LINEAR_ORACLES.get(name),
                           setup=setup)
        results[name] = rec
        print(f"# {name}: {rec['status']} "
              f"({rec.get('spark_sec', '?')}s spark"
              f"{', ' + str(rec.get('oracle_sec')) + 's oracle' if 'oracle_sec' in rec else ''})",
              file=sys.stderr)

    # sliced-exact pass for the super-linear twins
    slice_dir = generate_slice(sf_dir)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = slice_dir
    # data-dependent oracle caches are keyed by fixture path, so a fresh
    # oracle_sql() against the slice resolves its own constants
    slice_oracles = entry.oracle_sql()
    scon = make_con(slice_dir)
    for name in SUPER_LINEAR_ORACLES:
        if name not in queries:
            continue
        srec = _compare_one(spark, scon, queries[name], name,
                            slice_oracles.get(name), slice_dir, None)
        srec["slice"] = f"% {SLICE_MOD} == 0 of {sf_dir}"
        results[name]["sliced"] = srec
        if srec["status"] in ("pass", "pass_float_ulp") \
                and results[name]["status"] == "rows_only_at_scale":
            results[name]["status"] = ("pass_sliced_exact"
                                       if srec["status"] == "pass"
                                       else "pass_sliced_exact_ulp")
        print(f"# {name} [sliced]: {srec['status']} "
              f"({srec.get('spark_sec', '?')}s spark"
              f"{', ' + str(srec.get('oracle_sec')) + 's oracle' if 'oracle_sec' in srec else ''})",
              file=sys.stderr)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    n_fail = sum(1 for r in results.values()
                 if r["status"] in ("FAIL", "ERROR"))

    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "n_pass": sum(1 for r in results.values() if r["status"] == "pass"),
        "n_pass_float_ulp": sum(1 for r in results.values()
                                if r["status"] == "pass_float_ulp"),
        "n_rows_only": sum(1 for r in results.values()
                           if r["status"].startswith("rows_only")),
        "n_pass_sliced_exact": sum(1 for r in results.values()
                                   if r["status"].startswith(
                                       "pass_sliced_exact")),
        "n_fail": n_fail,
        "queries": results,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "SCALE_PARITY.json"), "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")
    print(json.dumps({k: summary[k] for k in
                      ("sf_dir", "n_queries", "n_pass", "n_pass_float_ulp",
                       "n_rows_only", "n_pass_sliced_exact", "n_fail")}))
    return n_fail


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "generate":
        generate()
    elif len(sys.argv) > 1 and sys.argv[1] == "verify":
        sys.exit(1 if verify(sys.argv[2] if len(sys.argv) > 2 else DST)
                 else 0)
    else:
        print(__doc__)
