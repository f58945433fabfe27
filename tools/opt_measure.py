"""Optimization-round measurement harness (guide §1).

Times individual QUERY_TABLE rows with the bench's protocol (clearCache
per sample, perf_counter around fn+collect) WITHOUT the full-suite cost,
and captures ``.explain("formatted")`` for the returned plan of each
query into ``plans/<tag>/<query>_<suffix>.txt``.

Usage:
    python tools/opt_measure.py [--reps N] [--plans-dir plans/r13]
        [--suffix before|after] [--no-time] query [query ...]

Notes:
  - Same session config as bench.py (local[$SPARK_GRAFT_CPUS], progress
    bars off); each query labeled via setJobDescription so a UI-enabled
    run attributes stages.
  - Index-building rigs execute work eagerly at plan-construction time;
    the captured plan covers the RETURNED frame (the probe/read side),
    which is what the final collect pays.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import query_rigs as R  # noqa: E402
from frames_map_reduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-time", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("fmr-opt-measure",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    queries = {s.name: s.rig for s in R.QUERY_TABLE}

    # same warmup as bench.py so the first sample isn't session startup
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.count()

    def _ident(batches):
        for pdf in batches:
            yield pdf

    li.select("l_orderkey").repartition(32) \
      .mapInPandas(_ident, "l_orderkey long").count()

    for name in args.queries:
        fn = queries[name]
        if args.plans_dir:
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"plan: {name}")
            out = fn(spark, sf_dir)
            if out is not None:
                import contextlib
                import io
                os.makedirs(args.plans_dir, exist_ok=True)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    out.explain("formatted")
                with open(os.path.join(
                        args.plans_dir,
                        f"{name}_{args.suffix}.txt"), "w") as f:
                    f.write(buf.getvalue())
        if args.no_time:
            continue
        samples = []
        for i in range(args.reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} [{i}]")
            t0 = time.perf_counter()
            out = fn(spark, sf_dir)
            rows = out.collect() if out is not None else []
            samples.append(time.perf_counter() - t0)
        samples.sort()
        med = statistics.median(samples)
        print(f"{name}: median {med:.3f}s of "
              f"{[round(s, 2) for s in samples]} ({len(rows)} rows)",
              flush=True)


if __name__ == "__main__":
    main()
