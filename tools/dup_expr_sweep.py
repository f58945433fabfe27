"""Static sweep for the guide-§4.4-analogue double evaluation of
EXPENSIVE JVM expressions (the change-18 clean_corpus trap): when a
filter references a derived column, predicate pushdown can clone the
defining expression below the filter, so the plan evaluates it twice
per surviving row.

Detection: for every declared query's RETURNED plan (simple mode —
one line per operator, full expression text), count occurrences of
expensive-expression markers per plan and flag plans where a marker
string appears in BOTH a Filter line and a Project line, or where a
long literal regex pattern appears more than once.

Static only — builds plans, runs nothing.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import query_rigs as R  # noqa: E402
from frames_map_reduce_spark.session import get_spark  # noqa: E402

MARKERS = [
    "regexp_extract_all", "regexp_replace", "regexp_count",
    "sentences(", "zip_with", "aggregate(", "transform(", "xxhash64",
    "sha2(", "md5(", "crc32(",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("fmr-dup-sweep",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = {s.name: s.rig for s in R.QUERY_TABLE}
    flagged = []
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — sweep, not a gate
            print(f"{name}: PLAN ERROR {type(e).__name__}: {e}",
                  file=sys.stderr)
            continue
        lines = plan.splitlines()
        filt = [ln for ln in lines if re.search(r"\bFilter\b", ln)]
        proj = [ln for ln in lines if "Project" in ln]
        hits = []
        for m in MARKERS:
            n_f = sum(ln.count(m) for ln in filt)
            n_p = sum(ln.count(m) for ln in proj)
            if n_f and n_p:
                hits.append(f"{m} filter×{n_f} project×{n_p}")
        # long regex literals appearing twice anywhere (dup subtree)
        pats = re.findall(r"regexp_\w+\([^,]+, ([^,)]{25,}?)[,)]", plan)
        from collections import Counter
        dup_pats = [p for p, c in Counter(pats).items() if c > 1]
        if hits or dup_pats:
            flagged.append(name)
            print(f"== {name}")
            for h in hits:
                print(f"   {h}")
            for p in dup_pats[:3]:
                print(f"   dup regex literal ×{Counter(pats)[p]}: {p[:60]}")
    print(f"\nflagged: {len(flagged)} / {len(qs)}")


if __name__ == "__main__":
    main()
