"""A/B the session-wide ANSI pin over the 8 bench rows that drifted
1.3-1.7x between the r10 and r11 driver bench runs with ZERO code
changes (r11 verdict, "What's wrong"): quality_classifier,
temperature_mixture, pack_extend, curate_corpus_v3, bloom_firewall,
semantic_dedup, mislabel_knn, dsir_select.  The one global change
touching every query in r11 was session.py pinning
``spark.sql.ansi.enabled=true`` (correct — the engine's exact-integer
staging relies on loud overflow), and these rows are exactly the
hash/integer-arithmetic-heavy ones; the r11 verdict directs (#1) an
attribution experiment before any future bench comparison is trusted.

Protocol: ``spark.sql.ansi.enabled`` is a runtime conf, so both arms
run in ONE session with samples INTERLEAVED (on, off, on, off, ...)
— the host throttles intermittently (±50% observed), and interleaving
puts both arms under the same thermal envelope so the ratio cancels
drift the way bench.py's calibration row cancels it across rounds.
Cache cleared before every sample (same rule as bench.py).

Output: a per-query table (median + IQR per arm, on/off ratio) on
stdout and a JSON record at tools/ANSI_AB.json for BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import query_rigs as R  # noqa: E402
from frames_map_reduce_spark.session import get_spark  # noqa: E402

DRIFTED = [
    "quality_classifier", "temperature_mixture", "pack_extend",
    "curate_corpus_v3", "bloom_firewall", "semantic_dedup",
    "mislabel_knn", "dsir_select",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    spark = get_spark("fmr-ansi-ab",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    queries = {s.name: s.rig for s in R.QUERY_TABLE}

    # warm JVM + Arrow worker pool exactly like bench.py
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.count()
    li.select("l_orderkey").repartition(32) \
      .mapInPandas(lambda bs: (b for b in bs), "l_orderkey long").count()

    record: dict[str, dict] = {}
    for name in DRIFTED:
        fn = queries[name]
        samples: dict[str, list[float]] = {"on": [], "off": []}
        for _ in range(n_reps):
            for mode in ("on", "off"):
                spark.conf.set("spark.sql.ansi.enabled",
                               "true" if mode == "on" else "false")
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                out = fn(spark, sf_dir)
                out.collect()
                samples[mode].append(time.perf_counter() - t0)
        spark.conf.set("spark.sql.ansi.enabled", "true")  # restore pin
        med = {m: round(statistics.median(s), 3) for m, s in samples.items()}
        iqr = {}
        for m, s in samples.items():
            s = sorted(s)
            if len(s) >= 2:
                q1, _, q3 = statistics.quantiles(s, n=4, method="inclusive")
            else:
                q1 = q3 = s[0]
            iqr[m] = round(q3 - q1, 3)
        ratio = round(med["on"] / med["off"], 3) if med["off"] else None
        record[name] = {
            "ansi_on_median": med["on"], "ansi_on_iqr": iqr["on"],
            "ansi_off_median": med["off"], "ansi_off_iqr": iqr["off"],
            "on_over_off": ratio,
            "samples_on": [round(x, 3) for x in samples["on"]],
            "samples_off": [round(x, 3) for x in samples["off"]],
        }
        print(f"# {name}: on {med['on']}s (iqr {iqr['on']}) / "
              f"off {med['off']}s (iqr {iqr['off']}) -> ratio {ratio}",
              flush=True)

    totals = {
        "on": round(sum(r["ansi_on_median"] for r in record.values()), 3),
        "off": round(sum(r["ansi_off_median"] for r in record.values()), 3),
    }
    totals["on_over_off"] = round(totals["on"] / totals["off"], 3)
    out = {"sf_dir": sf_dir, "n_reps": n_reps, "queries": record,
           "total": totals,
           "protocol": "interleaved on/off samples, one session, "
                       "cache cleared per sample"}
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "ANSI_AB.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(totals), flush=True)


if __name__ == "__main__":
    main()
