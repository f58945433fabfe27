"""Large-geometry Bloom scale point (r8 verdict #3): validate the
sizing loop END TO END at a ≥2^26-bit geometry — ``suggest_geometry``
picks (m_bits, k) for a target FPR, the index is built at that geometry
over a synthetic distinct-doc corpus, the generation monitor's
``expected_fpr`` (occupancy estimate from the REAL set_bits) is read
back, and a half-member/half-novel probe batch measures the actual
false-positive rate.  All three numbers must line up: measured ≈
expected_fpr ≤ target (the design inequality, with power-of-two slack).

Protocol mirrors BENCH_SCALE.md's 50M point (synthetic ``spark.range``
docs — distinct canonical forms by construction, so every novel-side
flag is a true false positive):

    python tools/bloom_scale_point.py [n_docs] [target_fpr]

Defaults: 4,000,000 docs at 1e-3 → suggest_geometry picks m=2^26, k=12
(≈16.8 bits/doc).  Prints one JSON line for BENCH_SCALE.md.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from frames_map_reduce_spark.operators import bloom as BL
from frames_map_reduce_spark.session import get_spark


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    target = float(sys.argv[2]) if len(sys.argv) > 2 else 1e-3
    geo = BL.suggest_geometry(n_docs, target)
    print(f"suggest_geometry({n_docs}, {target}) -> {geo}", flush=True)

    spark = get_spark("bloom-scale-point")
    table = "bloom_scale_point"
    for suffix in ("words", "words_old", "words_rebuild"):
        spark.sql(f"DROP TABLE IF EXISTS {table}_{suffix}")

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.format_string("synthetic scale document number %d", "id")
         .alias("text"))
    t0 = time.time()
    BL.build_bloom_index(docs, table, "text",
                         m_bits=geo["m_bits"], k=geo["k"])
    build_s = round(time.time() - t0, 1)

    t0 = time.time()
    stats = BL.expected_fpr(spark, table).collect()[0].asDict()
    stats_s = round(time.time() - t0, 1)

    # 100k members + 100k novel (ids past the corpus — distinct text)
    probes = spark.range(n_docs - 100_000, n_docs + 100_000).select(
        F.col("id").alias("doc_id"),
        F.format_string("synthetic scale document number %d", "id")
         .alias("text"))
    t0 = time.time()
    verdicts = BL.bloom_probe_index(spark, table, probes, "text",
                                    "doc_id", m_bits=geo["m_bits"],
                                    k=geo["k"])
    agg = verdicts.agg(
        F.sum(F.when(F.col("doc_id") < n_docs,
                     F.col("maybe_dup").cast("int"))).alias("members"),
        F.sum(F.when(F.col("doc_id") >= n_docs,
                     F.col("maybe_dup").cast("int"))).alias("fps"),
    ).collect()[0]
    probe_s = round(time.time() - t0, 1)

    measured_fpr = agg["fps"] / 100_000
    record = {
        "n_docs": n_docs, "target_fpr": target,
        "m_bits": geo["m_bits"], "k": geo["k"],
        "bits_per_doc": round(geo["m_bits"] / n_docs, 1),
        "design_fpr_at_n": round(geo["fpr_at_n"], 8),
        "build_s": build_s, "stats_s": stats_s, "probe_s": probe_s,
        "n_words": stats["n_words"], "set_bits": stats["set_bits"],
        "expected_fpr": round(stats["expected_fpr"], 8),
        "members_flagged": agg["members"],      # must be 100000
        "false_positives": agg["fps"],
        "measured_fpr": measured_fpr,
    }
    assert agg["members"] == 100_000, "false negative — impossible"
    for suffix in ("words", "words_old", "words_rebuild"):
        spark.sql(f"DROP TABLE IF EXISTS {table}_{suffix}")
    print(json.dumps(record))


if __name__ == "__main__":
    main()
