"""Full-gate 10× geometry point (r9 verdict stretch #9): run the
one-time gate build with ``m_bits="auto"`` and the recurring streaming
probe (stream_gate_v2) at BOTH sf0.1 and the sf1.0 replica, recording
the geometry the auto path picks at each scale — the claim under test
is that under real 10× corpus growth the sizing loop chooses a sanely
larger filter (power-of-two steps of the n·ln(p)/ln²2 optimum) instead
of silently overfilling a fixed one, and that build/probe wall times
stay sublinear in rows.

Protocol mirrors tools/bloom_scale_point.py: requires the replica
(``python bench_scale.py generate``), prints one JSON line per scale
for BENCH_SCALE.md.

    python tools/gate_scale_point.py [sf_dir ...]

Defaults: /root/testdata/sf0.1 and /tmp/fmr_sf1.0.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from frames_map_reduce_spark.operators import bloom as BL
from frames_map_reduce_spark.operators import classifier as CLF
from frames_map_reduce_spark.operators import dedup as DD
from frames_map_reduce_spark.session import get_spark

QCLF_BUCKETS = 1024  # the registry classifier capacity (query_rigs)


def point(spark, sf_dir: str, tag: str) -> dict:
    from frames_map_reduce_spark.streaming import stream_ingest_gate_v2

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    bloom_t = f"gate_scale_bloom_{tag}"
    mh_t = f"gate_scale_mh_{tag}"
    for t in (f"{bloom_t}_words", f"{bloom_t}_words_old",
              f"{mh_t}_buckets", f"{mh_t}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    t0 = time.time()
    m_bits, k = BL.build_bloom_index(ref, bloom_t, "text", m_bits="auto")
    bloom_s = round(time.time() - t0, 2)
    t0 = time.time()
    DD.build_minhash_index(ref, mh_t, "text", "doc_id")
    mh_s = round(time.time() - t0, 2)

    words = [(r["_word"], r["_bits"]) for r in
             spark.table(f"{bloom_t}_words")
                  .groupBy("_word").agg(F.bit_or("_bits").alias("_bits"))
                  .collect()]
    labeled = docs.withColumn("_is_en", F.col("lang") == F.lit("en"))
    weights = [(r["bucket"], r["weight"]) for r in
               CLF.train_logodds_classifier(labeled, "text", "_is_en",
                                            n_buckets=QCLF_BUCKETS,
                                            salt="qclf").collect()]
    base = f"/tmp/fmr_gate_scale_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    inc = docs.filter(F.col("doc_id") % 4 != 0) \
              .select("doc_id", "source", "text")
    inc.repartition(8).write.parquet(f"{base}/in")
    stream = spark.readStream.schema(inc.schema).parquet(f"{base}/in")
    t0 = time.time()
    q = stream_ingest_gate_v2(stream, words, weights, "text", "doc_id",
                              mh_t, f"{base}/out",
                              n_buckets=QCLF_BUCKETS, salt="qclf",
                              threshold=0.6,
                              m_bits=m_bits, k=k,
                              checkpoint=f"{base}/ckpt")
    q.awaitTermination()
    n_out = spark.read.parquet(f"{base}/out").count()
    probe_s = round(time.time() - t0, 2)
    fpr = BL.expected_fpr(spark, bloom_t).collect()[0]
    return {"sf_dir": sf_dir, "n_docs": docs.count(),
            "auto_m_bits": m_bits, "auto_k": k,
            "expected_fpr": round(fpr["expected_fpr"], 8),
            "gate_build_bloom_s": bloom_s, "gate_build_minhash_s": mh_s,
            "stream_gate_v2_probe_s": probe_s, "gated_rows": n_out}


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/fmr_sf1.0"]
    spark = get_spark("gate-scale-point")
    for i, d in enumerate(dirs):
        print(json.dumps(point(spark, d, f"s{i}")), flush=True)


if __name__ == "__main__":
    main()
