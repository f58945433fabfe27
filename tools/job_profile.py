"""Job-census profiler (optimization guide §1.1/§1.5): run QUERY_TABLE
rows with the Spark event log enabled and report, per query, the
job-level structure — how many driver actions ran, how long each job
took, and how much wall time fell in DRIVER GAPS between jobs (plan
compile, py4j round-trips, catalog ops, pure-Python work).  At sf0.1
many rigs are bounded by this fixed structure rather than by task
compute, so the census tells us *which* lever (guide §1.2 step 1 vs 3)
each row still has.

Usage:
    python tools/job_profile.py query [query ...] [--reps N]

Prints per query: wall, n_jobs, sum(job durations), driver-gap total,
and the top jobs by duration with their descriptions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import query_rigs as R  # noqa: E402
from frames_map_reduce_spark.session import get_spark  # noqa: E402


def parse_events(log_dir: str):
    """Yield (event dict) from every event-log file under log_dir."""
    for name in os.listdir(log_dir):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path, errors="replace") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--top", type=int, default=12)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = tempfile.mkdtemp(prefix="fmr_eventlog_")
    spark = get_spark("fmr-job-profile", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
    })
    spark.sparkContext.setLogLevel("ERROR")
    queries = {s.name: s.rig for s in R.QUERY_TABLE}

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.count()

    def _ident(batches):
        for pdf in batches:
            yield pdf

    li.select("l_orderkey").repartition(32) \
      .mapInPandas(_ident, "l_orderkey long").count()

    marks = {}
    for name in args.queries:
        fn = queries[name]
        walls = []
        for i in range(args.reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"Q:{name}:{i}")
            t0 = time.time()
            out = fn(spark, sf_dir)
            _ = out.collect() if out is not None else []
            walls.append(time.time() - t0)
            marks.setdefault(name, []).append((t0 * 1000, time.time() * 1000))
        spark.sparkContext.setJobDescription(None)
        print(f"# {name}: walls {[round(w, 2) for w in walls]}",
              file=sys.stderr)

    spark.stop()
    time.sleep(1.0)

    jobs = {}  # job_id -> dict
    for ev in parse_events(log_dir):
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"],
                "desc": props.get("spark.job.description", ""),
                "stages": len(ev.get("Stage IDs", [])),
                "end": None,
            }
        elif et == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev["Completion Time"]

    for name, spans in marks.items():
        # attribute jobs to this query's LAST rep window
        t0, t1 = spans[-1]
        # window attribution: queries run serially, and rigs that spawn
        # threads or streaming queries override the thread-local job
        # description — the time window is the reliable owner signal
        mine = [j for j in jobs.values()
                if j["end"] is not None and j["start"] >= t0 - 50
                and j["start"] <= t1 + 50]
        mine.sort(key=lambda j: j["start"])
        wall = (t1 - t0) / 1000
        busy = sum(j["end"] - j["start"] for j in mine) / 1000
        # driver gap: wall minus union of job intervals
        union = 0.0
        cur_s = cur_e = None
        for j in mine:
            if cur_e is None or j["start"] > cur_e:
                if cur_e is not None:
                    union += cur_e - cur_s
                cur_s, cur_e = j["start"], j["end"]
            else:
                cur_e = max(cur_e, j["end"])
        if cur_e is not None:
            union += cur_e - cur_s
        union /= 1000
        print(f"\n== {name}: wall {wall:.2f}s, jobs {len(mine)}, "
              f"job-time sum {busy:.2f}s, job-union {union:.2f}s, "
              f"driver-gap {wall - union:.2f}s")
        big = sorted(mine, key=lambda j: j["end"] - j["start"],
                     reverse=True)[: args.top]
        for j in big:
            print(f"   {(j['end'] - j['start']) / 1000:6.2f}s  "
                  f"stages={j['stages']:2d}  t+{(j['start'] - t0) / 1000:6.2f}s"
                  f"  {j['desc'][:70]}")

    shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
