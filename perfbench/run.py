"""Benchmark command: one workload, one seed, one process.

    python3 perfbench/run.py --workload fold_analytics --seed 1 \
        --seconds 1 --trace 0

Run it from the root of a checkout.  It generates the seed's inputs under
``.perfbench_work/`` (removed again at exit), starts Spark on
``local[<cpus>]``, runs one verified pass, then repeats the workload's
operation sequence as a closed loop with one client until ``--seconds``
have passed and at least one pass is done.  The last line of standard
output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, the end-to-end metrics
with ``--trace 0`` and the per-layer metrics with ``--trace 1``.  The exit
code is 0 only when every operation ran and every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

STARTED = time.perf_counter()     # setup_s counts from here
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler:
    """Peak resident set of one process, sampled from /proc."""

    def __init__(self, pid: int, period: float = 0.02):
        self.pid, self.period, self.peak_kb = pid, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _read(self) -> int:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._read())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._read())
        return False


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out += kids.get(p, [])
        todo += kids.get(p, [])
    return out


def _jit_seconds(jvm: int) -> float:
    """CPU time of the JVM's JIT compiler threads.  They live as long as
    the JVM, since the launch turns off their dynamic retirement."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
                if not fh.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
            with open(f"/proc/{jvm}/task/{tid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_seconds(jvm: int) -> float:
    """CPU time used so far by this process, the JVM ``jvm`` and all of
    its descendants, reaped or running, less the JVM's JIT compiler
    threads.  Unlike wall time it does not grow while a shared host lends
    the CPUs to someone else.  The compilers still work through the few
    passes a run can afford, and how much they do varies from run to
    run; their work is warm-up, not the cost of a pass."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:2]) - _jit_seconds(jvm)
    for p in [jvm] + _descendants(jvm):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue                    # exited between listing and reading
        # utime, stime and the reaped children's cutime, cstime: every
        # tick counts once, in its process or in a live ancestor
        total += sum(int(x) for x in f[11:15]) / tick
    return total


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its reaper
    counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 work: str):
        self.wl, self.seed, self.seconds, self.trace = (workload, seed,
                                                        seconds, trace)
        self.work = work
        self.data = os.path.join(work, "data")
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # -- session -----------------------------------------------------------
    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "events"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir":
                    "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def _start_session(self):
        from frames_map_reduce_spark import get_spark
        n = cpus()
        spark = get_spark("perfbench", master=f"local[{n}]",
                          shuffle_partitions=2 * n, extra_conf=self._conf())
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        """Generate the seed's inputs, launch the JVM and the session and
        open every input.  ``setup_s`` runs from process start to the
        end of this, so it also counts the imports."""
        from inputs import generate
        self.truth = generate(self.data, self.seed, self.wl.sizes)
        if self.wl.prepare:
            self.wl.prepare(self.data, self.truth, self.seed)
        t1 = time.perf_counter()
        self.spark = self._start_session()
        t2 = time.perf_counter()
        for name in sorted(os.listdir(self.data)):
            if name.endswith(".parquet"):           # reads the footer
                self.spark.read.parquet(os.path.join(self.data, name))
        t3 = time.perf_counter()
        self.setup_s, self.session_s, self.warm_s = (t3 - STARTED, t2 - t1,
                                                     t3 - t2)

    # -- passes ------------------------------------------------------------
    def _run_op(self, ctx, op, weight: float):
        """Run one operation; returns (seconds, (result, digest)), or
        (None, None) if it raised.  In a traced run the operation's spans
        count with ``weight`` in the per-layer numbers."""
        from workloads import digest
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(op.name) as root:
                result = op.run(ctx)
        except Exception:          # noqa: BLE001 — one op must not end the run
            self.failed += 1
            self.errors.append(f"{op.name}: {traceback.format_exc()}")
            return None, None
        if root is not None:
            self.weights[root.id] = weight
        return time.perf_counter() - t0, (result, digest(result))

    def verified_pass(self, ctx) -> None:
        import duckdb

        import __spark_entry__ as entry
        from frames_map_reduce_spark.sources import STAR_TABLES
        from workloads import CheckFailed, check_oracle

        # the twins take seconds to render (some scan the inputs); render
        # them beside the first operations
        pool = ThreadPoolExecutor(1)
        oracles = pool.submit(entry.oracle_sql if any(
            op.oracle for op in self.ops) else dict)
        pool.shutdown(wait=False)
        duck = duckdb.connect()
        for t in STAR_TABLES:
            duck.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"'{self.data}/{t}.parquet'")
        ctx.state["duck"] = duck
        self.expected, self.cold = {}, {}
        for op in self.ops:
            # one-time operations run only here, so a traced run traces
            # them here
            self.tracer.enabled = self.trace and op.once
            secs, out = self._run_op(ctx, op, weight=1.0)
            self.tracer.enabled = False
            if out is None:
                continue
            result, dig = out
            try:
                if op.oracle:
                    check_oracle(duck, oracles.result()[op.oracle],
                                 result)
                if op.check:
                    op.check(ctx, result)
            except CheckFailed as e:
                self.failed += 1
                self.errors.append(f"{op.name}: {e}")
                continue
            self.expected[op.name] = dig
            self.cold[op.name] = secs
        log("cold: " + ", ".join(f"{k}={v:.2f}"
                                 for k, v in self.cold.items()))
        oracles.result()            # raises if rendering the twins failed
        duck.close()
        del ctx.state["duck"]

    def timed_passes(self, ctx) -> None:
        ops = [op for op in self.ops if not op.once]
        self.times: dict[str, list[float]] = {op.name: [] for op in ops}
        self.pass_times = {True: [], False: []}
        self.pass_cpu: list[float] = []
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.stream_progress = []
        deadline = time.perf_counter() + self.seconds
        # the same number of passes in every run keeps runs comparable
        # (the JIT still speeds up every pass); a traced run alternates
        # untraced and traced passes, and three give the traced pass an
        # untraced neighbour on both sides
        min_passes = 3 if self.trace else 1
        n = 0
        while n < min_passes or time.perf_counter() < deadline:
            traced = self.trace and n % 2 == 1
            self.tracer.enabled = traced
            total = 0.0
            cpu0 = cpu_seconds(jvm)
            for op in ops:
                secs, out = self._run_op(ctx, op, weight=-1.0)
                if out is None:
                    continue
                if out[1] != self.expected.get(op.name):
                    self.failed += 1
                    self.errors.append(f"{op.name}: output differs from "
                                       f"the verified pass")
                    continue
                total += secs
                if not traced:
                    self.times[op.name].append(secs)
            self.pass_times[traced].append(total)
            if not traced:
                self.pass_cpu.append(cpu_seconds(jvm) - cpu0)
            if "progress" in ctx.state and not traced:
                self.stream_progress.append(ctx.state.pop("progress"))
            n += 1
        self.tracer.enabled = False
        # a recurring operation's spans count once per traced pass
        n_traced = max(1, len(self.pass_times[True]))
        for root, w in self.weights.items():
            if w < 0:
                self.weights[root] = 1.0 / n_traced

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        from workloads import Ctx
        self.setup()
        self.ops = self.wl.ops()
        ctx = Ctx(self.spark, self.data, os.path.join(self.work, "out"),
                  self.truth)
        os.makedirs(ctx.work, exist_ok=True)
        from tracing import Tracer, install
        self.tracer = Tracer(self.spark.sparkContext)
        self.weights: dict[int, float] = {}
        if self.trace:
            install(self.tracer)
        log(f"set-up done at {self.setup_s:.1f}s (session "
            f"{self.session_s:.2f}s, inputs opened in {self.warm_s:.2f}s)")
        self.verified_pass(ctx)
        log(f"verified pass done at {time.perf_counter() - STARTED:.1f}s")
        self.verify_stats = dict(ctx.stats)
        jvm = self.spark.sparkContext._gateway.proc.pid
        if not self.errors:
            with RssSampler(jvm) as rss:
                self.timed_passes(ctx)
            self.peak_rss_mb = rss.peak_kb / 1024.0
            log(f"timed passes done at {time.perf_counter() - STARTED:.1f}s")
        self.written = [_tree_size(os.path.join(self.work, d))
                        for d in ("warehouse", "out")]
        return self.result()

    def result(self) -> dict:
        ok = not self.errors and self.failed == 0
        metrics = {}
        if ok:
            metrics = self.layer_metrics() if self.trace else self.e2e()
        for e in self.errors:
            log(f"FAILED {e}")
        return {"correct": ok, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def _op_medians(self) -> dict[str, float]:
        med = {k: statistics.median(v) for k, v in self.times.items() if v}
        log("op medians: " + ", ".join(f"{k}={v:.3f}"
                                       for k, v in med.items()))
        return med

    def e2e(self) -> dict:
        self._op_medians()                  # logged for the reader
        return _with_units({
            "setup_s": self.setup_s,
            "cpu_s": statistics.median(self.pass_cpu),
        })

    def phase_metrics(self) -> dict[str, float]:
        med = self._op_medians()
        by_phase: dict[str, float] = {}
        for op in self.ops:
            secs = self.cold[op.name] if op.once else med[op.name]
            by_phase[op.phase] = by_phase.get(op.phase, 0.0) + secs
        probes = [t for op in self.ops if op.phase == "probe"
                  for t in self.times[op.name]]
        out = {f"phase.{p}_s": by_phase.get(p, 0.0) for p in
               ("native_fold", "grouped_map", "curate", "dedup", "ann",
                "build", "extend")}
        out["phase.probe_p50_s"] = statistics.median(probes) if probes else 0
        batches = [p for prog in self.stream_progress for p in prog]
        trig = [p.durationMs.get("triggerExecution", 0) / 1000.0
                for p in batches]
        docs = sum(p.numInputRows for p in batches)
        out["phase.stream_batch_p50_s"] = statistics.median(trig) if trig \
            else 0.0
        out["phase.stream_docs_per_s"] = docs / sum(trig) if trig else 0.0
        out["phase.index_bytes_ratio"] = self._index_bytes_ratio()
        out["phase.cold_pass_s"] = sum(self.cold.values())
        out["phase.wall_s"] = sum(med.values())
        for key, phase in (("add_batch_ms", "addBatch"),
                           ("get_batch_ms", "getBatch"),
                           ("query_planning_ms", "queryPlanning"),
                           ("wal_commit_ms", "walCommit")):
            vals = [p.durationMs.get(phase, 0) for p in batches]
            out[f"streaming.{key}"] = statistics.median(vals) if vals else 0
        out["streaming.batches"] = (len(batches) / len(self.stream_progress)
                                    if self.stream_progress else 0)
        return out

    def _index_bytes_ratio(self) -> float:
        from workloads import INDEX_TABLES, REFERENCE_FILES
        wh = os.path.join(self.work, "warehouse")
        ref = [os.path.join(self.data, f"{f}.parquet")
               for f in REFERENCE_FILES]
        if not all(os.path.exists(p) for p in ref):
            return 0.0
        index = sum(_tree_size(os.path.join(wh, t.lower()))[1]
                    for t in INDEX_TABLES)
        return index / sum(os.path.getsize(p) for p in ref)

    def layer_metrics(self) -> dict:
        from tracing import find_event_log, layer_metrics, read_event_log
        app = self.spark.sparkContext.applicationId
        self.stop_session()
        jobs = read_event_log(find_event_log(
            os.path.join(self.work, "events"), app))
        traced = self.pass_times[True]
        untraced = self.pass_times[False]
        m = layer_metrics(self.tracer.spans, jobs, self.weights)
        m.update(self.phase_metrics())
        stats = self.verify_stats
        m["session.start_s"] = self.session_s
        m["session.warm_s"] = self.warm_s
        m["session.peak_rss_mb"] = self.peak_rss_mb
        m["sources.files_written"] = sum(f for f, _ in self.written)
        m["sources.bytes_written"] = sum(b for _, b in self.written)
        m["operators.bloom.fp_rate"] = _ratio(stats.get("fp", []))
        m["operators.dedup.pair_recall"] = _ratio(stats.get("pairs", []))
        m["operators.similarity.recall_at_k"] = stats.get("recall_at_k", 0.0)
        m["trace.overhead_s"] = (statistics.median(traced)
                                 - statistics.median(untraced))
        return _with_units(m)

    # -- teardown ----------------------------------------------------------
    def stop_session(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait for
        every one of them to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = gateway.proc
        children = _descendants(proc.pid)
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:          # noqa: BLE001 — fall back to a kill
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        while any(_alive(p) for p in children) and time.time() < deadline:
            time.sleep(0.05)
        for p in children:
            if _alive(p):
                os.kill(p, signal.SIGKILL)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("ratio", "rate", "recall", "recall_at_k")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def _with_units(values: dict) -> dict:
    return {k: {"value": float(v), "unit": _unit(k)}
            for k, v in sorted(values.items())}


def _ratio(pairs: list[tuple[int, int]]) -> float:
    den = sum(b for _, b in pairs)
    return sum(a for a, _ in pairs) / den if den else 0.0


def _tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksum files."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith(".") or name.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def _library_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in
               ("frames_map_reduce_spark/__init__.py", "__spark_entry__.py",
                "query_rigs.py"))


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _library_present():
        log(f"frames_map_reduce_spark is not under {ROOT}; run from the root "
            f"of a checkout")
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    n = cpus()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM (the launcher too): temp files in the checkout, no
        # hsperfdata file under /tmp, and JIT compiler threads that
        # cpu_seconds can find
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData "
                             "-XX:-UseDynamicNumberOfCompilerThreads "
                             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "SPARK_GRAFT_ORACLE_SF_DIR": os.path.join(work, "data"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    import tempfile
    tempfile.tempdir = None          # re-read TMPDIR
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace), work)
    try:
        result = bench.run()
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
