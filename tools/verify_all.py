"""One-command release check: chain every correctness and bench gate
and write a single VERIFY.json, so the whole green wall comes from one
entry point.

    python tools/verify_all.py              # full: all six gates
    python tools/verify_all.py --fast       # skip the sf1.0 scale gate

Gates, in order (each recorded with wall time and pass/fail; a failing
gate does not stop the later ones — the artifact should show the WHOLE
wall, not the first brick):

0. oracle_types — tools/lint_oracle_types.py binds every oracle in
   DuckDB and fails on HUGEINT/DECIMAL/unsigned output columns (the
   r7 label_outliers hash-red class).
1. pytest  — the unit/law/fuzz suite, including the sf0.001 oracle
   parity run of every registry query (tests/test_oracle_parity.py).
2. parity@sf0.01 — the same differential suite at the driver's
   correctness scale (SPARK_GRAFT_TEST_SF_DIR).
3. perfbench — one repo-benchmark run (perfbench/run.py, seed 1,
   --trace 0) per workload BENCHMARK.json declares; a run fails on any
   failed operation or check.  Records each run's JSON line.
4. bench — bench.py at $SPARK_GRAFT_SF_DIR (default sf0.1); records the
   parsed one-line JSON.  NOTE: overwrites BENCH_FULL.json (by design —
   it IS the bench artifact); run from a clean tree or restore after.
5. scale — `bench_scale.py verify` (full value parity at sf1.0,
   generating the /tmp replica if absent) → SCALE_PARITY.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_gate(name: str, cmd: list[str], env: dict | None = None) -> dict:
    print(f"\n=== gate: {name}: {' '.join(cmd)}", flush=True)
    t0 = time.time()
    proc = subprocess.run(
        cmd, cwd=REPO, env={**os.environ, **(env or {})},
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    took = round(time.time() - t0, 1)
    tail = "\n".join(proc.stdout.strip().splitlines()[-12:])
    print(tail, flush=True)
    print(f"=== gate {name}: exit={proc.returncode} in {took}s", flush=True)
    return {"cmd": " ".join(cmd), "ok": proc.returncode == 0,
            "seconds": took, "tail": tail}


def last_json(tail: str) -> dict | None:
    """The last JSON line a gate printed, or None."""
    try:
        return json.loads([ln for ln in tail.splitlines()
                           if ln.startswith("{")][-1])
    except (IndexError, ValueError):
        return None


def main() -> None:
    fast = "--fast" in sys.argv
    gates: dict[str, dict] = {}
    gates["oracle_types"] = run_gate(
        "oracle_types", [sys.executable, "tools/lint_oracle_types.py"])
    gates["pytest"] = run_gate(
        "pytest", [sys.executable, "-m", "pytest", "tests/", "-q"])
    gates["parity_sf0.01"] = run_gate(
        "parity_sf0.01",
        [sys.executable, "-m", "pytest", "tests/test_oracle_parity.py", "-q"],
        env={"SPARK_GRAFT_TEST_SF_DIR": "/root/testdata/sf0.01"})
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    for w in workloads:
        gate = run_gate(
            f"perfbench_{w}",
            [sys.executable, "perfbench/run.py", "--workload", w,
             "--seed", "1", "--seconds", "1", "--trace", "0"])
        gate["record"] = last_json(gate["tail"])
        gates[f"perfbench_{w}"] = gate
    gates["bench"] = run_gate("bench", [sys.executable, "bench.py"])
    gates["bench"]["record"] = last_json(gates["bench"]["tail"])
    if gates["bench"]["record"] is None:
        gates["bench"]["ok"] = False
    if not fast:
        gates["scale_sf1.0"] = run_gate(
            "scale_sf1.0", [sys.executable, "bench_scale.py", "verify"])
        try:
            with open(os.path.join(REPO, "SCALE_PARITY.json")) as f:
                sp = json.load(f)
            gates["scale_sf1.0"]["summary"] = sp.get("summary", sp)
        except (OSError, ValueError):
            gates["scale_sf1.0"]["summary"] = None
    out = {
        "generated_by": "tools/verify_all.py",
        "fast": fast,
        "all_green": all(g["ok"] for g in gates.values()),
        "gates": gates,
    }
    dest = os.path.join(REPO, "VERIFY.json")
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"\nwrote {dest}: all_green={out['all_green']}")
    sys.exit(0 if out["all_green"] else 1)


if __name__ == "__main__":
    main()
