"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The last two start Spark and take about a minute each.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

from inputs import Sizes, generate  # noqa: E402
from tracing import Job, Span, layer_metrics  # noqa: E402
from workloads import (CheckFailed, Ctx, _check_clusters,  # noqa: E402
                       _check_probe, _texts, jaccard, prepare_ingest,
                       shingles)

RUN = [sys.executable, "perfbench/run.py", "--workload", "fold_analytics",
       "--seed", "3", "--seconds", "1", "--trace", "0"]


def test_inputs_depend_only_on_the_seed(tmp_path):
    sizes = Sizes(orders=50, base_docs=60, replicas=2, embeddings=20)
    a, b, c = (str(tmp_path / n) for n in "abc")
    generate(a, 5, sizes)
    generate(b, 5, sizes)
    generate(c, 6, sizes)
    names = sorted(os.listdir(a))
    _, diff, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not diff and not errors
    _, diff, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "documents.parquet" in diff and "lineitem.parquet" in diff


def test_planted_pairs_are_near_duplicates(tmp_path):
    truth = generate(str(tmp_path), 1, Sizes(base_docs=200, replicas=2))
    docs = pq.read_table(tmp_path / "documents.parquet")
    text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    assert truth.near_dup_pairs and truth.exact_dup_pairs
    for orig, copy in truth.near_dup_pairs:
        # the copy adds one word (" dup", rotated with its replica)
        head, _, word = text[copy].rpartition(" ")
        assert head == text[orig] and len(word) == 3
    for orig, copy in truth.exact_dup_pairs:
        assert text[copy] == text[orig]


def _ingest_inputs(tmp_path) -> Ctx:
    data = str(tmp_path / "data")
    truth = generate(data, 4, Sizes(base_docs=160, replicas=2))
    prepare_ingest(data, truth, 4)
    return Ctx(None, data, str(tmp_path / "out"), truth)


def test_probe_check_needs_every_planted_copy_at_its_exact_score(tmp_path):
    ctx = _ingest_inputs(tmp_path)
    batch = _texts(f"{ctx.data}/incoming/000.parquet")
    ref = {**_texts(f"{ctx.data}/ref_gen1.parquet"),
           **_texts(f"{ctx.data}/ref_gen2.parquet")}
    copies = [p for kind in ("exact", "near")
              for p in ctx.truth.incoming[kind] if p[0] in batch]
    assert copies
    rows = [("bloom", i, any(i == c for c, _ in copies), None)
            for i in batch]
    rows += [("minhash", i, s, round(jaccard(shingles(batch[i]),
                                             shingles(ref[s])), 6))
             for i, s in copies]
    rows += [("contamination", i, 1, None) for i, _ in copies]
    cols = ["screen", "id", "hit", "score"]
    _check_probe(0)(ctx, (cols, rows))
    missing = [r for r in rows if r[:3] != ("minhash",) + copies[0]]
    with pytest.raises(CheckFailed, match="missed"):
        _check_probe(0)(ctx, (cols, missing))
    wrong = [r[:3] + (r[3] - 0.01,) if r[0] == "minhash" else r
             for r in rows]
    with pytest.raises(CheckFailed, match="exact Jaccard"):
        _check_probe(0)(ctx, (cols, wrong))


def test_cluster_check_matches_the_planted_pairs(tmp_path):
    ctx = _ingest_inputs(tmp_path)
    docs = sorted(_texts(f"{ctx.data}/documents.parquet"))
    cluster = {i: (i, 1) for i in docs}
    for a, c in ctx.truth.near_dup_pairs + ctx.truth.exact_dup_pairs:
        cluster[a] = cluster[c] = (min(a, c), 2)
    cols = ["doc_id", "cluster_id", "cluster_size"]
    rows = [(i,) + cluster[i] for i in docs]
    _check_clusters(ctx, (cols, rows))
    single = next(i for i in docs[1:] if cluster[i][1] == 1)
    merged = [(i, docs[0] if i == single else c, n) for i, c, n in rows]
    with pytest.raises(CheckFailed, match="planted"):
        _check_clusters(ctx, (cols, merged))


def test_layer_attribution():
    """Self time excludes children; a job tagged with the operation's
    root is charged to the layer call that returned last before it."""
    op = Span(1, None, "op", 1, None, 0, 0.0, 10.0)
    build = Span(2, "sources", "write", 1, 1, 0, 1.0, 4.0)
    inner = Span(3, "operators.dedup", "sign", 1, 2, 0, 2.0, 3.0)
    jobs = [Job(1, 2.0, 3.0, 3, [], cpu_s=0.5),
            Job(2, 5.0, 9.0, 1, [], shuffle_bytes=10),
            Job(3, 6.0, 7.0, None, [])]
    m = layer_metrics([op, build, inner], jobs, {1: 0.5})
    assert m["operators.dedup.self_s"] == pytest.approx(0.5)
    assert m["operators.dedup.jobs"] == pytest.approx(0.5)
    assert m["operators.dedup.executor_cpu_s"] == pytest.approx(0.25)
    # sources: its own 2 s plus the 6 s of the root after it returned
    assert m["sources.self_s"] == pytest.approx(4.0)
    assert m["sources.jobs"] == pytest.approx(1.0)
    assert m["sources.shuffle_bytes"] == pytest.approx(5.0)
    # no job runs in 1-2, 3-4 and 4-5, 9-10 of the sources segments
    assert m["sources.driver_gap_s"] == pytest.approx(0.5 * (1 + 1 + 2))
    assert m["trace.untagged_jobs"] == pytest.approx(0.5)


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(RUN, cwd=tmp_path, capture_output=True, text=True,
                       timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""


def _git_status() -> str:
    return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                          capture_output=True, text=True, check=True).stdout


def test_run_is_correct_and_leaves_the_worktree_clean():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        pytest.skip("not a git checkout")
    before = _git_status()
    p = subprocess.run(RUN, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {"cpu_s", "setup_s"}
    assert _git_status() == before
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_corrupted_expected_output_fails():
    """Break one oracle twin: the verified pass must report the mismatch,
    print no metrics and exit nonzero."""
    code = ("import sys; sys.path[:0] = ['perfbench', '.']\n"
            "import run, workloads\n"
            "workloads.RECS_ABOVE_MEAN_SQL = "
            "workloads.RECS_ABOVE_MEAN_SQL.replace('> s', '>= s')\n"
            f"sys.exit(run.main({RUN[2:]!r}))\n")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 1
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert not out["correct"] and out["failed"] >= 1
    assert out["metrics"] == {}
    assert "recs_above_mean" in p.stderr
