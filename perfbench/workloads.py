"""The benchmark's two workloads.

A workload is a fixed sequence of operations.  Each operation runs one piece
of the library through its public functions and returns its output rows,
already collected, so the work is done inside the timed region.  The
verified pass additionally checks every operation's rows: against the
registry's DuckDB twin (``__spark_entry__.oracle_sql()``) where the
operation is a registry rig, against the generator's planted truth
otherwise.  Every later pass must reproduce the verified pass's digest.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import math
import os
import shutil
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from inputs import Sizes, Truth

OpResult = tuple[list[str], list[tuple]]


@dataclasses.dataclass
class Ctx:
    """Everything an operation needs; one per run."""

    spark: object
    data: str                  # generated input directory
    work: str                  # per-run scratch for the operations' writes
    truth: Truth
    state: dict = dataclasses.field(default_factory=dict)
    stats: dict = dataclasses.field(default_factory=dict)


@dataclasses.dataclass(frozen=True)
class Op:
    name: str
    phase: str
    run: Callable[[Ctx], OpResult]
    oracle: str | None = None        # registry name whose twin checks it
    check: Callable[[Ctx, OpResult], None] | None = None
    once: bool = False               # one-time work: verified pass only


@dataclasses.dataclass(frozen=True)
class Workload:
    sizes: Sizes
    ops: Callable[[], list[Op]]
    prepare: Callable[[str, Truth, int], None] | None = None


# ---------------------------------------------------------------------------
# result canonicalisation: the digest and the oracle comparison
# ---------------------------------------------------------------------------

def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, np.generic):
        return _norm(v.item())
    return v


def canon(result: OpResult) -> list[tuple]:
    cols, rows = result
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(normed, key=repr)


def digest(result: OpResult) -> str:
    return hashlib.sha1(repr(canon(result)).encode()).hexdigest()


def collect(df) -> OpResult:
    return list(df.columns), [tuple(r) for r in df.collect()]


class CheckFailed(AssertionError):
    """An operation's output disagrees with its expected value."""


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def check_oracle(duck, sql: str, result: OpResult) -> None:
    rel = duck.sql(sql)
    expected = (list(rel.columns), rel.fetchall())
    require(sorted(result[0]) == sorted(expected[0]),
            f"columns {result[0]} vs oracle {expected[0]}")
    got, want = canon(result), canon(expected)
    require(len(got) == len(want),
            f"{len(got)} rows vs oracle {len(want)}")
    bad = [(a, b) for a, b in zip(got, want) if a != b]
    require(not bad, f"first mismatches vs oracle: {bad[:2]}")


# ---------------------------------------------------------------------------
# fold_analytics
# ---------------------------------------------------------------------------

# one rig per fold path: map_reduce folds, key-map aggregation, rollup and
# salted skew aggregation; whole-group pandas reduces and a pandas fold
NATIVE_FOLDS = ["tpch_q1", "aggregate_fold_year", "rollup_revenue",
                "salted_agg"]
GROUPED_MAPS = ["group_median", "pandas_fold"]

RECS_GROUPS = 512       # grouped-map calls cost milliseconds per group
RECS_ABOVE_MEAN_SQL = f"""
SELECT l_orderkey, l_linenumber, l_quantity, n_lines
FROM (SELECT l_orderkey, l_linenumber, l_quantity,
             count(*) OVER w AS n_lines, sum(l_quantity) OVER w AS s
      FROM lineitem WHERE l_orderkey < {RECS_GROUPS}
      WINDOW w AS (PARTITION BY l_orderkey))
WHERE l_quantity * n_lines > s"""


def _rig(name: str) -> Callable[[Ctx], OpResult]:
    def run(ctx: Ctx) -> OpResult:
        import __spark_entry__ as entry
        return collect(entry.queries()[name](ctx.spark, ctx.data))
    return run


def _recs_above_mean(ctx: Ctx) -> OpResult:
    """make_recs_with_key over one small group per order (the first
    ``RECS_GROUPS`` orders): the lines whose quantity is above their
    order's mean.  Integer quantities keep the comparison exact in pandas
    and DuckDB alike."""
    from frames_map_reduce_spark import (make_recs_with_key, map_reduce,
                                         split_on_keys, unpack_no_op)

    def above(pdf):
        q = pdf["l_quantity"]
        out = pdf.loc[q * len(q) > q.sum(), ["l_linenumber", "l_quantity"]]
        return out.assign(n_lines=len(pdf))

    li = (ctx.spark.read.parquet(f"{ctx.data}/lineitem.parquet")
          .filter(f"l_orderkey < {RECS_GROUPS}")
          .select("l_orderkey", "l_linenumber", "l_quantity"))
    return collect(map_reduce(
        li, unpack=unpack_no_op(), assign=split_on_keys(["l_orderkey"]),
        reduce=make_recs_with_key(
            above, "l_linenumber int, l_quantity double, n_lines long")))


def fold_ops() -> list[Op]:
    return ([Op(n, "native_fold", _rig(n), oracle=n) for n in NATIVE_FOLDS]
            + [Op(n, "grouped_map", _rig(n), oracle=n) for n in GROUPED_MAPS]
            + [Op("recs_above_mean", "grouped_map", _recs_above_mean,
                  check=lambda ctx, r: check_oracle(
                      ctx.state["duck"], RECS_ABOVE_MEAN_SQL, r))])


# ---------------------------------------------------------------------------
# corpus_ingest
# ---------------------------------------------------------------------------

CURATE = ["perplexity", "pack_sequences"]
# the IVF-PQ rig builds, extends and probes a persisted index and reports
# recall@5 against exact search
ANN = "ann_ivf_pq"
CLUSTER_THRESHOLD = 0.6        # the dedup_clusters rig's
BATCHES = 2            # K incoming batches: K probes and K micro-batches
BATCH_DOCS = 20
QCLF_BUCKETS = 1024
QCLF_SALT = "qclf"
THRESHOLD = 0.6
INDEX_BUCKETS = 4      # the reference corpus is small
T_BLOOM, T_MH, T_CONT = "pb_bloom", "pb_minhash", "pb_cont"
INDEX_TABLES = [f"{T_BLOOM}_words", f"{T_MH}_buckets", f"{T_MH}_shingles",
                f"{T_CONT}_grams"]
REFERENCE_FILES = ["ref_gen1", "ref_gen2"]


def prepare_ingest(data: str, truth: Truth, seed: int) -> None:
    """Split the generated corpus into two reference generations and K
    incoming batches.  Each batch mixes exact copies and near copies of
    reference documents with documents the reference never saw."""
    rng = np.random.default_rng([seed, 7])
    docs = pq.read_table(f"{data}/documents.parquet")
    gen = docs["doc_id"].to_numpy() % 8
    ref = docs.filter(pa.array(gen < 2))
    for g in (0, 1):
        pq.write_table(docs.filter(pa.array(gen == g)),
                       f"{data}/ref_gen{g + 1}.parquet")
    ref_ids = ref["doc_id"].to_numpy()
    ref_text = ref["text"].to_pylist()
    fresh = docs.filter(pa.array(gen >= 2))
    fresh_ids = fresh["doc_id"].to_numpy()
    fresh_text = fresh["text"].to_pylist()
    os.makedirs(f"{data}/incoming", exist_ok=True)
    planted = {"exact": [], "near": []}     # (incoming id, reference id)
    next_id = 1 << 40
    for b in range(BATCHES):
        out_ids, out_text = [], []
        for kind in rng.choice(3, BATCH_DOCS, p=[0.2, 0.2, 0.6]):
            if kind == 2:
                i = len(out_ids) + b * BATCH_DOCS
                out_ids.append(int(fresh_ids[i]))
                out_text.append(fresh_text[i])
                continue
            j = int(rng.integers(0, len(ref_ids)))
            out_ids.append(next_id)
            out_text.append(ref_text[j] + ("" if kind == 0 else " dup"))
            planted["exact" if kind == 0 else "near"].append(
                (next_id, int(ref_ids[j])))
            next_id += 1
        pq.write_table(pa.table({"doc_id": pa.array(out_ids, pa.int64()),
                                 "source": [f"batch{b}"] * len(out_ids),
                                 "text": out_text}),
                       f"{data}/incoming/{b:03d}.parquet")
    truth.incoming = planted


def _read(ctx: Ctx, name: str):
    return ctx.spark.read.parquet(f"{ctx.data}/{name}.parquet")


def _table_counts(ctx: Ctx) -> OpResult:
    return (["table", "rows"],
            [(t, ctx.spark.table(t).count()) for t in INDEX_TABLES])


def _build(ctx: Ctx) -> OpResult:
    """First generation of every index family, plus the quality model
    the streaming gate scores with."""
    from frames_map_reduce_spark.operators import bloom as BL
    from frames_map_reduce_spark.operators import classifier as CLF
    from frames_map_reduce_spark.operators import dedup as DD
    from frames_map_reduce_spark.operators import retrieval as RET
    from pyspark.sql import functions as F

    ref = _read(ctx, "ref_gen1")
    ctx.state["geometry"] = BL.build_bloom_index(ref, T_BLOOM, "text")
    DD.build_minhash_index(ref, T_MH, "text", "doc_id")
    RET.build_contamination_index(ref, T_CONT, "text", n=5,
                                  n_buckets=INDEX_BUCKETS)
    labeled = _read(ctx, "documents").withColumn(
        "_is_en", F.col("lang") == F.lit("en"))
    ctx.state["weights"] = [
        (r["bucket"], r["weight"]) for r in CLF.train_logodds_classifier(
            labeled, "text", "_is_en", n_buckets=QCLF_BUCKETS,
            salt=QCLF_SALT).collect()]
    return _table_counts(ctx)


def _extend(ctx: Ctx) -> OpResult:
    from frames_map_reduce_spark.operators import bloom as BL
    from frames_map_reduce_spark.operators import dedup as DD
    from frames_map_reduce_spark.operators import retrieval as RET

    delta = _read(ctx, "ref_gen2")
    m_bits, k = ctx.state["geometry"]
    BL.extend_bloom_index(delta, T_BLOOM, "text", m_bits=m_bits, k=k)
    DD.extend_minhash_index(delta, T_MH, "text", "doc_id")
    RET.extend_contamination_index(delta, T_CONT, "text", n=5)
    return _table_counts(ctx)


def _probe(b: int) -> Callable[[Ctx], OpResult]:
    """Every admission screen of one incoming batch: Bloom membership,
    MinHash near duplicates and n-gram contamination."""
    def run(ctx: Ctx) -> OpResult:
        from frames_map_reduce_spark.operators import bloom as BL
        from frames_map_reduce_spark.operators import dedup as DD
        from frames_map_reduce_spark.operators import retrieval as RET

        spark = ctx.spark
        batch = _read(ctx, f"incoming/{b:03d}")
        m_bits, k = ctx.state["geometry"]
        rows = [("bloom", r[0], r[1], None) for r in BL.bloom_probe_index(
            spark, T_BLOOM, batch, "text", "doc_id", m_bits=m_bits,
            k=k).collect()]
        rows += [("minhash", r[0], r[1], round(r[2], 6)) for r in
                 DD.minhash_probe_index(spark, T_MH, batch, "text", "doc_id",
                                        threshold=THRESHOLD).collect()]
        rows += [("contamination", r["doc_id"], r["n_hit"], None) for r in
                 RET.probe_contamination_index(spark, T_CONT, batch, "text",
                                               "doc_id", n=5).collect()]
        return ["screen", "id", "hit", "score"], rows
    return run


def shingles(text: str, k: int = 5) -> set[str]:
    """The character k-shingles MinHash signs: distinct k-grams of the
    lowercased text with whitespace runs collapsed."""
    t = " ".join(text.lower().split())
    return {t[i:i + k] for i in range(max(len(t) - k + 1, 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def _texts(path: str) -> dict[int, str]:
    t = pq.read_table(path, columns=["doc_id", "text"])
    return dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))


def _check_probe(b: int) -> Callable[[Ctx, OpResult], None]:
    def check(ctx: Ctx, result: OpResult) -> None:
        rows = result[1]
        batch = _texts(f"{ctx.data}/incoming/{b:03d}.parquet")
        ref = {}
        for f in REFERENCE_FILES:
            ref.update(_texts(f"{ctx.data}/{f}.parquet"))
        planted = ctx.truth.incoming
        copies = {i: s for kind in ("exact", "near")
                  for i, s in planted[kind] if i in batch}
        exact = {i for i, _ in planted["exact"] if i in batch}
        member = {r[1]: r[2] for r in rows if r[0] == "bloom"}
        pairs = {(r[1], r[2]): r[3] for r in rows if r[0] == "minhash"}
        contaminated = {r[1] for r in rows if r[0] == "contamination"}
        require(all(member.get(i) for i in exact),
                f"batch {b}: Bloom false negative")
        for (i, s), score in pairs.items():
            j = jaccard(shingles(batch[i]), shingles(ref[s]))
            require(j >= THRESHOLD and abs(score - round(j, 6)) <= 1e-6,
                    f"batch {b}: MinHash pair {(i, s)} reports {score}, "
                    f"exact Jaccard is {j:.6f}")
        missed = [(i, s) for i, s in copies.items() if (i, s) not in pairs]
        require(not missed, f"batch {b}: planted copies missed: {missed}")
        require(all(i in contaminated for i in copies),
                f"batch {b}: planted copy not flagged as contaminated")
        ctx.stats.setdefault("pairs", []).append(
            (len(copies) - len(missed), len(copies)))
        fresh = [i for i in member if i not in copies]
        ctx.stats.setdefault("fp", []).append(
            (sum(bool(member[i]) for i in fresh), len(fresh)))
        ctx.stats.setdefault("probe_rows", []).extend(rows)
    return check


def _stream(ctx: Ctx) -> OpResult:
    """The K batches again, through the streaming admission gate as K
    micro-batches."""
    from frames_map_reduce_spark import sources as SRC
    from frames_map_reduce_spark.streaming import stream_ingest_gate_v2
    from pyspark.sql import functions as F

    spark = ctx.spark
    out = os.path.join(ctx.work, "stream")
    shutil.rmtree(out, ignore_errors=True)
    words = SRC.arrow_rows(
        spark.table(f"{T_BLOOM}_words").groupBy("_word")
        .agg(F.bit_or("_bits").alias("_bits")), "_word", "_bits")
    stream = (spark.readStream.schema(_read(ctx, "incoming/000").schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{ctx.data}/incoming"))
    m_bits, k = ctx.state["geometry"]
    q = stream_ingest_gate_v2(stream, words, ctx.state["weights"], "text",
                              "doc_id", T_MH, f"{out}/sink",
                              n_buckets=QCLF_BUCKETS, salt=QCLF_SALT,
                              m_bits=m_bits, k=k, threshold=THRESHOLD,
                              checkpoint=f"{out}/ckpt")
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    require(len(progress) == BATCHES,
            f"{len(progress)} micro-batches, expected {BATCHES}")
    ctx.state["progress"] = progress
    return collect(spark.read.parquet(f"{out}/sink").select(
        "doc_id", "maybe_dup", "quality_ok", "is_near_dup", "accept"))


def _check_stream(ctx: Ctx, result: OpResult) -> None:
    """The streaming gate must agree with the batch probes of the same
    batches: Bloom membership and MinHash near-dup verdicts."""
    cols, rows = result
    probes = ctx.stats.get("probe_rows", [])
    member = {r[1]: r[2] for r in probes if r[0] == "bloom"}
    near = {r[1] for r in probes if r[0] == "minhash"}
    i_id, i_md, i_nd = (cols.index(c)
                        for c in ("doc_id", "maybe_dup", "is_near_dup"))
    require(len(rows) == BATCHES * BATCH_DOCS,
            f"stream emitted {len(rows)} rows")
    for r in rows:
        require(r[i_md] == member.get(r[i_id]),
                f"doc {r[i_id]}: stream and batch Bloom verdicts differ")
        require(r[i_nd] == (r[i_id] in near),
                f"doc {r[i_id]}: stream and batch near-dup verdicts differ")


def _check_clusters(ctx: Ctx, result: OpResult) -> None:
    """Near-duplicate clusters against planted truth.  The exhaustive
    recursive-CTE twin takes longer than the whole workload, but the
    generator makes the truth simple: random documents sit far below the
    threshold, so the clusters are exactly the planted pairs."""
    cols, rows = result
    docs = _texts(f"{ctx.data}/documents.parquet")
    want = {i: (i, 1) for i in docs}
    for a, c in ctx.truth.near_dup_pairs + ctx.truth.exact_dup_pairs:
        require(jaccard(shingles(docs[a]), shingles(docs[c]))
                >= CLUSTER_THRESHOLD, f"planted pair {(a, c)} below "
                f"the threshold")
        want[a] = want[c] = (min(a, c), 2)
    i_id, i_cl, i_sz = (cols.index(c)
                        for c in ("doc_id", "cluster_id", "cluster_size"))
    got = {r[i_id]: (r[i_cl], r[i_sz]) for r in rows}
    require(len(got) == len(rows) == len(docs),
            f"{len(rows)} cluster rows for {len(docs)} documents")
    bad = [(i, got[i], w) for i, w in want.items() if got.get(i) != w]
    require(not bad, f"clusters differ from the planted pairs: {bad[:3]}")


def _record_recall(ctx: Ctx, result: OpResult) -> None:
    """recall@5 against exact search, one value per query; the oracle
    twin has already checked it."""
    cols, rows = result
    per_query = {r[cols.index("query_id")]: r[cols.index("recall")]
                 for r in rows}
    ctx.stats["recall_at_k"] = sum(per_query.values()) / len(per_query)


def ingest_ops() -> list[Op]:
    return ([Op(n, "curate", _rig(n), oracle=n) for n in CURATE]
            + [Op("semantic_dedup", "dedup", _rig("semantic_dedup"),
                  oracle="semantic_dedup"),
               Op("dedup_clusters", "dedup", _rig("dedup_clusters"),
                  check=_check_clusters),
               Op(ANN, "ann", _rig(ANN), oracle=ANN, check=_record_recall),
               Op("build", "build", _build, once=True,
                  check=lambda ctx, r: require(all(n > 0 for _, n in r[1]),
                                               "empty index table")),
               Op("extend", "extend", _extend, once=True)]
            + [Op(f"probe_{b}", "probe", _probe(b), check=_check_probe(b))
               for b in range(BATCHES)]
            + [Op("stream", "stream", _stream, check=_check_stream)])


# ---------------------------------------------------------------------------

WORKLOADS = {
    # the fold algebra: native folds on the JVM and grouped-map reduces on
    # the Arrow/Python path; no writes, text or streaming, so changes to
    # those layers should leave it flat
    "fold_analytics": Workload(
        Sizes(orders=400_000, customers=1000, parts=1000, suppliers=100,
              base_docs=100, embeddings=100),
        fold_ops),
    # LLM-data curation, persisted-index build/extend/probe and the
    # streaming admission gate: text and index layers, bucketed writes and
    # per-batch driver cost
    "corpus_ingest": Workload(
        Sizes(orders=200, customers=50, parts=50, suppliers=10,
              base_docs=400, replicas=2, embeddings=1000),
        ingest_ops, prepare=prepare_ingest),
}
