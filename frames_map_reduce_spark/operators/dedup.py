"""Deduplication operators for training-data pipelines.

Four families, ordered by cost:

1. exact         — hash-groupBy on a content fingerprint; one shuffle.
2. MinHash + LSH — shingle → minhash signature → banded bucket join;
                   candidate pairs verified by exact Jaccard.
3. SimHash       — 63-bit signature, banded buckets, Hamming verify.
4. embedding     — SRP-LSH buckets over a vector column, cosine verify
                   (see similarity.py for the SRP machinery).

MinHash and SimHash sign each document in ONE Arrow-batched numpy
``mapInPandas`` pass (shingle hashes and signature together); banding,
bucketing and verification are native Column expressions.  The only
shuffles are the bucket group/join — which is the point of LSH: at
100 TB you cannot afford the O(n²) pair space, so candidate generation
must be a key-equality join Spark can hash-partition.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frames_map_reduce_spark.functions.text import char_shingles, fingerprint, wordish_tokens
from frames_map_reduce_spark.partitioning import ensure_parallelism
from frames_map_reduce_spark.schema import require_columns

_P31 = (1 << 31) - 1  # Mersenne prime 2^31-1: hash universe for minhash


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_keys(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One surviving id per distinct normalized content: groupBy the md5
    fingerprint, keep the MIN id (deterministic winner).  Single shuffle on
    a high-cardinality uniform key — the cheapest possible dedup and the
    right first pass at any scale.

    Returns (fingerprint, keep_id, dup_count).
    """
    require_columns(df, [text_col, id_col])
    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
          .groupBy("fingerprint")
          .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str,
                keep: list[str] | None = None) -> DataFrame:
    """The deduplicated rows themselves (winner rows, all original columns
    by default; pass ``keep`` to carry only a projection of them).

    ONE 2-phase aggregation: ``min_by(struct(row), id)`` grouped by the
    content fingerprint.  Map-side partials keep a single candidate row
    per fingerprint seen locally, so every input row is read (and any
    upstream projection computed) exactly once, and the only shuffle
    carries one row per distinct fingerprint.  The alternative winner
    semi-join reads the input twice (once to pick winners, once to join
    them back) and shuffles three times; the window ``row_number() = 1``
    formulation sorts whole fingerprint partitions.  Fingerprints are
    high-cardinality and uniform, so this aggregation cannot skew.

    ``keep`` is the shuffle-bytes lever: ``min_by``'s struct buffer is
    not hash-aggregable, so the aggregation sorts and ships whatever the
    struct carries.  A caller that only needs derived metadata downstream
    (ids, counts, pre-computed lengths) should compute those BEFORE the
    dedup and list them in ``keep`` — the heavy ``text_col`` payload is
    then consumed map-side by the fingerprint hash and never enters the
    sort or the exchange.  Winner selection is unaffected: the same
    ``min(id)`` row wins per fingerprint whichever columns ride along."""
    require_columns(df, [text_col, id_col])
    cols = list(keep) if keep is not None else df.columns
    require_columns(df, cols)
    out = (df.groupBy(fingerprint(F.col(text_col)).alias("_fp"))
             .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_w")))
    return out.select(*[F.col(f"_w.{c}").alias(c) for c in cols])


# ---------------------------------------------------------------------------
# Banded buckets — the candidate step every near-dup pairer shares
# ---------------------------------------------------------------------------
# MinHash, SimHash, the perceptual media hashes and SRP embeddings all
# assign each row one ``_bucket`` key per band and pair the rows of each
# bucket (the fold's assign-then-reduce); only the verify differs.

def _sign_once(sig: DataFrame) -> DataFrame:
    """Persist a signature frame (memory-and-disk) and materialize it
    NOW.  The pairers read it from several plan branches (bucket sizes,
    both self-join sides, verify sides); with a Python signing stage in
    the lineage, recomputing per branch re-pays the worker round, and
    within one downstream action the branches otherwise race to populate
    the cache and each can recompute the Python stage (measured ~1.5×
    total job cost).  One eager pass is strictly cheaper than that race
    at any scale.  The cache is never released (ROADMAP item 5)."""
    from pyspark import StorageLevel
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    sig.count()
    return sig


def _require_pigeonhole(max_hamming: int, n_bands: int) -> None:
    """Banding finds every pair within Hamming distance < ``n_bands``:
    such a pair agrees exactly on ≥ 1 band (pigeonhole).  At or past it
    a pair can spread its differing bits over every band and is lost
    silently, so refuse."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: banding only "
            "guarantees recall for Hamming distance < n_bands (pigeonhole)")


def _bucket_sizes(banded: DataFrame) -> DataFrame:
    """(_bucket, _n): each bucket's member count — bounded (one long)
    aggregation state per bucket."""
    return banded.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))


def _bucket_stats(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Drop-accountability for a band cap: one row (n_buckets, n_multi,
    n_oversized, max_size) over the bucket sizes of ``banded``."""
    return _bucket_sizes(banded).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)).alias("n_multi"),
        F.sum(F.when(F.col("_n") > max_bucket, 1).otherwise(0))
         .alias("n_oversized"),
        F.max("_n").alias("max_size"))


def _prune_buckets(banded: DataFrame, max_bucket: int,
                   keep_singletons: bool = False,
                   broadcast: bool = True) -> DataFrame:
    """The rows of ``banded`` whose bucket has at most ``max_bucket``
    members and, unless ``keep_singletons`` (an index side, whose rows
    pair with probes rather than with each other), more than one — a
    B-member bucket emits B² join rows, so a degenerate one (empties,
    boilerplate — exact dedup's job) is dropped rather than left to
    dominate the job.

    The sizes are filtered BEFORE any pair work.  By default the
    surviving-bucket list is broadcast and prunes the rows map-side, so
    rows of dropped buckets never reach the pair shuffle (at sf1.0 the
    oversized buckets held most of a boilerplate corpus's entries).
    ``broadcast=False`` leaves the join to the planner, for a caller
    whose next step re-groups on ``_bucket`` and so reuses the join's
    exchange."""
    keep = F.col("_n") <= max_bucket
    if not keep_singletons:
        keep = (F.col("_n") > 1) & keep
    ok = _bucket_sizes(banded).filter(keep).select("_bucket")
    return banded.join(F.broadcast(ok) if broadcast else ok, "_bucket")


def _bucket_self_join(pruned: DataFrame, id_col: str,
                      carry: list[str]) -> DataFrame:
    """Every pair of rows sharing a ``_bucket``, once per shared bucket:
    ``(_bucket, id_a, <c>_a …, _bucket_b, id_b, <c>_b …)`` with ``id_a <
    id_b``, each ``carry`` column on both sides — an equi-join on the
    bucket key, never an all-pairs product.  A pair sharing several
    buckets appears once per bucket; the caller's verify filters, then
    de-duplicates."""
    a = pruned.select("_bucket", F.col(id_col).alias("id_a"),
                      *[F.col(c).alias(f"{c}_a") for c in carry])
    b = pruned.select(F.col("_bucket").alias("_bucket_b"),
                      F.col(id_col).alias("id_b"),
                      *[F.col(c).alias(f"{c}_b") for c in carry])
    return a.join(b, (F.col("_bucket") == F.col("_bucket_b"))
                  & (F.col("id_a") < F.col("id_b")))


# ---------------------------------------------------------------------------
# 2. MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _P31), rng.randrange(0, _P31)) for _ in range(num_perm)]


# splitmix64 constants (public-domain mixer, Steele et al.) — used to
# finalize the rolling polynomial so shingle hashes are well-distributed
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)
_FNV_PRIME = np.uint64(1099511628211)


def _mix64(z: "np.ndarray") -> "np.ndarray":
    z = (z + _SM_GAMMA)
    z ^= z >> np.uint64(30)
    z *= _SM_M1
    z ^= z >> np.uint64(27)
    z *= _SM_M2
    z ^= z >> np.uint64(31)
    return z


def _shingle_hashes_np(s: str, k: int) -> "np.ndarray":
    """Distinct 64-bit hashes of the character k-grams of an ALREADY
    normalized string — polynomial rolling hash over code points,
    splitmix64-finalized, np.unique'd.  Only shingle-set EQUALITY
    matters for Jaccard/minhash, and the sets are those of
    ``functions.text.char_shingles``: k-grams of the normalized text,
    whole string when shorter than k."""
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = len(cp)
    if n < k + 1:  # 0..k chars: single shingle = the whole string
        h = np.uint64(0)
        for c in cp:
            h = h * _FNV_PRIME + c
        return _mix64(np.array([h], dtype=np.uint64))
    win = np.lib.stride_tricks.sliding_window_view(cp, k)
    h = win[:, 0].copy()
    for j in range(1, k):
        h = h * _FNV_PRIME + win[:, j]
    return np.unique(_mix64(h))


_WS_JAVA = None  # compiled lazily inside executors


def _normalize_py(s: str) -> str:
    """EXACT Python replica of functions/text.normalized(): lower, collapse
    Java-``\\s`` runs ([ \\t\\n\\x0B\\f\\r] — NOT Python's Unicode \\s) to
    one space, trim."""
    global _WS_JAVA
    if _WS_JAVA is None:
        import re
        _WS_JAVA = re.compile("[ \t\n\x0b\f\r]+")
    return _WS_JAVA.sub(" ", s.lower()).strip(" ")


def _shingle_sig_frame(df: DataFrame, text_col: str, id_col: str,
                       shingle_k: int, num_perm: int, seed: int) -> DataFrame:
    """(id, _sh64, _sig) in ONE fused Python stage: the normalized
    text's distinct k-gram hashes (:func:`_shingle_hashes_np`, 64-bit,
    so a collision distorting a pair's Jaccard is ~1e-14 per pair) AND
    the minhash signature computed from them in the same Arrow batch —
    each permutation ``(a*x+b) mod p`` stays below 2^62, so numpy int64
    cannot overflow.  The stage is a ``mapInPandas`` PLAN NODE, not a
    pandas-UDF expression: the optimizer (and AQE re-optimization) can
    collapse downstream banding projections onto a UDF expression and
    land it inside a grouping/shuffle projection, which Spark cannot
    evaluate (INTERNAL_ERROR Unevaluable PythonUDF).  It also serves as
    the parallelism barrier (``ensure_parallelism``).  The fused frame
    is what ``minhash_near_dup_pairs`` persists: every consumer
    (banding, both verify sides) reads it cache-side, so the whole dedup
    pays exactly one Python pass over the corpus."""
    require_columns(df, [text_col, id_col])
    params = _minhash_params(num_perm, seed)
    a = np.array([p[0] for p in params], dtype=np.int64)[None, :]
    b = np.array([p[1] for p in params], dtype=np.int64)[None, :]
    narrow = ensure_parallelism(df.select(F.col(id_col),
                                          F.col(text_col).alias("_txt")))
    schema = T.StructType([df.schema[id_col],
                           T.StructField("_sh64", T.ArrayType(T.LongType())),
                           T.StructField("_sig", T.ArrayType(T.LongType()))])

    def run(batches):
        for pdf in batches:
            shs, sigs = [], []
            for t in pdf["_txt"]:
                h = _shingle_hashes_np(_normalize_py(t or ""), shingle_k) \
                    .view(np.int64)
                shs.append(h)
                x = (h % _P31)[:, None]
                sigs.append(np.full(num_perm, _P31, dtype=np.int64)
                            if x.size == 0 else ((x * a + b) % _P31).min(axis=0))
            yield pd.DataFrame({pdf.columns[0]: pdf.iloc[:, 0],
                                "_sh64": shs, "_sig": sigs})

    return narrow.mapInPandas(run, schema=schema)


def minhash_lsh_candidates(df: DataFrame, text_col: str, id_col: str,
                           num_perm: int = 128, bands: int = 16,
                           shingle_k: int = 5, seed: int = 42,
                           max_bucket: int = 1000,
                           with_sig: DataFrame | None = None) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    Plan shape (scale rationale):
    - signature: one fused Python pass (:func:`_shingle_sig_frame`), no
      shuffle — or ``with_sig``, a caller's already-signed frame;
    - band explode: rows × bands, still narrow;
    - bucket id = hash(band index, band slice) — ONE key column, so the
      candidate join is a plain hash-partitioned equi-self-join;
    - ``max_bucket`` caps degenerate buckets (e.g. empty documents all
      colliding): a bucket with B members yields B² pairs, so one skewed
      bucket can dominate the job.  Capped buckets are dropped — at scale
      you handle those via exact dedup first (identical content lands
      there anyway).

    Band geometry: 128 perms / 16 bands = 8 rows per band.  Docs sharing
    vocabulary sit at background J ≈ 0.2-0.3, where an 8-row band fires at
    rate J^8 ≈ 1e-5 — false candidates stay linear.  True near-dups
    (J ≥ 0.9) are missed with probability (1-J^8)^16 ≈ 2e-6.  Shorter
    bands (4 rows) flood the verify stage with ~J^4·bands·n² false pairs —
    measured 130k candidates on 5k word-soup docs.
    """
    rows_per_band = num_perm // bands
    if rows_per_band * bands != num_perm:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    # The signature frame is PERSISTED (memory-and-disk): the banded
    # frame below has two consumers (bucket sizes, bucket join), and with
    # a Python stage in the lineage recomputing per consumer re-pays it —
    # the cache-vs-recompute tradeoff flips (per-stage worker/Arrow
    # overhead dominates, unlike an all-JVM lineage).  Re-deriving banded
    # per consumer is then a cheap JVM explode over the cache.
    from pyspark import StorageLevel
    if with_sig is None:
        with_sig = _shingle_sig_frame(df, text_col, id_col, shingle_k,
                                      num_perm, seed) \
            .persist(StorageLevel.MEMORY_AND_DISK)
    banded = _minhash_banded(with_sig, id_col, num_perm, bands)
    # Size-filter buckets BEFORE materializing any id array: only
    # surviving buckets reach the collect_list, so its buffer is capped
    # at ``max_bucket`` elements — a degenerate bucket never builds an
    # unbounded array.  The join and the regroup share the hash
    # partitioning on ``_bucket`` (one exchange, reused).
    pairs = (
        _prune_buckets(banded, max_bucket, broadcast=False)
              .groupBy("_bucket").agg(F.collect_list(id_col).alias("_ids"))
              .select(F.explode(_pairs_expr(F.sort_array(F.col("_ids")))).alias("_p"))
              .select(F.col("_p._1").alias("id_a"), F.col("_p._2").alias("id_b"))
              .distinct()
    )
    return pairs


def _minhash_banded(with_sig: DataFrame, id_col: str, num_perm: int,
                    bands: int, carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, …, _sig) → (id, *carry, _bucket): one bucket key per band =
    xxhash64(band index, band slice of the signature) — pure JVM
    expressions over the (cached) signature frame.  The one band-key
    formula of every MinHash table, pairer and probe: a build and a
    probe keyed by two copies that drift would miss every probe without
    raising."""
    rows_per_band = num_perm // bands
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("_band")
    return with_sig.select(id_col, *carry, "_sig", band_idx).select(
        id_col, *carry,
        F.xxhash64(
            F.col("_band"),
            F.slice(F.col("_sig"), F.col("_band") * rows_per_band + 1, rows_per_band),
        ).alias("_bucket"),
    )


def minhash_bucket_stats(df: DataFrame, text_col: str, id_col: str,
                         num_perm: int = 128, bands: int = 16,
                         shingle_k: int = 5, seed: int = 42,
                         max_bucket: int = 1000) -> DataFrame:
    """Drop-accountability for the LSH cap: one row
    (n_buckets, n_multi, n_oversized, max_size) describing the bucket-size
    distribution ``minhash_lsh_candidates`` would see.  ``max_bucket``
    silently drops oversized buckets there (by design — exact dedup owns
    degenerate content); monitor THIS so a data change that starts
    tripping the cap fails loudly instead of as a recall loss."""
    with_sig = _shingle_sig_frame(df, text_col, id_col, shingle_k,
                                  num_perm, seed)
    return _bucket_stats(_minhash_banded(with_sig, id_col, num_perm, bands),
                         max_bucket)


def _pairs_expr(sorted_ids: Column) -> Column:
    """All (earlier, later) pairs of a sorted id array, as a pure
    expression: flatten(transform(ids, outer -> transform(later, ...)))."""
    return F.flatten(F.transform(
        sorted_ids,
        lambda x, i: F.transform(
            F.slice(sorted_ids, i + 2, F.size(sorted_ids)),
            lambda y: F.struct(x.alias("_1"), y.alias("_2")),
        ),
    ))


def jaccard(shingles_a: Column, shingles_b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays."""
    return F.try_divide(
        F.size(F.array_intersect(shingles_a, shingles_b)),
        F.size(F.array_union(shingles_a, shingles_b)),
    )


def minhash_near_dup_pairs(df: DataFrame, text_col: str, id_col: str,
                           threshold: float = 0.8, num_perm: int = 128,
                           bands: int = 16, shingle_k: int = 5,
                           seed: int = 42) -> DataFrame:
    """LSH candidates verified by exact Jaccard on the true shingle sets.
    Returns (id_a, id_b, jaccard_sim) with jaccard_sim ≥ threshold."""
    # ONE fused Python pass (shingle-hash set + minhash signature in the
    # same Arrow batch) feeds the candidate branch and both verify join
    # sides, signed once — measured slower recomputed per branch, the
    # OPPOSITE call from the earlier all-JVM expression lineage whose
    # recompute pipelined for free inside each consumer stage.
    fused = _sign_once(_shingle_sig_frame(df, text_col, id_col, shingle_k,
                                          num_perm, seed))
    cands = minhash_lsh_candidates(df, text_col, id_col, num_perm, bands,
                                   shingle_k, seed, with_sig=fused)
    # verify on 64-bit shingle-hash arrays: same Jaccard as string shingles
    # (collision odds ~1e-14/pair) at a fraction of the compare cost.
    # No explicit broadcast on the candidate side: AQE converts these joins
    # to broadcast at runtime when cands is actually small (measured: an
    # explicit F.broadcast(cands) is within noise at sf0.1), and at 100 TB
    # the candidate-pair frame can be far past the broadcast threshold —
    # forcing it would be the silently-wrong choice AQE exists to avoid.
    a = fused.select(F.col(id_col).alias("id_a"), F.col("_sh64").alias("_sh_a"))
    b = fused.select(F.col(id_col).alias("id_b"), F.col("_sh64").alias("_sh_b"))
    return (
        cands.join(a, "id_a").join(b, "id_b")
             .select("id_a", "id_b",
                     jaccard(F.col("_sh_a"), F.col("_sh_b")).alias("jaccard_sim"))
             .filter(F.col("jaccard_sim") >= threshold)
    )


def _write_index_tables(banded: DataFrame, sig: DataFrame, table: str,
                        write) -> None:
    """Write a MinHash index's ``_buckets`` and ``_shingles`` tables with
    ``write(frame, table, bucket_cols)``.  The two writes are independent
    actions over the same materialized ``sig``: submit them from two
    driver threads so the second write's tasks back-fill executors
    idled by the first write's tail (guide §2.6 overlap; jobs are FIFO,
    the wall-clock is max() instead of sum()).  Each thread carries the caller's local properties, so its
    jobs keep the caller's job tags."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    spark = sig.sparkSession
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(inheritable_thread_target(spark)(write),
                            frame, f"{table}{suffix}", [by])
                for frame, suffix, by in (
                    (banded.select("ref_id", "_bucket"), "_buckets", "_bucket"),
                    (sig.select("ref_id", "_sh64"), "_shingles", "ref_id"))]
        for f in futs:
            f.result()


def build_minhash_index(corpus: DataFrame, table: str, text_col: str,
                        id_col: str, num_perm: int = 128, bands: int = 16,
                        shingle_k: int = 5, seed: int = 42,
                        n_buckets: int | str = "auto",
                        max_bucket: int = 1000) -> None:
    """Train-once half of the batch near-dup FIREWALL deployment shape
    (the batch twin of :func:`streaming.stream_near_dup`, same spec):
    pay the corpus's fused shingle+signature Python pass and banding
    ONCE, persist it, and screen every future incoming batch against it
    with :func:`minhash_probe_index` at probe-only cost.

    Two bucketed tables (one write-time shuffle each):

    - ``{table}_buckets`` — (ref_id, _bucket), bucketed by ``_bucket``:
      the candidate join side.  Buckets larger than ``max_bucket`` are
      dropped at build time (the cap policy of the pair operators;
      boilerplate classes belong to exact dedup).  Unlike pair
      generation, SINGLETON buckets are kept — a lone corpus doc must
      still be probe-able by a future near-duplicate.
    - ``{table}_shingles`` — (ref_id, _sh64), bucketed by ref_id: the
      exact-Jaccard verify side.

    num_perm/bands/shingle_k/seed define the signature spec the way the
    centroid array defines an IVF index: the build stamps them on both
    tables, and extend/probe check theirs against the stamp.
    ``n_buckets="auto"`` (r13) sizes the bucket count from the corpus
    count the build already materializes (see the inline note); extends
    inherit the built bucket spec from the catalog."""
    from pyspark import StorageLevel

    from frames_map_reduce_spark.sources import write_bucketed

    require_columns(corpus, [text_col, id_col])
    sig = _shingle_sig_frame(corpus, text_col, id_col, shingle_k,
                             num_perm, seed) \
        .withColumnRenamed(id_col, "ref_id") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    n_docs = sig.count()
    if n_buckets == "auto":
        # scale-adaptive layout from the EXACT corpus count the
        # materializing count() above already produced (r13; guide §2):
        # the bucket table is ≤ bands rows/doc × ~24 B, the shingle
        # table ~1 hash per character (~8 B each, ~4 KB/doc at this
        # corpus's shape) — size both tables' buckets from the larger
        # estimate so neither degenerates.  8 buckets at test scale,
        # growing to the 32k-file cap at ~10^8 docs (buckets then grow
        # past 32 MB instead — the right trade, see clamp_buckets).
        from frames_map_reduce_spark.sources import clamp_buckets
        n_buckets = clamp_buckets(n_docs * 4096)
    try:
        pruned = _prune_buckets(
            _minhash_banded(sig, "ref_id", num_perm, bands), max_bucket,
            keep_singletons=True)
        # Safe to overlap: ``sig`` is already materialized by count(), so
        # there is no concurrent cache-population race.
        spec = _minhash_spec(num_perm, bands, shingle_k, seed)
        _write_index_tables(
            pruned, sig, table,
            lambda df, name, by: write_bucketed(df, name, by, n_buckets,
                                                spec))
    finally:
        sig.unpersist()


def extend_minhash_index(corpus_delta: DataFrame, table: str, text_col: str,
                         id_col: str, num_perm: int = 128, bands: int = 16,
                         shingle_k: int = 5, seed: int = 42) -> None:
    """Append newly-ACCEPTED documents to a persisted minhash index —
    the third step of the firewall lifecycle (screen the batch with
    :func:`minhash_probe_index`, keep the survivors, extend the index
    with them so the NEXT batch is screened against today's corpus too).

    Appends to both bucketed tables with the same bucket spec Spark
    recorded at build time (enforced by the catalog), paying only the
    delta's signature pass — the existing index is never read or
    rewritten.  The spec parameters are checked against both tables'
    stamps before the delta is signed.  The build-time
    ``max_bucket`` cap is NOT re-evaluated across appends (that would
    require reading the whole index); monitor with
    :func:`minhash_index_bucket_stats` (one agg over the persisted
    bucket table, no re-signing) and compact drifted buckets with
    :func:`rebuild_minhash_index` — lifecycle pinned in
    tests/test_dedup.py::test_minhash_index_rebuild_lifecycle."""
    from pyspark import StorageLevel

    from frames_map_reduce_spark.sources import append_bucketed, require_spec

    require_columns(corpus_delta, [text_col, id_col])
    spec = _minhash_spec(num_perm, bands, shingle_k, seed)
    specs = {name: require_spec(corpus_delta.sparkSession, name, spec)
             for name in (f"{table}_buckets", f"{table}_shingles")}
    sig = _shingle_sig_frame(corpus_delta, text_col, id_col, shingle_k,
                             num_perm, seed) \
        .withColumnRenamed(id_col, "ref_id") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sig.count()
    try:
        banded = _minhash_banded(sig, "ref_id", num_perm, bands)
        _write_index_tables(
            banded, sig, table,
            lambda df, name, _by: append_bucketed(df, name, specs[name]))
    finally:
        sig.unpersist()


def _minhash_spec(num_perm: int, bands: int, shingle_k: int,
                  seed: int) -> dict[str, str]:
    from frames_map_reduce_spark.sources import index_spec
    return index_spec("minhash", num_perm=num_perm, bands=bands,
                      shingle_k=shingle_k, seed=seed)


def minhash_index_bucket_stats(spark, table: str,
                               max_bucket: int = 1000) -> DataFrame:
    """Bucket-size distribution of a PERSISTED minhash index
    (:func:`build_minhash_index`), from the index itself — no corpus
    re-signing: one row (n_buckets, n_multi, n_oversized, max_size).

    This is the monitoring half of the extend lifecycle:
    :func:`extend_minhash_index` never re-evaluates the build-time
    ``max_bucket`` cap (that would read the whole index per append), so
    a corpus that grows a degenerate near-dup class inflates its band
    buckets unboundedly — and every probe hitting such a bucket pays its
    full candidate fan-out.  ``n_oversized > 0`` here is the signal to
    run :func:`rebuild_minhash_index`.  Cost: one aggregation over the
    skinny (ref_id, _bucket) table, no Python stage."""
    return _bucket_stats(spark.table(f"{table}_buckets"), max_bucket)


def rebuild_minhash_index(spark, table: str, max_bucket: int = 1000) -> None:
    """Re-apply the ``max_bucket`` cap over the CURRENT contents of a
    persisted minhash index — the remediation for cap drift under an
    extend-heavy lifecycle (r5 verdict #5).

    Reads only the skinny ``{table}_buckets`` table (never the corpus,
    never the shingle table — signatures are immutable, only the cap
    policy is re-evaluated), drops every bucket that has grown past
    ``max_bucket``, and replaces the table under its recorded bucket
    count and stamp through :func:`sources.write_bucketed` (its replace
    contract covers the swap, crash-window recovery and stale plans).  The
    shingle table is untouched:
    verify-side rows for capped docs are unreachable without a bucket
    row, and a later rebuild with a looser cap cannot be run anyway
    (capped bucket rows are gone — re-run :func:`build_minhash_index`
    from the corpus to change policy upward).

    Cost: one agg + one broadcast semi-join + one bucketed rewrite of
    the (ref_id, _bucket) table — no Python stage, no re-signing."""
    from frames_map_reduce_spark.sources import table_spec, write_bucketed

    nb, _, stamp = table_spec(spark, f"{table}_buckets")
    pruned = _prune_buckets(spark.table(f"{table}_buckets"), max_bucket,
                            keep_singletons=True).select("ref_id", "_bucket")
    write_bucketed(pruned, f"{table}_buckets", ["_bucket"], nb, stamp)


#: largest probe set :func:`minhash_probe_index` pushes into the
#: bucketed scan as an IN filter: past it the literal list costs Catalyst
#: more than the skinny bucket-table scan it would save
PUSHDOWN_LIMIT = 2048


def minhash_probe_index(spark, table: str, queries: DataFrame,
                        text_col: str, id_col: str,
                        threshold: float = 0.8, num_perm: int = 128,
                        bands: int = 16, shingle_k: int = 5,
                        seed: int = 42,
                        max_probe_buckets: int = 1_000_000) -> DataFrame:
    """Query-many half: screen an incoming batch against a persisted
    minhash index (:func:`build_minhash_index`; the spec parameters are
    checked against the build's stamp).  Returns ``(id_col, ref_id,
    jaccard_sim)`` for every (incoming, corpus) pair with exact
    shingle-set Jaccard ≥ threshold among banded-bucket candidates.

    Plan: the incoming batch is signed with the same fused Python stage;
    for SMALL batches (≤ :data:`PUSHDOWN_LIMIT` distinct bucket keys) the
    probe set is pushed as an IN filter into the bucketed scan, so the
    corpus side runs scan→filter→join with zero exchanges and bucket
    pruning skips every unprobed bucket.  Past that limit the filter is
    dropped and the broadcast bucket equi-join alone selects candidates:
    a many-thousand-literal In expression costs Catalyst more to
    optimize than the full (skinny) bucket-table scan it would save —
    measured ~80 s of pure plan compilation at 58k literals.  Candidates
    then verify by exact Jaccard against the (broadcast) incoming
    shingle sets and the bucketed shingle table.  ``max_probe_buckets``
    stays the loud driver-collect cap either way.

    Lifetime: the incoming batch's signature frame is local-checkpointed
    (the returned lazy plan reads it twice — banding and the verify
    side — and recomputing would re-pay the Python signing pass).  The
    bucket collect below materializes it; the blocks belong to the
    returned frame and are freed by Spark's ContextCleaner once that
    frame is unreachable, so a later probe never evicts an earlier
    result.  Checkpointed blocks are not recomputed after an executor
    loss: the job fails instead of re-running a stage."""
    from frames_map_reduce_spark.sources import require_spec

    require_columns(queries, [text_col, id_col])
    require_spec(spark, f"{table}_buckets",
                 _minhash_spec(num_perm, bands, shingle_k, seed))
    qsig = _shingle_sig_frame(queries, text_col, id_col, shingle_k,
                              num_perm, seed).localCheckpoint(eager=False)
    qb = _minhash_banded(qsig, id_col, num_perm, bands)
    probed = [r["_bucket"]
              for r in qb.select("_bucket").distinct()
                         .limit(max_probe_buckets + 1).collect()]
    if len(probed) > max_probe_buckets:
        raise ValueError(
            f"incoming batch probes > {max_probe_buckets} buckets; a "
            "firewall batch is bounded by contract — split the batch, or "
            "run minhash_near_dup_pairs over the union for corpus-scale "
            "pair generation")
    cb = spark.table(f"{table}_buckets")
    if len(probed) <= PUSHDOWN_LIMIT:
        cb = cb.filter(F.col("_bucket").isin(probed))
    cands = (cb.join(F.broadcast(qb.select("_bucket", id_col)), "_bucket")
               .select("ref_id", id_col).distinct())
    refsh = spark.table(f"{table}_shingles")
    qsh = qsig.select(F.col(id_col), F.col("_sh64").alias("_qsh"))
    return (refsh.join(F.broadcast(cands), "ref_id")
                 .join(F.broadcast(qsh), id_col)
                 .select(id_col, "ref_id",
                         jaccard(F.col("_sh64"), F.col("_qsh"))
                          .alias("jaccard_sim"))
                 .filter(F.col("jaccard_sim") >= threshold))


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        block_col: Column, threshold: float = 0.5,
                        shingle_k: int = 3, max_block: int = 10_000) -> DataFrame:
    """Blocked exact n-gram-Jaccard near-dup via a PREFIX-FILTERED
    similarity join (the AllPairs principle — Bayardo, Ma & Srikant,
    "Scaling Up All Pairs Similarity Search", WWW 2007): identical
    result set to the naive within-block all-pairs join, at a fraction
    of the candidate pairs.

    Order every shingle set by a global (document-frequency asc,
    shingle asc) total order and keep only each document's PREFIX of
    ``|S| − ⌈t·|S|⌉ + 1`` rarest shingles.  Lemma: if J(A,B) ≥ t, the
    lowest-ordered common shingle must sit in BOTH prefixes (if it
    missed A's prefix, at least |A| − p_A = ⌈t|A|⌉ − 1 non-shared
    shingles precede it, so |A∩B| ≤ ⌈t|A|⌉ − 1 < t·|A| ≤ t·|A∪B| — a
    contradiction).  So an equi-join on (block, prefix shingle) finds
    every qualifying pair, and the exact-Jaccard verify on the full
    sets — unchanged from the naive form, so output VALUES are
    bit-identical — discards false candidates.

    Why it scales where all-pairs dies: candidates are generated from
    the posting lists of each document's RAREST shingles, which are
    short by construction — measured at sf1.0 (50k docs, 2.5k-doc
    blocks, k=5) the registry query went from 353 s (naive all-pairs
    at its old k=3 spec) to 33 s.  A genuinely hot prefix shingle
    means those documents really do pair up, which no exact algorithm
    avoids.  ``max_block`` still guards the worst case.

    Contract notes vs the pre-r6 all-pairs form:

    - ``threshold`` must be > 0 (at t = 0 every disjoint pair
      qualifies and only an all-pairs join can emit them — use the
      LSH/minhash path if you truly want that);
    - rows with NULL ``text_col`` participate in NO pairs (a missing
      document is not a near-duplicate of anything, including another
      missing document; the old join reported NULL-NULL pairs at
      J=1.0).  Empty strings still pair with each other exactly as
      before ("" is a real, joinable shingle);
    - ``id_col`` need only be unique WITHIN a block (the ordering
      window, candidate join and verify joins are all block-scoped).

    The shingle and prefix frames each feed two or more plan branches,
    so both are local-checkpointed; the checkpoints belong to the
    returned plan and are freed once it is unreachable (same lifetime
    and executor-loss trade as :func:`minhash_probe_index`).  Under AQE
    the shuffle stages beneath a lazy checkpoint run when this function
    is called, not when its result is consumed."""
    if not 0 < threshold:
        raise ValueError(
            f"threshold must be > 0 for the prefix-filter join, got "
            f"{threshold}: at 0 every within-block pair (even with "
            "disjoint shingle sets) qualifies, which only an all-pairs "
            "join can produce")
    shingled = ensure_parallelism(df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), block_col.alias("_blk"),
        char_shingles(F.col(text_col), shingle_k).alias("_sh")))
    blk_sizes = shingled.groupBy("_blk").agg(F.count(F.lit(1)).alias("_n"))
    ok = blk_sizes.filter(F.col("_n") <= max_block).select("_blk")
    shingled = shingled.join(F.broadcast(ok), "_blk") \
                       .localCheckpoint(eager=False)
    ex = shingled.select(id_col, "_blk", F.size("_sh").alias("_n_sh"),
                         F.explode("_sh").alias("_s"))
    freq = ex.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    # prefix length p = n − ⌈t·n⌉ + 1; the 1e-9 nudge keeps a float
    # product that lands a hair ABOVE an exact integer from inflating
    # the ceil (a too-long prefix only adds candidates — safe; a
    # too-short one would drop pairs)
    p = (F.col("_n_sh")
         - F.ceil(F.lit(float(threshold)) * F.col("_n_sh") - F.lit(1e-9))
            .cast("int") + 1)
    w = Window.partitionBy("_blk", id_col).orderBy("_df", "_s")
    prefix = (ex.join(freq, "_s")
                .withColumn("_pos", F.row_number().over(w))
                .filter(F.col("_pos") <= p)
                .localCheckpoint(eager=False))
    la = prefix.select("_blk", F.col(id_col).alias("id_a"), "_s",
                       F.col("_pos").alias("_pos_a"),
                       F.col("_n_sh").alias("_n_a"))
    lb = prefix.select(F.col("_blk").alias("_blk_b"),
                       F.col(id_col).alias("id_b"), F.col("_s").alias("_s_b"),
                       F.col("_pos").alias("_pos_b"),
                       F.col("_n_sh").alias("_n_b"))
    # PPJoin-style refinements on the match rows (Xiao et al., WWW'08),
    # both provably lossless:
    # - size filter: J ≥ t ⇒ t·|A| ≤ |B| (and symmetrically);
    # - positional filter: common elements sit at positions ≥ the match
    #   in BOTH ordered sets, so overlap ≤ 1 + min(remaining) — and the
    #   row generated by a qualifying pair's LOWEST-ordered common
    #   shingle always passes (its bound ≥ the true overlap ≥
    #   minoverlap = ⌈t(|A|+|B|)/(1+t)⌉), so distinct() keeps the pair.
    # The 1e-9 nudges loosen each float bound — only ever ADMITTING
    # extra candidates, never dropping a qualifying pair.
    t_lit = F.lit(float(threshold))
    size_ok = ((F.col("_n_b") >= t_lit * F.col("_n_a") - F.lit(1e-9))
               & (F.col("_n_a") >= t_lit * F.col("_n_b") - F.lit(1e-9)))
    min_overlap = F.ceil(t_lit / (F.lit(1.0) + t_lit)
                         * (F.col("_n_a") + F.col("_n_b")) - F.lit(1e-9))
    pos_ok = (1 + F.least(F.col("_n_a") - F.col("_pos_a"),
                          F.col("_n_b") - F.col("_pos_b"))) >= min_overlap
    cand = (la.join(lb, (F.col("_blk") == F.col("_blk_b"))
                    & (F.col("_s") == F.col("_s_b"))
                    & (F.col("id_a") < F.col("id_b"))
                    & size_ok & pos_ok)
              .select("_blk", "id_a", "id_b").distinct())
    # verify joins are block-scoped too: ids are only per-block unique
    # by contract, so the full shingle sets re-attach on (_blk, id)
    fa = shingled.select("_blk", F.col(id_col).alias("id_a"),
                         F.col("_sh").alias("_sh_a"))
    fb = shingled.select("_blk", F.col(id_col).alias("id_b"),
                         F.col("_sh").alias("_sh_b"))
    return (cand.join(fa, ["_blk", "id_a"]).join(fb, ["_blk", "id_b"])
                .select("id_a", "id_b",
                        jaccard(F.col("_sh_a"), F.col("_sh_b"))
                         .alias("jaccard_sim"))
                .filter(F.col("jaccard_sim") >= threshold))


# ---------------------------------------------------------------------------
# 3. SimHash
# ---------------------------------------------------------------------------

def simhash(text: Column, bits: int = 63) -> Column:
    """``bits``-bit SimHash (≤63 so the packed value stays in a signed
    bigint) over wordish tokens, as ONE pure expression:

    counts[i] = Σ_tokens (bit i of xxhash64(token) ? +1 : −1)   (aggregate)
    simhash   = Σ_i (counts[i] > 0 ? 2^i : 0)                    (pack)
    """
    # hash each token ONCE (lambda bodies are interpreted — no CSE), then
    # test bits on the precomputed hash; bit loop unrolled in Python since
    # shift amounts must be int literals
    token_hashes = F.transform(wordish_tokens(text), lambda t: F.xxhash64(t))
    zero = F.array_repeat(F.lit(0).cast("long"), bits)

    def hash_bits(h: Column) -> Column:
        return F.array(*[
            F.when(F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) == 1,
                   F.lit(1).cast("long")).otherwise(F.lit(-1).cast("long"))
            for i in range(bits)
        ])

    counts = F.aggregate(
        token_hashes, zero,
        lambda acc, h: F.zip_with(acc, hash_bits(h), lambda a, b: a + b))
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    packed = F.aggregate(
        F.zip_with(counts, powers,
                   lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return packed


def hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_map_in_pandas(hashed: DataFrame, id_col: str, bits: int) -> DataFrame:
    """(id, _th: array<bigint> of token xxhash64s) → (id, _sim: bigint).

    Same integer math as :func:`simhash`, but the 63-way per-token bit test
    — interpreted per element as a HOF expression (the minhash lesson) —
    becomes one numpy shift/mask per Arrow batch.  mapInPandas (structural
    node) rather than a pandas-UDF expression so the optimizer can never
    fold it into a shuffle projection (see _shingle_sig_frame)."""
    schema = T.StructType([hashed.schema[id_col],
                           T.StructField("_sim", T.LongType())])
    shifts = np.arange(bits, dtype=np.uint64)
    powers = (np.uint64(1) << shifts).astype(np.int64)

    def run(batches):
        for pdf in batches:
            sims = []
            for h in pdf["_th"]:
                x = np.asarray(h, dtype=np.int64).astype(np.uint64)[:, None]
                if x.size == 0:
                    sims.append(0)
                    continue
                signs = ((x >> shifts[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1
                counts = signs.sum(axis=0)
                sims.append(int(np.where(counts > 0, powers, 0).sum()))
            yield pd.DataFrame({id_col: pdf[id_col], "_sim": sims})

    return hashed.mapInPandas(run, schema=schema)


_WORDISH_PY = None


def _wordish_tokens_py(s: str) -> list[str]:
    """Python replica of functions/text.wordish_tokens: lowercase, then
    WORDISH with the explicit whitespace class (text.WS_CHARS — Java's
    ASCII ``\\s``; spelled out so the RE2/DuckDB oracle twin matches it
    exactly, since RE2's ``\\s`` lacks ``\\x0b``)."""
    global _WORDISH_PY
    if _WORDISH_PY is None:
        import re
        _WORDISH_PY = re.compile("[a-z0-9]+|[^a-z0-9 \t\n\x0b\f\r]")
    return _WORDISH_PY.findall(s.lower())


# Signature word geometry: signatures wider than one bigint are stored
# as array<bigint> of 63-bit words (63, not 64, keeps every packed word a
# POSITIVE signed bigint — no sign-extension traps in either engine).
# Word w's per-token 64-bit draw is the splitmix64 stream of the token's
# polynomial hash: mix64(h0 + w*GAMMA) — word 0 is exactly the original
# single-word token hash, so narrow signatures are a prefix of wide ones.
_SIM_WORD_BITS = 63


def _sim_n_words(bits: int) -> int:
    return (bits + _SIM_WORD_BITS - 1) // _SIM_WORD_BITS


def _token_poly_py(tok: str) -> int:
    """Rolling polynomial code-point hash of a token (pre-mix state; each
    signature word draws splitmix64(h + w·GAMMA) from it).  Hash IDENTITY
    is free to differ from the expression path's xxhash64: simhash
    quality only needs well-distributed 64-bit draws, and the oracle
    replays THIS spec."""
    h = 0
    for c in tok:
        h = (h * 1099511628211 + ord(c)) & 0xFFFFFFFFFFFFFFFF
    return h


def _simhash_from_text_frame(df: DataFrame, text_col: str, id_col: str,
                             bits: int) -> DataFrame:
    """(id, _sim: array<bigint> of 63-bit words) in ONE fused Python
    stage: tokenize + token-hash + sign-accumulate + pack per Arrow batch
    (the minhash fusion lesson — the JVM transform(xxhash64) per token is
    an interpreted HOF, and a separate Python signature stage pays a
    second worker round).  Token word-hashes are memoized per worker:
    corpus vocabulary is tiny relative to token occurrences, so most
    tokens hash once per executor."""
    require_columns(df, [text_col, id_col])
    narrow = ensure_parallelism(df.select(F.col(id_col),
                                          F.col(text_col).alias("_txt")))
    schema = T.StructType([df.schema[id_col],
                           T.StructField("_sim", T.ArrayType(T.LongType()))])
    n_words = _sim_n_words(bits)
    word_offsets = (np.arange(n_words, dtype=np.uint64) * _SM_GAMMA)
    # per-word bit widths (last word may be partial) and pack powers
    widths = [min(_SIM_WORD_BITS, bits - w * _SIM_WORD_BITS)
              for w in range(n_words)]
    shifts = [np.arange(wd, dtype=np.uint64) for wd in widths]
    powers = [(np.uint64(1) << sh).astype(np.int64) for sh in shifts]
    zero_sig = [0] * n_words

    def run(batches):
        memo: dict[str, "np.ndarray"] = {}
        for pdf in batches:
            sims = []
            for t in pdf["_txt"]:
                toks = _wordish_tokens_py(t or "")
                if not toks:
                    sims.append(zero_sig)
                    continue
                hs = np.empty((len(toks), n_words), dtype=np.uint64)
                for i, tok in enumerate(toks):
                    v = memo.get(tok)
                    if v is None:
                        h0 = np.uint64(_token_poly_py(tok))
                        v = _mix64(h0 + word_offsets)
                        memo[tok] = v
                    hs[i] = v
                sig = []
                for w in range(n_words):
                    signs = ((hs[:, w, None] >> shifts[w][None, :])
                             & np.uint64(1)).astype(np.int64) * 2 - 1
                    counts = signs.sum(axis=0)
                    sig.append(int(np.where(counts > 0, powers[w], 0).sum()))
                sims.append(sig)
            yield pd.DataFrame({pdf.columns[0]: pdf.iloc[:, 0], "_sim": sims})

    return narrow.mapInPandas(run, schema=schema)


def simhash_near_dup_pairs(df: DataFrame, text_col: str, id_col: str,
                           max_hamming: int = 3, bits: int = 126,
                           n_bands: int = 4,
                           max_bucket: int = 2000) -> DataFrame:
    """SimHash near-dup via the classic band trick: split the signature
    into ``n_bands`` chunks; any pair within Hamming distance
    ``max_hamming < n_bands`` must agree exactly on ≥1 chunk (pigeonhole),
    so bucketing by (chunk index, chunk value) finds all such pairs with an
    equi-join.  Verified by exact Hamming distance.

    ``bits`` defaults to 126 (two 63-bit signature words): a 63-bit
    signature at n_bands=9 leaves only 7-bit chunks — a FIXED 1152-bucket
    band space that saturates around 50k docs regardless of corpus size
    (the one scale ceiling sf1.0 measured in round 4).  126 bits at the
    same n_bands gives 14-bit chunks ≈ 147k buckets, so bucket geometry
    scales with the corpus the way minhash's does.  Chunks may straddle
    word boundaries; extraction handles the split.

    ``max_hamming >= n_bands`` would silently lose recall (a pair can
    spread its differing bits over every chunk), so it raises.
    ``max_bucket`` caps the quadratic blow-up of degenerate buckets —
    empty/boilerplate docs agree on whole chunks, and one such bucket of
    B members emits B² join rows; at 100 TB that one key dominates the
    job.  Capped buckets are dropped, as in minhash_lsh_candidates.
    (SimHash bits are majority votes, so docs sharing a vocabulary
    correlate on whole bit regions: even uniform corpora grow a few
    thousand-member buckets — the 2000 default clears the measured sf1.0
    geometry, max bucket 1060 over 50k docs, while bounding the worst
    bucket at ~2M pairs.)"""
    _require_pigeonhole(max_hamming, n_bands)
    # (id, _sim) is two longs per row: the cheapest possible thing to
    # cache, and the bucket sizes and both self-join sides read it.  The
    # surviving-bucket list is bounded by min(n_bands * 2^chunk, n_bands
    # * corpus) multi-member buckets — a few MB even at the 126-bit
    # default's 147k-key band space — so it is broadcast.
    sh = _sign_once(_simhash_from_text_frame(df, text_col, id_col, bits))
    pruned = _prune_buckets(
        _simhash_banded(sh, id_col, bits, n_bands), max_bucket)
    return (
        _bucket_self_join(pruned, id_col, ["_sim"])
         .select("id_a", "id_b",
                 hamming_words(F.col("_sim_a"), F.col("_sim_b"),
                               _sim_n_words(bits)).alias("hamming_dist"))
         .filter(F.col("hamming_dist") <= max_hamming)  # before distinct: shuffle only survivors
         .distinct()
    )


def hamming_words(a: Column, b: Column, n_words: int) -> Column:
    """Hamming distance between two word-array signatures, UNROLLED over
    the (plan-time-known) word count: per-word bit_count(xor) summed as a
    fixed-arity expression.  An aggregate/zip_with HOF would be
    semantically identical but runs INTERPRETED per element — on the
    banded self-join this sits in the hot path over every candidate pair,
    where unrolling keeps it inside whole-stage codegen (measured ~2×
    on the sf0.1 pair stage)."""
    terms = [
        F.bit_count(F.element_at(a, w + 1)
                     .bitwiseXOR(F.element_at(b, w + 1)))
        for w in range(n_words)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _sim_chunk_value(start: int, width: int) -> Column:
    """Extract signature bits [start, start+width) from the ``_sim`` word
    array as a bigint.  A chunk may straddle the 63-bit word boundary:
    take the low part from word ``start//63``, the high part from the
    next word, and recombine (width ≤ 63 so the result fits a bigint).
    All shift amounts are Python ints at plan-build time."""
    w0 = start // _SIM_WORD_BITS
    off = start % _SIM_WORD_BITS
    take = min(width, _SIM_WORD_BITS - off)
    lo = (F.shiftrightunsigned(F.element_at(F.col("_sim"), w0 + 1), off)
           .bitwiseAND(F.lit((1 << take) - 1)))
    if take == width:
        return lo
    hi = (F.element_at(F.col("_sim"), w0 + 2)
           .bitwiseAND(F.lit((1 << (width - take)) - 1)))
    return lo + F.shiftleft(hi, take)


def _simhash_chunks(bits: int, n_bands: int):
    """Per-band bucket keys of the ``_sim`` word-array column:
    "band:chunk-value" strings.  Chunks partition the GLOBAL bit space
    [0, bits) — the pigeonhole recall guarantee needs every signature bit
    covered by exactly one chunk, so chunks straddle word boundaries
    rather than banding each word independently (which would round the
    chunk width down and shrink the band space)."""
    chunk = bits // n_bands
    keys = []
    for i in range(n_bands):
        start = i * chunk
        # last band absorbs the remainder bits so the union covers [0, bits)
        width = (bits - start) if i == n_bands - 1 else chunk
        if width > 63:
            raise ValueError(
                f"band {i} would span {width} bits (> 63, a bigint): "
                f"bits={bits} needs n_bands >= {(bits + 62) // 63 + 1} "
                f"for extractable chunks")
        keys.append(F.concat_ws(":", F.lit(i), _sim_chunk_value(start, width)))
    return F.array(*keys)


def _simhash_banded(sh: DataFrame, id_col: str, bits: int,
                    n_bands: int) -> DataFrame:
    """(id, _sim) → (id, _sim, _bucket): one row per band."""
    return sh.select(id_col, "_sim",
                     F.explode(_simhash_chunks(bits, n_bands)).alias("_bucket"))


def simhash_bucket_stats(df: DataFrame, text_col: str, id_col: str,
                         bits: int = 126, n_bands: int = 4,
                         max_bucket: int = 2000) -> DataFrame:
    """Drop-accountability for the simhash band cap — the exact analogue
    of :func:`minhash_bucket_stats`: one row (n_buckets, n_multi,
    n_oversized, max_size) over the bucket-size distribution
    :func:`simhash_near_dup_pairs` would see with these parameters.
    ``n_oversized > 0`` means some content class (boilerplate, empties)
    is being routed out of the banded join by ``max_bucket`` and should
    be owned by exact dedup instead — monitor this so a corpus change
    surfaces as a loud stat, not a silent recall loss."""
    sh = _simhash_from_text_frame(df, text_col, id_col, bits)
    return _bucket_stats(_simhash_banded(sh, id_col, bits, n_bands),
                         max_bucket)


# ---------------------------------------------------------------------------
# SimHash DuckDB oracle twin — generated from the SAME spec constants as the
# fused Python path (_token_poly_py/_mix64), so the two cannot drift.
# ---------------------------------------------------------------------------

_POLY_PRIME = 1099511628211  # FNV-64 prime; must equal _token_poly_py's


def _mulmod64_sql(a: str, b: int) -> str:
    """DuckDB expression for ``(a * b) mod 2**64`` with ``a`` a UBIGINT
    identifier and ``b`` a 64-bit constant.  UBIGINT arithmetic raises on
    overflow, so split both operands at 32 bits: the cross terms are summed
    in HUGEINT, folded mod 2^32, and recombined — every intermediate fits
    int128."""
    bh, bl = b >> 32, b & 0xFFFFFFFF
    return (
        f"CAST(((({a} >> 32)::HUGEINT * {bl} + ({a} & 4294967295)::HUGEINT * {bh})"
        f" % 4294967296 * 4294967296"
        f" + ({a} & 4294967295)::HUGEINT * {bl}) % 18446744073709551616 AS UBIGINT)"
    )


def simhash_oracle_sql(table: str, text_col: str, id_col: str,
                       max_hamming: int = 8, bits: int = 126) -> str:
    """Exhaustive DuckDB twin of :func:`simhash_near_dup_pairs`.

    Replays the exact integer pipeline — wordish tokenize (occurrence
    multiplicity kept), per-token polynomial code-point hash, per-word
    splitmix64 draws (word w seeds with h0 + w*GAMMA), per-bit majority
    vote, 63-bit-per-word pack — then checks ALL pairs by summed per-word
    Hamming distance.  Valid as a full-value oracle because the Spark side
    runs with ``n_bands > max_hamming`` (banding is then lossless by
    pigeonhole) and the test corpora never trip ``max_bucket``.

    Every constant is derived from the same module-level spec the numpy
    path uses (``_POLY_PRIME``, ``_SM_GAMMA``, ``_SM_M1``, ``_SM_M2``),
    and the tokenizer's whitespace class is spelled explicitly
    (text.WS_CHARS) so Java-regex and RE2 semantics coincide.  Known
    oracle boundary (NOT a product issue): DuckDB ``lower()`` lacks the
    dotted-İ combining mark and the Greek final-sigma rule, so the twin
    is exact wherever ``lower()`` agrees across engines — all of ASCII,
    hence all driver testdata (pinned by
    tests/test_text.py::test_unicode_lower_product_path_consistency)."""
    from frames_map_reduce_spark.functions.text import WORDISH
    gamma, m1, m2 = int(_SM_GAMMA), int(_SM_M1), int(_SM_M2)
    n_words = _sim_n_words(bits)
    # per-word splitmix64 additive constants: word w's draw seeds with
    # h0 + w*GAMMA, and the mixer itself adds one more GAMMA — fold both
    # into a single per-word constant (w+1)*GAMMA mod 2^64, matching the
    # numpy path's uint64 wraparound exactly
    wconsts = ",\n       ".join(
        f"({w}, {((w + 1) * gamma) % (1 << 64)}::UBIGINT)"
        for w in range(n_words))
    # list_reduce seeds with the first element == ord(c0) == the Python
    # loop's state after one char, so no explicit initial accumulator.
    poly = (f"CAST(({_mulmod64_sql('h', _POLY_PRIME)}::HUGEINT + cp)"
            f" % 18446744073709551616 AS UBIGINT)")
    return f"""
WITH wconst(w, wc) AS (VALUES
       {wconsts}),
tok AS (
    SELECT {id_col}, unnest(regexp_extract_all(lower({text_col}), '{WORDISH}')) AS tok
    FROM {table}
),
tokc AS (  -- hash once per distinct (doc, token); multiplicity via cnt
    SELECT {id_col}, tok, count(*)::BIGINT AS cnt FROM tok GROUP BY {id_col}, tok
),
poly AS (
    SELECT {id_col}, cnt,
           list_reduce(
               list_transform(regexp_extract_all(tok, '.'), c -> unicode(c)::UBIGINT),
               (h, cp) -> {poly}
           ) AS h0
    FROM tokc
),
mixed AS (  -- per-word splitmix64 draw: mix(h0 + w*GAMMA), staged aliases
    SELECT {id_col}, cnt, wconst.w,
           CAST((h0::HUGEINT + wc) % 18446744073709551616 AS UBIGINT) AS z0,
           xor(z0, z0 >> 30) AS z1,
           {_mulmod64_sql('z1', m1)} AS z2,
           xor(z2, z2 >> 27) AS z3,
           {_mulmod64_sql('z3', m2)} AS z4,
           xor(z4, z4 >> 31) AS th
    FROM poly CROSS JOIN wconst
),
bitsum AS (  -- per-GLOBAL-bit occurrence-weighted majority vote;
             -- global bit g lives in word g//{_SIM_WORD_BITS} at offset g%{_SIM_WORD_BITS}
    SELECT {id_col}, bb.g AS g,
           SUM(cnt * (CASE WHEN (th >> (bb.g % {_SIM_WORD_BITS})) & 1 = 1 THEN 1 ELSE -1 END)) AS s
    FROM mixed JOIN (SELECT unnest(range({bits})) AS g) bb
      ON bb.g // {_SIM_WORD_BITS} = mixed.w
    GROUP BY {id_col}, bb.g
),
sig0 AS (
    SELECT {id_col}, g // {_SIM_WORD_BITS} AS w,
           CAST(SUM(CASE WHEN s > 0 THEN (1::UBIGINT << (g % {_SIM_WORD_BITS})) ELSE 0::UBIGINT END) AS BIGINT) AS sim
    FROM bitsum GROUP BY {id_col}, g // {_SIM_WORD_BITS}
),
sig AS (  -- every doc × every word; tokenless docs sign to all-zero words
    SELECT d.{id_col}, ws.w, COALESCE(s.sim, 0) AS sim
    FROM {table} d
    CROSS JOIN (SELECT unnest(range({n_words})) AS w) ws
    LEFT JOIN sig0 s ON s.{id_col} = d.{id_col} AND s.w = ws.w
),
pair AS (
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           SUM(bit_count(xor(a.sim::UBIGINT, b.sim::UBIGINT)))::INT AS hamming_dist
    FROM sig a JOIN sig b ON a.{id_col} < b.{id_col} AND a.w = b.w
    GROUP BY a.{id_col}, b.{id_col}
)
SELECT id_a, id_b, hamming_dist FROM pair
WHERE hamming_dist <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# 5. Exact repeated-substring spans (token granularity)
# ---------------------------------------------------------------------------
# Whole-document dedup misses REPEATED SPANS inside otherwise-unique
# documents (license headers, navigation chrome, quoted boilerplate) —
# the failure mode the exact-substring dedup literature targets.  The
# suffix-array construction used there doesn't distribute naturally;
# this is the Spark-shaped equivalent: every duplicated token k-gram is
# found via a posting-list count on its hash, flagged positions are
# joined back, and runs of adjacent duplicated positions merge into
# maximal spans per document with one window.

def duplicated_spans(df: DataFrame, text_col: str, id_col: str,
                     k: int = 8, min_count: int = 2) -> DataFrame:
    """Maximal duplicated token spans: every position whose k-gram
    occurs >= ``min_count`` times corpus-wide (within- or cross-doc),
    with adjacent positions merged into islands.

    Returns (id, span_start, span_end, span_tokens, n_dup_grams) with
    1-based inclusive token indices.

    Scale shape: the k-gram hash is a uniform high-cardinality key, so
    the posting count is a clean 2-phase aggregation; the duplicated-
    gram set is skinny (hash only) and joins back on the same key; the
    island merge windows only over FLAGGED positions per doc (bounded by
    the duplication actually present, not document length)."""
    from frames_map_reduce_spark.functions.text import tokens
    from pyspark.sql import Window

    require_columns(df, [text_col, id_col])
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    # the n >= k guard lives INSIDE the generator expression (NULL for
    # short docs), not in a .filter(size(_t) >= k): predicate pushdown
    # substitutes a filter's defining expression, so the tokenize chain
    # would run TWICE per row (Filter + Project).  sequence(1, n-k+1)
    # needs n >= k — start > stop would generate DESCENDING offsets.
    # explode_outer (no InferFiltersFromGenerate size()>0 re-inline)
    # turns the NULL arrays into one null row each, and the isnotnull
    # drops them — exactly the docs the old filter removed.
    starts = F.when(F.size("_t") >= k,
                    F.sequence(F.lit(1), F.size("_t") - k + 1))
    grams = base.select(
        id_col,
        F.explode_outer(starts).alias("_p"),
        "_t",
    ).where(F.col("_p").isNotNull()).select(
        id_col, F.col("_p").cast("bigint").alias("_p"),
        # coalesce with a non-null literal marks _g NON-NULLABLE, so
        # the self-join below cannot infer an isnotnull(_g) filter —
        # which pushdown would substitute into a SECOND evaluation of
        # the whole slice+concat+md5 chain per gram row (measured
        # 0.75x with it gone; values identical).  The chain is never
        # NULL here anyway: _t and _p are non-null by the guard above,
        # so the '' arm never fires.
        F.coalesce(
            F.md5(F.encode(F.concat_ws(" ", F.slice(F.col("_t"), F.col("_p"),
                                                    k)),
                           "UTF-8")),
            F.lit("")).alias("_g"))
    dup = (grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") >= min_count).select("_g"))
    flagged = grams.join(dup, "_g").select(id_col, "_p")
    w = Window.partitionBy(id_col).orderBy("_p")
    prev = F.lag("_p").over(w)
    new_island = F.when(F.col("_p") - prev == 1, F.lit(0)).otherwise(F.lit(1))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = flagged.withColumn("_island", F.sum(new_island).over(wc))
    return (isl.groupBy(id_col, "_island")
               .agg(F.min("_p").alias("span_start"),
                    (F.max("_p") + (k - 1)).alias("span_end"),
                    F.count(F.lit(1)).alias("n_dup_grams"))
               .select(id_col, "span_start", "span_end",
                       (F.col("span_end") - F.col("span_start") + 1)
                        .alias("span_tokens"),
                       "n_dup_grams"))


def duplicated_spans_sql(table: str, text_col: str, id_col: str,
                         k: int = 8, min_count: int = 2) -> str:
    """DuckDB twin of :func:`duplicated_spans` — same tokenization spec
    (text.tokens_sql), same md5 gram keys, same island arithmetic."""
    from frames_map_reduce_spark.functions.text import tokens_sql
    toks = tokens_sql(text_col)
    return f"""
WITH toks AS (SELECT {id_col}, {toks} AS t FROM {table}),
     grams AS (
       SELECT {id_col}, CAST(p AS BIGINT) AS p,
              md5(array_to_string(t[p:p+{k - 1}], ' ')) AS g
       FROM (SELECT {id_col}, t,
                    unnest(range(1, len(t) - {k} + 2)) AS p
             FROM toks WHERE len(t) >= {k})),
     dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= {min_count}),
     flagged AS (SELECT {id_col}, p FROM grams JOIN dup USING (g)),
     steps AS (
       SELECT {id_col}, p,
              CASE WHEN p - lag(p) OVER (PARTITION BY {id_col} ORDER BY p) = 1
                   THEN 0 ELSE 1 END AS step
       FROM flagged),
     isl AS (
       SELECT {id_col}, p,
              sum(step) OVER (PARTITION BY {id_col} ORDER BY p
                              ROWS UNBOUNDED PRECEDING) AS island
       FROM steps)
SELECT {id_col}, span_start, span_end,
       span_end - span_start + 1 AS span_tokens, n_dup_grams
FROM (SELECT {id_col}, island, min(p) AS span_start,
             max(p) + {k - 1} AS span_end, count(*) AS n_dup_grams
      FROM isl GROUP BY {id_col}, island)
"""


def remove_duplicated_spans(df: DataFrame, text_col: str, id_col: str,
                            k: int = 8, min_count: int = 2,
                            min_span_tokens: int | None = None,
                            out_col: str = "clean_text") -> DataFrame:
    """The APPLY half of span-level dedup: rebuild each document's text
    with every flagged duplicated span (:func:`duplicated_spans`) cut
    out — the exact-substring-dedup removal step (license headers,
    navigation chrome, quoted boilerplate excised in place, the rest of
    the document kept).

    Returns one row per input document: ``id_col``, ``out_col`` (kept
    tokens re-joined with single spaces — whitespace-NORMALIZING, like
    every token-level rewrite), ``n_tokens`` (before), ``n_tokens_removed``,
    ``n_spans_removed``.  ``min_span_tokens`` (default ``k``, the
    minimum width a span can have) drops no spans by default but lets
    callers ignore short accidental repeats.

    Scale shape: the span frame is the posting-list pipeline of
    ``duplicated_spans`` (2-phase agg + skinny join + flagged-only
    window); the rewrite itself is one LEFT join of documents to their
    grouped span lists (spans per doc are few) and a per-token
    ``exists`` over that bounded list — all JVM expressions, no Python.
    """
    from frames_map_reduce_spark.functions.text import tokens

    require_columns(df, [text_col, id_col])
    if min_span_tokens is None:
        min_span_tokens = k
    spans = (duplicated_spans(df, text_col, id_col, k=k,
                              min_count=min_count)
             .filter(F.col("span_tokens") >= min_span_tokens)
             .groupBy(id_col)
             .agg(F.collect_list(F.struct("span_start", "span_end"))
                   .alias("_spans")))
    base = df.select(
        F.col(id_col),
        F.coalesce(tokens(F.col(text_col)),
                   F.array().cast("array<string>")).alias("_t"))
    joined = base.join(spans, id_col, "left").withColumn(
        "_spans", F.coalesce("_spans", F.array()))
    # sequence(1, 0) DESCENDS in Spark — gate the empty-token case
    positions = F.when(F.size("_t") > 0,
                       F.sequence(F.lit(1), F.size("_t"))) \
                 .otherwise(F.array().cast("array<int>"))
    pos = F.transform(
        positions,
        lambda p: F.when(
            ~F.exists("_spans",
                      lambda sp: (p >= sp["span_start"])
                                 & (p <= sp["span_end"])),
            F.element_at("_t", p)))
    kept = F.filter(pos, lambda x: x.isNotNull())
    return joined.select(
        id_col,
        F.concat_ws(" ", kept).alias(out_col),
        F.size("_t").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).alias("n_tokens_removed"),
        F.size("_spans").alias("n_spans_removed"))


def remove_duplicated_spans_sql(table: str, text_col: str, id_col: str,
                                k: int = 8, min_count: int = 2,
                                min_span_tokens: int | None = None,
                                out_col: str = "clean_text") -> str:
    """DuckDB twin of :func:`remove_duplicated_spans` — wraps the
    :func:`duplicated_spans_sql` twin and applies the same positional
    cut + single-space rejoin."""
    from frames_map_reduce_spark.functions.text import tokens_sql

    if min_span_tokens is None:
        min_span_tokens = k
    toks = tokens_sql(text_col)
    inner = duplicated_spans_sql(table, text_col, id_col,
                                 k=k, min_count=min_count)
    return f"""
WITH span_rows AS ({inner}),
     sp AS (
       SELECT {id_col}, list([span_start, span_end]) AS spans
       FROM span_rows WHERE span_tokens >= {min_span_tokens}
       GROUP BY {id_col}),
     base AS (SELECT {id_col}, COALESCE({toks}, []) AS t FROM {table}),
     joined AS (
       SELECT b.{id_col}, b.t, COALESCE(s.spans, []) AS spans
       FROM base b LEFT JOIN sp s USING ({id_col})),
     cut AS (
       SELECT {id_col}, t, spans,
              list_filter(
                list_transform(range(1, len(t) + 1),
                  p -> CASE WHEN len(list_filter(spans,
                         sp -> p >= sp[1] AND p <= sp[2])) = 0
                       THEN t[p] END),
                x -> x IS NOT NULL) AS kept
       FROM joined)
SELECT {id_col},
       -- DuckDB array_to_string([]) is NULL; Spark concat_ws is '' —
       -- coalesce to the Spark semantics
       COALESCE(array_to_string(kept, ' '), '') AS {out_col},
       len(t) AS n_tokens,
       len(t) - len(kept) AS n_tokens_removed,
       len(spans) AS n_spans_removed
FROM cut"""


def remove_duplicated_lines(df: DataFrame, text_col: str, id_col: str,
                            min_count: int = 2,
                            out_col: str = "clean_text") -> DataFrame:
    """C4-style LINE-level boilerplate removal: every occurrence of any
    non-blank line whose SPACE-TRIMMED form appears ``min_count``-or-more
    times corpus-wide is cut; line structure (including blank lines) is
    otherwise preserved byte-for-byte.  The companion of
    :func:`remove_duplicated_spans` at line granularity — navigation
    chrome, cookie banners, and repeated headers fall out here without
    touching k-gram machinery.

    Returns one row per input document: ``id_col``, ``out_col`` (kept
    lines re-joined with ``\\n``), ``n_lines``, ``n_lines_removed``.
    "Blank" means SPACE-trimmed-empty (both engines' ``trim`` strips
    U+0020 only): space-only lines never count and are never removed; a
    tab- or CR-only line has a non-empty trimmed key, so it counts and
    is removable like any other content line (r5 ADVICE — the spec is
    deliberately the shared ``trim`` primitive, not the full Unicode
    whitespace class, so the twins stay byte-identical).

    Scale shape: split+posexplode (linear) → one 2-phase count over
    trimmed non-blank lines (map-side combine collapses within-partition
    repeats of hot boilerplate) → the flagged-line set joins back on the
    same key (AQE-broadcast when small) → one per-doc ordered
    reassembly.  Remove-ALL-occurrences semantics (symmetric with
    ``duplicated_spans``): keep-one-copy requires a global occurrence
    order, which is a different, shuffle-heavier contract."""
    require_columns(df, [text_col, id_col])
    lines = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), "\n"))
                        .alias("_p", "_line"))
               .withColumn("_key", F.trim(F.col("_line"))))
    counts = (lines.filter(F.col("_key") != "")
                   .groupBy("_key").agg(F.count(F.lit(1)).alias("_c")))
    flagged = counts.filter(F.col("_c") >= min_count).select("_key")
    kept = (lines.join(flagged.withColumn("_dup", F.lit(True)),
                       "_key", "left")
                 .withColumn("_cut", (F.col("_key") != "")
                                     & F.coalesce("_dup", F.lit(False))))
    return (kept.groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_lines"),
                     F.sum(F.col("_cut").cast("int"))
                      .alias("n_lines_removed"),
                     F.concat_ws(
                         "\n",
                         F.transform(
                             F.array_sort(F.collect_list(
                                 F.when(~F.col("_cut"),
                                        F.struct("_p", "_line")))),
                             lambda s: s["_line"])).alias(out_col))
                .select(id_col, out_col, "n_lines", "n_lines_removed"))


def remove_duplicated_lines_sql(table: str, text_col: str, id_col: str,
                                min_count: int = 2,
                                out_col: str = "clean_text") -> str:
    """DuckDB twin of :func:`remove_duplicated_lines` — same trim/blank
    semantics, same remove-all contract, ordered reassembly via
    ``string_agg(... ORDER BY pos)``."""
    return f"""
WITH base AS (
    SELECT {id_col}, string_split({text_col}, chr(10)) AS l FROM {table}),
lines AS (
    SELECT {id_col}, p, l[p] AS line, trim(l[p]) AS key
    FROM (SELECT {id_col}, l, unnest(range(1, len(l) + 1)) AS p FROM base)),
counts AS (
    SELECT key, count(*) AS c FROM lines WHERE key <> '' GROUP BY key),
marked AS (
    SELECT li.{id_col}, li.p, li.line,
           (li.key <> '' AND COALESCE(co.c, 0) >= {min_count}) AS cut
    FROM lines li LEFT JOIN counts co USING (key))
SELECT {id_col},
       COALESCE(string_agg(CASE WHEN NOT cut THEN line END, chr(10)
                           ORDER BY p) FILTER (WHERE NOT cut), '')
           AS {out_col},
       count(*)::BIGINT AS n_lines,
       sum(CASE WHEN cut THEN 1 ELSE 0 END)::BIGINT AS n_lines_removed
FROM marked GROUP BY {id_col}"""


def jaccard_pairs_prefix_parts(docs_sel: str, id_col: str,
                               shingle_expr: str, threshold_num: int,
                               threshold_den: int, pair_pred: str,
                               vocab_bits: int, tag: str,
                               block_expr: str | None = None):
    """Shared fragments of the prefix-filtered Jaccard twin — one
    (name, body) stage list + the final pair SELECT, rendered two ways
    by :func:`jaccard_pairs_prefix_sql` (single-statement CTE form, the
    driver oracle) and :func:`jaccard_pairs_prefix_staged_sql` (temp-
    table form for the sf1.0 scale gate: DuckDB re-executes a CTE body
    once PER REFERENCE, which multiplies the shingle scan ~8× and made
    the one-statement form ~10× slower than the identical staged
    pipeline — same SQL text either way, so no semantic drift).
    ``tag`` namespaces the temp tables per query."""
    tn, td = int(threshold_num), int(threshold_den)
    if tn <= 0 or td <= 0:
        raise ValueError("prefix filter needs threshold > 0 "
                         f"(got {tn}/{td})")
    if vocab_bits < 1:
        raise ValueError(f"vocab_bits must be >= 1, got {vocab_bits}")
    t = f"_pp{tag}"
    blk_sel = f", {block_expr} AS _blk" if block_expr else ""
    blk_out = ", x._blk AS block" if block_expr else ""
    blk_cand = " AND a._blk = b._blk" if block_expr else ""
    blk_carry = ", _blk" if block_expr else ""
    stages = [
        (f"{t}_sized", f"""
            SELECT {id_col} AS _id{blk_sel},
                   list_distinct({shingle_expr}) AS _shd
            FROM ({docs_sel})
            WHERE {shingle_expr} IS NOT NULL"""),
        (f"{t}_ex", f"""
            SELECT _id{blk_carry}, len(_shd) AS _n, unnest(_shd) AS _s
            FROM {t}_sized"""),
        (f"{t}_freq", f"""
            SELECT _s, count(*) AS _df FROM {t}_ex GROUP BY _s"""),
        (f"{t}_prefix", f"""
            SELECT _id{blk_carry}, _s, _n, _pos FROM (
                SELECT e._id{(", e._blk" if block_expr else "")}, e._s,
                       e._n,
                       row_number() OVER (PARTITION BY e._id
                           ORDER BY f._df, e._s) AS _pos
                FROM {t}_ex e JOIN {t}_freq f USING (_s))
            WHERE _pos <= _n - (({tn} * _n + {td} - 1) // {td}) + 1"""),
        # PPJoin refinements (Xiao et al., WWW'08), both lossless
        # (cross-multiplied integers): size filter t·|A| <= |B|
        # (sym.); positional filter 1 + min(remaining) >= minoverlap
        # ceil(t/(1+t)·(|A|+|B|)) — the row generated by a qualifying
        # pair's LOWEST common shingle always passes.
        (f"{t}_cand", f"""
            SELECT DISTINCT a._id AS _ca, b._id AS _cb
            FROM {t}_prefix a JOIN {t}_prefix b
              ON a._s = b._s{blk_cand} AND ({pair_pred})
            WHERE {td} * b._n >= {tn} * a._n
              AND {td} * a._n >= {tn} * b._n
              AND (1 + least(a._n - a._pos, b._n - b._pos))
                  * ({td} + {tn}) >= {tn} * (a._n + b._n)"""),
        (f"{t}_vocab", f"""
            SELECT _s, row_number() OVER (ORDER BY _s) - 1 AS _bi
            FROM (SELECT DISTINCT _s FROM {t}_freq)"""),
        (f"{t}_bits", f"""
            SELECT e._id{(", any_value(e._blk) AS _blk" if block_expr
                          else "")},
                   bitstring_agg(v._bi, 0, {vocab_bits - 1}) AS _bs
            FROM {t}_ex e JOIN {t}_vocab v USING (_s)
            GROUP BY e._id"""),
    ]
    final = f"""
        SELECT * FROM (
            SELECT c._ca AS id_a, c._cb AS id_b{blk_out},
                   round(bit_count(x._bs & y._bs)::DOUBLE /
                         nullif(bit_count(x._bs | y._bs), 0), 6)
                       AS jaccard_sim
            FROM {t}_cand c
            JOIN {t}_bits x ON x._id = c._ca
            JOIN {t}_bits y ON y._id = c._cb)
        WHERE jaccard_sim >= {tn}::DOUBLE / {td}::DOUBLE"""
    return stages, final


def jaccard_pairs_prefix_sql(docs_sel: str, id_col: str,
                             shingle_expr: str, threshold_num: int,
                             threshold_den: int, pair_pred: str,
                             vocab_bits: int, tag: str = "",
                             block_expr: str | None = None) -> str:
    """Prefix-filtered DuckDB twin of an exact-Jaccard pair set — the
    ENGINE's own AllPairs/PPJoin rewrite (:func:`ngram_jaccard_pairs`)
    rendered as ONE SQL statement (r12 verdict #7: the all-pairs
    Jaccard twins were the sliced-exact residue at the sf1.0 gate).

    LOSSLESS by the lemma the engine cites (Bayardo et al., WWW 2007):
    under the shared (document-frequency asc, shingle asc) total
    order, a pair with J(A,B) ≥ t shares its lowest-ordered common
    shingle inside BOTH prefixes of length ``|S| − ⌈t·|S|⌉ + 1`` — the
    candidate equi-join on prefix shingles proposes every qualifying
    pair, and the exact verify (BITSTRING set algebra over a dense
    global shingle index: ``|A∩B| = bit_count(a & b)`` — the same
    integers as list_intersect, ~100× faster per pair) keeps output
    values identical to the all-pairs form.  ``vocab_bits`` must be
    ≥ the corpus's distinct-shingle count (bitstring_agg demands a
    CONSTANT bound): derive it at oracle-generation time from the same
    parquet (the IVF convention) — an undersized bound fails LOUDLY.

    ``docs_sel``: a SELECT yielding ``{id_col}`` + the text column
    ``shingle_expr`` references; ``pair_pred``: the pair condition
    over prefix aliases ``a``/``b`` on ``_id`` (self-join
    ``a._id < b._id``, %4 splits for cross-corpus screens);
    ``block_expr``: optional blocking column (candidates must share
    it).  Output: ``(id_a, id_b, jaccard_sim)`` (6-dp round before the
    threshold compare, matching the historical twins) + ``block`` when
    blocked.  For the sf1.0 gate use
    :func:`jaccard_pairs_prefix_staged_sql` — same fragments, temp
    tables instead of CTEs (DuckDB re-executes CTE bodies per
    reference)."""
    stages, final = jaccard_pairs_prefix_parts(
        docs_sel, id_col, shingle_expr, threshold_num, threshold_den,
        pair_pred, vocab_bits, tag, block_expr)
    ctes = ",\n".join(f"{name} AS MATERIALIZED ({body})"
                      for name, body in stages)
    return f"WITH {ctes}\n{final}"


def jaccard_pairs_prefix_staged_sql(docs_sel: str, id_col: str,
                                    shingle_expr: str,
                                    threshold_num: int,
                                    threshold_den: int, pair_pred: str,
                                    vocab_bits: int, tag: str,
                                    block_expr: str | None = None):
    """(setup_statements, pairs_select): the SAME fragments as
    :func:`jaccard_pairs_prefix_sql` rendered as ``CREATE OR REPLACE
    TEMP TABLE`` stages + a final select — each stage executes exactly
    once, which is what makes the full (unsliced) sf1.0 oracle pass
    tractable.  ``tag`` MUST be unique per query within a connection."""
    stages, final = jaccard_pairs_prefix_parts(
        docs_sel, id_col, shingle_expr, threshold_num, threshold_den,
        pair_pred, vocab_bits, tag, block_expr)
    setup = [f"CREATE OR REPLACE TEMP TABLE {name} AS {body}"
             for name, body in stages]
    return setup, final
