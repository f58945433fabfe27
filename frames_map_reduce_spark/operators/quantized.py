"""Int8 embedding quantization + integer-exact dot-product retrieval.

At 100 TB the embedding columns ARE the bandwidth bill: a 64-dim
float32 vector is 256 B/row in every scan and every shuffle.  Symmetric
power-of-two int8 quantization cuts that 4x (64 B/row) and turns
scoring into integer multiply-adds — the standard serving-side trick
(faiss SQ8, ScaNN int8) — and, done with POWER-OF-TWO scales only, it
is *bit-exact across engines*:

  q = clamp(floor(x · 2^frac_bits), -2^(clamp_bits-1), 2^(clamp_bits-1)-1)

``x · 2^frac_bits`` is an exponent shift (exact for every finite float,
in float32 and float64 alike), ``floor`` of an exactly-representable
value is exact, and the clamp is integer — so Spark, DuckDB, and numpy
produce the SAME int8 vector from the same floats, with no rounding
mode to reconcile.  Every downstream score is then a BIGINT sum of
bounded integer products (|q| ≤ 128 ⇒ a 64-dim dot ≤ 2^20, astronomically
inside BIGINT), engine-exact by construction — the same
integer-after-one-quantization design rule as ``label_outliers``
(similarity.py), applied to retrieval.

Semantics note (named honestly): ranking is by RAW INNER PRODUCT of the
quantized vectors — MIPS, the objective most embedding models are
trained for — not cosine.  For unnormalized vectors the two orders
differ; normalize upstream if cosine order is wanted.  Saturation: any
coordinate with |x| ≥ 2^(clamp_bits-1-frac_bits) clamps (defaults: |x| ≥
0.5); pick ``frac_bits`` so the embedding's dynamic range fits, exactly
like choosing a scale for SQ8.

Scale shape: quantization is a pure codegen ``transform`` (JVM, no
Python); scoring is ``zip_with``+``aggregate`` (JVM codegen
multiply-add); the bounded query set is broadcast, each corpus Arrow
batch keeps a partial top-k per query (``partial_topk`` — the same
partial-then-merge exactness argument as ``brute_force_topk``), and the
final merge window sees ≤ partitions×k rows per query.  Exact MIPS is
inherently O(|corpus|×|queries|) work; what int8 buys at scale is 4×
less scan/shuffle byte volume and SIMD-friendly integer math.  For
sub-linear candidate generation feed the SAME quantized column through
the IVF/SRP operators and re-score candidates with the exact integer
dot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from frames_map_reduce_spark.operators.similarity import (_rank_topk,
                                                          partial_topk)
from frames_map_reduce_spark.schema import require_columns

__all__ = ["quantize_expr", "quantize_embeddings", "quantized_dot",
           "quantized_topk", "quantize_sql", "quantized_topk_sql"]


def _clamp_range(clamp_bits: int) -> tuple[int, int]:
    if not 2 <= clamp_bits <= 31:
        raise ValueError(f"clamp_bits must be in [2, 31], got {clamp_bits}")
    lo = -(1 << (clamp_bits - 1))
    return lo, -lo - 1


def _storage_type(clamp_bits: int) -> str:
    """Smallest integral element type the clamp range fits — the 4×
    bandwidth claim is realized HERE: ``tinyint`` elements are 1 byte in
    Spark's internal rows and shuffle blocks (and INT(8)-annotated in
    parquet), vs 4 for the float32 they replace.  Same names are valid
    DuckDB types."""
    if clamp_bits <= 8:
        return "tinyint"
    if clamp_bits <= 16:
        return "smallint"
    return "int"


def quantize_expr(vec: Column | str, frac_bits: int = 8,
                  clamp_bits: int = 8) -> Column:
    """``array<float/double>`` → array of the smallest integral type the
    clamp fits (``array<tinyint>`` at the int8 default — 1 byte/coord in
    Spark's rows and shuffle blocks, the actual 4× win) by the
    module-header power-of-two quantization.  Pure codegen (``transform`` over
    ``floor``/``greatest``/``least``) — no UDF, no shuffle.  NaN and
    NULL coordinates quantize to NULL EXPLICITLY — both Spark's and
    DuckDB's ``greatest``/``least`` SKIP NULL arguments (row-wise
    min/max semantics) rather than propagating them, so without the
    guard a NULL coordinate would silently saturate to the clamp bound
    — and poison the row's dot to NULL, which ranking then excludes
    (the zero-norm convention of ``brute_force_topk``)."""
    if frac_bits < 0:
        raise ValueError(f"frac_bits must be >= 0, got {frac_bits}")
    lo, hi = _clamp_range(clamp_bits)
    scale = 1 << frac_bits
    col = F.col(vec) if isinstance(vec, str) else vec
    st = _storage_type(clamp_bits)
    return F.transform(
        col,
        lambda x: F.when(
            x.isNull() | F.isnan(x.cast("double")), F.lit(None).cast(st)
        ).otherwise(
            F.greatest(
                F.lit(lo),
                F.least(F.lit(hi),
                        F.floor(x.cast("double") * F.lit(scale))))
            .cast(st)))


def quantize_embeddings(df: DataFrame, vec_col: str, out_col: str = "qvec",
                        frac_bits: int = 8,
                        clamp_bits: int = 8) -> DataFrame:
    """``df`` + ``out_col``: the int8-range quantized twin of
    ``vec_col`` (kept alongside — drop the float column at write time
    to realize the 4× storage/bandwidth win)."""
    require_columns(df, [vec_col])
    return df.withColumn(out_col,
                         quantize_expr(vec_col, frac_bits, clamp_bits))


def quantized_dot(a: Column | str, b: Column | str) -> Column:
    """Exact BIGINT inner product of two quantized vectors — JVM
    codegen ``zip_with`` + ``aggregate``, no Python.  NULL if either
    vector is NULL or any paired coordinate is NULL (NaN poisoning
    contract of :func:`quantize_expr`); length mismatch contributes
    NULL pairs (zip_with pads) and therefore NULLs the dot."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("bigint") * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v)


def quantized_topk(corpus: DataFrame, queries: DataFrame, k: int,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id", frac_bits: int = 8,
                   clamp_bits: int = 8,
                   max_queries: int = 10_000) -> DataFrame:
    """Exact int8-MIPS top-``k`` per query: quantize both sides
    (codegen), broadcast the bounded query set, score with the exact
    BIGINT dot, per-batch partial top-k, deterministic merge.

    Returns ``(query_id, vec_id, dot_q, rank)`` — ``dot_q`` BIGINT,
    ranking by (``dot_q`` DESC, ``id_col`` ASC), NULL dots (NaN /
    length-mismatch rows) excluded.  Integer-exact end to end: there is
    no rounding parameter because there is nothing to round.

    ``queries`` must be a bounded set (checked: ≤ ``max_queries``; the
    broadcast hint is the plan).  For query sets beyond the cap,
    quantize both sides with :func:`quantize_embeddings` and run the
    block-join scorer (``brute_force_topk_joined``) on the float
    column, or IVF/SRP for sub-linear candidates — this function's cap
    error names both."""
    require_columns(corpus, [id_col, vec_col])
    require_columns(queries, [query_id_col, vec_col])
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n_q = queries.limit(max_queries + 1).count()
    if n_q > max_queries:
        raise ValueError(
            f"quantized_topk broadcasts the query set; got > {max_queries} "
            "queries. Raise max_queries deliberately, or use "
            "brute_force_topk_joined (block-join exact) / ivf_topk "
            "(sub-linear) for unbounded query sets.")
    qq = queries.select(
        F.col(query_id_col),
        quantize_expr(vec_col, frac_bits, clamp_bits).alias("_qq"))
    cq = corpus.select(
        F.col(id_col),
        quantize_expr(vec_col, frac_bits, clamp_bits).alias("_cq"))
    scored = (cq.join(F.broadcast(qq))  # bounded fan-out by contract
                .withColumn("dot_q", quantized_dot("_cq", "_qq"))
                .filter(F.col("dot_q").isNotNull())
                .select(query_id_col, id_col, "dot_q"))
    part = partial_topk(scored, k, query_id_col, id_col, sim_col="dot_q")
    return _rank_topk(part, k, query_id_col, id_col, sim_col="dot_q")


def quantize_sql(vec_expr: str, frac_bits: int = 8,
                 clamp_bits: int = 8) -> str:
    """DuckDB twin of :func:`quantize_expr` — same exponent-shift /
    floor / clamp arithmetic, exact by the same argument.  NULL and NaN
    coordinates both pin to NULL via an explicit leading guard: DuckDB's
    ``least``/``greatest`` SKIP NULL arguments (row-wise min/max
    semantics) where Spark's propagate them, so without the guard a
    NULL coordinate would silently clamp to the saturation bound
    instead of poisoning the dot (measured divergence, not
    hypothetical)."""
    if frac_bits < 0:
        raise ValueError(f"frac_bits must be >= 0, got {frac_bits}")
    lo, hi = _clamp_range(clamp_bits)
    scale = 1 << frac_bits
    st = _storage_type(clamp_bits).upper()
    return (f"list_transform({vec_expr}, x -> CASE WHEN "
            f"x IS NULL OR isnan(CAST(x AS DOUBLE)) THEN NULL ELSE "
            f"CAST(greatest({lo}, least({hi}, "
            f"CAST(floor(CAST(x AS DOUBLE) * {scale}) AS INT))) AS {st}) END)")


def quantized_topk_sql(table: str, id_col: str, vec_col: str,
                       query_pred: str, corpus_pred: str, k: int,
                       frac_bits: int = 8, clamp_bits: int = 8) -> str:
    """DuckDB twin of :func:`quantized_topk` over a self-split of
    ``table`` (``query_pred`` rows are the queries, ``corpus_pred`` the
    corpus — the registry convention of ``ann_bruteforce``).  The dot
    is an explicit INTEGER product sum over ``list_zip`` (no float
    path); NULL semantics are pinned to Spark's ``aggregate`` (any NULL
    paired coordinate — incl. ``list_zip``'s padding on length mismatch
    or a NULL vector — NULLs the dot, which ranking excludes; a dim-0
    pair dots to 0, not NULL, matching ``aggregate``'s initial value —
    DuckDB's ``list_sum`` alone would silently SKIP NULLs and return
    NULL on empty, hence the explicit guards)."""
    q = quantize_sql(vec_col, frac_bits, clamp_bits)
    return f"""
        WITH _t AS (SELECT {id_col}, {q} AS _qv FROM {table}),
        _p AS (
          SELECT a.{id_col} AS query_id, b.{id_col} AS {id_col},
                 a._qv AS _aq, b._qv AS _bq,
                 list_transform(list_zip(a._qv, b._qv),
                      p -> CAST(p[1] AS BIGINT) * p[2]) AS _pr
          FROM (SELECT * FROM _t WHERE {query_pred}) a
          JOIN (SELECT * FROM _t WHERE {corpus_pred}) b ON true),
        _s AS (
          SELECT query_id, {id_col},
                 CASE WHEN _aq IS NULL OR _bq IS NULL THEN NULL
                      WHEN len(list_filter(_pr, v -> v IS NULL)) > 0
                        THEN NULL
                      ELSE COALESCE(CAST(list_sum(_pr) AS BIGINT), 0)
                 END AS dot_q
          FROM _p)
        SELECT query_id, {id_col}, dot_q, rank FROM (
          SELECT query_id, {id_col}, dot_q,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY dot_q DESC, {id_col}) AS rank
          FROM _s WHERE dot_q IS NOT NULL)
        WHERE rank <= {int(k)}"""


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized residuals over the frozen coarse quantizer
# (r12 verdict #4 — the composition of build_ivf_index's inverted lists
# with this module's integer quantization discipline).  Jégou et al.,
# "Product Quantization for Nearest Neighbor Search" (TPAMI 2011) —
# re-expressed integer-exact so a DuckDB twin replays it bit-for-bit.
# ---------------------------------------------------------------------------

def _pq_validate(dim: int, m_sub: int, k_codes: int,
                 frac_bits: int) -> int:
    if m_sub < 1 or dim % m_sub:
        raise ValueError(
            f"m_sub={m_sub} must divide the vector dim {dim}")
    if not 2 <= k_codes <= 1 << 15:
        raise ValueError(f"k_codes must be in [2, 32768], got {k_codes}")
    if frac_bits < 0:
        raise ValueError(f"frac_bits must be >= 0, got {frac_bits}")
    return dim // m_sub


def _quantized_residuals(x, centroids, frac_bits: int):
    """(assign, rq): float argmax cell assignment (the ivf_assign
    formula — score = x·c − ½‖c‖², first max wins) and the INTEGER
    residual matrix ``floor((x − c[assign]) · 2^frac_bits)``.  The
    subtraction and the exponent-shift multiply are single IEEE-754
    float64 ops, so the floor is bit-identical in numpy, Spark SQL and
    DuckDB — the one-quantization-then-integers design rule."""
    import numpy as np
    cents = np.asarray(centroids, dtype=np.float64)
    scores = x @ cents.T - 0.5 * (cents ** 2).sum(axis=1)[None, :]
    assign = scores.argmax(axis=1)
    rq = np.floor((x - cents[assign]) * float(1 << frac_bits)) \
        .astype(np.int64)
    return assign, rq


def train_pq_codebooks_from_matrix(x, centroids, m_sub: int = 8,
                                   k_codes: int = 16, iters: int = 10,
                                   seed: int = 42,
                                   frac_bits: int = 8):
    """Deterministic integer PQ training on a float64 sample matrix:
    assign → quantized residuals → per-subspace Lloyd's k-means where
    every centroid update is an INTEGER floor-division mean — so the
    trained codebooks are int64 and a pure function of the sample SET
    (+ spec), replayable outside Spark by
    :func:`replay_pq_codebooks` exactly as
    ``similarity._kmeans_fit``'s float centroids are.  Ties in the
    per-row argmin go to the lowest code id (numpy first-min).
    Returns a ``(m_sub, k_codes, dim // m_sub)`` int64 array."""
    import numpy as np
    dim = x.shape[1]
    sub = _pq_validate(dim, m_sub, k_codes, frac_bits)
    _, rq = _quantized_residuals(x, centroids, frac_bits)
    rq = rq[np.lexsort(rq.T[::-1])]      # order-canonicalize the sample
    books = np.empty((m_sub, k_codes, sub), dtype=np.int64)
    for m in range(m_sub):
        xs = rq[:, m * sub:(m + 1) * sub]
        rng = np.random.default_rng(seed + m)
        cents = xs[rng.choice(len(xs), size=min(k_codes, len(xs)),
                              replace=False)].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(len(cents)):
                members = xs[a == c]
                if len(members):
                    cents[c] = np.floor_divide(members.sum(axis=0),
                                               len(members))
        if len(cents) < k_codes:         # tiny sample: pad by repetition
            pad = np.tile(cents[-1:], (k_codes - len(cents), 1))
            cents = np.concatenate([cents, pad])
        books[m] = cents
    return books


def train_pq_codebooks(corpus: DataFrame, centroids,
                       vec_col: str = "embedding", m_sub: int = 8,
                       k_codes: int = 16, iters: int = 10,
                       seed: int = 42, frac_bits: int = 8,
                       sample_limit: int = 20_000):
    """Train PQ codebooks on a bounded driver-side sample of the corpus
    residuals against the FROZEN coarse quantizer ``centroids`` (the
    ``train_ivf_centroids`` sampling recipe — training on a sample is
    the standard IVF-PQ build; only ENCODING must be distributed)."""
    import numpy as np
    require_columns(corpus, [vec_col])
    rows = corpus.select(vec_col).limit(sample_limit).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    return train_pq_codebooks_from_matrix(
        x, centroids, m_sub=m_sub, k_codes=k_codes, iters=iters,
        seed=seed, frac_bits=frac_bits)


def replay_pq_codebooks(parquet_path: str, centroids,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding", m_sub: int = 8,
                        k_codes: int = 16, iters: int = 10,
                        seed: int = 42, frac_bits: int = 8,
                        sample_limit: int = 20_000, keep=None):
    """Spark-free replay of :func:`train_pq_codebooks` for the oracle
    path (the ``replay_ivf_centroids`` convention): reading the same
    rows with pyarrow yields bit-identical int64 codebooks because
    training is a pure function of the sample SET + spec.  Raises if
    the corpus exceeds ``sample_limit`` (the Spark-side sample would no
    longer be the whole set — an unprovable oracle)."""
    import numpy as np
    import pyarrow.parquet as pq
    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t[id_col].to_numpy()
    vecs = t[vec_col].to_pylist()
    pred = keep if keep is not None else (lambda i: True)
    x = np.array([v for v, i in zip(vecs, ids) if pred(i)],
                 dtype=np.float64)
    if len(x) > sample_limit:
        raise ValueError(
            f"corpus has {len(x)} rows > sample_limit={sample_limit}: "
            "exact codebook replay impossible — raise sample_limit or "
            "shrink the oracle fixture")
    return train_pq_codebooks_from_matrix(
        x, centroids, m_sub=m_sub, k_codes=k_codes, iters=iters,
        seed=seed, frac_bits=frac_bits)


def pq_encode(df: DataFrame, centroids, codebooks,
              id_col: str = "vec_id", vec_col: str = "embedding",
              frac_bits: int = 8) -> DataFrame:
    """Distributed IVF-PQ encoding: ``(id_col, _centroid, codes)`` —
    one vectorized Arrow pass (centroids + codebooks in the task
    closure, both tiny), assigning each vector to its coarse cell and
    each quantized-residual subvector to its nearest codebook entry
    (exact int64 squared-L2, ties → lowest code id).

    This is THE memory shape of 100 TB ANN: ``m_sub`` small ints per
    vector (8 bytes at the defaults) instead of ``dim`` floats
    (512 bytes) — the inverted lists shrink ~64×, so a probe scans
    codes, not vectors."""
    import numpy as np
    import pandas as pd

    require_columns(df, [id_col, vec_col])
    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.int64)
    m_sub, k_codes, sub = books.shape
    _pq_validate(cents.shape[1], m_sub, k_codes, frac_bits)
    narrow = df.select(F.col(id_col), F.col(vec_col).alias("_v"))

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({id_col: pdf[id_col],
                                    "_centroid": [], "codes": []})
                continue
            x = np.array(list(pdf["_v"]), dtype=np.float64)
            assign, rq = _quantized_residuals(x, cents, frac_bits)
            codes = np.empty((len(x), m_sub), dtype=np.int32)
            for m in range(m_sub):
                xs = rq[:, m * sub:(m + 1) * sub]
                d = ((xs[:, None, :] - books[m][None, :, :]) ** 2) \
                    .sum(axis=2)
                codes[:, m] = d.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "_centroid": assign.astype("int32"),
                                "codes": list(codes)})

    return narrow.mapInPandas(
        run, schema=f"{id_col} long, _centroid int, codes array<int>")


def build_ivf_pq_index(corpus: DataFrame, table: str,
                       n_centroids: int = 16, m_sub: int = 8,
                       k_codes: int = 16, frac_bits: int = 8,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding", seed: int = 42,
                       n_buckets: int | None = None):
    """Train-once half of the IVF-PQ deployment shape: train the coarse
    quantizer (``train_ivf_centroids``), train the residual codebooks
    against it, encode every corpus row (one Arrow pass), and PERSIST
    the codes bucketed (and sorted) by ``_centroid`` — the
    ``build_ivf_index`` lifecycle with the lists stored as ``m_sub``
    small ints per vector instead of ``dim`` floats.  Returns
    ``(centroids, codebooks)`` — the frozen spec every extend/probe
    must reuse; the table is stamped with their sha256 digests and
    ``frac_bits``, and extend/probe check theirs against the stamp."""
    from frames_map_reduce_spark.operators.similarity import (
        train_ivf_centroids,
    )
    from frames_map_reduce_spark.sources import write_bucketed
    require_columns(corpus, [id_col, vec_col])
    centroids = train_ivf_centroids(corpus, vec_col, n_centroids,
                                    seed=seed)
    codebooks = train_pq_codebooks(corpus, centroids, vec_col,
                                   m_sub=m_sub, k_codes=k_codes,
                                   seed=seed, frac_bits=frac_bits)
    encoded = pq_encode(corpus, centroids, codebooks, id_col, vec_col,
                        frac_bits)
    write_bucketed(encoded, table, ["_centroid"],
                   n_buckets or len(centroids),
                   _ivf_pq_spec(centroids, codebooks, frac_bits))
    return centroids, codebooks


def extend_ivf_pq_index(new_df: DataFrame, table: str, centroids,
                        codebooks, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        frac_bits: int = 8) -> None:
    """Maintenance half: PQ-encode a NEW batch against the FROZEN
    coarse quantizer + codebooks and APPEND to the persisted bucketed
    lists — the ``extend_ivf_index`` contract verbatim: no retraining,
    no rewrite, the bucket spec read from the catalog, and because both
    halves of the spec are frozen,
    ``probe(extend(build(A), B)) ≡ probe(build(A ∪ B, frozen spec))``
    exactly (the registry oracle replays the rebuild).  Retrain
    trigger: ``similarity.ivf_drift_stats`` applies unchanged — PQ
    adds no new drift mode of its own (codebook fit degrades exactly
    when the cells drift).  The spec is checked against the build's
    stamp."""
    import numpy as np
    from frames_map_reduce_spark.sources import append_bucketed, require_spec
    require_columns(new_df, [id_col, vec_col])
    require_spec(new_df.sparkSession, table,
                 _ivf_pq_spec(centroids, codebooks, frac_bits))
    cents = np.asarray(centroids, dtype=np.float64)
    encoded = pq_encode(new_df, cents, codebooks, id_col, vec_col,
                        frac_bits)
    append_bucketed(encoded, table)


def ivf_pq_topk(spark, table: str, queries: DataFrame, centroids,
                codebooks, k: int, nprobe: int = 4,
                frac_bits: int = 8, id_col: str = "vec_id",
                vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Probe a persisted IVF-PQ index: approximate MIPS top-``k`` per
    query by asymmetric distance computation (ADC) — each query scores
    a candidate from its CODES alone:

        score_q = qq · cq[cell]  +  Σ_m  LUT[m][codes[m]]

    where ``qq = floor(q · 2^f)``, ``cq = floor(c · 2^f)`` (both
    integer), and ``LUT[m][j] = qq_m · codebook[m][j]`` — every term a
    BIGINT product-sum of integers, so the score is ENGINE-EXACT
    (scale 2^(2f) ≈ the raw inner product q·x̂ against the
    reconstructed vector).  Ranking is (score_q DESC, id ASC) — MIPS,
    the :func:`quantized_topk` semantics note applies.

    Plan: the per-(query, probed-cell) constant and the tiny
    m_sub × k_codes LUT are computed driver-side over the BOUNDED
    query set (the ``_ivf_probe_frame`` contract) and broadcast; the
    corpus side is scan → bucket-pruned ``_centroid`` filter →
    broadcast join → a zip_with/aggregate LUT lookup (JVM) → per-batch
    partial top-k.  Zero corpus-side exchanges, and the scan reads
    ``m_sub`` small ints per row — the ~64× scan-volume win PQ
    exists for.  The spec is checked against the build's stamp."""
    import numpy as np

    from frames_map_reduce_spark.operators.similarity import (
        _collect_queries,
    )
    from frames_map_reduce_spark.sources import require_spec
    require_columns(queries, [query_id_col, vec_col])
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.int64)
    m_sub, k_codes, sub = books.shape
    _pq_validate(cents.shape[1], m_sub, k_codes, frac_bits)
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    require_spec(spark, table, _ivf_pq_spec(cents, books, frac_bits))
    cq = np.floor(cents * float(1 << frac_bits)).astype(np.int64)
    qrows = _collect_queries(queries, [query_id_col, vec_col])
    probe_rows = []
    for r in qrows:
        q = np.asarray(r[vec_col], dtype=np.float64)
        qq = np.floor(q * float(1 << frac_bits)).astype(np.int64)
        scores = q @ cents.T - 0.5 * (cents ** 2).sum(axis=1)
        for cell in np.argsort(-scores)[:nprobe]:
            const = int(qq @ cq[cell])
            lut = [[int(qq[m * sub:(m + 1) * sub] @ books[m][j])
                    for j in range(k_codes)] for m in range(m_sub)]
            probe_rows.append((r[query_id_col], int(cell), const, lut))
    qb = spark.createDataFrame(
        probe_rows,
        f"{query_id_col} long, _centroid int, _const long, "
        "_lut array<array<long>>")
    probed = sorted({c for (_, c, _, _) in probe_rows})
    cb = spark.table(table).filter(F.col("_centroid").isin(probed))
    scored = (cb.join(F.broadcast(qb), "_centroid")
                .select(query_id_col, id_col,
                        (F.col("_const") + F.aggregate(
                            F.zip_with("codes", "_lut",
                                       lambda c, lr: F.element_at(
                                           lr, c + F.lit(1))),
                            F.lit(0).cast("bigint"),
                            lambda acc, v: acc + v)).alias("score_q")))
    part = partial_topk(scored, k, query_id_col, id_col,
                        sim_col="score_q")
    return _rank_topk(part, k, query_id_col, id_col, sim_col="score_q")


def _ivf_pq_spec(centroids, codebooks, frac_bits: int) -> dict[str, str]:
    from frames_map_reduce_spark.operators.similarity import _sha256
    from frames_map_reduce_spark.sources import index_spec
    return index_spec(
        "ivf_pq", centroids_sha256=_sha256(centroids, "float64"),
        codebooks_sha256=_sha256(codebooks, "int64"), frac_bits=frac_bits)


def ivf_pq_oracle_sql(table: str, id_col: str, vec_col: str,
                      query_max_id: int, corpus_pred: str, k: int,
                      nprobe: int, centroids, codebooks,
                      frac_bits: int = 8) -> str:
    """FULL DuckDB twin of the IVF-PQ arc (build → [extend →] probe):
    the approximation is deterministic given its spec — the frozen
    coarse centroids (``replay_ivf_centroids``) and the int64 residual
    codebooks (:func:`replay_pq_codebooks`) — both embedded as
    literals, so the twin re-derives PER ROW the cell assignment (the
    float argmax convention of ``ivf_ann_oracle_sql``), the
    bit-identical quantized residual, each subspace's argmin code, the
    BIGINT ADC score, the (score DESC, id ASC) ranking, AND recall@k
    against the exact integer-MIPS base (``quantized_topk`` at a
    never-binding 16-bit clamp).  Every value after the one float
    subtraction is integer — hash-exact by construction."""
    import numpy as np
    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.int64)
    m_sub, k_codes, sub = books.shape
    scale = 1 << frac_bits
    cq = np.floor(cents * float(scale)).astype(np.int64)
    crows = []
    for cid, c in enumerate(cents):
        lits = ", ".join(repr(float(v)) for v in c)
        qlits = ", ".join(str(int(v)) for v in cq[cid])
        hn = repr(float(0.5 * (c * c).sum()))
        crows.append(f"({cid}, [{lits}], {hn}, [{qlits}])")
    cvalues = ",\n       ".join(crows)
    brows = []
    for m in range(m_sub):
        for j in range(k_codes):
            lits = ", ".join(str(int(v)) for v in books[m][j])
            brows.append(f"({m}, {j}, [{lits}]::BIGINT[])")
    bvalues = ",\n       ".join(brows)
    dot_c = (f"list_sum(list_transform(list_zip(t.v, cents.cvec), "
             f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")
    qz = (f"list_transform(v, x -> CAST(floor(CAST(x AS DOUBLE) "
          f"* {scale}) AS BIGINT))")
    idot = "list_sum(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]))"
    return f"""
WITH cents(cid, cvec, hn, cq) AS (VALUES
       {cvalues}),
     pqcb(m, j, bvec) AS (VALUES
       {bvalues}),
     q AS (SELECT {id_col} AS query_id, {vec_col} AS v
           FROM {table} WHERE {id_col} < {query_max_id}),
     c AS (SELECT {id_col}, {vec_col} AS v
           FROM {table} WHERE {corpus_pred}),
     cassign AS (
        SELECT {id_col}, v, cid, cvec FROM (
          SELECT t.{id_col}, t.v, cents.cid, cents.cvec,
                 row_number() OVER (PARTITION BY t.{id_col}
                     ORDER BY {dot_c} - cents.hn DESC, cents.cid) AS rn
          FROM c t CROSS JOIN cents) WHERE rn = 1),
     resid AS (
        SELECT {id_col}, cid,
               list_transform(list_zip(v, cvec),
                   p -> CAST(floor((CAST(p[1] AS DOUBLE)
                        - CAST(p[2] AS DOUBLE)) * {scale}) AS BIGINT))
                   AS rq
        FROM cassign),
     codes AS (
        SELECT {id_col}, cid, m, bvec FROM (
          SELECT r.{id_col}, r.cid, cb.m, cb.j, cb.bvec,
                 row_number() OVER (PARTITION BY r.{id_col}, cb.m
                     ORDER BY list_sum(list_transform(
                         list_zip(list_slice(r.rq, cb.m * {sub} + 1,
                                             cb.m * {sub} + {sub}),
                                  cb.bvec),
                         z -> (z[1] - z[2]) * (z[1] - z[2]))),
                       cb.j) AS rn
          FROM resid r CROSS JOIN pqcb cb) WHERE rn = 1),
     probes AS (
        SELECT query_id, cid FROM (
          SELECT t.query_id, cents.cid,
                 row_number() OVER (PARTITION BY t.query_id
                     ORDER BY {dot_c} - cents.hn DESC, cents.cid) AS rn
          FROM q t CROSS JOIN cents) t2
        WHERE rn <= {nprobe}),
     qq AS (SELECT query_id, v, {qz} AS qv FROM q),
     consts AS (
        SELECT qq.query_id, cents.cid,
               CAST({idot.format(a="qq.qv", b="cents.cq")} AS BIGINT)
                   AS const
        FROM qq CROSS JOIN cents),
     contrib AS (
        SELECT p.query_id, kk.{id_col}, kk.cid,
               CAST({idot.format(
                   a=f"list_slice(qq.qv, kk.m * {sub} + 1, "
                     f"kk.m * {sub} + {sub})",
                   b="kk.bvec")} AS BIGINT) AS part
        FROM probes p
        JOIN qq ON qq.query_id = p.query_id
        JOIN codes kk ON kk.cid = p.cid),
     scored AS (
        SELECT ct.query_id, ct.{id_col},
               CAST(cs.const + sum(ct.part) AS BIGINT) AS score_q
        FROM contrib ct
        JOIN consts cs ON cs.query_id = ct.query_id
                      AND cs.cid = ct.cid
        GROUP BY ct.query_id, ct.{id_col}, cs.const),
     approx AS (
        SELECT query_id, {id_col}, score_q,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score_q DESC, {id_col}) AS rank
        FROM scored QUALIFY rank <= {k}),
     cx AS (SELECT {id_col}, {qz} AS xv FROM c),
     exactq AS (
        SELECT query_id, {id_col} FROM (
          SELECT a.query_id, b.{id_col},
                 row_number() OVER (PARTITION BY a.query_id
                     ORDER BY CAST({idot.format(a="a.qv", b="b.xv")}
                              AS BIGINT) DESC, b.{id_col}) AS rnk
          FROM qq a JOIN cx b ON true) WHERE rnk <= {k}),
     rec AS (
        SELECT e.query_id,
               round(CAST(count(ap.{id_col}) AS DOUBLE) / count(*), 6)
                   AS recall
        FROM exactq e LEFT JOIN approx ap USING (query_id, {id_col})
        GROUP BY e.query_id)
SELECT approx.query_id, approx.{id_col}, approx.score_q,
       CAST(approx.rank AS BIGINT) AS rank, rec.recall
FROM approx JOIN rec USING (query_id)
"""
