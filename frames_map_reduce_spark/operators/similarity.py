"""Similarity search over an embedding column (``array<float>``).

Two strategies:

- **Brute-force cosine top-k** — the correctness baseline.  Queries are a
  SMALL set (bounded by contract) shipped to every task; each Arrow batch
  is scored with ONE numpy matmul against the query matrix and reduced to
  a per-batch partial top-k, so the final per-query merge ranks at most
  ``partitions × k`` rows instead of the whole corpus.  Linear in corpus
  size, embarrassingly parallel — this is the shape that survives 100 TB
  when the query set is bounded.

- **SRP-LSH ANN** — sign-random-projection buckets; queries probe only
  their own bucket (plus optional multi-probe neighbors at Hamming
  distance 1).  Turns the scan into a key-equality join on bucket id, so
  corpus-side work is proportional to matching buckets only.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frames_map_reduce_spark.functions.vectors import (cosine, dot, norm,
                                                       srp_signature)
from frames_map_reduce_spark.operators.dedup import (_bucket_self_join,
                                                     _prune_buckets)
from frames_map_reduce_spark.schema import require_columns


def _random_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


MAX_DRIVER_QUERIES = 100_000


def _collect_queries(queries: DataFrame, cols: list[str]) -> list:
    """Enforce the bounded-queries contract BEFORE materializing on the
    driver: top-k search ships the query set to every task (closure or
    broadcast), so an unboundedly large query frame is a design error —
    fail loudly with the fix (batch the queries) instead of OOMing the
    driver at scale."""
    rows = queries.select(*cols).limit(MAX_DRIVER_QUERIES + 1).collect()
    if len(rows) > MAX_DRIVER_QUERIES:
        raise ValueError(
            f"query set exceeds MAX_DRIVER_QUERIES={MAX_DRIVER_QUERIES}; "
            "top-k queries are driver-collected and shipped to every task "
            "by contract — use brute_force_topk_joined (fully distributed "
            "block-join scoring, no driver materialization) for large "
            "query sets, or join against an index (ivf_index/ivf_probe)")
    return rows


def _round_half_up(x, digits: int):
    """HALF_UP-away-from-zero rounding on float64 — the mode BOTH Spark's
    ``round`` (BigDecimal HALF_UP) and DuckDB's ``round`` use, unlike
    numpy's default half-to-even.  Keeping all three engines on one mode
    is what lets a 6-dp round absorb float summation-order noise."""
    import numpy as np
    p = 10.0 ** digits
    return np.copysign(np.floor(np.abs(x) * p + 0.5), x) / p


def _rank_topk(scored: DataFrame, k: int, query_id_col: str, id_col: str,
               sim_col: str = "cosine_sim") -> DataFrame:
    """Final deterministic per-query ranking: (sim DESC, id ASC).  Callers
    must have bounded the per-query row count first (partial top-k or
    bucket caps) — this window is the MERGE step, not the workhorse."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(sim_col).desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def partial_topk(scored: DataFrame, k: int, query_id_col: str, id_col: str,
                 sim_col: str = "cosine_sim") -> DataFrame:
    """Per-Arrow-batch partial top-k: keep only the k best (sim DESC, id
    ASC) rows per query within each batch.  The ordering is total, so any
    row dropped here is dominated by ≥k rows that also dominate it in the
    global merge — partial-then-merge is exact.

    This is the stage that makes per-query ranking scale-safe: the merge
    window after it receives ≤ batches×k rows per query instead of every
    scored corpus row (at 100 TB the un-partialed window funnels the whole
    corpus's scores for a query through ONE task)."""
    cols = [query_id_col, id_col, sim_col]
    sub = scored.select(*cols)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield (pdf.sort_values([query_id_col, sim_col, id_col],
                                   ascending=[True, False, True])
                      .groupby(query_id_col, sort=False).head(k))

    return sub.mapInPandas(run, schema=sub.schema)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     round_digits: int | None = 6) -> DataFrame:
    """Exact cosine top-k per query — two-stage.

    ``queries`` must be small (collected driver-side and shipped in the
    task closure — the same bounded-queries contract as :func:`ivf_topk`).
    Stage 1 scores each corpus Arrow batch with one float64 numpy matmul
    against the query matrix and keeps a per-batch top-k per query;
    stage 2 merges ≤ partitions×k rows per query.  Ranking is
    deterministic: by (similarity DESC, corpus id ASC); ``round_digits``
    rounds the similarity (HALF_UP, matching Spark/DuckDB ``round``)
    BEFORE ranking so results are stable across engines and float
    summation orders.  Zero-norm vectors (NULL cosine) are excluded, the
    same fate NULLS-LAST ranking gives them when ≥k finite rows exist.

    Returns (query_id, vec_id, cosine_sim, rank).
    """
    import numpy as np
    from pyspark.sql import types as T

    require_columns(corpus, [id_col, vec_col])
    require_columns(queries, [query_id_col, vec_col])

    qrows = _collect_queries(queries, [query_id_col, vec_col])
    qids = np.array([r[0] for r in qrows])
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    sub = corpus.select(id_col, vec_col)
    out_schema = T.StructType([
        next(f for f in queries.schema.fields if f.name == query_id_col),
        next(f for f in corpus.schema.fields if f.name == id_col),
        T.StructField("cosine_sim", T.DoubleType()),
    ])

    def run(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            xnorm = np.linalg.norm(x, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (x @ qmat.T) / (xnorm[:, None] * qnorm[None, :])
            if round_digits is not None:
                sims = _round_half_up(sims, round_digits)
            ids = pdf[id_col].to_numpy()
            parts = []
            for j, qid in enumerate(qids):
                s = sims[:, j]
                ok = np.isfinite(s)
                s, ids_ok = s[ok], ids[ok]
                top = np.lexsort((ids_ok, -s))[:k]
                parts.append(pd.DataFrame({
                    query_id_col: np.repeat(qid, len(top)),
                    id_col: ids_ok[top], "cosine_sim": s[top]}))
            yield pd.concat(parts, ignore_index=True)

    partial = sub.mapInPandas(run, schema=out_schema)
    return _rank_topk(partial, k, query_id_col, id_col)


def brute_force_topk_joined(corpus: DataFrame, queries: DataFrame, k: int,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            query_id_col: str = "query_id",
                            round_digits: int | None = 6,
                            n_corpus_blocks: int = 32,
                            n_query_blocks: int = 32) -> DataFrame:
    """Exact cosine top-k for query sets BEYOND the driver-collect cap —
    the distributed complement of :func:`brute_force_topk` (identical
    results; that function's contract error points here).

    Block-matrix scoring via a shuffle join, no driver materialization:

    1. corpus and queries are each hash-assigned to blocks
       (``pmod(xxhash64(id), n_blocks)`` — uniform, no skew) and packed
       into one array-of-struct row per block;
    2. the block frames are joined all-pairs (CB × QB fat rows — Spark
       picks broadcast or shuffle per AQE stats);
    3. each block pair is scored with ONE float64 numpy matmul and
       reduced to a per-pair top-k per query, so the merge window sees
       ≤ n_corpus_blocks × k rows per query — the same partial-then-merge
       exactness argument as :func:`partial_topk`;
    4. the usual deterministic merge ranks (sim DESC, id ASC).

    Total work is inherently O(|corpus| × |queries|) for EXACT top-k —
    what this changes at scale is that no single process ever holds the
    query set: blocks bound both task memory (block_rows × dim × 8 B per
    side) and join-row width.  Size blocks so a pair's two arrays fit
    comfortably in an executor core's memory (defaults: 32×32).

    Semantics match brute_force_topk: HALF_UP rounding before ranking,
    zero-norm (NULL-cosine) rows excluded.  Returns
    (query_id, vec_id, cosine_sim, rank)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    require_columns(corpus, [id_col, vec_col])
    require_columns(queries, [query_id_col, vec_col])

    cblk = (corpus.select(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_corpus_blocks))
                 .alias("_cb"),
                F.struct(F.col(id_col).alias("i"),
                         F.col(vec_col).cast("array<double>").alias("v"))
                 .alias("_cs"))
            .groupBy("_cb").agg(F.collect_list("_cs").alias("_cvecs")))
    qblk = (queries.select(
                F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(n_query_blocks))
                 .alias("_qb"),
                F.struct(F.col(query_id_col).alias("i"),
                         F.col(vec_col).cast("array<double>").alias("v"))
                 .alias("_qs"))
            .groupBy("_qb").agg(F.collect_list("_qs").alias("_qvecs")))
    pairs = cblk.crossJoin(qblk).select("_cvecs", "_qvecs")

    out_schema = T.StructType([
        next(f for f in queries.schema.fields if f.name == query_id_col),
        next(f for f in corpus.schema.fields if f.name == id_col),
        T.StructField("cosine_sim", T.DoubleType()),
    ])

    def run(batches):
        for pdf in batches:
            for cvecs, qvecs in zip(pdf["_cvecs"], pdf["_qvecs"]):
                if not len(cvecs) or not len(qvecs):
                    continue
                ids = np.array([r["i"] for r in cvecs])
                x = np.array([r["v"] for r in cvecs], dtype=np.float64)
                # pre-sort the block by id ascending: the stable argsort
                # below then resolves sim-ties id-ascending for free, so
                # the partial keeps exactly the rows the merge would
                order0 = np.argsort(ids, kind="stable")
                ids, x = ids[order0], x[order0]
                qids = np.array([r["i"] for r in qvecs])
                qmat = np.array([r["v"] for r in qvecs], dtype=np.float64)
                xnorm = np.linalg.norm(x, axis=1)
                qnorm = np.linalg.norm(qmat, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (x @ qmat.T) / (xnorm[:, None] * qnorm[None, :])
                if round_digits is not None:
                    sims = _round_half_up(sims, round_digits)
                # one vectorized top-k over the whole matrix (NaN — zero
                # norms — sorts last and is masked out after the take)
                k_eff = min(k, len(ids))
                top = np.argsort(-sims, axis=0, kind="stable")[:k_eff]
                svals = sims[top, np.arange(len(qids))[None, :]].T.ravel()
                ok = np.isfinite(svals)
                yield pd.DataFrame({
                    query_id_col: np.repeat(qids, k_eff)[ok],
                    id_col: ids[top.T.ravel()][ok],
                    "cosine_sim": svals[ok]})

    partial = pairs.mapInPandas(run, schema=out_schema)
    return _rank_topk(partial, k, query_id_col, id_col)


def recall_at_k(approx: DataFrame, exact: DataFrame,
                query_id_col: str = "query_id",
                id_col: str = "vec_id") -> DataFrame:
    """Per-query recall of an approximate top-k result against the exact
    one: |approx ∩ exact| / |exact|.  Both inputs are top-k result frames
    (≤ k rows per query — tiny), so this is a bounded join; it exists so
    ANN queries can carry their own accuracy accounting instead of being
    unauditable rows-only results.

    Returns (query_id, n_exact, n_hits, recall)."""
    ex = exact.select(query_id_col, id_col)
    ap = approx.select(query_id_col, id_col)
    # both sides are ≤ k rows per query by the top-k contract above:
    # broadcast them explicitly — size ESTIMATES on these frames carry
    # the whole ANN lineage underneath and routinely exceed the
    # auto-broadcast threshold, planning Exchange+Sort+SortMergeJoin
    # for frames of a few dozen rows
    hits = (ex.join(F.broadcast(ap), [query_id_col, id_col])
              .groupBy(query_id_col)
              .agg(F.count(F.lit(1)).alias("n_hits")))
    totals = ex.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_exact"))
    return (totals.join(F.broadcast(hits), query_id_col, "left")
                  .select(query_id_col, "n_exact",
                          F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                          F.round(F.try_divide(F.coalesce("n_hits", F.lit(0)),
                                               F.col("n_exact")), 6)
                           .alias("recall")))


def srp_bucketed(df: DataFrame, vec_col: str, dim: int, n_planes: int = 16,
                 seed: int = 42) -> DataFrame:
    """Attach an SRP-LSH bucket id column ``_bucket`` (pure expression)."""
    planes = _random_planes(dim, n_planes, seed)
    return df.withColumn(
        "_bucket", srp_signature(F.col(vec_col).cast("array<double>"), planes))


def ann_topk_srp(corpus: DataFrame, queries: DataFrame, k: int, dim: int,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id", n_planes: int = 12,
                 seed: int = 42, multiprobe: bool = True,
                 n_tables: int = 1) -> DataFrame:
    """Approximate top-k: score only corpus rows sharing an SRP bucket
    with the query in at least one of ``n_tables`` independent hash
    tables (OR-amplification), optionally widened per table by
    ``multiprobe`` (buckets at Hamming distance 1).

    Recall/cost dials — standard LSH geometry:

    - ``n_planes`` controls selectivity: each table touches
      ~corpus/2^n_planes rows per probe.  More planes = cheaper + lower
      recall per table.
    - ``n_tables`` (OR-amplification) multiplies recall: a true neighbor
      is missed only if it misses in EVERY table, so miss-rate decays
      exponentially in L while cost grows linearly.
    - ``multiprobe`` adds the n_planes Hamming-1 buckets of each table —
      recall insurance against plane-boundary effects.

    Candidates from different tables/probes are deduplicated on
    (query, id) BEFORE scoring, so exact-cosine work is per unique
    candidate.  On this repo's synthetic 64-dim embeddings (weakly
    clustered — close to LSH's uniform worst case) measured recall@5:
    1 table 8 planes ≈ 0.0-0.2; 4 tables 6 planes + multiprobe ≈ 0.6-0.9
    (see tests/test_similarity.py recall-floor tests).  Real embedding
    corpora cluster far more and tolerate more planes / fewer tables.

    The corpus side per table is a pure-expression bucket id (reusable —
    write-time bucketed by ``_bucket`` per table); the probe is a
    key-equality join, never a cross join.
    """
    # ONE corpus pass for all tables (a per-table union would scan the
    # corpus n_tables times — 8 full reads at the default amplification;
    # at 100 TB that is the whole job): compute every table's signature
    # in a single projection and posexplode into (_table, _bucket) rows.
    # The explode feeds the broadcast probe join directly — no exchange
    # touches the corpus side — and produces exactly the rows the
    # per-table union produced, so candidates (and everything after the
    # distinct) are identical.
    table_planes = [_random_planes(dim, n_planes, seed + 7919 * t)
                    for t in range(n_tables)]
    vec_d = F.col(vec_col).cast("array<double>")
    cb = corpus.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(F.array(*[srp_signature(vec_d, p)
                               for p in table_planes]))
         .alias("_table", "_bucket"))
    probe_structs = []
    for t, planes in enumerate(table_planes):
        sig = srp_signature(vec_d, planes)
        buckets = [sig]
        if multiprobe:
            buckets += [sig.bitwiseXOR(F.lit(1 << i))
                        for i in range(n_planes)]
        probe_structs += [F.struct(F.lit(t).alias("_table"),
                                   b.alias("_bucket")) for b in buckets]
    qb = (queries.select(query_id_col,
                         F.explode(F.array(*probe_structs)).alias("_p"))
                 .select(query_id_col,
                         F.col("_p._table").alias("_table"),
                         F.col("_p._bucket").alias("_bucket")))
    cand = cb.join(F.broadcast(qb), on=["_table", "_bucket"]).select(
        query_id_col, id_col, vec_col)

    # dedupe across tables/probes (vector rides along — identical source
    # bytes, so distinct is exact and no corpus-wide re-join is needed),
    # then score each unique candidate once
    cand = cand.distinct()
    # query-side norm hoisted into the broadcast frame: computed once per
    # query instead of once per candidate pair (same floats — see
    # semantic_dedup)
    qvecs = (queries.select(query_id_col,
                            F.col(vec_col).cast("array<double>").alias("_qvec"))
                    .withColumn("_qn", norm(F.col("_qvec"))))
    scored = (cand.join(F.broadcast(qvecs), on=query_id_col)
                  .select(query_id_col, id_col,
                          F.round(F.try_divide(
                              dot(F.col(vec_col).cast("array<double>"),
                                  F.col("_qvec")),
                              norm(F.col(vec_col).cast("array<double>"))
                              * F.col("_qn")), 6).alias("cosine_sim")))
    return _rank_topk(partial_topk(scored, k, query_id_col, id_col),
                      k, query_id_col, id_col)


def _srp_sig_sql(vec: str, planes: list[list[float]]) -> str:
    """DuckDB expression for the packed SRP signature of ``vec`` —
    generated from the SAME plane constants the Spark expression embeds
    (``srp_signature``), with the same fold shape as the proven
    ``cosine_sql`` twin so the double arithmetic is bit-identical."""
    terms = []
    for i, p in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in p)
        d = (f"list_sum(list_transform(list_zip({vec}, [{lits}]), "
             f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def srp_ann_oracle_sql(table: str, id_col: str, vec_col: str,
                       query_max_id: int, k: int, dim: int,
                       n_planes: int, n_tables: int, seed: int = 42) -> str:
    """Exhaustive DuckDB twin of :func:`ann_topk_srp` (+ the recall
    column of the driver query) — a FULL value oracle for an approximate
    operator, possible because the approximation is deterministic given
    the seed: the planes are replayed from the same spec, and
    "bucket match in table t, exact or multiprobe Hamming-1" is exactly
    ``bit_count(xor(sig_t(q), sig_t(v))) <= 1``.  Scoring, rounding
    (6 dp before ranking), tie-breaks (sim DESC, id ASC) and the
    recall@k arithmetic all mirror the Spark path expression-for-
    expression."""
    sigs = []
    for t in range(n_tables):
        planes = _random_planes(dim, n_planes, seed + 7919 * t)
        sigs.append(_srp_sig_sql(vec_col, planes))
    q_sig = ",\n           ".join(
        f"{s} AS s{t}" for t, s in enumerate(sigs))
    match = " OR ".join(
        f"bit_count(xor(a.s{t}, b.s{t})) <= 1" for t in range(n_tables))
    cos = (f"round(list_sum(list_transform(list_zip(a.{vec_col}, b.{vec_col}), "
           f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / nullif("
           f"sqrt(list_sum(list_transform(a.{vec_col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
           f"sqrt(list_sum(list_transform(b.{vec_col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0), 6)")
    return f"""
WITH q AS (SELECT {id_col} AS query_id, {vec_col},
           {q_sig}
           FROM {table} WHERE {id_col} < {query_max_id}),
     c AS (SELECT {id_col}, {vec_col},
           {q_sig}
           FROM {table} WHERE {id_col} >= {query_max_id}),
     scored AS (
        SELECT a.query_id, b.{id_col}, {cos} AS cosine_sim
        FROM q a JOIN c b ON ({match})),
     approx AS (
        SELECT query_id, {id_col}, cosine_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine_sim DESC, {id_col}) AS rank
        FROM scored QUALIFY rank <= {k}),
     exact AS (
        SELECT query_id, {id_col} FROM (
          SELECT a.query_id, b.{id_col},
                 row_number() OVER (PARTITION BY a.query_id
                     ORDER BY {cos} DESC, b.{id_col}) AS rnk
          FROM q a JOIN c b ON true) WHERE rnk <= {k}),
     rec AS (
        SELECT e.query_id,
               round(CAST(count(ap.{id_col}) AS DOUBLE) / count(*), 6) AS recall
        FROM exact e LEFT JOIN approx ap USING (query_id, {id_col})
        GROUP BY e.query_id)
SELECT approx.query_id, approx.{id_col}, approx.cosine_sim,
       CAST(approx.rank AS BIGINT) AS rank, rec.recall
FROM approx JOIN rec USING (query_id)
"""


def _kmeans_fit(x, n_centroids: int, iters: int, seed: int):
    """Deterministic Lloyd's k-means on a float64 sample matrix.

    Canonicalizes the sample ORDER first (lexsort), so the result is a
    pure function of the sample SET + seed — this is what makes trained
    IVF centroids exactly replayable outside Spark (the oracle path,
    :func:`replay_ivf_centroids`, calls this same function on the same
    set and gets bit-identical centroids)."""
    import numpy as np
    x = x[np.lexsort(x.T[::-1])]
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def auto_n_centroids(n_rows: int, target_cluster: int = 1024,
                     lo: int = 8, hi: int = 1 << 17) -> int:
    """The ``n_centroids="auto"`` dial (r6 verdict #4): the smallest
    power of two ≥ ``n_rows / target_cluster``, clamped to
    ``[lo, hi]`` — SemDeDup's contract is n_centroids ∝ N so cluster
    sizes (and the within-cluster pair join) stay bounded; the paper
    runs ~100k clusters at LAION scale, which is exactly
    ``n_rows≈130M, target_cluster≈1300``.  Pure integer function of the
    row count, so an oracle can replay the choice from the same data."""
    if n_rows < 0 or target_cluster <= 0:
        raise ValueError(f"need n_rows >= 0, target_cluster > 0, got "
                         f"{n_rows}/{target_cluster}")
    want = max(1, -(-n_rows // target_cluster))  # ceil div
    k = 1 << (want - 1).bit_length()             # next power of two
    return max(lo, min(hi, k))


def resolve_n_centroids(corpus: DataFrame, n_centroids,
                        target_cluster: int = 1024) -> int:
    """Resolve an ``int | "auto"`` centroid dial against ``corpus`` —
    ``"auto"`` costs one count (column-pruned scan: parquet answers it
    from footers)."""
    if n_centroids == "auto":
        return auto_n_centroids(corpus.count(), target_cluster)
    if not isinstance(n_centroids, int) or n_centroids < 1:
        raise ValueError(f"n_centroids must be a positive int or 'auto', "
                         f"got {n_centroids!r}")
    return n_centroids


def train_ivf_centroids(corpus: DataFrame, vec_col: str,
                        n_centroids: int | str = 16,
                        sample_limit: int = 20_000, iters: int = 10,
                        seed: int = 42, target_cluster: int = 1024):
    """IVF coarse quantizer: Lloyd's k-means on a bounded driver-side
    sample (the standard IVF recipe — training on a sample is how FAISS
    et al. build 100 TB-scale indexes too; only ASSIGNMENT must be
    distributed).  Returns a (n_centroids, dim) float64 numpy array.
    ``n_centroids="auto"`` sizes the dial from the corpus row count
    (:func:`auto_n_centroids` — power-of-two ≈ N/target_cluster).

    `limit` fixes the sample SET but not its ORDER (task completion order
    varies run-to-run); :func:`_kmeans_fit` lexsorts before seeding, so
    identical sample sets always train identical centroids.

    Past ~20k sample rows / ~1k centroids the single-driver Lloyd's
    pass stops being the right tool (the paper's ~100k-centroid regime
    needs a ≥10M-row sample to give every centroid members):
    :func:`train_centroids_hierarchical` is the distributed path —
    coarse-quantize with this function, then train each coarse cell's
    sub-centroids in parallel executor tasks over a hash-deterministic
    sample, √k driver work for k centroids."""
    import numpy as np
    n_centroids = resolve_n_centroids(corpus, n_centroids, target_cluster)
    rows = (corpus.select(vec_col).limit(sample_limit).collect())
    x = np.array([r[0] for r in rows], dtype=np.float64)
    return _kmeans_fit(x, n_centroids, iters, seed)


def train_centroids_hierarchical(corpus: DataFrame, vec_col: str,
                                 n_centroids: int | str,
                                 sample_rate: float | None = None,
                                 cell_sample_limit: int = 20_000,
                                 sample_limit: int = 20_000,
                                 iters: int = 10, seed: int = 42,
                                 target_cluster: int = 1024):
    """Distributed two-level k-means for the ~100k-centroid regime
    (r6 verdict #4): the driver-sample trainer caps out around 20k
    sample rows, but SemDeDup's paper runs ~100k clusters — far more
    centroids than a driver sample can support.  Train k centroids as
    √k-ish sub-trainings instead:

    1. a COARSE quantizer (⌈√k⌉ rounded to a power of two) trains on the
       usual bounded driver sample;
    2. a deterministic hash sample of the corpus (``xxhash64`` of the
       vector bytes — no id column needed, re-runs see the same rows)
       is assigned to coarse cells by the vectorized mapInPandas matmul;
    3. each cell trains its own ``k/coarse_k`` sub-centroids in ONE
       EXECUTOR TASK (applyInPandas over the cell — Lloyd's on ≤
       ``cell_sample_limit`` canonicalized rows, same deterministic
       :func:`_kmeans_fit` the oracle path uses), so driver work and
       wall-clock scale with √k, not k.

    Deterministic end-to-end: the coarse model is a pure function of
    sample set + seed, the hash sample is a pure function of the data,
    and each cell lexsorts before truncating to ``cell_sample_limit`` —
    so re-training on the same corpus yields the same matrix (pinned by
    test).  Returns ≤ n_centroids float64 centroids (a sparse cell
    trains fewer; duplicates across cells are dropped), sorted
    canonically.  Use the result via the ``centroids=`` argument of
    :func:`semantic_dedup` / :func:`ivf_topk` — assignment and the
    pair/probe stages are unchanged, only training moves off the
    driver.  Measured at sf1.0 (20k vectors, dim 64, local[32]):
    k=1024 trains 918 effective centroids in 8.2 s (32 coarse cells ×
    32 sub-centroids, each cell one executor task) and
    ``semantic_dedup`` over the result runs in 1.6 s; driver work was
    one 32-centroid coarse training, independent of k — at the paper's
    ~100k-centroid regime the same shape is 512 cells × 256
    sub-centroids, still √k driver cost."""
    import numpy as np
    k = resolve_n_centroids(corpus, n_centroids, target_cluster)
    if k < 4:
        return train_ivf_centroids(corpus, vec_col, k,
                                   sample_limit, iters, seed)
    root = int(np.ceil(np.sqrt(k)))
    coarse_k = max(2, 1 << (root - 1).bit_length())  # pow2 ≥ √k
    sub_k = -(-k // coarse_k)
    coarse = train_ivf_centroids(corpus, vec_col, coarse_k,
                                 sample_limit, iters, seed)
    sampled = corpus.select(vec_col)
    if sample_rate is not None:
        if not 0 < sample_rate <= 1:
            raise ValueError(f"sample_rate must be in (0, 1], got "
                             f"{sample_rate}")
        thresh = int(sample_rate * (1 << 32))
        sampled = sampled.filter(
            F.pmod(F.xxhash64(F.col(vec_col)), F.lit(1 << 32)) < thresh)
    assigned = ivf_assign(sampled, vec_col, coarse)
    out_schema = f"_cell int, {vec_col} array<double>"

    def _train_cell(pdf):
        import pandas as pd
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        x = x[np.lexsort(x.T[::-1])][:cell_sample_limit]
        cents = _kmeans_fit(x, sub_k, iters, seed)
        return pd.DataFrame({"_cell": int(pdf["_centroid"].iloc[0]),
                             vec_col: list(cents)})

    rows = (assigned.groupBy("_centroid").applyInPandas(
                _train_cell, schema=out_schema)
                    .collect())
    cents = np.array([r[vec_col] for r in rows], dtype=np.float64)
    cents = np.unique(cents, axis=0)           # canonical sort + dedup
    return cents


def replay_ivf_centroids(parquet_path: str, min_id: int = 5,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         n_centroids: int = 16, sample_limit: int = 20_000,
                         iters: int = 10, seed: int = 42, keep=None):
    """Spark-free replay of the centroids :func:`train_ivf_centroids`
    produces for ``corpus = parquet WHERE id_col >= min_id`` — the oracle
    half of the IVF proof: because training is a pure function of the
    sample SET + seed (see :func:`_kmeans_fit`), reading the same rows
    with pyarrow yields bit-identical float64 centroids, which
    :func:`ivf_ann_oracle_sql` then embeds as SQL literals.

    Requires the corpus to fit inside ``sample_limit`` (then Spark's
    ``limit`` sample is the WHOLE set and is deterministic); raises
    loudly otherwise rather than producing an unprovable oracle.

    ``keep``: optional id predicate replacing the default
    ``i >= min_id`` — the extend-arc oracle trains on the BUILD slice
    only (``ann_ivf_extend``: centroids frozen before the delta
    arrives), so its replay must filter the same subset."""
    import numpy as np
    import pyarrow.parquet as pq
    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t[id_col].to_numpy()
    vecs = t[vec_col].to_pylist()
    pred = keep if keep is not None else (lambda i: i >= min_id)
    x = np.array([v for v, i in zip(vecs, ids) if pred(i)],
                 dtype=np.float64)
    if len(x) > sample_limit:
        raise ValueError(
            f"corpus has {len(x)} rows > sample_limit={sample_limit}: the "
            "Spark-side k-means sample is no longer the whole corpus, so "
            "an exact centroid replay is impossible — raise sample_limit "
            "or shrink the oracle fixture")
    return _kmeans_fit(x, n_centroids, iters, seed)


def ivf_assign(df: DataFrame, vec_col: str, centroids) -> DataFrame:
    """Attach ``_centroid`` (nearest-centroid id) via a vectorized
    mapInPandas — one numpy matmul per Arrow batch, centroids shipped in
    the task closure (small)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cents = centroids.astype("float64")
    schema = T.StructType(list(df.schema.fields)
                          + [T.StructField("_centroid", T.IntegerType())])

    def run(batches):
        for pdf in batches:
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(x) == 0:
                yield pdf.assign(_centroid=pd.Series([], dtype="int32"))
                continue
            # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
            scores = x @ cents.T - 0.5 * (cents ** 2).sum(axis=1)[None, :]
            yield pdf.assign(_centroid=scores.argmax(axis=1).astype("int32"))

    return df.mapInPandas(run, schema=schema)


def _ivf_probe_frame(spark, queries: DataFrame, centroids, nprobe: int,
                     query_id_col: str, vec_col: str) -> DataFrame:
    """(query_id, _qvec, _centroid) — one row per probed inverted list.
    Queries are small by contract (they are broadcast anyway), so the
    nprobe-nearest-centroid selection runs driver-side on numpy."""
    import numpy as np
    qrows = _collect_queries(queries, [query_id_col, vec_col])
    qx = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    scores = qx @ centroids.T - 0.5 * (centroids ** 2).sum(axis=1)[None, :]
    order = np.argsort(-scores, axis=1)[:, :nprobe]
    probe_rows = [(r[query_id_col], list(r[vec_col]), int(c))
                  for r, cs in zip(qrows, order) for c in cs]
    qb = spark.createDataFrame(
        probe_rows, f"{query_id_col} long, _qvec array<double>, _centroid int")
    return qb, sorted({c for (_, _, c) in probe_rows})


def _ivf_score(cb: DataFrame, qb: DataFrame, k: int, id_col: str,
               vec_col: str, query_id_col: str) -> DataFrame:
    """Probe join (broadcast — exchange-free on the corpus side) +
    exact-cosine scoring + two-stage top-k."""
    # per-side norms hoisted out of the probe join (same floats; the
    # corpus norm would otherwise recompute once per probing query)
    cb = (cb.withColumn("_cv", F.col(vec_col).cast("array<double>"))
            .withColumn("_cn", norm(F.col("_cv"))))
    qb = qb.withColumn("_qn", norm(F.col("_qvec")))
    scored = cb.join(F.broadcast(qb), on="_centroid").select(
        query_id_col, id_col,
        F.round(F.try_divide(dot(F.col("_cv"), F.col("_qvec")),
                             F.col("_cn") * F.col("_qn")), 6)
         .alias("cosine_sim"))
    return _rank_topk(partial_topk(scored, k, query_id_col, id_col),
                      k, query_id_col, id_col)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             n_centroids: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", seed: int = 42,
             centroids=None) -> DataFrame:
    """IVF approximate top-k: corpus is partitioned into ``n_centroids``
    inverted lists; each query scores only the lists of its ``nprobe``
    nearest centroids — corpus-side work ≈ nprobe/n_centroids of brute
    force, and the probe join is a key-equality join on ``_centroid``.

    Recall/cost dial — measured on this repo's synthetic 64-dim
    embeddings at sf0.01 (near-uniform vectors, IVF's worst case: Lloyd
    cells carve a cloud with no real cluster structure, so recall tracks
    the scan fraction ≈ nprobe/n_centroids almost linearly instead of
    saturating early):

    ========  =============  ========
    nprobe    scan fraction  recall@5
    ========  =============  ========
    1         0.06           0.43
    2         0.12           0.50
    4 (def)   0.25           0.65
    6         0.38           0.79
    8         0.50           0.87
    12        0.75           0.99
    16        1.00           1.00
    ========  =============  ========

    There is no knee to move the default to on uniform data; real
    embedding corpora cluster, which is precisely what bends this curve
    upward (high recall at small scan fractions) — tune nprobe against a
    recall_at_k sample on YOUR corpus.

    Pass a prebuilt ``centroids`` array to reuse an index across query
    batches; for the full train-once/query-many deployment shape (index
    persisted bucketed by ``_centroid``) use :func:`build_ivf_index` +
    :func:`ivf_topk_indexed`."""
    require_columns(corpus, [id_col, vec_col])
    require_columns(queries, [query_id_col, vec_col])
    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_centroids, seed=seed)
    cb = ivf_assign(corpus, vec_col, centroids)
    qb, _ = _ivf_probe_frame(corpus.sparkSession, queries, centroids, nprobe,
                             query_id_col, vec_col)
    return _ivf_score(cb, qb, k, id_col, vec_col, query_id_col)


def build_ivf_index(corpus: DataFrame, table: str, n_centroids: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 42, n_buckets: int | None = None):
    """Train-once half of the IVF deployment shape: train the coarse
    quantizer, assign every corpus row, and PERSIST the assigned corpus
    bucketed (and sorted) by ``_centroid`` via ``sources.write_bucketed``.

    The write pays the assignment + one shuffle ONCE; afterwards every
    query batch probes the saved table with a broadcast key-equality join
    that needs NO corpus-side exchange (test_similarity pins the
    0-exchange plan), and Spark's bucket pruning skips the inverted lists
    no query probes.  Returns the centroid array — keep it however you
    like (it is tiny: n_centroids × dim floats); the table is stamped
    with its sha256, and extend/probe check the array they are handed
    against the stamp."""
    from frames_map_reduce_spark.sources import write_bucketed
    require_columns(corpus, [id_col, vec_col])
    centroids = train_ivf_centroids(corpus, vec_col, n_centroids, seed=seed)
    assigned = ivf_assign(corpus.select(id_col, vec_col), vec_col, centroids)
    write_bucketed(assigned, table, ["_centroid"],
                   n_buckets or n_centroids, _ivf_spec(centroids))
    return centroids


def ivf_topk_indexed(spark, table: str, queries: DataFrame, centroids,
                     k: int, nprobe: int = 4,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Query-many half: probe a persisted IVF index (built by
    :func:`build_ivf_index`).  The ``_centroid IN (probed…)`` filter
    prunes unread buckets at scan time; the probe join is broadcast, so
    the corpus side runs scan→filter→score with zero exchanges.
    ``centroids`` are checked against the build's stamp."""
    from frames_map_reduce_spark.sources import require_spec
    require_spec(spark, table, _ivf_spec(centroids))
    cb = spark.table(table)
    qb, probed = _ivf_probe_frame(spark, queries, centroids, nprobe,
                                  query_id_col, vec_col)
    cb = cb.filter(F.col("_centroid").isin(probed))
    return _ivf_score(cb, qb, k, id_col, vec_col, query_id_col)


def extend_ivf_index(new_df: DataFrame, table: str, centroids,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Maintenance half of the IVF deployment shape (r11 verdict #7 —
    the bloom/minhash build→extend lifecycle applied to ANN): assign a
    batch of NEW vectors to the EXISTING frozen coarse quantizer
    (:func:`ivf_assign` — one vectorized Arrow pass, centroids in the
    task closure) and APPEND them to the persisted bucketed inverted
    lists.  No retraining, no rewrite of prior lists: the quantizer is
    frozen, so each row's cell is the same whether it arrived at build
    or extend time — ``probe(extend(build(A), B)) ≡ probe(build(A∪B,
    centroids=frozen))`` exactly (the registry row ``ann_ivf_extend``
    hash-proves this against a rebuild-replaying oracle; the append
    reads the build's bucket spec from the catalog, so bucket pruning
    and the zero-exchange probe are untouched).

    When to retrain instead of extend: :func:`ivf_drift_stats` — the
    frozen quantizer quietly degrades as the data distribution moves
    (cells bloat or their true mean walks away from the trained
    centroid, inflating the scan fraction a given recall costs).
    ``centroids`` are checked against the build's stamp."""
    require_columns(new_df, [id_col, vec_col])
    import numpy as np

    from frames_map_reduce_spark.sources import append_bucketed, require_spec
    spec = require_spec(new_df.sparkSession, table, _ivf_spec(centroids))
    cents = np.asarray(centroids, dtype=np.float64)
    assigned = ivf_assign(new_df.select(id_col, vec_col), vec_col, cents)
    append_bucketed(assigned, table, spec)


def _sha256(array, dtype: str) -> str:
    """Hex sha256 of ``array``'s bytes as ``dtype`` — the stamp of a
    caller-held spec array (centroids, codebooks)."""
    import hashlib

    import numpy as np
    return hashlib.sha256(
        np.ascontiguousarray(array, dtype=dtype).tobytes()).hexdigest()


def _ivf_spec(centroids) -> dict[str, str]:
    from frames_map_reduce_spark.sources import index_spec
    return index_spec("ivf", centroids_sha256=_sha256(centroids, "float64"))


_VEC_MICRO = 1_000_000


def ivf_drift_stats(assigned: DataFrame, centroids,
                    vec_col: str = "embedding",
                    max_share_milli: int = 250,
                    max_displacement_micro: int = 500_000) -> DataFrame:
    """Retrain trigger for a frozen IVF quantizer: per-cell maintenance
    stats over an ASSIGNED corpus (``_centroid`` present — pass
    ``spark.table(index_table)`` for a persisted index), every number
    engine-stable so the decision can be oracled cross-engine:

    - ``cell_id`` / ``n_rows``: inverted-list occupancy;
    - ``share_milli`` (BIGINT): the cell's corpus share in exact milli
      (``n·1000 div total`` — integer, non-negative);
    - ``displacement_micro`` (BIGINT): Euclidean distance between the
      FROZEN centroid and the cell's CURRENT mean vector, in micro
      units.  Staging: each component is quantized to micro BIGINT at
      the row (`round(v·10⁶)` — exact sums in any order), the per-dim
      mean is ``floor(sum/n)`` computed through one correctly-rounded
      double division of exactly-representable integers (identical in
      IEEE engines), the squared-delta sum vs the centroid's
      Python-computed micro literal is exact BIGINT (≤ dim·(2·10⁶·‖v‖)²
      — far inside 2⁶³ for unit-scale embeddings), and the final sqrt
      is one correctly-rounded float op, floored back to BIGINT;
    - ``needs_retrain`` (BOOLEAN): ``share_milli > max_share_milli OR
      displacement_micro > max_displacement_micro`` — a bloated cell
      inflates every probe touching it (scan fraction drifts above
      nprobe/n_cells), a displaced centroid mis-ranks which lists a
      query probes (recall decays silently).

    Scale shape: one posexplode (a row per vector component — the
    irreducible cost of exact per-dim sums) into a (cells×dim)-row
    two-phase aggregate, then broadcast-class joins; cells with no rows
    don't appear (an EMPTY cell is a retrain signal visible as a
    missing row — document-level checks belong to the caller)."""
    require_columns(assigned, ["_centroid", vec_col])
    import numpy as np
    cents = np.asarray(centroids, dtype=np.float64)
    n_cells, dim = cents.shape
    ex = assigned.select(
        "_centroid",
        F.posexplode(F.col(vec_col)).alias("_d", "_v"))
    # widen BEFORE the multiply: on an array<float> column Spark's
    # float×int stays FLOAT32 (a different rounding input than the
    # twin's double math — 12/64 dims off by 1 micro at sf0.001 until
    # this cast); float→double widening is exact, so both engines then
    # quantize the identical double
    per = ex.groupBy("_centroid", "_d").agg(
        F.sum(F.round(F.col("_v").cast("double") * _VEC_MICRO, 0)
               .cast("bigint")).alias("_s"),
        F.count(F.lit(1)).cast("bigint").alias("_n"))
    mean = per.select(
        "_centroid", "_d", "_n",
        F.floor(F.col("_s").cast("double") / F.col("_n").cast("double"))
         .cast("bigint").alias("_m"))
    c_rows = [(int(c), int(d),
               int(round(float(cents[c, d]) * _VEC_MICRO)))
              for c in range(n_cells) for d in range(dim)]
    spark = assigned.sparkSession
    cdf = spark.createDataFrame(
        spark.sparkContext.parallelize(c_rows, 1),
        "_centroid int, _d int, _cm long")
    j = mean.join(F.broadcast(cdf), ["_centroid", "_d"])
    cell = j.groupBy("_centroid").agg(
        F.max("_n").alias("n_rows"),
        F.sum((F.col("_m") - F.col("_cm"))
              * (F.col("_m") - F.col("_cm"))).alias("_d2"))
    tot = cell.agg(F.sum("n_rows").alias("_tot"))
    return (cell.crossJoin(F.broadcast(tot))
                .select(F.col("_centroid").cast("int").alias("cell_id"),
                        "n_rows",
                        F.expr("(n_rows * 1000) div _tot").cast("bigint")
                         .alias("share_milli"),
                        F.floor(F.sqrt(F.col("_d2").cast("double")))
                         .cast("bigint").alias("displacement_micro"))
                .withColumn(
                    "needs_retrain",
                    (F.col("share_milli") > F.lit(int(max_share_milli)))
                    | (F.col("displacement_micro")
                       > F.lit(int(max_displacement_micro)))))


def ivf_drift_stats_sql(corpus_sel: str, vec_col: str, centroids,
                        max_share_milli: int = 250,
                        max_displacement_micro: int = 500_000) -> str:
    """DuckDB twin of :func:`ivf_drift_stats` over an UNASSIGNED corpus
    selection: assignment is replayed in SQL against the same frozen
    centroid literals (the :func:`ivf_ann_oracle_sql` cassign shape),
    then the identical micro-quantize → floor-mean → exact squared-delta
    → floored-sqrt staging.  ``centroids`` must be the replayed array
    (:func:`replay_ivf_centroids`) so the literals match bit-for-bit."""
    import numpy as np
    cents = np.asarray(centroids, dtype=np.float64)
    n_cells, dim = cents.shape
    rows = []
    for cid, c in enumerate(cents):
        lits = ", ".join(repr(float(v)) for v in c)
        hn = repr(float(0.5 * (c * c).sum()))
        rows.append(f"({cid}, [{lits}], {hn})")
    values = ",\n       ".join(rows)
    cm_rows = ", ".join(
        f"({c}, {d}, {int(round(float(cents[c, d]) * _VEC_MICRO))})"
        for c in range(n_cells) for d in range(dim))
    dot_c = (f"list_sum(list_transform(list_zip(t.{vec_col}, "
             f"_ivfd_cents.cvec), "
             f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")
    return f"""
WITH _ivfd_cents(cid, cvec, hn) AS (VALUES
       {values}),
     _ivfd_cm(cid, dim, cm) AS (VALUES {cm_rows}),
     _ivfd_corpus AS ({corpus_sel}),
     _ivfd_assign AS (
        SELECT {vec_col}, cid FROM (
          SELECT t.{vec_col}, _ivfd_cents.cid,
                 row_number() OVER (PARTITION BY t._ivfd_rid
                     ORDER BY {dot_c} - _ivfd_cents.hn DESC,
                              _ivfd_cents.cid) AS rn
          FROM (SELECT {vec_col}, row_number() OVER () AS _ivfd_rid
                FROM _ivfd_corpus) t
          CROSS JOIN _ivfd_cents) WHERE rn = 1),
     _ivfd_dims AS (
        SELECT cid, generate_subscripts({vec_col}, 1) - 1 AS dim,
               CAST(round(CAST(unnest({vec_col}) AS DOUBLE)
                          * {_VEC_MICRO}) AS BIGINT) AS vm
        FROM _ivfd_assign),
     _ivfd_mean AS (
        SELECT cid, dim, count(*)::BIGINT AS n,
               CAST(floor(CAST(sum(vm) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
        FROM _ivfd_dims GROUP BY cid, dim),
     _ivfd_cell AS (
        SELECT a.cid, max(a.n)::BIGINT AS n_rows,
               sum((a.m - b.cm) * (a.m - b.cm))::BIGINT AS d2
        FROM _ivfd_mean a JOIN _ivfd_cm b
          ON a.cid = b.cid AND a.dim = b.dim
        GROUP BY a.cid),
     _ivfd_tot AS (SELECT sum(n_rows)::BIGINT AS tot FROM _ivfd_cell)
SELECT cid::INTEGER AS cell_id, n_rows,
       ((n_rows * 1000) // tot)::BIGINT AS share_milli,
       CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT)
           AS displacement_micro,
       (n_rows * 1000) // tot > {int(max_share_milli)}
           OR CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT)
              > {int(max_displacement_micro)} AS needs_retrain
FROM _ivfd_cell CROSS JOIN _ivfd_tot
"""


def ivf_ann_oracle_sql(table: str, id_col: str, vec_col: str,
                       query_max_id: int, k: int, nprobe: int,
                       centroids) -> str:
    """Exhaustive DuckDB twin of :func:`ivf_topk` / :func:`ivf_topk_indexed`
    (+ the recall column of the driver query) — a FULL value oracle for an
    approximate operator, same pattern as :func:`srp_ann_oracle_sql`:
    the approximation is deterministic given its spec.  Here the spec is
    the trained centroid matrix, replayed bit-identically outside Spark
    by :func:`replay_ivf_centroids` and embedded as float64 literals.

    Assignment (`argmax(x·c − ½‖c‖²)`, ties → lowest centroid id — numpy
    argmax picks the first max), the nprobe probe set, exact-cosine
    scoring over probed lists only, 6-dp HALF_UP rounding BEFORE ranking,
    (sim DESC, id ASC) tie-breaks, and recall@k vs global brute force all
    mirror the Spark path.  The dot products are re-summed sequentially
    here vs BLAS on the Spark side, but they only feed argmax/argsort
    decisions (never the output values), so last-bit noise is harmless
    away from exact score ties."""
    import numpy as np
    cents = np.asarray(centroids, dtype=np.float64)
    rows = []
    for cid, c in enumerate(cents):
        lits = ", ".join(repr(float(v)) for v in c)
        hn = repr(float(0.5 * (c * c).sum()))
        rows.append(f"({cid}, [{lits}], {hn})")
    values = ",\n       ".join(rows)
    dot_c = (f"list_sum(list_transform(list_zip(t.{vec_col}, cents.cvec), "
             f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")
    cos = (f"round(list_sum(list_transform(list_zip(a.{vec_col}, b.{vec_col}), "
           f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / nullif("
           f"sqrt(list_sum(list_transform(a.{vec_col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
           f"sqrt(list_sum(list_transform(b.{vec_col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0), 6)")
    return f"""
WITH cents(cid, cvec, hn) AS (VALUES
       {values}),
     q AS (SELECT {id_col} AS query_id, {vec_col}
           FROM {table} WHERE {id_col} < {query_max_id}),
     c AS (SELECT {id_col}, {vec_col}
           FROM {table} WHERE {id_col} >= {query_max_id}),
     cassign AS (
        SELECT {id_col}, {vec_col}, cid FROM (
          SELECT t.{id_col}, t.{vec_col}, cents.cid,
                 row_number() OVER (PARTITION BY t.{id_col}
                     ORDER BY {dot_c} - cents.hn DESC, cents.cid) AS rn
          FROM c t CROSS JOIN cents) WHERE rn = 1),
     probes AS (
        SELECT query_id, cid FROM (
          SELECT t.query_id, cents.cid,
                 row_number() OVER (PARTITION BY t.query_id
                     ORDER BY {dot_c} - cents.hn DESC, cents.cid) AS rn
          FROM q t CROSS JOIN cents) WHERE rn <= {nprobe}),
     scored AS (
        SELECT a.query_id, b.{id_col}, {cos} AS cosine_sim
        FROM q a
        JOIN probes p ON p.query_id = a.query_id
        JOIN cassign b ON b.cid = p.cid),
     approx AS (
        SELECT query_id, {id_col}, cosine_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine_sim DESC, {id_col}) AS rank
        FROM scored QUALIFY rank <= {k}),
     exact AS (
        SELECT query_id, {id_col} FROM (
          SELECT a.query_id, b.{id_col},
                 row_number() OVER (PARTITION BY a.query_id
                     ORDER BY {cos} DESC, b.{id_col}) AS rnk
          FROM q a JOIN c b ON true) WHERE rnk <= {k}),
     rec AS (
        SELECT e.query_id,
               round(CAST(count(ap.{id_col}) AS DOUBLE) / count(*), 6) AS recall
        FROM exact e LEFT JOIN approx ap USING (query_id, {id_col})
        GROUP BY e.query_id)
SELECT approx.query_id, approx.{id_col}, approx.cosine_sim,
       CAST(approx.rank AS BIGINT) AS rank, rec.recall
FROM approx JOIN rec USING (query_id)
"""


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             dim: int = 0, n_planes: int = 10,
                             seed: int = 42, max_bucket: int = 5000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via SRP blocking: pairs are
    generated only within a bucket (equi-self-join on ``_bucket``) and
    verified by exact cosine.  ``max_bucket`` caps quadratic blow-up in
    skewed buckets, mirroring minhash_lsh_candidates."""
    if dim <= 0:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = first["d"]
    b = srp_bucketed(df, vec_col, dim, n_planes, seed).select(
        "_bucket", F.col(id_col), F.col(vec_col))
    # surviving buckets ≤ 2^n_planes rows, broadcast.  The per-row norm
    # comes AFTER the prune (dropped rows never pay it) and before the
    # pair join (same floats as norm-per-pair, computed once per row
    # instead of twice per pair — see semantic_dedup)
    pruned = (_prune_buckets(b, max_bucket)
                .withColumn("_v", F.col(vec_col).cast("array<double>"))
                .withColumn("_nm", norm(F.col("_v"))))
    return (
        _bucket_self_join(pruned, id_col, ["_v", "_nm"])
           .select("id_a", "id_b",
                   F.round(F.try_divide(dot(F.col("_v_a"), F.col("_v_b")),
                                        F.col("_nm_a") * F.col("_nm_b")), 6)
                    .alias("cosine_sim"))
           .filter(F.col("cosine_sim") >= threshold)
           .distinct()
    )


# ---------------------------------------------------------------------------
# Label-outlier detection (mislabel audit over an embedding column)
# ---------------------------------------------------------------------------

#: fixed-point scale for label_outliers: 2^20 quantization steps per
#: unit, plus a 2^30 positive offset so integer mean/round semantics are
#: sign-free in both engines (the offset cancels in every difference).
_LO_SCALE_BITS = 20
_LO_OFFSET_BITS = 30


def label_outliers(df: DataFrame, vec_col: str, id_col: str,
                   label_col: str, k: int = 20) -> DataFrame:
    """Distance of every vector to its LABEL CENTROID, top-``k``
    farthest — the classic mislabel/outlier audit from the dataset
    pruning literature: points far from their class prototype are
    mislabeled, ambiguous, or genuinely hard, and are the first
    candidates for relabeling or downweighting in a training-data
    pipeline.

    Returns ``(id_col, label_col, dist_q)`` where ``dist_q`` is the
    squared L2 distance in FIXED-POINT units: each coordinate is
    quantized to ``round(x · 2^20)`` **before** any aggregation, the
    centroid is the half-up INTEGER mean of the quantized coordinates,
    and the distance is an exact BIGINT sum of squared integer deltas.
    Floating-point never enters an aggregation, so the result is
    bit-identical under any partitioning, any engine, any scale — the
    lesson of the r6 funnel/scd2 rounding divergence applied at design
    time instead of as a fix.  (Quantization error is bounded by
    2^-20 ≈ 1e-6 per coordinate — far below any embedding's noise
    floor; distances are for RANKING, not for reuse as geometry.)

    Scale shape: posexplode (linear, no shuffle) → per-(label, dim)
    2-phase integer-sum aggregation (#labels × dim rows — tiny) →
    broadcast join of the centroid table back onto the exploded stream
    (no shuffle) → per-vector 2-phase integer-sum → global top-k via
    TakeOrderedAndProject.  Two shuffles end-to-end, nothing quadratic,
    centroids always broadcastable.
    """
    require_columns(df, [vec_col, id_col, label_col])
    scale = 1 << _LO_SCALE_BITS
    off = 1 << _LO_OFFSET_BITS
    q = (df.select(F.col(id_col), F.col(label_col),
                   F.posexplode(F.col(vec_col)).alias("_pos", "_x"))
           .withColumn("_q", F.round(F.col("_x").cast("double") * scale, 0)
                              .cast("bigint") + F.lit(off)))
    cent = (q.groupBy(label_col, "_pos")
             .agg(F.sum("_q").alias("_s"), F.count(F.lit(1)).alias("_n"))
             # half-up integer mean; _q is offset-positive so truncating
             # and flooring division agree across engines
             .withColumn("_c", F.expr("(2 * _s + _n) div (2 * _n)"))
             .select(label_col, "_pos", "_c"))
    dist = (q.join(F.broadcast(cent), [label_col, "_pos"])
             .withColumn("_d", F.col("_q") - F.col("_c"))
             .groupBy(id_col, label_col)
             .agg(F.sum(F.col("_d") * F.col("_d")).alias("dist_q")))
    # global top-k lowers to TakeOrderedAndProject (per-partition partial
    # top-k), never a single-task global sort
    return dist.orderBy(F.col("dist_q").desc(), F.col(id_col)).limit(k)


def label_outliers_sql(table: str, vec_col: str, id_col: str,
                       label_col: str, k: int = 20) -> str:
    """DuckDB twin of :func:`label_outliers` — the same quantize /
    integer-mean / integer-distance arithmetic (exact by construction;
    the only float op is the pre-aggregation ``round(x·2^20)``, whose
    input is a power-of-two scaling of a float — exact in binary — and
    whose .5 ties round away from zero in both engines)."""
    scale = 1 << _LO_SCALE_BITS
    off = 1 << _LO_OFFSET_BITS
    return f"""
        WITH _q AS (
            SELECT {id_col}, {label_col},
                   generate_subscripts({vec_col}, 1) AS _pos,
                   CAST(round(CAST(unnest({vec_col}) AS DOUBLE) * {scale}, 0)
                        AS BIGINT) + {off} AS _qv
            FROM {table}),
        _cent AS (
            SELECT {label_col}, _pos,
                   (2 * sum(_qv) + count(*)) // (2 * count(*)) AS _cv
            FROM _q GROUP BY {label_col}, _pos),
        _dist AS (
            SELECT _q.{id_col}, _q.{label_col},
                   CAST(sum((_qv - _cv) * (_qv - _cv)) AS BIGINT) AS dist_q
            FROM _q JOIN _cent
              ON _q.{label_col} = _cent.{label_col} AND _q._pos = _cent._pos
            GROUP BY _q.{id_col}, _q.{label_col})
        SELECT {id_col}, {label_col}, dist_q
        FROM _dist ORDER BY dist_q DESC, {id_col} LIMIT {k}"""


def _lo_quantize(vec):
    """Fixed-point quantization of a float vector (the label_outliers
    scheme, sans offset — used where only DIFFERENCES matter)."""
    scale = 1 << _LO_SCALE_BITS
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * scale, 0).cast("bigint"))


def knn_label_vote(corpus: DataFrame, queries: DataFrame, vec_col: str,
                   id_col: str, label_col: str, k: int = 5,
                   max_queries: int = 10_000) -> DataFrame:
    """Exact k-nearest-neighbor LABEL VOTE for a BOUNDED query set —
    the local complement of :func:`label_outliers`' global
    centroid-distance audit: a point far from its class prototype whose
    neighbors nevertheless agree with its label is a hard-but-valid
    example; one whose neighbors vote another class is a likely
    mislabel (confident-learning style).  Queries are broadcast
    (bounded by contract, checked); the corpus is scanned ONCE with a
    per-pair integer squared distance (the :func:`label_outliers`
    fixed-point scheme, so ranking is bit-deterministic — no float
    ever enters a comparison), per-query partial top-k prunes
    map-side, and the merge window sees ≤ batches·k rows per query.

    Returns one row per query: ``(id_col, label_col, knn_label,
    n_same)`` — the majority neighbor label (ties: highest count, then
    smallest label) and how many of the k neighbors share the query's
    own label.  Self-matches (same ``id_col``) are excluded.
    """
    require_columns(corpus, [vec_col, id_col, label_col])
    require_columns(queries, [vec_col, id_col, label_col])
    # the query frame's plan executes three times otherwise (bound
    # pre-flight, the broadcast into the scored cross-join, the label
    # re-attach) — and in the composed mislabel audit that plan embeds
    # the whole label_outliers corpus pass.  Local-checkpoint it
    # (bounded ≤ max_queries rows by the very contract the pre-flight
    # enforces); the pre-flight count materializes it, and the
    # checkpoint belongs to the returned plan, freed once that plan is
    # unreachable (same lifetime and executor-loss trade as
    # minhash_probe_index).
    qz = (queries.select(F.col(id_col).alias("_qid"),
                         F.col(label_col).alias("_qlabel"),
                         _lo_quantize(F.col(vec_col)).alias("_qq"))
                 .localCheckpoint(eager=False))
    n_q = qz.limit(max_queries + 1).count()
    if n_q > max_queries:
        raise ValueError(
            f"knn_label_vote is bounded to {max_queries} queries by "
            "contract (the query side is broadcast and each query scans "
            "the corpus once); for all-pairs label audits use "
            "label_outliers or a bucketed ANN pass")
    cz = corpus.select(F.col(id_col).alias("_cid"),
                       F.col(label_col).alias("_clabel"),
                       _lo_quantize(F.col(vec_col)).alias("_cq"))
    d = F.aggregate(
        F.zip_with(F.col("_qq"), F.col("_cq"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (cz.crossJoin(F.broadcast(qz))
                .filter(F.col("_cid") != F.col("_qid"))
                .select("_qid", "_qlabel", "_cid", "_clabel",
                        (-d).alias("_negdist")))
    part = partial_topk(
        scored.select("_qid", "_cid", "_negdist"), k, "_qid", "_cid",
        sim_col="_negdist")
    ranked = _rank_topk(part, k, "_qid", "_cid", sim_col="_negdist")
    # labels re-attach by joining the TINY ranked set (queries·k rows,
    # broadcast) against the skinny corpus/query projections — never by
    # re-joining the scored cross stream (that would re-run the scan)
    nb = (cz.select("_cid", "_clabel")
            .join(F.broadcast(ranked.select("_qid", "_cid")), "_cid")
            .join(F.broadcast(qz.select("_qid", "_qlabel")), "_qid"))
    votes = nb.groupBy("_qid", "_qlabel", "_clabel") \
              .agg(F.count(F.lit(1)).alias("_c"))
    # winner pick and same-label tally are BOTH per-_qid quantities over
    # the tiny votes frame: compute them in one window pass (row_number
    # on the ordered spec, sum over the whole partition) instead of two
    # branches merged by a join — the two-branch form duplicated the
    # votes lineage (and the corpus pass under it) in the plan and paid
    # an Exchange+Sort on each side of a SortMergeJoin for rows that are
    # 1-per-query on both sides.  Same BIGINT sum, same tie order —
    # values unchanged.
    w = Window.partitionBy("_qid").orderBy(
        F.col("_c").desc(), F.col("_clabel").asc())
    wq = Window.partitionBy("_qid")
    return (votes
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("n_same",
                        F.sum(F.when(F.col("_clabel") == F.col("_qlabel"),
                                     F.col("_c")).otherwise(0))
                         .over(wq).cast("bigint"))
            .filter(F.col("_rn") == 1)
            .select(F.col("_qid").alias(id_col),
                    F.col("_qlabel").alias(label_col),
                    F.col("_clabel").alias("knn_label"), "n_same"))


def knn_label_vote_sql(table: str, queries_sql: str, vec_col: str,
                       id_col: str, label_col: str, k: int = 5) -> str:
    """DuckDB twin of :func:`knn_label_vote` — same fixed-point
    quantization, exact integer distances, (dist ASC, id ASC) ranking
    and (count DESC, label ASC) vote tie-break.  ``queries_sql`` is a
    SELECT producing the query rows from the same table family (e.g.
    the label_outliers twin joined back for vectors), so composed
    audits replay verbatim."""
    scale = 1 << _LO_SCALE_BITS
    qz = (f"list_transform({vec_col}, x -> "
          f"CAST(round(CAST(x AS DOUBLE) * {scale}, 0) AS BIGINT))")
    return f"""
        WITH _qsrc AS ({queries_sql}),
        _qz AS (
            SELECT {id_col} AS _qid, {label_col} AS _qlabel, {qz} AS _qq
            FROM _qsrc),
        _cz AS (
            SELECT {id_col} AS _cid, {label_col} AS _clabel, {qz} AS _cq
            FROM {table}),
        _pairs AS (
            SELECT _qid, _qlabel, _cid, _clabel,
                   CAST(list_sum(list_transform(list_zip(_qq, _cq),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)
                       AS _dist
            FROM _qz, _cz WHERE _cid <> _qid),
        _nb AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY _qid
                              ORDER BY _dist, _cid) AS _rn
                FROM _pairs)
            WHERE _rn <= {k}),
        _votes AS (
            SELECT _qid, _qlabel, _clabel, count(*) AS _c
            FROM _nb GROUP BY _qid, _qlabel, _clabel),
        _top AS (
            SELECT _qid, _qlabel, _clabel AS knn_label,
                   row_number() OVER (PARTITION BY _qid
                       ORDER BY _c DESC, _clabel ASC) AS _vr
            FROM _votes),
        _same AS (
            SELECT _qid,
                   CAST(sum(CASE WHEN _clabel = _qlabel THEN _c ELSE 0 END)
                        AS BIGINT) AS n_same
            FROM _votes GROUP BY _qid)
        SELECT t._qid AS {id_col}, t._qlabel AS {label_col},
               t.knn_label, s.n_same
        FROM _top t JOIN _same s USING (_qid) WHERE t._vr = 1"""


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup — cluster, then dedup within clusters)
# ---------------------------------------------------------------------------

def semantic_dedup(df: DataFrame, threshold: float = 0.92,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   n_centroids: int | str = 32, seed: int = 42,
                   centroids=None, max_cluster: int | None = None,
                   target_cluster: int = 1024) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, compare pairs only
    WITHIN a cluster, and drop every vector whose cosine similarity to a
    lower-id cluster-mate reaches ``threshold`` — the deterministic
    keep-lowest-id reduction of the paper's "keep one per semantic
    duplicate group".

    Returns ``(id_col, cluster, kept)`` — one row per input vector, so
    the verdict for EVERY document is part of the (oracle-checkable)
    result, not just the drops.

    Scale shape: the quantizer trains on a bounded sample
    (:func:`train_ivf_centroids`, the FAISS recipe), assignment is one
    vectorized mapInPandas matmul (linear, no shuffle), and the pair
    stage is a key-equality self-join on the cluster id — O(Σ cᵢ²) work,
    where cluster sizes are the dial the operator exposes: SemDeDup at
    LAION scale runs ~100k centroids precisely so cᵢ stays bounded; grow
    ``n_centroids`` with the corpus and nothing here is quadratic in N —
    ``n_centroids="auto"`` does that growth for you (power-of-two ≈
    N/``target_cluster``, :func:`auto_n_centroids`), and past the
    driver-sample training regime pass
    ``centroids=train_centroids_hierarchical(...)`` (the √k-parallel
    trainer) while keeping everything else identical.
    ``max_cluster`` makes that contract loud: when set, a cluster larger
    than the cap raises (with the fix) instead of silently absorbing a
    quadratic blow-up — dropping pairs would silently change verdicts,
    so unlike the LSH caps there is no safe cap-and-continue here.

    Same exactness contract as :func:`ivf_ann_oracle_sql`: cluster
    assignment feeds only argmax decisions, cosine is rounded to 6 dp
    (HALF_UP in both engines) before the threshold compare, so
    :func:`semantic_dedup_oracle_sql` replays the whole operator
    exactly from the trained centroid matrix."""
    require_columns(df, [id_col, vec_col])
    if centroids is None:
        # "auto" sizes the dial ≈ N/target_cluster (power-of-two clamp,
        # auto_n_centroids) so the 100× story is turnkey: clusters — and
        # with them the quadratic pair-join term — stay ~target_cluster
        # as the corpus grows.  The choice is a pure function of the
        # row count, so semantic_dedup_oracle_sql's replay recomputes it
        # from the same parquet.
        centroids = train_ivf_centroids(df, vec_col, n_centroids,
                                        seed=seed,
                                        target_cluster=target_cluster)
    # the assigned frame feeds BOTH sides of the pair self-join AND the
    # final verdict join: local-checkpoint it so the mapInPandas
    # assignment (and the corpus scan under it) runs once, not three
    # times.  The checkpoint belongs to the returned plan and is freed
    # once that plan is unreachable, so a later call never evicts an
    # earlier result.  Trade: checkpointed blocks are not replayable —
    # an executor loss fails the job instead of re-running the stage.
    assigned = ivf_assign(df.select(id_col, vec_col), vec_col,
                          centroids).localCheckpoint(eager=False)
    if max_cluster is not None:
        big = (assigned.groupBy("_centroid")
                       .agg(F.count(F.lit(1)).alias("_n"))
                       .filter(F.col("_n") > max_cluster).limit(1).collect())
        if big:
            raise ValueError(
                f"cluster {big[0]['_centroid']} holds {big[0]['_n']} vectors "
                f"> max_cluster={max_cluster}; the within-cluster pair join "
                "would be quadratic in that cluster — raise n_centroids "
                "(cluster sizes scale ~N/n_centroids) or retrain with a "
                "larger sample instead of capping (dropped pairs would "
                "silently flip kept verdicts)")
    # Norms are per-ROW quantities: compute them once before the pair
    # join instead of twice inside every pair's cosine() — the same
    # float arithmetic on the same doubles (bit-identical result, so the
    # oracle's per-pair norms still match), at 2/|cluster| of the cost.
    sided = assigned.withColumn("_v", F.col(vec_col).cast("array<double>")) \
                    .withColumn("_n", norm(F.col("_v")))
    lhs = sided.select("_centroid", F.col(id_col).alias("_id_a"),
                       F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    rhs = sided.select(F.col("_centroid").alias("_cb"),
                       F.col(id_col).alias("_id_b"),
                       F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    dropped = (
        lhs.join(rhs, (F.col("_centroid") == F.col("_cb"))
                 & (F.col("_id_a") < F.col("_id_b")))
           .select(F.col("_id_b").alias(id_col),
                   F.round(F.try_divide(dot(F.col("_va"), F.col("_vb")),
                                        F.col("_na") * F.col("_nb")), 6)
                    .alias("_sim"))
           .filter(F.col("_sim") >= threshold)
           .select(id_col).distinct()
           .withColumn("_dropped", F.lit(True)))
    return (assigned.join(dropped, id_col, "left")
                    .select(F.col(id_col),
                            F.col("_centroid").alias("cluster"),
                            F.col("_dropped").isNull().alias("kept")))


def semantic_dedup_oracle_sql(table: str, id_col: str, vec_col: str,
                              threshold: float, centroids) -> str:
    """Exhaustive DuckDB twin of :func:`semantic_dedup` — a FULL value
    oracle for the deterministic-given-its-spec operator, same pattern
    as :func:`ivf_ann_oracle_sql`: the spec is the trained centroid
    matrix, replayed bit-identically by :func:`replay_ivf_centroids` and
    embedded as float64 literals.  Assignment (``argmax(x·c − ½‖c‖²)``,
    ties → lowest centroid id), the a.id < b.id pair orientation, 6-dp
    HALF_UP rounding BEFORE the threshold compare, and the keep-lowest-id
    verdict all mirror the Spark path expression-for-expression."""
    import numpy as np
    cents = np.asarray(centroids, dtype=np.float64)
    rows = []
    for cid, c in enumerate(cents):
        lits = ", ".join(repr(float(v)) for v in c)
        hn = repr(float(0.5 * (c * c).sum()))
        rows.append(f"({cid}, [{lits}], {hn})")
    values = ",\n       ".join(rows)
    dot_c = (f"list_sum(list_transform(list_zip(t.{vec_col}, cents.cvec), "
             f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")
    cos = (f"round(list_sum(list_transform(list_zip(a.{vec_col}, b.{vec_col}), "
           f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / nullif("
           f"sqrt(list_sum(list_transform(a.{vec_col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
           f"sqrt(list_sum(list_transform(b.{vec_col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0), 6)")
    return f"""
WITH cents(cid, cvec, hn) AS (VALUES
       {values}),
     cassign AS (
        SELECT {id_col}, {vec_col}, cid FROM (
          SELECT t.{id_col}, t.{vec_col}, cents.cid,
                 row_number() OVER (PARTITION BY t.{id_col}
                     ORDER BY {dot_c} - cents.hn DESC, cents.cid) AS rn
          FROM {table} t CROSS JOIN cents) WHERE rn = 1),
     dropped AS (
        SELECT DISTINCT b.{id_col}
        FROM cassign a JOIN cassign b
          ON a.cid = b.cid AND a.{id_col} < b.{id_col}
        WHERE {cos} >= {threshold!r})
SELECT c.{id_col}, CAST(c.cid AS INTEGER) AS cluster,
       d.{id_col} IS NULL AS kept
FROM cassign c LEFT JOIN dropped d USING ({id_col})
"""
