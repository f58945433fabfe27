"""Int8 quantization + integer-exact MIPS retrieval (operators/quantized).

The design claim under test: power-of-two quantization is bit-exact in
every engine, and everything after it is bounded-integer arithmetic —
so Spark, DuckDB, and a plain-Python spec replay must agree EXACTLY, no
rounding grid, no ulp tolerance.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frames_map_reduce_spark.operators import quantized as QZ

from tests.conftest import rows_sorted


def _spec_quantize(x, frac_bits: int = 8, clamp_bits: int = 8):
    """The module-header spec, in plain Python."""
    if x is None or np.isnan(x):
        return None
    lo = -(1 << (clamp_bits - 1))
    hi = -lo - 1
    return max(lo, min(hi, int(np.floor(float(x) * (1 << frac_bits)))))


VECS = [
    (0, [0.0, 0.25, -0.25, 0.4999999]),
    (1, [0.5, -0.5, 1.7, -3.0]),          # saturation both ends
    (2, [1.0 / 256, -1.0 / 256, 2.0 / 256, -0.75]),  # exact grid points
    (3, [0.123456, -0.498, 0.001, 0.3]),
    (4, [float("nan"), 0.1, 0.2, 0.3]),   # NaN poisons the dot
    # NULL coordinate: must quantize to NULL, not saturate — both
    # engines' greatest/least SKIP nulls, the measured sharp edge
    (5, [None, 0.1, -0.1, 0.2]),
]


@pytest.fixture(scope="module")
def vec_df(spark):
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    return spark.createDataFrame(
        [(i, [None if v is None else float(np.float32(v)) for v in vs])
         for i, vs in VECS], schema)


def test_quantize_matches_spec_including_saturation_and_nan(vec_df):
    got = {r["vec_id"]: r["q"] for r in
           vec_df.select("vec_id",
                         QZ.quantize_expr("embedding").alias("q")).collect()}
    for i, vs in VECS:
        expect = [_spec_quantize(None if v is None else float(np.float32(v)))
                  for v in vs]
        assert got[i] == expect, (i, got[i], expect)


def test_quantize_storage_type_is_smallest_fit(vec_df):
    """The 4x bandwidth claim rides the element type: int8 clamp must
    produce array<tinyint> (1 B/coord in rows and shuffles), 16-bit
    clamp array<smallint>."""
    t8 = vec_df.select(QZ.quantize_expr("embedding").alias("q")).schema
    assert t8["q"].dataType.simpleString() == "array<tinyint>"
    t16 = vec_df.select(
        QZ.quantize_expr("embedding", frac_bits=12,
                         clamp_bits=16).alias("q")).schema
    assert t16["q"].dataType.simpleString() == "array<smallint>"


def test_quantize_sql_twin_bit_identical(vec_df):
    spark_q = {r["vec_id"]: r["q"] for r in
               vec_df.select("vec_id",
                             QZ.quantize_expr("embedding").alias("q"))
                     .collect()}
    con = duckdb.connect()
    rows = [(i, [None if v is None else float(np.float32(v))
                  for v in vs]) for i, vs in VECS]
    con.execute("CREATE TABLE t (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck_q = dict(con.execute(
        f"SELECT vec_id, {QZ.quantize_sql('embedding')} FROM t").fetchall())
    assert spark_q == duck_q


def test_quantized_dot_exact_vs_numpy(vec_df):
    qdf = vec_df.select("vec_id", QZ.quantize_expr("embedding").alias("q"))
    a = qdf.alias("a")
    b = qdf.alias("b")
    got = {(r["ia"], r["ib"]): r["d"] for r in
           a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("ia"),
                    F.col("b.vec_id").alias("ib"),
                    QZ.quantized_dot(F.col("a.q"), F.col("b.q")).alias("d"))
            .collect()}
    spec = {i: [_spec_quantize(None if v is None else
                                float(np.float32(v))) for v in vs]
            for i, vs in VECS}
    for (ia, ib), d in got.items():
        qa, qb = spec[ia], spec[ib]
        if any(v is None for v in qa + qb):
            assert d is None, (ia, ib, d)
        else:
            assert d == int(np.dot(np.array(qa, dtype=np.int64),
                                   np.array(qb, dtype=np.int64))), (ia, ib)


def test_quantized_dot_empty_and_mismatched_lengths(spark):
    schema = T.StructType([
        T.StructField("a", T.ArrayType(T.IntegerType())),
        T.StructField("b", T.ArrayType(T.IntegerType())),
    ])
    df = spark.createDataFrame(
        [([], []), ([1, 2], [3]), (None, [1])], schema)
    got = [r["d"] for r in
           df.select(QZ.quantized_dot("a", "b").alias("d")).collect()]
    # empty pair → 0 (aggregate's initial value); length mismatch and
    # NULL vector → NULL — the contract the SQL twin pins with guards
    assert got == [0, None, None]


def test_quantized_topk_matches_duckdb_twin(spark, embeddings, sf_dir):
    queries = (embeddings.filter(F.col("vec_id") < 5)
                         .select(F.col("vec_id").alias("query_id"),
                                 "embedding"))
    corpus = embeddings.filter(F.col("vec_id") >= 5)
    got = rows_sorted(
        QZ.quantized_topk(corpus, queries, k=5), "query_id", "rank")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
    sql = QZ.quantized_topk_sql(
        "embeddings", "vec_id", "embedding",
        query_pred="vec_id < 5", corpus_pred="vec_id >= 5", k=5)
    exp = sorted([tuple(r) for r in con.execute(sql).fetchall()],
                 key=lambda t: (t[0], t[3]))
    assert [t for t in got] == exp


def test_quantized_topk_recall_vs_float_dot(spark, embeddings):
    """Int8 MIPS should nearly reproduce float-dot top-5 on real
    embeddings — a calibration sanity check (deterministic data, so the
    measured recall is pinned, not flaky)."""
    import pandas as pd  # noqa: F401

    pdf = embeddings.orderBy("vec_id").toPandas()
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    qm, qi = mat[ids < 5], ids[ids < 5]
    cm, ci = mat[ids >= 5], ids[ids >= 5]
    sims = qm @ cm.T
    float_top = {qi[j]: set(ci[np.lexsort((ci, -sims[j]))[:5]])
                 for j in range(len(qi))}

    queries = (embeddings.filter(F.col("vec_id") < 5)
                         .select(F.col("vec_id").alias("query_id"),
                                 "embedding"))
    corpus = embeddings.filter(F.col("vec_id") >= 5)
    got = QZ.quantized_topk(corpus, queries, k=5).collect()
    int8_top: dict = {}
    for r in got:
        int8_top.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(int8_top[q] & float_top[q]) for q in float_top)
    recall = hits / (5 * len(float_top))
    assert recall >= 0.8, recall


def test_quantized_topk_query_cap_raises(spark, embeddings):
    queries = embeddings.select(F.col("vec_id").alias("query_id"),
                                "embedding")
    with pytest.raises(ValueError, match="broadcasts the query set"):
        QZ.quantized_topk(embeddings, queries, k=3, max_queries=10)


def test_quantized_topk_plan_is_codegen_broadcast(spark, embeddings):
    """The scoring stage must be JVM codegen over a broadcast join —
    the only Python in the plan is the partial-top-k stage."""
    queries = (embeddings.filter(F.col("vec_id") < 5)
                         .select(F.col("vec_id").alias("query_id"),
                                 "embedding"))
    corpus = embeddings.filter(F.col("vec_id") >= 5)
    plan = (QZ.quantized_topk(corpus, queries, k=5)
              ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("MapInPandas") == 1  # partial_topk only
    assert "BatchEvalPython" not in plan   # no row-at-a-time UDF


# ---------------------------------------------------------------------------
# IVF-PQ (r13): product-quantized residuals over the frozen coarse
# quantizer — integer codebooks, BIGINT ADC scoring, extend ≡ rebuild.
# ---------------------------------------------------------------------------

class TestIvfPq:
    def _split(self, embeddings):
        queries = (embeddings.filter(F.col("vec_id") < 5)
                             .select(F.col("vec_id").alias("query_id"),
                                     "embedding"))
        corpus = embeddings.filter(F.col("vec_id") >= 5)
        return queries, corpus

    def test_validation(self, spark, embeddings):
        from frames_map_reduce_spark.operators.similarity import (
            train_ivf_centroids)
        cents = train_ivf_centroids(embeddings, "embedding", 4)
        with pytest.raises(ValueError, match="divide"):
            QZ.train_pq_codebooks(embeddings, cents, m_sub=7)
        with pytest.raises(ValueError, match="k_codes"):
            QZ.train_pq_codebooks(embeddings, cents, k_codes=1)
        books = QZ.train_pq_codebooks(embeddings, cents, m_sub=8,
                                      k_codes=4)
        with pytest.raises(ValueError, match="nprobe"):
            QZ.ivf_pq_topk(spark, "t_any", embeddings.limit(1)
                           .select(F.col("vec_id").alias("query_id"),
                                   "embedding"),
                           cents, books, k=3, nprobe=0)

    def test_training_replay_bit_identical(self, spark, embeddings,
                                           sf_dir):
        """Codebook training is a pure function of the sample set +
        spec: the Spark-side train and the pyarrow replay produce the
        SAME int64 arrays (the replay_ivf_centroids law, lifted to
        integer PQ)."""
        import os

        from frames_map_reduce_spark.operators.similarity import (
            train_ivf_centroids)
        corpus = embeddings.filter(F.col("vec_id") >= 5)
        cents = train_ivf_centroids(corpus, "embedding", 8)
        books = QZ.train_pq_codebooks(corpus, cents, m_sub=8, k_codes=16)
        replay = QZ.replay_pq_codebooks(
            os.path.join(sf_dir, "embeddings.parquet"), cents,
            m_sub=8, k_codes=16, keep=lambda i: i >= 5)
        assert books.dtype == np.int64 and (books == replay).all()

    @pytest.mark.parametrize("n_buckets", [None, 4],
                             ids=["default_buckets", "4_buckets"])
    def test_extend_equals_rebuild_and_adc_law(self, spark, embeddings,
                                               n_buckets):
        """build(A); extend(B) probes identically to a rebuild over
        A ∪ B at the frozen spec, and each ADC score equals the manual
        reconstruction qq·cq + Σ qq_m·codebook[m][code] recomputed in
        numpy from the persisted codes.  The extend appends under the
        bucket count the build recorded, also when that is not the
        centroid count."""
        from frames_map_reduce_spark.sources import write_bucketed
        queries, corpus = self._split(embeddings)
        build = corpus.filter(F.col("vec_id") % 3 != 2)
        delta = corpus.filter(F.col("vec_id") % 3 == 2)
        cents, books = QZ.build_ivf_pq_index(
            build, "t_pq_ext", n_centroids=8, m_sub=8, k_codes=16,
            n_buckets=n_buckets)
        QZ.extend_ivf_pq_index(delta, "t_pq_ext", cents, books)
        out = QZ.ivf_pq_topk(spark, "t_pq_ext", queries, cents, books,
                             k=5, nprobe=3)
        got = sorted(map(tuple, out.collect()))
        write_bucketed(QZ.pq_encode(corpus, cents, books), "t_pq_reb",
                       ["_centroid"], n_buckets or 8)
        reb = QZ.ivf_pq_topk(spark, "t_pq_reb", queries, cents, books,
                             k=5, nprobe=3)
        assert got == sorted(map(tuple, reb.collect())) and got
        # ADC law on one scored row
        codes = {r["vec_id"]: (r["_centroid"], r["codes"])
                 for r in spark.table("t_pq_ext").collect()}
        qvecs = {r["query_id"]: np.asarray(r["embedding"], np.float64)
                 for r in queries.collect()}
        cq = np.floor(np.asarray(cents) * 256.0).astype(np.int64)
        for qid, vid, score, _rank, in [r[:4] for r in got[:5]]:
            qq = np.floor(qvecs[qid] * 256.0).astype(np.int64)
            cell, cs = codes[vid]
            want = int(qq @ cq[cell]) + sum(
                int(qq[m * 8:(m + 1) * 8] @ np.asarray(books[m][c]))
                for m, c in enumerate(cs))
            assert score == want

    def test_recall_floor_and_code_width(self, spark, embeddings):
        """Full-probe recall on the synthetic NEAR-UNIFORM corpus — 64
        codebook bits against 64 unclustered dims is PQ's worst case
        (residuals ARE the vectors; the 4-bit-per-subspace codebook
        reconstructs little), so the honest floor here is low: the
        test pins non-degeneracy (better than the ~k/N ≈ 0.01 random
        baseline), and test_recall_high_on_clustered_data pins the
        regime PQ exists for.  Also pins the memory shape: m_sub ints
        per persisted vector."""
        from frames_map_reduce_spark.operators.similarity import (
            recall_at_k)
        queries, corpus = self._split(embeddings)
        cents, books = QZ.build_ivf_pq_index(
            corpus, "t_pq_rec", n_centroids=8, m_sub=8, k_codes=16)
        approx = QZ.ivf_pq_topk(spark, "t_pq_rec", queries, cents,
                                books, k=5, nprobe=8)
        exact = QZ.quantized_topk(corpus, queries, k=5, frac_bits=8,
                                  clamp_bits=16)
        rec = recall_at_k(approx, exact)
        mean_rec = rec.agg(F.avg("recall")).head()[0]
        assert mean_rec >= 0.1, mean_rec
        row = spark.table("t_pq_rec").head()
        assert len(row["codes"]) == 8

    def test_clustered_data_ranks_right_cluster(self, spark):
        """On CLUSTERED vectors — the regime real embedding corpora
        live in — the ADC score resolves BETWEEN-cluster structure:
        every full-probe top-5 member belongs to the query's own
        cluster.  (WITHIN a tight cluster, members are near-ties at
        noise scale — finer than any m_sub·log2(k_codes)-bit code can
        rank, for PQ here as for FAISS; the exact re-rank of such a
        shortlist is what ``quantized_topk`` over the float column is
        for.)  10 gaussian clusters in 16 dims, queries perturbed
        cluster centers."""
        rng = np.random.default_rng(7)
        centers = rng.uniform(-1, 1, size=(10, 16))
        rows = []
        for i in range(300):
            c = centers[i % 10]
            rows.append((i + 100,
                         [float(v) for v in c + rng.normal(0, 0.02, 16)]))
        qrows = [(i, [float(v) for v in centers[i]
                      + rng.normal(0, 0.02, 16)]) for i in range(5)]
        schema = "vec_id long, embedding array<double>"
        corpus = spark.createDataFrame(rows, schema)
        queries = spark.createDataFrame(qrows, schema) \
            .withColumnRenamed("vec_id", "query_id")
        cents, books = QZ.build_ivf_pq_index(
            corpus, "t_pq_clus", n_centroids=8, m_sub=8, k_codes=16)
        approx = QZ.ivf_pq_topk(spark, "t_pq_clus", queries, cents,
                                books, k=5, nprobe=8)
        got = approx.collect()
        assert len(got) == 25
        for r in got:
            assert (r["vec_id"] - 100) % 10 == r["query_id"], r

    def test_probe_plan_no_python_no_cartesian(self, spark, embeddings):
        """The probe reads CODES, not vectors: zero Python stages on
        the corpus side (encode happened at build time), broadcast
        LUT join, no cartesian/NLJ."""
        queries, corpus = self._split(embeddings)
        cents, books = QZ.build_ivf_pq_index(
            corpus, "t_pq_plan", n_centroids=8, m_sub=8, k_codes=16)
        out = QZ.ivf_pq_topk(spark, "t_pq_plan", queries, cents, books,
                             k=5, nprobe=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1   # partial_topk only
        assert "BatchEvalPython" not in plan
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
