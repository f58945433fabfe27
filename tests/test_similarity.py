"""Similarity search tests: exact correctness of brute force, recall and
self-retrieval of the SRP-LSH path."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from frames_map_reduce_spark.functions.vectors import cosine, dot, norm
from frames_map_reduce_spark.operators import similarity as SIM
from tests.conftest import cache_is_empty


def test_vector_expressions(spark):
    df = spark.createDataFrame([([1.0, 2.0], [2.0, 3.0])],
                               "a array<double>, b array<double>")
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        norm(F.col("a")).alias("na"),
        cosine(F.col("a"), F.col("b")).alias("c")).first()
    assert row["d"] == pytest.approx(8.0)
    assert row["na"] == pytest.approx(math.sqrt(5))
    assert row["c"] == pytest.approx(8.0 / (math.sqrt(5) * math.sqrt(13)))


def test_cosine_zero_vector_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])],
                               "a array<double>, b array<double>")
    assert df.select(cosine(F.col("a"), F.col("b")).alias("c")).first()["c"] is None


def test_brute_force_topk_known_order(spark):
    corpus = spark.createDataFrame([
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0]),
    ], "vec_id long, embedding array<float>")
    queries = spark.createDataFrame([(100, [1.0, 0.0])],
                                    "query_id long, embedding array<float>")
    out = SIM.brute_force_topk(corpus, queries, k=3).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3]
    assert out[0]["cosine_sim"] == pytest.approx(1.0)


def test_brute_force_topk_joined_matches_driver_path(spark, embeddings):
    """The distributed block-join path must return EXACTLY the driver-
    collect path's results — same rounding, same tie-break, same
    zero-norm exclusion."""
    queries = (embeddings.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = embeddings.filter(F.col("vec_id") >= 10)
    a = {tuple(r) for r in
         SIM.brute_force_topk(corpus, queries, k=5).collect()}
    b = {tuple(r) for r in
         SIM.brute_force_topk_joined(corpus, queries, k=5,
                                     n_corpus_blocks=4,
                                     n_query_blocks=3).collect()}
    assert a == b and len(a) == 50


def test_brute_force_topk_beyond_cap(spark):
    """>MAX_DRIVER_QUERIES query rows: the driver path fails loudly and
    names the joined path; the joined path handles the same frame fully
    distributed and exactly."""
    import numpy as np
    n = SIM.MAX_DRIVER_QUERIES + 1
    corpus_rows = [(i, [float(i % 4), float((i * 3) % 5), 1.0])
                   for i in range(10)]
    corpus = spark.createDataFrame(corpus_rows,
                                   "vec_id long, embedding array<double>")
    queries = spark.range(n).select(
        F.col("id").alias("query_id"),
        F.array((F.col("id") % 7).cast("double"),
                (F.col("id") % 5).cast("double"),
                F.lit(1.0)).alias("embedding"))
    with pytest.raises(ValueError, match="brute_force_topk_joined"):
        SIM.brute_force_topk(corpus, queries, k=3)
    out = SIM.brute_force_topk_joined(corpus, queries, k=3)
    assert out.count() == 3 * n
    # value spot-check one query against numpy ground truth
    qid = 12_345
    got = sorted(((r["vec_id"], r["cosine_sim"], r["rank"])
                  for r in out.filter(F.col("query_id") == qid).collect()),
                 key=lambda t: t[2])
    q = np.array([qid % 7, qid % 5, 1.0], dtype=np.float64)
    x = np.array([v for _, v in corpus_rows], dtype=np.float64)
    sims = SIM._round_half_up(
        x @ q / (np.linalg.norm(x, axis=1) * np.linalg.norm(q)), 6)
    want_ids = np.lexsort((np.arange(10), -sims))[:3]
    assert [g[0] for g in got] == list(want_ids)
    for g, wid in zip(got, want_ids):
        assert g[1] == pytest.approx(sims[wid], abs=1e-9)


def test_srp_self_retrieval(spark, embeddings):
    """A query present in the corpus must find itself at rank 1 (its own
    bucket always matches)."""
    queries = (embeddings.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = SIM.ann_topk_srp(embeddings, queries, k=3, dim=64, n_planes=8)
    top1 = {r["query_id"]: r["vec_id"] for r in out.collect() if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}


def test_srp_recall_vs_bruteforce(spark, embeddings):
    queries = (embeddings.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = embeddings.filter(F.col("vec_id") >= 10)
    exact = SIM.brute_force_topk(corpus, queries, k=5).collect()
    # uniformly random embeddings are LSH's worst case; measured recall@5
    # on this corpus: 0.70/0.58/0.44/0.24 at 3/4/5/6 planes
    approx = SIM.ann_topk_srp(corpus, queries, k=5, dim=64, n_planes=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[q] & approx_sets.get(q, set())) / 5 for q in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.3  # sanity floor for 8-plane multiprobe


def test_embedding_near_dup_finds_exact_duplicate(spark):
    rows = [(1, [1.0, 2.0, 3.0], 0), (2, [1.0, 2.0, 3.0], 0),
            (3, [-3.0, 1.0, 0.5], 0), (4, [2.0, 4.0, 6.0], 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = SIM.embedding_near_dup_pairs(df, threshold=0.999, dim=3, n_planes=4)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_ivf_self_retrieval_and_recall(spark, embeddings):
    """IVF: a query in the corpus finds itself (its own list is always
    probed); recall vs brute force beats a random subset of the same
    size (nprobe/n_centroids of the corpus)."""
    queries = (embeddings.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = embeddings
    out = SIM.ivf_topk(corpus, queries, k=5, n_centroids=16, nprobe=4)
    top1 = {r["query_id"]: r["vec_id"] for r in out.collect() if r["rank"] == 1}
    assert top1 == {q: q for q in range(10)}

    exact = SIM.brute_force_topk(
        embeddings.filter(F.col("vec_id") >= 10), queries, k=5).collect()
    es = {}
    for r in exact:
        es.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = SIM.ivf_topk(embeddings.filter(F.col("vec_id") >= 10), queries,
                          k=5, n_centroids=16, nprobe=4).collect()
    asets = {}
    for r in approx:
        asets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recall = sum(len(es[q] & asets.get(q, set())) / 5 for q in es) / len(es)
    assert recall >= 0.4  # nprobe/n_centroids = 25% of corpus scored


def test_ivf_reusable_centroids(spark, embeddings):
    queries = (embeddings.limit(2)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    cents = SIM.train_ivf_centroids(embeddings, "embedding", n_centroids=8)
    a = SIM.ivf_topk(embeddings, queries, k=3, centroids=cents, nprobe=2).collect()
    b = SIM.ivf_topk(embeddings, queries, k=3, centroids=cents, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_recall_at_k_helper(spark):
    exact = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 7), (1, 8)], "query_id long, vec_id long")
    approx = spark.createDataFrame(
        [(0, 1), (0, 9), (0, 3), (1, 5), (1, 6)], "query_id long, vec_id long")
    got = {r["query_id"]: r for r in SIM.recall_at_k(approx, exact).collect()}
    assert got[0]["n_exact"] == 3 and got[0]["n_hits"] == 2
    assert abs(got[0]["recall"] - round(2 / 3, 6)) < 1e-9
    assert got[1]["n_hits"] == 0 and got[1]["recall"] == 0.0


def test_srp_or_amplification_improves_recall(spark, embeddings):
    """Multi-table OR-amplification must not lose recall vs one table
    (superset of candidates) — and the driver-query config (5 planes,
    8 tables) must clear the documented floor on this corpus."""
    queries = (embeddings.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = embeddings.filter(F.col("vec_id") >= 10)
    exact = SIM.brute_force_topk(corpus, queries, k=5)

    def mean_recall(n_tables, n_planes=5):
        approx = SIM.ann_topk_srp(corpus, queries, k=5, dim=64,
                                  n_planes=n_planes, n_tables=n_tables)
        rows = SIM.recall_at_k(approx, exact).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    r1, r8 = mean_recall(1), mean_recall(8)
    assert r8 >= r1
    # the showcase config (5 planes × 8 tables + multiprobe) measured
    # mean recall@5 ≈ 0.96 at sf0.01 on near-uniform synthetic embeddings
    # (LSH worst case); the floor leaves margin for data tweaks while
    # still failing loudly on a recall regression
    assert r8 >= 0.6, (r1, r8)


def test_ivf_persisted_index_probe(spark, embeddings):
    """Train-once/query-many IVF: build_ivf_index persists the assigned
    corpus bucketed by _centroid; ivf_topk_indexed must (a) return the
    same result as the in-memory path with the same centroids, (b) probe
    with a 0-exchange corpus side (scan→filter→score, broadcast probe),
    (c) prune unprobed buckets at scan time."""
    from frames_map_reduce_spark.plans import count_exchanges, explain_formatted

    queries = (embeddings.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = embeddings.filter(F.col("vec_id") >= 3)

    table = "ivf_index_test"
    cents = SIM.build_ivf_index(corpus, table, n_centroids=8)
    try:
        indexed = SIM.ivf_topk_indexed(spark, table, queries, cents,
                                       k=5, nprobe=2)
        direct = SIM.ivf_topk(corpus, queries, k=5, nprobe=2, centroids=cents)
        assert sorted(map(tuple, indexed.collect())) == \
            sorted(map(tuple, direct.collect()))

        # plan shape: the scored-join stage (before the top-k merge) must
        # be exchange-free on the corpus side — scan + broadcast join only —
        # with the probe-set IN filter pushed into the parquet scan
        cb = spark.table(table)
        qb, probed = SIM._ivf_probe_frame(spark, queries, cents, 2,
                                          "query_id", "embedding")
        scored = (cb.filter(F.col("_centroid").isin(probed))
                    .join(F.broadcast(qb), on="_centroid"))
        plan = explain_formatted(scored)
        assert count_exchanges(scored) == 0
        assert "In(_centroid" in plan
        # under a bucketed scan the same filter prunes whole buckets
        # (the planner may elect a plain scan when nothing needs
        # co-location — pushed filters cover that case above)
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        try:
            pruned = (spark.table(table)
                           .filter(F.col("_centroid").isin(probed))
                           .join(F.broadcast(qb), on="_centroid"))
            plan2 = explain_formatted(pruned)
            assert count_exchanges(pruned) == 0
            m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan2)
            assert m and int(m.group(1)) < int(m.group(2)), plan2
        finally:
            spark.conf.unset(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivf_centroid_replay_is_bit_identical(spark, embeddings, sf_dir):
    """The IVF oracle contract: replay_ivf_centroids (pyarrow, no Spark)
    must reproduce train_ivf_centroids bit-for-bit — training is a pure
    function of (sample SET, seed) because _kmeans_fit lexsorts before
    the seeded init.  This is what licenses embedding the centroids as
    literals in ivf_ann_oracle_sql."""
    import numpy as np

    corpus = embeddings.filter(F.col("vec_id") >= 5)
    trained = SIM.train_ivf_centroids(corpus, "embedding", 16)
    replayed = SIM.replay_ivf_centroids(
        f"{sf_dir}/embeddings.parquet", min_id=5, n_centroids=16)
    assert trained.shape == replayed.shape == (16, 64)
    assert np.array_equal(trained, replayed)


def test_ivf_centroid_replay_rejects_oversized_corpus(tmp_path):
    """A corpus larger than sample_limit makes the Spark-side sample
    nondeterministic — the replay must refuse, not silently mis-prove."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    t = pa.table({
        "vec_id": pa.array(range(20), type=pa.int64()),
        "embedding": pa.array([[float(i), 1.0] for i in range(20)],
                              type=pa.list_(pa.float32())),
    })
    path = str(tmp_path / "emb.parquet")
    pq.write_table(t, path)
    with _pytest.raises(ValueError, match="sample_limit"):
        SIM.replay_ivf_centroids(path, min_id=0, n_centroids=4,
                                 sample_limit=10)


def test_label_outliers_known_answer_and_plan(spark):
    """Mislabel audit: a vector sitting in cluster B but labeled A must
    rank first by distance to A's centroid; ties break by id.  Plan
    pins: the centroid join is broadcast (never a shuffle keyed on
    (label, dim)) and the global top-k lowers to TakeOrderedAndProject
    (no single-task sort)."""
    from frames_map_reduce_spark.operators.similarity import label_outliers
    from frames_map_reduce_spark.plans import executed_plan, explain_formatted

    rows = [
        (0, [0.0, 0.0], "a"),
        (1, [0.1, 0.0], "a"),
        (2, [0.0, 0.1], "a"),
        (3, [5.0, 5.0], "a"),   # labeled a, lives with the b cluster
        (4, [5.0, 5.0], "b"),
        (5, [5.1, 5.0], "b"),
        (6, [5.0, 5.1], "b"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    out = label_outliers(df, "embedding", "vec_id", "label", k=3).collect()
    assert out[0]["vec_id"] == 3 and out[0]["label"] == "a"
    # the outlier drags its own centroid, so inliers move too — but it
    # stays far clear of every other point's distance
    assert out[0]["dist_q"] > 5 * max(r["dist_q"] for r in out[1:])
    # determinism: bit-identical across partitionings (integer-only aggs)
    again = label_outliers(df.repartition(7), "embedding", "vec_id",
                           "label", k=3).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]

    plan_df = label_outliers(df, "embedding", "vec_id", "label", k=3)
    assert "BroadcastHashJoin" in explain_formatted(plan_df)
    plan_df.collect()
    assert "TakeOrderedAndProject" in executed_plan(plan_df)


def test_knn_label_vote_mislabel_detection(spark):
    """A point planted inside cluster B but labeled A must be OUTVOTED
    (knn_label = b, n_same = 0) while a genuine A inlier is confirmed;
    self-matches are excluded and the bounded-query contract raises."""
    import pytest as _pytest

    from frames_map_reduce_spark.operators.similarity import knn_label_vote

    rows = [(i, [0.0 + i * 0.01, 0.0], "a") for i in range(6)] + \
           [(10 + i, [5.0 + i * 0.01, 5.0], "b") for i in range(6)] + \
           [(99, [5.03, 5.001], "a")]   # planted mislabel inside b
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    queries = df.filter(F.col("vec_id").isin(99, 0))
    out = {r["vec_id"]: r for r in knn_label_vote(
        df, queries, "embedding", "vec_id", "label", k=5).collect()}
    assert out[99]["knn_label"] == "b" and out[99]["n_same"] == 0
    assert out[0]["knn_label"] == "a" and out[0]["n_same"] == 5

    with _pytest.raises(ValueError, match="bounded"):
        knn_label_vote(df, df, "embedding", "vec_id", "label",
                       max_queries=3)


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup: cluster → within-cluster drop)
# ---------------------------------------------------------------------------

def _semdedup_fixture(spark):
    import numpy as np
    vecs = [(0, [1.0, 0.0]), (1, [1.0, 0.0]),      # exact dup pair → c0
            (2, [0.6, 0.8]),                        # c1, near-orthogonal mate
            (3, [0.0, 1.0]), (4, [0.0, 1.0])]      # exact dup pair → c1
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    return df, cents


def test_semantic_dedup_keeps_lowest_id_per_dup_group(spark):
    from frames_map_reduce_spark.operators.similarity import semantic_dedup
    df, cents = _semdedup_fixture(spark)
    out = {r["vec_id"]: (r["cluster"], r["kept"])
           for r in semantic_dedup(df, threshold=0.95,
                                   centroids=cents).collect()}
    # one verdict row per input vector
    assert set(out) == {0, 1, 2, 3, 4}
    # dup partners above threshold: (0,1) in c0 and (3,4) in c1 — the
    # higher id drops; v2's best cluster-mate cosine is 0.8 < 0.95
    assert out == {0: (0, True), 1: (0, False), 2: (1, True),
                   3: (1, True), 4: (1, False)}


def test_semantic_dedup_deterministic_over_reruns(spark, embeddings):
    from frames_map_reduce_spark.operators.similarity import semantic_dedup
    a = sorted(map(tuple, semantic_dedup(
        embeddings, threshold=0.35, n_centroids=8).collect()))
    b = sorted(map(tuple, semantic_dedup(
        embeddings, threshold=0.35, n_centroids=8).collect()))
    assert a == b and len(a) == embeddings.count()


def test_semantic_dedup_max_cluster_guard_raises(spark):
    import numpy as np
    from frames_map_reduce_spark.operators.similarity import semantic_dedup
    rows = [(i, [1.0, float(i) * 1e-3]) for i in range(10)]  # all → c0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    with pytest.raises(ValueError, match="max_cluster"):
        semantic_dedup(df, threshold=0.99, centroids=cents, max_cluster=5)


def test_knn_label_vote_oversized_queries_released(spark):
    """The bound-violation error path must not leave the oversized query
    frame parked in the session cache manager."""
    from frames_map_reduce_spark.operators.similarity import knn_label_vote
    spark.catalog.clearCache()
    rows = [(i, i % 2, [float(i), 0.0]) for i in range(30)]
    df = spark.createDataFrame(rows,
                               "vec_id long, label int, embedding array<double>")
    with pytest.raises(ValueError, match="bounded"):
        knn_label_vote(df, df, "embedding", "vec_id", "label",
                       k=3, max_queries=10)
    assert cache_is_empty(spark)


# ---------------------------------------------------------------------------
# n_centroids="auto" + hierarchical training (r6 verdict #4)
# ---------------------------------------------------------------------------


def test_auto_n_centroids_formula():
    from frames_map_reduce_spark.operators.similarity import auto_n_centroids
    assert auto_n_centroids(0) == 8                    # lo clamp
    assert auto_n_centroids(500) == 8                  # 500/1024 → 1 → clamp
    assert auto_n_centroids(1_000_000) == 1024         # 977 → pow2 up
    assert auto_n_centroids(130_000_000, 1300) == 131072  # the LAION point
    assert auto_n_centroids(10**12) == 1 << 17         # hi clamp
    with pytest.raises(ValueError):
        auto_n_centroids(-1)
    with pytest.raises(ValueError):
        auto_n_centroids(10, 0)


def test_semantic_dedup_auto_matches_explicit_dial(spark, embeddings):
    """"auto" must resolve to auto_n_centroids(count) and produce the
    exact verdicts of the explicit dial — the turnkey 100× contract."""
    from frames_map_reduce_spark.operators.similarity import (
        auto_n_centroids, semantic_dedup)
    k = auto_n_centroids(embeddings.count())
    a = sorted(map(tuple, semantic_dedup(
        embeddings, threshold=0.35, n_centroids="auto").collect()))
    b = sorted(map(tuple, semantic_dedup(
        embeddings, threshold=0.35, n_centroids=k).collect()))
    assert a == b and len(a) == embeddings.count()
    with pytest.raises(ValueError, match="auto"):
        semantic_dedup(embeddings, n_centroids="autoo")


def test_hierarchical_centroids_deterministic_and_usable(spark, embeddings):
    """Two-level training: deterministic across reruns, ≤ k centroids of
    the right dimension, and drop-in usable via centroids=."""
    import numpy as np
    from frames_map_reduce_spark.operators.similarity import (
        semantic_dedup, train_centroids_hierarchical)
    c1 = train_centroids_hierarchical(embeddings, "embedding", 16)
    c2 = train_centroids_hierarchical(embeddings, "embedding", 16)
    assert c1.shape == c2.shape and c1.shape[0] <= 16
    assert c1.shape[1] == len(embeddings.first()["embedding"])
    assert np.array_equal(c1, c2)
    out = semantic_dedup(embeddings, threshold=0.35, centroids=c1)
    assert out.count() == embeddings.count()
    # deterministic hash sampling: same matrix for the same rate
    s1 = train_centroids_hierarchical(embeddings, "embedding", 16,
                                      sample_rate=0.8)
    s2 = train_centroids_hierarchical(embeddings, "embedding", 16,
                                      sample_rate=0.8)
    assert np.array_equal(s1, s2)
    with pytest.raises(ValueError, match="sample_rate"):
        train_centroids_hierarchical(embeddings, "embedding", 16,
                                     sample_rate=1.5)


# ---------------------------------------------------------------------------
# IVF index maintenance arc (r11 verdict #7): extend + drift trigger
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("n_buckets", [None, 8],
                         ids=["default_buckets", "8_buckets"])
def test_extend_ivf_index_equals_rebuild(spark, embeddings, n_buckets):
    """The lifecycle law: build(A) + extend(B) must probe IDENTICALLY to
    a from-scratch rebuild of A∪B at the SAME frozen centroids — the
    quantizer is frozen, so each row's cell is arrival-order-blind, and
    the bucketed append preserves the probe's physical shape.  The
    extend appends under the bucket count the build recorded, also when
    that is not the centroid count."""
    queries = (embeddings.filter(F.col("vec_id") < 5)
                         .select(F.col("vec_id").alias("query_id"),
                                 "embedding"))
    corpus = embeddings.filter(F.col("vec_id") >= 5)
    a = corpus.filter(F.col("vec_id") % 4 != 3)
    b = corpus.filter(F.col("vec_id") % 4 == 3)

    cents = SIM.build_ivf_index(a, "t_ivf_ext", n_centroids=16,
                                n_buckets=n_buckets)
    SIM.extend_ivf_index(b, "t_ivf_ext", cents)
    # the extended table holds exactly the union, assigned
    assert spark.table("t_ivf_ext").count() == corpus.count()
    got = sorted(tuple(r) for r in SIM.ivf_topk_indexed(
        spark, "t_ivf_ext", queries, cents, k=5, nprobe=4).collect())

    assigned = SIM.ivf_assign(corpus.select("vec_id", "embedding"),
                              "embedding", cents)
    from frames_map_reduce_spark.sources import write_bucketed
    write_bucketed(assigned, "t_ivf_rebuild", ["_centroid"],
                   n_buckets or 16)
    want = sorted(tuple(r) for r in SIM.ivf_topk_indexed(
        spark, "t_ivf_rebuild", queries, cents, k=5, nprobe=4).collect())
    assert got == want and len(got) > 0


def test_ivf_drift_stats_laws(spark, embeddings):
    """Self-trained quantizer over its own training corpus: small
    displacements, shares summing to ~1000 milli, no retrain verdicts
    at loose thresholds; the SAME corpus shifted by a constant vector
    (planted drift) drives every cell's displacement past the
    threshold — the retrain trigger fires."""
    corpus = embeddings.filter(F.col("vec_id") >= 5) \
                       .select("vec_id", "embedding")
    cents = SIM.train_ivf_centroids(corpus, "embedding", 16)
    assigned = SIM.ivf_assign(corpus, "embedding", cents)
    stats = SIM.ivf_drift_stats(assigned, cents,
                                max_share_milli=990,
                                max_displacement_micro=2_000_000).collect()
    assert sum(r["n_rows"] for r in stats) == corpus.count()
    total_share = sum(r["share_milli"] for r in stats)
    assert 1000 - len(stats) <= total_share <= 1000  # floor-div loss < 1/cell
    assert all(not r["needs_retrain"] for r in stats)
    assert all(r["displacement_micro"] < 2_000_000 for r in stats)

    # planted drift: shift every vector by +3 in every dimension — each
    # cell's current mean walks ~3·sqrt(dim) away from its frozen
    # centroid (in micro: ~3e6·8 = 24e6), far past any healthy value
    shifted = corpus.withColumn(
        "embedding",
        F.expr("transform(embedding, x -> x + CAST(3.0 AS DOUBLE))"))
    # keep the ORIGINAL assignment (the frozen index's lists); only the
    # data moved — the maintenance scenario
    drifted = SIM.ivf_assign(shifted, "embedding", cents)
    dstats = SIM.ivf_drift_stats(drifted, cents,
                                 max_share_milli=990,
                                 max_displacement_micro=2_000_000).collect()
    assert all(r["needs_retrain"] for r in dstats)
    assert all(r["displacement_micro"] > 2_000_000 for r in dstats)


def test_ivf_drift_stats_matches_duckdb_twin(spark, embeddings, sf_dir):
    """Value parity of the drift stats against the SQL twin at the unit
    level (the registry row proves it at the fixture scale): same
    centroids via replay, same staging, bit-equal rows."""
    import os

    import duckdb

    path = os.path.join(sf_dir, "embeddings.parquet")
    cents = SIM.replay_ivf_centroids(path, min_id=5, n_centroids=16)
    corpus = embeddings.filter(F.col("vec_id") >= 5) \
                       .select("vec_id", "embedding")
    assigned = SIM.ivf_assign(corpus, "embedding", cents)
    got = sorted(tuple(r) for r in
                 SIM.ivf_drift_stats(assigned, cents).collect())
    con = duckdb.connect()
    src = f"{path}/*.parquet" if os.path.isdir(path) else path
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{src}'")
    sql = SIM.ivf_drift_stats_sql(
        "SELECT embedding FROM embeddings WHERE vec_id >= 5",
        "embedding", cents)
    want = sorted(tuple(r) for r in con.sql(sql).fetchall())
    assert got == want and len(got) > 1
