"""Lifetime of the intermediates operators materialize.

Every operator whose returned plan reads a materialized intermediate
local-checkpoints it: the checkpoint belongs to the returned frame, so
a later call never evicts an earlier result, nothing is parked in the
session's cache manager, and concurrent callers share no state."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from frames_map_reduce_spark.operators import dedup as DD
from frames_map_reduce_spark.operators.packing import pack_token_ids
from frames_map_reduce_spark.operators.similarity import (
    knn_label_vote,
    semantic_dedup,
)
from frames_map_reduce_spark.plans import executed_plan
from tests.conftest import cache_is_empty

_INDEX = "lifetime_probe_index"


@pytest.fixture(scope="module")
def probe_index(spark, documents):
    DD.build_minhash_index(documents.filter(F.col("doc_id") % 2 == 0),
                           _INDEX, "text", "doc_id")
    yield _INDEX
    for suffix in ("_buckets", "_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {_INDEX}{suffix}")


def _probe(spark, documents, residue: int):
    batch = documents.filter(F.col("doc_id") % 4 == residue)
    return DD.minhash_probe_index(spark, _INDEX, batch, "text", "doc_id",
                                  threshold=0.3)


def _token_rows(spark):
    rows = [(g, i, list(range(i % 7 + 1)))
            for g in ("a", "b") for i in range(200)]
    return spark.createDataFrame(
        rows, "g string, doc_id long, token_ids array<int>")


def _pack(spark):
    return pack_token_ids(_token_rows(spark), "token_ids", 16,
                          order_by=["doc_id"], by=["g"], n_buckets=8)


def _vectors(spark):
    rows = [(i, [float(i % 5), float(i // 5)], "ab"[i % 2])
            for i in range(40)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string")


_OPERATORS = {
    "minhash_probe_index": lambda spark, docs, emb: _probe(spark, docs, 1),
    "ngram_jaccard_pairs": lambda spark, docs, emb: DD.ngram_jaccard_pairs(
        docs.limit(200), "text", "doc_id", block_col=F.col("source"),
        threshold=0.5),
    "knn_label_vote": lambda spark, docs, emb: knn_label_vote(
        _vectors(spark), _vectors(spark).limit(10), "embedding", "vec_id",
        "label", k=3),
    "semantic_dedup": lambda spark, docs, emb: semantic_dedup(
        emb, threshold=0.35, n_centroids=8),
    "pack_token_ids": lambda spark, docs, emb: _pack(spark),
}


def test_probe_result_survives_a_later_probe(spark, documents, probe_index):
    """A second probe must not evict the first result's materialized
    signatures: consuming the first result afterwards reads them, never
    re-running the Python signing stage, and returns what a fresh probe
    of the same batch returns."""
    r1 = _probe(spark, documents, 1)
    _probe(spark, documents, 3).collect()
    plan = executed_plan(r1)
    assert "MapInPandas" not in plan and "MapInArrow" not in plan, plan
    got = sorted(map(tuple, r1.collect()))
    assert got == sorted(map(tuple, _probe(spark, documents, 1).collect()))
    assert got


@pytest.mark.parametrize("op", sorted(_OPERATORS))
def test_operator_leaves_no_cached_frame(spark, documents, embeddings,
                                         probe_index, op):
    """Nothing the operator materializes outlives its result in the
    session cache manager (other tests' frames are cleared first)."""
    spark.catalog.clearCache()
    _OPERATORS[op](spark, documents, embeddings).collect()
    assert cache_is_empty(spark)


def test_concurrent_pack_and_probe_match_serial(spark, documents,
                                                probe_index):
    """Two threads of one Spark session running different operators
    share no module state: each result equals its serial result."""
    def pack():
        return sorted((r["g"], r["seq_id"], tuple(r["token_ids"]))
                      for r in _pack(spark).collect())

    def probe():
        return sorted(map(tuple, _probe(spark, documents, 1).collect()))

    want = (pack(), probe())
    with ThreadPoolExecutor(max_workers=2) as pool:
        for _ in range(2):
            fp, fq = pool.submit(pack), pool.submit(probe)
            assert (fp.result(timeout=600), fq.result(timeout=600)) == want
