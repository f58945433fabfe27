"""Bucketed-write co-location: joining two tables bucketed on the join
key must not shuffle either side — the repeated-join primitive at 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frames_map_reduce_spark.plans import count_exchanges
from frames_map_reduce_spark.sources import write_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    # a fresh session has an empty in-memory catalog, but the warehouse
    # DIRECTORY survives earlier runs and blocks saveAsTable
    import shutil
    for d in ("spark-warehouse/li_b", "spark-warehouse/ord_b"):
        shutil.rmtree(d, ignore_errors=True)
    write_bucketed(li.withColumnRenamed("l_orderkey", "okey"), "li_b", ["okey"], 8)
    write_bucketed(orders.withColumnRenamed("o_orderkey", "okey"), "ord_b", ["okey"], 8)
    yield spark.table("li_b"), spark.table("ord_b")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    li_b, ord_b = bucketed_tables
    # disable broadcast so the join strategy must be sort-merge — the
    # bucketing claim is about avoiding the SHUFFLE, not the join kind
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (li_b.join(ord_b, "okey")
                      .groupBy("o_orderstatus")
                      .agg(F.round(F.sum("l_quantity"), 2).alias("qty")))
        # one exchange for the final groupBy; ZERO for the join
        assert count_exchanges(joined) == 1
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_group_by_is_shuffle_free(spark, bucketed_tables):
    li_b, _ = bucketed_tables
    agg = li_b.groupBy("okey").agg(F.sum("l_quantity").alias("q"))
    assert count_exchanges(agg) == 0


def test_bucketed_write_one_file_per_bucket(spark, bucketed_tables):
    """r13 write-fix pin: a bucketed write must emit exactly one data
    file per bucket (the pre-fix layout fanned out one file per
    (task × bucket) — 2048 files for a 17 MB index table), because
    probe-side scans pay a footer read per file at every probe."""
    import glob
    files = glob.glob("spark-warehouse/li_b/part-*")
    assert len(files) == 8


def test_auto_bucket_counts(spark, sf_dir, documents):
    """r13 scale-adaptive layout pin: index builds size their bucket
    count from the data/spec instead of a constant 64 — 8 at test
    scale (the clamp floor), growing with the geometry/corpus."""
    from frames_map_reduce_spark.operators.bloom import (
        _bloom_auto_buckets, build_bloom_index, _bloom_num_buckets)
    from frames_map_reduce_spark.operators.dedup import (
        build_minhash_index, _index_num_buckets)
    from frames_map_reduce_spark.sources import clamp_buckets

    assert _bloom_auto_buckets(1 << 22) == 8          # default geometry
    assert _bloom_auto_buckets(1 << 34) == 256        # big filter splits
    assert clamp_buckets(10**18) == 32768             # file-count cap
    build_bloom_index(documents.limit(50), "autob_bloom_t", "text")
    assert _bloom_num_buckets(spark, "autob_bloom_t") == 8
    build_minhash_index(documents.limit(50), "autob_mh_t", "text",
                        "doc_id")
    assert _index_num_buckets(spark, "autob_mh_t") == 8
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_buckets"):
        build_bloom_index(documents.limit(5), "autob_bad_t", "text",
                          n_buckets=True)


def test_native_topk_matches_grouped_map(spark, lineitem):
    from frames_map_reduce_spark.operators.topk import top_k_per_group
    native = top_k_per_group(
        lineitem, ["l_returnflag"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        k=3, payload=["l_orderkey", "l_linenumber", "l_extendedprice"])
    import query_rigs as R
    import os
    gm = R.q_topk_per_group(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR",
                                                  "/root/testdata/sf0.001"))
    a = sorted(tuple(r) for r in native.collect())
    b = sorted(tuple(r) for r in gm.collect())
    assert a == b
