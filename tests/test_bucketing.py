"""Bucketed-write co-location: joining two tables bucketed on the join
key must not shuffle either side — the repeated-join primitive at 100 TB."""

from __future__ import annotations

from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from frames_map_reduce_spark.plans import count_exchanges
from frames_map_reduce_spark.operators import bloom as BL
from frames_map_reduce_spark.operators import dedup as DD
from frames_map_reduce_spark.operators import multimodal as MM
from frames_map_reduce_spark.operators import quantized as QZ
from frames_map_reduce_spark.operators import retrieval as RET
from frames_map_reduce_spark.operators import similarity as SIM
from frames_map_reduce_spark.sources import (
    table_num_buckets,
    table_spec,
    write_bucketed,
)


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # a fresh session has an empty in-memory catalog, but the warehouse
    # DIRECTORIES of earlier runs survive: write_bucketed clears them
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
        _bloom_auto_buckets, build_bloom_index)
    from frames_map_reduce_spark.operators.dedup import build_minhash_index
    from frames_map_reduce_spark.sources import clamp_buckets

    assert _bloom_auto_buckets(1 << 22) == 8          # default geometry
    assert _bloom_auto_buckets(1 << 34) == 256        # big filter splits
    assert clamp_buckets(10**18) == 32768             # file-count cap
    build_bloom_index(documents.limit(50), "autob_bloom_t", "text")
    assert table_num_buckets(spark, "autob_bloom_t_words") == 8
    build_minhash_index(documents.limit(50), "autob_mh_t", "text",
                        "doc_id")
    assert table_num_buckets(spark, "autob_mh_t_buckets") == 8
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_buckets"):
        build_bloom_index(documents.limit(5), "autob_bad_t", "text",
                          n_buckets=True)


def _extend_bloom(delta, table):
    from frames_map_reduce_spark.operators.bloom import extend_bloom_index
    extend_bloom_index(delta, table, "text")


def _extend_minhash(delta, table):
    from frames_map_reduce_spark.operators.dedup import extend_minhash_index
    extend_minhash_index(delta, table, "text", "doc_id")


def _extend_contamination(delta, table):
    from frames_map_reduce_spark.operators.retrieval import (
        extend_contamination_index,
    )
    extend_contamination_index(delta, table, "text")


def _extend_media(delta, table):
    from frames_map_reduce_spark.operators.multimodal import (
        extend_media_contamination_index,
    )
    extend_media_contamination_index(delta, table, "doc_id", "payload")


@pytest.mark.parametrize("suffix,extend", [
    ("_words", _extend_bloom),
    ("_buckets", _extend_minhash),
    ("_grams", _extend_contamination),
    ("_bands", _extend_media),
], ids=["bloom", "minhash", "contamination", "media_contamination"])
def test_extend_refuses_unbucketed_index(spark, suffix, extend):
    """Every persisted-index family reads the bucket spec it appends
    under from the catalog, and an index table with none recorded
    raises instead of appending under a guessed bucket count."""
    table = "unbucketed_idx_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
    spark.range(4).write.saveAsTable(f"{table}{suffix}")
    delta = spark.createDataFrame(
        [(1, "some text", b"\x00")],
        "doc_id long, text string, payload binary")
    try:
        with pytest.raises(ValueError, match="Num Buckets"):
            extend(delta, table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


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


@contextmanager
def _no_jobs(spark, group):
    """Run the body in job group ``group`` and assert it launched no
    Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_table_num_buckets_runs_no_job(spark, bucketed_tables):
    """The catalog spec read is a driver-side look at one DESCRIBE
    result: reading it launches no Spark job."""
    with _no_jobs(spark, "fmr-spec-read-test"):
        assert table_num_buckets(spark, "li_b") == 8


def _build_contamination(df, table):
    from frames_map_reduce_spark.operators.retrieval import (
        build_contamination_index,
    )
    build_contamination_index(df, table, "text", n=3)


def _probe_contamination(spark, table, queries):
    from frames_map_reduce_spark.operators.retrieval import (
        probe_contamination_index,
    )
    return probe_contamination_index(spark, table, queries, "text",
                                     "doc_id", n=3)


def _build_bloom(df, table):
    from frames_map_reduce_spark.operators.bloom import build_bloom_index
    build_bloom_index(df, table, "text")


def _probe_bloom(spark, table, queries):
    from frames_map_reduce_spark.operators.bloom import bloom_probe_index
    return bloom_probe_index(spark, table, queries, "text", "doc_id")


def _build_minhash(df, table):
    from frames_map_reduce_spark.operators.dedup import build_minhash_index
    build_minhash_index(df, table, "text", "doc_id")


def _probe_minhash(spark, table, queries):
    from frames_map_reduce_spark.operators.dedup import minhash_probe_index
    return minhash_probe_index(spark, table, queries, "text", "doc_id",
                               threshold=0.5)


@pytest.mark.parametrize("suffix,build,probe", [
    ("_grams", _build_contamination, _probe_contamination),
    ("_words", _build_bloom, _probe_bloom),
    ("_buckets", _build_minhash, _probe_minhash),
], ids=["contamination", "bloom", "minhash"])
def test_failed_replace_keeps_the_old_index(spark, suffix, build, probe):
    """A build whose write fails leaves the index it was replacing
    readable and unchanged, and the next good build clears what the
    failed one left behind."""
    table = "failed_replace_t"
    good = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string")
    bad = good.withColumn(
        "text", F.raise_error(F.lit("injected write failure")).cast("string"))
    queries = good.union(spark.createDataFrame(
        [(3, "sphinx of black quartz judge my vow")],
        "doc_id long, text string"))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    try:
        build(good, table)
        index_before = rows(spark.table(f"{table}{suffix}"))
        probe_before = rows(probe(spark, table, queries))
        assert probe_before
        with pytest.raises(Exception, match="injected write failure"):
            build(bad, table)
        assert rows(spark.table(f"{table}{suffix}")) == index_before
        assert rows(probe(spark, table, queries)) == probe_before
        build(good, table)
        assert rows(probe(spark, table, queries)) == probe_before
        assert not spark.catalog.tableExists(f"{table}{suffix}_rebuild")
    finally:
        for s in ("_grams", "_words", "_buckets", "_shingles"):
            for extra in ("", "_rebuild", "_old"):
                spark.sql(f"DROP TABLE IF EXISTS {table}{s}{extra}")


def _drop_index(spark, table):
    for s in ("", "_words", "_buckets", "_shingles", "_grams", "_bands"):
        for extra in ("", "_rebuild", "_old"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{s}{extra}")


def _spec_docs(spark):
    texts = ["the quick brown fox jumps over the lazy dog",
             "pack my box with five dozen liquor jugs",
             "sphinx of black quartz judge my vow",
             "how vexingly quick daft zebras jump"]
    return spark.createDataFrame(
        [(i, t, t.encode()) for i, t in enumerate(texts)],
        "doc_id long, text string, payload binary")


def _spec_vectors(embeddings):
    return embeddings.filter(F.col("vec_id") < 32).select("vec_id",
                                                          "embedding")


def _queries(vecs):
    return vecs.select(F.col("vec_id").alias("query_id"), "embedding")


# family -> (index table suffix, key that differs, build at spec A
# returning what extend/probe need, extend at spec B, probe at spec B)
_SPEC_CASES = {
    "bloom": ("_words", "k",
              lambda d, v, t: BL.build_bloom_index(d, t, "text",
                                                   m_bits=1 << 12, k=3),
              lambda d, v, t, _: BL.extend_bloom_index(
                  d, t, "text", m_bits=1 << 12, k=4),
              lambda d, v, t, _: BL.bloom_probe_index(
                  d.sparkSession, t, d, "text", "doc_id", m_bits=1 << 12,
                  k=4)),
    "minhash": ("_buckets", "seed",
                lambda d, v, t: DD.build_minhash_index(d, t, "text",
                                                       "doc_id", seed=42),
                lambda d, v, t, _: DD.extend_minhash_index(
                    d, t, "text", "doc_id", seed=7),
                lambda d, v, t, _: DD.minhash_probe_index(
                    d.sparkSession, t, d, "text", "doc_id", seed=7)),
    "contamination": ("_grams", "n",
                      lambda d, v, t: RET.build_contamination_index(
                          d, t, "text", n=3),
                      lambda d, v, t, _: RET.extend_contamination_index(
                          d, t, "text", n=4),
                      lambda d, v, t, _: RET.probe_contamination_index(
                          d.sparkSession, t, d, "text", "doc_id", n=4)),
    "media": ("_bands", "n_bands",
              lambda d, v, t: MM.build_media_contamination_index(
                  d, t, "doc_id", "payload", fake=True),
              lambda d, v, t, _: MM.extend_media_contamination_index(
                  d, t, "doc_id", "payload", n_bands=8, fake=True),
              lambda d, v, t, _: MM.probe_media_contamination_index(
                  d.sparkSession, t, d, "doc_id", "payload", n_bands=8,
                  fake=True)),
    "ivf": ("", "centroids_sha256",
            lambda d, v, t: SIM.build_ivf_index(v, t, n_centroids=2),
            lambda d, v, t, cents: SIM.extend_ivf_index(v, t, cents + 1.0),
            lambda d, v, t, cents: SIM.ivf_topk_indexed(
                v.sparkSession, t, _queries(v), cents + 1.0, k=1,
                nprobe=1)),
    "ivf_pq": ("", "codebooks_sha256",
               lambda d, v, t: QZ.build_ivf_pq_index(
                   v, t, n_centroids=2, m_sub=8, k_codes=4),
               lambda d, v, t, spec: QZ.extend_ivf_pq_index(
                   v, t, spec[0], np.asarray(spec[1]) + 1),
               lambda d, v, t, spec: QZ.ivf_pq_topk(
                   v.sparkSession, t, _queries(v), spec[0],
                   np.asarray(spec[1]) + 1, k=1, nprobe=1)),
}


@pytest.mark.parametrize("family", sorted(_SPEC_CASES))
def test_mismatched_spec_is_refused_before_any_job(spark, embeddings,
                                                   family):
    """Every family stamps its spec at build; an extend or probe at
    another spec raises naming the key, before any Spark job runs, and
    leaves the index as it was."""
    suffix, key, build, extend, probe = _SPEC_CASES[family]
    table = f"spec_refusal_{family}_t"
    docs, vecs = _spec_docs(spark), _spec_vectors(embeddings)
    try:
        built = build(docs, vecs, table)
        n_rows = spark.table(f"{table}{suffix}").count()
        with _no_jobs(spark, f"fmr-spec-refusal-{family}"):
            for call in (extend, probe):
                with pytest.raises(ValueError,
                                   match=rf"was built with .*\b{key}="):
                    call(docs, vecs, table, built)
        assert spark.table(f"{table}{suffix}").count() == n_rows
    finally:
        _drop_index(spark, table)


def test_stamp_survives_compact_and_rebuild(spark):
    """Compaction and the MinHash cap rebuild carry the build's stamp
    over; a Bloom re-size stamps its new geometry."""
    docs, table = _spec_docs(spark), "stamp_keep_t"

    def stamp(suffix):
        return table_spec(spark, f"{table}{suffix}").stamp

    try:
        BL.build_bloom_index(docs, table, "text", m_bits=1 << 12, k=3)
        BL.extend_bloom_index(docs, table, "text", m_bits=1 << 12, k=3)
        BL.compact_bloom_index(spark, table)
        assert stamp("_words") == {"fmr.bloom.m_bits": "4096",
                                   "fmr.bloom.k": "3"}
        BL.rebuild_bloom_index(docs, table, "text", m_bits=1 << 13, k=4)
        assert stamp("_words") == {"fmr.bloom.m_bits": "8192",
                                   "fmr.bloom.k": "4"}
        assert BL.bloom_geometry(spark, table) == (1 << 13, 4)

        DD.build_minhash_index(docs, table, "text", "doc_id", seed=7)
        want = {"fmr.minhash.num_perm": "128", "fmr.minhash.bands": "16",
                "fmr.minhash.shingle_k": "5", "fmr.minhash.seed": "7"}
        assert stamp("_buckets") == want and stamp("_shingles") == want
        DD.rebuild_minhash_index(spark, table, max_bucket=1)
        assert stamp("_buckets") == want
    finally:
        _drop_index(spark, table)


def test_catalog_and_filesystem_calls_live_in_sources():
    """Table properties, renames and the Hadoop FileSystem are touched
    by ``sources`` alone: every persisted index is replaced, appended
    and stamped through it."""
    pkg = Path(__file__).resolve().parent.parent / "frames_map_reduce_spark"
    owner = pkg / "sources" / "__init__.py"
    found = [(str(p.relative_to(pkg)), word)
             for p in sorted(pkg.rglob("*.py")) if p != owner
             for word in ("TBLPROPERTIES", "RENAME TO", "getFileSystem")
             if word in p.read_text()]
    assert found == []
    assert "SHOW TBLPROPERTIES" not in owner.read_text()
