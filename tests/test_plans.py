"""Plan-shape regression tests: the scale properties the engine promises
(pushdown, pruning, broadcast, two-phase aggregation, bounded shuffles)
asserted against the actual physical plans."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from frames_map_reduce_spark import folds
from frames_map_reduce_spark.mapreduce import (
    fold_and_add_key,
    map_reduce,
    split_on_keys,
    unpack_filter_on_field,
)
from frames_map_reduce_spark.plans import (
    assert_filter_pushed,
    assert_scan_pruned,
    count_exchanges,
    count_hash_aggregates,
    explain_formatted,
    has_broadcast_join,
)


@pytest.fixture(scope="module")
def flagship(lineitem):
    return map_reduce(
        lineitem,
        unpack=unpack_filter_on_field("l_returnflag", lambda c: c.isin("A", "R")),
        assign=split_on_keys(["l_returnflag"]),
        reduce=fold_and_add_key(folds.sum_("l_quantity", "sum_qty")
                                & folds.sum_("l_extendedprice", "sum_price")),
    )


def test_filter_reaches_parquet_scan(flagship):
    assert_filter_pushed(flagship, "l_returnflag")


def test_scan_prunes_to_used_columns(flagship):
    # 3 of lineitem's 11 columns: key + the two aggregated values
    assert_scan_pruned(flagship, 3)


def test_two_phase_aggregation(flagship):
    # partial (map-side) + final — fold fusion's distributed form
    assert count_hash_aggregates(flagship) == 2


def test_single_shuffle_for_group_by(flagship):
    assert count_exchanges(flagship) == 1


def test_multi_output_fold_is_one_pass(lineitem):
    """Five fold outputs must not add aggregation passes (reference fold
    fusion, sequenceRecFold Folds.hs:147-154)."""
    five = map_reduce(
        lineitem, unpack_filter_on_field("l_returnflag", lambda c: c.isin("A")),
        split_on_keys(["l_returnflag"]),
        fold_and_add_key(
            folds.sum_("l_quantity", "a") & folds.mean_("l_quantity", "b")
            & folds.min_("l_quantity", "c") & folds.max_("l_quantity", "d")
            & folds.count_star("e")))
    assert count_hash_aggregates(five) == 2
    assert count_exchanges(five) == 1


def test_mapping_table_broadcasts(spark, lineitem):
    from frames_map_reduce_spark.aggregation import key_map_from_table
    mapping = spark.createDataFrame(
        [("A", "returned"), ("R", "returned"), ("N", "kept")],
        "l_returnflag string, flag_class string")
    out = key_map_from_table(lineitem, mapping, "l_returnflag", "flag_class")
    assert has_broadcast_join(out)


def test_brute_force_topk_plan_shape(spark, embeddings):
    """Two-stage brute force: queries ship in the task closure (no join —
    scoring is one numpy matmul per Arrow batch inside mapInPandas) and
    only the per-query MERGE shuffles, receiving ≤ partitions×k rows per
    query.  Exactly ONE exchange and no join of any kind."""
    from frames_map_reduce_spark.operators.similarity import brute_force_topk
    from frames_map_reduce_spark.plans import count_exchanges, explain_formatted
    queries = (embeddings.limit(3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = brute_force_topk(embeddings, queries, k=3)
    assert count_exchanges(out) == 1
    assert "Join" not in explain_formatted(out)


def test_brute_force_topk_joined_plan_shape(spark, embeddings):
    """The beyond-the-cap block-join path must be fully distributed: no
    LocalTableScan of collected queries anywhere in the plan (both sides
    come from real scans), and the block pairing is a join of two
    one-row-per-block aggregates — so exchanges stay bounded by the
    block groupings + the final merge, independent of query count."""
    from frames_map_reduce_spark.operators.similarity import brute_force_topk_joined
    from frames_map_reduce_spark.plans import count_exchanges, explain_formatted
    queries = embeddings.select(F.col("vec_id").alias("query_id"), "embedding")
    out = brute_force_topk_joined(embeddings, queries, k=3,
                                  n_corpus_blocks=4, n_query_blocks=4)
    plan = explain_formatted(out)
    assert "LocalTableScan" not in plan     # nothing driver-materialized
    assert count_exchanges(out) <= 4        # 2 block aggs + join + merge


def test_whole_stage_codegen_covers_agg(flagship):
    from frames_map_reduce_spark.plans import has_whole_stage_codegen
    assert has_whole_stage_codegen(flagship)


def test_tpch_q3_plan_shape(spark):
    """Q3's scale contract: date filters reach the parquet scans, the
    pruned customer dim broadcasts, and the global top-10 lowers to
    TakeOrderedAndProject (partial per-partition top-k, no full sort)."""
    import query_rigs as R
    from frames_map_reduce_spark.plans import (
        executed_plan, has_broadcast_join, pushed_filters)
    from tests.conftest import SF_DIR

    df = R.q_tpch_q3(spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed and "l_shipdate" in pushed
    assert has_broadcast_join(df)
    df.collect()
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_perplexity_plan_shape(spark):
    """The LM-score query's scale contract: the top-20 lowers to
    TakeOrderedAndProject (no global sort) and the scan prunes to the
    two columns the query touches."""
    import query_rigs as R
    from frames_map_reduce_spark.plans import explain_formatted, read_schemas
    from tests.conftest import SF_DIR

    df = R.q_perplexity(spark, SF_DIR)
    assert "TakeOrderedAndProject" in explain_formatted(df)
    schemas = read_schemas(df)
    assert schemas and all(set(s) <= {"doc_id", "text"} for s in schemas), \
        schemas


def test_curate_v2_threshold_join_broadcasts(spark):
    """The per-language gate's scale contract: the 6-row threshold
    table joins by BROADCAST (never a shuffle keyed on pred_lang — a
    handful of languages over a web corpus is the textbook hot-key
    join), and the scan side prunes to the columns the pipeline
    touches."""
    import query_rigs as R
    from frames_map_reduce_spark.plans import explain_formatted, read_schemas
    from tests.conftest import SF_DIR

    df = R.q_curate_corpus_v2(spark, SF_DIR)
    plan = explain_formatted(df)
    # the threshold join keys on pred_lang alone and must be broadcast
    import re
    assert re.search(
        r"BroadcastHashJoin[\s\S]{0,400}?Left keys \[1\]: \[pred_lang#\d+\]",
        plan), plan[:2000]
    schemas = read_schemas(df)
    assert schemas and all(
        set(s) <= {"doc_id", "source", "text"} for s in schemas), schemas


def test_pack_sequences_plan_shape(documents):
    """pack_sequences' scale contract (r7 two-phase offsets): the
    within-bucket cumsum Window plus the tiny per-bucket-offsets
    Window, ONE Generate (the per-block explode), the bucket-totals
    aggregation + the final manifest aggregation (each itself 2-phase →
    4 HashAggregates), the bucket offsets joined back via BROADCAST,
    and no nested-loop/cartesian anywhere — the manifest stays linear
    in corpus tokens and no stage runs one-task-per-group."""
    from frames_map_reduce_spark.functions import text as TX
    from frames_map_reduce_spark.operators.packing import pack_sequences
    from frames_map_reduce_spark.plans import explain_formatted

    # n_buckets pinned: the sf0.001 fixture is below the "auto" serial
    # threshold (the auto dial has its own tests in test_sampling.py)
    df = pack_sequences(documents, TX.token_count(F.col("text")), 256,
                        order_by=["doc_id"], by=["source"], n_buckets=64)
    plan = explain_formatted(df)
    assert plan.count("Window") >= 2
    # formatted explain lists every node twice (tree + detail section):
    # exactly ONE Generate node → exactly two mentions
    assert plan.count("Generate") == 2
    assert count_hash_aggregates(df) == 4
    assert "BroadcastHashJoin" in plan       # offsets join back broadcast
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the heavy cumsum window partitions on (group, bucket), never on
    # the group alone — the r6 one-task-per-group bottleneck is gone
    assert "_pid" in plan


def _checkpointed_plans(monkeypatch, df) -> list[str]:
    """Record the formatted plan of every frame of ``df``'s class
    local-checkpointed while the patch is active (a checkpoint hides its
    lineage from the plans that read it)."""
    from frames_map_reduce_spark.plans import explain_formatted

    seen: list[str] = []
    cls = type(df)
    real = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        seen.append(explain_formatted(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return seen


def _python_nodes(plan: str) -> int:
    """MapInPandas nodes in a formatted plan (tree form only: the detail
    section names each node again, and its arguments may too)."""
    return len(re.findall(r"MapInPandas \(\d+\)", plan))


def _checkpoint_scans(plan: str) -> list[str]:
    """The RDD each checkpoint scan in a formatted plan reads."""
    return re.findall(r"(\w+RDD\[\d+\]) at localCheckpoint", plan)


def test_semantic_dedup_reuses_persisted_assignment(spark, embeddings,
                                                    monkeypatch):
    """The assigned corpus feeds three plan branches (both pair-join
    sides + the verdict join): the mapInPandas assignment is
    local-checkpointed ONCE and all three branches scan that one
    checkpoint, so the assignment executes once per run, and the pair
    stage must be a key-equality join — never a cartesian."""
    from frames_map_reduce_spark.operators.similarity import semantic_dedup
    from frames_map_reduce_spark.plans import explain_formatted

    checkpointed = _checkpointed_plans(monkeypatch, embeddings)
    out = semantic_dedup(embeddings, threshold=0.35, n_centroids=8)
    plan = explain_formatted(out)
    # the one Python stage sits beneath the one checkpoint and never
    # above it
    assert len(checkpointed) == 1
    assert _python_nodes(checkpointed[0]) == 1, checkpointed[0]
    assert "MapInPandas" not in plan, plan[:1500]
    scans = _checkpoint_scans(plan)
    assert len(scans) >= 3 and len(set(scans)) == 1, plan[:1500]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_token_ids_plan_shape(spark, documents, monkeypatch):
    """pack_token_ids' scale contract (r10): ONE Python stage (the
    Arrow encode — mapInPandas is the one loop expressions cannot
    express), ONE Generate (the per-token posexplode), the bounded
    reassembly as an ordinary 2-phase object-hash aggregation, the
    offsets joined back via BROADCAST, and no nested-loop / cartesian /
    sort-merge join anywhere — output volume is the token stream and
    nothing else grows."""
    from frames_map_reduce_spark.functions.tokenizer import encode_ids
    from frames_map_reduce_spark.operators.packing import pack_token_ids

    src = documents.select("doc_id", "source", "text")
    ids = encode_ids(src, "text", "doc_id") \
        .join(src.select("doc_id", "source"), "doc_id")
    checkpointed = _checkpointed_plans(monkeypatch, ids)
    out = pack_token_ids(ids, "token_ids", 256,
                         order_by=["doc_id"], by=["source"], n_buckets=64)
    plan = explain_formatted(out)
    # exactly one Arrow python stage: the greedy encode.  It sits
    # beneath the bucketing's one checkpoint, which both offset branches
    # read, so it runs once; nothing Python runs above it.
    assert len(checkpointed) == 1
    assert _python_nodes(checkpointed[0]) == 1, checkpointed[0]
    assert "MapInPandas" not in plan
    scans = _checkpoint_scans(plan)
    assert len(scans) == 2 and len(set(scans)) == 1, plan[:1500]
    for p in (plan, checkpointed[0]):
        assert "BatchEvalPython" not in p       # no row-at-a-time UDF
    # exactly one Generate: the per-token posexplode
    assert plan.count("Generate") == 2
    assert "BroadcastHashJoin" in plan          # offsets join back
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_pid" in plan                       # two-phase offsets engaged


def test_token_budget_sample_plan_shape(documents):
    """The budget cut's scale contract in the plan: the per-bucket mass
    offsets come back via BROADCAST (the skinny ≤ groups×n_buckets
    frame, never a shuffle of the corpus side), the running total's
    window partitions by (group, bucket) — the full-stream-per-group
    window the operator exists to avoid would show a partition spec
    without _hb — and no cartesian/nested-loop join anywhere."""
    from frames_map_reduce_spark.functions.text import token_count
    from frames_map_reduce_spark.operators.sampling import (
        token_budget_sample,
    )

    d = documents.select(
        "doc_id", "source",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"))
    out = token_budget_sample(d, "n_tokens", "doc_id", budget=600,
                              by="source", salt="mix0")
    plan = explain_formatted(out)
    assert "BroadcastHashJoin" in plan          # offsets join back
    # the corpus-side running window (the one ordered by the row hash
    # _h) must partition by the bucket column _hb — a spec without it
    # would be the per-group full-stream window the operator exists to
    # avoid.  windowspecdefinition prints partition columns bare and
    # order columns with ASC/DESC markers, so: every spec that orders
    # by _h must carry a bare _hb partition arg before it.
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    data_windows = [s for s in specs if re.search(r"_h#\d+L ASC", s)]
    assert data_windows, "running window missing from plan"
    for s in data_windows:
        assert re.search(r"_hb#\d+,", s), f"full-group window: ({s})"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.fixture()
def image_dedup(spark):
    import os
    return spark.read.parquet(os.path.join(
        os.path.dirname(__file__), "fixtures", "image_dedup.parquet"))


def test_media_contamination_probe_plan_shape(spark, image_dedup):
    """The media firewall probe's scale contract: ONE Arrow decode
    stage over the incoming batch, the persisted index joined by
    BROADCAST hash on the band bucket, and no cartesian / nested-loop
    anywhere — probe cost is one batch scan plus a per-item reduce,
    with zero index-side exchanges."""
    from frames_map_reduce_spark.operators.multimodal import (
        build_media_contamination_index, probe_media_contamination_index)
    from frames_map_reduce_spark.plans import explain_formatted

    build_media_contamination_index(
        image_dedup.filter(F.col("doc_id") % 2 == 0), "t_mcf_plan",
        "doc_id", "payload")
    out = probe_media_contamination_index(
        spark, "t_mcf_plan", image_dedup.filter(F.col("doc_id") % 2 == 1),
        "doc_id", "payload")
    plan = explain_formatted(out)
    # exactly one physical MapInPandas node (tree-form match only):
    # the single Arrow decode pass over the incoming batch
    assert plan.count("MapInPandas (") == 1, plan[:1500]
    assert "BatchEvalPython" not in plan        # no row-at-a-time UDF
    assert "BroadcastHashJoin" in plan          # index broadcast
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# r13 single-evaluation pins: expensive derived expressions must not be
# re-inlined into Filter conditions (InferFiltersFromGenerate /
# InferFiltersFromConstraints + predicate pushdown — the JVM analogue
# of the guide's UDF-duplication trap).  Each assertion pins a change
# that was measured to win; see OPTIMIZATION_r13.md changes 19-21.
# ---------------------------------------------------------------------------

def _filter_conditions(df) -> list[str]:
    """All Filter node lines of the executed plan (simple mode: the
    full condition text lives on the node's own line)."""
    import re
    from frames_map_reduce_spark.plans import executed_plan
    return [ln for ln in executed_plan(df).splitlines()
            if re.search(r"\bFilter\b", ln)]


def test_contamination_gram_chain_single_eval(documents):
    """The 5-gram zip_with chain must appear only in the Generate's
    projection — never in a Filter condition (change 19: explode_outer
    suppresses the inferred size()>0 re-inline; measured 0.35x)."""
    from frames_map_reduce_spark.operators.retrieval import (
        ngram_contamination)
    out = ngram_contamination(
        documents.filter(F.col("doc_id") % 4 != 0),
        documents.filter(F.col("doc_id") % 4 == 0),
        "text", "doc_id", n=5)
    bad = [c for c in _filter_conditions(out) if "zip_with" in c]
    assert not bad, bad[0][:500]


def test_duplicated_spans_gram_key_single_eval(documents):
    """Neither the tokenize chain (change 20: guard inside the
    generator) nor the md5 gram key (change 21: non-nullable key) may
    be re-evaluated in a Filter condition."""
    from frames_map_reduce_spark.operators.dedup import duplicated_spans
    out = duplicated_spans(documents, "text", "doc_id", k=8, min_count=2)
    conds = _filter_conditions(out)
    bad = [c for c in conds if "md5" in c or "lambdafunction" in c]
    assert not bad, bad[0][:500]


def test_classifier_bucket_single_eval(documents):
    """The per-token bucket hash must not be re-evaluated in the
    weight join's inferred isnotnull filter (change 21; measured
    0.65x on the score shape)."""
    from frames_map_reduce_spark.operators.classifier import (
        classifier_score, train_logodds_classifier)
    lab = documents.withColumn("label", F.col("doc_id") % 2 == 0)
    w = train_logodds_classifier(lab, "text", "label", n_buckets=256)
    out = classifier_score(documents, w, "text", "doc_id", n_buckets=256)
    bad = [c for c in _filter_conditions(out) if "md5" in c]
    assert not bad, bad[0][:500]


def test_subword_input_no_jvm_size_filter(documents):
    """The subword stages' input must not carry a JVM size filter —
    the wordish regex would run twice per document (change 20: the
    zero-token skip lives inside the Arrow stage)."""
    from frames_map_reduce_spark.functions.tokenizer import encode_ids
    out = encode_ids(documents, "text", "doc_id")
    bad = [c for c in _filter_conditions(out)
           if "regexp_extract_all" in c]
    assert not bad, bad[0][:500]
