"""Deterministic sampling / split / mixture / packing operators."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from frames_map_reduce_spark.operators.packing import pack_shards
from frames_map_reduce_spark.operators.sampling import (
    hash_split,
    stratified_sample,
    weighted_mixture,
    weighted_sample,
)
from tests.conftest import cache_is_empty, rows_sorted

WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _assignments(documents, salt="s"):
    out = hash_split(documents, "doc_id", WEIGHTS, salt=salt)
    return {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}


def test_hash_split_total_and_deterministic(spark, documents):
    a = _assignments(documents)
    b = _assignments(documents)
    assert a == b                      # rerun-stable
    assert set(a.values()) <= set(WEIGHTS)
    assert None not in a.values()      # every row assigned
    n = len(a)
    train = sum(1 for v in a.values() if v == "train")
    assert 0.6 * n < train < 0.95 * n  # loose proportion sanity on ~100 docs


def test_hash_split_stable_under_data_growth(spark, documents):
    """A document's split must not depend on what other rows exist."""
    full = _assignments(documents)
    subset = hash_split(documents.filter(F.col("doc_id") % 3 == 0),
                        "doc_id", WEIGHTS, salt="s")
    for r in subset.select("doc_id", "split").collect():
        assert full[r["doc_id"]] == r["split"]


def test_hash_split_salt_changes_assignment(spark, documents):
    a = _assignments(documents, salt="s")
    b = _assignments(documents, salt="other")
    assert a != b


def test_stratified_sample_exact_n_deterministic(spark, documents):
    got = stratified_sample(documents, ["source"], 3, "doc_id", salt="s")
    per = {r["source"]: r["n"]
           for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_sources = documents.select("source").distinct().count()
    assert len(per) == n_sources and set(per.values()) == {3}
    again = stratified_sample(documents, ["source"], 3, "doc_id", salt="s")
    assert rows_sorted(got) == rows_sorted(again)
    other = stratified_sample(documents, ["source"], 3, "doc_id", salt="z")
    assert rows_sorted(got) != rows_sorted(other)


def test_weighted_mixture_rates_and_monotone(spark, documents):
    n = documents.count()
    all_src = [r["source"] for r in documents.select("source").distinct().collect()]
    keep_all = weighted_mixture(documents, "source",
                                {s: 1.0 for s in all_src}, "doc_id")
    assert keep_all.count() == n
    drop_all = weighted_mixture(documents, "source", {}, "doc_id",
                                default_rate=0.0)
    assert drop_all.count() == 0
    # same salt ⇒ lower rate selects a SUBSET of the higher rate
    lo = {r["doc_id"] for r in weighted_mixture(
        documents, "source", {s: 0.25 for s in all_src}, "doc_id").select("doc_id").collect()}
    hi = {r["doc_id"] for r in weighted_mixture(
        documents, "source", {s: 0.75 for s in all_src}, "doc_id").select("doc_id").collect()}
    assert lo <= hi and 0 < len(lo) < len(hi) < n


def test_weighted_mixture_rejects_bad_rate(spark, documents):
    with pytest.raises(ValueError):
        weighted_mixture(documents, "source", {"a": 1.5}, "doc_id")


def _pack_rows(spark, sizes, budget, by_groups=1):
    rows = [(g, i, s) for g in range(by_groups)
            for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "g int, id int, size int")
    out = pack_shards(df, "size", budget, order_by=["id"], by=["g"])
    return {(r["g"], r["id"]): r["shard_id"] for r in out.collect()}


def test_weighted_sample_deterministic_and_excludes_nonpositive(spark):
    rows = [(i, float((i % 5) + 1)) for i in range(100)] \
        + [(100, 0.0), (101, -1.0), (102, None)]
    df = spark.createDataFrame(rows, "k long, w double")
    a = {r["k"] for r in weighted_sample(df, 20, "w", "k", salt="s").collect()}
    b = {r["k"] for r in weighted_sample(df, 20, "w", "k", salt="s").collect()}
    c = {r["k"] for r in weighted_sample(df, 20, "w", "k", salt="t").collect()}
    assert a == b and len(a) == 20
    assert a != c                       # new salt redraws
    assert not {100, 101, 102} & (a | c)  # zero/negative/NULL mass excluded
    with pytest.raises(ValueError, match="positive"):
        weighted_sample(df, 0, "w", "k")


def test_weighted_sample_follows_weights(spark):
    """Statistical sanity over 30 salts: one item with 50x the weight of
    its 199 peers must be included far more often (p_heavy ~ 1 against
    ~n*w/total ~ 0.08 per light item)."""
    rows = [(i, 50.0 if i == 0 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, w double").cache()
    heavy = light0 = 0
    for s in range(30):
        got = {r["k"] for r in
               weighted_sample(df, 20, "w", "k", salt=f"s{s}").collect()}
        assert len(got) == 20
        heavy += 0 in got
        light0 += 1 in got
    assert heavy >= 27      # ~P=1-(1-50/249)^20 ≈ 0.99 per draw
    assert light0 <= 12     # ~P≈0.15 per draw for a unit-weight item


def test_weighted_sample_plan_is_partial_topk(spark):
    """The global n-smallest lowers to TakeOrderedAndProject (partial
    per-partition top-n), never a full Sort+Exchange."""
    from frames_map_reduce_spark.plans import executed_plan
    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1.0).alias("w"))
    out = weighted_sample(df, 25, "w", "k", salt="p")
    assert out.count() == 25
    assert "TakeOrderedAndProject" in executed_plan(out)


def test_pack_shards_offset_semantics(spark):
    # sizes 4,4,4 budget 8: offsets 0,4,8 → shards 0,0,1
    got = _pack_rows(spark, [4, 4, 4], budget=8)
    assert got == {(0, 0): 0, (0, 1): 0, (0, 2): 1}


def test_pack_shards_oversized_item_single_shard(spark):
    # sizes 3,20,3 budget 8: offsets 0,3,23 → shards 0,0,2
    got = _pack_rows(spark, [3, 20, 3], budget=8)
    assert got == {(0, 0): 0, (0, 1): 0, (0, 2): 2}


def test_pack_shards_per_group_independent(spark):
    got = _pack_rows(spark, [5, 5, 5], budget=10, by_groups=3)
    for g in range(3):
        assert [got[(g, i)] for i in range(3)] == [0, 0, 1]


def test_pack_shards_matches_python_reference(spark, documents):
    df = documents.withColumn("size", F.length("text"))
    out = pack_shards(df, "size", 2000, order_by=["doc_id"], by=["source"])
    got = {(r["source"], r["doc_id"]): r["shard_id"]
           for r in out.select("source", "doc_id", "shard_id").collect()}
    rows = sorted((r["source"], r["doc_id"], r["size"])
                  for r in df.select("source", "doc_id", "size").collect())
    offset: dict[str, int] = {}
    for src, did, size in rows:
        start = offset.get(src, 0)
        assert got[(src, did)] == start // 2000, (src, did)
        offset[src] = start + size


def test_pack_shards_validation(spark, documents):
    with pytest.raises(ValueError):
        pack_shards(documents, "n_chars", 0, order_by=["doc_id"])
    with pytest.raises(ValueError):
        pack_shards(documents, "n_chars", 10, order_by=[])
    with pytest.raises(ValueError):
        pack_shards(documents, "n_chars", 10, order_by=["doc_id"],
                    n_buckets=0)


def test_pack_two_phase_offsets_match_serial_window(spark):
    """r6 verdict #2: the bucketed prefix sum must be byte-identical to
    the serial per-group window — grouped, global (by=()), and
    single-bucket degenerate forms, zero sizes and null groups
    included."""
    from frames_map_reduce_spark.operators.packing import pack_sequences
    rows = [((None if i % 7 == 0 else f"g{i % 3}"), i, i * 13 % 41)
            for i in range(300)]
    df = spark.createDataFrame(rows, "g string, id long, sz long")
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    for by, order in ((["g"], ["id"]), ((), ["g", "id"])):
        a = sorted(map(tuple, pack_sequences(
            df, "sz", 17, order_by=order, by=by, n_buckets=1).collect()),
            key=key)
        b = sorted(map(tuple, pack_sequences(
            df, "sz", 17, order_by=order, by=by, n_buckets=8).collect()),
            key=key)
        assert a == b, (by, order)
        s_a = sorted(map(tuple, pack_shards(
            df, "sz", 100, order_by=order, by=by, n_buckets=1).collect()),
            key=key)
        s_b = sorted(map(tuple, pack_shards(
            df, "sz", 100, order_by=order, by=by, n_buckets=8).collect()),
            key=key)
        assert s_a == s_b, (by, order)


def test_pack_two_phase_parallelism_and_fallback(spark):
    """A single pack group spreads over >1 bucket (the whole point of
    the two-phase path), buckets are order-contiguous, and fractional
    sizes pin the serial path (no two-phase re-association of double
    sums)."""
    from frames_map_reduce_spark.operators.packing import (_bucketize,
                                                           _running_offsets)
    df = spark.createDataFrame([(i, (i * 7) % 23 + 1) for i in range(400)],
                               "id long, sz long")
    bucketed = _bucketize(df.withColumn("_sz", F.col("sz")), ["id"], (), 8)
    spans = (bucketed.groupBy("_pid")
                     .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
                     .orderBy("_pid").collect())
    assert len(spans) > 1  # one group, many tasks
    for prev, cur in zip(spans, spans[1:]):
        assert prev["hi"] < cur["lo"]  # contiguous in the total order
    # fractional sizes: no _pid column ever appears (serial path)
    off = _running_offsets(df, F.col("sz").cast("double"), ["id"], (),
                           n_buckets=8, drop_nonpositive=False)
    from frames_map_reduce_spark.plans import executed_plan
    assert "_pid" not in executed_plan(off)


def test_pack_auto_n_buckets_resolution(spark, documents):
    """The ``n_buckets="auto"`` dial (r7 verdict #2): small FILE-BACKED
    inputs resolve to the serial window (1), large Catalyst size
    estimates to the two-phase path with buckets scaling in [8, 64],
    stat-less sources (parallelized local collections report the
    Long.MaxValue sentinel) to the scale-safe 64, and the resolved plan
    shapes match (serial window below threshold, _pid buckets above)."""
    from frames_map_reduce_spark.operators.packing import (
        _AUTO_BUCKET_BYTES, _AUTO_SERIAL_BYTES, _resolve_n_buckets,
        _running_offsets, pack_sequences)
    from frames_map_reduce_spark.plans import executed_plan

    small = documents.select("doc_id", (F.col("n_chars") % 9 + 1)
                             .alias("sz"))  # sf0.001 parquet: real stats
    assert _resolve_n_buckets(small, "auto") == 1
    # spark.range's plan estimate is 8 bytes/row — a deterministic way
    # to exceed the serial threshold without materializing anything
    big = spark.range(2 * _AUTO_SERIAL_BYTES // 8).select(
        F.col("id"), (F.col("id") % 9 + 1).alias("sz"))
    assert _resolve_n_buckets(big, "auto") >= 8
    huge = spark.range(4 * _AUTO_BUCKET_BYTES)  # ≥ 32 buckets' worth
    assert 8 <= _resolve_n_buckets(huge, "auto") <= 64
    # a local collection has NO stats — never mistake the sentinel for
    # a 4-exabyte input (serial would also be wrong if it IS big)
    local = spark.createDataFrame([(i, i % 9 + 1) for i in range(100)],
                                  "id long, sz long")
    assert _resolve_n_buckets(local, "auto") == 64
    # explicit ints pass through untouched; junk is rejected
    assert _resolve_n_buckets(small, 64) == 64
    with pytest.raises(ValueError, match="auto"):
        _resolve_n_buckets(small, "sixty-four")
    # plan shape follows the resolution
    assert "_pid" not in executed_plan(
        pack_sequences(small, "sz", 17, order_by=["doc_id"]))
    off_big = _running_offsets(big, F.col("sz"), ["id"], (),
                               n_buckets="auto", drop_nonpositive=False)
    # the range repartition sits beneath the bucketing's checkpoint; the
    # bucket id it pins partitions the cumsum window above it
    assert "windowspecdefinition(_pid" in executed_plan(off_big)


def test_pack_auto_two_phase_engages_at_sf1(spark):
    """At sf1.0 the registry's pack_sequences query (auto n_buckets)
    must still take the TWO-PHASE path (r7 verdict #2's guard: the
    adaptive dial may not quietly re-serialize the scale path)."""
    import os
    sf1 = "/tmp/fmr_sf1.0"
    if not os.path.isdir(sf1):
        pytest.skip("sf1.0 replica not generated (bench_scale.py)")
    import __spark_entry__ as E
    from frames_map_reduce_spark.plans import explain_formatted
    df = E.queries()["pack_sequences"](spark, sf1)
    plan = explain_formatted(df)
    assert "_pid" in plan  # the bucketed cumsum partitions on (by, _pid)


def test_deterministic_shuffle_is_stable_permutation(spark):
    """shuffle_pos is a 0-based permutation, identical across re-runs
    and across n_buckets choices (bucketing is structural, never
    semantic), and reshuffled by a salt change."""
    from frames_map_reduce_spark.operators.sampling import deterministic_shuffle
    df = spark.range(300).select(F.col("id").alias("k"))
    a = {r["k"]: r["shuffle_pos"] for r in
         deterministic_shuffle(df, "k", salt="s", n_buckets=16).collect()}
    assert sorted(a.values()) == list(range(300))
    b = {r["k"]: r["shuffle_pos"] for r in
         deterministic_shuffle(df, "k", salt="s", n_buckets=128).collect()}
    assert a == b
    c = {r["k"]: r["shuffle_pos"] for r in
         deterministic_shuffle(df, "k", salt="other", n_buckets=16).collect()}
    assert sorted(c.values()) == list(range(300)) and a != c
    with pytest.raises(ValueError, match="power of two"):
        deterministic_shuffle(df, "k", n_buckets=48)


def test_write_packed_shards_budget_on_disk(spark, tmp_path):
    """Each shard directory on disk holds rows whose sizes sum within
    the budget (oversized single rows excepted), and the union of all
    shards round-trips the input exactly."""
    from frames_map_reduce_spark.operators.packing import write_packed_shards
    rows = [(i, f"doc {i}", (i * 37) % 90 + 10) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_tok int")
    path = str(tmp_path / "shards")
    write_packed_shards(df, path, "n_tok", budget=500, order_by=["doc_id"])
    back = spark.read.parquet(path)
    assert back.count() == 200
    assert {tuple(r) for r in back.select("doc_id", "text", "n_tok").collect()} \
        == set(rows)
    sums = {r["shard_id"]: r["s"] for r in
            back.groupBy("shard_id").agg(F.sum("n_tok").alias("s")).collect()}
    assert all(s <= 500 + 99 for s in sums.values())  # budget + max row slack
    import os
    for d in os.listdir(path):
        if d.startswith("shard_id="):
            files = [f for f in os.listdir(os.path.join(path, d))
                     if f.endswith(".parquet")]
            assert len(files) == 1, d  # one file per shard


def test_weighted_sample_assert_unique_guard(spark):
    """Opt-in runtime check of the unique-key contract: a duplicated key
    silently correlates draws — assert_unique=True raises instead; the
    default path and a unique key stay unchanged (r4 verdict #5)."""
    from frames_map_reduce_spark.operators.sampling import weighted_sample

    dup = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 3.0)], "k long, w double")
    with pytest.raises(ValueError, match="not unique"):
        weighted_sample(dup, 2, "w", "k", assert_unique=True)
    # silent by default (documented contract), and clean keys pass
    assert weighted_sample(dup, 2, "w", "k").count() == 2
    uniq = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "k long, w double")
    assert weighted_sample(uniq, 2, "w", "k", assert_unique=True).count() == 2


# ---------------------------------------------------------------------------
# pack_sequences (concat-and-chunk, document straddle)
# ---------------------------------------------------------------------------

def _seq_rows(spark, sizes, block, by_groups=1):
    from frames_map_reduce_spark.operators.packing import pack_sequences
    rows = [(g, i, s) for g in range(by_groups)
            for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "g int, id int, size int")
    out = pack_sequences(df, "size", block, order_by=["id"], by=["g"])
    return {(r["g"], r["seq_id"]): (r["n_docs"], r["n_tokens"], r["n_starts"])
            for r in out.collect()}


def test_pack_sequences_known_answer(spark):
    # sizes 4,4,4 block 8: stream [0,12) → block0 holds docs 0+1 (8
    # tokens, both start there), block1 the trailing doc (partial, 4)
    got = _seq_rows(spark, [4, 4, 4], block=8)
    assert got == {(0, 0): (2, 8, 2), (0, 1): (1, 4, 1)}


def test_pack_sequences_straddle_splits_token_count(spark):
    # sizes 5,6 block 8: doc1 spans [5,11) → 3 tokens in block0, 3 in
    # block1; fragmentation (n_docs - n_starts) shows up in block1
    got = _seq_rows(spark, [5, 6], block=8)
    assert got == {(0, 0): (2, 8, 2), (0, 1): (1, 3, 0)}


def test_pack_sequences_oversized_doc_spans_blocks(spark):
    got = _seq_rows(spark, [20], block=8)
    assert got == {(0, 0): (1, 8, 1), (0, 1): (1, 8, 0), (0, 2): (1, 4, 0)}


def test_pack_sequences_zero_size_rows_excluded(spark):
    got = _seq_rows(spark, [0, 4, 0], block=8)
    assert got == {(0, 0): (1, 4, 1)}


def test_pack_sequences_groups_independent_and_tokens_conserved(spark):
    got = _seq_rows(spark, [5, 5, 5], block=10, by_groups=3)
    for g in range(3):
        assert got[(g, 0)] == (2, 10, 2) and got[(g, 1)] == (1, 5, 1)
    assert sum(v[1] for v in got.values()) == 3 * 15


def test_pack_sequences_rejects_bad_args(spark):
    from frames_map_reduce_spark.operators.packing import pack_sequences
    df = spark.createDataFrame([(1, 1)], "id int, size int")
    with pytest.raises(ValueError, match="positive"):
        pack_sequences(df, "size", 0, order_by=["id"])
    with pytest.raises(ValueError, match="order_by"):
        pack_sequences(df, "size", 8, order_by=[])


def test_top_fraction_matches_serial_window(spark):
    """r6 verdict #3: the two-phase bucket-cut must keep EXACTLY the
    rows of the serial per-group row_number form — heavy ties, NULL
    scores, negatives, 1-row groups, degenerate fractions, and every
    bucket-count regime (1, 4, 256)."""
    from frames_map_reduce_spark.operators.sampling import top_fraction
    import random

    def serial(df, num, den):
        w = Window.partitionBy("src").orderBy(F.col("sc").desc(), "doc")
        wn = Window.partitionBy("src")
        return (df.withColumn("_rn", F.row_number().over(w))
                  .withColumn("_n", F.count(F.lit(1)).over(wn))
                  .filter(F.col("_rn") * den <= F.col("_n") * num))

    random.seed(29)
    for trial in range(6):
        n = random.choice([1, 2, 7, 150])
        rows = [(f"s{i % random.choice([1, 3])}", i,
                 random.choice([7, 7, None, random.randint(-50, 50)]))
                for i in range(n)]
        df = spark.createDataFrame(rows, "src string, doc long, sc long")
        num, den = random.choice([(3, 5), (1, 2), (5, 5), (1, 400)])
        nb = random.choice([1, 4, 256])
        got = sorted((r["src"], r["doc"]) for r in top_fraction(
            df, ["src"], "sc", "doc", num, den, n_buckets=nb).collect())
        want = sorted((r["src"], r["doc"])
                      for r in serial(df, num, den).collect())
        assert got == want, (trial, num, den, nb)


def test_top_fraction_contracts(spark):
    from frames_map_reduce_spark.operators.sampling import top_fraction
    df = spark.createDataFrame([("a", 1, 1.5)], "src string, doc long, sc double")
    with pytest.raises(ValueError, match="integers"):
        top_fraction(df, ["src"], "sc", "doc", 1, 2)
    idf = spark.createDataFrame([("a", 1, 1)], "src string, doc long, sc long")
    with pytest.raises(ValueError):
        top_fraction(idf, ["src"], "sc", "doc", 1, 0)
    with pytest.raises(ValueError):
        top_fraction(idf, ["src"], "sc", "doc", 1, 2, n_buckets=0)
    # no full-group window in the plan: every Window partitions on the
    # bucket column too (or runs over the tiny bucket-count frame)
    from frames_map_reduce_spark.plans import executed_plan
    big = spark.createDataFrame([("s", i, i % 9) for i in range(100)],
                                "src string, doc long, sc long")
    plan = executed_plan(top_fraction(big, ["src"], "sc", "doc", 3, 5))
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan.lower())
    assert specs, plan
    for spec in specs:
        assert "_tf_b" in spec or "_tf_ab" in spec, spec


def test_top_fraction_materialize_modes(spark, documents):
    """r7 verdict #3: ``materialize`` is a pure execution hint — every
    mode keeps EXACTLY the same rows — and "local_checkpoint" truncates
    the lineage so the cut's three references read ONE computed frame
    (no documents scan survives into the final plan; plain exchange
    reuse provably does NOT cover the triple reference because each
    branch prunes a different column set)."""
    from frames_map_reduce_spark.operators.sampling import top_fraction
    from frames_map_reduce_spark.plans import executed_plan
    ranked = documents.select("doc_id", "source",
                              (F.col("n_chars") % 97).alias("r"))
    base = sorted(r["doc_id"] for r in top_fraction(
        ranked, ["source"], "r", "doc_id", 3, 5).collect())
    got = sorted(r["doc_id"] for r in top_fraction(
        ranked, ["source"], "r", "doc_id", 3, 5,
        materialize="local_checkpoint").collect())
    assert got == base
    for mode in ("cache", "persist"):
        with pytest.raises(ValueError, match="materialize"):
            top_fraction(ranked, ["source"], "r", "doc_id", 3, 5,
                         materialize=mode)
    ckpt = top_fraction(ranked, ["source"], "r", "doc_id", 3, 5,
                        materialize="local_checkpoint")
    plan = executed_plan(ckpt)
    # the heavy lineage is BEHIND the checkpoint: the final plan scans
    # the materialized RDD, never the parquet source
    assert "ExistingRDD" in plan, plan[:2000]
    assert "documents" not in plan, plan[:2000]


def test_temperature_mixture_flattens_toward_uniform(spark):
    from frames_map_reduce_spark.operators.sampling import temperature_mixture
    # 1000 'big' rows vs 50 'small' rows: at T=0.5 the big source must be
    # downsampled hard while the smallest source keeps EVERY row (rate 1
    # exactly — integer threshold 2^32 admits all 32-bit hashes)
    rows = [("big", i) for i in range(1000)] + [("small", 10_000 + i) for i in range(50)]
    df = spark.createDataFrame(rows, "src string, id long")
    kept = temperature_mixture(df, "src", "id", temperature=0.5, salt="t")
    got = {r["src"]: r["n"] for r in
           kept.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["small"] == 50                       # smallest: rate 1
    # expected big rate = (1000/50)^(0.5-1) = 20^-0.5 ~ 0.2236 -> ~224 rows;
    # the hash filter is uniform, allow generous sampling slack
    assert 150 <= got["big"] <= 300
    # post-sampling shares are ~sqrt-proportional: 224/50 ~ 4.5 vs 20 before
    assert got["big"] / got["small"] < 8


def test_temperature_mixture_identity_and_contracts(spark):
    from frames_map_reduce_spark.operators.sampling import temperature_mixture
    rows = [("a", 1), ("a", 2), ("b", 3)]
    df = spark.createDataFrame(rows, "src string, id long")
    # T=1: every source keeps rate 1 -> identity (column set preserved)
    out = temperature_mixture(df, "src", "id", temperature=1.0)
    assert sorted(tuple(r) for r in out.collect()) == sorted(rows)
    assert out.columns == df.columns
    import pytest
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError):
            temperature_mixture(df, "src", "id", temperature=bad)


def test_temperature_mixture_partition_invariance(documents):
    from frames_map_reduce_spark.operators.sampling import temperature_mixture
    outs = []
    for n in (1, 13):
        kept = temperature_mixture(documents.repartition(n), "source",
                                   "doc_id", temperature=0.5, salt="pi")
        outs.append(sorted(r["doc_id"] for r in kept.select("doc_id").collect()))
    assert outs[0] == outs[1]


def test_temperature_mixture_token_mass_measure(spark):
    from frames_map_reduce_spark.operators.sampling import temperature_mixture
    # equal ROW counts, wildly different token mass: the count-based form
    # sees a uniform mixture (all rates 1); the mass-based form must
    # downsample the heavy source and keep the light one whole
    rows = ([("heavy", i, 1000) for i in range(200)]
            + [("light", 10_000 + i, 10) for i in range(200)])
    df = spark.createDataFrame(rows, "src string, id long, n_tok int")
    by_count = temperature_mixture(df, "src", "id", 0.5, salt="m")
    assert by_count.count() == 400          # counts equal -> all rates 1
    by_mass = temperature_mixture(df, "src", "id", 0.5, salt="m",
                                  size_col="n_tok")
    got = {r["src"]: r["n"] for r in
           by_mass.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["light"] == 200              # smallest mass keeps rate 1
    # heavy rate = (200000/2000)^-0.5 = 0.1 -> ~20 rows kept
    assert 8 <= got["heavy"] <= 40


def test_pack_sequences_extend_matches_full_repack(spark):
    from frames_map_reduce_spark.operators.packing import (
        pack_sequences, pack_sequences_extend)
    # straddle across the prior tail: old ends mid-block (7 tokens into
    # block 0 of an 8-token grid), new doc spans the boundary
    rows = [("s", 1, 5), ("s", 2, 2), ("s", 3, 4), ("s", 4, 9),
            ("t", 10, 3)]  # group t appears ONLY in the new batch
    df = spark.createDataFrame(rows, "src string, id long, sz long")
    old = df.filter(F.col("id") <= 2)
    new = df.filter(F.col("id") > 2)
    prior = pack_sequences(old, "sz", 8, order_by=["id"], by=["src"])
    inc = pack_sequences_extend(prior, new, "sz", 8,
                                order_by=["id"], by=["src"])
    full = pack_sequences(df, "sz", 8, order_by=["id"], by=["src"])
    assert rows_sorted(inc) == rows_sorted(full)
    # and folding into an EMPTY prior is exactly a first pack
    empty = prior.filter(F.lit(False))
    first = pack_sequences_extend(empty, df, "sz", 8,
                                  order_by=["id"], by=["src"])
    assert rows_sorted(first) == rows_sorted(full)


def test_pack_sequences_extend_global_pack_and_fuzz(spark):
    """Randomized pin: for random sizes and any append split, extend ≡
    full repack — including the global (by=()) pack whose empty-prior
    join must not collapse to zero rows."""
    import random

    from frames_map_reduce_spark.operators.packing import (
        pack_sequences, pack_sequences_extend)
    rng = random.Random(74)
    for trial in range(6):
        n = rng.randint(1, 40)
        rows = [("g" + str(rng.randint(0, 2)), i, rng.randint(0, 7))
                for i in range(n)]
        cut = rng.randint(0, n)
        by = ["src"] if trial % 2 == 0 else []
        df = spark.createDataFrame(rows, "src string, id long, sz long")
        old = df.filter(F.col("id") < cut)
        new = df.filter(F.col("id") >= cut)
        prior = pack_sequences(old, "sz", 5, order_by=["id"], by=by)
        inc = pack_sequences_extend(prior, new, "sz", 5,
                                    order_by=["id"], by=by)
        full = pack_sequences(df, "sz", 5, order_by=["id"], by=by)
        assert rows_sorted(inc) == rows_sorted(full), (trial, cut, rows)


def test_dsir_selects_toward_target(spark, documents):
    """DSIR semantics on the fixture corpus: with gumbel=False the cut
    is the deterministic top half by importance weight, so the kept
    set's mean per-token log-importance must exceed the dropped set's
    (the selection pulls toward the target distribution); with the
    Gumbel perturbation the same holds in aggregate and the output is
    reproducible (same salt → same subset).  Also pins the output
    contract and the fraction arithmetic."""
    from frames_map_reduce_spark.operators.sampling import dsir_resample

    target = documents.filter(F.col("lang") == "en")
    raw = documents.filter(F.col("lang") != "en")
    hard = dsir_resample(raw, target, "text", "doc_id", 1, 2, by=(),
                         n_buckets=256, salt="t", gumbel=False)
    assert set(hard.columns) == {"doc_id", "n_tokens", "logit_sum",
                                 "logit_rank", "dsir_priority"}
    n_scored = raw.filter(F.col("text").isNotNull()).count()
    kept = hard.collect()
    # floor(n/2) of the SCORED rows (tokenless docs are absent)
    assert 0 < len(kept) <= n_scored // 2 + 1
    kept_ids = {r["doc_id"] for r in kept}
    scored_all = dsir_resample(raw, target, "text", "doc_id", 1, 1,
                               by=(), n_buckets=256, salt="t",
                               gumbel=False).collect()
    dropped = [r for r in scored_all if r["doc_id"] not in kept_ids]
    mean = lambda rs: (sum(r["logit_rank"] for r in rs) / len(rs))  # noqa: E731
    assert mean(kept) > mean(dropped)
    # gumbel path: deterministic under the same salt
    g1 = {r["doc_id"] for r in dsir_resample(
        raw, target, "text", "doc_id", 1, 2, by=(), n_buckets=256,
        salt="t").collect()}
    g2 = {r["doc_id"] for r in dsir_resample(
        raw, target, "text", "doc_id", 1, 2, by=(), n_buckets=256,
        salt="t").collect()}
    assert g1 == g2 and len(g1) == len(kept)


def test_dsir_plan_shape(spark, documents):
    """DSIR's 100 TB contract in the plan: the weight-table join is a
    broadcast (never a shuffled join on the token stream), nothing is
    a cartesian product, and no Python appears anywhere (train, score,
    priority, and cut are all JVM expressions — the whole pipeline is
    codegen + hash aggregates)."""
    from frames_map_reduce_spark.operators.sampling import dsir_resample
    from frames_map_reduce_spark.plans import executed_plan

    target = documents.filter(F.col("lang") == "en")
    raw = documents.filter(F.col("lang") != "en")
    out = dsir_resample(raw, target, "text", "doc_id", 1, 2, by=(),
                        n_buckets=256, salt="p")
    plan = executed_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, py


def test_token_ids_extend_live_prior_plan_multibucket(spark):
    """Regression (sf1.0 scale-gate failure, r10): pack_token_ids_extend
    fed a LIVE pack_token_ids PLAN as its prior — not a materialized
    frame — while forcing the multi-bucket offsets path.  The extend's
    internal _running_offsets used to drain the swap cache, unpinning
    the prior's bucketized persist before the merge consumed its rows;
    an unpersisted spark_partition_id bucketing is not stable across
    the two branches that must agree, and tokens vanished
    NONDETERMINISTICALLY at scale.  Pin: composed extend ≡ full repack,
    value-identical, twice (two fresh plans)."""
    from frames_map_reduce_spark.operators.packing import (
        pack_token_ids,
        pack_token_ids_extend,
    )

    rows = [(g, i, list(range(i % 7 + 1)))
            for g in ("a", "b", "c") for i in range(300)]
    df = spark.createDataFrame(
        rows, "g string, doc_id long, token_ids array<int>")
    old = df.filter("doc_id < 240")
    new = df.filter("doc_id >= 240")
    full = sorted(
        (r["g"], r["seq_id"], tuple(r["token_ids"]))
        for r in pack_token_ids(df, "token_ids", 16, order_by=["doc_id"],
                                by=["g"], n_buckets=8).collect())
    for _ in range(2):
        prior = pack_token_ids(old, "token_ids", 16, order_by=["doc_id"],
                               by=["g"], n_buckets=8)
        inc = pack_token_ids_extend(prior, new, "token_ids", 16,
                                    order_by=["doc_id"], by=["g"],
                                    n_buckets=8)
        got = sorted((r["g"], r["seq_id"], tuple(r["token_ids"]))
                     for r in inc.collect())
        assert got == full


def test_extend_only_loop_caches_nothing(spark):
    """r10 ADVICE: an extend-ONLY ingestion loop never reaches a
    top-level pack call, so nothing may accumulate per round: after
    each round's output materializes the session cache manager holds no
    bucketized frame, and the NEXT round's extend still produces
    repack-identical values."""
    from frames_map_reduce_spark.operators import packing as PK

    spark.catalog.clearCache()
    rows = [("g", i, list(range(i % 5 + 1))) for i in range(400)]
    df = spark.createDataFrame(
        rows, "g string, doc_id long, token_ids array<int>")
    prior = PK.pack_token_ids(df.filter("doc_id < 100"), "token_ids", 16,
                              order_by=["doc_id"], by=["g"], n_buckets=4)
    prior = spark.createDataFrame(prior.collect(), prior.schema)
    assert cache_is_empty(spark)
    for lo, hi in ((100, 200), (200, 300), (300, 400)):
        batch = df.filter(f"doc_id >= {lo} and doc_id < {hi}")
        ext = PK.pack_token_ids_extend(prior, batch, "token_ids", 16,
                                       order_by=["doc_id"], by=["g"],
                                       n_buckets=4)
        # materialize THIS round's output: the cache manager stays empty
        prior = spark.createDataFrame(ext.collect(), ext.schema)
        assert cache_is_empty(spark)
    full = sorted(
        (r["g"], r["seq_id"], tuple(r["token_ids"]), r["n_tokens"])
        for r in PK.pack_token_ids(df, "token_ids", 16,
                                   order_by=["doc_id"], by=["g"],
                                   n_buckets=4).collect())
    got = sorted((r["g"], r["seq_id"], tuple(r["token_ids"]), r["n_tokens"])
                 for r in prior.collect())
    assert got == full


class TestTokenBudgetSample:
    def _frame(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, src string, c long")

    def test_prefix_property_and_serial_equivalence(self, spark):
        """The kept set is the exact shuffle-order prefix fitting the
        budget, and the bucket decomposition (every n_buckets) equals
        the serial window form computed directly."""
        from frames_map_reduce_spark.operators.sampling import (
            hash_unit, token_budget_sample)
        rows = [(i, "a" if i % 3 else "b", (i * 7) % 23) for i in range(60)]
        df = self._frame(spark, rows)
        serial = (df.withColumn("_h", hash_unit(F.col("doc_id"), "s1"))
                    .withColumn("run", F.sum("c").over(
                        Window.partitionBy("src").orderBy("_h", "doc_id")
                              .rowsBetween(Window.unboundedPreceding, 0)))
                    .filter(F.col("run") <= 40))
        want = sorted((r.doc_id, r.src, r.c, r.run)
                      for r in serial.collect())
        assert want  # budget actually bites
        for nb in (1, 4, 256):
            out = token_budget_sample(df, "c", "doc_id", budget=40,
                                      by="src", salt="s1", n_buckets=nb)
            got = sorted((r.doc_id, r.src, r.c, r.tokens_through)
                         for r in out.collect())
            assert got == want, f"n_buckets={nb}"

    def test_global_stream_and_null_costs_free(self, spark):
        from frames_map_reduce_spark.operators.sampling import (
            token_budget_sample)
        df = spark.createDataFrame(
            [(1, 5), (2, None), (3, 5), (4, 5), (5, None)],
            "doc_id long, c long")
        out = token_budget_sample(df, "c", "doc_id", budget=10)
        rows = out.collect()
        # NULL costs are free: total kept cost ≤ 10 counting NULL as 0
        assert sum(r.c or 0 for r in rows) <= 10
        assert max(r.tokens_through for r in rows) <= 10
        # every NULL-cost row inside the kept prefix survives
        kept = {r.doc_id for r in rows}
        assert kept  # budget admits at least the cheapest prefix

    def test_budget_mapping_and_unmapped_drop(self, spark):
        from frames_map_reduce_spark.operators.sampling import (
            token_budget_sample)
        df = self._frame(spark, [(1, "a", 3), (2, "a", 3), (3, "zz", 1)])
        out = token_budget_sample(df, "c", "doc_id",
                                  budget={"a": 100}, by="src", salt="s")
        got = sorted(r.doc_id for r in out.collect())
        assert got == [1, 2]  # zz unmapped -> budget 0 -> dropped

    def test_negative_cost_raises_named(self, spark):
        from frames_map_reduce_spark.operators.sampling import (
            token_budget_sample)
        df = self._frame(spark, [(1, "a", -5)])
        out = token_budget_sample(df, "c", "doc_id", budget=10, by="src")
        with pytest.raises(Exception, match="prefix monotonicity"):
            out.collect()

    def test_bad_n_buckets(self, spark):
        from frames_map_reduce_spark.operators.sampling import (
            token_budget_sample)
        df = self._frame(spark, [(1, "a", 1)])
        with pytest.raises(ValueError):
            token_budget_sample(df, "c", "doc_id", budget=1, n_buckets=3)

    def test_null_group_kept_under_uniform_budget(self, spark):
        """r12 advice (medium): a NULL `by` group must behave as a
        group — under a uniform budget its prefix is KEPT (the serial
        window form keeps it), not silently dropped by a non-null-safe
        offsets join; under a mapping it is unmapped → budget 0."""
        from frames_map_reduce_spark.operators.sampling import (
            hash_unit, token_budget_sample)
        rows = [(i, None if i % 2 else "a", (i * 5) % 11)
                for i in range(40)]
        df = self._frame(spark, rows)
        serial = (df.withColumn("_h", hash_unit(F.col("doc_id"), "s9"))
                    .withColumn("run", F.sum("c").over(
                        Window.partitionBy("src").orderBy("_h", "doc_id")
                              .rowsBetween(Window.unboundedPreceding, 0)))
                    .filter(F.col("run") <= 25))
        want = sorted((r.doc_id, r.src, r.run) for r in serial.collect())
        assert any(s is None for _, s, _ in want)  # NULL group bites
        for nb in (1, 8, 256):
            out = token_budget_sample(df, "c", "doc_id", budget=25,
                                      by="src", salt="s9", n_buckets=nb)
            got = sorted((r.doc_id, r.src, r.tokens_through)
                         for r in out.collect())
            assert got == want, f"n_buckets={nb}"
        # mapping: NULL group is unmapped -> dropped entirely
        mapped = token_budget_sample(df, "c", "doc_id", budget={"a": 1000},
                                     by="src", salt="s9")
        assert all(r.src == "a" for r in mapped.collect())

    def test_sql_twin_guard_and_key_rendering(self, spark):
        """r12 advice (low x2): the DuckDB twin fails on negative costs
        exactly like the Spark form, and budget-mapping keys render
        typed (numbers bare, quotes escaped)."""
        import duckdb

        from frames_map_reduce_spark.operators.sampling import (
            token_budget_sample_sql)
        con = duckdb.connect()
        con.execute("CREATE OR REPLACE TABLE tbs_t AS SELECT * FROM ("
                    "VALUES (1, 'a', -5)) v(doc_id, src, c)")
        sql = token_budget_sample_sql("tbs_t", "c", "doc_id", 10, by="src")
        with pytest.raises(duckdb.Error, match="negative cost"):
            con.execute(sql).fetchall()
        # typed keys: int key renders unquoted and matches an int column
        con.execute("CREATE OR REPLACE TABLE tbs_i AS SELECT * FROM ("
                    "VALUES (1, 7, 3), (2, 8, 3)) v(doc_id, grp, c)")
        sql = token_budget_sample_sql("tbs_i", "c", "doc_id",
                                      {7: 100}, by="grp")
        assert "WHEN 7 THEN" in sql
        got = con.execute(sql).fetchall()
        assert [r[0] for r in got] == [1]
        # a quote inside a string key must not break the SQL
        sql = token_budget_sample_sql("tbs_t", "c", "doc_id",
                                      {"o'b": 10}, by="src")
        assert "WHEN 'o''b' THEN" in sql
