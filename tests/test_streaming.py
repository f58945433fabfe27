"""Structured Streaming pipeline tests: the fold vocabulary over streams,
checked against the equivalent batch result (availableNow + memory sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frames_map_reduce_spark import folds
from frames_map_reduce_spark.mapreduce import unpack_filter_on_field, unpack_no_op
from frames_map_reduce_spark.streaming import stream_map_reduce, stream_to_memory
from tests.conftest import cache_is_empty


@pytest.fixture()
def events_dir(spark, tmp_path):
    rows = [
        ("2024-01-01 00:05:00", "click", 1.0),
        ("2024-01-01 00:15:00", "click", 2.0),
        ("2024-01-01 00:45:00", "view", 3.0),
        ("2024-01-01 01:05:00", "click", 4.0),
        ("2024-01-01 01:20:00", "view", 5.0),
    ]
    df = spark.createDataFrame(rows, "ts_s string, event_type string, value double") \
              .select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    out = str(tmp_path / "events_stream")
    df.coalesce(1).write.parquet(out)
    return out, df


def test_windowed_stream_agg_matches_batch(spark, events_dir):
    path, batch_df = events_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    result = stream_map_reduce(
        stream, unpack_no_op(), keys=["event_type"],
        fold=folds.count_star("n") & folds.sum_("value"),
        ts_col="ts", window="1 hour", watermark="2 hours")
    q = stream_to_memory(result, "win_agg")
    q.awaitTermination(60)
    got = {(r["window"]["start"].isoformat(), r["event_type"]): (r["n"], r["value"])
           for r in spark.sql("SELECT * FROM win_agg").collect()}
    assert got[("2024-01-01T00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01T00:00:00", "view")] == (1, 3.0)
    assert got[("2024-01-01T01:00:00", "click")] == (1, 4.0)
    assert got[("2024-01-01T01:00:00", "view")] == (1, 5.0)


def test_unwindowed_stream_with_filter(spark, events_dir):
    path, batch_df = events_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    result = stream_map_reduce(
        stream,
        unpack_filter_on_field("event_type", lambda c: c == "click"),
        keys=["event_type"],
        fold=folds.sum_("value"))
    q = stream_to_memory(result, "flt_agg")
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM flt_agg").collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 7.0


def test_session_windows(spark, events_dir):
    from frames_map_reduce_spark.streaming import stream_sessions
    path, batch_df = events_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    result = stream_sessions(stream, ["event_type"], "ts",
                             folds.count_star("n"), gap="30 minutes")
    q = stream_to_memory(result, "sess")
    q.awaitTermination(60)
    rows = spark.sql("SELECT event_type, n FROM sess").collect()
    got = sorted((r["event_type"], r["n"]) for r in rows)
    # clicks at 00:05/00:15 form one session; 01:05 another.
    # views at 00:45 and 01:20 are two sessions (gap > 30m).
    assert got == [("click", 1), ("click", 2), ("view", 1), ("view", 1)]


def test_stateful_counts(spark, events_dir):
    from frames_map_reduce_spark.streaming import stream_stateful_counts
    path, batch_df = events_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    result = stream_stateful_counts(stream, "event_type")
    q = stream_to_memory(result, "statec", output_mode="update")
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM statec").collect()
    got = {r["event_type"]: r["n"] for r in rows}
    assert got == {"click": 3, "view": 2}


def test_stream_stream_join_bounded(spark, tmp_path):
    """Stream-stream join with watermarks + range bound: each left row
    pairs with right rows of the same key within the lookback window."""
    import datetime as dt

    from frames_map_reduce_spark.streaming import stream_stream_join

    base = dt.datetime(2024, 1, 1, 12)
    lrows = [(1, base, "L1"), (2, base, "L2")]
    rrows = [(1, base - dt.timedelta(minutes=30), "R1"),   # inside 1h
             (1, base - dt.timedelta(hours=2), "R2"),      # too old
             (1, base + dt.timedelta(minutes=1), "R3"),    # future — excluded
             (2, base, "R4")]                              # equal ts — inside
    spark.createDataFrame(lrows, "k long, lts timestamp, lid string") \
        .write.mode("overwrite").parquet(str(tmp_path / "l"))
    spark.createDataFrame(rrows, "k long, rts timestamp, rid string") \
        .write.mode("overwrite").parquet(str(tmp_path / "r"))
    ls = spark.readStream.schema("k long, lts timestamp, lid string") \
        .parquet(str(tmp_path / "l"))
    rs = spark.readStream.schema("k long, rts timestamp, rid string") \
        .parquet(str(tmp_path / "r"))
    joined = stream_stream_join(ls, rs, ["k"], "lts", "rts", lookback="1 hour")
    q = (joined.writeStream.format("memory").queryName("ssj_test")
               .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["lid"], r["rid"]) for r in spark.table("ssj_test").collect()}
    assert got == {("L1", "R1"), ("L2", "R4")}


def test_stream_dedup_exact_matches_batch_distinct(spark, events_dir):
    """Exact regime (no watermark): streamed dedup emits exactly the
    batch DISTINCT set."""
    import uuid

    from frames_map_reduce_spark.streaming import stream_dedup

    path, batch_df = events_dir
    stream = (spark.readStream.schema(batch_df.schema).parquet(path)
                   .select("event_type"))
    dd = stream_dedup(stream, ["event_type"])
    name = f"t_dedup_{uuid.uuid4().hex[:8]}"
    q = (dd.writeStream.format("memory").queryName(name)
           .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(r["event_type"] for r in spark.table(name).collect())
    want = sorted(r["event_type"] for r in
                  batch_df.select("event_type").distinct().collect())
    assert got == want


def test_stream_dedup_within_watermark(spark, events_dir):
    """Bounded-state regime: duplicates inside the watermark horizon are
    dropped; state requires ts_col + watermark."""
    import uuid

    from frames_map_reduce_spark.streaming import stream_dedup

    path, batch_df = events_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    dd = stream_dedup(stream, ["event_type"], ts_col="ts", watermark="2 hours")
    name = f"t_dedup_wm_{uuid.uuid4().hex[:8]}"
    q = (dd.writeStream.format("memory").queryName(name)
           .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    # the fixture spans ~80 min < 2 h horizon → exactly one row per key
    got = sorted(r["event_type"] for r in spark.table(name).collect())
    assert got == ["click", "view"]

    with pytest.raises(ValueError):
        stream_dedup(stream, ["event_type"], watermark="1 hour")


def test_sliding_window_late_drop(spark, tmp_path):
    """Pins the late-data contract the stream_sliding driver query builds
    on: with maxFilesPerTrigger=1 + availableNow (one micro-batch per
    staged file, oldest mtime first),

    1. append mode emits exactly the windows with end <= watermark,
       INCLUDING the end == watermark boundary;
    2. a row arriving after its windows were evicted is dropped, not
       re-aggregated — the watermark-drop semantics;
    3. a row arriving in the very next batch after its window data (state
       not yet evicted) is still MERGED: the drop guarantee needs the
       eviction batch in between, which is why the driver query stages a
       separate 'tick' file before the late file.
    """
    import os
    import uuid

    rows_on_time = [(i, f"2024-01-01 0{h}:{m:02d}:00", "click", 1.0)
                    for i, (h, m) in enumerate(
                        [(0, 5), (0, 35), (1, 5), (1, 35),
                         (2, 5), (2, 35), (3, 5), (3, 30)])]
    # max on-time ts 03:30 → watermark = 03:00 == end of [02:00, 03:00)
    rows_tick = [(50, "2024-01-01 03:30:00", "tick", 0.0)]
    rows_late = [(100, "2024-01-01 00:10:00", "click", 1.0)]
    schema = "event_id long, ts_s string, event_type string, value double"

    base = tmp_path / "sliding"
    stage = base / "in"
    os.makedirs(stage)
    for i, rows in enumerate((rows_on_time, rows_tick, rows_late)):
        df = (spark.createDataFrame(rows, schema)
                   .select("event_id", F.to_timestamp("ts_s").alias("ts"),
                           "event_type", "value"))
        out = str(base / f"f{i}")
        df.coalesce(1).write.parquet(out)
        part = next(p for p in os.listdir(out) if p.endswith(".parquet"))
        dst = str(stage / f"{i}.parquet")
        os.rename(os.path.join(out, part), dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    ref = (spark.createDataFrame(rows_on_time, schema)
                .select(F.to_timestamp("ts_s").alias("ts")))
    stream = (spark.readStream.schema(
                  "event_id long, ts timestamp, event_type string, value double")
                   .option("maxFilesPerTrigger", "1").parquet(str(stage)))
    result = stream_map_reduce(
        stream, unpack_no_op(), keys=["event_type"],
        fold=folds.count_star("n"),
        ts_col="ts", window="1 hour", slide="30 minutes",
        watermark="30 minutes")
    name = f"t_sliding_{uuid.uuid4().hex[:8]}"
    q = (result.writeStream.format("memory").queryName(name)
               .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["window"]["start"].isoformat(), r["event_type"]): r["n"]
           for r in spark.table(name).collect()}
    # watermark 03:00: emitted = click windows ending <= 03:00, late row
    # (00:10, arriving after eviction) dropped; the == boundary window
    # [02:00, 03:00) IS emitted; tick windows end past the mark.
    assert got == {
        ("2023-12-31T23:30:00", "click"): 1,   # 00:05 only — late 00:10 dropped
        ("2024-01-01T00:00:00", "click"): 2,   # 00:05, 00:35
        ("2024-01-01T00:30:00", "click"): 2,   # 00:35, 01:05
        ("2024-01-01T01:00:00", "click"): 2,
        ("2024-01-01T01:30:00", "click"): 2,
        ("2024-01-01T02:00:00", "click"): 2,   # end == watermark: emitted
    }


def test_stream_near_dup_firewall(spark, tmp_path):
    """Streaming near-dup firewall vs a static reference corpus: exact
    copies and near-dups of reference docs are flagged with the right
    Jaccard, unrelated docs pass — and the streaming result equals the
    SAME operator run on the identical data as a batch frame (full value
    parity; the only streaming-specific op is the final pair-dedup)."""
    from frames_map_reduce_spark.streaming import stream_near_dup

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to find food for the winter")
    ref = spark.createDataFrame(
        [(100, base),
         (101, "completely different reference text about query engines "
               "and distributed aggregation pipelines at massive scale")],
        "ref_id long, text string").withColumnRenamed("ref_id", "doc_id")

    incoming = [
        (1, base),                                   # exact copy of 100
        (2, base.replace("winter", "summer")),       # near-dup of 100
        (3, "totally unrelated incoming document discussing cooking "
            "recipes and the best way to bake sourdough bread at home"),
    ]
    inc_df = spark.createDataFrame(incoming, "doc_id long, text string")
    path = str(tmp_path / "incoming")
    inc_df.coalesce(1).write.parquet(path)

    stream = spark.readStream.schema(inc_df.schema).parquet(path)
    out = stream_near_dup(stream, ref, "text", "doc_id", threshold=0.5)
    q = stream_to_memory(out, "near_dup_fw", output_mode="append")
    q.awaitTermination(120)
    got = {(r["doc_id"], r["ref_id"]): r["jaccard"]
           for r in spark.sql("SELECT * FROM near_dup_fw").collect()}

    assert got[(1, 100)] == 1.0
    assert 0.5 <= got[(2, 100)] < 1.0
    assert all(k[0] != 3 for k in got), got

    batch = {(r["doc_id"], r["ref_id"]): r["jaccard"]
             for r in stream_near_dup(inc_df, ref, "text", "doc_id",
                                      threshold=0.5).collect()}
    assert got == batch


def test_stream_embedding_firewall(spark, tmp_path):
    """Embedding-space firewall: a streamed vector identical to a
    reference vector is flagged at cosine 1.0; orthogonal vectors pass.
    Streaming result equals the batch run of the same operator."""
    from frames_map_reduce_spark.streaming import stream_embedding_near_dup

    v = [1.0, 0.0, 0.0, 0.0]
    ref = spark.createDataFrame(
        [(100, v), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    incoming = [(1, v), (2, [0.9, 0.1, 0.0, 0.0]), (3, [0.0, 0.0, 1.0, 0.0])]
    inc_df = spark.createDataFrame(incoming,
                                   "vec_id long, embedding array<float>")
    path = str(tmp_path / "vec_in")
    inc_df.coalesce(1).write.parquet(path)

    stream = spark.readStream.schema(inc_df.schema).parquet(path)
    out = stream_embedding_near_dup(stream, ref, "embedding", "vec_id",
                                    threshold=0.9, n_planes=3)
    q = stream_to_memory(out, "vec_fw", output_mode="append")
    q.awaitTermination(120)
    got = {(r["vec_id"], r["ref_id"]): r["cosine_sim"]
           for r in spark.sql("SELECT * FROM vec_fw").collect()}
    assert got.get((1, 100)) == 1.0
    assert all(k[0] != 3 for k in got), got

    batch = {(r["vec_id"], r["ref_id"]): r["cosine_sim"]
             for r in stream_embedding_near_dup(
                 inc_df, ref, "embedding", "vec_id",
                 threshold=0.9, n_planes=3).collect()}
    assert got == batch


def test_stream_merge_snapshot_equals_batch_compaction(spark, tmp_path):
    """The streaming CDC story end-to-end: a changelog streamed in
    MULTIPLE micro-batches maintains a snapshot equal to the batch
    compaction of the full log — including a key upserted in batch 1
    and tombstoned in batch 2, and a delete superseded later."""
    from frames_map_reduce_spark.operators.cdc import compact_latest
    from frames_map_reduce_spark.streaming import (
        read_snapshot,
        stream_merge_snapshot,
    )

    schema = "k long, v long, is_delete boolean, val double"
    batch1 = [(1, 1, False, 10.0), (2, 1, False, 20.0), (3, 1, False, 30.0),
              (4, 1, True, None)]
    batch2 = [(2, 2, True, None),          # delete an existing key
              (3, 2, False, 31.0),         # update
              (4, 2, False, 40.0),         # resurrect after earlier delete
              (5, 1, False, 50.0)]         # insert
    src = str(tmp_path / "log")
    spark.createDataFrame(batch1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(src))
    snap_dir = str(tmp_path / "snap")
    q = stream_merge_snapshot(
        stream, snap_dir, keys=["k"], version=["v"],
        tombstone_col="is_delete",
        checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = sorted(map(tuple, read_snapshot(spark, snap_dir)
                     .select("k", "v", "is_delete", "val").collect()))
    full = spark.createDataFrame(batch1 + batch2, schema)
    want = sorted(map(tuple, compact_latest(
        full, ["k"], ["v"],
        tombstone=F.col("is_delete")).select("k", "v", "is_delete", "val")
        .collect()))
    assert got == want
    # 2 tombstoned; 4's early delete superseded by the later upsert
    assert {r[0] for r in got} == {1, 3, 4, 5}

    # full reprocess with a FRESH checkpoint (batch ids restart at 0):
    # the replay guard is LINEAGE-BOUND, so nothing is skipped — every
    # batch re-merges, and only_newer makes the re-merge a no-op —
    # snapshot unchanged
    q2 = stream_merge_snapshot(
        stream, snap_dir, keys=["k"], version=["v"],
        tombstone_col="is_delete",
        checkpoint=str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    again = sorted(map(tuple, read_snapshot(spark, snap_dir)
                       .select("k", "v", "is_delete", "val").collect()))
    assert again == want

    # the r4-ADVICE data-loss scenario: the source GROWS, then is
    # reprocessed under yet another fresh checkpoint.  The new rows land
    # in low batch ids (0..2) — a batch-id-only guard would skip them
    # silently; the lineage-bound guard must merge them.
    batch3 = [(6, 1, False, 60.0),          # brand-new key
              (3, 3, False, 32.0)]          # newer version of existing key
    spark.createDataFrame(batch3, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q3 = stream_merge_snapshot(
        stream, snap_dir, keys=["k"], version=["v"],
        tombstone_col="is_delete",
        checkpoint=str(tmp_path / "ckpt3"))
    q3.awaitTermination(120)
    grown = sorted(map(tuple, read_snapshot(spark, snap_dir)
                       .select("k", "v", "is_delete", "val").collect()))
    full3 = spark.createDataFrame(batch1 + batch2 + batch3, schema)
    want3 = sorted(map(tuple, compact_latest(
        full3, ["k"], ["v"],
        tombstone=F.col("is_delete")).select("k", "v", "is_delete", "val")
        .collect()))
    assert grown == want3
    assert (6, 1, False, 60.0) in grown
    assert (3, 3, False, 32.0) in grown


def test_gate_batches_run_under_caller_local_properties(spark, tmp_path,
                                                       monkeypatch):
    """Every micro-batch of a foreachBatch gate runs under the local
    properties its caller held at start, even after an earlier batch
    cleared one (as a span scope that closes on the query's thread
    does); the query keeps its own job group."""
    from pyspark import TaskContext

    from frames_map_reduce_spark.operators import cdc
    from frames_map_reduce_spark.streaming import (
        read_snapshot,
        stream_merge_snapshot,
    )

    key = "fmr.test.caller"
    sc = spark.sparkContext

    @F.udf("string")
    def seen(_):
        props = TaskContext.get()
        return (f"{props.getLocalProperty(key)}|"
                f"{props.getLocalProperty('spark.jobGroup.id')}")

    compact_latest, cleared = cdc.compact_latest, []

    def compact_then_clear(*args, **kwargs):
        # first call (batch 1) only: removes the property on the query's
        # thread; merge_upsert calls compact_latest again in batch 2
        if not cleared:
            cleared.append(True)
            sc.setLocalProperty(key, None)
        return compact_latest(*args, **kwargs)

    monkeypatch.setattr(cdc, "compact_latest", compact_then_clear)
    schema = "k long, v long"
    src = str(tmp_path / "log")
    for rows in ([(1, 1), (2, 1)], [(3, 1), (4, 1)]):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withColumn("seen", seen("k")))
    snap_dir = str(tmp_path / "snap")
    sc.setLocalProperty(key, "caller")
    sc.setLocalProperty("spark.jobGroup.id", "caller-group")
    try:
        q = stream_merge_snapshot(stream, snap_dir, keys=["k"],
                                  version=["v"])
    finally:
        sc.setLocalProperty(key, None)
        sc.setLocalProperty("spark.jobGroup.id", None)
    q.awaitTermination(120)
    got = dict(map(tuple, read_snapshot(spark, snap_dir)
                   .select("k", "seen").collect()))
    # batch 2's rows were computed under the caller's value again, in
    # the query's own job group (its run id), not the caller's
    assert got[3] == got[4] == f"caller|{q.runId}"


def test_stream_classifier_gate_threshold_filters(spark, documents, tmp_path):
    """The gate's threshold form drops below-gate and tokenless rows
    inside the stream (append mode, no state, no watermark)."""
    import glob
    import shutil

    from frames_map_reduce_spark.operators import classifier as CLF
    from frames_map_reduce_spark.streaming import stream_classifier_gate
    from pyspark.sql import functions as F

    labeled = documents.withColumn("_pos", F.col("lang") == "en")
    w = CLF.train_logodds_classifier(labeled, "text", "_pos",
                                     n_buckets=128, salt="sg")
    w_rows = [(r["bucket"], r["weight"]) for r in w.collect()]

    inc = documents.select("doc_id", "text")
    inc.coalesce(1).write.parquet(str(tmp_path / "f0"))
    stage = tmp_path / "in"
    stage.mkdir()
    shutil.move(glob.glob(str(tmp_path / "f0" / "part-*.parquet"))[0],
                str(stage / "0.parquet"))
    stream = spark.readStream.schema(inc.schema).parquet(str(stage))

    # batch truth: who clears the median-ish gate?
    scored = CLF.classifier_score(documents, w, "text", "doc_id",
                                  n_buckets=128, salt="sg")
    thr = 0
    expect = sorted(r["doc_id"] for r in
                    scored.filter(F.col("logit_rank") >= thr).collect())

    gated = stream_classifier_gate(stream, w_rows, "text", n_buckets=128,
                                   salt="sg", threshold_micro=thr)
    q = (gated.select("doc_id").writeStream.format("memory")
              .queryName("sg_gate").outputMode("append")
              .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(r["doc_id"] for r in spark.table("sg_gate").collect())
    assert got == expect


def test_stream_ingest_gate_is_stateless_and_matches_batch(spark, documents):
    """The composed admission gate (r8): applied to a STATIC frame, the
    whole plan is one exchange-free, join-free stage (the stateless
    contract both component gates promise — the literal word spine and
    weight table never induce a shuffle), and the verdicts equal the
    batch forms' composition: accept = NOT probe-verdict AND
    score-rank >= 0, NULL-propagating."""
    from frames_map_reduce_spark.operators import bloom as BL
    from frames_map_reduce_spark.operators import classifier as CLF
    from frames_map_reduce_spark.plans import executed_plan
    from frames_map_reduce_spark.streaming import stream_ingest_gate

    ref = documents.filter(F.col("doc_id") % 4 == 0)
    words = [(r["_word"], r["_bits"])
             for r in BL.bloom_words(ref, "text").collect()]
    labeled = documents.withColumn("_en", F.col("lang") == "en")
    weights = [(r["bucket"], r["weight"]) for r in
               CLF.train_logodds_classifier(labeled, "text", "_en",
                                            n_buckets=64,
                                            salt="sig").collect()]
    gated = stream_ingest_gate(documents.select("doc_id", "text"),
                               words, weights, "text",
                               n_buckets=64, salt="sig")
    plan = executed_plan(gated)
    assert "Exchange" not in plan, plan[:1500]
    for node in ("Join", "HashAggregate", "Window"):
        assert node not in plan, (node, plan[:1500])

    got = {r["doc_id"]: (r["maybe_dup"], r["quality_ok"], r["accept"])
           for r in gated.collect()}
    probe = {r["doc_id"]: r["maybe_dup"] for r in
             documents.select(
                 "doc_id",
                 BL.bloom_gate_columns(words, "text").alias("maybe_dup"))
             .collect()}
    score = {r["doc_id"]: r["logit_rank"] for r in
             CLF.classifier_score(documents, spark.createDataFrame(
                 weights, "bucket int, weight long"), "text", "doc_id",
                 n_buckets=64, salt="sig").collect()}
    for d, (m, q, a) in got.items():
        assert m == probe[d]
        expect_q = (score[d] >= 0) if d in score else None
        assert q == expect_q
        # three-valued AND: a definite False wins; otherwise NULL
        # propagates; otherwise plain boolean AND
        if m is True or expect_q is False:
            assert a is False
        elif m is None or expect_q is None:
            assert a is None
        else:
            assert a == ((not m) and expect_q)


def test_stream_ingest_gate_v2_matches_batch_composition(spark, documents,
                                                         tmp_path):
    """The FULL streaming gate (r8 verdict #2): over a REAL multi-batch
    file stream (maxFilesPerTrigger=1 over 3 staged splits), every
    document's four verdicts equal the batch composition — Bloom gate
    expression, classifier score, and minhash_probe_index against the
    same persisted index — with accept the three-valued AND of all
    three screens.  Also pins the rig contract: one batch_id partition
    per micro-batch, each document exactly once across them."""
    from frames_map_reduce_spark.operators import bloom as BL
    from frames_map_reduce_spark.operators import classifier as CLF
    from frames_map_reduce_spark.operators import dedup as DD
    from frames_map_reduce_spark.streaming import stream_ingest_gate_v2

    ref = documents.filter(F.col("doc_id") % 4 == 0)
    words = [(r["_word"], r["_bits"])
             for r in BL.bloom_words(ref, "text").collect()]
    labeled = documents.withColumn("_en", F.col("lang") == "en")
    weights = [(r["bucket"], r["weight"]) for r in
               CLF.train_logodds_classifier(labeled, "text", "_en",
                                            n_buckets=64,
                                            salt="sig").collect()]
    table = "t_sgv2_mh"
    try:
        DD.build_minhash_index(ref, table, "text", "doc_id")
        inc = documents.select("doc_id", "source", "text")
        stage = str(tmp_path / "in")
        inc.repartition(3).write.parquet(stage)
        stream = (spark.readStream.schema(inc.schema)
                       .option("maxFilesPerTrigger", 1).parquet(stage))
        q = stream_ingest_gate_v2(
            stream, words, weights, "text", "doc_id", table,
            str(tmp_path / "out"), n_buckets=64, salt="sig",
            threshold=0.6, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination()
        out = spark.read.parquet(str(tmp_path / "out"))
        # 3 splits x 1 file/trigger = 3 micro-batches, disjoint rows
        assert out.select("batch_id").distinct().count() == 3
        assert out.count() == inc.count()
        got = {r["doc_id"]: (r["maybe_dup"], r["quality_ok"],
                             r["is_near_dup"], r["accept"])
               for r in out.collect()}

        probe = {r["doc_id"]: r["maybe_dup"] for r in
                 documents.select(
                     "doc_id",
                     BL.bloom_gate_columns(words, "text")
                       .alias("maybe_dup")).collect()}
        score = {r["doc_id"]: r["logit_rank"] for r in
                 CLF.classifier_score(
                     documents, spark.createDataFrame(
                         weights, "bucket int, weight long"),
                     "text", "doc_id",
                     n_buckets=64, salt="sig").collect()}
        nd = {r["doc_id"] for r in
              DD.minhash_probe_index(spark, table, inc, "text", "doc_id",
                                     threshold=0.6)
                .select("doc_id").distinct().collect()}
        assert any(nd) and not got.keys() == nd  # screen discriminates
        for d, (m, qk, n, a) in got.items():
            assert m == probe[d]
            expect_q = (score[d] >= 0) if d in score else None
            assert qk == expect_q
            assert n == (d in nd)
            if m is True or expect_q is False or n:
                assert a is False
            elif m is None or expect_q is None:
                assert a is None
            else:
                assert a == ((not m) and expect_q and not n)
    finally:
        for suffix in ("_buckets", "_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_gate_v2_replay_idempotent(spark, documents, tmp_path):
    """The per-batch-overwrite idempotence claim PROVEN (r9 verdict
    stretch #8): foreachBatch is at-least-once, so the same micro-batch
    can be redelivered — simulated here by running the gate TWICE over
    the same staged input with a FRESH checkpoint (the second run
    replays every batch under the same batch ids).  The sink must read
    identically row-for-row after the replay: same rows, same verdict
    values, no duplicates accumulated."""
    from frames_map_reduce_spark.operators import bloom as BL
    from frames_map_reduce_spark.operators import classifier as CLF
    from frames_map_reduce_spark.operators import dedup as DD
    from frames_map_reduce_spark.streaming import stream_ingest_gate_v2

    ref = documents.filter(F.col("doc_id") % 4 == 0)
    words = [(r["_word"], r["_bits"])
             for r in BL.bloom_words(ref, "text").collect()]
    labeled = documents.withColumn("_en", F.col("lang") == "en")
    weights = [(r["bucket"], r["weight"]) for r in
               CLF.train_logodds_classifier(labeled, "text", "_en",
                                            n_buckets=64,
                                            salt="sig").collect()]
    table = "t_sgv2_replay_mh"
    try:
        DD.build_minhash_index(ref, table, "text", "doc_id")
        inc = documents.select("doc_id", "source", "text")
        stage = str(tmp_path / "in")
        inc.repartition(2).write.parquet(stage)
        sink = str(tmp_path / "out")

        def run(ckpt: str) -> None:
            stream = (spark.readStream.schema(inc.schema)
                           .option("maxFilesPerTrigger", 1).parquet(stage))
            q = stream_ingest_gate_v2(
                stream, words, weights, "text", "doc_id", table,
                sink, n_buckets=64, salt="sig", threshold=0.6,
                checkpoint=str(tmp_path / ckpt))
            q.awaitTermination()

        run("ckpt1")
        first = sorted(map(tuple, spark.read.parquet(sink).collect()))
        assert first  # the first delivery produced rows
        run("ckpt2")  # fresh checkpoint = full redelivery, same batch ids
        second = sorted(map(tuple, spark.read.parquet(sink).collect()))
        assert second == first
    finally:
        for suffix in ("_buckets", "_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_stream_drift_monitor_matches_batch_and_replays(spark, documents,
                                                        tmp_path):
    """The streaming PSI monitor must (a) equal the batch
    psi_against_reference on each staged batch, (b) score the reference
    against itself as EXACTLY zero drift, and (c) read identically
    after a full replay with a fresh checkpoint (per-batch-overwrite
    idempotence, the gate_v2 sink convention)."""
    from frames_map_reduce_spark.operators.quality import (
        bin_counts,
        psi_against_reference,
        quantile_breakpoints,
    )
    from frames_map_reduce_spark.streaming import stream_drift_monitor

    ref = documents.filter(F.col("doc_id") % 2 == 0)
    bks = quantile_breakpoints(ref, "n_chars", n_bins=4)
    counts = bin_counts(ref, "n_chars", bks)

    stage = str(tmp_path / "in")
    ref.select("doc_id", "n_chars").coalesce(1).write.parquet(stage)
    sink = str(tmp_path / "out")

    def run(ckpt: str) -> None:
        stream = (spark.readStream
                       .schema("doc_id long, n_chars long")
                       .parquet(stage))
        q = stream_drift_monitor(stream, "n_chars", bks, counts, sink,
                                 checkpoint=str(tmp_path / ckpt))
        q.awaitTermination()

    run("ckpt1")
    got = [tuple(r) for r in spark.read.parquet(sink)
           .select("n_rows", "psi_micro").collect()]
    # (a)+(b): one batch, the reference itself -> zero drift exactly
    want = [tuple(r) for r in psi_against_reference(
        ref, "n_chars", bks, counts).collect()]
    assert got == want
    assert got[0][1] == 0

    run("ckpt2")   # fresh checkpoint: full at-least-once replay
    again = [tuple(r) for r in spark.read.parquet(sink)
             .select("n_rows", "psi_micro").collect()]
    assert again == got


def test_stream_quality_dashboard_matches_batch_and_replays(
        spark, documents, tmp_path):
    """The per-batch quality dashboard (r10 verdict #8) must (a) equal
    the three batch monitors computed directly on the staged batch —
    half-up mean entropy micronats, psi_against_reference, and the
    classifier gate's pass count + logit mass — and (b) read
    identically after a full replay with a fresh checkpoint (the
    per-batch-overwrite sink convention)."""
    from frames_map_reduce_spark.operators.classifier import (
        classifier_score,
        train_logodds_classifier,
    )
    from frames_map_reduce_spark.operators.quality import (
        bin_counts,
        psi_against_reference,
        quantile_breakpoints,
        token_entropy_profile,
    )
    from frames_map_reduce_spark.streaming import stream_quality_dashboard

    ref = documents.filter(F.col("doc_id") % 2 == 0)
    bks = quantile_breakpoints(ref, "n_chars", n_bins=4)
    counts = bin_counts(ref, "n_chars", bks)
    labeled = documents.withColumn("_pos", F.col("lang") == "en")
    w = train_logodds_classifier(labeled, "text", "_pos",
                                 n_buckets=256, salt="dash")
    w_rows = [(r["bucket"], r["weight"]) for r in w.collect()]

    batch = documents.filter(F.col("doc_id") % 2 == 1) \
                     .select("doc_id", "text", "n_chars")
    stage = str(tmp_path / "in")
    batch.coalesce(1).write.parquet(stage)
    sink = str(tmp_path / "out")

    def run(ckpt: str) -> None:
        stream = (spark.readStream
                       .schema("doc_id long, text string, n_chars long")
                       .parquet(stage))
        q = stream_quality_dashboard(stream, "text", "doc_id", "n_chars",
                                     bks, counts, w_rows, n_buckets=256,
                                     sink_dir=sink, salt="dash",
                                     checkpoint=str(tmp_path / ckpt))
        q.awaitTermination()

    run("ckpt1")
    got = spark.read.parquet(sink).collect()
    assert len(got) == 1
    row = got[0]
    assert row.n_docs == batch.count()
    prof = token_entropy_profile(batch, "text", "doc_id") \
        .agg(F.sum("entropy_micro").alias("s"),
             F.count(F.lit(1)).alias("n")).collect()[0]
    assert row.entropy_mean_micro == (2 * prof.s + prof.n) // (2 * prof.n)
    psi = psi_against_reference(batch, "n_chars", bks, counts).collect()[0]
    assert row.psi_micro == psi.psi_micro
    scores = classifier_score(batch, w, "text", "doc_id",
                              n_buckets=256, salt="dash")
    agg = scores.agg(
        F.sum(F.when(F.col("logit_rank") >= 0, 1).otherwise(0)).alias("p"),
        F.sum("logit_sum").alias("t")).collect()[0]
    assert row.n_pass_quality == agg.p
    assert row.logit_total == agg.t
    # alert verdicts at the DEFAULT thresholds (r11 verdict #6): psi vs
    # the conventional 250k, entropy floor 0 (alerts only on a NULL
    # mean), pass-rate floor 0 (never alerts)
    assert row.alert_psi == (row.psi_micro > 250_000)
    assert row.alert_entropy is False and row.alert_pass_rate is False

    run("ckpt2")   # fresh checkpoint: full at-least-once replay
    again = spark.read.parquet(sink).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in got]

    # thresholds straddling the measured row flip every alert TRUE —
    # the comparisons are exact integers, so off-by-one thresholds are
    # decisive, not flaky (min_pass_rate_milli=1001 alerts even at a
    # 100% pass rate)
    sink2 = str(tmp_path / "out2")
    stream = (spark.readStream
                   .schema("doc_id long, text string, n_chars long")
                   .parquet(stage))
    q = stream_quality_dashboard(
        stream, "text", "doc_id", "n_chars", bks, counts, w_rows,
        n_buckets=256, sink_dir=sink2, salt="dash",
        checkpoint=str(tmp_path / "ckpt3"),
        psi_alert=row.psi_micro - 1,
        entropy_floor_micro=row.entropy_mean_micro + 1,
        min_pass_rate_milli=1001)
    q.awaitTermination()
    hot = spark.read.parquet(sink2).collect()[0]
    assert (hot.alert_psi, hot.alert_entropy, hot.alert_pass_rate) \
        == (True, True, True)
    # default: no tokenizer columns (the r12 schema is unchanged)
    assert "fallback_per_milli" not in spark.read.parquet(sink).columns

    # r13 opt-in tokenizer-drift column pair: must equal the batch
    # monitor exactly, and the verdict obeys the threshold
    from frames_map_reduce_spark.functions.tokenizer import (
        tokenizer_oov_stats)
    want = tokenizer_oov_stats(batch, "text", inventory=("the", "and"),
                               max_fallback_milli=500).head()
    sink3 = str(tmp_path / "out3")
    stream = (spark.readStream
                   .schema("doc_id long, text string, n_chars long")
                   .parquet(stage))
    q = stream_quality_dashboard(
        stream, "text", "doc_id", "n_chars", bks, counts, w_rows,
        n_buckets=256, sink_dir=sink3, salt="dash",
        checkpoint=str(tmp_path / "ckpt4"),
        oov=("the", "and"), max_fallback_milli=500)
    q.awaitTermination()
    tok = spark.read.parquet(sink3).collect()[0]
    assert tok.fallback_per_milli == want.fallback_per_milli
    assert tok.alert_oov == want.needs_retrain


def test_stream_token_ids_extend_caches_nothing(
        spark, documents, tmp_path):
    """Deployment form of the extend contract (r11 verdict #8): a
    foreachBatch ingestion loop composing encode_ids →
    pack_token_ids_extend across 5 micro-batches.  Asserts (a) nothing
    accumulates — the session cache manager is empty after each batch
    materializes — and (b) the final packed frame is BIT-identical to
    pack_token_ids over the whole corpus in one shot (extend ≡ repack
    under the monotone contract).

    Batches are staged as doc_id RANGES (mtime-ordered files +
    maxFilesPerTrigger=1), not residues: the extend contract requires
    every new document's order_by key to sort after all previously
    packed ones."""
    from frames_map_reduce_spark.functions.tokenizer import encode_ids
    from frames_map_reduce_spark.operators.packing import (
        pack_token_ids,
        pack_token_ids_extend,
    )

    docs = documents.select("doc_id", "text")
    n = docs.count()
    edges = [round(n * k / 5) for k in range(6)]
    ordered_ids = [r["doc_id"] for r in
                   docs.select("doc_id").orderBy("doc_id").collect()]
    stage = str(tmp_path / "in")
    import os as _os
    _os.makedirs(stage)
    import glob as _glob
    import shutil as _shutil
    for k in range(5):
        lo, hi = ordered_ids[edges[k]], ordered_ids[edges[k + 1] - 1]
        part_dir = str(tmp_path / f"f{k}")
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)) \
            .coalesce(1).write.parquet(part_dir)
        src = _glob.glob(f"{part_dir}/part-*.parquet")[0]
        dst = f"{stage}/{k}.parquet"
        _shutil.move(src, dst)
        _os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))

    packed_root = str(tmp_path / "packed")
    state = {"gen": -1}
    cache_empty_after_batch: list[bool] = []
    n_batches = {"n": 0}

    def apply(batch_df, batch_id: int) -> None:
        ids = encode_ids(batch_df, "text", "doc_id")
        if state["gen"] < 0:
            packed = pack_token_ids(ids, "token_ids", block=64,
                                    order_by=["doc_id"])
        else:
            prior = spark.read.parquet(f"{packed_root}/g{state['gen']}")
            packed = pack_token_ids_extend(prior, ids, "token_ids",
                                           block=64, order_by=["doc_id"])
        gen = state["gen"] + 1
        packed.write.parquet(f"{packed_root}/g{gen}")   # materialize
        state["gen"] = gen
        n_batches["n"] += 1
        cache_empty_after_batch.append(cache_is_empty(spark))

    spark.catalog.clearCache()
    q = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(stage)
              .writeStream.foreachBatch(apply)
              .trigger(availableNow=True)
              .option("checkpointLocation", str(tmp_path / "ckpt"))
              .start())
    q.awaitTermination()

    assert n_batches["n"] == 5
    # bounded: no batch leaves a cached frame behind
    assert all(cache_empty_after_batch)

    got = sorted(
        (r["seq_id"], tuple(r["token_ids"]), r["n_tokens"])
        for r in spark.read.parquet(f"{packed_root}/g4").collect())
    want = sorted(
        (r["seq_id"], tuple(r["token_ids"]), r["n_tokens"])
        for r in pack_token_ids(encode_ids(docs, "text", "doc_id"),
                                "token_ids", block=64,
                                order_by=["doc_id"]).collect())
    assert got == want and len(got) > 5


def test_stream_decontamination_gate_matches_batch_and_replays(
        spark, documents, tmp_path):
    """The streaming decontamination gate emits EXACTLY the persisted
    firewall probe's verdicts (streaming ≡ batch), clean and NULL-text
    docs pass with NULL evidence, and a full replay with a fresh
    checkpoint reads identically (per-batch-overwrite idempotence)."""
    from frames_map_reduce_spark.operators import retrieval as RET
    from frames_map_reduce_spark.streaming import stream_decontamination_gate

    ev = documents.filter(F.col("doc_id") % 4 == 0)
    inc = documents.filter(F.col("doc_id") % 4 != 0) \
                   .select("doc_id", "source", "text")
    RET.build_contamination_index(ev.select("text"), "t_sdecon", "text", n=5)
    stage = str(tmp_path / "in")
    inc.repartition(2).write.parquet(stage)
    sink = str(tmp_path / "out")

    def run(ckpt: str) -> None:
        stream = (spark.readStream.schema(inc.schema)
                       .option("maxFilesPerTrigger", 1).parquet(stage))
        q = stream_decontamination_gate(
            stream, "t_sdecon", "text", "doc_id", sink,
            n=5, checkpoint=str(tmp_path / ckpt))
        q.awaitTermination()

    run("ckpt1")
    got = {r.doc_id: r for r in spark.read.parquet(sink).collect()}
    assert len(got) == inc.count()
    want = {r.doc_id: r for r in RET.probe_contamination_index(
        spark, "t_sdecon", inc, "text", "doc_id", n=5).collect()}
    assert want  # this corpus plants cross-split duplicates
    for did, r in got.items():
        if did in want:
            w = want[did]
            assert (r.n_grams, r.n_hit, r.hit_frac) == \
                   (w.n_grams, w.n_hit, w.hit_frac)
            assert r.is_contaminated and not r.accept
        else:
            assert r.n_hit is None and not r.is_contaminated and r.accept

    run("ckpt2")  # at-least-once replay: same batch ids, fresh delivery
    replay = {r.doc_id: r for r in spark.read.parquet(sink).collect()}
    assert sorted(map(tuple, replay.values())) == sorted(map(tuple,
                                                             got.values()))


def test_stream_decontamination_gate_rejects_colliding_columns(spark):
    """r12 advice (low): a stream already carrying one of the gate's
    output columns (n_hit etc.) would make the evidence join ambiguous
    — the gate must refuse at wiring time with a named error."""
    from frames_map_reduce_spark.streaming import stream_decontamination_gate

    bad = spark.createDataFrame([(1, "x", 3)],
                                "doc_id long, text string, n_hit long")
    with pytest.raises(ValueError, match="collide"):
        stream_decontamination_gate(bad, "t_any", "text", "doc_id",
                                    "/tmp/unused_sink")
