"""Structured Streaming variants of the map-reduce pipeline.

The reference is batch-only (SURVEY §2.8), but its fold pipeline maps
directly onto Structured Streaming: an Unpack is a stream filter, an
Assign+FoldReduce is a (windowed) streaming aggregation, and the
whole-group reduces become ``applyInPandasWithState``.  These helpers give
the engine a streaming surface with the same Fold vocabulary.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frames_map_reduce_spark.folds import Fold
from frames_map_reduce_spark.mapreduce import Unpack
from frames_map_reduce_spark.schema import require_columns


def stream_map_reduce(stream: DataFrame, unpack: Unpack, keys: Sequence[str],
                      fold: Fold, ts_col: str | None = None,
                      window: str | None = None, slide: str | None = None,
                      watermark: str = "10 minutes") -> DataFrame:
    """Streaming rendering of ``map_reduce``: filter → (windowed) groupBy →
    one ``.agg`` pass.  With ``window`` set, groups by a tumbling (or, with
    ``slide``, sliding) event-time window on ``ts_col`` with a watermark so
    state is bounded and late data beyond the watermark is dropped —
    mandatory for unbounded inputs."""
    df = unpack.apply(stream)
    group_cols = [F.col(k) for k in keys]
    if window is not None:
        if ts_col is None:
            raise ValueError("windowed streaming map_reduce needs ts_col")
        require_columns(df, [ts_col])
        df = df.withWatermark(ts_col, watermark)
        win = (F.window(F.col(ts_col), window, slide) if slide
               else F.window(F.col(ts_col), window))
        group_cols = [win.alias("window"), *group_cols]
    return df.groupBy(*group_cols).agg(*fold.columns())


def stream_sessions(stream: DataFrame, keys: Sequence[str], ts_col: str,
                    fold: Fold, gap: str = "30 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Session-window aggregation: groups rows into per-key sessions that
    close after ``gap`` of event-time inactivity (the streaming form of
    the batch sessionize query).  Native ``session_window`` — state is
    managed by Spark and bounded by the watermark."""
    require_columns(stream, [*keys, ts_col])
    return (stream.withWatermark(ts_col, watermark)
                  .groupBy(F.session_window(F.col(ts_col), gap).alias("session"),
                           *[F.col(k) for k in keys])
                  .agg(*fold.columns()))


def stream_stateful_counts(stream: DataFrame, key: str,
                           output_mode: str = "update") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-key row count maintained across micro-batches.  The template for
    operators whose state logic the windowed aggregates can't express —
    state is an explicit schema, updates are Arrow-batched per key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    require_columns(stream, [key])

    def fn(key_tuple, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({key: [key_tuple[0]], "n": [total]})

    return stream.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=f"{key} string, n long",
        stateStructType="n long",
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(stream: DataFrame, keys: Sequence[str],
                 ts_col: str | None = None,
                 watermark: str | None = None) -> DataFrame:
    """Streaming deduplication on ``keys`` — each key's FIRST arrival is
    emitted, later duplicates are dropped across micro-batches.

    Two state regimes:

    - ``watermark`` set (needs ``ts_col``): bounded state via
      ``dropDuplicatesWithinWatermark`` — duplicates arriving within the
      watermark horizon of the first sighting are dropped, state older
      than the watermark is evicted.  This is the 100 TB shape: state is
      proportional to the distinct keys per horizon, not all time.
    - no watermark: exact global dedup (``dropDuplicates``); state grows
      with the distinct-key count — only for finite/replayed inputs where
      exact parity with a batch ``DISTINCT`` is required.
    """
    require_columns(stream, [*keys] + ([ts_col] if ts_col else []))
    if watermark is not None:
        if ts_col is None:
            raise ValueError("bounded-state stream_dedup needs ts_col")
        return (stream.withWatermark(ts_col, watermark)
                      .dropDuplicatesWithinWatermark(list(keys)))
    return stream.dropDuplicates(list(keys))


def stream_static_join(stream: DataFrame, dim: DataFrame,
                       keys: Sequence[str], how: str = "left") -> DataFrame:
    """Stream-static enrichment: join every micro-batch against a batch
    dimension table.  STATELESS — nothing buffers across batches (unlike
    stream-stream joins), so no watermark is needed.  The dimension is
    broadcast: each micro-batch enriches map-side with no shuffle of the
    stream.  Spark re-evaluates the static side per micro-batch, which
    is what makes slowly-refreshed dims pick up updates; persist the dim
    upstream if recomputing it is expensive."""
    require_columns(dim, keys)
    return stream.join(F.broadcast(dim), list(keys), how)


def stream_stream_join(left: DataFrame, right: DataFrame,
                       keys: Sequence[str], left_ts: str, right_ts: str,
                       lookback: str, watermark: str = "1 hour",
                       how: str = "inner") -> DataFrame:
    """Stream-stream join with bounded state: equality on ``keys`` plus a
    time-range condition ``right_ts ∈ [left_ts - lookback, left_ts]``.

    The watermark on BOTH inputs and the range bound are what let Spark
    evict join state — without them a stream-stream join buffers forever.
    State per key is bounded by (watermark + lookback) of input.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = None
    for k in keys:
        c = lw[k] == rw[k]
        cond = c if cond is None else cond & c
    cond = cond & (rw[right_ts] >= F.expr(
        f"{left_ts} - INTERVAL {lookback}")) & (rw[right_ts] <= lw[left_ts])
    out = lw.join(rw, cond, how)
    for k in keys:  # drop the duplicate right-side key columns
        out = out.drop(rw[k])
    return out


def stream_near_dup(stream: DataFrame, static_corpus: DataFrame,
                    text_col: str, id_col: str, threshold: float = 0.8,
                    num_perm: int = 128, bands: int = 16, shingle_k: int = 5,
                    seed: int = 42, max_bucket: int = 1000) -> DataFrame:
    """Streaming near-dup firewall: flag incoming documents whose text
    near-duplicates a STATIC reference corpus (e.g. an eval/benchmark
    set, or yesterday's accepted batch) — the contamination guard at
    ingestion time.

    Same minhash spec as the batch operator (operators/dedup.py), split
    stream/static:

    - the static side is prepared ONCE as batch frames: fused
      shingle+signature pass → banded bucket keys (size-capped — a
      boilerplate bucket is exact-dedup's job, and max_bucket keeps one
      hot bucket from amplifying every micro-batch) and a skinny
      (ref_id, shingles) verify side, both persisted;
    - the stream side runs the SAME fused Arrow-batched stage
      (stateless ``mapInPandas`` — streaming-safe) and the same JVM
      banding expressions;
    - candidates come from a STREAM-STATIC equi-join on the bucket key
      (stateless: no watermark, no join state), then exact Jaccard on
      the int64 shingle sets filters to ``>= threshold``.

    A pair matching in several bands emits one row per band before the
    final ``dropDuplicates`` on (id, ref_id); that dedup keeps all-time
    state keyed by matched PAIRS — tiny by construction (matches are the
    rare event), but bound it with a watermark upstream for unbounded
    runs.  Returns a streaming frame (id, ref_id, jaccard)."""
    from pyspark import StorageLevel

    from frames_map_reduce_spark.operators.dedup import (
        _minhash_banded, _prune_buckets, _shingle_sig_frame, jaccard)

    require_columns(stream, [text_col, id_col])
    sid = f"{id_col}"
    static_sig = _shingle_sig_frame(static_corpus, text_col, id_col,
                                    shingle_k, num_perm, seed) \
        .withColumnRenamed(id_col, "ref_id") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    banded_ref = _prune_buckets(
        _minhash_banded(static_sig, "ref_id", num_perm, bands), max_bucket,
        keep_singletons=True).persist(StorageLevel.MEMORY_AND_DISK)
    ref_shingles = static_sig.select("ref_id",
                                     F.col("_sh64").alias("_sh64_ref"))

    stream_sig = _shingle_sig_frame(stream, text_col, id_col,
                                    shingle_k, num_perm, seed)
    # band via pure projection, carrying the shingle set along — joining
    # the banded frame back to stream_sig would be a stream-STREAM
    # self-join (stateful); this stays a stateless narrow pipeline
    stream_banded = _minhash_banded(stream_sig, sid, num_perm, bands,
                                    carry=("_sh64",))
    cand = stream_banded.join(banded_ref, "_bucket") \
                        .select(sid, "ref_id", "_sh64")
    verified = (cand.join(ref_shingles, "ref_id")
                    .select(sid, "ref_id",
                            F.round(jaccard(F.col("_sh64"),
                                            F.col("_sh64_ref")), 6)
                             .alias("jaccard"))
                    .filter(F.col("jaccard") >= threshold))
    return verified.dropDuplicates([sid, "ref_id"])


def stream_embedding_near_dup(stream: DataFrame, static_corpus: DataFrame,
                              vec_col: str, id_col: str,
                              threshold: float = 0.95, dim: int = 0,
                              n_planes: int = 10, seed: int = 42,
                              max_bucket: int = 5000) -> DataFrame:
    """Embedding-space analog of :func:`stream_near_dup`: flag streamed
    vectors whose cosine similarity to a static reference corpus crosses
    ``threshold``, candidates via SRP-bucket collision.  Entirely
    expression-based on the stream side (srp_signature is a pure
    projection), one stream-static equi-join, exact-cosine verify;
    the static side is bucketed + size-capped + persisted once.  Returns
    a streaming frame (id, ref_id, cosine_sim); the final matched-pair
    dedup is the only stateful op (multiprobe-free: one bucket per row,
    so a pair can match at most once — dedup kept for safety under
    replays)."""
    from pyspark import StorageLevel

    from frames_map_reduce_spark.functions.vectors import dot, norm
    from frames_map_reduce_spark.operators.dedup import _prune_buckets
    from frames_map_reduce_spark.operators.similarity import srp_bucketed

    require_columns(stream, [vec_col, id_col])
    if dim <= 0:
        dim = static_corpus.select(
            F.size(F.col(vec_col)).alias("d")).first()["d"]
    ref = srp_bucketed(static_corpus, vec_col, dim, n_planes, seed).select(
        "_bucket", F.col(id_col).alias("ref_id"),
        F.col(vec_col).cast("array<double>").alias("_vref"))
    # the ref-side norm is hoisted INTO the persisted frame: computed
    # once per corpus vector total, not once per matching probe (same
    # floats as norm-inside-cosine — see similarity.semantic_dedup)
    ref = (_prune_buckets(ref, max_bucket, keep_singletons=True)
              .withColumn("_nref", norm(F.col("_vref")))
              .persist(StorageLevel.MEMORY_AND_DISK))

    probe = (srp_bucketed(stream, vec_col, dim, n_planes, seed)
             .select("_bucket", F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("_vin"))
             .withColumn("_nin", norm(F.col("_vin"))))
    out = (probe.join(ref, "_bucket")
                .select(id_col, "ref_id",
                        F.round(F.try_divide(
                            dot(F.col("_vin"), F.col("_vref")),
                            F.col("_nin") * F.col("_nref")), 6)
                         .alias("cosine_sim"))
                .filter(F.col("cosine_sim") >= threshold))
    return out.dropDuplicates([id_col, "ref_id"])


def stream_to_memory(result: DataFrame, name: str, output_mode: str = "complete"):
    """Test sink: run the streaming query into an in-memory table with
    availableNow (process everything currently available, then stop)."""
    return (result.writeStream
                  .format("memory")
                  .queryName(name)
                  .outputMode(output_mode)
                  .trigger(availableNow=True)
                  .start())


def _start_foreach_batch(stream: DataFrame, apply, checkpoint: str | None):
    """Start ``apply`` as an ``availableNow`` ``foreachBatch`` query whose
    every micro-batch runs under the local properties the caller held at
    this call (job tags, scheduler pool, ...).  The micro-batches run on
    the query's own thread: it inherits the caller's properties once, at
    start, and whatever one batch leaves set there would otherwise
    carry into the next.  Keys under ``spark.`` and ``callSite.`` are
    left alone: they hold the query's own job group, which ``stop()``
    cancels by."""
    sc = stream.sparkSession.sparkContext
    props = sc._jsc.sc().getLocalProperties()
    caller = {k: props.getProperty(k) for k in props.stringPropertyNames()
              if not k.startswith(("spark.", "callSite."))}

    def run(batch_df: DataFrame, batch_id: int) -> None:
        before = {k: sc.getLocalProperty(k) for k in caller}
        for k, v in caller.items():
            sc.setLocalProperty(k, v)
        try:
            apply(batch_df, batch_id)
        finally:
            for k, v in before.items():
                sc.setLocalProperty(k, v)

    writer = stream.writeStream.foreachBatch(run).trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming snapshot maintenance: changelog stream -> latest-wins table
# ---------------------------------------------------------------------------

_SNAPSHOT_POINTER = "_LATEST"


def read_snapshot(spark, snapshot_dir: str) -> DataFrame:
    """Read the current version of a snapshot maintained by
    ``stream_merge_snapshot`` (or None-equivalent: raises if no version
    has been committed yet).  Versions are immutable directories; the
    ``_LATEST`` pointer file names the committed one, so readers never
    observe a half-written version — the poor-man's rendering of the
    table-format transaction log (Delta/Iceberg) this sandbox lacks,
    with the same reader contract."""
    import os

    ptr = os.path.join(snapshot_dir, _SNAPSHOT_POINTER)
    with open(ptr, encoding="utf-8") as f:
        # line 1: version dir; lines 2-3 (if present): checkpoint
        # lineage id + last applied batch id (the replay guard's state)
        version = f.read().split()[0]
    return spark.read.parquet(os.path.join(snapshot_dir, version))


def stream_merge_snapshot(stream: DataFrame, snapshot_dir: str,
                          keys: Sequence[str], version: Sequence[str],
                          tombstone_col: str | None = None,
                          checkpoint: str | None = None):
    """Maintain a latest-wins snapshot from a changelog STREAM: each
    micro-batch is MERGEd (operators/cdc.py ``merge_upsert``) into the
    current snapshot — upserts replace, ``tombstone_col == True``
    winners delete — and committed as a new immutable version under
    ``snapshot_dir`` with an atomically-replaced ``_LATEST`` pointer.

    The soundness is the batch operator's contract, fuzz-pinned in
    test_differential_fuzz.py: merge(compact(prefix), suffix) equals
    compact(full log) at EVERY cutoff, hence at every micro-batch
    boundary, hence the maintained snapshot always equals the batch
    recompute of the log so far (pinned for multi-batch streams in
    test_streaming.py).

    Scale notes: per batch, the delta compacts (one small shuffle) and
    the snapshot is scanned — never shuffled — with the delta's key set
    broadcast into the version guard and the anti-join: exactly the
    batch MERGE plan.  Rewriting the full snapshot per batch is what
    parquet-without-a-table-format costs; on a real deployment point
    this at Delta/Iceberg MERGE INTO (same ``merge_upsert`` semantics)
    or lengthen the trigger interval so the rewrite amortizes.
    Tombstone handling needs the flag column inside the snapshot
    schema, so it is carried (always False on live rows).

    Failure semantics: foreachBatch is at-least-once, so a replayed
    micro-batch is (a) skipped outright when the pointer records this
    batch id as applied FOR THIS CHECKPOINT LINEAGE (crash between
    pointer swap and checkpoint commit), and (b) harmless even when
    re-merged, because the merge runs with ``only_newer=True`` — an
    already-applied or out-of-order delta cannot regress a key to an
    older version.  Batch ids are only meaningful within one checkpoint
    lineage (a FRESH checkpoint restarts them at 0 with different batch
    boundaries), so the skip is bound to a lineage id derived from the
    checkpoint location — reprocessing the same snapshot_dir with a new
    checkpoint takes the merge path for every batch, where idempotence,
    not batch numbering, provides the safety; a grown source therefore
    lands instead of being silently dropped.  Tombstones are the
    retention boundary: deliver deletes in order (docstring of
    ``merge_upsert``); across DISTINCT lineages a reprocessed
    already-applied tombstone can resurrect a key whose delete won by
    arrival order rather than version order — the same in-order-delivery
    contract, stated per lineage.  The previous version directory is
    retained (one behind) so a reader holding the old pointer can still
    finish; older versions are retired.
    """
    import hashlib
    import os
    import shutil
    import uuid

    from frames_map_reduce_spark.operators.cdc import (
        compact_latest,
        merge_upsert,
    )

    os.makedirs(snapshot_dir, exist_ok=True)
    # one lineage per checkpoint location; an ephemeral-checkpoint run
    # gets a fresh lineage (its batch ids are meaningless across runs)
    lineage = (hashlib.sha256(checkpoint.encode("utf-8")).hexdigest()[:16]
               if checkpoint is not None else uuid.uuid4().hex[:16])

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        ptr = os.path.join(snapshot_dir, _SNAPSHOT_POINTER)
        tomb = (F.col(tombstone_col) == F.lit(True)) \
            if tombstone_col is not None else None
        if os.path.exists(ptr):
            with open(ptr, encoding="utf-8") as fh:
                fields = fh.read().split()
            committed_dir = fields[0]
            committed_lineage = fields[1] if len(fields) >= 3 else None
            committed_batch = int(fields[2]) if len(fields) >= 3 else -1
            if committed_lineage == lineage and committed_batch >= batch_id:
                return                     # replay of an applied batch
            target = read_snapshot(spark, snapshot_dir)
            merged = merge_upsert(target, batch_df, keys, version,
                                  tombstone=tomb, only_newer=True)
            seq = int(committed_dir[1:]) + 1
        else:
            merged = compact_latest(batch_df, keys, version, tombstone=tomb)
            seq = 0
        # version names are a monotonic sequence independent of batch id,
        # so cross-lineage reprocessing keeps pointer/retirement ordering
        new_version = f"v{seq:020d}"
        out_dir = os.path.join(snapshot_dir, new_version)
        merged.write.mode("overwrite").parquet(out_dir)
        tmp = ptr + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(f"{new_version}\n{lineage}\n{batch_id}\n")
        os.replace(tmp, ptr)  # atomic pointer swap commits the version
        # retire all but the newest TWO versions: the one-behind dir may
        # still be read by a pointer resolved just before the swap
        versions = sorted(
            d for d in os.listdir(snapshot_dir)
            if d.startswith("v")
            and os.path.isdir(os.path.join(snapshot_dir, d)))
        for d in versions[:-2]:
            shutil.rmtree(os.path.join(snapshot_dir, d),
                          ignore_errors=True)

    return _start_foreach_batch(stream, apply, checkpoint)


def stream_classifier_gate(stream: DataFrame,
                           weights: Sequence[tuple[int, int]],
                           text_col: str, n_buckets: int,
                           salt: str = "clf",
                           threshold_micro: int | None = None) -> DataFrame:
    """Quality-classifier gate at ingestion time: score every streamed
    document against a TRAINED hashed log-odds model
    (``operators.classifier``) as a pure stateless expression — the
    dense weight table travels as one array literal, so the gate adds
    NO join, NO shuffle, and NO state to the stream (works in append
    mode with no watermark; the scores are the exact integers
    ``classifier_score`` computes on the same rows).

    ``weights`` is the collected dense table
    (``train_logodds_classifier(...).collect()`` — bounded at
    ``n_buckets`` rows by construction).  Appends ``n_tokens``,
    ``logit_sum``, ``logit_rank``; with ``threshold_micro`` set, also
    FILTERS to rows whose ``logit_rank`` clears it (tokenless rows have
    NULL rank and never clear a threshold).
    """
    from frames_map_reduce_spark.operators.classifier import (
        classifier_gate_columns)
    require_columns(stream, [text_col])
    cols = classifier_gate_columns(weights, text_col, n_buckets, salt)
    out = stream.select("*", *(c.alias(name) for name, c in cols.items()))
    if threshold_micro is not None:
        out = out.filter(F.col("logit_rank") >= int(threshold_micro))
    return out


def stream_bloom_gate(stream: DataFrame, words, text_col: str,
                      m_bits: int | None = None, k: int | None = None,
                      drop_members: bool = False) -> DataFrame:
    """Exact-membership Bloom gate at ingestion time: screen every
    streamed document against a BUILT filter (``operators.bloom``) as a
    pure stateless expression — the dense word spine travels as one
    binary literal, so the gate adds NO join, NO shuffle, and NO state
    to the stream (append mode, no watermark; verdicts are the exact
    booleans ``bloom_probe_index`` computes on the same rows — no false
    negatives, deterministic false positives).

    ``words`` is the collected word table (``(word_idx, bits)`` rows,
    bounded at m_bits/32 by construction; merge generations with
    ``bit_or`` first if the index has uncompacted extends).  Appends
    ``maybe_dup`` (NULL for NULL text — a stateless expression cannot
    drop rows); with ``drop_members=True``, passes only rows the filter
    has definitely never seen (``maybe_dup`` false — the no-false-
    negative direction, so nothing already accepted ever re-enters)."""
    from frames_map_reduce_spark.operators.bloom import (
        DEFAULT_K,
        DEFAULT_M_BITS,
        bloom_gate_columns,
    )
    require_columns(stream, [text_col])
    verdict = bloom_gate_columns(
        words, text_col,
        m_bits if m_bits is not None else DEFAULT_M_BITS,
        k if k is not None else DEFAULT_K)
    out = stream.select("*", verdict.alias("maybe_dup"))
    if drop_members:
        out = out.filter(~F.col("maybe_dup"))
    return out


def stream_ingest_gate(stream: DataFrame, words, weights,
                       text_col: str, n_buckets: int, salt: str = "clf",
                       m_bits: int | None = None,
                       k: int | None = None) -> DataFrame:
    """The composed streaming ADMISSION GATE (r7 verdict stretch) — the
    deployment shape the batch ``ingest_gate`` amortizes toward: every
    arriving document is screened by the two TRAINED stateless gates in
    one pass — exact membership against the accepted corpus
    (:func:`stream_bloom_gate`) and model quality
    (:func:`stream_classifier_gate`) — and carries the three-valued
    verdict ``accept = NOT maybe_dup AND quality_ok``.

    Both screens are pure expressions over broadcast-literal state
    (word spine + weight table), so the composition stays join-free,
    shuffle-free, and state-free: append mode, no watermark, unbounded
    throughput.  NULL text ⇒ NULL ``maybe_dup``; tokenless text ⇒ NULL
    ``quality_ok`` — and ``accept`` propagates NULLs exactly like the
    batch gate's three-valued AND (a stateless expression cannot drop
    rows; route NULL verdicts to a dead-letter sink downstream).

    The near-dup screen of the batch gate is deliberately absent: a
    MinHash probe is a join against the bucketed index — a stream-
    static join with per-doc aggregation, a different (stateful) cost
    class.  :func:`stream_ingest_gate_v2` composes it as a micro-batch
    stage; use this form when the stateless single-pass shape is the
    requirement."""
    gated = stream_bloom_gate(stream, words, text_col,
                              m_bits=m_bits, k=k)
    gated = stream_classifier_gate(gated, weights, text_col,
                                   n_buckets=n_buckets, salt=salt)
    quality_ok = (F.col("logit_rank") >= 0).alias("quality_ok")
    return gated.select("*", quality_ok) \
                .withColumn("accept",
                            ~F.col("maybe_dup") & F.col("quality_ok"))


def stream_ingest_gate_v2(stream: DataFrame, words, weights,
                          text_col: str, id_col: str,
                          minhash_table: str, sink_dir: str,
                          n_buckets: int, salt: str = "clf",
                          m_bits: int | None = None,
                          k: int | None = None,
                          threshold: float = 0.6,
                          checkpoint: str | None = None,
                          max_probe_buckets: int = 1_000_000):
    """The FULL streaming admission gate (r8 verdict #2) — all three of
    the batch ``ingest_gate``'s screens at ingestion time: exact
    membership (Bloom) and model quality (classifier) as stateless
    expressions in the streaming plan, plus near-duplication against
    the PERSISTED MinHash index (``operators.dedup``,
    :func:`~frames_map_reduce_spark.operators.dedup.build_minhash_index`)
    as a ``foreachBatch`` micro-batch stage — the probe is a join
    against the bucketed index, so it cannot be a stateless expression,
    but per micro-batch it is the firewall's recurring shape: sign the
    batch (one Arrow stage), pruned bucketed scan of the index with the
    batch's bucket keys pushed down, broadcast joins, zero corpus
    exchanges (``minhash_probe_index``'s plan-asserted contract).

    Emits the batch gate's three-valued verdict per document:
    ``accept = NOT maybe_dup AND quality_ok AND NOT is_near_dup``, with
    the same NULL propagation (NULL text ⇒ NULL ``maybe_dup``/``accept``;
    ``is_near_dup`` is False for shingle-less rows — the probe's
    no-shingles convention, matching the batch gate's coalesce).

    Each micro-batch OVERWRITES its own ``batch_id=N`` partition
    directory under ``sink_dir`` — foreachBatch is at-least-once, and
    per-batch overwrite makes replays idempotent (the
    ``stream_merge_snapshot`` convention — proven by
    ``tests/test_streaming.py::test_gate_v2_replay_idempotent``); read
    the gated output with ``spark.read.parquet(sink_dir)``.  Returns
    the started StreamingQuery.

    MICRO-BATCH SIZE IS THE CALLER'S CONTRACT (r9 ADVICE): the probe
    stage driver-collects the batch's distinct bucket keys and refuses
    past ``max_probe_buckets`` (the firewall's bounded-collect
    contract, ``dedup.minhash_probe_index``) — and under
    ``trigger(availableNow)`` a file source with NO rate limit delivers
    the ENTIRE backlog as one micro-batch.  Bound the batch on the
    SOURCE, where Spark's rate limits live (they are readStream
    options, not sink options): ``.option("maxFilesPerTrigger", N)`` /
    ``.option("maxBytesPerTrigger", ...)`` on the file source sizes
    each micro-batch at roughly ``files × rows_per_file × bands``
    bucket keys, which must stay under ``max_probe_buckets``.  Raising
    ``max_probe_buckets`` instead trades driver memory (~dozens of
    bytes per bucket key) for batch size — a knowing dial, surfaced
    here so the backstop never has to be bypassed by forking the
    gate."""
    import os

    from frames_map_reduce_spark.operators.dedup import minhash_probe_index

    require_columns(stream, [text_col, id_col])
    gated = stream_bloom_gate(stream, words, text_col, m_bits=m_bits, k=k)
    gated = stream_classifier_gate(gated, weights, text_col,
                                   n_buckets=n_buckets, salt=salt)
    gated = gated.select("*", (F.col("logit_rank") >= 0).alias("quality_ok"))

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        nd = (minhash_probe_index(spark, minhash_table, batch_df,
                                  text_col, id_col, threshold=threshold,
                                  max_probe_buckets=max_probe_buckets)
                .select(id_col).distinct()
                .withColumn("_nd", F.lit(True)))
        out = (batch_df.join(F.broadcast(nd), id_col, "left")
                       .withColumn("is_near_dup",
                                   F.coalesce(F.col("_nd"), F.lit(False)))
                       .drop("_nd")
                       .withColumn("accept",
                                   ~F.col("maybe_dup")
                                   & F.col("quality_ok")
                                   & ~F.col("is_near_dup")))
        out.write.mode("overwrite").parquet(
            os.path.join(sink_dir, f"batch_id={batch_id}"))

    return _start_foreach_batch(gated, apply, checkpoint)


def stream_decontamination_gate(stream: DataFrame, table: str,
                                text_col: str, id_col: str,
                                sink_dir: str, n: int = 5,
                                checkpoint: str | None = None):
    """Per-micro-batch benchmark-DECONTAMINATION gate — the streaming
    twin of the persisted contamination firewall
    (:func:`~frames_map_reduce_spark.operators.retrieval.build_contamination_index`
    / ``probe_contamination_index``): every arriving training document
    is screened for word-``n``-gram collisions against the persisted
    eval-suite index, carrying the probe's exact per-doc evidence
    (``n_grams``/``n_hit``/``hit_frac``, NULL for clean docs) plus
    ``is_contaminated`` and ``accept = NOT is_contaminated``.

    The probe is a join (broadcast ``left_semi`` against the
    benchmark-sized index) followed by a per-doc reduce, so — like the
    MinHash probe in :func:`stream_ingest_gate_v2` — it cannot be a
    stateless expression; per micro-batch it is exactly the firewall's
    recurring cost: one batch scan, zero index-side exchanges, no
    state store, no watermark.  NULL/tokenless text produces no
    n-grams, hence never flags (``accept`` True) — collision screening
    has nothing to say about empty documents; compose a quality gate
    for those.

    Each micro-batch OVERWRITES its own ``batch_id=N`` partition under
    ``sink_dir`` (the :func:`stream_ingest_gate_v2` sink convention —
    idempotent under foreachBatch's at-least-once replay); read the
    gated output with ``spark.read.parquet(sink_dir)``.  Returns the
    started StreamingQuery.  Batch sizing follows the SOURCE's rate
    limits (``maxFilesPerTrigger`` etc.); the probe's broadcast is the
    index, not the batch, so batch size only scales the scan."""
    import os

    from frames_map_reduce_spark.operators.retrieval import (
        probe_contamination_index,
    )

    require_columns(stream, [text_col, id_col])
    # the gate APPENDS the probe's evidence + verdict columns; a stream
    # already carrying any of them would make the left join ambiguous
    # and bind `is_contaminated` to the wrong side (r12 advice) — fail
    # loudly at wiring time instead.
    clash = {"n_grams", "n_hit", "hit_frac", "is_contaminated",
             "accept"}.intersection(stream.columns)
    if clash:
        raise ValueError(
            "stream_decontamination_gate: stream columns collide with "
            f"the gate's output schema: {sorted(clash)}; rename them "
            "upstream")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        hits = probe_contamination_index(spark, table, batch_df,
                                         text_col, id_col, n=n)
        out = (batch_df.join(
                   F.broadcast(hits.withColumnRenamed(id_col, "_hid")),
                   F.col(id_col) == F.col("_hid"), "left")
               .drop("_hid")
               .withColumn("is_contaminated", F.col("n_hit").isNotNull())
               .withColumn("accept", ~F.col("is_contaminated")))
        out.write.mode("overwrite").parquet(
            os.path.join(sink_dir, f"batch_id={batch_id}"))

    return _start_foreach_batch(stream, apply, checkpoint)


def stream_drift_monitor(stream: DataFrame, value_col: str,
                         breakpoints, ref_counts, sink_dir: str,
                         checkpoint: str | None = None):
    """Per-micro-batch distribution-drift monitor — the streaming form
    of :func:`~frames_map_reduce_spark.operators.quality.psi_drift`:
    every micro-batch is scored against a FROZEN design-time reference
    (equal-depth edges from ``quantile_breakpoints`` + the reference's
    bin counts — constants the monitor ships with, exactly like the
    gate's word/weight literals), emitting one ``(batch_id, n_rows,
    psi_micro)`` row per batch.  An ingestion pipeline alerts on
    ``psi_micro`` crossing the conventional 250_000 (0.25) line — an
    engine-stable INTEGER comparison
    (:func:`~frames_map_reduce_spark.operators.quality.psi_against_reference`'s
    staging).

    The monitor is per-batch STATELESS (the reference is a literal, the
    batch aggregation is two tiny n_bins-row frames), so there is no
    watermark and no state store; each batch OVERWRITES its own
    ``batch_id=N`` partition under ``sink_dir`` — idempotent under
    foreachBatch's at-least-once replay (the ``stream_ingest_gate_v2``
    sink convention).  Batch composition follows the SOURCE's rate
    limits (``maxFilesPerTrigger`` etc.) — per-batch statistics are
    only meaningful if the caller stages batches deliberately.

    Returns the started StreamingQuery; read the monitor log with
    ``spark.read.parquet(sink_dir)``.
    """
    import os

    from frames_map_reduce_spark.operators.quality import (
        psi_against_reference,
    )

    require_columns(stream, [value_col])

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        one = psi_against_reference(batch_df, value_col,
                                    breakpoints, ref_counts)
        (one.coalesce(1).write.mode("overwrite")
            .parquet(os.path.join(sink_dir, f"batch_id={batch_id}")))

    return _start_foreach_batch(stream, apply, checkpoint)


def stream_quality_dashboard(stream: DataFrame, text_col: str,
                             id_col: str, value_col: str,
                             breakpoints, ref_counts,
                             weights: Sequence[tuple[int, int]],
                             n_buckets: int, sink_dir: str,
                             salt: str = "clf",
                             checkpoint: str | None = None,
                             psi_alert: int = 250_000,
                             entropy_floor_micro: int = 0,
                             min_pass_rate_milli: int = 0,
                             oov=False,
                             max_fallback_milli: int = 100):
    """Per-micro-batch corpus-quality dashboard — the MONITORING twin
    of ``stream_ingest_gate_v2`` (the gate decides per document; this
    reports per batch): every micro-batch is reduced to ONE row of
    engine-exact integer quality metrics, composing the three standing
    monitors over the same frozen design-time constants a deployment
    ships with —

    - ``n_docs`` (BIGINT): batch size;
    - ``entropy_mean_micro`` (BIGINT, NULL when no doc has tokens):
      half-up integer mean of
      :func:`~frames_map_reduce_spark.operators.quality.token_entropy_profile`'s
      per-document micronat entropy (the low-entropy-junk signal);
    - ``psi_micro`` (BIGINT): distribution drift of ``value_col``
      against the frozen reference
      (:func:`~frames_map_reduce_spark.operators.quality.psi_against_reference`
      — ``breakpoints`` + ``ref_counts`` are the persisted design
      constants);
    - ``n_pass_quality`` / ``logit_total`` (BIGINT): documents clearing
      the hashed log-odds gate (``logit_rank ≥ 0``) and the exact
      micro-logit mass, via the stateless
      ``classifier_gate_columns`` expression (``weights`` is the
      collected dense table — ``n_buckets`` rows by construction);
    - three BOOLEAN alert verdicts (r11 verdict #6 — the
      ``psi_lifecycle`` alert convention, all exact integer
      comparisons, engine-stable): ``alert_psi`` (``psi_micro >
      psi_alert``; default the conventional 250_000 ≙ 0.25),
      ``alert_entropy`` (``entropy_mean_micro < entropy_floor_micro``,
      and TRUE when entropy is NULL — a batch with no tokenful
      document cannot clear any junk floor; default floor 0 alerts
      only on that NULL case), ``alert_pass_rate``
      (``n_pass_quality·1000 < min_pass_rate_milli·n_docs`` — the
      milli-rate staging keeps the threshold integer; default 0 never
      alerts).

    ``oov`` (r12 verdict #6, opt-in so the r12 schema is unchanged by
    default): ``True`` (frozen ``SUBWORD_VOCAB``) or an inventory
    tuple adds the tokenizer-drift column pair from
    :func:`~frames_map_reduce_spark.functions.tokenizer.tokenizer_oov_stats`
    — ``fallback_per_milli`` (BIGINT, NULL on a tokenless batch: the
    share of emitted tokens taking the single-char fallback ID path)
    and ``alert_oov`` (its ``needs_retrain`` verdict at
    ``max_fallback_milli``) — telling the pipeline when the frozen
    BPE inventory stopped fitting the arriving data.

    All metrics are tiny aggregations (one row each) combined by
    broadcast cross joins — per-batch STATELESS, no watermark, no state
    store; each batch OVERWRITES its own ``batch_id=N`` partition under
    ``sink_dir`` (idempotent under foreachBatch's at-least-once
    replay).  Batch composition follows the source's rate limits —
    stage batches deliberately for meaningful per-batch statistics.

    Returns the started StreamingQuery; read the dashboard log with
    ``spark.read.parquet(sink_dir)``.
    """
    import os

    from frames_map_reduce_spark.operators.classifier import (
        classifier_gate_columns,
    )
    from frames_map_reduce_spark.operators.quality import (
        _ENTROPY_SCALE,
        entropy_run_struct,
        psi_reference_fusion,
    )

    require_columns(stream, [text_col, id_col, value_col])
    gate_cols = classifier_gate_columns(weights, text_col, n_buckets, salt)
    # r13 (guide §1.2/§2.4 — one pass, not four): every metric here is
    # a row-level expression followed by a 1-row aggregation, so the
    # whole dashboard fuses into ONE job per micro-batch — the gate
    # columns (stateless classifier), the in-row entropy fold
    # (quality.entropy_run_struct), and the PSI bin counts
    # (quality.psi_reference_fusion) share a single projection and a
    # single .agg, instead of 3 separate aggregation jobs + 2 broadcast
    # crossJoins re-scanning the batch.  Values are bit-identical by
    # construction: the per-row expressions are the SAME factored
    # Columns the standalone operators use, and every merged aggregate
    # is an exact BIGINT sum/count (association-order free).
    binx, psi_aggs, psi_total, _psi_n_rows, psi_col = \
        psi_reference_fusion(value_col, breakpoints, ref_counts,
                             prefix="_psi")
    ent = entropy_run_struct(text_col)
    # the profile's per-doc entropy, over the projected fold struct
    # (guarded: only rows with >= 1 token reach the log/div)
    ent_micro = (F.round(F.log(F.col("_ent")["n"].cast("double"))
                         * _ENTROPY_SCALE, 0).cast("bigint")
                 - F.expr("(2 * _ent.r.q + _ent.n) div (2 * _ent.n)"))

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        proj = batch_df.select(
            *(c.alias(name) for name, c in gate_cols.items()),
            ent.alias("_ent"), binx.alias("_psi_b"))
        row = proj.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(
                F.sum(F.when((F.col("n_tokens") > 0)
                             & (F.col("logit_rank") >= 0), 1)
                       .otherwise(0)), F.lit(0))
             .cast("bigint").alias("n_pass_quality"),
            F.coalesce(F.sum(F.when(F.col("n_tokens") > 0,
                                    F.col("logit_sum"))), F.lit(0))
             .cast("bigint").alias("logit_total"),
            # tokenless docs are absent from the profile: same
            # conditionals here (NULL _se / 0 _n on a tokenless batch)
            F.sum(F.when(F.col("_ent")["n"] > 0, ent_micro)).alias("_se"),
            F.count(F.when(F.col("_ent")["n"] > 0, 1)).alias("_n"),
            *psi_aggs)
        row = psi_total(row).select(
            "n_docs",
            # half-up integer mean; entropy_micro >= 0 so Spark div
            # truncation is the half-up rule; NULL when no doc has
            # tokens (ANSI: guard the 0-denominator, never divide)
            F.expr("case when _n > 0 then "
                   "(2 * _se + _n) div (2 * _n) end")
             .cast("bigint").alias("entropy_mean_micro"),
            psi_col.alias("psi_micro"),
            "n_pass_quality", "logit_total")
        row = row.select("n_docs", "entropy_mean_micro", "psi_micro",
                         "n_pass_quality", "logit_total",
                         (F.col("psi_micro") > F.lit(int(psi_alert)))
                         .alias("alert_psi"),
                         F.coalesce(F.col("entropy_mean_micro")
                                    < F.lit(int(entropy_floor_micro)),
                                    F.lit(True)).alias("alert_entropy"),
                         (F.col("n_pass_quality") * F.lit(1000)
                          < F.lit(int(min_pass_rate_milli))
                          * F.col("n_docs")).alias("alert_pass_rate"))
        if oov is not False:
            from frames_map_reduce_spark.functions.tokenizer import (
                tokenizer_oov_stats,
            )
            inv = None if oov is True else tuple(oov)
            tok = tokenizer_oov_stats(
                batch_df, text_col, inventory=inv,
                max_fallback_milli=max_fallback_milli) \
                .select("fallback_per_milli",
                        F.col("needs_retrain").alias("alert_oov"))
            row = row.crossJoin(F.broadcast(tok))
        (row.coalesce(1).write.mode("overwrite")
            .parquet(os.path.join(sink_dir, f"batch_id={batch_id}")))

    return _start_foreach_batch(stream, apply, checkpoint)
