"""Token-budget shard packing for training-data pipelines.

Training jobs consume a corpus as fixed-budget shards (e.g. "~100M
tokens per file").  Assigning documents to shards must be deterministic
(resumable, re-runnable) and distributed (no driver-side loop over
documents).  The window-expressible scheme used here is *offset
packing*: documents take a deterministic total order, and a document
belongs to shard ``floor(start_offset / budget)`` where
``start_offset`` is the cumulative size of all documents before it.

Semantics (documented, engine-checkable):

- every shard except the last holds ≥ 1 document and its documents'
  start offsets span one ``budget`` window — so a shard's total size
  can overshoot ``budget`` by at most one document;
- a document larger than ``budget`` still lands in exactly one shard
  (the one its start offset falls in);
- "close the shard early when the next doc would overflow" is a
  sequential recurrence, NOT window-expressible — offset packing is the
  standard distributed relaxation.

Scale: the running offset is computed by a TWO-PHASE bucketed prefix
sum (r6 verdict #2 — a naive per-group window serializes each pack
group through one task, the last real 100 TB bottleneck in the
training-data path): range-bucket rows on ``(by…, order_by…)``, cumsum
within each bucket, and add the broadcast cumulative total of the
buckets before it.  Any contiguous bucketing yields byte-identical
offsets (integer sums are associative and the order is total), so the
result does not depend on where Spark draws the range boundaries —
parallelism becomes ``n_buckets`` per pack group instead of 1, and a
global pack (``by=()``) is no longer a single-task sort.  Fractional
size columns pin the serial single-window path: re-associating a double
sum changes ulp-level results, and shard membership must not wobble —
pass integer sizes (token counts, bytes) for the distributed path.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from frames_map_reduce_spark.schema import require_columns

__all__ = ["pack_shards", "pack_sequences", "pack_sequences_extend",
           "pack_sequences_sql",
           "pack_token_ids", "pack_token_ids_sql",
           "pack_token_ids_extend",
           "write_packed_shards"]

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}

#: auto-bucketing thresholds (r7 verdict #2 — the two-phase machinery
#: unconditionally engaged costs ~3× the serial window's constant on
#: small inputs).  Below ``_AUTO_SERIAL_BYTES`` of estimated scan the
#: serial per-group window wins outright (a single window task over a
#: few MiB completes in milliseconds; the two paths are fuzz-pinned
#: output-identical, so the choice is pure cost).  Above it, target
#: ``_AUTO_BUCKET_BYTES`` of scan per bucket, clamped to [8, 64] — the
#: cap matters because Catalyst estimates through mapInPandas/join
#: lineages overshoot by orders of magnitude (observed 64 GB claimed
#: for a 600 KB corpus), and "auto" must never turn a garbage estimate
#: into a 500-way repartition; at true 100 TB scale callers pass
#: n_buckets explicitly per the docstrings.
_AUTO_SERIAL_BYTES = 6 << 20
_AUTO_BUCKET_BYTES = 128 << 20


def _resolve_n_buckets(sized: DataFrame, n_buckets: int | str) -> int:
    """Resolve ``n_buckets="auto"`` from cheap size evidence: the
    Catalyst logical-plan size estimate (file-source bytes propagated
    through the projection — no job runs).  Unavailable stats degrade
    to the DISTRIBUTED path (64) — the scale-safe default: on a 100 TB
    input a wrong serial choice is a one-task sort, a wrong distributed
    choice is a few redundant milliseconds."""
    if n_buckets != "auto":
        if not isinstance(n_buckets, int):
            raise ValueError(f"n_buckets must be an int or 'auto', "
                             f"got {n_buckets!r}")
        return n_buckets
    try:
        est = int(str(
            sized._jdf.queryExecution().optimizedPlan().stats()
                 .sizeInBytes()))
    except Exception:
        return 64
    if est >= (1 << 62):
        # spark.sql.defaultSizeInBytes sentinel (Long.MaxValue) — the
        # source has NO stats (e.g. a parallelized local collection),
        # not a 4-exabyte input; fall back as above
        return 64
    if est < _AUTO_SERIAL_BYTES:
        return 1
    return max(8, min(64, est // _AUTO_BUCKET_BYTES))


def _bucketize(sized: DataFrame, order_by: Sequence[str],
               by: Sequence[str], n_buckets: int) -> DataFrame:
    """Range-bucket ``sized`` on ``(by…, order_by…)`` and pin each row's
    bucket id as ``_pid`` (local-checkpointed).

    The checkpoint is the linchpin: both downstream consumers (the
    within-bucket cumsum and the per-bucket totals) must see the SAME
    bucketing, and ``spark_partition_id`` is only stable against the
    materialized frame.  The checkpoint belongs to the returned plan —
    it lives exactly as long as any plan that reads it, so a composed
    extend over a live prior plan cannot lose its bucketing, and is
    freed by Spark's ContextCleaner afterwards.  Checkpointed blocks
    are never recomputed: an executor loss fails the job rather than
    re-running the bucketing, whose ``spark_partition_id`` need not
    match the first run — a recomputed bucketing that the two branches
    see differently is the nondeterministic token loss once observed at
    sf1.0 in ``pack_token_ids_extend``.  Under AQE the range-partition
    shuffle beneath the checkpoint runs when the pack operator is
    called, not when its result is consumed.  Correctness does not
    otherwise depend on the boundaries — range partitioning guarantees
    every key in bucket i sorts before every key in bucket i+1, which
    is all the offset arithmetic needs."""
    cols = [*by, *order_by]
    return (sized.repartitionByRange(n_buckets, *[F.col(c) for c in cols])
                 .withColumn("_pid", F.spark_partition_id())
                 .localCheckpoint(eager=False))


def _running_offsets(df: DataFrame, size: Column, order_by: Sequence[str],
                     by: Sequence[str], n_buckets: int | str,
                     drop_nonpositive: bool) -> DataFrame:
    """``df`` + ``_sz`` (the evaluated size), ``_end`` (running BIGINT
    cumulative size through this row in ``order_by`` order within each
    ``by`` group) and ``_start`` (``_end − _sz``).

    Integral sizes with ``n_buckets > 1`` take the two-phase bucketed
    path (module docstring); fractional sizes and ``n_buckets == 1``
    take the serial per-group window, whose output is defined to be
    identical for integral sizes (fuzz-pinned)."""
    sized = df.withColumn("_sz", size)
    if drop_nonpositive:
        sized = sized.filter(F.col("_sz") > 0)
    n_buckets = _resolve_n_buckets(sized, n_buckets)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    dtype = sized.schema["_sz"].dataType.simpleString()
    if n_buckets == 1 or dtype not in _INTEGRAL:
        w = (Window.partitionBy(*[F.col(c) for c in by])
                   .orderBy(*[F.col(c) for c in order_by])
                   .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return (sized.withColumn("_end", F.sum("_sz").over(w))
                     .withColumn("_start", F.col("_end") - F.col("_sz")))
    bucketed = _bucketize(sized, order_by, by, n_buckets)
    w_local = (Window.partitionBy(*[F.col(c) for c in by], F.col("_pid"))
                     .orderBy(*[F.col(c) for c in order_by])
                     .rowsBetween(Window.unboundedPreceding,
                                  Window.currentRow))
    local = bucketed.withColumn("_lend", F.sum("_sz").over(w_local))
    totals = (bucketed.groupBy(*[F.col(c) for c in by], F.col("_pid"))
                      .agg(F.sum("_sz").alias("_tot")))
    w_off = (Window.partitionBy(*[F.col(c) for c in by]).orderBy("_pid")
                   .rowsBetween(Window.unboundedPreceding, -1))
    # one row per (group, bucket): ≤ n_buckets × n_groups — broadcastable
    # by construction, and the ONLY window that crosses buckets
    offsets = (totals.withColumn("_boff", F.sum("_tot").over(w_off))
                     .fillna(0, subset=["_boff"]))
    off = offsets.select(
        *[F.col(c).alias(f"_bk{i}") for i, c in enumerate(by)],
        F.col("_pid").alias("_bkp"), "_boff")
    # null-safe on the by keys: a NULL group is one window group in the
    # serial path and must join back to its offsets here too
    cond = _reduce(
        lambda a, b: a & b,
        [local[c].eqNullSafe(off[f"_bk{i}"]) for i, c in enumerate(by)],
        local["_pid"] == off["_bkp"])
    return (local.join(F.broadcast(off), cond)
                 .withColumn("_end", F.col("_boff") + F.col("_lend"))
                 .withColumn("_start", F.col("_end") - F.col("_sz"))
                 .drop("_pid", "_lend", "_boff", "_bkp",
                       *[f"_bk{i}" for i in range(len(by))]))


def pack_shards(df: DataFrame, size_col: Column | str, budget: int,
                order_by: Sequence[str], by: Sequence[str] = (),
                shard_col: str = "shard_id",
                n_buckets: int | str = "auto") -> DataFrame:
    """Label every row with its shard index under offset packing.

    ``size_col``: a column name or expression giving each row's size
    (tokens, bytes…).  ``order_by`` must totally order rows within each
    ``by`` group (include a unique id) or shard assignment is
    nondeterministic.  Returns ``df`` + ``shard_col`` (bigint, 0-based
    per group).  ``n_buckets`` sizes the two-phase distributed prefix
    sum (module docstring); the default ``"auto"`` picks it from the
    Catalyst size estimate (:func:`_resolve_n_buckets` — serial window
    below ~6 MiB of scan, scaling buckets with input beyond).  Integral
    sizes only (fractional sizes fall back to the serial per-group
    window, ulp note in the module docstring).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if not order_by:
        raise ValueError("order_by must name at least one column")
    require_columns(df, [*by, *order_by])
    size = F.col(size_col) if isinstance(size_col, str) else size_col
    off = _running_offsets(df, size, order_by, by, n_buckets,
                           drop_nonpositive=False)
    return (off.withColumn(
                shard_col,
                F.floor(F.col("_start") / F.lit(budget)).cast("bigint"))
               .select(*df.columns, shard_col))


def pack_shards_sql(size_expr: str, budget: int, order_by: Sequence[str],
                    by: Sequence[str] = ()) -> str:
    """DuckDB twin: expression for the shard index (same offset-packing
    spec), to embed in a SELECT over the same ordered window."""
    part = f"PARTITION BY {', '.join(by)} " if by else ""
    order = ", ".join(order_by)
    cum = (f"sum({size_expr}) OVER ({part}ORDER BY {order} "
           f"ROWS UNBOUNDED PRECEDING)")
    return f"CAST(floor(({cum} - {size_expr}) / {budget}) AS BIGINT)"


def write_packed_shards(df: DataFrame, path: str, size_col: Column | str,
                        budget: int, order_by: Sequence[str],
                        by: Sequence[str] = (),
                        fmt: str = "parquet") -> None:
    """Materialize offset-packed shards as ONE FILE PER SHARD — the
    output stage of a training-data pipeline: each file's total
    ``size_col`` (tokens, bytes, …) stays within ``budget`` (single
    oversized rows excepted, as in :func:`pack_shards`).

    Plan: assign shard ids (:func:`pack_shards`, one window pass) →
    hash-repartition on the shard keys so each shard's rows co-locate in
    one task → partitioned write with one file per (by…, shard_id)
    directory.  The repartition is the only added shuffle, and its key
    count equals the shard count, which packing already bounded to
    ~total_size/budget — there is no small-files problem and no
    driver-side loop at any scale."""
    packed = pack_shards(df, size_col, budget, order_by, by)
    keys = [*by, "shard_id"]
    out = packed.repartition(*[F.col(k) for k in keys])
    (out.write.mode("overwrite").partitionBy(*keys).format(fmt).save(path))


def pack_sequences(df: DataFrame, size_col: Column | str, block: int,
                   order_by: Sequence[str], by: Sequence[str] = (),
                   seq_col: str = "seq_id",
                   n_buckets: int | str = "auto") -> DataFrame:
    """Concat-and-chunk sequence packing — the GPT-style training-data
    layout: documents are (logically) concatenated in a deterministic
    order and the token stream is cut into fixed-``block``-token
    sequences, documents STRADDLING block boundaries (unlike
    :func:`pack_shards`, where a document belongs to exactly one shard).

    Returns the per-sequence packing manifest, one row per
    (``by``…, ``seq_col``): ``n_docs`` documents contributing tokens,
    ``n_tokens`` tokens falling in the block (== ``block`` everywhere
    except each group's final partial block), and ``n_starts`` documents
    whose first token lands there — exactly what a loader needs to seek
    into a packed corpus, and what a pipeline audits (fragmentation =
    docs split across sequences = n_docs − n_starts).

    Zero-size rows occupy no block and are excluded.  All arithmetic is
    BIGINT (offsets, integer floor-division block ids, least/greatest
    overlap widths) — engine-exact by design, no float ever enters.

    Scale: the running offsets come from the two-phase bucketed prefix
    sum (module docstring — ``n_buckets``-way parallel per pack group,
    not one task per group), then one explode (a document emits one row
    per block it touches — total rows = corpus_tokens/block + n_docs at
    most) and one 2-phase aggregation.  Sizes are cast BIGINT before
    the offsets, so the distributed path is always eligible; the
    ``"auto"`` default engages it only past the size threshold
    (:func:`_resolve_n_buckets`) — small inputs keep the cheaper
    serial window, with identical output either way."""
    if block <= 0:
        raise ValueError(f"block must be positive, got {block}")
    if not order_by:
        raise ValueError("order_by must name at least one column")
    require_columns(df, [*by, *order_by])
    size = F.col(size_col) if isinstance(size_col, str) else size_col
    sized = _running_offsets(df, size.cast("bigint"), order_by, by,
                             n_buckets, drop_nonpositive=True)
    blocks = sized.withColumn(
        seq_col, F.explode(F.sequence(F.expr(f"_start div {block}"),
                                      F.expr(f"(_end - 1) div {block}"))))
    lo = F.col(seq_col) * block          # block's first token offset
    hi = (F.col(seq_col) + 1) * block    # one past its last
    return (blocks.groupBy(*[F.col(c) for c in by], F.col(seq_col))
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum(F.least(F.col("_end"), hi)
                             - F.greatest(F.col("_start"), lo))
                        .alias("n_tokens"),
                       F.sum(F.when(F.col("_start") >= lo, 1).otherwise(0))
                        .alias("n_starts")))


def pack_sequences_sql(table_expr: str, size_expr: str, block: int,
                       order_by: Sequence[str], by: Sequence[str] = (),
                       seq_col: str = "seq_id") -> str:
    """DuckDB twin of :func:`pack_sequences` — same offsets (running
    BIGINT window sum), same inclusive ``generate_series`` block range
    (matching Spark's inclusive ``sequence``), same ``//`` integer floor
    division and least/greatest overlap arithmetic.  ``table_expr`` is a
    table name or parenthesized subquery providing ``size_expr`` and the
    ``by``/``order_by`` columns."""
    part = f"PARTITION BY {', '.join(by)} " if by else ""
    order = ", ".join(order_by)
    by_cols = "".join(f"{c}, " for c in by)
    return f"""
WITH _sized AS (
    SELECT {by_cols}{order}, CAST({size_expr} AS BIGINT) AS _sz
    FROM {table_expr}),
 _off AS (
    -- DuckDB's integer window sum widens to HUGEINT; pin BIGINT to
    -- match Spark's offsets (and generate_series' signature)
    SELECT *, CAST(sum(_sz) OVER ({part}ORDER BY {order}
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS _end
    FROM _sized WHERE _sz > 0),
 _blocks AS (
    SELECT {by_cols}_sz, _end, _end - _sz AS _start,
           unnest(generate_series((_end - _sz) // {block},
                                  (_end - 1) // {block})) AS {seq_col}
    FROM _off)
SELECT {by_cols}{seq_col},
       count(*) AS n_docs,
       CAST(sum(least(_end, ({seq_col} + 1) * {block})
                - greatest(_start, {seq_col} * {block})) AS BIGINT)
        AS n_tokens,
       CAST(sum(CASE WHEN _start >= {seq_col} * {block} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_starts
FROM _blocks GROUP BY {by_cols}{seq_col}
"""


def pack_token_ids(df: DataFrame, ids_col: str, block: int,
                   order_by: Sequence[str], by: Sequence[str] = (),
                   seq_col: str = "seq_id",
                   n_buckets: int | str = "auto") -> DataFrame:
    """Concat-and-chunk packing of TOKEN-ID STREAMS — the model-ready
    form of :func:`pack_sequences` (r9 verdict #3): documents'
    ``ids_col`` arrays (``tokenizer.encode_ids`` output) are logically
    concatenated in ``order_by`` order within each ``by`` group and cut
    into ``block``-token sequences, documents straddling boundaries.
    Where pack_sequences returns the per-sequence MANIFEST (counts),
    this returns the sequences themselves: one row per
    (``by``…, ``seq_col``) with ``token_ids: array<int>`` (exactly
    ``block`` IDs everywhere except each group's final partial block)
    and ``n_tokens``.  Empty-array rows occupy no block and are
    excluded (the pack_sequences zero-size convention).

    Scale shape: the offsets are the same two-phase bucketed BIGINT
    prefix sum; then ONE posexplode (a row per token — the irreducible
    cost of materializing the stream) and one 2-phase aggregation whose
    groups are bounded at ``block`` IDs, reassembled in-group by an
    integer array_sort (position within block is ``_gpos % block``,
    unique by construction).  Nothing driver-side, nothing quadratic;
    output volume ≈ input token volume, as it must be."""
    if block <= 0:
        raise ValueError(f"block must be positive, got {block}")
    if not order_by:
        raise ValueError("order_by must name at least one column")
    require_columns(df, [*by, *order_by, ids_col])
    off = _running_offsets(df, F.size(F.col(ids_col)).cast("bigint"),
                           order_by, by, n_buckets, drop_nonpositive=True)
    return _pack_ids_tail(off, ids_col, block, by, seq_col)


def _pack_ids_tail(off: DataFrame, ids_col: str, block: int,
                   by: Sequence[str], seq_col: str) -> DataFrame:
    """Shared tail of :func:`pack_token_ids` / :func:`pack_token_ids_extend`:
    offsets → one per-document block explode (a row per block the
    document STRADDLES, the :func:`pack_sequences` shape) carrying the
    document's array SLICE for that block → bounded-group integer
    array_sort reassembly.

    r13 (guide §2.3 — shuffle fewer rows): this was one ``posexplode``
    row PER TOKEN (id + slot struct through the exchange and a
    ``block``-element ``collect_list`` per sequence).  The slice form
    moves the same token bytes as contiguous arrays — row count drops
    from ``corpus_tokens`` to ``corpus_tokens/block + n_docs``, and the
    per-group sort compares a handful of slices instead of ``block``
    structs.  Output is BIT-IDENTICAL: slices within a block are
    disjoint slot ranges (one row per document per block), so sorting
    by each slice's first slot and flattening reproduces exactly the
    slot-sorted token order; ``n_tokens`` is the same count summed
    slice-wise.  The slice/slot columns are projected BEFORE the
    exchange so a straddling document ships each block exactly its own
    piece, never the whole array."""
    b = int(block)
    sized = (off.select(*[F.col(c) for c in by], F.col("_start"),
                        F.col(ids_col).alias("_ids"))
                .withColumn("_end",
                            F.col("_start")
                            + F.size("_ids").cast("bigint")))
    blocks = sized.withColumn(
        seq_col, F.explode(F.sequence(F.expr(f"_start div {b}"),
                                      F.expr(f"(_end - 1) div {b}"))))
    lo = F.col(seq_col) * b
    cut_len = (F.least(F.col("_end"), lo + b)
               - F.greatest(F.col("_start"), lo))
    pieces = blocks.select(
        *[F.col(c) for c in by], F.col(seq_col),
        # slot of the slice's first token within the block — unique per
        # (group, block): documents occupy disjoint slot ranges
        F.greatest(F.col("_start") - lo, F.lit(0)).cast("int").alias("_o"),
        F.slice(F.col("_ids"),
                (F.greatest(lo - F.col("_start"), F.lit(0)) + 1)
                 .cast("int"),
                cut_len.cast("int")).alias("_piece"),
        cut_len.alias("_n"))
    return (pieces.groupBy(*[F.col(c) for c in by], F.col(seq_col))
                  .agg(F.flatten(F.transform(
                           F.array_sort(F.collect_list(
                               F.struct(F.col("_o").alias("o"),
                                        F.col("_piece").alias("t")))),
                           lambda s: s["t"])).alias("token_ids"),
                       F.sum("_n").cast("bigint").alias("n_tokens")))


def pack_token_ids_extend(prior_packed: DataFrame, new_df: DataFrame,
                          ids_col: str, block: int,
                          order_by: Sequence[str], by: Sequence[str] = (),
                          seq_col: str = "seq_id",
                          n_buckets: int | str = "auto") -> DataFrame:
    """Incremental :func:`pack_token_ids`: fold a batch of NEW
    documents' ID streams into an existing packed output WITHOUT
    re-encoding or re-packing the corpus — the token-stream twin of
    :func:`pack_sequences_extend`, and the arc a daily training-data
    pipeline actually runs (encode the delta, extend the shards).

    State needed from the prior pack: each group's total token count
    (``sum(n_tokens)`` — exact BIGINT, carried by the packed frame
    itself) and each group's one PARTIAL tail sequence, whose IDs the
    first new tokens complete.  New offsets resume from the total, so
    the straddled tail's delta slots start exactly where the prior
    partial left off — the merge is a slot-ordered concatenation
    (prior IDs first), every other sequence passes through or is
    delta-only.

    CONTRACT (same as pack_sequences_extend, equality-pinned by the
    registry oracle): within each group, every new document's
    ``order_by`` key sorts AFTER all previously packed documents' —
    monotone ingestion ids.  Under it the result is BIT-IDENTICAL to
    ``pack_token_ids(old ∪ new)``; groups unseen in the prior start at
    offset 0, groups with no new documents pass through unchanged.

    Scale shape: one aggregation over the prior manifest's counts
    (tiny, broadcast), the same offsets/posexplode/agg as
    :func:`pack_token_ids` over the NEW batch only, then one
    key-partitioned merge whose per-group concat is bounded at
    ``block`` IDs."""
    if block <= 0:
        raise ValueError(f"block must be positive, got {block}")
    if not order_by:
        raise ValueError("order_by must name at least one column")
    require_columns(new_df, [*by, *order_by, ids_col])
    require_columns(prior_packed, [*by, seq_col, "token_ids", "n_tokens"])
    sized = _running_offsets(new_df,
                             F.size(F.col(ids_col)).cast("bigint"),
                             order_by, by, n_buckets,
                             drop_nonpositive=True)
    prior_tot = (prior_packed.groupBy(*[F.col(c) for c in by])
                             .agg(F.sum("n_tokens").cast("bigint")
                                   .alias("_prior")))
    if by:
        shifted = (sized.join(F.broadcast(prior_tot.select(
                        *[prior_tot[c].alias(f"_pg{i}")
                          for i, c in enumerate(by)], "_prior")),
                        _reduce(lambda a, b: a & b,
                                [sized[c].eqNullSafe(F.col(f"_pg{i}"))
                                 for i, c in enumerate(by)], F.lit(True)),
                        "left")
                        .drop(*[f"_pg{i}" for i in range(len(by))]))
    else:
        shifted = (sized.withColumn("_jk", F.lit(1))
                        .join(F.broadcast(
                            prior_tot.withColumn("_jk", F.lit(1))),
                              "_jk", "left")
                        .drop("_jk"))
    shifted = (shifted
               .withColumn("_prior", F.coalesce("_prior", F.lit(0))
                            .cast("bigint"))
               .withColumn("_start", F.col("_start") + F.col("_prior"))
               .withColumn("_end", F.col("_end") + F.col("_prior")))
    delta = _pack_ids_tail(shifted, ids_col, block, by, seq_col)
    keep = [*by, seq_col, "token_ids", "n_tokens"]
    # the straddled tail merges prior-IDs-first: the monotone contract
    # puts every delta slot after the prior partial's slots, so the
    # marker-ordered concat IS the slot order
    merged = (prior_packed.select(*keep).withColumn("_m", F.lit(0))
              .unionByName(delta.select(*keep).withColumn("_m", F.lit(1))))
    return (merged.groupBy(*[F.col(c) for c in by], F.col(seq_col))
                  .agg(F.flatten(F.transform(
                           F.array_sort(F.collect_list(
                               F.struct(F.col("_m").alias("m"),
                                        F.col("token_ids").alias("t")))),
                           lambda s: s["t"])).alias("token_ids"),
                       F.sum("n_tokens").cast("bigint").alias("n_tokens")))


def pack_token_ids_sql(table_expr: str, ids_expr: str, block: int,
                       order_by: Sequence[str], by: Sequence[str] = (),
                       seq_col: str = "seq_id") -> str:
    """DuckDB twin of :func:`pack_token_ids`: same BIGINT window
    offsets, same ``//`` floor block ids, token order re-established by
    ``list(… ORDER BY _gpos)`` (the indexed list_transform supplies the
    within-document position DuckDB's unnest lacks)."""
    part = f"PARTITION BY {', '.join(by)} " if by else ""
    order = ", ".join(order_by)
    by_cols = "".join(f"{c}, " for c in by)
    return f"""
WITH _ptsized AS (
    SELECT {by_cols}{order}, {ids_expr} AS _ids,
           CAST(len({ids_expr}) AS BIGINT) AS _sz
    FROM {table_expr}),
 _ptoff AS (
    SELECT *, CAST(sum(_sz) OVER ({part}ORDER BY {order}
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS _end
    FROM _ptsized WHERE _sz > 0),
 _pttok AS (
    SELECT {by_cols}(_end - _sz) + _u.i - 1 AS _gpos, _u.x AS _id
    FROM (SELECT {by_cols}_end, _sz,
                 unnest(list_transform(_ids,
                        (x, i) -> {{'x': x, 'i': i}})) AS _u
          FROM _ptoff) _t)
SELECT {by_cols}_gpos // {int(block)} AS {seq_col},
       list(_id ORDER BY _gpos) AS token_ids,
       count(*)::BIGINT AS n_tokens
FROM _pttok GROUP BY {by_cols}{seq_col}
"""


def pack_sequences_extend(prior_manifest: DataFrame, new_df: DataFrame,
                          size_col: Column | str, block: int,
                          order_by: Sequence[str], by: Sequence[str] = (),
                          seq_col: str = "seq_id",
                          n_buckets: int | str = "auto") -> DataFrame:
    """Incremental :func:`pack_sequences`: fold a batch of NEW documents
    into an existing packed manifest WITHOUT re-packing the corpus — the
    daily-ingestion shape (at 100 TB a full repack re-reads everything;
    this touches only the new batch plus the manifest, which is
    corpus_tokens/block rows, not the corpus).

    The only state needed from the prior pack is each group's total
    token count, and the manifest itself carries it (``sum(n_tokens)``
    per group — exact, all-BIGINT).  New documents' offsets resume from
    that total; their block rows are computed exactly as
    ``pack_sequences`` computes them and SUMMED into the prior manifest
    on ``(by…, seq_col)`` — a document is either old or new, so every
    count is additive, and each group's straddled tail block merges by
    construction.

    CONTRACT (documented, equality-pinned, not checkable from the
    manifest alone): within each group, every new document's
    ``order_by`` key must sort AFTER all previously packed documents'
    keys — monotone ingestion ids, the append-only log shape.  Under
    that contract the result is BIT-IDENTICAL to
    ``pack_sequences(old ∪ new)`` (the registry row's oracle IS the
    full repack, so the driver hash-proves the equivalence
    cross-engine).  Groups unseen in the prior manifest start at
    offset 0; groups with no new documents pass through unchanged.

    Scale shape: one aggregation over the manifest (tiny), the same
    two-phase offsets/explode/agg as ``pack_sequences`` over the NEW
    batch only, then one key-partitioned merge aggregation over
    manifest ∪ delta."""
    if block <= 0:
        raise ValueError(f"block must be positive, got {block}")
    if not order_by:
        raise ValueError("order_by must name at least one column")
    require_columns(new_df, [*by, *order_by])
    require_columns(prior_manifest,
                    [*by, seq_col, "n_docs", "n_tokens", "n_starts"])
    size = F.col(size_col) if isinstance(size_col, str) else size_col
    sized = _running_offsets(new_df, size.cast("bigint"), order_by, by,
                             n_buckets, drop_nonpositive=True)
    prior = (prior_manifest.groupBy(*[F.col(c) for c in by])
                           .agg(F.sum("n_tokens").cast("bigint")
                                 .alias("_prior")))
    if by:
        # null-safe: a NULL group is a group here like everywhere else
        shifted = (sized.join(F.broadcast(prior.select(
                        *[prior[c].alias(f"_pg{i}")
                          for i, c in enumerate(by)], "_prior")),
                        _reduce(lambda a, b: a & b,
                                [sized[c].eqNullSafe(F.col(f"_pg{i}"))
                                 for i, c in enumerate(by)], F.lit(True)),
                        "left")
                        .drop(*[f"_pg{i}" for i in range(len(by))]))
    else:
        # global pack: prior is 0 or 1 rows — constant-key left join so
        # an EMPTY prior (first pack) degrades to offset 0, where a
        # crossJoin would wrongly produce no rows
        shifted = (sized.withColumn("_jk", F.lit(1))
                        .join(F.broadcast(prior.withColumn("_jk", F.lit(1))),
                              "_jk", "left")
                        .drop("_jk"))
    shifted = (shifted
               .withColumn("_prior", F.coalesce("_prior", F.lit(0))
                            .cast("bigint"))
               .withColumn("_start", F.col("_start") + F.col("_prior"))
               .withColumn("_end", F.col("_end") + F.col("_prior")))
    blocks = shifted.withColumn(
        seq_col, F.explode(F.sequence(F.expr(f"_start div {block}"),
                                      F.expr(f"(_end - 1) div {block}"))))
    lo = F.col(seq_col) * block
    hi = (F.col(seq_col) + 1) * block
    delta = (blocks.groupBy(*[F.col(c) for c in by], F.col(seq_col))
                   .agg(F.count(F.lit(1)).alias("n_docs"),
                        F.sum(F.least(F.col("_end"), hi)
                              - F.greatest(F.col("_start"), lo))
                         .alias("n_tokens"),
                        F.sum(F.when(F.col("_start") >= lo, 1).otherwise(0))
                         .alias("n_starts")))
    keep = [*by, seq_col, "n_docs", "n_tokens", "n_starts"]
    return (prior_manifest.select(*keep).unionByName(delta.select(*keep))
            .groupBy(*[F.col(c) for c in by], F.col(seq_col))
            .agg(F.sum("n_docs").cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                 F.sum("n_starts").cast("bigint").alias("n_starts")))
