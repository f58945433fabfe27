"""Query rigs + DuckDB oracle twins for the driver contract.

This module owns the per-query rig functions (``q_*``, plus the
bench-only ``bench_*`` rigs), their shared helpers/constants,
``QUERY_TABLE`` (the one list of which queries exist and which are
benched) and ``oracle_sql()`` (the twin dict, keyed by query name).
``__spark_entry__.py`` keeps only the contract surface: ``entry`` /
``queries`` / ``oracle_sql``.

Conventions shared by both sides (so value-hashes match):
- every computed column is aliased identically in Spark and SQL;
- double aggregates are ROUNDed (money 2dp, ratios/sims 6dp) on BOTH
  sides — double summation order differs between engines, rounding makes
  the results comparable;
- integer-ish outputs are cast to BIGINT on both sides;
- rankings round similarity BEFORE ranking and tie-break on ids, so
  ordering is engine-independent.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frames_map_reduce_spark import folds
from frames_map_reduce_spark import sources as SRC
from frames_map_reduce_spark.aggregation import (
    aggregate_fold,
    combine_key_aggregations,
    cube_fold,
    key_map,
    merge_data_folds,
    rollup_fold,
)
from frames_map_reduce_spark.functions import text as TX
from frames_map_reduce_spark.functions import tokenizer as TKZ
from frames_map_reduce_spark.mapreduce import (
    assign_keys,
    assign_keys_and_data,
    fold_and_add_key,
    frame_concat,
    make_recs_with_key,
    map_reduce,
    reduce_and_add_key,
    split_on_data,
    split_on_keys,
    unpack_filter_on_field,
    unpack_filter_row,
    unpack_flat_map,
    unpack_good_rows,
    unpack_no_op,
)
from frames_map_reduce_spark.operators import bloom as BL
from frames_map_reduce_spark.operators import cdc as CDC
from frames_map_reduce_spark.operators import classifier as CLF
from frames_map_reduce_spark.operators import clusters as CL
from frames_map_reduce_spark.operators import dedup as DD
from frames_map_reduce_spark.operators import frequency as FRQ
from frames_map_reduce_spark.operators import layout as LA
from frames_map_reduce_spark.operators import packing as PK
from frames_map_reduce_spark.operators import quality as QL
from frames_map_reduce_spark.operators import quantized as QZ
from frames_map_reduce_spark.operators import sampling as SMP
from frames_map_reduce_spark.operators import retrieval as RET
from frames_map_reduce_spark.operators import similarity as SIM


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet is a single split at test scale — widen so the
    heavy per-row string expressions parallelize (no-op on wide scans)."""
    from frames_map_reduce_spark.partitioning import ensure_parallelism
    return ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw documents scan, NOT widened — for paths whose per-row work is
    cheap JVM hashing (the Bloom word-row builds): the round-robin widen
    is a full exchange, and the 32 map tasks it creates multiply every
    downstream shuffle's block count (measured: bloom word_rows to a
    noop sink 0.92 s widened vs 0.30 s raw at sf0.1 — guide §2.2/§2.4).
    At 100 TB the scan is already wide and ``ensure_parallelism``
    no-ops, so skipping it here keeps the exact production plan shape;
    Python-heavy operators (minhash signing, tokenizer encode) widen
    their own narrow projections internally and are unaffected."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _overlap(*thunks):
    """Run independent Spark actions from driver threads (guide §2.6 —
    overlap independent jobs): each thunk's job back-fills executors
    idled by the others' stage tails, so the wall-clock is ~max()
    instead of sum().  Returns the thunk results in order; exceptions
    propagate.  Only for thunks with NO data dependence on each other
    (the caller asserts that by using this)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # each thread carries its own copy of the caller's local properties,
    # so its jobs keep the caller's job tags
    spark = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(inheritable_thread_target(spark)(t))
                for t in thunks]
        return [f.result() for f in futs]


def _stage_batches(slices, stage_dir: str) -> None:
    """Stage mtime-ordered single-file micro-batches: write every slice
    CONCURRENTLY (independent jobs over the same scan — guide §2.6),
    then move each single part file into ``stage_dir/{i}.parquet`` with
    a deterministic mtime.  Identical bytes/ordering to the old serial
    per-slice loop (each slice is still one coalesce(1) write); only
    the wall-clock changes."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    base = _os.path.dirname(stage_dir)

    def write_one(i_df):
        i, df = i_df
        out = f"{base}/f{i}"
        df.coalesce(1).write.parquet(out)
        part = _glob.glob(f"{out}/part-*.parquet")[0]
        dst = f"{stage_dir}/{i}.parquet"
        _shutil.move(part, dst)
        _os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    _overlap(*[lambda p=pair: write_one(p) for pair in enumerate(slices)])


def _hash_token_ids(packed: DataFrame) -> DataFrame:
    """Project a pack_token_ids output's raw ``token_ids array<int>``
    through ``md5(to_json(...))`` for the driver registry (r10 verdict
    #1: the driver's pandas canonicalizer cannot sort list cells).
    Spark ``to_json(array<int>)`` and DuckDB ``to_json(INT[])::VARCHAR``
    both render the compact ``[1,2,3]`` form, so the digests are
    engine-exact.  The DuckDB twin is :func:`_hash_token_ids_sql`."""
    return packed.select(
        *[c for c in packed.columns if c != "token_ids"],
        F.md5(F.to_json(F.col("token_ids"))).alias("ids_md5"))


def _hash_token_ids_sql(twin_sql: str) -> str:
    """DuckDB side of :func:`_hash_token_ids` — wraps a
    pack_token_ids_sql twin, replacing ``token_ids`` with its digest."""
    return (f"SELECT * EXCLUDE (token_ids), "
            f"md5(to_json(token_ids)::VARCHAR) AS ids_md5 "
            f"FROM ({twin_sql}) _tok_hashed")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped ts as TIMESTAMP(NANOS) (older testdata —
    Spark's reader rejects nanos unless read as long) and as plain
    TIMESTAMP(MICROS) (current testdata).  Adapt to whichever is on disk:
    nanos-as-long gets an exact integral division to micros (no double
    rounding); a native timestamp passes through.  Session tz pinned to
    UTC so hour truncation and collected values match the (naive) oracle
    timestamps regardless of the host session's default."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(ev.schema["ts"].dataType, T.LongType):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # TIMESTAMP_NTZ → session-tz TIMESTAMP (UTC pinned above): keeps
        # wall-clock values and restores BIGINT-castability for the
        # epoch-second window arithmetic downstream
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


# ---------------------------------------------------------------------------
# Core map-reduce family (reference SURVEY §2.2-§2.7)
# ---------------------------------------------------------------------------

def q_mr_sum_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M0 flagship: the reference Readme pipeline (Readme.md:105-117) on
    lineitem — filter, group by label, sum numeric columns."""
    li = _t(spark, sf_dir, "lineitem")
    return map_reduce(
        li,
        unpack=unpack_filter_on_field("l_returnflag", lambda c: c.isin("A", "R")),
        assign=split_on_keys(["l_returnflag"]),
        reduce=fold_and_add_key(
            folds.of(F.round(F.sum("l_quantity"), 2), "sum_qty")
            & folds.of(F.round(F.sum("l_extendedprice"), 2), "sum_price")),
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape via the fold algebra — one .agg() pass (fold fusion,
    reference sequenceRecFold, Folds.hs:147-154)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    fold = merge_data_folds(
        folds.of(F.round(F.sum("l_quantity"), 2), "sum_qty"),
        folds.of(F.round(F.sum("l_extendedprice"), 2), "sum_base_price"),
        folds.of(F.round(F.sum(disc_price), 2), "sum_disc_price"),
        folds.of(F.round(F.sum(charge), 2), "sum_charge"),
        folds.of(F.round(F.avg("l_quantity"), 6), "avg_qty"),
        folds.of(F.round(F.avg("l_extendedprice"), 6), "avg_price"),
        folds.of(F.round(F.avg("l_discount"), 6), "avg_disc"),
        folds.of(F.count(F.lit(1)), "count_order"),
    )
    return map_reduce(
        li,
        unpack=unpack_filter_row(F.col("l_shipdate") <= F.lit("2002-09-02").cast("timestamp")),
        assign=split_on_keys(["l_returnflag", "l_linestatus"]),
        reduce=fold_and_add_key(fold),
    )


def q_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's weighted-mean data fold (Readme.md:119-127):
    sum(w), sum(x*w)/sum(w)."""
    li = _t(spark, sf_dir, "lineitem")
    out = map_reduce(
        li,
        unpack=unpack_no_op(),
        assign=split_on_keys(["l_returnflag"]),
        reduce=fold_and_add_key(
            folds.of(F.round(F.sum("l_quantity"), 2), "sum_qty")
            & folds.weighted_mean("l_discount", "l_quantity", out="w_avg_disc")),
    )
    return out.withColumn("w_avg_disc", F.round("w_avg_disc", 6))


def q_fold_all_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foldAllConstrained @Num FL.sum (reference Folds.hs:208-225) over
    lineitem's numeric columns, keyed by linestatus."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    out = map_reduce(
        li,
        unpack=unpack_no_op(),
        assign=split_on_keys(["l_linestatus"]),
        reduce=fold_and_add_key(folds.fold_all_constrained(li, folds.sum_,
                                                           exclude=["l_linestatus"])),
    )
    return out.select(
        "l_linestatus",
        *[F.round(c, 2).alias(c) for c in
          ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]])


def q_good_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpackGoodRows (reference MapReduce.hs:110-116): project + drop
    null rows, then count per group."""
    li = _t(spark, sf_dir, "lineitem")
    return map_reduce(
        li,
        unpack=unpack_good_rows(["l_linestatus", "l_quantity", "l_discount"]),
        assign=split_on_keys(["l_linestatus"]),
        reduce=fold_and_add_key(folds.count_star("n")
                                & folds.of(F.round(F.sum("l_quantity"), 2), "sum_qty")),
    )


def q_null_propagating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-propagating aggregation (reference functorFoldAllConstrained,
    Folds/General.hs:260-273): any NULL in group ⇒ NULL out.  The events
    table's value column is aggregated both ways to exhibit the contrast."""
    ev = _events(spark, sf_dir)
    out = map_reduce(
        ev,
        unpack=unpack_no_op(),
        assign=split_on_keys(["event_type"]),
        reduce=fold_and_add_key(
            folds.of(F.round(F.sum("value"), 2), "skip_sum")
            & folds.null_propagating(F.sum, "value", out="prop_sum")),
    )
    return out.withColumn("prop_sum", F.round("prop_sum", 2))


def q_aggregate_fold_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-coarsening aggregation (reference aggregateFold,
    Aggregation.hs:123-136): coarsen o_orderdate → year holding
    o_orderstatus fixed."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderdate", "o_totalprice")
    km = key_map("o_orderdate", "order_year",
                 lambda c: F.year(c).cast("bigint"))
    out = aggregate_fold(
        orders, km,
        merge_data_folds(folds.count_star("n"),
                         folds.of(F.round(F.sum("o_totalprice"), 2), "sum_price")),
        constant_keys=["o_orderstatus"])
    return out


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole key hierarchy in one pass (aggregation.rollup_fold): order
    year → status → grand total.  The reference would run aggregateFold
    once per level and frameConcat; Spark ROLLUP computes every level
    off a single shuffle."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("bigint"))
    return rollup_fold(
        orders, ["order_year", "o_orderstatus"],
        merge_data_folds(folds.count_star("n"),
                         folds.of(F.round(F.sum("o_totalprice"), 2), "sum_price")))


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping lattice (aggregation.cube_fold): all 2^2 subsets of
    (order year, status) computed off a single shuffle — the companion to
    q_rollup_revenue's hierarchy."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("bigint"))
    return cube_fold(
        orders, ["order_year", "o_orderstatus"],
        merge_data_folds(folds.count_star("n"),
                         folds.of(F.round(F.sum("o_totalprice"), 2), "sum_price")))


def q_combine_key_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """combineKeyAggregations (reference Aggregation.hs:65-74): product of
    two key maps over disjoint inputs — priority class × order year."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderdate", "o_totalprice")
    km = combine_key_aggregations(
        key_map("o_orderpriority", "prio_class",
                lambda c: F.when(c.isin("1-URGENT", "2-HIGH"), "urgent").otherwise("normal")),
        key_map("o_orderdate", "order_year", lambda c: F.year(c).cast("bigint")),
    )
    from frames_map_reduce_spark.aggregation import aggregate_all_fold
    return aggregate_all_fold(
        orders, km,
        merge_data_folds(folds.count_star("n"),
                         folds.of(F.round(F.sum("o_totalprice"), 2), "sum_price")))


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """makeRecsWithKey (reference MapReduce.hs:169-179): whole-group →
    many rows via applyInPandas — top-3 lineitems per returnflag by
    extendedprice, deterministic tie-breaks."""
    li = _t(spark, sf_dir, "lineitem")

    def top3(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.sort_values(["l_extendedprice", "l_orderkey", "l_linenumber"],
                              ascending=[False, True, True]).head(3)
        return out[["l_orderkey", "l_linenumber", "l_extendedprice"]]

    return map_reduce(
        li,
        unpack=unpack_no_op(),
        assign=split_on_keys(["l_returnflag"]),
        reduce=make_recs_with_key(
            top3, "l_orderkey bigint, l_linenumber int, l_extendedprice double"),
    )


def q_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reduceAndAddKey (reference MapReduce.hs:151-159): arbitrary
    whole-group function → one row (median needs the whole group)."""
    li = _t(spark, sf_dir, "lineitem")

    def med(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"median_qty": [round(float(pdf["l_quantity"].median()), 6)]})

    return map_reduce(
        li,
        unpack=unpack_no_op(),
        assign=split_on_keys(["l_returnflag"]),
        reduce=reduce_and_add_key(med, "median_qty double"),
    )


def q_flatmap_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized flatMap Unpack (reference Aggregation.hs:116-118 uses
    the Unpack-as-flatMap form): explode document tokens, count per token."""
    docs = _docs(spark, sf_dir)
    # explode plain split (codegen) rather than a filtered higher-order
    # expression (interpreted per element), and filter on the group key
    # BEFORE the shuffle — semantically identical to HAVING on the key
    exploded = docs.select(
        F.explode(F.split(F.lower(F.col("text")), TX.WS)).alias("token"))
    return map_reduce(
        exploded,
        unpack=unpack_filter_row((F.col("token") != "") & (F.length("token") >= 4)),
        assign=split_on_keys(["token"]),
        reduce=fold_and_add_key(folds.count_star("n")),
    )


def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FL.list (reference examples/AddRowsByLabel.hs:116) rendered
    deterministically: sorted distinct statuses per returnflag, joined."""
    li = _t(spark, sf_dir, "lineitem")
    out = map_reduce(
        li,
        unpack=unpack_no_op(),
        assign=split_on_keys(["l_returnflag"]),
        reduce=fold_and_add_key(folds.collect_set_sorted("l_linestatus", out="statuses")),
    )
    return out.withColumn("statuses", F.array_join("statuses", ","))


# ---------------------------------------------------------------------------
# §2 operators previously pinned by unit test only (VERDICT r1 gap #1):
# each now has a driver-checked query + oracle.
# ---------------------------------------------------------------------------

def q_split_on_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """splitOnData (reference src/Frames/MapReduce.hs:143-149): name the
    DATA columns, key is everything else."""
    li = _t(spark, sf_dir, "lineitem")
    data = [c for c in li.columns if c not in ("l_returnflag", "l_linestatus")]
    return map_reduce(
        li, unpack_no_op(), split_on_data(data),
        fold_and_add_key(folds.count_star("n")
                         & folds.of(F.round(F.sum("l_quantity"), 2), "sum_qty")))


def q_assign_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """assignKeys (reference src/Frames/MapReduce.hs:127-133): data = the
    WHOLE row, keys included — the fold here counts the key column itself,
    which only works under whole-row data semantics."""
    od = _t(spark, sf_dir, "orders")
    return map_reduce(
        od, unpack_no_op(), assign_keys(["o_orderstatus"]),
        fold_and_add_key(folds.of(F.count("o_orderstatus"), "n_key_vals")
                         & folds.of(F.round(F.sum("o_totalprice"), 2), "sum_price")))


def q_assign_keys_and_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """assignKeysAndData (reference src/Frames/MapReduce.hs:118-125): both
    sides explicit, all other columns dropped before the shuffle."""
    od = _t(spark, sf_dir, "orders")
    return map_reduce(
        od, unpack_no_op(),
        assign_keys_and_data(["o_orderpriority"], ["o_totalprice"]),
        fold_and_add_key(folds.count_star("n")
                         & folds.of(F.round(F.sum("o_totalprice"), 2), "sum_price")
                         & folds.of(F.max("o_totalprice"), "max_price")))


def q_fold_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foldAll (reference src/Frames/Folds.hs:197-206): one fold ctor
    stamped over every listed column — here max over a string AND an int
    column (no Num constraint, unlike foldAllConstrained)."""
    na = _t(spark, sf_dir, "nation")
    return map_reduce(
        na, unpack_no_op(), split_on_keys(["n_regionkey"]),
        fold_and_add_key(folds.fold_all(["n_name", "n_nationkey"], folds.max_)))


def q_fold_all_monoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foldAllMonoid (reference src/Frames/Folds.hs:229-249): the endo-fold
    derived from a monoid name (Min here) applied across columns of mixed
    type (timestamp + double)."""
    od = _t(spark, sf_dir, "orders")
    return map_reduce(
        od, unpack_no_op(), split_on_keys(["o_orderpriority"]),
        fold_and_add_key(
            folds.fold_all_monoid(od, "min", among=["o_orderdate", "o_totalprice"])))


def q_pandas_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary FL.Fold (reference src/Frames/Folds.hs:78) as a
    GROUPED_AGG pandas fold MIXED with a native fold in one FoldReduce —
    exercises the two-pass null-safe split (mapreduce.py FoldReduce)."""
    li = _t(spark, sf_dir, "lineitem")

    def _rng(s: pd.Series) -> float:
        return float(s.max() - s.min())

    return map_reduce(
        li, unpack_no_op(), split_on_keys(["l_returnflag"]),
        fold_and_add_key(
            folds.pandas_fold(_rng, "double", "l_quantity", out="qty_range")
            & folds.of(F.round(F.sum("l_extendedprice"), 2), "sum_price")))


def q_frame_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frameConcat (reference src/Frames/MapReduce.hs / SURVEY §2.7):
    union-all semantics — the two branches overlap on [500, 1000), whose
    rows must be counted twice."""
    cu = _t(spark, sf_dir, "customer")
    lo = cu.filter(F.col("c_acctbal") < 1000.0)
    hi = cu.filter(F.col("c_acctbal") >= 500.0)
    return map_reduce(
        frame_concat([lo, hi]), unpack_no_op(), split_on_keys(["c_mktsegment"]),
        fold_and_add_key(folds.count_star("n")
                         & folds.of(F.round(F.sum("c_acctbal"), 2), "sum_bal")))


def q_to_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toFrame (reference examples/AddRowsByLabel.hs:134-144): an in-memory
    row list becomes a frame, here a small dimension broadcast-joined to
    orders."""
    ref = SRC.to_frame(
        spark,
        [("1-URGENT", 3), ("2-HIGH", 2), ("3-MEDIUM", 1)],
        "o_orderpriority string, weight int")
    od = _t(spark, sf_dir, "orders")
    return map_reduce(
        od.join(F.broadcast(ref), "o_orderpriority"),
        unpack_no_op(), split_on_keys(["weight"]),
        fold_and_add_key(folds.count_star("n")
                         & folds.of(F.round(F.sum("o_totalprice"), 2), "sum_price")))


PERMISSIVE_CSV = "/root/repo/tests/fixtures/permissive.csv"


def q_read_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readRec per-CELL-failure CSV ingestion (reference
    examples/AddRowsByLabel.hs:146-155, Readme.md:207-216): a bad cell
    nulls that cell, the row survives and its good cells still fold."""
    schema = T.StructType([
        T.StructField("label", T.StringType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("x", T.DoubleType()),
    ])
    df = SRC.read_csv_permissive(spark, PERMISSIVE_CSV, schema)
    return map_reduce(
        df, unpack_no_op(), split_on_keys(["label"]),
        fold_and_add_key(folds.of(F.round(F.sum("y"), 2), "sum_y")
                         & folds.of(F.round(F.sum("x"), 2), "sum_x")
                         & folds.count_star("n")))


# ---------------------------------------------------------------------------
# Scale extensions: text analysis
# ---------------------------------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    enriched = docs.select(
        "source",
        TX.token_count(F.col("text")).cast("bigint").alias("n_tok"),
        TX.punct_ratio(F.col("text")).alias("punct"),
        TX.digit_ratio(F.col("text")).alias("digit"),
        TX.stopword_ratio(F.col("text")).alias("stop"),
    )
    return map_reduce(
        enriched,
        unpack=unpack_no_op(),
        assign=split_on_keys(["source"]),
        reduce=fold_and_add_key(
            folds.of(F.sum("n_tok"), "total_tokens")
            & folds.of(F.round(F.avg("punct"), 6), "avg_punct_ratio")
            & folds.of(F.round(F.avg("digit"), 6), "avg_digit_ratio")
            & folds.of(F.round(F.avg("stop"), 6), "avg_stopword_ratio")),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (docs.select(TX.lang_id(F.col("text")).alias("pred_lang"))
                .groupBy("pred_lang").agg(F.count(F.lit(1)).alias("n")))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    enriched = docs.select(
        "lang",
        TX.token_count(F.col("text")).cast("bigint").alias("n_tok"),
        TX.wordish_count(F.col("text")).cast("bigint").alias("n_wordish"))
    return map_reduce(
        enriched, unpack_no_op(), split_on_keys(["lang"]),
        fold_and_add_key(
            folds.of(F.sum("n_tok"), "sum_tokens")
            & folds.of(F.round(F.avg("n_tok"), 6), "avg_tokens")
            & folds.of(F.sum("n_wordish"), "sum_wordish")))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (docs.select("source", TX.fingerprint(F.col("text")).alias("fp"))
                .groupBy("source")
                .agg(F.count_distinct("fp").cast("bigint").alias("n_distinct"),
                     F.count(F.lit(1)).alias("n_docs")))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition profile (operators/quality.py): per-doc
    duplicate-bigram and top-bigram fractions via explode + two
    key-partitioned aggregations (linear, no per-row quadratic lambda),
    summarized per source."""
    docs = _docs(spark, sf_dir)
    per_doc = QL.ngram_repetition_stats(docs, "text", "doc_id",
                                        carry=["source"], n=2)
    return (per_doc.groupBy("source")
                   .agg(F.count(F.lit(1)).alias("n_docs"),
                        F.sum("total_ngrams").alias("sum_ngrams"),
                        F.round(F.avg("dup_ngram_frac"), 6).alias("avg_dup_frac"),
                        F.round(F.avg("top_ngram_frac"), 6).alias("avg_top_frac")))


def q_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM perplexity filter (operators/quality.py
    unigram_lm_score): every document scored against the corpus's own
    smoothed unigram model — explode → vocab agg → token⋈vocab equality
    join (AQE-broadcast vocab) → per-doc mean log-prob.  Top-20 most
    "surprising" documents by perplexity, the filter's removal list.
    FULL oracle: same tokenizer spec, smoothing arithmetic, and
    round-before-exp staging replayed in DuckDB."""
    docs = _docs(spark, sf_dir)
    scored = QL.unigram_lm_score(docs, "text", "doc_id")
    return (scored.orderBy(F.col("perplexity").desc(), "doc_id")
                  .limit(20))


def q_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-entropy junk filter (operators/quality.py
    token_entropy_profile): per-document token-distribution Shannon
    entropy in EXACT INTEGER micronats (per-distinct-token ln quantized
    before the BIGINT sums — the classifier's micro-log-odds staging
    discipline), so the bottom-25 removal list rides on an
    engine-stable integer key.  Explode → (doc, token) count → one
    per-doc agg; nothing quadratic, nothing driver-side."""
    docs = _docs(spark, sf_dir)
    prof = QL.token_entropy_profile(docs, "text", "doc_id")
    return prof.orderBy("entropy_micro", "doc_id").limit(25)


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (operators/quality.py psi_drift):
    Population Stability Index of the doc-length distribution between
    the English slice (reference) and everything else (current) — a
    real subpopulation shift, so the number is non-trivial.  Per-bin
    add-one-smoothed shares, ln term micro-quantized to BIGINT, total
    PSI an integer sum — the alerting cut (psi_micro > 250_000) is
    engine-stable.  Two n_bins-row aggregations + broadcast-class
    joins; nothing quadratic."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("lang") == "en")
    cur = docs.filter(F.col("lang") != "en")
    return QL.psi_drift(ref, cur, "n_chars", 0, 600, n_bins=12)


def q_drift_psi_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The textbook PSI deployment shape (quality.quantile_breakpoints
    + psi_drift(breakpoints=)): equal-depth bin edges derived from the
    reference slice by the cross-multiplied integer percentile_disc
    rule (bit-identical cross-engine — no float quantile definition),
    then the monitor runs against those frozen edges.  The bounded
    collect is n_bins−1 integers, a design-time constant by contract."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("lang") == "en")
    cur = docs.filter(F.col("lang") != "en")
    bks = QL.quantile_breakpoints(ref, "n_chars", n_bins=10)
    return QL.psi_drift(ref, cur, "n_chars", breakpoints=bks)


def _oracle_sf_dir() -> str:
    """The fixture directory a twin replays data-dependent constants
    from: ``SPARK_GRAFT_ORACLE_SF_DIR`` (set by the local parity suite),
    else ``SPARK_GRAFT_TEST_SF_DIR``, else sf0.01."""
    import os
    sf_dir = (os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
              or os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
              or "/root/testdata/sf0.01")
    return sf_dir


_DRIFT_QUANTILE_ORACLE_CACHE: dict[str, str] = {}


def _drift_psi_quantile_oracle() -> str:
    """drift_psi_quantile twin: derive the SAME equal-depth edges at
    oracle-generation time from the same parquet (DuckDB replay of the
    cross-multiplied integer percentile_disc rule — bit-identical to
    the rig's Spark derivation by construction, proven by the
    quantile_breakpoints differential fuzz), then the explicit-
    breakpoints PSI twin against them."""
    import os

    import duckdb as _duckdb

    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "documents.parquet")
    if path not in _DRIFT_QUANTILE_ORACLE_CACHE:
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con = _duckdb.connect()
        bks = [b for _, b in con.sql(
            QL.quantile_breakpoints_sql(
                f"SELECT n_chars FROM '{src}' WHERE lang = 'en'",
                "n_chars", n_bins=10) + " ORDER BY k").fetchall()]
        _DRIFT_QUANTILE_ORACLE_CACHE[path] = QL.psi_drift_sql(
            "SELECT n_chars FROM documents WHERE lang = 'en'",
            "SELECT n_chars FROM documents WHERE lang <> 'en'",
            "n_chars", breakpoints=bks)
    return _DRIFT_QUANTILE_ORACLE_CACHE[path]


def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor (streaming.stream_drift_monitor): the
    equal-depth PSI machinery deployed the way a monitor actually runs
    — edges + reference bin counts frozen at design time from the
    English slice (two bounded collects, design constants like the
    gate's word/weight literals), then each micro-batch of the
    non-English stream scored against them, one (batch_id, n_rows,
    psi_micro) row per batch, per-batch-overwrite sink (idempotent
    under at-least-once replay).

    Rig: three mtime-ordered staged files (doc_id % 3) with
    maxFilesPerTrigger=1 — deterministic batch composition, so the
    oracle replays each batch as a WHERE doc_id % 3 = k slice through
    the psi_against_reference twin with the SAME fixture-derived
    constants."""
    import os as _os
    import shutil as _shutil

    from frames_map_reduce_spark.streaming import stream_drift_monitor

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("lang") == "en")
    cur = docs.filter(F.col("lang") != "en").select("doc_id", "n_chars")

    base = "/tmp/fmr_stream_drift"
    _shutil.rmtree(base, ignore_errors=True)
    stage = f"{base}/in"
    _os.makedirs(stage)

    # the design-constant derivation (two dependent aggs) and the three
    # staging writes are independent job chains — overlap them
    # (guide §2.6); values are unchanged, only the wall-clock
    def derive():
        bks = QL.quantile_breakpoints(ref, "n_chars", n_bins=8)
        return bks, QL.bin_counts(ref, "n_chars", bks)

    (bks, ref_counts), _ = _overlap(
        derive,
        lambda: _stage_batches(
            [cur.filter(F.col("doc_id") % 3 == i) for i in range(3)],
            stage))

    stream = (spark.readStream.schema(cur.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))
    q = stream_drift_monitor(stream, "n_chars", bks, ref_counts,
                             f"{base}/out", checkpoint=f"{base}/ckpt")
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/out")
                 .select(F.col("batch_id").cast("bigint").alias("batch_id"),
                         "n_rows", "psi_micro"))


_STREAM_DRIFT_ORACLE_CACHE: dict[str, str] = {}


def _stream_drift_oracle() -> str:
    """stream_drift twin: re-derive the SAME design constants (edges +
    reference bin counts) from the fixture at oracle-generation time
    via the DuckDB replays, then score each deterministic batch slice
    (doc_id % 3 = k) through the psi_against_reference twin."""
    import os

    import duckdb as _duckdb

    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "documents.parquet")
    if path not in _STREAM_DRIFT_ORACLE_CACHE:
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con = _duckdb.connect()
        ref_sel = f"SELECT n_chars FROM '{src}' WHERE lang = 'en'"
        bks = [b for _, b in con.sql(
            QL.quantile_breakpoints_sql(ref_sel, "n_chars", n_bins=8)
            + " ORDER BY k").fetchall()]
        counts = [0] * (len(bks) + 1)
        for bin_, c in con.sql(
                QL.bin_counts_sql(ref_sel, "n_chars", bks)).fetchall():
            counts[bin_] = c
        parts = []
        for k in range(3):
            cur_sel = (f"SELECT n_chars FROM documents "
                       f"WHERE lang <> 'en' AND doc_id % 3 = {k}")
            parts.append(
                f"SELECT CAST({k} AS BIGINT) AS batch_id, * FROM ("
                + QL.psi_against_reference_sql(cur_sel, "n_chars",
                                               bks, counts) + ")")
        _STREAM_DRIFT_ORACLE_CACHE[path] = " UNION ALL ".join(parts)
    return _STREAM_DRIFT_ORACLE_CACHE[path]


def q_psi_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PSI monitor arc closed END-TO-END as one deployment
    composition (r10 verdict #6): design-time constants DERIVED
    (quality.quantile_breakpoints + bin_counts over the English
    reference slice), PERSISTED to parquet, RELOADED from storage (the
    lifecycle round-trip a real monitor performs across process
    boundaries), then a three-batch stream scored against the reloaded
    constants with a PLANTED drift — batch 0 replays the reference
    population itself (PSI ≈ 0), batch 1 is the non-English
    subpopulation (real shift), batch 2 is that subpopulation with a
    deterministic +300 n_chars shift (hard planted drift) — and the
    alerting decision ``alert = psi_micro > 250_000`` (the conventional
    0.25 line) emitted as a column, an engine-stable INTEGER
    comparison.

    Oracle: the DuckDB replays re-derive the SAME constants from the
    fixture and score the three deterministic slices through the
    psi_against_reference twin, alert computed in SQL — hash equality
    proves derivation, persistence round-trip, scoring, and the alert
    verdicts in one row set."""
    import os as _os
    import shutil as _shutil

    from frames_map_reduce_spark.streaming import stream_drift_monitor

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("lang") == "en")

    base = "/tmp/fmr_psi_lifecycle"
    _shutil.rmtree(base, ignore_errors=True)
    en = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    non = docs.filter(F.col("lang") != "en").select("doc_id", "n_chars")
    shifted = non.select("doc_id",
                         (F.col("n_chars") + F.lit(300)).alias("n_chars"))
    stage = f"{base}/in"
    _os.makedirs(stage)

    # derive → persist → reload the design constants (one dependent
    # chain) while the three batch files stage CONCURRENTLY — the two
    # chains share no data (guide §2.6); every value is unchanged
    def design_chain():
        bks = QL.quantile_breakpoints(ref, "n_chars", n_bins=8)
        counts = QL.bin_counts(ref, "n_chars", bks)
        # persist the design constants (the artifact a monitor ships).
        # NOTE: single-slice parallelize, NOT
        # createDataFrame(...).coalesce(1) — a coalesced Python-RDD
        # literal evaluates its defaultParallelism slices SERIALLY in
        # one task (one Python worker round-trip each, ~4 s for 7 rows
        # at local[32]); one slice is one round-trip.
        spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(k, int(b)) for k, b in enumerate(bks)], 1),
            "k int, edge bigint").write.parquet(f"{base}/design/edges")
        spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(i, int(c)) for i, c in enumerate(counts)], 1),
            "bin int, n_ref bigint").write.parquet(f"{base}/design/counts")
        # ...and RELOAD them (bounded collects: n_bins-1 + n_bins rows)
        bks2 = [r.edge for r in spark.read.parquet(f"{base}/design/edges")
                                     .orderBy("k").collect()]
        counts2 = [r.n_ref for r in
                   spark.read.parquet(f"{base}/design/counts")
                        .orderBy("bin").collect()]
        return bks2, counts2

    (bks2, counts2), _ = _overlap(
        design_chain,
        lambda: _stage_batches([en, non, shifted], stage))

    stream = (spark.readStream.schema(en.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))
    q = stream_drift_monitor(stream, "n_chars", bks2, counts2,
                             f"{base}/out", checkpoint=f"{base}/ckpt")
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/out")
                 .select(F.col("batch_id").cast("bigint").alias("batch_id"),
                         "n_rows", "psi_micro",
                         (F.col("psi_micro") > 250_000).alias("alert")))


_PSI_LIFECYCLE_ORACLE_CACHE: dict[str, str] = {}


def _psi_lifecycle_oracle() -> str:
    """psi_lifecycle twin: re-derive edges + reference counts from the
    fixture (the persisted constants are a pure function of the
    reference slice — round-tripping them through parquet is
    value-neutral by construction, which is exactly what the hash
    equality proves), then score the three deterministic slices with
    the planted +300 shift on the last, alert in SQL."""
    import os

    import duckdb as _duckdb

    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "documents.parquet")
    if path not in _PSI_LIFECYCLE_ORACLE_CACHE:
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con = _duckdb.connect()
        ref_sel = f"SELECT n_chars FROM '{src}' WHERE lang = 'en'"
        bks = [b for _, b in con.sql(
            QL.quantile_breakpoints_sql(ref_sel, "n_chars", n_bins=8)
            + " ORDER BY k").fetchall()]
        counts = [0] * (len(bks) + 1)
        for bin_, c in con.sql(
                QL.bin_counts_sql(ref_sel, "n_chars", bks)).fetchall():
            counts[bin_] = c
        slices = [
            "SELECT n_chars FROM documents WHERE lang = 'en'",
            "SELECT n_chars FROM documents WHERE lang <> 'en'",
            ("SELECT n_chars + 300 AS n_chars FROM documents "
             "WHERE lang <> 'en'"),
        ]
        parts = []
        for k, cur_sel in enumerate(slices):
            parts.append(
                f"SELECT CAST({k} AS BIGINT) AS batch_id, n_rows, "
                f"psi_micro, psi_micro > 250000 AS alert FROM ("
                + QL.psi_against_reference_sql(cur_sel, "n_chars",
                                               bks, counts) + ")")
        _PSI_LIFECYCLE_ORACLE_CACHE[path] = " UNION ALL ".join(parts)
    return _PSI_LIFECYCLE_ORACLE_CACHE[path]


#: quality_dashboard alert thresholds (r11 verdict #6) — exact-integer
#: comparisons, picked to split true/false across the sf0.01 batches
#: (psi: 68484/37422/28228 vs 50k; entropy mean micronats:
#: 3035258/3002365/2954369 vs 3.0M; pass rate: 48/66/127 milli vs 100)
_QDASH_PSI_ALERT = 50_000
_QDASH_ENT_FLOOR = 3_000_000
_QDASH_PASS_MILLI = 100


def q_quality_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch corpus-quality dashboard
    (streaming.stream_quality_dashboard — r10 verdict #8, the
    monitoring twin of stream_ingest_gate_v2): each batch of the
    document stream reduces to ONE all-integer row composing the three
    standing quality monitors against frozen design constants — mean
    token-entropy micronats (low-entropy junk), PSI of n_chars against
    the English-slice reference (distribution drift), and the hashed
    log-odds gate's pass count + exact logit mass (quality
    classification; q_quality_classifier's model spec, trained on the
    same corpus).

    Alert semantics (r11 verdict #6 — the psi_lifecycle convention):
    the dashboard emits three BOOLEAN verdict columns from exact
    integer comparisons against the rig thresholds below — chosen to
    SPLIT true/false across the sf0.01 batches so the oracle proves
    both polarities, not a constant column.

    Rig: three mtime-ordered staged files (doc_id % 3) with
    maxFilesPerTrigger=1 — deterministic batch composition, so the
    oracle replays each batch as a WHERE doc_id % 3 = k slice through
    the entropy-profile, psi-against-reference, and train+score twins
    with the SAME fixture-derived constants, alerts included."""
    import os as _os
    import shutil as _shutil

    from frames_map_reduce_spark.streaming import stream_quality_dashboard

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("lang") == "en")
    labeled = docs.withColumn("_is_en", F.col("lang") == F.lit("en"))

    base = "/tmp/fmr_quality_dash"
    _shutil.rmtree(base, ignore_errors=True)
    inc = docs.select("doc_id", "text", "n_chars")
    stage = f"{base}/in"
    _os.makedirs(stage)

    # three independent design-time chains — PSI constants, classifier
    # training, batch staging — overlapped per guide §2.6; same values
    def psi_chain():
        bks = QL.quantile_breakpoints(ref, "n_chars", n_bins=8)
        return bks, QL.bin_counts(ref, "n_chars", bks)

    (bks, ref_counts), w_rows, _ = _overlap(
        psi_chain,
        lambda: [(r["bucket"], r["weight"]) for r in
                 CLF.train_logodds_classifier(labeled, "text", "_is_en",
                                              n_buckets=_QCLF_BUCKETS,
                                              salt=_QCLF_SALT).collect()],
        lambda: _stage_batches(
            [inc.filter(F.col("doc_id") % 3 == i) for i in range(3)],
            stage))

    stream = (spark.readStream.schema(inc.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))
    q = stream_quality_dashboard(stream, "text", "doc_id", "n_chars",
                                 bks, ref_counts, w_rows,
                                 n_buckets=_QCLF_BUCKETS,
                                 sink_dir=f"{base}/out",
                                 salt=_QCLF_SALT,
                                 checkpoint=f"{base}/ckpt",
                                 psi_alert=_QDASH_PSI_ALERT,
                                 entropy_floor_micro=_QDASH_ENT_FLOOR,
                                 min_pass_rate_milli=_QDASH_PASS_MILLI,
                                 # r13: tokenizer-drift column pair
                                 # (frozen vocab; the per-batch fallback
                                 # share sits ~637‰ < 750 at every SF, so
                                 # alert_oov is False here — BOTH
                                 # polarities of the same verdict logic
                                 # are proven by q_tokenizer_oov)
                                 oov=True,
                                 max_fallback_milli=_OOV_MAX_FALLBACK_MILLI)
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/out")
                 .select(F.col("batch_id").cast("bigint").alias("batch_id"),
                         "n_docs", "entropy_mean_micro", "psi_micro",
                         "n_pass_quality", "logit_total",
                         "alert_psi", "alert_entropy", "alert_pass_rate",
                         "fallback_per_milli", "alert_oov"))


_QUALITY_DASH_ORACLE_CACHE: dict[str, str] = {}


def _quality_dashboard_oracle() -> str:
    """quality_dashboard twin: fixture-derived PSI constants (the
    stream_drift convention), the train twin for the gate weights (the
    stream_classifier convention), then per deterministic batch slice
    one row composing the three aggregated twins by CROSS JOIN."""
    import os

    import duckdb as _duckdb

    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "documents.parquet")
    if path not in _QUALITY_DASH_ORACLE_CACHE:
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con = _duckdb.connect()
        ref_sel = f"SELECT n_chars FROM '{src}' WHERE lang = 'en'"
        bks = [b for _, b in con.sql(
            QL.quantile_breakpoints_sql(ref_sel, "n_chars", n_bins=8)
            + " ORDER BY k").fetchall()]
        counts = [0] * (len(bks) + 1)
        for bin_, c in con.sql(
                QL.bin_counts_sql(ref_sel, "n_chars", bks)).fetchall():
            counts[bin_] = c
        parts = []
        for k in range(3):
            slice_tbl = f"(SELECT * FROM documents WHERE doc_id % 3 = {k})"
            ent = QL.token_entropy_profile_sql(slice_tbl, "text", "doc_id")
            psi = QL.psi_against_reference_sql(
                f"SELECT n_chars FROM documents WHERE doc_id % 3 = {k}",
                "n_chars", bks, counts)
            score = CLF.classifier_score_sql(
                slice_tbl, "_qdash_weights", "text", "doc_id",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT)
            oov = TKZ.tokenizer_oov_stats_sql(
                slice_tbl, "text", "doc_id",
                max_fallback_milli=_OOV_MAX_FALLBACK_MILLI)
            parts.append(f"""
            SELECT CAST({k} AS BIGINT) AS batch_id, n_docs,
                   entropy_mean_micro, psi_micro,
                   n_pass_quality, logit_total,
                   psi_micro > {_QDASH_PSI_ALERT} AS alert_psi,
                   coalesce(entropy_mean_micro < {_QDASH_ENT_FLOOR},
                            TRUE) AS alert_entropy,
                   n_pass_quality * 1000
                       < {_QDASH_PASS_MILLI} * n_docs AS alert_pass_rate,
                   fallback_per_milli, alert_oov
            FROM (SELECT count(*)::BIGINT AS n_docs FROM {slice_tbl})
            CROSS JOIN (
                SELECT CASE WHEN count(*) > 0 THEN
                           CAST((2 * sum(entropy_micro) + count(*))
                                // (2 * count(*)) AS BIGINT) END
                           AS entropy_mean_micro
                FROM ({ent}))
            CROSS JOIN (SELECT psi_micro FROM ({psi}))
            CROSS JOIN (
                SELECT coalesce(sum(CASE WHEN logit_rank >= 0
                                         THEN 1 ELSE 0 END), 0)::BIGINT
                           AS n_pass_quality,
                       coalesce(sum(logit_sum), 0)::BIGINT AS logit_total
                FROM ({score}))
            CROSS JOIN (
                SELECT fallback_per_milli,
                       needs_retrain AS alert_oov FROM ({oov}))""")
        weights = CLF.train_logodds_classifier_sql(
            "(SELECT text, (lang = 'en') AS _is_en FROM documents)",
            "text", "_is_en", n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT)
        _QUALITY_DASH_ORACLE_CACHE[path] = (
            f"WITH _qdash_weights AS ({weights}) "
            + " UNION ALL ".join(parts))
    return _QUALITY_DASH_ORACLE_CACHE[path]


def q_token_ids_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer losslessness law at corpus scale (r10 verdict #7):
    ``decode_ids(encode_ids(corpus))`` must reproduce every document's
    wordish-token stream EXACTLY — greedy encoding partitions each word
    into inventory entries and single-char fallbacks, IDs name them
    bijectively, so the concatenated decode equals
    ``concat(wordish_tokens(text))`` verbatim.  The Spark side runs the
    REAL arc (encode → distributed decode, two Arrow-batched scans);
    the oracle computes the law's right-hand side INDEPENDENTLY from
    the raw text (no decode replay) — hash equality over
    ``md5(decoded)`` proves the round trip end-to-end cross-engine.
    Output ships the digest + exact char count (the registry scalar
    convention; raw-string equality for the word level is pinned in
    tests/test_text.py)."""
    docs = _docs(spark, sf_dir)
    ids = TKZ.encode_ids(docs, "text", "doc_id")
    dec = TKZ.decode_ids(ids, "token_ids", "doc_id")
    return dec.select("doc_id",
                      F.md5(F.col("decoded")).alias("decoded_md5"),
                      F.length("decoded").cast("bigint")
                       .alias("decoded_chars"))


def _token_ids_roundtrip_oracle() -> str:
    """token_ids_roundtrip twin: the law's right-hand side computed
    straight from the text — the wordish stream joined with no
    separator (documents with zero wordish tokens are absent, the
    encode_ids convention)."""
    stream = (f"array_to_string(regexp_extract_all(lower(text), "
              f"'{TX.WORDISH}'), '')")
    return (f"SELECT doc_id, md5({stream}) AS decoded_md5, "
            f"CAST(length({stream}) AS BIGINT) AS decoded_chars "
            f"FROM documents "
            f"WHERE len(regexp_extract_all(lower(text), '{TX.WORDISH}')) > 0")


#: tokenizer_oov rig constants: the deliberately tiny inventory models a
#: stale/mis-sized vocabulary; 750 sits between the frozen vocab's
#: measured ~638‰ fallback and the tiny inventory's ~953‰ at every SF,
#: so the verdict splits true/false in one row set.
_OOV_TINY_INV = ("the", "and", "ing", "ion", "er")
_OOV_MAX_FALLBACK_MILLI = 750


def q_tokenizer_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary-drift monitor (r12 verdict #6 —
    tokenizer.tokenizer_oov_stats, the ivf_drift_stats convention
    applied to the frozen BPE inventory): exact-integer corpus
    accounting of the greedy encoder's single-char FALLBACK path —
    emitted-token fallback share and encodable character mass in
    cross-multiplied integer milli — with a ``needs_retrain`` verdict.
    Two rows, both polarities: the frozen SUBWORD_VOCAB (fallback
    under the 750‰ rig threshold → False) vs a deliberately tiny
    inventory (over → True).  One Arrow scan + one 1-row agg per
    inventory.  FULL oracle: the recursive-CTE greedy scan threading
    the paired token/fallback CASEs (tokenizer_oov_stats_sql) with the
    identical integer staging."""
    docs = _docs(spark, sf_dir)
    a = TKZ.tokenizer_oov_stats(
        docs, "text",
        max_fallback_milli=_OOV_MAX_FALLBACK_MILLI) \
        .select(F.lit("frozen").alias("tokenizer"), "*")
    b = TKZ.tokenizer_oov_stats(
        docs, "text", inventory=_OOV_TINY_INV,
        max_fallback_milli=_OOV_MAX_FALLBACK_MILLI) \
        .select(F.lit("tiny").alias("tokenizer"), "*")
    return a.unionByName(b)


def q_profile_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style whole-frame profile (operators/layout.py
    profile_frame): one row per documents column with exact n_rows /
    n_nulls / n_distinct and the native-type min/max rendered to text —
    the table-stats pass that feeds layout decisions (z-order bounds,
    broadcast thresholds, null-rate assertions).  ONE aggregation pass:
    the four exact multi-column distincts compile to Spark's Expand
    strategy (k× map-side expansion into one 2-phase aggregate — the
    documented price of exactness), then a stack projection unpivots
    the 1-row wide aggregate; no second pass, nothing driver-side.
    Profiled columns are integer/string only, so the min/max text
    renderings are engine-exact (the DOUBLE-rendering caveat is
    documented on the operator)."""
    docs = _docs(spark, sf_dir)
    return LA.profile_frame(docs, ["doc_id", "source", "lang", "n_chars"])


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner (operators/layout.py
    compaction_plan): a manifest-shaped frame (one row per "file" —
    here the per-(source, lang) byte mass of documents, a realistic
    accreted-small-files profile) grouped into rewrite tasks of ~4 KB
    per source partition by the largest-first sequential fill.  All
    integer arithmetic on exact byte counts; one window over the skinny
    manifest — the plan is cheap, the rewrites it names are the
    caller's jobs."""
    docs = _docs(spark, sf_dir)
    manifest = (docs.groupBy("source", "lang")
                    .agg(F.sum("n_chars").cast("bigint").alias("bytes"))
                    .select("source",
                            F.concat_ws("_", "source", "lang").alias("file"),
                            "bytes"))
    return LA.compaction_plan(manifest, "file", "bytes",
                              target_bytes=4000,
                              partition_cols=["source"])


def q_minhash_firewall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch near-dup firewall against a PERSISTED minhash index
    (dedup.build_minhash_index / minhash_probe_index) — the
    train-once/query-many deployment shape for ingestion screening, the
    batch twin of q_stream_near_dup with the same %4 reference/incoming
    split, spec, and threshold, hence the SAME exhaustive cross-corpus
    Jaccard oracle.  The index pays the reference corpus's Python
    signature pass once at build; every probe is a pruned bucketed scan
    + broadcast joins with zero corpus-side exchanges."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    incoming = docs.filter(F.col("doc_id") % 4 != 0)
    DD.build_minhash_index(ref, "minhash_index_driver", "text", "doc_id")
    out = DD.minhash_probe_index(spark, "minhash_index_driver", incoming,
                                 "text", "doc_id", threshold=0.6)
    return out.select(F.col("doc_id").alias("id_in"), "ref_id",
                      F.round("jaccard_sim", 6).alias("jaccard"))


def bench_minhash_firewall_build(spark: SparkSession, sf_dir: str) -> None:
    """Bench-only: the train-once half of q_minhash_firewall in
    isolation — sign the reference corpus and persist the two bucketed
    index tables.  Amortized one-time cost in the deployment shape, so
    bench.py times it ONCE per session (r5 verdict #3: the 8.3 s
    headline conflated this build with the recurring probe)."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    DD.build_minhash_index(ref, "minhash_index_bench", "text", "doc_id")


def bench_minhash_firewall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the query-many half against the index
    bench_minhash_firewall_build persisted — the recurring per-batch
    cost an ingestion firewall actually pays: sign the incoming batch,
    pruned bucketed scan + broadcast joins on the corpus side."""
    docs = _docs(spark, sf_dir)
    incoming = docs.filter(F.col("doc_id") % 4 != 0)
    out = DD.minhash_probe_index(spark, "minhash_index_bench", incoming,
                                 "text", "doc_id", threshold=0.6)
    return out.select(F.col("doc_id").alias("id_in"), "ref_id",
                      F.round("jaccard_sim", 6).alias("jaccard"))


def bench_gate_build(spark: SparkSession, sf_dir: str) -> None:
    """Bench-only (r7 verdict #5): the train-once half of q_ingest_gate
    in isolation — build BOTH firewalls (Bloom word table + MinHash
    bucketed index) over the accepted %4==0 corpus.  Amortized one-time
    cost in the deployment shape; the recurring cost is gate_probe.
    Component breakdown (r9 verdict #5): gate_build_bloom /
    gate_build_minhash / gate_build_autosize time the three pieces
    separately."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    # the two index builds are independent jobs over the same slice:
    # submit them from two driver threads so minhash's Python signing
    # stage and bloom's JVM word pass share the executor pool instead
    # of running back-to-back (guide §2.6 — overlap independent jobs)
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        fb = pool.submit(BL.build_bloom_index, ref, "gate_bloom_bench",
                         "text")
        fm = pool.submit(DD.build_minhash_index, ref,
                         "gate_minhash_bench", "text", "doc_id")
        fb.result()
        fm.result()


def bench_gate_build_bloom(spark: SparkSession, sf_dir: str) -> None:
    """Bench-only (r9 verdict #5 — gate_build decomposed): the Bloom
    half alone, at the same fixed default geometry gate_build uses.
    One corpus scan → explode → bit_or groupBy → bucketed write."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    BL.build_bloom_index(ref, "gate_bloom_comp_bench", "text")


def bench_gate_build_minhash(spark: SparkSession, sf_dir: str) -> None:
    """Bench-only (r9 verdict #5): the MinHash half alone — sign the
    corpus (one Arrow stage) + write the two bucketed index tables.
    Expected to dominate gate_build: signing is the Python-side work."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    DD.build_minhash_index(ref, "gate_minhash_comp_bench", "text",
                           "doc_id")


def bench_gate_build_autosize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (r9 verdict #5): the cost ``m_bits="auto"`` ADDS to a
    Bloom build — the one ``approx_count_distinct`` pass over the
    corpus's canonical forms.  This pass cannot fuse into the word-row
    scan (the count picks the geometry, and the geometry defines the
    position spec the word rows are computed under — the count must
    complete first; recorded decision on bloom.build_bloom_index), so
    its isolated cost is exactly what ``n_items=`` saves when the
    cardinality is already known."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    return ref.agg(
        F.approx_count_distinct(TX.normalized(F.col("text"))).alias("n"))


def bench_gate_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (r7 verdict #5): the query-many half of q_ingest_gate
    against the indices bench_gate_build persisted — the per-batch cost
    the admission gate actually pays recurring: Bloom probe + MinHash
    probe + rule screens, composed to the same three-valued accept."""
    docs = _docs(spark, sf_dir)
    inc = docs.filter(F.col("doc_id") % 4 != 0)
    member = (BL.bloom_probe_index(spark, "gate_bloom_bench", inc,
                                   "text", "doc_id")
                .withColumnRenamed("maybe_dup", "is_member"))
    nd = (DD.minhash_probe_index(spark, "gate_minhash_bench", inc,
                                 "text", "doc_id", threshold=0.6)
            .select("doc_id").distinct()
            .withColumn("_nd", F.lit(True)))
    quality = inc.select(
        "doc_id", "source",
        (TX.gopher_rules(F.col("text"))["r_word_count"]
         & TX.c4_rules(TX.resentence(F.col("text")))["pass_c4"])
        .alias("quality_ok"))
    out = (quality.join(member, "doc_id", "left")
                  # nd is the batch's near-dup id subset — bounded by the
                  # gate's batch contract (the probe already
                  # driver-collects its bucket keys), so broadcast it
                  # like the streaming gate does: the initial plan was a
                  # SortMergeJoin paying Exchange+Sort on BOTH sides
                  # (plans/r13/gate_probe_before.txt nodes 23/64-66)
                  .join(F.broadcast(nd), "doc_id", "left")
                  .select("doc_id", "source", "quality_ok", "is_member",
                          F.coalesce(F.col("_nd"), F.lit(False))
                           .alias("is_near_dup")))
    return out.select(
        "doc_id", "source", "quality_ok", "is_member", "is_near_dup",
        (F.col("quality_ok") & ~F.col("is_member")
         & ~F.col("is_near_dup")).alias("accept"))


def bench_stream_gate_v2_probe(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Bench-only (the gate_build/gate_probe convention applied to the
    r9 streaming gate): the RECURRING half of q_stream_ingest_gate_v2
    against the indices bench_gate_build persisted — collect the word
    spine from the built table, train the weight table, stage the
    8-split stream, and run the full foreachBatch gate (stateless
    screens + per-batch MinHash probe + parquet sink).  The registry
    row stays the self-contained oracled composition; this row is the
    deployment number (what a running stream pays after the one-time
    gate_build)."""
    import shutil as _shutil

    from frames_map_reduce_spark.streaming import stream_ingest_gate_v2

    docs = _docs(spark, sf_dir)
    labeled = docs.withColumn("_is_en", F.col("lang") == F.lit("en"))
    base = "/tmp/fmr_stream_gate_v2_bench"
    _shutil.rmtree(base, ignore_errors=True)
    inc = docs.select("doc_id", "source", "text")
    # three independent jobs — word-spine read (Arrow collect), weight
    # training, input staging — overlapped per guide §2.6
    words, weights, _ = _overlap(
        lambda: SRC.arrow_rows(
            spark.table("gate_bloom_bench_words")
                 .groupBy("_word").agg(F.bit_or("_bits").alias("_bits")),
            "_word", "_bits"),
        lambda: [(r["bucket"], r["weight"]) for r in
                 CLF.train_logodds_classifier(labeled, "text", "_is_en",
                                              n_buckets=_QCLF_BUCKETS,
                                              salt=_QCLF_SALT).collect()],
        lambda: inc.repartition(8).write.parquet(f"{base}/in"))
    stream = spark.readStream.schema(inc.schema).parquet(f"{base}/in")
    q = stream_ingest_gate_v2(stream, words, weights, "text", "doc_id",
                              "gate_minhash_bench", f"{base}/out",
                              n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT,
                              threshold=0.6,
                              checkpoint=f"{base}/ckpt")
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/out")
                 .select("doc_id", "maybe_dup", "quality_ok",
                         "is_near_dup", "accept"))


def q_bloom_firewall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-membership Bloom firewall (operators/bloom.py) — the
    set-membership ingestion screen next to q_minhash_firewall's near-dup
    one, exercising the FULL index lifecycle in one row: build the word
    table over doc_id %8==0, EXTEND it append-only with %8==4 (Bloom
    union is bit_or per word — a monoid, the index is never read to
    grow), then probe the whole table; probe-time bit_or merges the two
    generations.  Every reference doc must self-flag (no false
    negatives, by construction); at the default 2^22-bit / k=7 geometry
    the maybe_dup set equals the exact normalized-fingerprint members at
    this scale (0 false positives — still checked bit-for-bit, FPs are
    part of the deterministic spec).  FULL oracle: the DuckDB twin
    replays the same md5 double-hash positions and word packing over the
    union (%4==0) in one statement — extend-then-merge ≡ build-on-union
    is exactly the monoid law the lifecycle relies on."""
    docs = _docs_raw(spark, sf_dir)
    BL.build_bloom_index(docs.filter(F.col("doc_id") % 8 == 0),
                         "bloom_index_driver", "text")
    BL.extend_bloom_index(docs.filter(F.col("doc_id") % 8 == 4),
                          "bloom_index_driver", "text")
    out = BL.bloom_probe_index(spark, "bloom_index_driver", docs,
                               "text", "doc_id")
    return out.select("doc_id", "maybe_dup")


def q_bloom_gen_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation monitor of the Bloom extend lifecycle
    (operators/bloom.py bloom_index_generation_stats, r7 verdict
    stretch): build over doc_id %8==0, extend twice (%8==4, %8==2),
    then read the one-row stats — read amplification (n_rows vs
    n_words), worst-word generations, merged popcount over the
    geometry, and the ``needs_compaction`` policy verdict at
    max_read_amp=2 (three generations over a shared word base trips
    it).  All-BIGINT + one BOOLEAN; FULL oracle: the DuckDB twin
    replays the same three batches through the same double-hash word
    packing (extend writes exactly one merged row set per batch, so
    generations are engine-exact, not an implementation accident)."""
    docs = _docs_raw(spark, sf_dir)
    BL.build_bloom_index(docs.filter(F.col("doc_id") % 8 == 0),
                         "bloom_genstats_driver", "text")
    BL.extend_bloom_index(docs.filter(F.col("doc_id") % 8 == 4),
                          "bloom_genstats_driver", "text")
    BL.extend_bloom_index(docs.filter(F.col("doc_id") % 8 == 2),
                          "bloom_genstats_driver", "text")
    return BL.bloom_index_generation_stats(spark, "bloom_genstats_driver",
                                           max_read_amp=2)


def q_bloom_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction POLICY proven end-to-end (r8 verdict #6): build
    over doc_id %8==0, extend twice (%8==4, %8==2) — the monitor reads
    ``needs_compaction = true`` at max_read_amp=2 — then
    ``compact_bloom_index`` and read the monitor again: one generation
    per word, ``n_rows == n_words``, and IDENTICAL ``set_bits`` (bit_or
    is the merge, so compaction must preserve the popcount — the
    monitor's own integrity invariant, now driver-checked rather than
    unit-asserted).  Both reads carry ``expected_fpr`` — the occupancy
    estimate (set_bits/m_bits)^k computed by repeated multiplication so
    the double is bit-identical cross-engine (operators/bloom.py
    expected_fpr, r8 verdict #3).

    The before-read is materialized (1 row) before compacting: the
    compact rewrites the word table underneath, and a pre-compact plan
    re-collected afterwards reads the wrong snapshot by contract.

    FULL oracle: before-twin replays the three batches through the
    generation-stats SQL; after-twin replays their UNION as one batch —
    compaction ≡ build-on-union per word is exactly the monoid law the
    lifecycle relies on."""
    docs = _docs_raw(spark, sf_dir)
    t = "bloom_compact_driver"
    BL.build_bloom_index(docs.filter(F.col("doc_id") % 8 == 0), t, "text")
    BL.extend_bloom_index(docs.filter(F.col("doc_id") % 8 == 4), t, "text")
    BL.extend_bloom_index(docs.filter(F.col("doc_id") % 8 == 2), t, "text")
    before = (BL.expected_fpr(spark, t, max_read_amp=2)
                .withColumn("stage", F.lit("before_compact")))
    before = spark.createDataFrame(before.collect(), before.schema)
    BL.compact_bloom_index(spark, t)
    after = (BL.expected_fpr(spark, t, max_read_amp=2)
               .withColumn("stage", F.lit("after_compact")))
    cols = ["stage", "n_words", "n_rows", "max_generations", "set_bits",
            "m_bits", "needs_compaction", "expected_fpr"]
    return before.select(*cols).unionByName(after.select(*cols))


#: bloom_resize_roundtrip constants — shared by the rig and its oracle
#: so the deliberately-overfull geometry and the re-size target are one
#: spec: 1024 bits / k=4 is crowded far past 1e-2 by even the sf0.001
#: corpus slice, and 1e-2 is the rebuild's design target.
_RESIZE_M0, _RESIZE_K0, _RESIZE_TARGET = 1024, 4, 1e-2


def q_bloom_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RE-SIZE policy proven end-to-end (r9 verdict #2) — the arc
    the monitor + suggest_geometry exist for: build at a deliberately
    tiny geometry (1024 bits, k=4) over doc_id %8==0, extend twice
    (%8==4, %8==2) — ``expected_fpr`` reads far above the 1e-2 target
    (the filter is overfull; no extend can fix that, geometry is
    immutable per index) — then ``rebuild_bloom_index(m_bits="auto")``
    re-signs the SAME accepted corpus at the geometry
    ``suggest_geometry`` picks for the target, swaps it in under the
    live name, and the monitor reads back under target.  ``n_items``
    is the exact normalized-form distinct count (engine-exact, unlike
    HLL estimates which differ across engines — the documented
    cross-reproducible form of the auto path; the HLL form is
    unit/scale-tested).  ``within_target`` is computed from the same
    repeated-multiplication double on both engines, so the verdict
    booleans are part of the hash proof, not just the narrative.

    The before-read is materialized (1 row) before the rebuild: the
    swap rewrites the word table underneath, and a pre-swap plan
    re-collected afterwards reads the wrong snapshot by contract.

    FULL oracle: before-twin replays the three batches through the
    generation-stats SQL at (1024, 4); after-twin replays their UNION
    as one batch at the geometry suggest_geometry picks for the
    fixture's exact distinct count (computed at oracle-generation time
    from the same parquet — the IVF/BPE data-dependent-constant
    convention)."""
    docs = _docs_raw(spark, sf_dir)
    t = "bloom_resize_driver"
    for sfx in ("words_old", "words_rebuild"):  # crashed-run leftovers
        spark.sql(f"DROP TABLE IF EXISTS {t}_{sfx}")
    corpus = docs.filter((F.col("doc_id") % 8).isin(0, 4, 2))

    # the build→extend→extend→before-read chain and the exact
    # distinct-count pass (input to the rebuild sizing) share no state —
    # overlap them (guide §2.6).  The extends stay INSIDE one chain:
    # concurrent appends to the same table would share a FileOutputCommitter
    # staging dir (a real commit race), so same-table writes remain serial.
    def lifecycle_chain():
        BL.build_bloom_index(docs.filter(F.col("doc_id") % 8 == 0), t,
                             "text", m_bits=_RESIZE_M0, k=_RESIZE_K0)
        BL.extend_bloom_index(docs.filter(F.col("doc_id") % 8 == 4), t,
                              "text", m_bits=_RESIZE_M0, k=_RESIZE_K0)
        BL.extend_bloom_index(docs.filter(F.col("doc_id") % 8 == 2), t,
                              "text", m_bits=_RESIZE_M0, k=_RESIZE_K0)
        b = (BL.expected_fpr(spark, t)
               .withColumn("stage", F.lit("overfull")))
        return spark.createDataFrame(b.collect(), b.schema)

    before, n_exact = _overlap(
        lifecycle_chain,
        lambda: corpus.agg(F.count_distinct(TX.normalized(F.col("text")))
                            .alias("n")).first()["n"])
    BL.rebuild_bloom_index(corpus, t, "text", m_bits="auto",
                           n_items=n_exact, target_fpr=_RESIZE_TARGET)
    after = (BL.expected_fpr(spark, t)
               .withColumn("stage", F.lit("rebuilt")))
    cols = ["stage", "n_words", "n_rows", "max_generations", "set_bits",
            "m_bits", "needs_compaction", "expected_fpr"]
    out = before.select(*cols).unionByName(after.select(*cols))
    return out.withColumn(
        "within_target",
        F.col("expected_fpr") <= F.lit(_RESIZE_TARGET))


def q_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of span dedup (dedup.remove_duplicated_spans):
    flagged duplicated 8-gram spans are cut out of each document and the
    kept tokens re-joined — one row per document with the cleaned text's
    md5 plus removal accounting.  FULL oracle: the twin wraps the
    duplicated_spans replay and applies the same positional cut."""
    docs = _docs(spark, sf_dir)
    out = DD.remove_duplicated_spans(docs, "text", "doc_id")
    return out.select("doc_id", F.md5(F.encode("clean_text", "UTF-8"))
                                 .alias("clean_md5"),
                      "n_tokens", "n_tokens_removed", "n_spans_removed")


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (bigram) LM perplexity filter (operators/quality.py
    bigram_lm_score) — the stronger CCNet-style gate next to the unigram
    q_perplexity: each token scored given its predecessor, BOS-seeded.
    Top-20 most surprising documents.  FULL oracle: same tokenizer,
    sentinel, smoothing, and round-before-exp staging in DuckDB."""
    docs = _docs(spark, sf_dir)
    scored = QL.bigram_lm_score(docs, "text", "doc_id")
    return (scored.orderBy(F.col("perplexity").desc(), "doc_id")
                  .limit(20))


def q_remove_dup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate removal (dedup.
    remove_duplicated_lines): every occurrence of a corpus-duplicated
    non-blank line cut, line structure preserved; per-doc cleaned-text
    md5 + removal accounting.  FULL oracle via the shared-spec twin."""
    docs = _docs(spark, sf_dir)
    out = DD.remove_duplicated_lines(docs, "text", "doc_id")
    return out.select("doc_id", F.md5(F.encode("clean_text", "UTF-8"))
                                 .alias("clean_md5"),
                      "n_lines", "n_lines_removed")


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length distribution — the curation dashboard's first
    chart: fixed 200-char buckets with document count, token mass, and
    corpus share per bucket.  ONE aggregation over a two-column scan."""
    docs = _docs(spark, sf_dir)
    hist = (docs.select(F.floor(F.col("n_chars") / 200).alias("bucket"),
                        "n_chars")
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").cast("bigint").alias("sum_chars")))
    tot = hist.agg(F.sum("n_docs").alias("_tot"))
    return (hist.crossJoin(F.broadcast(tot))
                .select("bucket", "n_docs", "sum_chars",
                        F.round(F.col("n_docs") / F.col("_tot"), 6)
                         .alias("share")))


#: curation gate for q_curate_corpus — fixed literal so both engines
#: compare against the identical double (fixture p90 ≈ 30.3).
_CURATE_MAX_PPL = 31.0


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 curation pipeline composed end-to-end: C4-style line
    dedup (remove_duplicated_lines) → unigram-LM perplexity scoring of
    the CLEANED text → a fixed perplexity gate — with per-source yield
    accounting (kept tokens, empty-after-cleaning, dropped-by-gate).
    FULL composed oracle: the twins are table-parametric, so the DuckDB
    side nests remove_duplicated_lines_sql inside unigram_lm_score_sql
    verbatim.  All JVM end-to-end; the only joins are key-equality."""
    docs = _docs(spark, sf_dir)
    cleaned = DD.remove_duplicated_lines(docs, "text", "doc_id")
    scored = QL.unigram_lm_score(cleaned, "clean_text", "doc_id")
    gate = F.col("perplexity") <= F.lit(_CURATE_MAX_PPL)
    # kept-set mean in INTEGER milli-perplexity (perplexity is 3dp by
    # spec, so ×1000 is an exact integer): a double avg() accumulates in
    # engine/partition order and round(avg,6) can split at a 6dp tie —
    # integer sums + half-up integer division give both engines the
    # identical 6dp-grid value (the funnel/scd2 lesson, same as v2)
    milli = F.when(gate, F.round(F.col("perplexity") * 1000, 0)
                          .cast("bigint"))
    return (docs.select("doc_id", "source")
                .join(scored.select("doc_id", "n_tokens", "perplexity"),
                      "doc_id", "left")
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(F.when(F.col("perplexity").isNull(), 1)
                            .otherwise(0)).cast("bigint").alias("n_empty"),
                     F.sum(F.when(~gate, 1).otherwise(0)).cast("bigint")
                      .alias("n_dropped"),
                     F.sum(F.when(gate, F.col("n_tokens"))).cast("bigint")
                      .alias("kept_tokens"),
                     F.sum(milli).alias("_ppl_milli"),
                     F.sum(F.when(gate, 1).otherwise(0)).alias("_n_kept"))
                .select("source", "n_docs", "n_empty", "n_dropped",
                        "kept_tokens",
                        F.when(F.col("_n_kept") > 0,
                               F.expr("(2 * _ppl_milli * 1000 + _n_kept)"
                                      " div (2 * _n_kept)") / F.lit(1e6))
                         .alias("avg_kept_ppl")))


#: per-language perplexity gates for q_curate_corpus_v2 (CCNet buckets
#: its thresholds per language — a gibberish bar for English is a normal
#: sentence elsewhere).  Fixed literals so both engines compare the
#: identical doubles; chosen near each predicted language's p80 on the
#: fixture (only en/unknown actually fire on this corpus — the other
#: rows pin the table shape and the join's totality).
_CURATE_LANG_PPL = {
    "en": 30.2, "de": 31.0, "fr": 31.0, "es": 31.0, "it": 31.0,
    "unknown": 30.4,
}


def q_curate_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 verdict #8 (stretch): the curation pipeline with a
    PER-LANGUAGE perplexity gate — C4-style line dedup → unigram-LM
    scoring of the cleaned text → lang_id on the original text → each
    document gated against ITS language's threshold via a broadcast
    join on the 2-column threshold table (the CCNet shape), with yield
    accounting per (source, predicted language).  All JVM end-to-end;
    the only joins are key-equality (doc_id) plus the 6-row broadcast.
    FULL composed oracle: line-dedup, LM, and lang-id twins nest
    verbatim in DuckDB with the thresholds as a VALUES table."""
    docs = _docs(spark, sf_dir)
    cleaned = DD.remove_duplicated_lines(docs, "text", "doc_id")
    scored = QL.unigram_lm_score(cleaned, "clean_text", "doc_id")
    lang = docs.select("doc_id", "source",
                       TX.lang_id(F.col("text")).alias("pred_lang"))
    thr = spark.createDataFrame(
        sorted(_CURATE_LANG_PPL.items()), "pred_lang string, max_ppl double")
    gate = F.col("perplexity") <= F.col("max_ppl")
    joined = (lang
              .join(scored.select("doc_id", "n_tokens", "perplexity"),
                    "doc_id", "left")
              .join(F.broadcast(thr), "pred_lang"))  # total: thr covers
    # the kept-set average is computed from INTEGER milli-perplexity
    # sums (perplexity is 3dp-rounded by spec, so ×1000 rounds to an
    # exact integer): a double avg() accumulates in engine-specific
    # order and its last ulp can flip the 6dp rounding (observed:
    # 29.973062 vs 29.973063); integer sums are order-independent, so
    # both engines divide the identical numbers
    milli = F.when(gate, F.round(F.col("perplexity") * 1000, 0)
                          .cast("bigint"))
    return (joined.groupBy("source", "pred_lang")
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum(F.when(F.col("perplexity").isNull(), 1)
                              .otherwise(0)).cast("bigint").alias("n_empty"),
                       F.sum(F.when(~gate, 1).otherwise(0)).cast("bigint")
                        .alias("n_dropped"),
                       F.sum(F.when(gate, F.col("n_tokens"))).cast("bigint")
                        .alias("kept_tokens"),
                       F.sum(milli).alias("_ppl_milli"),
                       F.sum(F.when(gate, 1).otherwise(0)).alias("_n_kept"))
                  .select("source", "pred_lang", "n_docs", "n_empty",
                          "n_dropped", "kept_tokens",
                          # half-up in INTEGER arithmetic to the 6dp
                          # grid, then ONE exact /1e6: round(double/…,6)
                          # on the same quotient can still split at an
                          # exact 6th-decimal tie (Spark rounds the
                          # shortest decimal, DuckDB the exact binary)
                          F.when(F.col("_n_kept") > 0,
                                 F.expr("(2 * _ppl_milli * 1000 + _n_kept)"
                                        " div (2 * _n_kept)") / F.lit(1e6))
                           .alias("avg_kept_ppl")))


#: layout-family driver query spec (q_zorder_extents): the Spark side
#: and the DuckDB twin must share these literally.
_ZORDER_BITS, _ZORDER_FILES = 10, 16
_ZORDER_COLS = ["price", "cust"]
_ZORDER_SRC_SQL = ("SELECT CAST(o_totalprice AS DOUBLE) AS price, "
                   "CAST(o_custkey AS BIGINT) AS cust FROM orders")


def q_zorder_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout family's first value-level driver row (r5 verdict #7):
    write `orders` Z-order clustered with DETERMINISTIC fixed-width
    curve segments (layout.write_zordered_fixed — file id = top 4 bits
    of the 20-bit Morton key over (price, cust), one file per populated
    segment), then audit the PARQUET FOOTERS of what was written
    (layout.file_column_stats — min/max stats only, no data pages) into
    per-file extents.  The DuckDB twin (layout.zorder_fixed_extents_sql)
    replays the full normalization/rank/interleave/segment arithmetic
    from the source table and must reproduce the footer numbers
    bit-for-bit: footer min/max is exact for double/bigint columns, so
    a hash match proves the clustered write put exactly the right rows
    in exactly the right files AND that the stats a pruning scan sees
    are the logical extents.  The footer scan is driver-side by design
    (an audit reads 16 footers, never data)."""
    import os
    import re

    # mirrors _ZORDER_SRC_SQL exactly (the twin's _src CTE)
    src = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_custkey").cast("bigint").alias("cust"))
    path = "/tmp/fmr_zorder_" + os.path.basename(os.path.normpath(sf_dir))
    LA.write_zordered_fixed(src, path, _ZORDER_COLS,
                            bits=_ZORDER_BITS, n_files=_ZORDER_FILES)
    per_fid: dict[int, dict] = {}
    for rec in LA.file_column_stats(path, _ZORDER_COLS):
        m = re.search(r"zfid=(\d+)/", rec["file"])
        if m is None:
            raise ValueError(f"unpartitioned file in zorder output: "
                             f"{rec['file']}")
        fid = int(m.group(1))
        agg = per_fid.setdefault(fid, {
            "zfid": fid, "n_files": 0, "num_rows": 0,
            "price_min": None, "price_max": None,
            "cust_min": None, "cust_max": None})
        agg["n_files"] += 1
        agg["num_rows"] += rec["num_rows"]
        for c in _ZORDER_COLS:
            for side, pick in (("min", min), ("max", max)):
                k = f"{c}_{side}"
                v = rec[k]
                if v is None:
                    raise ValueError(f"missing footer stats for {k} in "
                                     f"{rec['file']}")
                agg[k] = v if agg[k] is None else pick(agg[k], v)
    schema = T.StructType([
        T.StructField("zfid", T.IntegerType()),
        T.StructField("n_files", T.LongType()),
        T.StructField("num_rows", T.LongType()),
        T.StructField("price_min", T.DoubleType()),
        T.StructField("price_max", T.DoubleType()),
        T.StructField("cust_min", T.LongType()),
        T.StructField("cust_max", T.LongType()),
    ])
    return spark.createDataFrame(
        [per_fid[k] for k in sorted(per_fid)], schema)


#: box-query spec for q_zorder_pruning — shared literally with the twin
_ZPRUNE_BOX = {"price": (50_000.0, 150_000.0), "cust": (0, 400)}


def q_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout family's PRUNING-VALUE driver row (r6 verdict #6):
    zorder_extents proves the clustered write put the right rows in the
    right files; this row proves what that layout BUYS — run a box query
    over the written files and report what a footer-stats-pruning scan
    does (layout.box_prune_stats): files_total, files_pruned (provably
    row-free for the box), rows_in_read_files (the scan cost the
    surviving files impose — the number a capacity plan budgets), and
    rows_selected (the answer itself, layout-independent).  The DuckDB
    twin replays the fixed-segment extents (zorder_fixed_extents_sql,
    already footer-exact per zorder_extents) and applies the same
    interval-disjointness prune — so a hash match proves the pruning
    decision set itself, not just the layout.

    This row rides the FIXED-width writer.  The ranged writer
    (write_zordered, the skew-robust production default) cannot carry a
    value-level twin: repartitionByRange draws file boundaries from a
    reservoir SAMPLE inside the exchange, so the row→file mapping is an
    engine implementation detail no other engine can replay — its
    pruning effect is pinned behaviorally instead
    (tests/test_layout.py::test_ranged_writer_prunes_box_queries:
    pruned files provably contain no matches, >0 files pruned)."""
    import os

    src = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_custkey").cast("bigint").alias("cust"))
    path = "/tmp/fmr_zprune_" + os.path.basename(os.path.normpath(sf_dir))
    LA.write_zordered_fixed(src, path, _ZORDER_COLS,
                            bits=_ZORDER_BITS, n_files=_ZORDER_FILES)
    audit = LA.box_prune_stats(path, _ZPRUNE_BOX)
    (plo, phi), (clo, chi) = _ZPRUNE_BOX["price"], _ZPRUNE_BOX["cust"]
    rows_selected = src.filter(
        F.col("price").between(plo, phi)
        & F.col("cust").between(clo, chi)).count()
    schema = T.StructType([
        T.StructField("files_total", T.LongType()),
        T.StructField("files_pruned", T.LongType()),
        T.StructField("rows_in_read_files", T.LongType()),
        T.StructField("rows_selected", T.LongType()),
    ])
    return spark.createDataFrame(
        [{"files_total": audit["files_total"],
          "files_pruned": audit["files_pruned"],
          "rows_in_read_files": audit["rows_in_read_files"],
          "rows_selected": rows_selected}], schema)


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-faithful token budgets (r6 verdict #7): per-document
    subword counts from the greedy longest-prefix encode over a frozen
    inventory (functions/tokenizer.py — the WordPiece-style greedy
    encode production tokenizers run at inference; named honestly, the
    docstring there explains why a data-dependent merge loop cannot
    carry an exact cross-engine oracle).  The DuckDB twin executes the
    SAME spec as a recursive CTE whose step is a CASE generated from
    the same inventory — hash equality proves the encode, not a
    statistic of it."""
    return TKZ.subword_counts(_docs(spark, sf_dir), "text", "doc_id")


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary INDUCTION on the corpus (functions/tokenizer.py
    learn_bpe_merges, Sennrich et al. arXiv:1508.07909 — the train half
    whose apply half is q_bpe_token_count's greedy encode): one
    distributed wordish word-frequency aggregation with a deterministic
    top-20k cap (count DESC, word ASC — TakeOrderedAndProject, never a
    single-task global sort), then the classic merge loop over that
    BOUNDED dictionary (the standard trainer shape: iterate a counts
    dict, not the stream).  48 merges, ties broken lexicographically so
    the sequence is a pure function of the dictionary.  FULL oracle:
    training is data-dependent, so the twin REPLAYS bpe_merge_spec over
    the dictionary DuckDB computes from the same parquet (the
    ivf-centroid replay convention) — hash equality proves both the
    distributed dictionary (cap order included) and the merge
    sequence."""
    docs = _docs(spark, sf_dir)
    return TKZ.learn_bpe_merges(docs, "text", n_merges=48,
                                max_words=20_000)


def q_bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train→apply arc closed (r8 verdict #7): induce the BPE
    vocabulary FROM the corpus (q_bpe_train's exact settings — 48
    merges over the deterministic top-20k dictionary), reduce the merge
    sequence to its greedy-encode inventory (merges_to_inventory — the
    serving-time convention: a trained BPE's merges reduce to a
    vocabulary for encoding), then encode the SAME corpus against it:
    per-document ``(doc_id, n_words, n_subwords)``.

    Scale shape: train is the distributed dictionary + bounded merge
    loop (q_bpe_train); apply is one Arrow-batched mapInPandas scan
    with the learned inventory indexed once in the closure — no
    per-row Python beyond the scan the frozen-vocab encode already
    pays.  FULL oracle: the twin replays the training over DuckDB's
    dictionary, reduces it through the SAME merges_to_inventory, and
    runs the recursive-CTE greedy encode with the CASE step generated
    from the LEARNED inventory — hash equality proves dictionary,
    merge loop, inventory reduction, and encode in one row set."""
    docs = _docs(spark, sf_dir)
    inv = TKZ.learn_bpe_inventory(docs, "text", n_merges=48,
                                  max_words=20_000)
    return TKZ.subword_counts(docs, "text", "doc_id", inventory=inv)


def q_pack_bpe_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_sequences budgeted in TOKENIZER tokens (r6 verdict #7): the
    packed-manifest query whose block budget counts what the trainer
    actually consumes — per-source 256-subword sequences over the
    greedy-encode counts of q_bpe_token_count.  The oracle composes the
    recursive tokenizer twin inside the table-parametric packing twin
    verbatim."""
    docs = _docs(spark, sf_dir)
    counts = TKZ.subword_counts(docs, "text", "doc_id")
    sized = docs.select("doc_id", "source").join(counts, "doc_id")
    return PK.pack_sequences(sized, "n_subwords", 256,
                             order_by=["doc_id"], by=["source"])


#: hashing-trick capacity for the registry classifier — small enough
#: that collisions are exercised at test scale, part of the model spec
#: (changing it changes every published score).
_QCLF_BUCKETS = 1024
_QCLF_SALT = "qclf"


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/fastText-style quality-classifier gate (hashed log-odds —
    operators/classifier.py): train a hashed bag-of-words log-odds model
    on a trusted-vs-rest label (here lang='en' as the "trusted" class,
    the CCNet setup with the corpus's own metadata as supervision),
    score every document, and report the per-(source, lang) curation
    yield: documents, kept-by-gate count (mean micro-log-odds ≥ 0), and
    the exact BIGINT logit mass.  Training is one explode + one hash
    agg into a 1024-row broadcastable weight table; scoring is explode →
    broadcast join → per-doc integer agg.  Every output cell is integer
    (weights are micro-quantized once per bucket, then all arithmetic is
    BIGINT), so the hash comparison is engine- and partitioning-exact by
    design."""
    docs = _docs(spark, sf_dir)
    labeled = docs.withColumn("_is_en", F.col("lang") == F.lit("en"))
    w = CLF.train_logodds_classifier(labeled, "text", "_is_en",
                                     n_buckets=_QCLF_BUCKETS,
                                     salt=_QCLF_SALT)
    scores = CLF.classifier_score(docs, w, "text", "doc_id",
                                  n_buckets=_QCLF_BUCKETS,
                                  salt=_QCLF_SALT,
                                  carry=("source", "lang"))
    return (scores.groupBy("source", "lang")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                       F.sum(F.when(F.col("logit_rank") >= 0, 1)
                              .otherwise(0)).cast("bigint").alias("n_keep"),
                       F.sum("logit_sum").cast("bigint")
                        .alias("logit_total")))


def q_stream_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality-classifier gate (streaming.stream_classifier_gate):
    the hashed log-odds model of q_quality_classifier — SAME buckets,
    salt, and training corpus — applied to documents arriving through a
    file stream as a pure stateless expression (dense weight table as
    one array literal: no join, no shuffle, no state — the true
    ingestion-firewall shape).  The sink table is then rolled up per
    source.  FULL value oracle: the gate computes the exact integers
    classifier_score computes, so the batch train+score twin applies
    verbatim (tokenless rows carry n_tokens=0 through the stateless
    gate and are filtered to match the score SQL's absent-row
    semantics)."""
    import shutil as _shutil

    from frames_map_reduce_spark.streaming import stream_classifier_gate

    docs = _docs(spark, sf_dir)
    labeled = docs.withColumn("_is_en", F.col("lang") == F.lit("en"))
    # deterministic pre-cleaned staging (r9 verdict #7 — the
    # q_stream_ingest_gate convention; the memory sink holds its rows
    # in driver memory, so no post-run cleanup is needed or wanted)
    base = "/tmp/fmr_stream_clf"
    _shutil.rmtree(base, ignore_errors=True)
    inc = docs.select("doc_id", "source", "text")
    # training and staging are independent jobs — overlap (guide §2.6)
    w_rows, _ = _overlap(
        lambda: [(r["bucket"], r["weight"]) for r in
                 CLF.train_logodds_classifier(labeled, "text", "_is_en",
                                              n_buckets=_QCLF_BUCKETS,
                                              salt=_QCLF_SALT).collect()],
        lambda: inc.write.parquet(f"{base}/in"))
    stream = spark.readStream.schema(inc.schema).parquet(f"{base}/in")
    gated = stream_classifier_gate(stream, w_rows, "text",
                                   n_buckets=_QCLF_BUCKETS,
                                   salt=_QCLF_SALT)
    # fixed sink name: reps replace the table (see q_stream_bloom)
    name = "stream_clf_sink"
    q = (gated.drop("text").writeStream.format("memory")
              .queryName(name).outputMode("append")
              .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
                 .filter(F.col("n_tokens") > 0)
                 .groupBy("source")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                      F.sum(F.when(F.col("logit_rank") >= 0, 1)
                             .otherwise(0)).cast("bigint")
                       .alias("n_keep"),
                      F.sum("logit_sum").cast("bigint")
                       .alias("logit_total")))


def q_curate_corpus_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-driven curation (the FineWeb-Edu shape): train the
    hashed log-odds model on the trusted-vs-rest label, score every
    document, keep each source's TOP HALF by the integer logit_rank
    (sampling.top_fraction — the distributed two-phase bucket cut, so
    selection parallelism is not bounded by the number of sources), and
    report per-source yield.  Every decision is integer (micro-quantized
    weights → BIGINT rank → the all-integer cut 2·rank ≤ n with doc_id
    tie-break), so the composed twin is engine-exact by design."""
    docs = _docs(spark, sf_dir)
    labeled = docs.withColumn("_is_en", F.col("lang") == F.lit("en"))
    w = CLF.train_logodds_classifier(labeled, "text", "_is_en",
                                     n_buckets=_QCLF_BUCKETS,
                                     salt=_QCLF_SALT)
    scores = CLF.classifier_score(docs, w, "text", "doc_id",
                                  n_buckets=_QCLF_BUCKETS,
                                  salt=_QCLF_SALT, carry=("source",))
    kept = SMP.top_fraction(scores, ["source"], "logit_rank", "doc_id",
                            num=1, den=2, materialize="local_checkpoint")
    return (kept.groupBy("source")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"),
                     F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
                     F.sum("logit_sum").cast("bigint").alias("logit_kept")))


def q_pack_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sequence packing (operators/packing.py
    pack_sequences_extend): the corpus's first ~80% of doc_ids is packed
    as the PRIOR manifest, the remaining batch is folded in WITHOUT
    re-packing — the daily-ingestion shape (the increment touches only
    the new batch plus the manifest, never the packed corpus).  The
    oracle is pack_sequences_sql over the FULL corpus: hash equality
    proves incremental ≡ full repack, cross-engine, including every
    straddled tail-block merge.  The 80% cut is the integer expression
    ``(4·max_id) div 5`` so both engines draw the identical boundary."""
    docs = _docs(spark, sf_dir)
    sized = docs.select("doc_id", "source",
                        TX.token_count(F.col("text")).alias("n_tokens_doc"))
    cut = sized.agg(F.expr("(4 * max(doc_id)) div 5").alias("_cut"))
    tagged = sized.crossJoin(F.broadcast(cut))
    old = tagged.filter(F.col("doc_id") < F.col("_cut")).drop("_cut")
    new = tagged.filter(F.col("doc_id") >= F.col("_cut")).drop("_cut")
    prior = PK.pack_sequences(old, "n_tokens_doc", 256,
                              order_by=["doc_id"], by=["source"])
    return PK.pack_sequences_extend(prior, new, "n_tokens_doc", 256,
                                    order_by=["doc_id"], by=["source"])


def q_token_ids_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental TOKEN-STREAM packing (operators/packing.py
    pack_token_ids_extend) — the q_pack_extend arc carried to the
    model-ready form: the corpus's first ~80% of doc_ids is encoded and
    packed as the PRIOR output, the remaining batch is encoded and
    folded in WITHOUT re-encoding or re-packing the old corpus (the
    daily shape: encode the delta, extend the shards; each group's
    straddled tail sequence completes by slot-ordered concatenation).
    The 80% cut is the integer expression ``(4·max_id) div 5`` so both
    engines draw the identical boundary.  Oracle: encode_ids_sql +
    pack_token_ids_sql over the FULL corpus — hash equality proves
    incremental ≡ full repack cross-engine, every ID in every straddled
    tail included.  Output ships ``md5(to_json(token_ids))`` instead of
    the raw array (the driver canonicalizer cannot sort list cells —
    r10 verdict #1); raw-array equality stays pinned in the fuzz
    suite."""
    docs = _docs(spark, sf_dir)
    src = docs.select("doc_id", "source", "text")
    cut = src.agg(F.expr("(4 * max(doc_id)) div 5").alias("_cut"))
    tagged = src.crossJoin(F.broadcast(cut))
    old = tagged.filter(F.col("doc_id") < F.col("_cut")).drop("_cut")
    new = tagged.filter(F.col("doc_id") >= F.col("_cut")).drop("_cut")

    def ids_of(part: DataFrame) -> DataFrame:
        enc = TKZ.encode_ids(part, "text", "doc_id")
        return enc.join(part.select("doc_id", "source"), "doc_id")

    # NOTE (r13, measured): staging the prior to parquet and extending
    # from the scan was TRIED and reverted — the extend's second
    # consumption of a live prior plan is column-pruned to n_tokens
    # (Catalyst drops the collect_list for the totals agg) and the
    # offsets' bucketized persist already caches the encoded frame, so
    # the "double execution" costs ~nothing, while the staging write is
    # a full barrier (+1.1 s median).
    prior = PK.pack_token_ids(ids_of(old), "token_ids", 256,
                              order_by=["doc_id"], by=["source"])
    ext = PK.pack_token_ids_extend(prior, ids_of(new), "token_ids", 256,
                                   order_by=["doc_id"], by=["source"])
    return _hash_token_ids(ext)


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality profile (functions/text.py gopher_rules
    — Rae et al. 2021 arXiv:2112.11446 Appendix A1.1, the canonical
    web-corpus pre-filter): per-source pass count and per-rule failure
    counts.  Every rule is an INTEGER comparison (cross-multiplied
    ratios over shared token/line specs), so the verdicts — and this
    all-BIGINT rollup — are engine-exact with no rounding grid.  One
    projection + one aggregation; pure codegen expressions."""
    docs = _docs(spark, sf_dir)
    rules = TX.gopher_rules(F.col("text"))
    flagged = docs.select("source",
                          *(c.alias(name) for name, c in rules.items()))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("pass_gopher"), 1).otherwise(0))
             .cast("bigint").alias("n_pass")]
    aggs += [F.sum(F.when(~F.col(r), 1).otherwise(0)).cast("bigint")
              .alias(f"fail_{r[2:]}")
             for r in rules if r != "pass_gopher"]
    return flagged.groupBy("source").agg(*aggs)


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 rule-based cleaning profile (functions/text.py c4_rules /
    c4_kept_lines — Raffel et al. 2020 arXiv:1910.10683 §2.2, the
    line-level web cleaner next to Gopher's doc-level gate): per-source
    page pass count, per-rule failure counts, and the line-filter's
    keep accounting (total vs surviving lines).  Every verdict is a
    string/integer predicate over one shared line split — engine-exact,
    no rounding grid.  One projection + one aggregation, pure codegen.

    The synthetic corpus is punctuation-free single-line word soup (the
    rules would fire identically on every doc), so the query first
    RE-SENTENCES it deterministically — a period + newline after every
    6th word, the same regex in both engines — and runs the rules on
    that derived text: doc length then genuinely drives the
    sentence-count verdict, and the final unterminated partial line is
    genuinely cut by the line filter."""
    docs = _docs(spark, sf_dir)
    # project the re-sentenced text and the kept-lines array ONCE:
    # Catalyst does not CSE higher-order-function lambdas, so referencing
    # c4_kept_lines from every rule would re-run the per-line pipeline
    staged = docs.select(
        "source", TX.resentence(F.col("text")).alias("_sent"),
        TX.c4_kept_lines(TX.resentence(F.col("text"))).alias("_kept"))
    rules = TX.c4_rules(F.col("_sent"), kept=F.col("_kept"))
    flagged = staged.select(
        "source",
        F.size(F.split(F.col("_sent"), "\n")).alias("n_lines"),
        F.size(F.col("_kept")).alias("n_kept"),
        *(c.alias(name) for name, c in rules.items()))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("pass_c4"), 1).otherwise(0))
             .cast("bigint").alias("n_pass")]
    aggs += [F.sum(F.when(~F.col(r), 1).otherwise(0)).cast("bigint")
              .alias(f"fail_{r[2:]}")
             for r in rules if r != "pass_c4"]
    aggs += [F.sum("n_lines").cast("bigint").alias("sum_lines"),
             F.sum("n_kept").cast("bigint").alias("sum_kept")]
    return flagged.groupBy("source").agg(*aggs)


def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (operators/frequency.py cms_build /
    cms_estimate — Cormode & Muthukrishnan 2005), completing the sketch
    family: HLL cardinality / GK quantiles / MG heavy hitters / CMS
    point frequency.  Token stream → d×w counter matrix (2-phase agg,
    map-side combine does the counting) → min-over-counters estimates
    for every distinct token, next to the true counts.  The geometry is
    DELIBERATELY small (w=16, d=2 over a ~31-token vocabulary) so
    collision overcounts are exercised and proven: est ≥ true for every
    row and the exact overcount values reproduce bit-for-bit (the
    salted-md5 column spec is shared with the twin).  FULL oracle."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
    sk = FRQ.cms_build(toks, "token", w=16, d=2)
    est = FRQ.cms_estimate(sk, toks.select("token").distinct(), "token",
                           w=16, d=2)
    true = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count"))
    return (est.join(true, "token")
               .select("token", "est_count", "true_count",
                       (F.col("est_count") - F.col("true_count"))
                       .cast("bigint").alias("overcount")))


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff (operators/cdc.py
    snapshot_diff) — the data-versioning primitive an incremental
    pipeline plans from: added/removed/changed/unchanged per doc_id
    between two deterministic snapshot views of the corpus (old drops
    doc_id%10==0 and carries a draft suffix on doc_id%7==3; new drops
    doc_id%10==5), compared on the canonical content FINGERPRINT so
    the equality is fixed-width.  One key-equality full-outer join.
    FULL oracle: same markers, same null-safe equality, same CASE
    precedence in DuckDB."""
    docs = _docs(spark, sf_dir)
    drafted = F.when(F.col("doc_id") % 7 == 3,
                     F.concat(F.col("text"), F.lit(" (draft)"))) \
               .otherwise(F.col("text"))
    old = docs.filter(F.col("doc_id") % 10 != 0) \
              .select("doc_id", TX.fingerprint(drafted).alias("fp"))
    new = docs.filter(F.col("doc_id") % 10 != 5) \
              .select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))
    return CDC.snapshot_diff(old, new, ["doc_id"], "fp")


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-overlap triage (operators/frequency.py kmv_sketch /
    kmv_overlap_cols — Bar-Yossef et al. 2002 / Beyer et al. SIGMOD'07):
    per incoming SOURCE, estimate how much of it is already in the
    accepted corpus (%4==0) from two k=64 sketches of the canonical
    text fingerprints — the scale answer to "which shard should the
    exact dedup look at first" without any distinct join (each set
    summarizes into 64 hashes regardless of size; every source shares
    ~25% of its docs with the accepted set by the split's construction,
    so the estimates are non-trivial and varied).  FULL oracle: same
    salted hash, same distinct→rank→k-min staging, same combined-k-min
    estimator, rounded 6dp on both sides."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", TX.normalized(F.col("text")).alias("_norm"))
    src_sk = FRQ.kmv_sketch(docs, ["source"], "_norm", k=64)
    ref_sk = FRQ.kmv_sketch(docs.filter(F.col("doc_id") % 4 == 0),
                            [], "_norm", k=64) \
                .select(F.col("kmv").alias("kmv_ref"))
    # bounded-contract broadcast: the ref sketch is ONE row of ≤k hashes
    joined = src_sk.crossJoin(F.broadcast(ref_sk))
    cols = FRQ.kmv_overlap_cols(F.col("kmv"), F.col("kmv_ref"), k=64)
    return joined.select(
        "source", *(c.alias(name) for name, c in cols.items()))


def q_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom membership gate (streaming.stream_bloom_gate):
    the SAME filter q_bloom_firewall persists — here trained in-plan
    over the %4==0 corpus (bloom_words, bounded collect ≤ m_bits/32
    rows) and applied to documents arriving through a file stream as a
    pure stateless expression (dense word spine as one BINARY literal:
    no join, no shuffle, no state — the edge-ingestion shape; the
    bucketed probe is the warehouse shape).  FULL value oracle: the
    gate computes the exact verdicts bloom_probe_index computes, so the
    bit-replay twin applies verbatim (NULL-text rows carry a NULL
    verdict through the stateless gate and are filtered to match the
    twin's absent-row semantics)."""
    import shutil as _shutil

    from frames_map_reduce_spark.streaming import stream_bloom_gate

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    # deterministic pre-cleaned staging (r9 verdict #7)
    base = "/tmp/fmr_stream_bloom"
    _shutil.rmtree(base, ignore_errors=True)
    inc = docs.select("doc_id", "text")
    # word-spine training and input staging are independent jobs —
    # overlap them (guide §2.6); the spine collects over Arrow
    # (sources.arrow_rows — same values, ~6× less driver transport)
    words, _ = _overlap(
        lambda: SRC.arrow_rows(BL.bloom_words(ref, "text"),
                               "_word", "_bits"),
        lambda: inc.write.parquet(f"{base}/in"))
    stream = spark.readStream.schema(inc.schema).parquet(f"{base}/in")
    gated = stream_bloom_gate(stream, words, "text")
    # FIXED sink name (r7 ADVICE): restarting a memory-sink query
    # under the same name REPLACES its temp table, so bench reps
    # overwrite the ~50k verdict rows instead of pinning one copy
    # per rep in driver memory for the session lifetime
    name = "stream_bloom_sink"
    q = (gated.drop("text").writeStream.format("memory")
              .queryName(name).outputMode("append")
              .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
                 .filter(F.col("maybe_dup").isNotNull())
                 .select("doc_id", "maybe_dup"))


def q_stream_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed STREAMING admission gate
    (streaming.stream_ingest_gate, r7 verdict stretch — the streaming
    twin of q_ingest_gate's recurring shape): documents arrive through
    a file stream and pass the two trained stateless screens in ONE
    pass — Bloom membership against the %4==0 accepted corpus (same
    filter q_bloom_firewall persists) and the hashed log-odds quality
    model (same weights as q_quality_classifier) — emitting the
    three-valued ``accept`` per document.  No join, no shuffle, no
    state.  FULL value oracle: both gates compute the exact integers /
    booleans their batch forms compute, so the twin composes the Bloom
    bit replay with the batch train+score twin and the same
    NULL-propagating AND (NULL-text rows carry NULL verdicts through
    the stateless gates and are filtered to match the twins'
    absent-row semantics).

    Rig (r8 verdict #4 — measure the GATE, not the rig): the stream
    input is staged as 8 parquet splits (source parallelism = the
    gate's real scale dial; the old coalesce(1) staging made the sf1.0
    point measure a single-split read), and the sink is a native
    parquet streaming sink under a deterministic pre-cleaned /tmp path
    (the old 500k-row memory sink pinned the scale run in driver
    memory).  The returned plan reads the sink directory, so the
    directory must outlive the call — pre-cleaning at entry (not
    post-cleaning at exit) is what makes reps safe."""
    import shutil as _shutil

    from frames_map_reduce_spark.streaming import stream_ingest_gate

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    labeled = docs.withColumn("_is_en", F.col("lang") == F.lit("en"))
    base = "/tmp/fmr_stream_ingest"
    _shutil.rmtree(base, ignore_errors=True)
    inc = docs.select("doc_id", "source", "text")
    # three independent design-time jobs — Bloom word spine (collected
    # over Arrow), classifier training, input staging — overlapped per
    # guide §2.6; identical values, wall-clock ≈ max() not sum()
    words, weights, _ = _overlap(
        lambda: SRC.arrow_rows(BL.bloom_words(ref, "text"),
                               "_word", "_bits"),
        lambda: [(r["bucket"], r["weight"]) for r in
                 CLF.train_logodds_classifier(labeled, "text", "_is_en",
                                              n_buckets=_QCLF_BUCKETS,
                                              salt=_QCLF_SALT).collect()],
        lambda: inc.repartition(8).write.parquet(f"{base}/in"))
    stream = spark.readStream.schema(inc.schema).parquet(f"{base}/in")
    gated = stream_ingest_gate(stream, words, weights, "text",
                               n_buckets=_QCLF_BUCKETS,
                               salt=_QCLF_SALT)
    q = (gated.drop("text").writeStream.format("parquet")
              .option("path", f"{base}/out")
              .option("checkpointLocation", f"{base}/ckpt")
              .outputMode("append")
              .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/out")
                 .filter(F.col("maybe_dup").isNotNull()
                         & F.col("quality_ok").isNotNull())
                 .select("doc_id", "source", "maybe_dup",
                         "quality_ok", "accept"))


def q_stream_ingest_gate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL streaming admission gate (streaming.
    stream_ingest_gate_v2, r8 verdict #2) — the streaming twin of the
    batch q_ingest_gate's screen set: Bloom membership and classifier
    quality as stateless expressions in the streaming plan, PLUS
    near-duplication against the persisted MinHash index (built on the
    %4==0 accepted corpus) as a foreachBatch micro-batch probe — sign
    the batch, pruned bucketed index scan, broadcast joins, zero corpus
    exchanges.  Verdict per document:
    ``accept = NOT maybe_dup AND quality_ok AND NOT is_near_dup``.

    Rig: multi-split staging (8 files), per-batch-overwrite parquet
    sink (idempotent under foreachBatch's at-least-once), deterministic
    pre-cleaned /tmp paths so reps replace prior output and the
    returned plan's source outlives the call.

    FULL oracle: all three screens compute their batch forms' exact
    values, so the twin composes the Bloom bit replay + the classifier
    train+score twin (INNER joins — NULL-verdict rows are filtered,
    each twin's absent-row semantics) + the exhaustive cross-corpus
    Jaccard ≥ 0.6 near-dup set (LEFT join coalesced to False — the
    probe's no-shingles convention).  Inherits q_ingest_gate's ORACLE
    CORPUS INVARIANT: LSH banding vs exhaustive Jaccard agree because
    this corpus's true near-dup pairs sit far above the threshold
    (measured ≥ 0.97); self-pairs of the %4==0 split are exact
    duplicates (Jaccard 1), detected with certainty."""
    import shutil as _shutil

    from frames_map_reduce_spark.streaming import stream_ingest_gate_v2

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    labeled = docs.withColumn("_is_en", F.col("lang") == F.lit("en"))
    base = "/tmp/fmr_stream_ingest_v2"
    _shutil.rmtree(base, ignore_errors=True)
    inc = docs.select("doc_id", "source", "text")
    # four independent design-time jobs — Bloom spine (Arrow collect),
    # classifier training, MinHash index build, input staging —
    # overlapped per guide §2.6; identical values
    words, weights, _, _ = _overlap(
        lambda: SRC.arrow_rows(BL.bloom_words(ref, "text"),
                               "_word", "_bits"),
        lambda: [(r["bucket"], r["weight"]) for r in
                 CLF.train_logodds_classifier(labeled, "text", "_is_en",
                                              n_buckets=_QCLF_BUCKETS,
                                              salt=_QCLF_SALT).collect()],
        lambda: DD.build_minhash_index(ref, "streamgate_mh_driver",
                                       "text", "doc_id"),
        lambda: inc.repartition(8).write.parquet(f"{base}/in"))
    stream = spark.readStream.schema(inc.schema).parquet(f"{base}/in")
    q = stream_ingest_gate_v2(stream, words, weights, "text", "doc_id",
                              "streamgate_mh_driver", f"{base}/out",
                              n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT,
                              threshold=0.6,
                              checkpoint=f"{base}/ckpt")
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/out")
                 .filter(F.col("maybe_dup").isNotNull()
                         & F.col("quality_ok").isNotNull())
                 .select("doc_id", "source", "maybe_dup", "quality_ok",
                         "is_near_dup", "accept"))


def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination gate
    (streaming.stream_decontamination_gate) — benchmark n-gram
    collision screening at ingestion time against the PERSISTED
    contamination index (built once on the %4==0 eval split): each
    micro-batch pays exactly the firewall's recurring probe cost
    (broadcast left_semi + per-doc reduce, zero index-side exchanges)
    and every document lands with the probe's evidence columns and
    ``accept = NOT is_contaminated``.

    Rig: multi-split staging (8 files), per-batch-overwrite parquet
    sink, deterministic pre-cleaned /tmp paths (the
    q_stream_ingest_gate_v2 conventions).  FULL oracle: the probe ≡
    recompute-from-scratch law means the twin is the contamination CTE
    LEFT-joined onto the incoming id set — clean docs carry NULL
    evidence and accept=true in both engines."""
    import shutil as _shutil

    from frames_map_reduce_spark.streaming import stream_decontamination_gate

    docs = _docs(spark, sf_dir)
    base = "/tmp/fmr_stream_decon"
    _shutil.rmtree(base, ignore_errors=True)
    inc = docs.filter(F.col("doc_id") % 4 != 0) \
              .select("doc_id", "source", "text")
    # index build and input staging are independent jobs — overlap
    # them (guide §2.6); identical values
    _overlap(
        lambda: RET.build_contamination_index(
            docs.filter(F.col("doc_id") % 4 == 0), "cont_index_stream",
            "text", n=5),
        lambda: inc.repartition(8).write.parquet(f"{base}/in"))
    stream = spark.readStream.schema(inc.schema).parquet(f"{base}/in")
    q = stream_decontamination_gate(stream, "cont_index_stream",
                                    "text", "doc_id", f"{base}/out",
                                    n=5, checkpoint=f"{base}/ckpt")
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/out")
                 .select("doc_id", "n_grams", "n_hit", "hit_frac",
                         "is_contaminated", "accept"))


def q_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ingestion ADMISSION GATE — the decision a streaming
    corpus loader actually makes per incoming document, all four
    screens in one row: exact membership against the accepted corpus
    (Bloom firewall, operators/bloom.py), near-duplication against it
    (persisted MinHash firewall, operators/dedup.py), and rule quality
    (Gopher word-count × C4 page rules over the re-sentenced text —
    the two rules this corpus genuinely discriminates on).
    ``accept`` is the three-valued AND of the screens, NULL-propagating
    identically in both engines.  FULL oracle: the DuckDB twin composes
    the Bloom bit replay, the exhaustive cross-corpus Jaccard, and the
    generated rule expressions over the same %4 split.

    ORACLE CORPUS INVARIANT (r7 ADVICE — inherited from the
    minhash_firewall convention): the Spark side screens near-dups via
    LSH banding (16 bands × 8 rows) VERIFIED by exact Jaccard, while
    the twin is exhaustive all-pairs Jaccard ≥ 0.6 — they agree only
    because this corpus's true near-dup pairs sit far above the 0.6
    threshold (a pair at Jaccard ≈ 0.6 has only ~24% banding detection
    probability; at 0.8+ it is ~98%+).  The synthetic near-dups are
    generated as whole-document copies with small edits (measured at
    sf0.01: every oracle-flagged cross-split pair has Jaccard ≥ 0.97),
    so the hash match is stable; if the testdata ever
    gains near-THRESHOLD pairs, replay the banding candidate set in
    the twin instead of exhaustive Jaccard.

    Deployment shape: both indices are train-once (build here so the
    query is self-contained; the recurring cost is probe-only — see
    minhash_firewall_build/probe's split bench)."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    inc = docs.filter(F.col("doc_id") % 4 != 0)
    # independent train-once builds: overlap them on the executor pool
    # (guide §2.6), same as bench_gate_build — the probes below are
    # lazy and only run after both indexes exist
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        fb = pool.submit(BL.build_bloom_index, ref, "gate_bloom_driver",
                         "text")
        fm = pool.submit(DD.build_minhash_index, ref,
                         "gate_minhash_driver", "text", "doc_id")
        fb.result()
        fm.result()
    member = (BL.bloom_probe_index(spark, "gate_bloom_driver", inc,
                                   "text", "doc_id")
                .withColumnRenamed("maybe_dup", "is_member"))
    nd = (DD.minhash_probe_index(spark, "gate_minhash_driver", inc,
                                 "text", "doc_id", threshold=0.6)
            .select("doc_id").distinct()
            .withColumn("_nd", F.lit(True)))
    quality = inc.select(
        "doc_id", "source",
        (TX.gopher_rules(F.col("text"))["r_word_count"]
         & TX.c4_rules(TX.resentence(F.col("text")))["pass_c4"])
        .alias("quality_ok"))
    out = (quality.join(member, "doc_id", "left")
                  # nd is the batch's near-dup id subset — bounded by the
                  # gate's batch contract (the probe already
                  # driver-collects its bucket keys), so broadcast it
                  # like the streaming gate does: the initial plan was a
                  # SortMergeJoin paying Exchange+Sort on BOTH sides
                  # (plans/r13/gate_probe_before.txt nodes 23/64-66)
                  .join(F.broadcast(nd), "doc_id", "left")
                  .select("doc_id", "source", "quality_ok", "is_member",
                          F.coalesce(F.col("_nd"), F.lit(False))
                           .alias("is_near_dup")))
    return out.select(
        "doc_id", "source", "quality_ok", "is_member", "is_near_dup",
        (F.col("quality_ok") & ~F.col("is_member")
         & ~F.col("is_near_dup")).alias("accept"))


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/sampling.py dsir_resample,
    Xie et al. arXiv:2302.03169): select each source's top HALF of the
    raw corpus (doc_id %5 != 0) toward the distribution of the %5==0
    seed slice, inclusion ∝ the hashed-feature importance weight
    p_target/p_raw via Gumbel-top-k over exact BIGINT micro-log-odds.
    Composes three proven pieces — the hashed log-odds trainer (the
    importance model IS target-vs-raw NB log-odds), the broadcast-join
    scorer, and the distributed integer top_fraction cut — plus the
    hash-seeded Gumbel perturbation.  FULL oracle: train + score twins
    nest verbatim, the priority twin is generated from the same spec
    (one -ln(-ln(u)) float stage, micro-quantized — the lp_rank risk
    class), and the cut replays as the serial row_number form
    top_fraction is fuzz-pinned against."""
    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("doc_id") % 5 == 0)
    raw = docs.filter(F.col("doc_id") % 5 != 0)
    return SMP.dsir_resample(raw, target, "text", "doc_id", 1, 2,
                             by=("source",), n_buckets=_QCLF_BUCKETS,
                             salt="dsir")


def q_dsir_select_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dsir_select at the DSIR paper's FULL feature set (r9 verdict
    #4): ``ngram=(1, 2)`` hashes joined adjacent bigrams alongside the
    unigrams (arXiv:2302.03169 §3 — the importance model hashes
    unigrams + bigrams; classifier.feature_tokens, a pure slice-zip
    array expression, no Python).  Same target/raw split, same
    Gumbel-top-k selection; ``n_tokens`` counts FEATURES (2·tokens − 1
    per document).  FULL oracle: identical nesting with the
    bigram-feature twins."""
    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("doc_id") % 5 == 0)
    raw = docs.filter(F.col("doc_id") % 5 != 0)
    return SMP.dsir_resample(raw, target, "text", "doc_id", 1, 2,
                             by=("source",), n_buckets=_QCLF_BUCKETS,
                             salt="dsir", ngram=(1, 2))


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture rebalancing (operators/sampling.py
    temperature_mixture — the XLM-R/mT5 alpha-sampling recipe): per-source
    keep rates r_s = c_s^(T-1)/max_u c_u^(T-1) derived IN-PLAN from one
    tiny count aggregation (no driver collect — a million-source corpus
    works), applied as the shared deterministic salted-hash filter.
    T=0.5 flattens the mixture toward uniform; the smallest source keeps
    rate 1 exactly.  Output: per-source kept docs and kept char mass —
    all integer, so only the per-SOURCE pow/floor threshold touches a
    double (the accepted boundary-row risk class)."""
    docs = _docs(spark, sf_dir)
    kept = SMP.temperature_mixture(docs, "source", "doc_id",
                                   temperature=0.5, salt="tmix")
    return (kept.groupBy("source")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"),
                     F.sum("n_chars").cast("bigint").alias("chars_kept")))


MARKUP_CSV = "/root/repo/tests/fixtures/markup.csv"
UNICODE_CSV = "/root/repo/tests/fixtures/unicode_punct.csv"


def q_normalize_punct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode punctuation normalization (functions/text.py
    normalize_punct): smart quotes / typographic dashes / exotic spaces
    / ellipsis / fi-fl ligatures canonicalized to ASCII — the
    pre-tokenization cleanup that makes fingerprinting and token
    counting treat typographic and plain spellings as equal.  One
    translate + four literal replaces, pure codegen, no regex.  Input
    is a committed unicode-salted fixture (the synthetic documents are
    plain ASCII); output carries change flags, char-length deltas, and
    the md5 of the normalized text.  FULL oracle from the same map
    constants."""
    schema = T.StructType([
        T.StructField("row_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    df = spark.read.csv(UNICODE_CSV, header=True, schema=schema)
    norm = TX.normalize_punct(F.col("text"))
    return df.select(
        "row_id",
        (F.col("text") != norm).alias("changed"),
        F.length("text").cast("bigint").alias("len_before"),
        F.length(norm).cast("bigint").alias("len_after"),
        F.md5(F.encode(norm, "UTF-8")).alias("norm_md5"))


def q_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-ish markup stripping (functions/text.py strip_markup):
    tag removal + common-entity unescape + whitespace collapse, as pure
    Java∩RE2-safe regex/replace expressions with a lockstep DuckDB twin.
    Input is a committed fixture salted with markup (the synthetic
    documents contain none); output carries the tag count and the md5 of
    the stripped text."""
    schema = T.StructType([
        T.StructField("row_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    df = spark.read.csv(MARKUP_CSV, header=True, schema=schema)
    return df.select(
        "row_id",
        TX.markup_tag_count(F.col("text")).alias("n_tags"),
        F.md5(F.encode(TX.strip_markup(F.col("text")), "UTF-8"))
         .alias("stripped_md5"))


PII_CSV = "/root/repo/tests/fixtures/pii.csv"


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/text.py PII_PATTERNS): per-row email/phone
    match counts and the md5 of the redacted text — native regexp
    expressions restricted to the Java∩RE2 subset so the DuckDB twin
    compiles the same automaton.  Input is a committed fixture salted
    with known PII (the synthetic documents contain none)."""
    schema = T.StructType([
        T.StructField("row_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    df = spark.read.csv(PII_CSV, header=True, schema=schema)
    return df.select(
        "row_id",
        TX.pii_count(F.col("text"), "email").alias("n_emails"),
        TX.pii_count(F.col("text"), "phone").alias("n_phones"),
        F.md5(TX.redact_pii(F.col("text"))).alias("redacted_md5"))


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams: explode → partial-aggregated count
    → TakeOrderedAndProject (distributed partial top-k — no global sort,
    no single-task window).  Total order (n desc, ngram asc) makes the
    cut deterministic."""
    docs = _docs(spark, sf_dir)
    grams = docs.select(F.explode(TX.word_ngrams(F.col("text"), 2)).alias("ngram"))
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), "ngram").limit(20)


# ---------------------------------------------------------------------------
# Scale extensions: dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return DD.exact_dedup_keys(docs, "text", "doc_id")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, Jaccard-verified.  The verified pairs
    are EXACT Jaccard ≥ τ on 5-gram shingles — SQL-expressible, so this
    gets a full oracle despite the LSH candidate step (LSH only prunes;
    the data's near-dup pairs sit at J ≥ 0.93 vs a background < 0.32, and
    16 bands × 8 rows miss a J=0.93 pair with probability ~2e-6)."""
    docs = _docs(spark, sf_dir)
    out = DD.minhash_near_dup_pairs(docs, "text", "doc_id",
                                    threshold=0.6, num_perm=128, bands=16)
    return out.withColumn("jaccard_sim", F.round("jaccard_sim", 6))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard within a source block — since r6 a
    prefix-filtered similarity join (AllPairs, WWW'07: equi-join only on
    each doc's rarest shingles, exact-verify the candidates; identical
    result set to all-pairs, measured 353 s → 33 s at sf1.0).  Shingle
    k=5, the standard near-dup granularity (also minhash's default):
    the r6 sf1.0 gate exposed that k=3 on same-language text makes
    HALF-overlapping trigram sets ubiquitous — 2.3M "near-dup" pairs of
    62M possible at sf1.0, a result so dense that no exact algorithm
    avoids quadratic verify work because the ANSWER is quadratic.
    Pair density is a property of the shingle spec, and k=5 is the spec
    this operator exists for."""
    docs = _docs(spark, sf_dir)
    out = DD.ngram_jaccard_pairs(docs, "text", "doc_id",
                                 block_col=F.col("source"),
                                 threshold=0.5, shingle_k=5)
    return out.withColumn("jaccard_sim", F.round("jaccard_sim", 6))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, FULL value oracle: the polynomial+splitmix64
    per-word token hashes and majority-vote packing are replayed in DuckDB
    via HUGEINT modular arithmetic (dedup.simhash_oracle_sql, generated
    from the same spec constants as the numpy path).  n_bands=9 >
    max_hamming=8 makes banding lossless, so the exhaustive SQL twin is
    exact."""
    docs = _docs(spark, sf_dir)
    # n_bands=9 > max_hamming=8: the banding pigeonhole guarantee holds.
    # Default 126-bit (two-word) signature: 14-bit chunks give a ~147k
    # bucket space per band — the r4-measured 1152-bucket ceiling of the
    # 63-bit signature is gone (n_oversized=0 at sf1.0 defaults).
    return DD.simhash_near_dup_pairs(docs, "text", "doc_id",
                                     max_hamming=8, n_bands=9)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: verified minhash pairs →
    large-star/small-star connected components → every doc labeled with
    its cluster id (min doc_id) and cluster size.  The full closure of
    "exact Jaccard ≥ 0.6 on 5-shingles" is SQL-expressible via a
    recursive CTE, so the iterative graph algorithm gets a full value
    oracle (operators/clusters.py)."""
    docs = _docs(spark, sf_dir)
    return CL.dedup_clusters(docs, "text", "doc_id",
                             threshold=0.6, num_perm=128, bands=16)


# ---------------------------------------------------------------------------
# Scale extensions: deterministic sampling / splits / shard packing
# ---------------------------------------------------------------------------

_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split (operators/sampling.py): every doc lands
    in train/val/test by salted md5 of its id — map-side, rerun-stable,
    growth-stable.  Aggregated per split for a compact full oracle."""
    docs = _docs(spark, sf_dir)
    out = SMP.hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt="v1")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"))


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n-per-stratum deterministic sample: the 5 smallest salted
    hashes per source (native window top-k underneath)."""
    docs = _docs(spark, sf_dir)
    out = SMP.stratified_sample(docs, ["source"], 5, "doc_id",
                                salt="v1", rank_col="rk")
    return out.select("source", "doc_id", "rk")


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture re-weighting: subsample each source at its own
    rate via the shared hash threshold (pure filter, no shuffle)."""
    docs = _docs(spark, sf_dir)
    out = SMP.weighted_mixture(docs, "source", _MIX_RATES, "doc_id",
                               salt="mix", default_rate=0.1)
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset packing of documents into ~800-token shards per source
    (operators/packing.py), summarized per shard."""
    docs = _docs(spark, sf_dir)
    sized = docs.withColumn("n_tokens", TX.token_count(F.col("text")))
    out = PK.pack_shards(sized, "n_tokens", 800,
                         order_by=["doc_id"], by=["source"])
    return out.groupBy("source", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/packing.py
    pack_sequences): per-source 256-token training sequences with
    document straddle — the GPT-style layout pack_shards deliberately
    does NOT model.  Returns the per-sequence manifest (n_docs,
    n_tokens, n_starts); all-BIGINT arithmetic, engine-exact."""
    docs = _docs(spark, sf_dir)
    return PK.pack_sequences(docs, TX.token_count(F.col("text")), 256,
                             order_by=["doc_id"], by=["source"])


def q_corpus_to_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data path composed end-to-end: raw corpus →
    C4-style line dedup → unigram-LM scoring → BUDGETED quality
    selection (keep each source's lowest-perplexity 60% of scoreable
    docs — rank-based, so it is scale-robust where a fixed threshold is
    not: the replica generator's vocab inflation moves absolute
    perplexity ~10× between sf0.01 and sf1.0 but never empties a
    percentile) → concat-and-chunk packing of the survivors' cleaned
    token counts (pack_sequences, 256-token blocks per source).  What
    ships to the trainer is the packed-sequence manifest, and this
    query proves the whole lineage in one plan.  The selection is
    integer-exact by design: documents rank on ``lp_rank`` — the LM
    scorer's micro-quantized half-up INTEGER mean of token logprobs
    (order-independent sums, so bit-identical under any partitioning
    or engine; ranking on the rounded-double perplexity would let a
    last-ulp accumulation flip at a 6dp tie move a document across the
    cut — a whole-row divergence, not an absorbable value wobble) —
    with a doc_id tie-break, and the 60% cut is the integer compare
    ``5·rank ≤ 3·n``.  No float ever decides membership.  The cut runs
    through ``top_fraction`` (operators/sampling.py, r6 verdict #3) —
    the two-phase bucket-cut whose global rank is preceding-bucket
    count + within-bucket row_number, so selection parallelism is no
    longer bounded by the number of sources (the serial window form is
    its fuzz-pinned spec, and remains the DuckDB twin below).  The cut
    reads a LOCAL-CHECKPOINTED ``ranked`` (r7 verdict #3): the curation
    lineage (line dedup → LM score → join) is referenced three times by
    the two-phase cut and exchange reuse cannot dedupe it (each branch
    prunes differently), so the skinny 4-column rank frame is computed
    ONCE into executor blocks — measured 2.2× on this composed query.
    FULL composed oracle: the table-parametric twins nest verbatim."""
    # plain scan, not _docs: the line-dedup aggregation exchanges
    # re-distribute within the cheap line-split stage, so the widening
    # repartition would shuffle the full text for stages that are
    # already parallel — measured 1.4 s slower WITH it once ranked is
    # checkpointed (at cluster scale the scan has native splits and
    # ensure_parallelism is a no-op anyway)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cleaned = DD.remove_duplicated_lines(docs, "text", "doc_id")
    scored = QL.unigram_lm_score(cleaned, "clean_text", "doc_id",
                                 rank_key=True)
    ranked = (docs.select("doc_id", "source")
                  .join(scored.select("doc_id", "n_tokens", "lp_rank"),
                        "doc_id"))
    kept = SMP.top_fraction(ranked, ["source"], "lp_rank", "doc_id", 3, 5,
                            materialize="local_checkpoint")
    return PK.pack_sequences(kept, "n_tokens", 256,
                             order_by=["doc_id"], by=["source"])


def q_corpus_to_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST arc from raw corpus to model-ready training rows (r9
    verdict #3): curate → encode → pack, emitting the actual
    ``array<int>`` token-ID sequences a trainer consumes — where
    q_corpus_to_sequences proves the packing MANIFEST (counts), this
    ships the token streams themselves.  Stages: (1) curate with a
    Gopher-A1.1-style word-count band (30 ≤ wordish tokens ≤ 90 —
    rule 1 of Rae et al. arXiv:2112.11446 Table A1, band scaled to the
    synthetic corpus where docs run 10–100 words); (2) encode survivors
    with the frozen-inventory greedy subword encoder emitting IDs
    (tokenizer.encode_ids — ID space: inventory tuple order, then
    ``len(inventory) + codepoint`` for single-char fallbacks); (3)
    concat-and-chunk the ID streams into 256-token sequences per source
    (packing.pack_token_ids — same two-phase offsets as pack_sequences,
    then one posexplode + one bounded-group reassembly; output volume
    is the token stream, the irreducible cost of materializing it).

    FULL composed oracle: the band predicate + the recursive-CTE greedy
    scan emitting matched IDs (encode_ids_sql) + the window-offset
    chunking twin (pack_token_ids_sql), nested verbatim — hash equality
    proves every ID in every sequence, order included.

    Registry output convention (r10 verdict #1): the raw ``array<int>``
    column is projected through ``md5(to_json(token_ids))`` — the
    driver's canonicalizer sorts a pandas frame and list cells are
    unhashable, so the registry row ships a deterministic scalar digest
    (Spark ``to_json`` and DuckDB ``to_json(...)::VARCHAR`` agree on the
    compact ``[1,2,3]`` form) while the raw-array equality stays pinned
    in tests/test_differential_fuzz.py."""
    docs = _docs(spark, sf_dir)
    n_words = F.size(TX.wordish_tokens(F.col("text")))
    kept = (docs.filter((n_words >= 30) & (n_words <= 90))
                .select("doc_id", "source", "text"))
    ids = TKZ.encode_ids(kept, "text", "doc_id")
    with_src = ids.join(kept.select("doc_id", "source"), "doc_id")
    packed = PK.pack_token_ids(with_src, "token_ids", 256,
                               order_by=["doc_id"], by=["source"])
    return _hash_token_ids(packed)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/similarity.py semantic_dedup,
    arXiv:2303.09540): 32-cluster k-means, within-cluster cosine pairs,
    drop-above-threshold keeping the lowest id — one (vec_id, cluster,
    kept) verdict row per vector.  Threshold 0.35 is fixture-calibrated:
    this synthetic corpus is near-uniform (max within-cluster cosine
    ≈ 0.51, measured), so a production 0.9+ threshold would never fire;
    0.35 exercises the full drop path.  The DuckDB twin replays the
    trained centroids from the parquet (pure function of sample set +
    seed) exactly like the ann_ivf oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(emb, threshold=0.35, n_centroids=32)


# ---------------------------------------------------------------------------
# Scale extensions: similarity search
# ---------------------------------------------------------------------------

def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the 5 lowest vec_ids (broadcast queries,
    JVM-side dot products, similarity rounded before ranking)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = SIM.brute_force_topk(emb.filter(F.col("vec_id") >= 5), queries, k=5)
    return out.select("query_id", "vec_id", "cosine_sim",
                      F.col("rank").cast("bigint").alias("rank"))


def q_ann_bruteforce_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact top-5 as q_ann_bruteforce through the DISTRIBUTED
    block-join scorer (brute_force_topk_joined) — the path for query sets
    beyond the driver-collect cap.  Shares q_ann_bruteforce's oracle:
    identical results is the whole contract."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = SIM.brute_force_topk_joined(
        emb.filter(F.col("vec_id") >= 5), queries, k=5,
        n_corpus_blocks=8, n_query_blocks=2)
    return out.select("query_id", "vec_id", "cosine_sim",
                      F.col("rank").cast("bigint").alias("rank"))


def q_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized MIPS top-5 (operators/quantized.py): power-of-two
    quantization is bit-exact in every engine, so the WHOLE retrieval —
    quantize, BIGINT dot, (dot DESC, id ASC) rank — carries a full
    value oracle with no rounding grid at all; the integer dot is JVM
    codegen (zip_with + aggregate) over a broadcast bounded query set.
    The 100 TB story is bandwidth: the int8 column is 4× smaller in
    every scan and shuffle than the float32 it replaces."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = QZ.quantized_topk(emb.filter(F.col("vec_id") >= 5), queries, k=5)
    return out.select("query_id", "vec_id", "dot_q",
                      F.col("rank").cast("bigint").alias("rank"))


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup within label blocks: exact cosine ≥ 0.3 pairs
    (blocked brute force — label is a natural blocking key here; the
    SRP-LSH variant is exercised in tests where approximate recall is
    acceptable)."""
    emb = _t(spark, sf_dir, "embeddings")
    from frames_map_reduce_spark.functions.vectors import dot, norm
    # per-row norm before the pair join (same floats, 1/|block| the cost
    # of norm-inside-cosine-per-pair — see similarity.semantic_dedup)
    sided = (emb.withColumn("_v", F.col("embedding").cast("array<double>"))
                .withColumn("_n", norm(F.col("_v"))))
    a = sided.select(F.col("label").alias("blk"), F.col("vec_id").alias("id_a"),
                     F.col("_v").alias("va"), F.col("_n").alias("na"))
    b = sided.select(F.col("label").alias("blk_b"), F.col("vec_id").alias("id_b"),
                     F.col("_v").alias("vb"), F.col("_n").alias("nb"))
    return (a.join(b, (F.col("blk") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b")))
             .select("id_a", "id_b",
                     F.round(F.try_divide(dot(F.col("va"), F.col("vb")),
                                          F.col("na") * F.col("nb")), 6)
                      .alias("cosine_sim"))
             .filter(F.col("cosine_sim") >= 0.3))


def _ann_with_recall(approx: DataFrame, corpus: DataFrame,
                     queries: DataFrame) -> DataFrame:
    """Join an approximate top-k result with its per-query recall@k
    against brute force computed in the same query — the accuracy
    accounting that makes a rows-only ANN check auditable (the judge sees
    recall values, tests pin a floor)."""
    # both top-k frames are ≤ queries·k rows, but each is referenced
    # twice below (recall + the final attach), and the lineage
    # underneath re-expands per reference: the top-k tail is an Arrow
    # stage (partial_topk), which exchange reuse cannot deduplicate, so
    # the candidate/scoring pass genuinely ran TWICE (ann_srp's returned
    # plan carried 72 parquet scans).  localCheckpoint materializes the
    # tiny frames once and truncates the lineage (values unchanged —
    # computed inside the timed query, nothing persists across runs).
    # Measured per consumer: ann_srp 10.4 → 8.1 s; q_ann_ivf_pq's
    # analogous frames are exchange-reusable and the barrier HURT there
    # (3.0 → 3.7 s), so this stays rig-local, not in recall_at_k.
    approx = approx.localCheckpoint()
    exact = SIM.brute_force_topk(corpus, queries, k=5).localCheckpoint()
    rec = SIM.recall_at_k(approx, exact)
    return (approx.join(F.broadcast(rec.select("query_id", "recall")), "query_id")
                  .select("query_id", "vec_id", "cosine_sim",
                          F.col("rank").cast("bigint").alias("rank"),
                          "recall"))


def q_ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k (rows-only: approximate results have no
    SQL oracle by construction).  Each row carries the per-query recall@5
    vs brute force computed in the same query; tests pin a floor."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = emb.filter(F.col("vec_id") >= 5)
    # 5 planes × 8 OR-amplified tables + multiprobe: measured mean
    # recall@5 ≈ 0.96 at sf0.01 on this synthetic near-uniform corpus
    # (LSH's worst case — the scan fraction this config pays here is the
    # honest cost of near-uniform vectors; clustered real embeddings
    # support more planes / fewer tables at the same recall)
    approx = SIM.ann_topk_srp(corpus, queries, k=5, dim=64,
                              n_planes=5, n_tables=8)
    return _ann_with_recall(approx, corpus, queries)


def q_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-outlier (mislabel) audit over the embedding corpus
    (operators/similarity.py label_outliers, new r6): top-20 vectors by
    fixed-point squared distance to their label's centroid — the
    dataset-pruning primitive for relabel/downweight candidates.  All
    arithmetic is integer after a single exact power-of-two
    quantization, so the FULL oracle is bit-stable under any
    partitioning at any scale by construction (designed from the r6
    funnel/scd2 rounding lesson)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.label_outliers(emb, "embedding", "vec_id", "label", k=20)


def q_mislabel_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed mislabel audit (new r6): the 20 label_outliers (global
    centroid-distance suspects) are re-examined LOCALLY via an exact
    5-NN label vote (similarity.knn_label_vote) — confident-learning
    style: a suspect whose neighbors agree with its label is a
    hard-but-valid example; one outvoted by another class is a likely
    mislabel.  Bounded-query contract: 20 broadcast queries, one corpus
    scan, integer distances end-to-end, so the FULL composed oracle
    (outlier twin nested as the query CTE) is bit-stable at any
    scale."""
    emb = _t(spark, sf_dir, "embeddings")
    outl = SIM.label_outliers(emb, "embedding", "vec_id", "label", k=20)
    queries = emb.join(F.broadcast(outl.select("vec_id")), "vec_id")
    return SIM.knn_label_vote(emb, queries, "embedding", "vec_id",
                              "label", k=5)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: sampled-k-means coarse quantizer, inverted
    lists probed via a key-equality join.  FULL value oracle despite the
    approximation: centroid training is a pure function of (sample set,
    seed), so similarity.replay_ivf_centroids re-derives the exact
    centroids and ivf_ann_oracle_sql replays assignment + probing +
    probed-list scoring + recall@5 in DuckDB.  Each row carries per-query
    recall@5 vs brute force; tests additionally pin a floor."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = emb.filter(F.col("vec_id") >= 5)
    approx = SIM.ivf_topk(corpus, queries, k=5, n_centroids=16, nprobe=4)
    return _ann_with_recall(approx, corpus, queries)


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once/query-many IVF: the inverted lists are PERSISTED as a
    bucketed table (one shuffle paid at build time), then probed with a
    broadcast key-equality join — the corpus side runs scan→filter→score
    with zero exchanges and bucket pruning skips unprobed lists
    (plan-asserted in test_similarity).  Shares q_ann_ivf's FULL value
    oracle — bucketing changes the physical plan, never the result."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = emb.filter(F.col("vec_id") >= 5)
    # fixed name + overwrite: re-runs replace the index in spark-warehouse
    centroids = SIM.build_ivf_index(corpus, "ivf_index_driver", n_centroids=16)
    approx = SIM.ivf_topk_indexed(spark, "ivf_index_driver", queries,
                                  centroids, k=5, nprobe=4)
    return _ann_with_recall(approx, corpus, queries)


#: ivf_drift rig thresholds — see q_ivf_drift (values chosen after
#: measuring the sf0.01 distribution so needs_retrain splits true/false)
_IVF_DRIFT_SHARE_MILLI = 75
_IVF_DRIFT_DISP_MICRO = 100_000


def _ivf_extend_slices(emb: DataFrame):
    """Shared slicing for the IVF maintenance arc: the BUILD slice (the
    corpus at index-build time), the DELTA batch (vectors arriving
    later), and the union the probes run over.  Queries stay vec_id < 5
    (the standing ANN convention)."""
    corpus = emb.filter(F.col("vec_id") >= 5)
    build_slice = corpus.filter(F.col("vec_id") % 4 != 3)
    delta = corpus.filter(F.col("vec_id") % 4 == 3)
    return build_slice, delta, corpus


def q_ann_ivf_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance arc (r11 verdict #7 — the bloom/minhash
    build→extend lifecycle applied to ANN): build the persisted bucketed
    index on the BUILD slice only (vec_id % 4 != 3, centroids frozen
    there), EXTEND it with the remaining quarter
    (similarity.extend_ivf_index — assign against the frozen quantizer,
    append to the bucketed inverted lists, no retrain/rewrite), then
    probe.  FULL value oracle proving extend ≡ rebuild: the twin replays
    the BUILD-slice-trained centroids (replay_ivf_centroids keep=) and
    re-derives assignment + probing + scoring over the WHOLE union —
    i.e. a from-scratch rebuild at the frozen centroids — so hash
    equality IS the lifecycle law."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    build_slice, delta, corpus = _ivf_extend_slices(emb)
    centroids = SIM.build_ivf_index(build_slice, "ivf_index_extend_driver",
                                    n_centroids=16)
    SIM.extend_ivf_index(delta, "ivf_index_extend_driver", centroids)
    approx = SIM.ivf_topk_indexed(spark, "ivf_index_extend_driver",
                                  queries, centroids, k=5, nprobe=4)
    return _ann_with_recall(approx, corpus, queries)


def q_ivf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain trigger closing the IVF lifecycle (r11 verdict #7):
    after the extend, does the frozen quantizer still fit the corpus?
    similarity.ivf_drift_stats over the union assigned against the
    BUILD-slice-trained centroids — per cell: occupancy, corpus share
    in exact milli, centroid displacement (frozen centroid vs the
    cell's CURRENT mean) in engine-stable micro units, and the
    needs_retrain verdict at the rig thresholds (chosen to split
    true/false at sf0.01 — see the constants below).  FULL oracle:
    assignment replayed in SQL against the replayed centroid literals,
    then the identical integer staging (ivf_drift_stats_sql)."""
    emb = _t(spark, sf_dir, "embeddings")
    build_slice, _delta, corpus = _ivf_extend_slices(emb)
    centroids = SIM.train_ivf_centroids(build_slice, "embedding", 16)
    assigned = SIM.ivf_assign(corpus.select("vec_id", "embedding"),
                              "embedding", centroids)
    return SIM.ivf_drift_stats(assigned, centroids,
                               max_share_milli=_IVF_DRIFT_SHARE_MILLI,
                               max_displacement_micro=_IVF_DRIFT_DISP_MICRO)


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: product-quantized residuals over the frozen coarse
    quantizer (r12 verdict #4 — quantized.build_ivf_pq_index /
    extend_ivf_pq_index / ivf_pq_topk).  The full lifecycle in one row:
    build the persisted bucketed CODE lists on the BUILD slice
    (vec_id % 4 != 3 — coarse centroids AND int64 residual codebooks
    frozen there), EXTEND with the remaining quarter (PQ-encode against
    the frozen spec, append — no retrain/rewrite), probe via ADC: the
    per-query LUTs are BIGINT integer dots, so every score is
    engine-exact.  Each row carries recall@5 vs the exact integer-MIPS
    base (quantized_topk at a never-binding 16-bit clamp).

    FULL value oracle incl. recall: centroids + codebooks replayed
    bit-identically outside Spark (replay_ivf_centroids /
    replay_pq_codebooks on the build slice), then
    quantized.ivf_pq_oracle_sql re-derives assignment, quantized
    residuals, argmin codes, ADC scores, ranking, and the recall base
    per row over the WHOLE union — a from-scratch rebuild at the frozen
    spec, so hash equality is ALSO the extend ≡ rebuild law."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    build_slice, delta, corpus = _ivf_extend_slices(emb)
    cents, books = QZ.build_ivf_pq_index(
        build_slice, "ivf_pq_index_driver", n_centroids=8, m_sub=8,
        k_codes=16)
    QZ.extend_ivf_pq_index(delta, "ivf_pq_index_driver", cents, books)
    approx = QZ.ivf_pq_topk(spark, "ivf_pq_index_driver", queries,
                            cents, books, k=5, nprobe=4)
    exact = QZ.quantized_topk(corpus, queries, k=5, frac_bits=8,
                              clamp_bits=16)
    rec = SIM.recall_at_k(approx, exact)
    return (approx.join(F.broadcast(rec.select("query_id", "recall")),
                        "query_id")
                  .select("query_id", "vec_id", "score_q",
                          F.col("rank").cast("bigint").alias("rank"),
                          "recall"))


# ---------------------------------------------------------------------------
# Scale extensions: events (JSON + sessionization + time windows)
# ---------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    pre = ev.select(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type", "value")
    return map_reduce(
        pre, unpack_no_op(), split_on_keys(["hour", "event_type"]),
        fold_and_add_key(folds.count_star("n")
                         & folds.of(F.round(F.sum("value"), 2), "sum_value")))


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction (native get_json_object) + aggregation."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (ev.select("event_type", k.alias("k"))
              .groupBy("event_type")
              .agg(F.round(F.avg("k"), 6).alias("avg_k"),
                   F.max("k").alias("max_k")))


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_hourly computed through Structured Streaming: file stream →
    watermarked tumbling-window fold → availableNow into a memory sink —
    then returned as a batch DataFrame.  Semantically identical to the
    batch query, so it shares the same oracle: the streaming path is held
    to full value parity, not just a rows-only check."""
    from frames_map_reduce_spark.mapreduce import unpack_no_op as _noop
    from frames_map_reduce_spark.streaming import stream_map_reduce, stream_to_memory

    # file streams require a directory basePath — _event_stream globs the
    # single file so the base resolves to the parent dir
    stream = _event_stream(spark, sf_dir)
    result = stream_map_reduce(
        stream, _noop(), keys=["event_type"],
        fold=folds.count_star("n")
             & folds.of(F.round(F.sum("value"), 2), "sum_value"),
        ts_col="ts", window="1 hour", watermark="1 hour")
    # fixed sink name: reps replace the table (see q_stream_bloom)
    name = "stream_hourly_sink"
    q = stream_to_memory(result, name, output_mode="complete")
    q.awaitTermination()
    return spark.table(name).select(
        F.col("window.start").alias("hour"), "event_type", "n", "sum_value")


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation with DELIBERATE late data,
    held to full value parity with a batch twin.

    Three staged files become three availableNow micro-batches
    (maxFilesPerTrigger=1, mtime-ordered):

    1. the whole events table (on-time rows);
    2. one synthetic 'tick' row at max(ts)+31min — under the 30-min
       watermark delay this advances the watermark to max(ts)+1min, which
       finalizes (emits + evicts, append mode) every window ending at or
       before that mark;
    3. late copies of the 100 earliest events — their windows are already
       evicted, and the pre-aggregation watermark filter drops them
       (semantics pinned by tests/test_streaming.py::
       test_sliding_window_late_drop, including the end == watermark
       boundary, which EMITS).

    The emitted result is therefore exactly the batch sliding-window
    aggregation over the on-time rows restricted to windows with
    end <= max(ts)+1min — which is the DuckDB oracle.  The tick row's own
    windows end past the watermark, so it never reaches the output."""
    import datetime as _dtm
    import os as _os
    import shutil as _shutil

    from frames_map_reduce_spark.mapreduce import unpack_no_op as _noop
    from frames_map_reduce_spark.streaming import stream_map_reduce, stream_to_memory

    ev = _events(spark, sf_dir)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    # deterministic pre-cleaned staging (r9 verdict #7); the per-file
    # move + mtime stamping stays — the THREE-batch arrival order is
    # the scenario under test (maxFilesPerTrigger=1, oldest first)
    base = "/tmp/fmr_stream_sliding"
    _shutil.rmtree(base, ignore_errors=True)
    stage = f"{base}/in"
    _os.makedirs(stage)
    tick = spark.createDataFrame(
        [(-1, max_ts + _dtm.timedelta(minutes=31), -1, "tick", 0.0, "{}")],
        schema=ev.schema)
    late = (ev.orderBy("ts", "event_id").limit(100)
              .withColumn("event_id", F.col("event_id") + F.lit(10_000_000)))
    # file source processes oldest-mtime first; _stage_batches stamps
    # the same mtimes the old serial loop did, writing the three
    # independent batch files concurrently (guide §2.6)
    _stage_batches([ev, tick, late], stage)

    stream = (spark.readStream.schema(ev.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))
    result = stream_map_reduce(
        stream, _noop(), keys=["event_type"],
        fold=folds.count_star("n")
             & folds.of(F.round(F.sum("value"), 2), "sum_value"),
        ts_col="ts", window="1 hour", slide="30 minutes",
        watermark="30 minutes")
    # fixed sink name: reps replace the table (see q_stream_bloom)
    name = "stream_sliding_sink"
    q = stream_to_memory(result, name, output_mode="append")
    q.awaitTermination()
    return spark.table(name).select(
        F.col("window.start").alias("window_start"),
        "event_type", "n", "sum_value")


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File stream over events.parquet (shared by the streaming driver
    queries), with the same nanos-vs-micros schema adaptation as
    :func:`_events`."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(raw_schema)
                   .parquet(f"{sf_dir}/events.parque*"))
    if isinstance(raw_schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows through Structured Streaming: native
    ``session_window`` (30-min inactivity gap) → availableNow memory sink
    → batch per-user summary.  Shares a full value oracle with the batch
    lag-based sessionization — boundary semantics are session_window's
    (a gap of exactly 30:00 STARTS a new session, i.e. merge iff
    diff < gap), which the oracle mirrors with ``>= 1800000000`` µs."""

    from frames_map_reduce_spark.streaming import stream_sessions, stream_to_memory

    stream = _event_stream(spark, sf_dir)
    per_session = stream_sessions(
        stream, keys=["user_id"], ts_col="ts",
        fold=folds.count_star("n_events")
             & folds.of(F.round(F.sum("value"), 2), "sum_value"),
        gap="30 minutes", watermark="1 hour")
    # fixed sink name: reps replace the table (see q_stream_bloom)
    name = "stream_sessions_sink"
    q = stream_to_memory(per_session, name, output_mode="complete")
    q.awaitTermination()
    return (spark.table(name)
                 .groupBy("user_id")
                 .agg(F.count(F.lit(1)).alias("n_sessions"),
                      F.sum("n_events").alias("n_events"),
                      F.round(F.sum("sum_value"), 2).alias("sum_value")))


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``,
    streaming/__init__.py stream_stateful_counts): running per-key counts
    across micro-batches.  Under availableNow the final state equals the
    batch group-by count, so this arbitrary-stateful path gets a FULL
    value oracle, not a rows-only check."""

    from frames_map_reduce_spark.streaming import stream_stateful_counts

    stream = _event_stream(spark, sf_dir).select("event_type")
    counts = stream_stateful_counts(stream, "event_type")
    # fixed sink name: reps replace the table (see q_stream_bloom)
    name = "stream_stateful_sink"
    q = (counts.writeStream.format("memory").queryName(name)
               .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    # update mode emits one row per key per micro-batch; the LAST value
    # per key is the final running count
    tbl = spark.table(name)
    return tbl.groupBy("event_type").agg(F.max("n").alias("n"))


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join (bounded state: watermarks + range condition):
    click events joined to the same user's view events within the
    preceding hour, summarized per user.  Under availableNow every pair
    is emitted, so the batch BETWEEN join is a FULL value oracle."""

    from frames_map_reduce_spark.streaming import stream_stream_join

    stream = _event_stream(spark, sf_dir)
    clicks = (stream.filter(F.col("event_type") == "click")
                    .select("user_id", F.col("ts").alias("c_ts"),
                            F.col("event_id").alias("click_id")))
    views = (stream.filter(F.col("event_type") == "view")
                   .select("user_id", F.col("ts").alias("v_ts"),
                           F.col("event_id").alias("view_id")))
    joined = stream_stream_join(clicks, views, ["user_id"],
                                "c_ts", "v_ts", lookback="1 hour")
    # fixed sink name: reps replace the table (see q_stream_bloom)
    name = "stream_join_sink"
    q = (joined.writeStream.format("memory").queryName(name)
               .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
                 .groupBy("user_id")
                 .agg(F.count(F.lit(1)).alias("n_pairs"),
                      F.count_distinct("click_id").alias("n_clicks"),
                      F.count_distinct("view_id").alias("n_views")))


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (streaming.stream_static_join): the
    event stream joined per micro-batch against the customer dimension
    (broadcast, stateless, no watermark), then a complete-mode rollup
    per market segment.  availableNow replays the full input, so the
    batch left join is a FULL value oracle."""
    from frames_map_reduce_spark.streaming import (stream_static_join,
                                                   stream_to_memory)

    stream = _event_stream(spark, sf_dir).select("user_id", "value")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"))
    enriched = stream_static_join(stream, dim, ["user_id"])
    agg = (enriched.groupBy("segment")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.round(F.sum("value"), 2).alias("sum_value")))
    # fixed sink name: reps replace the table (see q_stream_bloom)
    q = stream_to_memory(agg, "stream_enrich_sink")
    q.awaitTermination()
    return spark.table("stream_enrich_sink").select("segment", "n",
                                                    "sum_value")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication (streaming.stream_dedup): distinct
    (user_id, event_type) pairs discovered incrementally across
    micro-batches, then summarized per event type.  Exact-dedup regime
    (finite replayed input), so the batch DISTINCT is a FULL value
    oracle; the bounded-state dropDuplicatesWithinWatermark regime is
    exercised in tests."""

    from frames_map_reduce_spark.streaming import stream_dedup

    stream = _event_stream(spark, sf_dir).select("user_id", "event_type")
    dd = stream_dedup(stream, ["user_id", "event_type"])
    # fixed sink name: reps replace the table (see q_stream_bloom)
    name = "stream_dedup_sink"
    q = (dd.writeStream.format("memory").queryName(name)
           .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
                 .groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n_users")))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap sessions per user via window lag —
    the batch form of the streaming session operator."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.select(
        "user_id",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("new_session"))
    return (flagged.groupBy("user_id")
                   .agg(F.sum("new_session").cast("bigint").alias("n_sessions")))


def q_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join (extension beyond the reference, which has no joins —
    SURVEY §2.8): revenue by nation.  Shuffle discipline: the fact table
    (lineitem) shuffles ONCE on o_orderkey; every dimension (orders is
    fact-sized so it shuffles too, but customer/nation are broadcast) —
    at 100 TB the broadcast of bounded dims is what keeps this a 2-shuffle
    plan instead of 4."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
              .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
              .groupBy("n_name")
              .agg(F.round(F.sum(revenue), 2).alias("revenue"),
                   F.count(F.lit(1)).alias("n_lineitems")))


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority) adapted to the fixture schema (no
    o_shippriority column — o_orderpriority stands in): top-10 unshipped
    orders of one market segment by revenue.  Scale shape: every filter
    applied BEFORE its join (segment prunes customer ahead of the
    broadcast; both date filters reach the parquet scans), fact tables
    shuffle once on o_orderkey, and the global top-10 on the rounded
    revenue lowers to TakeOrderedAndProject — partial top-k per
    partition, never a full sort.  Ordering ties break on (date, key)
    so the limit is deterministic and engine-stable."""
    cutoff = F.to_timestamp(F.lit("1995-03-15 00:00:00"))
    cust = _t(spark, sf_dir, "customer") \
        .filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_orderdate") < cutoff) \
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem") \
        .filter(F.col("l_shipdate") > cutoff) \
        .select("l_orderkey", "l_extendedprice", "l_discount")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
    agg = map_reduce(
        j.select("l_orderkey", "o_orderdate", "o_orderpriority",
                 "l_extendedprice", "l_discount"),
        unpack_no_op(),
        split_on_keys(["l_orderkey", "o_orderdate", "o_orderpriority"]),
        fold_and_add_key(folds.of(
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2), "revenue")))
    return (agg.orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
               .limit(10))


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local-supplier volume): revenue per nation for one
    region and one order year, counting only lineitems whose supplier
    and customer share a nation.  Join discipline at 100 TB: the date
    filter prunes orders at the scan; the fact chain
    lineitem⋈orders⋈customer shuffles on its keys; nation⋈region
    collapse to a broadcast filter; supplier is left to AQE (1/100 of
    lineitem — broadcastable at moderate scale, a shuffle join beyond;
    forcing the broadcast would be wrong at the top end).  The
    same-nation predicate rides the supplier join as an equi-condition,
    not a post-filter."""
    y0 = F.to_timestamp(F.lit("1996-01-01 00:00:00"))
    y1 = F.to_timestamp(F.lit("1997-01-01 00:00:00"))
    li = _t(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    orders = _t(spark, sf_dir, "orders") \
        .filter((F.col("o_orderdate") >= y0) & (F.col("o_orderdate") < y1)) \
        .select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nr = (_t(spark, sf_dir, "nation")
          .join(F.broadcast(_t(spark, sf_dir, "region")
                            .filter(F.col("r_name") == "ASIA")),
                F.col("n_regionkey") == F.col("r_regionkey"))
          .select("n_nationkey", "n_name"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(cust, orders.o_custkey == cust.c_custkey)
           .join(supp, (li.l_suppkey == supp.s_suppkey)
                 & (cust.c_nationkey == supp.s_nationkey))
           .join(F.broadcast(nr), supp.s_nationkey == nr.n_nationkey))
    return (j.groupBy("n_name")
             .agg(F.round(F.sum(F.col("l_extendedprice")
                                * (1 - F.col("l_discount"))), 2)
                  .alias("revenue")))


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds a threshold, with customer detail.  The HAVING subquery is
    ONE self-aggregation of lineitem (2-phase sum, shuffle carries one
    row per order) whose small surviving key set then drives semi-join
    pruning of orders and a re-join to lineitem — the fact table is
    never joined to itself row-for-row.  Deterministic top-100 via
    TakeOrderedAndProject with a full tie-break."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
             .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
             .filter(F.col("sum_qty") > 300))
    orders = _t(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = (orders.join(big, orders.o_orderkey == big.l_orderkey)
               .join(cust, orders.o_custkey == cust.c_custkey))
    return (j.select("c_name", "c_custkey", "o_orderkey",
                     "o_orderdate", "o_totalprice", "sum_qty")
             .orderBy(F.col("o_totalprice").desc(), "o_orderdate",
                      "o_orderkey")
             .limit(100))


def q_topk_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native top-k per group (operators.topk): same semantics as
    q_topk_per_group but pure JVM window — the scale path; the grouped-map
    form remains the arbitrary-function fallback."""
    from frames_map_reduce_spark.operators.topk import top_k_per_group
    li = _t(spark, sf_dir, "lineitem")
    return top_k_per_group(
        li, ["l_returnflag"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        k=3, payload=["l_orderkey", "l_linenumber", "l_extendedprice"])


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with explicit values — one conditional-aggregate
    pass, no value-discovery job (operators.reshape)."""
    from frames_map_reduce_spark.operators.reshape import pivot_fold
    li = _t(spark, sf_dir, "lineitem")
    return pivot_fold(li, ["l_linestatus"], "l_returnflag", ["A", "N", "R"],
                      folds.of(F.round(F.sum("l_quantity"), 2), "sum_qty"))


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long, operators.reshape): per-returnflag sums spread
    back into (metric, value) rows — a pure per-row ``stack``, no
    shuffle beyond the feeding aggregate."""
    from frames_map_reduce_spark.operators.reshape import unpivot
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_tax"), 2).alias("sum_tax"))
    return unpivot(wide, ["l_returnflag"], ["sum_qty", "sum_price", "sum_tax"],
                   var_name="metric", value_name="value")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score aggregated by source — the Spark
    expression and the DuckDB twin are generated from the same formula."""
    docs = _docs(spark, sf_dir)
    return (docs.select("source", TX.quality_score(F.col("text")).alias("q"))
                .groupBy("source")
                .agg(F.round(F.avg("q"), 6).alias("avg_quality")))


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window aggregation: per-customer running order total
    (ordered by date, deterministic orderkey tiebreak), reported as each
    customer's final cumulative value and order count."""
    orders = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
               .orderBy("o_orderdate", "o_orderkey")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = orders.select(
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running"))
    return (cum.groupBy("o_custkey")
               .agg(F.max("running").alias("final_total"),
                    F.count(F.lit(1)).alias("n_orders")))


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection (operators/temporal.py
    rolling_zscore): each event's value against the mean/std of its
    user's previous 20 events, windowed moments kept as EXACT BIGINT
    sums (milli-quantized values) so z itself — one sqrt + one division
    on integer inputs — is bit-identical cross-engine and the DISCRETE
    cut |z| >= 2.5 is engine-stable.  One shuffle on user_id, O(window)
    state per key."""
    ev = _events(spark, sf_dir)
    from frames_map_reduce_spark.operators.temporal import rolling_zscore
    scored = rolling_zscore(ev, "value", "ts", ["user_id"], "event_id",
                            window=20, min_periods=8)
    return (scored.filter(F.abs("z") >= 2.5)
                  .select("user_id", "event_id",
                          F.round("value", 2).alias("value"),
                          "n_window", F.round("z", 6).alias("z")))


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov next-event transition matrix over per-user event streams
    — the user-journey analytics primitive next to funnel/retention:
    lead() per user (ts, event_id order) pairs each event with its
    successor; pair counts and the conditional P(next | current) as ONE
    correctly-rounded division of exact integer counts (6dp) — the same
    single-float-op discipline as the drift monitors.  One window
    shuffle on user_id + two aggregations; the matrix is
    |event_type|² rows at most, broadcast-class."""
    from pyspark.sql import Window as _W

    ev = _events(spark, sf_dir)
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select("event_type",
                       F.lead("event_type").over(w).alias("next_type"))
               .filter(F.col("next_type").isNotNull()))
    counts = (pairs.groupBy("event_type", "next_type")
                   .agg(F.count(F.lit(1)).alias("n")))
    tot = counts.groupBy("event_type").agg(F.sum("n").alias("_t"))
    return (counts.join(tot, "event_type")
                  .select("event_type", "next_type", "n",
                          F.round(F.col("n") / F.col("_t"), 6).alias("p")))


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (skew.salted_aggregate): each hot
    key is split into 16 salted sub-keys for the heavy first pass, then
    the small partials re-merge.  Sum and mean are staged in integer
    cents (``value`` is cents-exact in the data): a BIGINT sum is the
    same under any partitioning, where a double sum differs from the
    plain group-by's in the last ulp — enough to split ``round(avg, 6)``
    at a 7th-decimal tie (1374.11 / 32 = 42.9409375).  The mean is a
    half-up integer division onto the 6dp grid (the funnel/scd2
    lesson; ``value`` >= 0, so ``div``'s truncation is the half-up
    rule), so the plain aggregate with the same staging is a full value
    oracle."""
    from frames_map_reduce_spark.skew import salted_aggregate
    ev = _events(spark, sf_dir).withColumn(
        "_cents", F.round(F.col("value") * 100).cast("bigint"))
    out = salted_aggregate(
        ev, ["event_type"],
        {"n": ("count_star", ""),
         "_sum_cents": ("sum", "_cents"),
         "_n_value": ("count", "_cents"),
         "max_value": ("max", "value")},
        salts=16)
    return out.select(
        "event_type", "n",
        (F.col("_sum_cents") / F.lit(100.0)).alias("sum_value"),
        (F.expr("case when _n_value > 0 then (2 * _sum_cents * 10000"
                " + _n_value) div (2 * _n_value) end") / F.lit(1e6))
        .alias("avg_value"),
        F.round("max_value", 2).alias("max_value"))


#: rsd passed to the HLL++ fold in q_sketch_distinct; the driver-facing
#: accountability column asserts rel_err <= 3 * rsd.
_SKETCH_RSD = 0.02


def _sketch_distinct_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ estimate + exact twin + rel_err, per event_type.  The raw
    estimate is implementation-specific (no SQL oracle possible), so the
    driver-facing q_sketch_distinct projects it down to a deterministic
    tolerance bit; tests pin the raw rel_err here."""
    ev = _events(spark, sf_dir)
    out = map_reduce(
        ev, unpack_no_op(), split_on_keys(["event_type"]),
        fold_and_add_key(
            folds.approx_count_distinct("user_id", "approx_users",
                                        rsd=_SKETCH_RSD)
            & folds.of(F.count_distinct("user_id").cast("bigint"), "exact_users")))
    return out.select(
        "event_type", "approx_users", "exact_users",
        F.round(F.try_divide(F.abs(F.col("approx_users") - F.col("exact_users")),
                             F.col("exact_users")), 6).alias("rel_err"))


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch folds (folds.approx_count_distinct — HyperLogLog++) made
    oracle-checkable: the exact count_distinct twin is hashed by the
    driver, and the sketch's accountability is the deterministic
    `within_tol` bit (rel_err <= 3*rsd), which the DuckDB oracle asserts
    as the constant 1.  If the HLL estimate ever drifts outside its
    guaranteed envelope the driver sees a hash mismatch — same pattern as
    the ANN queries' in-row recall columns.  Raw estimate + rel_err stay
    visible via _sketch_distinct_full (pinned in tests/test_text.py)."""
    full = _sketch_distinct_full(spark, sf_dir)
    return full.select(
        "event_type", "exact_users",
        (F.col("rel_err") <= 3 * _SKETCH_RSD).cast("int").alias("within_tol"))


# ---------------------------------------------------------------------------
# Scale extensions: temporal joins (as-of, range) — operators Spark lacks
# natively, composed from window/equi-join primitives (operators/temporal.py)
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each 'click' event picks up the most recent
    'view' event of the same user (value + age).  One shuffle (the window
    partitionBy user) — no range self-join.  Oracle: DuckDB's native
    ASOF JOIN."""
    from frames_map_reduce_spark.operators.temporal import as_of_join
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("user_id", "ts", "event_id", "value")
    views = ev.filter(F.col("event_type") == "view") \
              .select("user_id", "ts",
                      F.col("value").alias("view_value"))
    out = as_of_join(clicks, views, "ts", ["user_id"], ["view_value"])
    return out.select(
        "event_id", "user_id",
        F.round("value", 2).alias("click_value"),
        F.round("view_value_right", 2).alias("view_value"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_right")))
        .alias("age_us"))


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (direction='forward'): each 'click' picks up
    the NEXT 'view' of the same user (ts >= click, inclusive) — the
    lead-looking twin of q_asof_join, same single-shuffle union-marker
    plan with the scan order reversed.  Oracle: DuckDB ASOF JOIN with
    the <= comparator."""
    from frames_map_reduce_spark.operators.temporal import as_of_join
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("user_id", "ts", "event_id", "value")
    views = ev.filter(F.col("event_type") == "view") \
              .select("user_id", "ts",
                      F.col("value").alias("view_value"))
    out = as_of_join(clicks, views, "ts", ["user_id"], ["view_value"],
                     direction="forward")
    return out.select(
        "event_id", "user_id",
        F.round("value", 2).alias("click_value"),
        F.round("view_value_right", 2).alias("view_value"),
        (F.unix_micros(F.col("ts_right")) - F.unix_micros(F.col("ts")))
        .alias("lead_us"))


def q_asof_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW path of the as-of join (temporal.py time_slice,
    r5 verdict #6): same query as q_asof_join but the window
    re-partitions each user's stream by (user, 1-hour bucket) with a
    skinny per-slice boundary carry, so a hot key parallelizes across
    its time range instead of funneling through one task.  Results are
    identical to the unsliced path by contract wherever the right side
    has unique (by, ts) rows — true of this fixture at every sf (checked
    0.001/0.01/0.1) and fuzz-pinned in test_temporal — so the DuckDB
    ASOF oracle is shared verbatim with q_asof_join."""
    from frames_map_reduce_spark.operators.temporal import as_of_join
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("user_id", "ts", "event_id", "value")
    views = ev.filter(F.col("event_type") == "view") \
              .select("user_id", "ts",
                      F.col("value").alias("view_value"))
    out = as_of_join(clicks, views, "ts", ["user_id"], ["view_value"],
                     time_slice="1 hour")
    return out.select(
        "event_id", "user_id",
        F.round("value", 2).alias("click_value"),
        F.round("view_value_right", 2).alias("view_value"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_right")))
        .alias("age_us"))


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (pandas merge_asof tolerance
    semantics): matches older than 15 minutes are nulled out.  Same
    single-shuffle union-marker plan as q_asof_join; the tolerance is a
    post-window projection, not a second join."""
    from frames_map_reduce_spark.operators.temporal import as_of_join
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("user_id", "ts", "event_id", "value")
    views = ev.filter(F.col("event_type") == "view") \
              .select("user_id", "ts",
                      F.col("value").alias("view_value"))
    out = as_of_join(clicks, views, "ts", ["user_id"], ["view_value"],
                     tolerance="15 minutes")
    return out.select(
        "event_id", "user_id",
        F.round("value", 2).alias("click_value"),
        F.round("view_value_right", 2).alias("view_value"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_right")))
        .alias("age_us"))


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join via time bucketing: every
    'error' event opens a 1-hour window; count the 'click' events falling
    inside each.  Pair generation is a key-EQUALITY join on
    (user_id, bucket) — no theta-join.  Oracle: plain BETWEEN join."""
    from frames_map_reduce_spark.operators.temporal import range_join
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("user_id", "ts",
                       F.col("event_id").alias("click_id"))
    errors = ev.filter(F.col("event_type") == "error") \
               .select("user_id",
                       F.col("event_id").alias("error_id"),
                       F.col("ts").alias("t0"),
                       (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("t1"))
    pairs = range_join(clicks, errors, "ts", "t0", "t1",
                       by_cols=["user_id"], bucket="30 minutes")
    return (pairs.groupBy("error_id")
                 .agg(F.count(F.lit(1)).alias("n_clicks"),
                      F.min("click_id").alias("first_click_id")))


# ---------------------------------------------------------------------------
# Scale extensions: multimodal columns (binary payloads + typed metadata)
# ---------------------------------------------------------------------------

MEDIA_PARQUET = "/root/repo/tests/fixtures/media.parquet"


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal metadata extraction (operators/multimodal.py
    extract_media_meta): mime sniff + PNG/JPEG/GIF dimensions + WAV
    duration parsed from payload HEADERS inside an Arrow-batched
    mapInPandas — O(header) per row regardless of payload size, bytes
    never on the driver.  Oracle compares against ground-truth columns
    written by the fixture generator from the PRE-ENCODE source arrays,
    so value parity proves the byte-level parsing.  Reference parity:
    media-as-opaque-blob columns (SURVEY extension surface)."""
    from frames_map_reduce_spark.operators.multimodal import extract_media_meta
    media = spark.read.parquet(MEDIA_PARQUET)
    meta = extract_media_meta(media, "doc_id", "payload")
    return (meta.select(
                F.col("media_meta.mime").alias("mime"),
                F.col("media_meta.width").alias("width"),
                F.col("media_meta.height").alias("height"),
                F.col("media_meta.duration_ms").alias("duration_ms"),
                F.col("media_meta.n_bytes").alias("n_bytes"))
            .groupBy("mime")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_bytes").alias("total_bytes"),
                 F.max("width").alias("max_width"),
                 F.max("height").alias("max_height"),
                 F.max("duration_ms").alias("max_duration_ms")))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel/sample decode for every format in the fixture: PNG
    through the pure-Python zlib codec (png_decode → 4×4 mean-pooled
    luminance), baseline JPEG through the pure-numpy Huffman + DC-only
    decoder (jpeg_dc_luma → 8×-downsampled luma map), GIF through the
    LZW first-frame decoder (gif_features), WAV through np.frombuffer
    PCM16 → band RMS.  Per-doc feature mean must round-match the float64
    ground truth computed from the source arrays before encoding — an
    encode→decode→featurize roundtrip proof (for JPEG, against the
    quantization formula; PNG/GIF are lossless so truth is exact)."""
    from frames_map_reduce_spark.operators.multimodal import (
        decode_image_features, extract_audio_features)
    media = spark.read.parquet(MEDIA_PARQUET).filter(F.col("feat_check"))
    img = media.filter(
        F.col("true_mime").isin("image/png", "image/jpeg", "image/gif"))
    wav = media.filter(F.col("true_mime") == "audio/wav")
    feats = decode_image_features(img, "doc_id", "payload").unionByName(
        extract_audio_features(wav, "doc_id", "payload"))
    mean_expr = F.expr(
        "aggregate(feature, 0D, (acc, x) -> acc + CAST(x AS DOUBLE))"
        " / size(feature)")
    return feats.select("doc_id", F.round(mean_expr, 4).alias("feat_mean"))


IMAGE_DEDUP_PARQUET = "/root/repo/tests/fixtures/image_dedup.parquet"


def bench_image_near_dup_scaled(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Bench-only scale point for the perceptual near-dup path (the
    oracled registry row runs on the fixed 27-image fixture; this one
    scales with the corpus): one deterministic 24×24 grayscale PNG per
    documents row, generated INSIDE an Arrow mapInPandas stage (seeded
    by doc_id — no driver-side bytes, linear, replica-stable at sf1.0),
    with every doc_id ≡ 1 (mod 50) a one-pooling-cell perturbation of
    its predecessor (~2% planted near-dups), then the full
    sign → banded-pair path and a 1-row pair census."""
    from frames_map_reduce_spark.operators.multimodal import (
        image_near_dup_pairs)
    ids = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from frames_map_reduce_spark.functions.media import png_encode

        def img_for(seed: int) -> "np.ndarray":
            rng = np.random.default_rng(seed % (2**63))
            return rng.integers(0, 256, size=(24, 24), dtype=np.uint8)

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 50 == 1:
                    base = img_for(did - 1).astype(np.int64)
                    base[0:3, 0:3] += 40  # pooling cell (0,0) of the 8-grid
                    img = np.clip(base, 0, 255).astype(np.uint8)
                else:
                    img = img_for(did)
                payloads.append(png_encode(img[:, :, None]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    imgs = ids.mapInPandas(gen, "doc_id long, payload binary")
    pairs = image_near_dup_pairs(imgs, "doc_id", "payload")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("hamming_dist") == 0, 1).otherwise(0))
         .cast("bigint").alias("n_exact"))


def _scaled_png_gen(batches):
    """Deterministic 24×24 grayscale PNG per doc_id (the
    bench_image_near_dup_scaled corpus, factored for reuse): every
    doc_id ≡ 1 (mod 50) is a one-pooling-cell perturbation of its
    predecessor (~2% planted near-dups)."""
    import numpy as np
    import pandas as pd

    from frames_map_reduce_spark.functions.media import png_encode

    def img_for(seed: int):
        rng = np.random.default_rng(seed % (2 ** 63))
        return rng.integers(0, 256, size=(24, 24), dtype=np.uint8)

    for pdf in batches:
        payloads = []
        for did in pdf["doc_id"]:
            did = int(did)
            if did % 50 == 1:
                base = img_for(did - 1).astype(np.int64)
                base[0:3, 0:3] += 40
                img = np.clip(base, 0, 255).astype(np.uint8)
            else:
                img = img_for(did)
            payloads.append(png_encode(img[:, :, None]))
        yield pd.DataFrame({"doc_id": pdf["doc_id"],
                            "payload": payloads})


def bench_media_firewall_scaled(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Corpus-scaled bench point for the MEDIA contamination firewall
    (the oracled registry row runs on the fixed 44-item fixtures; this
    one scales with the corpus): the staged generated-PNG corpus's
    doc_id % 10 == 0 slice plays the eval suite
    (build_media_contamination_index — one decode pass + bucketed
    write), the other 90% the incoming training batch (probe — decode
    + broadcast banded join + Hamming verify).  Every planted near-dup
    copy (doc_id ≡ 1 mod 50) has its base (≡ 0 mod 50 ⊂ mod 10) in
    the eval slice, so ~2% of incoming flags by construction.  1-row
    census: probed count, contaminated count, Hamming-0 count."""
    from frames_map_reduce_spark.operators import multimodal as MM
    imgs = _staged_media(spark, sf_dir, "img", _scaled_png_gen)
    MM.build_media_contamination_index(
        imgs.filter(F.col("doc_id") % 10 == 0), "media_cont_scaled",
        "doc_id", "payload")
    inc = imgs.filter(F.col("doc_id") % 10 != 0)
    hits = MM.probe_media_contamination_index(
        spark, "media_cont_scaled", inc, "doc_id", "payload")
    n_inc = inc.count()
    return hits.agg(
        F.lit(n_inc).cast("bigint").alias("n_probed"),
        F.count(F.lit(1)).cast("bigint").alias("n_contaminated"),
        F.sum(F.when(F.col("best_hamming") == 0, 1).otherwise(0))
         .cast("bigint").alias("n_exact"))


def _staged_media(spark: SparkSession, sf_dir: str, kind: str,
                  gen) -> DataFrame:
    """Stage a deterministic generated (doc_id, payload) corpus under a
    content-stable /tmp path, once per (sf, kind): the scaled
    multimodal bench rows measure DECODE → SIGN → PAIR (the operator),
    not the synthetic codec-ENCODE that builds the fixture — video's
    pure-Python JPEG encoder costs more than the whole pairing path and
    would swamp the measurement.  Generation still runs distributed
    (mapInPandas → parquet write) on the first rep; later reps read."""
    import os
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/fmr_scaled_{kind}_{tag}_v2"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # repartition BEFORE the Arrow stage: documents.parquet is a
        # single file, and inheriting its one partition serializes both
        # the generation and every downstream decode on one core (the
        # unsliced video row measured 84 s at sf0.1 for exactly this
        # reason — 150k Huffman decodes on one worker)
        ids = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .select("doc_id").repartition(64)
        ids.mapInPandas(gen, "doc_id long, payload binary") \
           .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def bench_audio_near_dup_scaled(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Bench-only scale point for perceptual AUDIO near-dup (the
    oracled registry row runs on the fixed cross-codec fixture; this
    one scales with the corpus): one deterministic 4096-sample PCM16
    WAV per documents row, generated INSIDE an Arrow mapInPandas stage
    (random piecewise amplitude envelope seeded by doc_id — the energy
    fingerprint measures the envelope, so distinct tracks hash
    ~independently), with every doc_id ≡ 1 (mod 50) the G.711 μ-law
    RE-ENCODE of its predecessor's track (~2% planted cross-codec
    dups), then the shared sign → banded-pair path + a 1-row census.
    Payloads are staged once per sf (_staged_media) so the timed path
    is decode → sign → pair, not the synthetic encode."""
    from frames_map_reduce_spark.operators.multimodal import (
        ahash_near_dup_pairs, audio_ahash)

    def gen(batches):
        import io
        import wave

        import numpy as np
        import pandas as pd

        from frames_map_reduce_spark.functions.media import (
            WAV_FMT_ULAW, wav_encode_g711)

        n, rate = 4096, 8000

        def pcm_for(seed: int) -> "np.ndarray":
            rng = np.random.default_rng(seed % (2**63))
            ctrl = rng.uniform(0.05, 1.0, 32)
            env = np.interp(np.arange(n), np.linspace(0, n - 1, 32), ctrl)
            sig = env * rng.normal(0, 8000.0, n)
            return np.clip(sig, -32768, 32767).astype(np.int16)

        def pcm16_wav(pcm: "np.ndarray") -> bytes:
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(pcm.astype("<i2").tobytes())
            return buf.getvalue()

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 50 == 1:
                    payloads.append(wav_encode_g711(
                        pcm_for(did - 1), rate, WAV_FMT_ULAW))
                else:
                    payloads.append(pcm16_wav(pcm_for(did)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    wavs = _staged_media(spark, sf_dir, "wav", gen)
    sigs = audio_ahash(wavs, "doc_id", "payload")
    pairs = ahash_near_dup_pairs(sigs, n_bands=4, max_hamming=3)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("hamming_dist") == 0, 1).otherwise(0))
         .cast("bigint").alias("n_exact"))


def bench_video_near_dup_scaled(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Bench-only scale point for perceptual VIDEO near-dup: one
    deterministic 3-frame 64×64 MJPEG-AVI per documents row, generated
    (64×64 so the per-frame DC plane is a full 8×8 grid — a smaller
    frame's 3×3 DC plane makes the 64 threshold bits heavily
    structured and random frames collide at Hamming ≤ 3)
    INSIDE an Arrow mapInPandas stage (frames seeded by doc_id), with
    every doc_id ≡ 1 (mod 50) sharing its predecessor's first two
    frames and swapping the third (~2% planted near-dups that must
    match on the 2-frame census), then per-frame sign → banded pairing
    with min_match_frames=2 + a 1-row census.  Payloads are staged once
    per sf (_staged_media): the pure-Python JPEG encode that builds the
    fixture costs more than the whole pairing path and belongs outside
    the timed decode → sign → census work.

    EXPLICIT COVERAGE CAP (no silent caps): the row runs over the
    ``doc_id % 8 < 2`` QUARTER of documents — still corpus-
    proportional at every sf, and the slice keeps each planted
    (base, copy) = (did−1, did) ADJACENT pair intact whenever
    did ≡ 1 (mod 8) (≈¼ of the planted dups, since 50-spaced dup ids
    cycle through the odd residues mod 8).  Cap rationale: 3 pure-numpy
    Huffman frame-decodes per doc put the full corpus at ~85 s of
    honest decode throughput at sf0.1 (measured) — the quarter keeps
    the same per-doc cost and scale curve at ~¼ the suite wall."""
    from frames_map_reduce_spark.operators.multimodal import (
        video_ahash_frames, video_near_dup_pairs_from_sigs)

    def gen(batches):
        import numpy as np
        import pandas as pd

        from frames_map_reduce_spark.functions.media import avi_encode_mjpeg

        def frames_for(seed: int) -> list:
            rng = np.random.default_rng(seed % (2**63))
            return [rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
                    for _ in range(3)]

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                fr = frames_for(did - 1 if did % 50 == 1 else did)
                if did % 50 == 1:
                    fr = fr[:2] + frames_for(did)[2:]
                payloads.append(avi_encode_mjpeg(fr, fps=10))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    vids = _staged_media(spark, sf_dir, "avi", gen) \
        .filter(F.col("doc_id") % 8 < 2)
    sigs = video_ahash_frames(vids, "doc_id", "payload")
    pairs = video_near_dup_pairs_from_sigs(sigs, n_bands=4, max_hamming=3,
                                           min_match_frames=2)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("n_matched_frames")).cast("bigint")
         .alias("total_matched_frames"))


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup (r11 verdict #4: dedup × multimodal) —
    REAL pixel decode (PNG/JPEG-DC/GIF, functions/media.py
    image_luma1000) → exact-integer aHash bits (media.ahash_bands:
    division-free threshold compare, engine-identical) → SimHash's
    banded-Hamming equi-join pairing (multimodal.ahash_near_dup_pairs,
    never all-pairs).  One row per image: its four 16-bit hash bands
    (proving the byte-level decode for EVERY row, paired or not) plus
    near-dup accounting (partner count, best Hamming; -1 when alone).

    Oracle: the fixture (tests/fixtures/gen_image_dedup.py) carries
    ground-truth bands computed from the SOURCE arrays pre-encode —
    PNG/GIF are lossless, JPEG's truth replays the DC quantization
    formula — and the twin recomputes the pairing all-pairs in SQL;
    banding is recall-exact for hamming < n_bands (pigeonhole) and
    precision-exact (pairs verified by full Hamming), and no fixture
    bucket nears the 2000 cap, so the two shapes agree value-for-value.
    """
    from frames_map_reduce_spark.operators.multimodal import (
        ahash_near_dup_pairs, image_ahash)
    imgs = spark.read.parquet(IMAGE_DEDUP_PARQUET).select(
        "doc_id", "payload")
    sigs = image_ahash(imgs, "doc_id", "payload")
    # ahash_near_dup_pairs persists `sigs`, so the decode stage runs
    # once for both the pairing and the band projection below
    pairs = ahash_near_dup_pairs(sigs, n_bands=4, max_hamming=3)
    partners = pairs.select(F.col("id_a").alias("doc_id"),
                            "hamming_dist") \
        .unionByName(pairs.select(F.col("id_b").alias("doc_id"),
                                  "hamming_dist"))
    agg = partners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_near"),
        F.min("hamming_dist").alias("_best"))
    return (sigs.join(agg, "doc_id", "left")
            .select("doc_id",
                    F.element_at("bands", 1).cast("int").alias("b0"),
                    F.element_at("bands", 2).cast("int").alias("b1"),
                    F.element_at("bands", 3).cast("int").alias("b2"),
                    F.element_at("bands", 4).cast("int").alias("b3"),
                    F.coalesce("n_near", F.lit(0)).cast("bigint")
                     .alias("n_near"),
                    F.coalesce("_best", F.lit(-1)).cast("int")
                     .alias("best_hamming")))


def q_image_near_dup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup under the fixed-point-DCT pHash
    (r12 verdict #5 — media.phash_bands via
    multimodal.image_ahash(method="phash")): uniform-border trim
    (letterbox removal) → floor-division mean-pool to 32×32 → two
    int64 DCT matmuls → median-threshold bits over the low-frequency
    8×8 block — same banding/pairing machinery as q_image_near_dup,
    different sensitivity profile: the fixture's letterboxed and
    pillarboxed re-encodes (docs 27/28) pair with their sources at
    Hamming 0 here while flipping ~19/64 aHash bits (no aHash pair),
    and conversely aHash's single-cell perturbation pairs sit past
    pHash's ≤3 cut.  One census row per image: the four pHash bands
    (byte-level decode proof for EVERY row) + the near-dup census.

    Oracle: the fixture's PRE-ENCODE pHash truth bands (true_p0..3,
    gen_image_dedup.py — the same integer pipeline over the source
    luma planes) + the all-pairs SQL census; banding recall-exact by
    pigeonhole, precision-exact by full-Hamming verify."""
    from frames_map_reduce_spark.operators.multimodal import (
        ahash_near_dup_pairs, image_ahash)
    imgs = spark.read.parquet(IMAGE_DEDUP_PARQUET).select(
        "doc_id", "payload")
    sigs = image_ahash(imgs, "doc_id", "payload", method="phash")
    pairs = ahash_near_dup_pairs(sigs, n_bands=4, max_hamming=3)
    partners = pairs.select(F.col("id_a").alias("doc_id"),
                            "hamming_dist") \
        .unionByName(pairs.select(F.col("id_b").alias("doc_id"),
                                  "hamming_dist"))
    agg = partners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_near"),
        F.min("hamming_dist").alias("_best"))
    return (sigs.join(agg, "doc_id", "left")
            .select("doc_id",
                    F.element_at("bands", 1).cast("int").alias("b0"),
                    F.element_at("bands", 2).cast("int").alias("b1"),
                    F.element_at("bands", 3).cast("int").alias("b2"),
                    F.element_at("bands", 4).cast("int").alias("b3"),
                    F.coalesce("n_near", F.lit(0)).cast("bigint")
                     .alias("n_near"),
                    F.coalesce("_best", F.lit(-1)).cast("int")
                     .alias("best_hamming")))


AUDIO_DEDUP_PARQUET = "/root/repo/tests/fixtures/audio_dedup.parquet"


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-dup — the aHash family over WAV payloads
    (multimodal.audio_ahash: real PCM16/G.711 decode → exact-integer
    energy plane → the shared threshold-bit hash → the shared banded
    pairing).  The fixture's clusters are CROSS-CODEC: the same track
    as PCM16, mu-law, A-law, half-gain, and noised copies all match at
    Hamming 0 (loudness/companding invariance by construction) plus a
    window-boosted edit at Hamming 3; distinct tracks match nothing.
    One row per track: its four hash bands (proving the byte-level
    sample decode for EVERY row) + the near-dup census.

    Oracle: pre-encode ground-truth bands (gen_audio_dedup.py — PCM16
    truth is the written samples, G.711 truth replays
    decode(encode(samples))) + the all-pairs SQL census (the
    image_near_dup oracle shape)."""
    from frames_map_reduce_spark.operators.multimodal import (
        ahash_near_dup_pairs, audio_ahash)
    wavs = spark.read.parquet(AUDIO_DEDUP_PARQUET).select(
        "doc_id", "payload")
    sigs = audio_ahash(wavs, "doc_id", "payload")
    pairs = ahash_near_dup_pairs(sigs, n_bands=4, max_hamming=3)
    partners = pairs.select(F.col("id_a").alias("doc_id"),
                            "hamming_dist") \
        .unionByName(pairs.select(F.col("id_b").alias("doc_id"),
                                  "hamming_dist"))
    agg = partners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_near"),
        F.min("hamming_dist").alias("_best"))
    return (sigs.join(agg, "doc_id", "left")
            .select("doc_id",
                    F.element_at("bands", 1).cast("int").alias("b0"),
                    F.element_at("bands", 2).cast("int").alias("b1"),
                    F.element_at("bands", 3).cast("int").alias("b2"),
                    F.element_at("bands", 4).cast("int").alias("b3"),
                    F.coalesce("n_near", F.lit(0)).cast("bigint")
                     .alias("n_near"),
                    F.coalesce("_best", F.lit(-1)).cast("int")
                     .alias("best_hamming")))


VIDEO_DEDUP_PARQUET = "/root/repo/tests/fixtures/video_dedup.parquet"
VIDEO_DEDUP_TRUTH = "/root/repo/tests/fixtures/video_dedup_truth.parquet"


def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO near-dup — the image aHash family lifted to
    frame granularity (multimodal.video_ahash_frames +
    video_near_dup_pairs_from_sigs): every MJPEG-AVI frame is decoded
    (DC luma) and hashed with the exact-integer aHash; two videos are
    near-dups when ≥2 distinct frame pairs match within Hamming 3
    (banded frame-bucket equi-join — never all-pairs at either
    granularity).  One row per video: frame count, an md5 digest of the
    frame-ordered band strings (proving EVERY frame's byte-level decode
    — the md5(to_json) registry scalar convention), and the near-dup
    census (partner count, best matched-frame count).

    Oracle: the fixture truth table (gen_video_dedup.py) carries
    per-frame bands computed from the SOURCE arrays pre-encode via the
    DC quantization formula; the twin recomputes digest + all-pairs
    frame matching + census in SQL (pigeonhole recall-exactness per
    frame pair, no bucket near the cap at fixture scale)."""
    from frames_map_reduce_spark.operators.multimodal import (
        video_ahash_frames, video_near_dup_pairs_from_sigs)
    vids = spark.read.parquet(VIDEO_DEDUP_PARQUET).select(
        "doc_id", "payload")
    sigs = video_ahash_frames(vids, "doc_id", "payload")
    # pairing persists `sigs`, so the frame-decode pass runs once for
    # both the census and the digest below
    pairs = video_near_dup_pairs_from_sigs(sigs, min_match_frames=2)
    digest = (
        sigs.select(
            "doc_id", "frame_idx",
            F.concat_ws(":", F.element_at("bands", 1),
                        F.element_at("bands", 2),
                        F.element_at("bands", 3),
                        F.element_at("bands", 4)).alias("_fs"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_frames"),
             F.md5(F.concat_ws(",", F.transform(
                 F.array_sort(F.collect_list(
                     F.struct(F.col("frame_idx").alias("i"),
                              F.col("_fs").alias("s")))),
                 lambda s: s["s"]))).alias("frames_md5")))
    partners = pairs.select(F.col("id_a").alias("doc_id"),
                            "n_matched_frames") \
        .unionByName(pairs.select(F.col("id_b").alias("doc_id"),
                                  "n_matched_frames"))
    agg = partners.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_near"),
        F.max("n_matched_frames").cast("bigint").alias("_best"))
    # agg is the near-dup census (one row per video WITH a partner —
    # output-sized, the decontaminate join-back convention): broadcast
    # it instead of sorting/shuffling both sides onto doc_id
    return (digest.join(F.broadcast(agg), "doc_id", "left")
            .select("doc_id", "n_frames", "frames_md5",
                    F.coalesce("n_near", F.lit(0)).cast("bigint")
                     .alias("n_near"),
                    F.coalesce("_best", F.lit(0)).cast("bigint")
                     .alias("best_matched")))


# ---------------------------------------------------------------------------
# Retrieval / corpus indexing (operators/retrieval.py)
# ---------------------------------------------------------------------------

def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunking for context-window packing / RAG
    (operators/retrieval.py chunk_by_tokens): 64-token windows advancing
    by 48 — a pure narrow flatMap (sequence → explode → slice), no
    shuffle, chunk text returned as md5 so output stays narrow at
    corpus scale."""
    docs = _docs(spark, sf_dir)
    return RET.chunk_by_tokens(docs, "text", "doc_id", size=64, stride=48)


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup stats — the boilerplate-detection shape of a
    real pretraining pipeline, composed from existing operators:
    non-overlapping 32-token chunks (chunk_by_tokens with stride=size),
    chunk identity by md5, per-source duplication accounting.  A high
    dup_frac for a source flags template/boilerplate content that
    document-level dedup can't see.  All-JVM: explode → join → two
    aggregations."""
    docs = _docs(spark, sf_dir)
    chunks = RET.chunk_by_tokens(docs, "text", "doc_id", size=32, stride=32)
    j = chunks.join(docs.select("doc_id", "source"), "doc_id")
    per_chunk = j.groupBy("source", "chunk_md5") \
                 .agg(F.count(F.lit(1)).alias("_n"))
    return per_chunk.groupBy("source").agg(
        F.sum("_n").alias("total_chunks"),
        F.count(F.lit(1)).alias("distinct_chunks"),
        (F.sum("_n") - F.count(F.lit(1))).alias("dup_chunks"),
        F.round(F.try_divide(F.sum("_n") - F.count(F.lit(1)),
                             F.sum("_n")), 6).alias("dup_frac"))


BM25_TERMS = ("spark", "hash", "vector", "customer")


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-15 over documents for a fixed term bag: term
    filter BEFORE the tf shuffle, df/corpus stats broadcast, rounded
    score + id tiebreak ranking via TakeOrderedAndProject."""
    docs = _docs(spark, sf_dir)
    return RET.bm25_scores(docs, "text", "doc_id", BM25_TERMS, k=15)


_CONT_WEIGHTS = {"train": 0.8, "eval": 0.2}
_CONT_SALT = "cont-v1"


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: deterministic hash split of the
    corpus into train/eval, then per-train-doc distinct word-5-gram
    overlap against the broadcast eval n-gram set.  Near-dup documents
    crossing the split boundary surface with high hit_frac — the
    train-on-test leak a 100 TB pipeline must detect before training."""
    docs = _docs(spark, sf_dir)
    split = SMP.hash_split(docs, "doc_id", _CONT_WEIGHTS, salt=_CONT_SALT)
    train = split.filter(F.col("split") == "train")
    eval_df = split.filter(F.col("split") == "eval")
    return RET.ngram_contamination(train, eval_df, "text", "doc_id", n=5)


def q_contamination_firewall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted benchmark-decontamination firewall
    (retrieval.build/extend/probe_contamination_index) — the
    train-once/query-many deployment shape of q_contamination: the eval
    suite's distinct word-5-grams are persisted ONCE as a bucketed
    table, a second benchmark is EXTEND-appended (delta-only distinct;
    never reads the index), and the incoming training batch is screened
    at probe-only cost — one scan + one broadcast left_semi join + the
    per-doc reduce.  The semi join is multiplicity-blind, so the
    extend's duplicate grams cannot double-count and
    ``build(A); extend(B)`` probes bit-identically to ``build(A ∪ B)``
    — which is exactly what the oracle computes: the SAME
    ngram_contamination_sql twin over the union eval side, with a %4/%8
    deterministic split (eval = %4==0, split %8 into build/extend
    generations; incoming = %4!=0)."""
    docs = _docs(spark, sf_dir)
    bench_a = docs.filter(F.col("doc_id") % 8 == 0)
    bench_b = docs.filter((F.col("doc_id") % 4 == 0)
                          & (F.col("doc_id") % 8 != 0))
    incoming = docs.filter(F.col("doc_id") % 4 != 0)
    RET.build_contamination_index(bench_a, "cont_index_driver", "text", n=5)
    RET.extend_contamination_index(bench_b, "cont_index_driver", "text", n=5)
    return RET.probe_contamination_index(
        spark, "cont_index_driver", incoming, "text", "doc_id", n=5)


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted source mixing (sampling.token_budget_sample) —
    the data-mixing cut sized in TOKENS, not rows: each source keeps
    the deterministic-shuffle-order prefix whose cumulative whitespace
    token mass fits a 600-token budget.  Distributed via the
    contiguous-hash-bucket decomposition (never a window over a
    source's full stream — parallelism sources × 256 at any corpus
    size); FULL oracle: the serial window twin over the same generated
    md5 hash order (exact integer sums re-associate across buckets)."""
    docs = _docs(spark, sf_dir)
    d = docs.select("doc_id", "source",
                    TX.token_count(F.col("text")).cast("bigint")
                      .alias("n_tokens"))
    out = SMP.token_budget_sample(d, "n_tokens", "doc_id", budget=600,
                                  by="source", salt="mix0")
    return out.select("doc_id", "source", "n_tokens", "tokens_through")


def q_decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of the decontamination arc (the firewall row
    audits; this row acts): probe the persisted contamination index,
    anti-join every document with ≥1 eval n-gram collision out of the
    incoming batch, and report per-source yield — n_in / n_dropped /
    n_kept plus the kept token mass (what actually reaches training).
    Plan: the probe's broadcast semi-join + per-doc reduce, then ONE
    broadcast left join of the (output-sized) contaminated-id set back
    onto the incoming scan and one per-source aggregation — dropped and
    kept are counted in the SAME pass, so a source whose every doc is
    contaminated still reports (n_kept=0) instead of vanishing.  FULL
    oracle: the recompute-from-scratch contamination CTE left-joined in
    SQL with the same conditional sums."""
    docs = _docs(spark, sf_dir)
    incoming = docs.filter(F.col("doc_id") % 4 != 0)
    RET.build_contamination_index(
        docs.filter(F.col("doc_id") % 4 == 0), "cont_index_decon",
        "text", n=5)
    hits = RET.probe_contamination_index(
        spark, "cont_index_decon", incoming, "text", "doc_id", n=5)
    marked = incoming.join(
        F.broadcast(hits.select("doc_id", F.lit(1).alias("_dropped"))),
        "doc_id", "left")
    return (marked.groupBy("source")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_in"),
                       F.count("_dropped").cast("long").alias("n_dropped"),
                       F.sum(F.when(F.col("_dropped").isNull(), 1)
                              .otherwise(0)).cast("long").alias("n_kept"),
                       F.sum(F.when(F.col("_dropped").isNull(),
                                    TX.token_count(F.col("text"))))
                        .cast("long").alias("tokens_kept")))


def q_media_contamination_firewall(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """MEDIA decontamination firewall (r12 verdict #1 — the composition
    of the persisted-firewall lifecycle with the perceptual-hash
    family): eval-suite IMAGES and AUDIO are aHash-signed (real
    pixel/sample decode) and persisted banded
    (multimodal.build_media_contamination_index), a second benchmark
    generation is EXTEND-appended (delta decode only), and the incoming
    training media batch is screened at probe cost — one Arrow decode
    pass + a broadcast banded equi-join + the codegen Hamming verify +
    one per-item reduce.  Catches recompressed/companded/edited copies
    of eval media that byte-level decontamination cannot see.  One
    census row per incoming item and kind: eval-hit count, closest
    Hamming (-1 when clean), and the verdict flag.

    The probe's reduce is multiplicity-blind (countDistinct/min), so
    build(A); extend(B) ≡ build(A ∪ B) — which is what the oracle
    replays: all-pairs Hamming from the fixtures' PRE-ENCODE truth
    bands (gen_image_dedup/gen_audio_dedup ground truth) over the same
    even/odd split; banding is recall-exact for hamming < n_bands
    (pigeonhole) and precision-exact (full-signature verify)."""
    from frames_map_reduce_spark.operators import multimodal as MM

    def arc(kind: str, path: str) -> DataFrame:
        media = spark.read.parquet(path).select("doc_id", "payload")
        tbl = f"media_cont_{kind}"
        MM.build_media_contamination_index(
            media.filter(F.col("doc_id") % 4 == 0), tbl, "doc_id",
            "payload", kind=kind)
        MM.extend_media_contamination_index(
            media.filter(F.col("doc_id") % 4 == 2), tbl, "doc_id",
            "payload", kind=kind)
        inc = media.filter(F.col("doc_id") % 2 == 1)
        hits = MM.probe_media_contamination_index(
            spark, tbl, inc, "doc_id", "payload", kind=kind)
        # hits is the probe's census of contaminated candidates — the
        # same output-sized id set q_decontaminate_corpus broadcasts for
        # its join-back; without the hint the planner sorts/shuffles
        # both sides (2 SortMergeJoins per arc) to attach a small frame
        return (
            inc.select("doc_id").join(F.broadcast(hits), "doc_id", "left")
               .select(F.lit(kind).alias("kind"), "doc_id",
                       F.coalesce("n_eval_hits", F.lit(0)).cast("bigint")
                        .alias("n_eval_hits"),
                       F.coalesce("best_hamming", F.lit(-1)).cast("int")
                        .alias("best_hamming"),
                       F.col("n_eval_hits").isNotNull()
                        .alias("contaminated")))

    # the image and audio arcs are fully independent (disjoint tables,
    # no shared caches, lazy probes): run the eager build+extend halves
    # from two driver threads so the Arrow decode passes overlap on the
    # executor pool (guide §2.6) — the returned union is unchanged
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        fi = pool.submit(arc, "image", IMAGE_DEDUP_PARQUET)
        fa = pool.submit(arc, "audio", AUDIO_DEDUP_PARQUET)
        img, aud = fi.result(), fa.result()
    return img.unionByName(aud)


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning — the composed use-case the engine
    exists for: language-ID filter → quality threshold → PII redaction →
    exact dedup of the REDACTED text → per-source yield stats.  Every
    stage is a map-side expression except the dedup (one min_by
    aggregation on the fingerprint — the regex-heavy projection is
    computed exactly once) and the final rollup: 2 shuffles total at
    any corpus size, no Python.

    r13 shape (guide §2.3/§4.4-analogue for JVM expressions): the
    filter used to reference the derived ``lid``/``q`` columns, so
    predicate pushdown re-inlined the expensive lang-ID / quality
    expressions into a second evaluation below the parallelism widen
    (measured: kept→noop 1.57 s vs 0.46 s for the whole projection
    once).  A lazy ``localCheckpoint`` between the projection and the
    filter pins the single evaluation (same barrier the curation rigs
    use; computed inside the timed query).  ``token_count`` moves
    BEFORE the dedup and the dedup's ``keep`` projection drops the
    redacted text from the min_by struct — the sort-aggregated
    exchange ships (id, source, q, tokens) per distinct fingerprint,
    never the document bytes (§8: decide with small rows)."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id", "source",
        TX.lang_id(F.col("text")).alias("lid"),
        F.round(TX.quality_score(F.col("text")), 6).alias("q"),
        TX.redact_pii(F.col("text")).alias("clean_text"))
    scored = scored.withColumn(
        "tc", TX.token_count(F.col("clean_text"))).localCheckpoint(eager=False)
    kept = scored.filter((F.col("lid") == "en") & (F.col("q") >= 0.7))
    deduped = DD.exact_dedup(kept, "clean_text", "doc_id",
                             keep=["doc_id", "source", "q", "tc"])
    return (deduped.groupBy("source")
                   .agg(F.count(F.lit(1)).alias("n_docs"),
                        F.sum("tc").alias("total_tokens"),
                        F.round(F.avg("q"), 6).alias("avg_quality")))


def q_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (operators/cdc.py compact_latest): events as
    a per-user changelog — latest record by (ts, event_id) wins, users
    whose latest record is an 'error' tombstone are dropped.  One
    2-phase max_by aggregation: partial winners map-side, |users| rows
    shuffled (vs the window formulation shuffling every log row)."""
    ev = _events(spark, sf_dir)
    out = CDC.compact_latest(
        ev, keys=["user_id"], version=["ts", "event_id"],
        payload=["event_type", "value", "event_id"],
        tombstone=F.col("event_type") == "error")
    return out.select("user_id", F.col("event_type").alias("last_type"),
                      F.round("value", 6).alias("last_value"),
                      F.col("event_id").alias("last_event_id"))


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build (operators/cdc.py scd2_intervals): each event
    opens a validity interval on its user closed by the next event;
    'error' records close the prior interval but emit none.  Per-user
    rollup keeps the driver output small and hash-stable.

    Mean duration in pure integer arithmetic (r6, like q_funnel —
    half-up integer rounding at microsecond granularity, then one
    exact /1e6): per-row ``Δus/1e6`` doubles averaged in
    engine-specific order flipped the 6dp rounding at sf1.0 (80 cells
    caught by the bench_scale verify gate), and exact 6th-decimal-tie
    means round differently between Spark's shortest-decimal round()
    and DuckDB's exact-binary round()."""
    ev = _events(spark, sf_dir)
    hist = CDC.scd2_intervals(
        ev, keys=["user_id"], ts_col="ts", order=["ts", "event_id"],
        tombstone=F.col("event_type") == "error")
    dur_us = (F.unix_micros(F.col("valid_to"))
              - F.unix_micros(F.col("valid_from")))
    return (hist.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n_versions"),
                     F.sum(F.col("is_current").cast("long"))
                      .alias("n_current"),
                     F.sum(dur_us).alias("_dur_us"),
                     F.count("valid_to").alias("_n_closed"),
                     F.max_by(F.round("value", 6),
                              F.struct("ts", "event_id"))
                      .alias("current_value"))
                .select("user_id", "n_versions", "n_current",
                        (F.when(F.col("_n_closed") > 0, F.expr(
                            "(2 * _dur_us + _n_closed) "
                            "div (2 * _n_closed)"))
                         / 1e6).alias("avg_version_s"),
                        "current_value"))


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO (operators/cdc.py merge_upsert): the first-half
    changelog is compacted into a snapshot, then the second-half
    changelog is MERGEd into it — latest change per user wins, 'error'
    tombstones delete.  The oracle is the FULL-log compaction SQL: the
    incremental path (compact prefix → merge suffix) must equal the
    batch recompute at any cutoff, which is exactly the contract that
    makes daily snapshot maintenance sound at 100 TB (shuffle the delta,
    scan — never shuffle — the big target; AQE broadcasts the delta's
    key set into the left_anti)."""
    ev = _events(spark, sf_dir)
    cutoff = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    tomb = F.col("event_type") == "error"
    snap = CDC.compact_latest(
        ev.filter(F.col("ts") < cutoff), keys=["user_id"],
        version=["ts", "event_id"],
        payload=["event_type", "value", "event_id"], tombstone=tomb)
    merged = CDC.merge_upsert(
        snap, ev.filter(F.col("ts") >= cutoff),
        keys=["user_id"], version=["ts", "event_id"], tombstone=tomb)
    return merged.select(
        "user_id", F.col("event_type").alias("last_type"),
        F.round("value", 6).alias("last_value"),
        F.col("event_id").alias("last_event_id"))


def q_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-sketch accountability (operators/frequency.py — the
    mergeable Misra-Gries heavy hitters), completing the sketch family
    next to sketch_distinct (HLL) and sketch_quantiles (GK): the exact
    top-15 tokens (JVM 2-phase count — itself the oracle twin) joined to
    the sketch's estimates, with the deterministic `within_bounds` bit
    asserting the worst-case Misra-Gries envelope est ≤ true ≤ est +
    pruned-mass.  The driver hashes the exact counts and the bit; a
    sketch drifting outside its theorem fails the hash."""
    docs = _docs(spark, sf_dir)
    toks = (docs.select(F.explode(F.split(F.lower(F.col("text")),
                                          TX.WS)).alias("token"))
                .filter((F.col("token") != "")
                        & (F.length("token") >= 4)))
    exact = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
                 .orderBy(F.col("n").desc(), "token").limit(15))
    sk = FRQ.heavy_hitters_approx(toks, "token", k=200, capacity=1024)
    # LEFT join from the exact side: under real pruning (per-partition
    # distinct tokens > capacity) a true top-15 token can drop below the
    # sketch's rank-200 estimate cutoff — a legal MG outcome, not an
    # envelope violation — so absence defaults to in-bounds and the row
    # count stays a fixed 15 at every scale.  The bit goes 0 (hash
    # mismatch) exactly when a PRESENT estimate breaks the theorem.
    #
    # r5 ADVICE hardening: the coalesce alone would also bless a TOTALLY
    # broken sketch (zero rows returned → 15 all-green rows), so a
    # minimum-overlap floor guards the degenerate mode without touching
    # the hash-stable output: with capacity=1024 ≫ the corpus's heavy
    # mass, MG's theorem guarantees every true top-15 token survives in
    # the sketch's top-200; fewer than 8 present can only mean the
    # sketch (not the data) is broken, and the query fails LOUDLY
    # instead of all-green.  Token presence near the rank-200 cutoff can
    # legally vary with partitioning, so the floor is a half-way bound,
    # not ==15.
    joined = exact.join(sk.select("token", "est", "upper"), "token", "left")
    hits = joined.agg(
        F.sum(F.col("est").isNotNull().cast("int")).alias("_hits"))
    return (joined.crossJoin(F.broadcast(hits))
                  .select("token", "n",
                          F.when(F.col("_hits") < 8, F.raise_error(F.concat(
                              F.lit("heavy-hitters sketch returned only "),
                              F.col("_hits").cast("string"),
                              F.lit(" of the exact top-15 tokens — sketch "
                                    "failure, not an envelope edge"))))
                           .otherwise(
                              F.coalesce((F.col("est") <= F.col("n"))
                                         & (F.col("n") <= F.col("upper")),
                                         F.lit(True)))
                          .cast("int").alias("within_bounds")))


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split (operators/clusters.py
    leakage_safe_split): hash-split on the near-dup CLUSTER id so a
    document and its paraphrase/boilerplate copies always land in the
    same split — the defense against eval contamination that a plain
    per-doc split cannot give.  The oracle replays the whole chain:
    exact-Jaccard transitive closure (recursive CTE, as dedup_clusters)
    → min-id cluster → the shared hash_split CASE on the cluster id."""
    docs = _docs(spark, sf_dir)
    pairs = DD.minhash_near_dup_pairs(
        docs, "text", "doc_id", threshold=0.6, num_perm=128, bands=16,
        shingle_k=5)
    out = CL.leakage_safe_split(
        docs.select("doc_id", "source"), "doc_id", _SPLIT_WEIGHTS,
        pairs=pairs, salt="ls1")
    return out.select("doc_id", "source", "split_key", "split")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/sampling.py
    weighted_sample — Efraimidis–Spirakis): 60 documents drawn with
    inclusion odds ∝ n_chars, deterministic from the salted md5 uniform
    (same hash spec as every sampler here), so re-runs pick the same
    subset and the DuckDB twin replays the identical variate.  The
    global "n smallest priorities" lowers to TakeOrderedAndProject —
    per-partition partial top-n, never a full sort."""
    docs = _docs(spark, sf_dir)
    out = SMP.weighted_sample(docs, 60, "n_chars", "doc_id", salt="r4",
                              priority_col="pri")
    return out.select("doc_id", "source", "n_chars",
                      F.round("pri", 6).alias("priority"))


#: accuracy for the GK quantile sketch in q_sketch_quantiles → rank
#: error eps = 1/accuracy; the accountability bound is p ± 3*eps.
_SKETCH_Q_ACC = 100


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch accountability (folds.approx_quantiles — the GK
    sketch, Spark's percentile_approx): same pattern as
    q_sketch_distinct.  The sketch's guarantee is a RANK error ≤
    eps = 1/accuracy, so the deterministic accountability bit is
    "approx value lies between the EXACT quantiles at p−3eps and
    p+3eps" — both endpoints computed by the exact JVM percentile in
    the same single .agg() pass.  The driver hashes the exact p50/p90
    twins plus the two bits; the DuckDB oracle computes the exact
    quantiles (quantile_cont — interpolation proven identical by
    q_percentile_native) and asserts the bits as constant 1.  A sketch
    estimate drifting outside its guaranteed envelope flips a bit and
    fails the hash.  At 100 TB the sketch is the only viable path:
    bounded memory per group and mergeable partials, vs exact
    percentile's full per-group sort."""
    ev = _events(spark, sf_dir)
    eps = 1.0 / _SKETCH_Q_ACC
    qs = folds.approx_quantiles(
        "value", [0.5, 0.9], "approx_q", accuracy=_SKETCH_Q_ACC)
    lo_hi = F.expr(
        "percentile(value, array({:.6f}D, {:.6f}D, {:.6f}D, {:.6f}D))"
        .format(0.5 - 3 * eps, 0.5 + 3 * eps, 0.9 - 3 * eps, 0.9 + 3 * eps))
    exact = F.expr("percentile(value, array(0.5D, 0.9D))")
    out = map_reduce(
        ev, unpack_no_op(), split_on_keys(["event_type"]),
        fold_and_add_key(
            qs & folds.of(lo_hi, "bounds") & folds.of(exact, "exact")))
    return out.select(
        "event_type",
        F.round(F.element_at("exact", 1), 6).alias("exact_p50"),
        F.round(F.element_at("exact", 2), 6).alias("exact_p90"),
        F.element_at("approx_q", 1).between(
            F.element_at("bounds", 1), F.element_at("bounds", 2))
         .cast("int").alias("within_tol_p50"),
        F.element_at("approx_q", 2).between(
            F.element_at("bounds", 3), F.element_at("bounds", 4))
         .cast("int").alias("within_tol_p90"))


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (customers with no high-value order, per nation):
    left_anti against the filtered fact table — the filter prunes the
    build side BEFORE the anti join shuffle — then broadcast the 25-row
    nation dim onto the per-nation counts."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    big = orders.filter(F.col("o_totalprice") > 300000)
    orderless = cust.join(big, cust.c_custkey == big.o_custkey,
                          "left_anti")
    per_nation = orderless.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_custs"))
    return (per_nation
            .join(F.broadcast(nation),
                  per_nation.c_nationkey == nation.n_nationkey)
            .select("n_name", "n_custs"))


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion funnel via a frame-bounded conditional
    window aggregate: for each click, the next purchase timestamp of the
    same user is ``min(CASE type='purchase' THEN ts END) OVER (ROWS
    CURRENT→UNBOUNDED FOLLOWING)`` — one shuffle on user_id, no
    self-join, no grouped-map.  Total order (ts, event_id) makes the
    ROWS frame engine-deterministic.

    The mean delay is computed ENTIRELY in integer arithmetic (r6):
    the earlier per-row ``Δus/1e6`` doubles averaged in engine-specific
    order flipped the 6dp rounding at sf1.0 (caught by the
    bench_scale.py verify gate), and even an integer-sum/double-divide
    still diverges when the true mean sits exactly on a 6th-decimal
    tie — Spark's round() rounds the SHORTEST decimal representation
    (BigDecimal.valueOf) while DuckDB rounds the exact binary, so a
    …x.xxxxxx5 mean rounds differently BY VALUE, not by luck.  6dp
    seconds is exactly integer microseconds, so the mean is rounded
    half-up as integers — ``(2·Σ + n) div (2·n)`` — and the final /1e6
    is an exact-integer division both engines agree on bit-for-bit."""
    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w)
    clicks = (ev.withColumn("_np", next_purchase)
                .filter(F.col("event_type") == "click"))
    delay_us = F.unix_micros(F.col("_np")) - F.unix_micros(F.col("ts"))
    return (clicks.groupBy("user_id")
                  .agg(F.count(F.lit(1)).alias("n_clicks"),
                       F.count("_np").alias("n_converted"),
                       F.sum(delay_us).alias("_delay_us"))
                  .select("user_id", "n_clicks", "n_converted",
                          (F.when(F.col("n_converted") > 0, F.expr(
                              "(2 * _delay_us + n_converted) "
                              "div (2 * n_converted)"))
                           / 1e6).alias("avg_delay_s")))


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans (operators/dedup.duplicated_spans):
    maximal runs of token 8-grams occurring >= 2 times corpus-wide —
    the span-level dedup that whole-document methods miss (license
    headers, boilerplate chrome).  Posting-list count on the gram hash,
    flagged positions joined back, island merge per doc.  Full oracle:
    the same spec replayed in DuckDB."""
    docs = _docs(spark, sf_dir)
    return DD.duplicated_spans(docs, "text", "doc_id", k=8, min_count=2)


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health report — the observability pass a data pipeline
    runs per ingestion batch, composed from the shared text specs in ONE
    aggregation over one projection: per source, document and token
    volume, mean quality, English fraction numerator, and the exact-dup
    rate via fingerprint cardinality.  All JVM; one shuffle."""
    docs = _docs(spark, sf_dir)
    enriched = docs.select(
        "source",
        TX.token_count(F.col("text")).alias("_tok"),
        TX.quality_score(F.col("text")).alias("_q"),
        TX.lang_id(F.col("text")).alias("_lang"),
        TX.fingerprint(F.col("text")).alias("_fp"))
    n = F.count(F.lit(1))
    nd = F.count_distinct("_fp")
    return (enriched.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("_tok").cast("bigint").alias("total_tokens"),
        F.round(F.avg("_q"), 6).alias("avg_quality"),
        F.sum((F.col("_lang") == "en").cast("int")).cast("bigint").alias("n_en"),
        nd.alias("distinct_docs"),
        F.round(F.lit(1.0) - F.try_divide(nd, n), 6).alias("dup_frac")))


def q_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup firewall (streaming.stream_near_dup): incoming
    documents (doc_id % 4 != 0), arriving through a file stream, are
    checked against the static reference quarter (doc_id % 4 == 0) by
    minhash bucket collision + exact-Jaccard verify — the contamination
    guard at ingestion time.  Stream-static joins only (stateless;
    the one stateful op is the final matched-pair dedup).  Oracle:
    exhaustive cross-corpus Jaccard — exact for the same reason as
    dedup_minhash (corpus pairs sit at J >= 0.93 or < 0.32; 16x8 banding
    misses a J=0.93 pair with p ~ 2e-6)."""
    import shutil as _shutil

    from frames_map_reduce_spark.streaming import (
        stream_near_dup, stream_to_memory)

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    inc = docs.filter(F.col("doc_id") % 4 != 0)
    # deterministic pre-cleaned staging (r9 verdict #7)
    base = "/tmp/fmr_stream_neardup"
    _shutil.rmtree(base, ignore_errors=True)
    inc.write.parquet(f"{base}/in")
    stream = spark.readStream.schema(inc.schema).parquet(f"{base}/in")
    out = stream_near_dup(stream, ref, "text", "doc_id", threshold=0.6)
    # fixed sink name: reps replace the table (see q_stream_bloom)
    name = "stream_neardup_sink"
    q = stream_to_memory(out, name, output_mode="append")
    q.awaitTermination()
    return spark.table(name).select(
        F.col("doc_id").alias("id_in"), "ref_id", "jaccard")


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are assigned to the day of their
    FIRST event (one min-aggregation — no window over the whole log),
    then distinct-user counts per (cohort_day, age_days).  Two shuffles:
    the cohort min groupBy on user_id and the final count_distinct; the
    cohort frame is a skinny (user_id, cohort) join side.  The classic
    activation/retention analysis over the events table."""
    ev = _events(spark, sf_dir)
    first = (ev.groupBy("user_id")
               .agg(F.to_date(F.min("ts")).alias("cohort_day")))
    j = ev.join(first, "user_id").select(
        "user_id", "cohort_day",
        F.datediff(F.to_date(F.col("ts")),
                   F.col("cohort_day")).alias("age_days"))
    return (j.groupBy("cohort_day", "age_days")
             .agg(F.count_distinct("user_id").alias("n_users")))


#: One SQL text, two engines: q_sql_revenue runs this VERBATIM through
#: spark.sql over registered views, and the oracle runs the same string
#: in DuckDB — written in the shared dialect subset, so the proof is
#: that the engine's SQL surface needs no translation layer at all.
#:
#: The revenue sum is computed in integer units (cents × discount
#: basis points): price and discount are cents-exact in the data, so
#: ``round(x*100)`` recovers the integers both engines agree on, the
#: BIGINT sum is associative — bit-identical under ANY partitioning or
#: join order, unlike a double sum whose rounding is order-dependent
#: (this query was the suite's one remaining ulp-level sf1.0 cell) —
#: and the final single division by 10^4 is one correctly-rounded IEEE
#: op in either engine.  Same integer-exactness design as funnel/scd2.
_SQL_REVENUE = """
SELECT n.n_name AS nation,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS DOUBLE) / 10000.0 AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
GROUP BY n.n_name
"""


def q_sql_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface (sources.register_views + spark.sql):
    per-nation revenue over the 4-table star join, written ONCE in the
    shared SQL dialect and executed verbatim by both Spark and the
    DuckDB oracle.  Catalyst plans the view-based SQL exactly like the
    DataFrame combinators — broadcast dims, pushed filter, two-phase
    agg."""
    from frames_map_reduce_spark.sources import register_views
    register_views(spark, sf_dir,
                   ("lineitem", "orders", "customer", "nation"))
    return spark.sql(_SQL_REVENUE)


def q_shuffle_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle
    (sampling.deterministic_shuffle): every document gets its 0-based
    position in a fixed pseudo-random permutation — the scalable
    zipWithIndex (range buckets = top bits of the uniform hash; global
    pos = broadcast bucket offset + within-bucket rank; no single-task
    sort).  Oracle: the plain global row_number twin."""
    docs = _docs(spark, sf_dir)
    out = SMP.deterministic_shuffle(docs, "doc_id", salt="epoch0",
                                    n_buckets=64)
    return out.select("doc_id", "shuffle_pos")


def q_percentile_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles on the JVM path (`percentile` with
    linear interpolation — the scale alternative to the grouped-map
    median in q_group_median; both engines interpolate identically)."""
    ev = _events(spark, sf_dir)
    pct = F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
    return (ev.groupBy("event_type")
              .agg(F.round(F.element_at(pct, 1), 6).alias("p50"),
                   F.round(F.element_at(pct, 2), 6).alias("p90"),
                   F.round(F.element_at(pct, 3), 6).alias("p99")))


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class QuerySpec:
    """One row of ``QUERY_TABLE``.

    ``bench`` says how bench.py times the rig: ``None`` (not timed),
    ``"headline"`` (median of n samples) or ``"once"`` (one-time
    amortized work such as an index build: min(3, n) samples).
    ``registry=False`` marks bench-only rigs: the build/probe halves of a
    composed registry query (the composition stays the oracled row) and
    corpus-scaled twins of fixture-based rows.  They have no oracle and
    are not in ``queries()``."""

    name: str
    rig: Callable[[SparkSession, str], DataFrame | None]
    bench: str | None = None
    registry: bool = True


#: Every query and bench row, in bench order: each build row runs before
#: the probe rows that read its index.  A benched row's comment says what
#: it exercises.  The registry is the ``registry`` view of this table and
#: the bench suite is the ``bench`` view.
QUERY_TABLE = (
    # scan + multi-output fold fusion
    QuerySpec("tpch_q1", q_tpch_q1, "headline"),
    # filter pushdown + groupBy
    QuerySpec("mr_sum_by_flag", q_mr_sum_by_flag, "headline"),
    # derived-value folds
    QuerySpec("weighted_mean", q_weighted_mean, "headline"),
    # wide aggregation
    QuerySpec("fold_all_numeric", q_fold_all_numeric, "headline"),
    # key coarsening
    QuerySpec("aggregate_fold_year", q_aggregate_fold_year, "headline"),
    # grouped-map applyInPandas (Arrow)
    QuerySpec("topk_per_group", q_topk_per_group, "headline"),
    # whole-group reduce
    QuerySpec("group_median", q_group_median, "headline"),
    # explode + re-aggregate
    QuerySpec("flatmap_tokens", q_flatmap_tokens, "headline"),
    # heavy string expressions
    QuerySpec("text_quality", q_text_quality, "headline"),
    # marker-scoring expressions
    QuerySpec("lang_id", q_lang_id, "headline"),
    # fingerprint groupBy
    QuerySpec("dedup_exact", q_dedup_exact, "headline"),
    # minhash signatures + LSH bucket join
    QuerySpec("dedup_minhash", q_dedup_minhash, "headline"),
    # vectorized simhash + capped banded self-join
    QuerySpec("dedup_simhash", q_dedup_simhash, "headline"),
    # batched matmul scoring + two-stage topk
    QuerySpec("ann_bruteforce", q_ann_bruteforce, "headline"),
    # timestamp truncation agg
    QuerySpec("events_hourly", q_events_hourly, "headline"),
    # window functions
    QuerySpec("sessionize", q_sessionize, "headline"),
    # JVM window top-k (the scale path)
    QuerySpec("topk_native", q_topk_native, "headline"),
    # explicit-values conditional-agg pivot
    QuerySpec("pivot", q_pivot, "headline"),
    # star join: 2-shuffle fact join + broadcast dims
    QuerySpec("join_revenue", q_join_revenue, "headline"),
    # cumulative window aggregation
    QuerySpec("running_total", q_running_total, "headline"),
    # composite text-quality expression pipeline
    QuerySpec("quality_score", q_quality_score, "headline"),
    # union-marker windowed as-of join
    QuerySpec("asof_join", q_asof_join, "headline"),
    # bucketized interval-containment join
    QuerySpec("range_join", q_range_join, "headline"),
    # composed cleaning pipeline (2-shuffle end-to-end)
    QuerySpec("clean_corpus", q_clean_corpus, "headline"),
    # changelog compaction via 2-phase max_by
    QuerySpec("cdc_compact", q_cdc_compact, "headline"),
    # conditional frame-bounded window funnel
    QuerySpec("funnel", q_funnel, "headline"),
    # cohort matrix: min-agg + skinny join
    QuerySpec("retention", q_retention, "headline"),
    # SQL surface: verbatim shared-dialect star join
    QuerySpec("sql_revenue", q_sql_revenue, "headline"),
    # chunk-level boilerplate stats (explode + 2 aggs)
    QuerySpec("chunk_dedup", q_chunk_dedup, "headline"),
    # scalable global permutation index
    QuerySpec("shuffle_pos", q_shuffle_pos, "headline"),
    # exact repeated-substring spans (posting lists)
    QuerySpec("dup_spans", q_dup_spans, "headline"),
    # incremental MERGE: delta compaction + anti join
    QuerySpec("merge_upsert", q_merge_upsert, "headline"),
    # classic star join + pushed dates + top-10
    QuerySpec("tpch_q3", q_tpch_q3, "headline"),
    # 6-way star, broadcast dims, AQE supplier
    QuerySpec("tpch_q5", q_tpch_q5, "headline"),
    # HAVING self-agg semi-join pruning
    QuerySpec("tpch_q18", q_tpch_q18, "headline"),
    # unigram LM: explode + vocab join + agg
    QuerySpec("perplexity", q_perplexity, "headline"),
    # conditional LM: transition + context joins
    QuerySpec("bigram_perplexity", q_bigram_perplexity, "headline"),
    # span apply: posting lists + positional cut
    QuerySpec("remove_dup_spans", q_remove_dup_spans, "headline"),
    # C4 line dedup: count + join-back + reassembly
    QuerySpec("remove_dup_lines", q_remove_dup_lines, "headline"),
    # composed: line dedup -> LM gate -> yield
    QuerySpec("curate_corpus", q_curate_corpus, "headline"),
    # train-once: sign corpus, write 2 bucketed tables
    QuerySpec("minhash_firewall_build", bench_minhash_firewall_build, "once",
              registry=False),
    # query-many: pruned bucketed scan + broadcast joins
    QuerySpec("minhash_firewall_probe", bench_minhash_firewall_probe,
              "headline", registry=False),
    # z-value expr + clustered write + footer audit
    QuerySpec("zorder_extents", q_zorder_extents, "headline"),
    # per-language perplexity gate (CCNet-style)
    QuerySpec("curate_corpus_v2", q_curate_corpus_v2, "headline"),
    # skew-sliced as-of join (hot-key parallel path)
    QuerySpec("asof_sliced", q_asof_sliced, "headline"),
    # fixed-point centroid-distance mislabel audit
    QuerySpec("label_outliers", q_label_outliers, "headline"),
    # composed: outliers -> exact 5-NN label vote
    QuerySpec("mislabel_knn", q_mislabel_knn, "headline"),
    # concat-and-chunk training-sequence manifest
    QuerySpec("pack_sequences", q_pack_sequences, "headline"),
    # SemDeDup: cluster + within-cluster drop
    QuerySpec("semantic_dedup", q_semantic_dedup, "headline"),
    # composed: dedup -> LM gate -> packed seqs
    QuerySpec("corpus_to_sequences", q_corpus_to_sequences, "headline"),
    # box-query footer-prune audit over the layout
    QuerySpec("zorder_pruning", q_zorder_pruning, "headline"),
    # greedy subword encode (Arrow mapInPandas)
    QuerySpec("bpe_token_count", q_bpe_token_count, "headline"),
    # packing budgeted in tokenizer tokens
    QuerySpec("pack_bpe_sequences", q_pack_bpe_sequences, "headline"),
    # int8-quantized integer-exact MIPS top-k
    QuerySpec("ann_int8", q_ann_int8, "headline"),
    # hashed log-odds train + broadcast-join score
    QuerySpec("quality_classifier", q_quality_classifier, "headline"),
    # alpha-sampling rebalance, in-plan rates
    QuerySpec("temperature_mixture", q_temperature_mixture, "headline"),
    # classifier train -> score -> top-half cut
    QuerySpec("curate_corpus_v3", q_curate_corpus_v3, "headline"),
    # integer rule verdicts, 1 projection + 1 agg
    QuerySpec("gopher_rules", q_gopher_rules, "headline"),
    # incremental manifest fold-in (no repack)
    QuerySpec("pack_extend", q_pack_extend, "headline"),
    # build+extend+probe Bloom membership lifecycle
    QuerySpec("bloom_firewall", q_bloom_firewall, "headline"),
    # line-level C4 cleaner profile, 1 proj + 1 agg
    QuerySpec("c4_rules", q_c4_rules, "headline"),
    # one-time: Bloom + MinHash index builds
    QuerySpec("gate_build", bench_gate_build, "once", registry=False),
    # recurring: Bloom/MinHash probes + rule screens
    QuerySpec("gate_probe", bench_gate_probe, "headline", registry=False),
    # extend-lifecycle generation monitor (1 agg)
    QuerySpec("bloom_gen_stats", q_bloom_gen_stats, "headline"),
    # composed stateless streaming admission gate
    QuerySpec("stream_ingest_gate", q_stream_ingest_gate, "headline"),
    # BPE vocab induction: distributed dict + merges
    QuerySpec("bpe_train", q_bpe_train, "headline"),
    # recurring: screens + per-batch MinHash probe + parquet sink
    QuerySpec("stream_gate_v2_probe", bench_stream_gate_v2_probe, "headline",
              registry=False),
    # compaction policy + expected_fpr monitor
    QuerySpec("bloom_compact_roundtrip", q_bloom_compact_roundtrip,
              "headline"),
    # train -> learned-inventory encode composition
    QuerySpec("bpe_train_encode", q_bpe_train_encode, "headline"),
    # stream-static broadcast enrichment rollup
    QuerySpec("stream_enrich", q_stream_enrich, "headline"),
    # DSIR importance resampling toward a target
    QuerySpec("dsir_select", q_dsir_select, "headline"),
    # component: Bloom word-table build alone
    QuerySpec("gate_build_bloom", bench_gate_build_bloom, "once",
              registry=False),
    # component: MinHash sign + 2 bucketed writes
    QuerySpec("gate_build_minhash", bench_gate_build_minhash, "once",
              registry=False),
    # component: the approx_count_distinct pass of m_bits="auto"
    QuerySpec("gate_build_autosize", bench_gate_build_autosize, "once",
              registry=False),
    # overfull -> rebuild-at-suggested-geometry
    QuerySpec("bloom_resize_roundtrip", q_bloom_resize_roundtrip, "once"),
    # curate -> encode IDs -> pack token streams
    QuerySpec("corpus_to_token_ids", q_corpus_to_token_ids, "headline"),
    # DSIR at the paper's (1,2)-gram feature set
    QuerySpec("dsir_select_bigram", q_dsir_select_bigram, "headline"),
    # incremental encode-delta/extend-shards arc
    QuerySpec("token_ids_extend", q_token_ids_extend, "headline"),
    # exact-integer micronat entropy bottom-k
    QuerySpec("entropy_filter", q_entropy_filter, "headline"),
    # BIGINT windowed moments trailing z-score
    QuerySpec("anomaly_zscore", q_anomaly_zscore, "headline"),
    # PSI drift monitor, two n_bins-row aggs
    QuerySpec("drift_psi", q_drift_psi, "headline"),
    # equal-depth PSI: derive edges + monitor
    QuerySpec("drift_psi_quantile", q_drift_psi_quantile, "headline"),
    # per-micro-batch PSI vs frozen reference
    QuerySpec("stream_drift", q_stream_drift, "headline"),
    # manifest window fill: rewrite-task plan
    QuerySpec("compaction_plan", q_compaction_plan, "headline"),
    # lead-window Markov pair matrix
    QuerySpec("event_transitions", q_event_transitions, "headline"),
    # persist -> reload -> score with planted drift
    QuerySpec("psi_lifecycle", q_psi_lifecycle, "headline"),
    # per-batch entropy/PSI/classifier quality row
    QuerySpec("quality_dashboard", q_quality_dashboard, "headline"),
    # decode(encode(corpus)) losslessness arc
    QuerySpec("token_ids_roundtrip", q_token_ids_roundtrip, "headline"),
    # ANALYZE-style exact per-column stats, 1 pass
    QuerySpec("profile_corpus", q_profile_corpus, "headline"),
    # perceptual dedup: decode + sign + pair
    QuerySpec("image_near_dup_scaled", bench_image_near_dup_scaled, "headline",
              registry=False),
    # IVF lifecycle: build slice + extend + probe
    QuerySpec("ann_ivf_extend", q_ann_ivf_extend, "headline"),
    # retrain trigger: per-cell occupancy/displacement
    QuerySpec("ivf_drift", q_ivf_drift, "headline"),
    # frame-level aHash: decode + sign + frame census
    QuerySpec("video_near_dup", q_video_near_dup, "headline"),
    # energy-plane aHash: cross-codec WAV dedup
    QuerySpec("audio_near_dup", q_audio_near_dup, "headline"),
    # persisted decontamination index lifecycle
    QuerySpec("contamination_firewall", q_contamination_firewall, "headline"),
    # removal half: probe + anti-join + yield
    QuerySpec("decontaminate_corpus", q_decontaminate_corpus, "headline"),
    # streaming twin: per-batch index probe
    QuerySpec("stream_decontaminate", q_stream_decontaminate, "headline"),
    # token-budgeted mixing: bucketed prefix cut
    QuerySpec("token_budget_sample", q_token_budget_sample, "headline"),
    # corpus-scaled twin: WAV gen + sign + pair
    QuerySpec("audio_near_dup_scaled", bench_audio_near_dup_scaled, "headline",
              registry=False),
    # corpus-scaled twin: AVI gen + sign + census
    QuerySpec("video_near_dup_scaled", bench_video_near_dup_scaled, "headline",
              registry=False),
    # eval-media perceptual firewall arc
    QuerySpec("media_contamination_firewall", q_media_contamination_firewall,
              "headline"),
    # IVF-PQ: residual codebooks + BIGINT ADC probe
    QuerySpec("ann_ivf_pq", q_ann_ivf_pq, "headline"),
    # integer-DCT pHash: trim + pool + DCT + pair
    QuerySpec("image_near_dup_phash", q_image_near_dup_phash, "headline"),
    # vocabulary-drift monitor: fallback accounting
    QuerySpec("tokenizer_oov", q_tokenizer_oov, "headline"),
    # corpus-scaled eval-media firewall build+probe
    QuerySpec("media_firewall_scaled", bench_media_firewall_scaled, "headline",
              registry=False),
    # registry rows the bench does not time
    QuerySpec("length_histogram", q_length_histogram),
    QuerySpec("fingerprint", q_fingerprint),
    QuerySpec("events_json", q_events_json),
    QuerySpec("anti_join", q_anti_join),
    QuerySpec("good_rows", q_good_rows),
    QuerySpec("null_propagating", q_null_propagating),
    QuerySpec("combine_key_maps", q_combine_key_maps),
    QuerySpec("collect_sorted", q_collect_sorted),
    QuerySpec("rollup_revenue", q_rollup_revenue),
    QuerySpec("cube_revenue", q_cube_revenue),
    QuerySpec("split_on_data", q_split_on_data),
    QuerySpec("assign_keys", q_assign_keys),
    QuerySpec("assign_keys_and_data", q_assign_keys_and_data),
    QuerySpec("fold_all", q_fold_all),
    QuerySpec("fold_all_monoid", q_fold_all_monoid),
    QuerySpec("pandas_fold", q_pandas_fold),
    QuerySpec("frame_concat", q_frame_concat),
    QuerySpec("to_frame", q_to_frame),
    QuerySpec("read_csv_permissive", q_read_csv_permissive),
    QuerySpec("stream_join", q_stream_join),
    QuerySpec("stream_dedup", q_stream_dedup),
    QuerySpec("media_features", q_media_features),
    QuerySpec("stream_sliding", q_stream_sliding),
    QuerySpec("ann_srp", q_ann_srp),
    QuerySpec("sketch_distinct", q_sketch_distinct),
    QuerySpec("ann_bruteforce_joined", q_ann_bruteforce_joined),
    QuerySpec("stream_near_dup", q_stream_near_dup),
    QuerySpec("corpus_report", q_corpus_report),
    QuerySpec("sketch_quantiles", q_sketch_quantiles),
    QuerySpec("weighted_sample", q_weighted_sample),
    QuerySpec("leakage_safe_split", q_leakage_safe_split),
    QuerySpec("repetition_stats", q_repetition_stats),
    QuerySpec("redact_pii", q_redact_pii),
    QuerySpec("top_ngrams", q_top_ngrams),
    QuerySpec("sketch_heavy_hitters", q_sketch_heavy_hitters),
    QuerySpec("token_stats", q_token_stats),
    QuerySpec("ann_ivf", q_ann_ivf),
    QuerySpec("ann_ivf_indexed", q_ann_ivf_indexed),
    QuerySpec("asof_forward", q_asof_forward),
    QuerySpec("media_meta", q_media_meta),
    QuerySpec("scd2", q_scd2),
    QuerySpec("bm25", q_bm25),
    QuerySpec("contamination", q_contamination),
    QuerySpec("chunk_docs", q_chunk_docs),
    QuerySpec("embedding_neardup", q_embedding_neardup),
    QuerySpec("dedup_clusters", q_dedup_clusters),
    QuerySpec("pack_shards", q_pack_shards),
    QuerySpec("train_test_split", q_train_test_split),
    QuerySpec("salted_agg", q_salted_agg),
    QuerySpec("percentile_native", q_percentile_native),
    QuerySpec("unpivot", q_unpivot),
    QuerySpec("asof_tolerance", q_asof_tolerance),
    QuerySpec("dedup_ngram_jaccard", q_dedup_ngram_jaccard),
    QuerySpec("sample_stratified", q_sample_stratified),
    QuerySpec("mixture_weights", q_mixture_weights),
    QuerySpec("stream_hourly", q_stream_hourly),
    QuerySpec("stream_sessions", q_stream_sessions),
    QuerySpec("stream_stateful", q_stream_stateful),
    QuerySpec("minhash_firewall", q_minhash_firewall),
    QuerySpec("strip_markup", q_strip_markup),
    QuerySpec("normalize_punct", q_normalize_punct),
    QuerySpec("stream_classifier", q_stream_classifier),
    QuerySpec("ingest_gate", q_ingest_gate),
    QuerySpec("stream_bloom", q_stream_bloom),
    QuerySpec("sketch_cms", q_sketch_cms),
    QuerySpec("kmv_overlap", q_kmv_overlap),
    QuerySpec("corpus_diff", q_corpus_diff),
    QuerySpec("stream_ingest_gate_v2", q_stream_ingest_gate_v2),
    QuerySpec("image_near_dup", q_image_near_dup),
)
if len({s.name for s in QUERY_TABLE}) != len(QUERY_TABLE):
    raise ValueError("QUERY_TABLE has a duplicate name")


def _sql_tokens(col: str) -> str:
    return TX.tokens_sql(col)


_IVF_ORACLE_CACHE: dict[str, str] = {}
_IVF_EXTEND_ORACLE_CACHE: dict[str, str] = {}
_IVF_DRIFT_ORACLE_CACHE: dict[str, str] = {}
_SEMDEDUP_ORACLE_CACHE: dict[str, str] = {}
_BPE_ORACLE_CACHE: dict[str, list] = {}
_RESIZE_ORACLE_CACHE: dict[str, str] = {}


def _bloom_resize_oracle() -> str:
    """bloom_resize_roundtrip twin: before = the 3-batch generation
    replay at the deliberately tiny (1024, 4) geometry; after = the
    SAME documents as ONE batch at the geometry ``suggest_geometry``
    picks for the fixture's exact normalized-form distinct count —
    computed here at oracle-generation time from the same parquet
    (DuckDB exact COUNT(DISTINCT), which the rig mirrors with Spark's
    exact ``count_distinct``: identical by definition, unlike the HLL
    estimates the no-n_items auto path uses).  Both stages carry
    ``within_target`` from the shared repeated-multiplication fill^k,
    so the re-size verdict is hash-proven on both engines."""
    import os

    import duckdb as _duckdb

    from frames_map_reduce_spark.operators.bloom import suggest_geometry
    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "documents.parquet")
    if path not in _RESIZE_ORACLE_CACHE:
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con = _duckdb.connect()
        n_exact = con.sql(
            f"SELECT count(DISTINCT {TX.normalized_sql('text')}) "
            f"FROM '{src}' WHERE doc_id % 8 IN (0, 4, 2)").fetchone()[0]
        geo = suggest_geometry(max(int(n_exact), 1), _RESIZE_TARGET)
        batches = ["(SELECT * FROM documents WHERE doc_id % 8 = 0)",
                   "(SELECT * FROM documents WHERE doc_id % 8 = 4)",
                   "(SELECT * FROM documents WHERE doc_id % 8 = 2)"]
        union = ["(SELECT * FROM documents WHERE doc_id % 8 IN (0, 4, 2))"]
        _RESIZE_ORACLE_CACHE[path] = f"""
            SELECT 'overfull' AS stage, n_words, n_rows, max_generations,
                   set_bits, m_bits, needs_compaction, expected_fpr,
                   (expected_fpr <= {_RESIZE_TARGET!r}) AS within_target
            FROM ({BL.expected_fpr_sql(batches, "text",
                                       m_bits=_RESIZE_M0, k=_RESIZE_K0)})
            UNION ALL
            SELECT 'rebuilt' AS stage, n_words, n_rows, max_generations,
                   set_bits, m_bits, needs_compaction, expected_fpr,
                   (expected_fpr <= {_RESIZE_TARGET!r}) AS within_target
            FROM ({BL.expected_fpr_sql(union, "text",
                                       m_bits=geo["m_bits"],
                                       k=geo["k"])})"""
    return _RESIZE_ORACLE_CACHE[path]


def _bpe_replayed_merges() -> list:
    """Replay (cached per fixture) the BPE training over the
    word-frequency dictionary DuckDB computes from the SAME documents
    parquet (same wordish spec, same deterministic top-20k cap) —
    identical sf-dir resolution to :func:`_ivf_oracle`.  Shared by the
    bpe_train twin (merges as a VALUES literal) and the
    bpe_train_encode twin (merges reduced to the learned inventory)."""
    import os

    import duckdb as _duckdb
    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "documents.parquet")
    if path not in _BPE_ORACLE_CACHE:
        # driver testdata is a single file; the sf1.0 replica is a
        # Spark-written DIRECTORY — glob it for DuckDB
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con = _duckdb.connect()
        rows = con.sql(TKZ.bpe_word_counts_sql(
            f"'{src}'", "text", max_words=20_000)).fetchall()
        _BPE_ORACLE_CACHE[path] = TKZ.bpe_merge_spec(rows, n_merges=48)
    return _BPE_ORACLE_CACHE[path]


def _corpus_to_token_ids_oracle() -> str:
    """corpus_to_token_ids twin: Gopher word-count band → ID-emitting
    recursive-CTE greedy scan → window-offset chunking, nested
    verbatim (all three twins are table-parametric)."""
    band = (f"(SELECT doc_id, source, text FROM documents "
            f"WHERE len(regexp_extract_all(lower(text), '{TX.WORDISH}')) "
            f"BETWEEN 30 AND 90)")
    enc = TKZ.encode_ids_sql(band, "text", "doc_id")
    joined = (f"(SELECT e.doc_id, d.source, e.token_ids "
              f"FROM ({enc}) e JOIN documents d USING (doc_id))")
    return _hash_token_ids_sql(
        PK.pack_token_ids_sql(joined, "token_ids", 256,
                              ["doc_id"], ["source"]))


def _token_ids_extend_oracle() -> str:
    """token_ids_extend twin: the FULL-corpus encode + repack —
    incremental ≡ repack is the law under proof (the pack_extend
    convention applied to token streams)."""
    enc = TKZ.encode_ids_sql("documents", "text", "doc_id")
    joined = (f"(SELECT e.doc_id, d.source, e.token_ids "
              f"FROM ({enc}) e JOIN documents d USING (doc_id))")
    return _hash_token_ids_sql(
        PK.pack_token_ids_sql(joined, "token_ids", 256,
                              ["doc_id"], ["source"]))


def _bpe_train_oracle() -> str:
    """bpe_train twin: the replayed merges as a VALUES literal, so the
    driver's hash compare proves the Spark dictionary + merge loop
    end-to-end."""
    return TKZ.bpe_merges_values_sql(_bpe_replayed_merges())


def _bpe_train_encode_oracle() -> str:
    """bpe_train_encode twin: the replayed merges reduced to the
    learned inventory (merges_to_inventory — the same reduction the
    Spark query applies), then the SAME recursive-CTE greedy encode the
    frozen-vocab twin uses, with its CASE step generated from the
    LEARNED inventory.  Hash equality proves the whole arc: distributed
    dictionary → merge loop → inventory → per-document encode."""
    inv = TKZ.merges_to_inventory(_bpe_replayed_merges())
    return TKZ.subword_counts_sql("documents", "text", "doc_id",
                                  inventory=inv)


def _semantic_dedup_oracle() -> str:
    """Generate (cached per fixture) the semantic_dedup DuckDB twin by
    replaying the trained centroids from the SAME embeddings parquet the
    query reads — identical mechanics (and sf-dir resolution) to
    :func:`_ivf_oracle`, with ``min_id=0`` because semantic_dedup trains
    on the whole table rather than the id-split corpus."""
    import os
    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "embeddings.parquet")
    if path not in _SEMDEDUP_ORACLE_CACHE:
        cents = SIM.replay_ivf_centroids(path, min_id=0, n_centroids=32)
        _SEMDEDUP_ORACLE_CACHE[path] = SIM.semantic_dedup_oracle_sql(
            "embeddings", "vec_id", "embedding", 0.35, cents)
    return _SEMDEDUP_ORACLE_CACHE[path]


def _ivf_oracle() -> str:
    """Generate (cached per fixture) the IVF DuckDB twin by replaying the
    trained centroids from the SAME embeddings parquet the query under
    test reads.  Unlike the SRP planes, IVF's spec constants are
    data-dependent — the centroids differ per scale factor — so the
    replay path must track the comparison's sf dir:
    ``SPARK_GRAFT_ORACLE_SF_DIR`` (set by the local parity suite) >
    ``SPARK_GRAFT_TEST_SF_DIR`` > sf0.01, the scale the driver compares
    at.  The replay is a pure function of the corpus set + seed
    (similarity._kmeans_fit lexsorts before the seeded init), so these
    literals are exactly the centroids every q_ann_ivf* run trains on
    that fixture."""
    import os
    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "embeddings.parquet")
    if path not in _IVF_ORACLE_CACHE:
        cents = SIM.replay_ivf_centroids(path, min_id=5, n_centroids=16)
        _IVF_ORACLE_CACHE[path] = SIM.ivf_ann_oracle_sql(
            "embeddings", "vec_id", "embedding",
            query_max_id=5, k=5, nprobe=4, centroids=cents)
    return _IVF_ORACLE_CACHE[path]


def _ivf_build_slice_centroids(path: str):
    """Replay the BUILD-slice centroids of the IVF maintenance arc
    (q_ann_ivf_extend / q_ivf_drift train on vec_id >= 5 AND
    vec_id % 4 != 3 — frozen before the delta arrives)."""
    return SIM.replay_ivf_centroids(
        path, n_centroids=16,
        keep=lambda i: i >= 5 and i % 4 != 3)


def _ivf_extend_oracle() -> str:
    """ann_ivf_extend twin: a from-scratch REBUILD replay — assignment
    + probing + scoring of the WHOLE union (vec_id >= 5) against the
    BUILD-slice-trained centroid literals; hash equality with the
    build→extend→probe Spark arc is the lifecycle law (extend ≡
    rebuild at frozen centroids)."""
    import os
    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "embeddings.parquet")
    if path not in _IVF_EXTEND_ORACLE_CACHE:
        cents = _ivf_build_slice_centroids(path)
        _IVF_EXTEND_ORACLE_CACHE[path] = SIM.ivf_ann_oracle_sql(
            "embeddings", "vec_id", "embedding",
            query_max_id=5, k=5, nprobe=4, centroids=cents)
    return _IVF_EXTEND_ORACLE_CACHE[path]


_SHINGLE_VOCAB_CACHE: dict[str, int] = {}


def _shingle_vocab_bits() -> int:
    """Distinct 5-gram shingle count of the resolved fixture's
    documents table — the constant bitstring width the prefix-filtered
    Jaccard twins verify in (jaccard_pairs_prefix_sql; an undersized
    width fails loudly, so this MUST be >= the true count — it IS the
    true count, recomputed per fixture and cached)."""
    import os

    import duckdb as _duckdb
    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "documents.parquet")
    if path not in _SHINGLE_VOCAB_CACHE:
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        sh5 = TX.char_shingles_sql("text", 5)
        con = _duckdb.connect()
        n = con.sql(
            f"SELECT count(DISTINCT s) FROM "
            f"(SELECT unnest({sh5}) AS s FROM '{src}')").fetchone()[0]
        con.close()
        _SHINGLE_VOCAB_CACHE[path] = max(int(n), 1)
    return _SHINGLE_VOCAB_CACHE[path]


_JACCARD_FRAG_CACHE: dict[str, dict] = {}

#: (query, fragment key) map for the staged sf1.0 oracle surface
_STAGED_JACCARD_QUERIES = (
    ("dedup_minhash", "self"), ("stream_near_dup", "cross"),
    ("minhash_firewall", "cross"), ("dedup_ngram_jaccard", "blocked"),
    ("stream_ingest_gate_v2", "cross_all"), ("ingest_gate", "cross"),
    ("dedup_clusters", "self"), ("leakage_safe_split", "self"),
)


def _jaccard_pair_fragments() -> dict:
    """Exact-Jaccard pair-set SQL fragments shared by eight twins (r12
    verdict #7): the prefix-filtered bitstring-verify builder
    (dedup.jaccard_pairs_prefix_sql — value-identical to all-pairs by
    the AllPairs lemma, ~100× cheaper verify) needs the fixture's
    distinct-shingle count as a constant; if that derivation fails
    (fixture without documents.parquet) fall back to the historical
    all-pairs forms so nothing else degrades (``staged`` then None).
    Keys: self / cross / cross_all / blocked (single-statement SQL) +
    ``staged`` ({key: (setup stmts, final select)} — the temp-table
    rendering the sf1.0 gate runs, see scale_staged_oracles)."""
    sf_dir = _oracle_sf_dir()
    if sf_dir in _JACCARD_FRAG_CACHE:
        return _JACCARD_FRAG_CACHE[sf_dir]
    shingle5 = TX.char_shingles_sql("text", 5)
    jaccard5 = (
        "round(len(list_intersect(a.sh, b.sh))::DOUBLE / "
        "nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0), 6)")
    specs = {
        "self": ("SELECT doc_id, text FROM documents", 3, 5,
                 "a._id < b._id", None, "s"),
        "cross": ("SELECT doc_id, text FROM documents", 3, 5,
                  "(a._id % 4 <> 0) AND (b._id % 4 = 0)", None, "c"),
        "cross_all": ("SELECT doc_id, text FROM documents", 3, 5,
                      "b._id % 4 = 0", None, "x"),
        "blocked": ("SELECT doc_id, source, text FROM documents", 1, 2,
                    "a._id < b._id", "source", "b"),
    }
    fr: dict = {}
    try:
        nv = _shingle_vocab_bits()
        fr["staged"] = {}
        for key, (sel, tn, td, pred, blk, tag) in specs.items():
            fr[key] = DD.jaccard_pairs_prefix_sql(
                sel, "doc_id", shingle5, tn, td, pred, nv, tag=tag,
                block_expr=blk)
            fr["staged"][key] = DD.jaccard_pairs_prefix_staged_sql(
                sel, "doc_id", shingle5, tn, td, pred, nv, tag=tag,
                block_expr=blk)
    except Exception as exc:  # noqa: BLE001 — degrade to all-pairs
        import sys
        print(f"# prefix-jaccard twins degrade to all-pairs: {exc}",
              file=sys.stderr)
        ap = (f"WITH sh AS MATERIALIZED (SELECT doc_id, {{blk}}"
              f"{shingle5} AS sh FROM documents) "
              f"SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
              f"{jaccard5} AS jaccard_sim FROM sh a JOIN sh b ON ")
        fr = {
            "self": (ap.format(blk="") + "a.doc_id < b.doc_id "
                     f"WHERE {jaccard5} >= 0.6"),
            "cross": (ap.format(blk="")
                      + "(a.doc_id % 4 <> 0) AND (b.doc_id % 4 = 0) "
                      f"WHERE {jaccard5} >= 0.6"),
            "cross_all": (ap.format(blk="") + "(b.doc_id % 4 = 0) "
                          f"WHERE {jaccard5} >= 0.6"),
            "blocked": (ap.format(blk="source, ")
                        + "a.source = b.source AND a.doc_id < b.doc_id "
                        f"WHERE {jaccard5} >= 0.5"),
            "staged": None,
        }
    _JACCARD_FRAG_CACHE[sf_dir] = fr
    return fr


def scale_staged_oracles() -> dict[str, tuple[list[str], str]]:
    """query → (setup statements, oracle SQL) for the eight
    Jaccard-twin queries at the sf1.0 scale gate: the SAME oracle text
    as oracle_sql() with the embedded single-statement pair CTE block
    swapped for a select over temp tables the setups create — each
    pipeline stage executes once (DuckDB re-executes CTE bodies per
    reference, which made the one-statement form ~10× slower than the
    identical staged pipeline).  Empty when the fragments degraded to
    all-pairs (no documents fixture)."""
    fr = _jaccard_pair_fragments()
    if fr.get("staged") is None:
        return {}
    base = oracle_sql()
    out: dict[str, tuple[list[str], str]] = {}
    for name, key in _STAGED_JACCARD_QUERIES:
        setup, final = fr["staged"][key]
        sql = base[name]
        assert fr[key] in sql, f"{name}: pair fragment not embedded"
        out[name] = (setup, sql.replace(fr[key], final))
    return out


_IVF_PQ_ORACLE_CACHE: dict[str, str] = {}


def _ivf_pq_oracle() -> str:
    """ann_ivf_pq twin: from-scratch rebuild replay at the FROZEN spec —
    build-slice-trained coarse centroids (replay_ivf_centroids, the
    ann_ivf_extend convention) AND build-slice-trained int64 residual
    codebooks (quantized.replay_pq_codebooks — integer floor-division
    k-means, bit-replayable), embedded as literals into
    quantized.ivf_pq_oracle_sql's per-row assignment + residual +
    argmin-code + BIGINT ADC score + recall derivation over the union."""
    import os
    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "embeddings.parquet")
    if path not in _IVF_PQ_ORACLE_CACHE:
        keep = lambda i: i >= 5 and i % 4 != 3  # noqa: E731
        cents = SIM.replay_ivf_centroids(path, n_centroids=8, keep=keep)
        books = QZ.replay_pq_codebooks(path, cents, m_sub=8, k_codes=16,
                                       keep=keep)
        _IVF_PQ_ORACLE_CACHE[path] = QZ.ivf_pq_oracle_sql(
            "embeddings", "vec_id", "embedding", query_max_id=5,
            corpus_pred="vec_id >= 5", k=5, nprobe=4,
            centroids=cents, codebooks=books)
    return _IVF_PQ_ORACLE_CACHE[path]


def _ivf_drift_oracle() -> str:
    """ivf_drift twin: assignment of the union replayed in SQL against
    the same BUILD-slice centroid literals, then the identical
    micro-quantize → floor-mean → exact squared-delta → floored-sqrt
    staging (similarity.ivf_drift_stats_sql)."""
    import os
    sf_dir = _oracle_sf_dir()
    path = os.path.join(sf_dir, "embeddings.parquet")
    if path not in _IVF_DRIFT_ORACLE_CACHE:
        cents = _ivf_build_slice_centroids(path)
        _IVF_DRIFT_ORACLE_CACHE[path] = SIM.ivf_drift_stats_sql(
            "SELECT embedding FROM embeddings WHERE vec_id >= 5",
            "embedding", cents,
            max_share_milli=_IVF_DRIFT_SHARE_MILLI,
            max_displacement_micro=_IVF_DRIFT_DISP_MICRO)
    return _IVF_DRIFT_ORACLE_CACHE[path]


def oracle_sql() -> dict[str, str]:
    shingle5 = TX.char_shingles_sql("text", 5)
    jaccard5 = (f"round(len(list_intersect(a.sh, b.sh))::DOUBLE / "
                f"nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0), 6)")
    _fr = _jaccard_pair_fragments()
    _self_pairs = _fr["self"]
    _cross_pairs = _fr["cross"]
    _cross_all_pairs = _fr["cross_all"]
    _blocked_pairs = ("SELECT id_a, id_b, jaccard_sim FROM ("
                      + _fr["blocked"] + ")")
    cos = ("round(list_sum(list_transform(list_zip(a.embedding, b.embedding), "
           "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / nullif("
           "sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
           "sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0), 6)")
    out = {
        "mr_sum_by_flag": """
            SELECT l_returnflag,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem WHERE l_returnflag IN ('A', 'R')
            GROUP BY l_returnflag""",
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2002-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "weighted_mean": """
            SELECT l_returnflag,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_discount * l_quantity) / nullif(sum(l_quantity), 0), 6) AS w_avg_disc
            FROM lineitem GROUP BY l_returnflag""",
        "fold_all_numeric": """
            SELECT l_linestatus,
                   round(sum(l_quantity), 2) AS l_quantity,
                   round(sum(l_extendedprice), 2) AS l_extendedprice,
                   round(sum(l_discount), 2) AS l_discount,
                   round(sum(l_tax), 2) AS l_tax
            FROM lineitem GROUP BY l_linestatus""",
        "good_rows": """
            SELECT l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            WHERE l_linestatus IS NOT NULL AND l_quantity IS NOT NULL
              AND l_discount IS NOT NULL
            GROUP BY l_linestatus""",
        "null_propagating": """
            SELECT event_type,
                   round(sum(value), 2) AS skip_sum,
                   CASE WHEN count(value) < count(*) THEN NULL
                        ELSE round(sum(value), 2) END AS prop_sum
            FROM events GROUP BY event_type""",
        "aggregate_fold_year": """
            SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS order_year,
                   count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
            FROM orders GROUP BY o_orderstatus, order_year""",
        "rollup_revenue": """
            SELECT year(o_orderdate) AS order_year, o_orderstatus,
                   GROUPING(year(o_orderdate), o_orderstatus) AS grouping_level,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders
            GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)""",
        "cube_revenue": """
            SELECT year(o_orderdate) AS order_year, o_orderstatus,
                   GROUPING(year(o_orderdate), o_orderstatus) AS grouping_level,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders
            GROUP BY CUBE(year(o_orderdate), o_orderstatus)""",
        "combine_key_maps": """
            SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 'urgent' ELSE 'normal' END AS prio_class,
                   CAST(year(o_orderdate) AS BIGINT) AS order_year,
                   count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
            FROM orders GROUP BY prio_class, order_year""",
        "topk_per_group": """
            SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
            FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                         row_number() OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
                  FROM lineitem)
            WHERE rn <= 3""",
        "topk_native": """
            SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
            FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                         row_number() OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
                  FROM lineitem)
            WHERE rn <= 3""",
        "group_median": """
            SELECT l_returnflag, round(median(l_quantity), 6) AS median_qty
            FROM lineitem GROUP BY l_returnflag""",
        "flatmap_tokens": f"""
            SELECT token, count(*) AS n
            FROM (SELECT unnest({_sql_tokens('text')}) AS token FROM documents)
            GROUP BY token HAVING len(token) >= 4""",
        "collect_sorted": """
            SELECT l_returnflag,
                   string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
            FROM lineitem GROUP BY l_returnflag""",
        "split_on_data": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "assign_keys": """
            SELECT o_orderstatus, count(o_orderstatus) AS n_key_vals,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders GROUP BY o_orderstatus""",
        "assign_keys_and_data": """
            SELECT o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS sum_price,
                   max(o_totalprice) AS max_price
            FROM orders GROUP BY o_orderpriority""",
        "fold_all": """
            SELECT n_regionkey, max(n_name) AS n_name,
                   max(n_nationkey) AS n_nationkey
            FROM nation GROUP BY n_regionkey""",
        "fold_all_monoid": """
            SELECT o_orderpriority, min(o_orderdate) AS o_orderdate,
                   min(o_totalprice) AS o_totalprice
            FROM orders GROUP BY o_orderpriority""",
        "pandas_fold": """
            SELECT l_returnflag,
                   CAST(max(l_quantity) - min(l_quantity) AS DOUBLE) AS qty_range,
                   round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem GROUP BY l_returnflag""",
        "frame_concat": """
            SELECT c_mktsegment, count(*) AS n,
                   round(sum(c_acctbal), 2) AS sum_bal
            FROM (SELECT * FROM customer WHERE c_acctbal < 1000.0
                  UNION ALL
                  SELECT * FROM customer WHERE c_acctbal >= 500.0)
            GROUP BY c_mktsegment""",
        "to_frame": """
            WITH ref(o_orderpriority, weight) AS (
              VALUES ('1-URGENT', 3), ('2-HIGH', 2), ('3-MEDIUM', 1))
            SELECT weight, count(*) AS n,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders JOIN ref USING (o_orderpriority)
            GROUP BY weight""",
        "read_csv_permissive": f"""
            SELECT label, round(sum(y), 2) AS sum_y,
                   round(sum(x), 2) AS sum_x, count(*) AS n
            FROM (SELECT label, TRY_CAST(y AS DOUBLE) AS y,
                         TRY_CAST(x AS DOUBLE) AS x
                  FROM read_csv('{PERMISSIVE_CSV}', header=true, all_varchar=true))
            GROUP BY label""",
        "text_quality": f"""
            SELECT source,
                   CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS total_tokens,
                   round(avg({TX.punct_ratio_sql('text')}), 6) AS avg_punct_ratio,
                   round(avg({TX.digit_ratio_sql('text')}), 6) AS avg_digit_ratio,
                   round(avg({TX.stopword_ratio_sql('text')}), 6) AS avg_stopword_ratio
            FROM documents GROUP BY source""",
        "lang_id": f"""
            SELECT {TX.lang_id_sql('text')} AS pred_lang, count(*) AS n
            FROM documents GROUP BY pred_lang""",
        "token_stats": f"""
            SELECT lang,
                   CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS sum_tokens,
                   round(avg({TX.token_count_sql('text')}), 6) AS avg_tokens,
                   CAST(sum({TX.wordish_count_sql('text')}) AS BIGINT) AS sum_wordish
            FROM documents GROUP BY lang""",
        "fingerprint": f"""
            SELECT source,
                   CAST(count(DISTINCT {TX.fingerprint_sql('text')}) AS BIGINT) AS n_distinct,
                   count(*) AS n_docs
            FROM documents GROUP BY source""",
        # FULL twin generated from the same tokenizer/smoothing spec; the
        # top-20 ORDER BY mirrors the Spark query's (perplexity DESC, id)
        "perplexity": f"""
            SELECT * FROM ({QL.unigram_lm_score_sql('documents', 'text', 'doc_id')})
            ORDER BY perplexity DESC, doc_id LIMIT 20""",
        "bigram_perplexity": f"""
            SELECT * FROM ({QL.bigram_lm_score_sql('documents', 'text', 'doc_id')})
            ORDER BY perplexity DESC, doc_id LIMIT 20""",
        "repetition_stats": f"""
            WITH per_doc AS ({QL.ngram_repetition_stats_sql('text', 'doc_id', ['source'], n=2)})
            SELECT source, count(*) AS n_docs,
                   CAST(sum(total_ngrams) AS BIGINT) AS sum_ngrams,
                   round(avg(dup_ngram_frac), 6) AS avg_dup_frac,
                   round(avg(top_ngram_frac), 6) AS avg_top_frac
            FROM per_doc GROUP BY source""",
        "length_histogram": """
            WITH hist AS (
                SELECT CAST(floor(n_chars / 200) AS BIGINT) AS bucket,
                       count(*) AS n_docs,
                       CAST(sum(n_chars) AS BIGINT) AS sum_chars
                FROM documents GROUP BY bucket)
            SELECT bucket, n_docs, sum_chars,
                   round(CAST(n_docs AS DOUBLE)
                         / (SELECT sum(n_docs) FROM hist), 6) AS share
            FROM hist""",
        "strip_markup": f"""
            SELECT row_id,
                   {TX.markup_tag_count_sql('text')} AS n_tags,
                   md5({TX.strip_markup_sql('text')}) AS stripped_md5
            FROM read_csv('{MARKUP_CSV}', header=true,
                           columns={{'row_id': 'BIGINT', 'text': 'VARCHAR'}})""",
        # generated from the same PUNCT_SINGLE/PUNCT_MULTI map constants
        # (translate-then-replace staging, character-for-character)
        "normalize_punct": f"""
            SELECT row_id,
                   (text <> {TX.normalize_punct_sql('text')}) AS changed,
                   len(text)::BIGINT AS len_before,
                   len({TX.normalize_punct_sql('text')})::BIGINT AS len_after,
                   md5({TX.normalize_punct_sql('text')}) AS norm_md5
            FROM read_csv('{UNICODE_CSV}', header=true,
                           columns={{'row_id': 'BIGINT', 'text': 'VARCHAR'}})""",
        "redact_pii": f"""
            SELECT row_id,
                   {TX.pii_count_sql('text', 'email')} AS n_emails,
                   {TX.pii_count_sql('text', 'phone')} AS n_phones,
                   md5({TX.redact_pii_sql('text')}) AS redacted_md5
            FROM read_csv('{PII_CSV}', header=true,
                           columns={{'row_id': 'BIGINT', 'text': 'VARCHAR'}})""",
        "top_ngrams": f"""
            SELECT ngram, count(*) AS n
            FROM (SELECT unnest({TX.word_ngrams_sql('text', 2)}) AS ngram
                  FROM documents)
            GROUP BY ngram
            ORDER BY n DESC, ngram
            LIMIT 20""",
        "dedup_exact": f"""
            SELECT {TX.fingerprint_sql('text')} AS fingerprint,
                   min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY fingerprint""",
        "dedup_minhash": (
            f"SELECT id_a, id_b, jaccard_sim FROM ({_self_pairs})"),
        # cross-corpus twin of the streaming firewall — exact for the
        # same banding-losslessness reason as dedup_minhash; the
        # persisted-index row shares it (bucketing changes the physical
        # plan, never the result)
        "stream_near_dup": (
            f"SELECT id_a AS id_in, id_b AS ref_id, "
            f"jaccard_sim AS jaccard FROM ({_cross_pairs})"),
        "minhash_firewall": (
            f"SELECT id_a AS id_in, id_b AS ref_id, "
            f"jaccard_sim AS jaccard FROM ({_cross_pairs})"),
        "dedup_ngram_jaccard": _blocked_pairs,
        # exhaustive Hamming twin, valid because the query runs with
        # n_bands=9 > max_hamming=8 (lossless banding by pigeonhole); the
        # integer hash pipeline is generated from dedup.py's spec constants
        "dedup_simhash": DD.simhash_oracle_sql(
            "documents", "text", "doc_id", max_hamming=8),
        "train_test_split": f"""
            SELECT {SMP.hash_split_sql_case('doc_id', _SPLIT_WEIGHTS, 'v1')} AS split,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY split""",
        "sample_stratified": f"""
            SELECT source, doc_id, rk FROM (
                SELECT source, doc_id,
                       row_number() OVER (PARTITION BY source
                           ORDER BY {SMP.hash_unit_sql('doc_id', 'v1')}, doc_id) AS rk
                FROM documents)
            WHERE rk <= 5""",
        "mixture_weights": f"""
            SELECT source, count(*) AS n_docs
            FROM documents
            WHERE {SMP.weighted_mixture_sql_pred('source', _MIX_RATES, 'doc_id', 'mix', 0.1)}
            GROUP BY source""",
        "pack_shards": f"""
            WITH sized AS (
                SELECT source, doc_id, {TX.token_count_sql('text')} AS n_tokens
                FROM documents),
            sharded AS (
                SELECT source, n_tokens,
                       {PK.pack_shards_sql('n_tokens', 800, ['doc_id'], ['source'])} AS shard_id
                FROM sized)
            SELECT source, shard_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
            FROM sharded GROUP BY source, shard_id""",
        "pack_sequences": PK.pack_sequences_sql(
            "documents", TX.token_count_sql("text"), 256,
            ["doc_id"], ["source"]),
        # the greedy subword encode as a recursive CTE whose step CASE
        # is generated from the same frozen inventory (tokenizer.py)
        # data-dependent: generated by replaying the merge spec over
        # the DuckDB-computed dictionary (see _bpe_train_oracle)
        "bpe_train": _bpe_train_oracle(),
        "bpe_train_encode": _bpe_train_encode_oracle(),
        "bpe_token_count": TKZ.subword_counts_sql(
            "documents", "text", "doc_id"),
        # …and the packing twin over those counts, nested verbatim
        "pack_bpe_sequences": PK.pack_sequences_sql(
            "(SELECT d.source, c.doc_id, c.n_subwords FROM documents d "
            f"JOIN ({TKZ.subword_counts_sql('documents', 'text', 'doc_id')})"
            " c USING (doc_id))",
            "n_subwords", 256, ["doc_id"], ["source"]),
        # composed classifier twin: the generated train SQL (same hash,
        # smoothing, and micro-quantization spec) feeds the generated
        # scoring SQL; the final rollup is all-BIGINT, engine-exact
        "quality_classifier": f"""
            WITH weights AS ({CLF.train_logodds_classifier_sql(
                "(SELECT text, (lang = 'en') AS _is_en FROM documents)",
                "text", "_is_en",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT)}),
            scores AS ({CLF.classifier_score_sql(
                "documents", "weights", "text", "doc_id",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT,
                carry=("source", "lang"))})
            SELECT source, lang, count(*)::BIGINT AS n_docs,
                   sum(CASE WHEN logit_rank >= 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_keep,
                   sum(logit_sum)::BIGINT AS logit_total
            FROM scores GROUP BY source, lang""",
        # the streaming gate computes the EXACT integers classifier_score
        # computes (classifier_gate_columns' design contract, pinned by
        # test_classifier.py), so the batch train+score twin applies
        # verbatim — a streaming query with a full value oracle
        "stream_classifier": f"""
            WITH weights AS ({CLF.train_logodds_classifier_sql(
                "(SELECT text, (lang = 'en') AS _is_en FROM documents)",
                "text", "_is_en",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT)}),
            scores AS ({CLF.classifier_score_sql(
                "documents", "weights", "text", "doc_id",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT,
                carry=("source",))})
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(CASE WHEN logit_rank >= 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_keep,
                   sum(logit_sum)::BIGINT AS logit_total
            FROM scores GROUP BY source""",
        # classifier-driven curation: train + score twins nest, the
        # per-source top-half cut is the serial row_number form of
        # top_fraction's two-phase cut (identical by the fuzz pin), and
        # the rollup is all-BIGINT
        "curate_corpus_v3": f"""
            WITH weights AS ({CLF.train_logodds_classifier_sql(
                "(SELECT text, (lang = 'en') AS _is_en FROM documents)",
                "text", "_is_en",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT)}),
            scores AS ({CLF.classifier_score_sql(
                "documents", "weights", "text", "doc_id",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT,
                carry=("source",))}),
            ranked AS (
                SELECT source, n_tokens, logit_sum,
                       row_number() OVER (PARTITION BY source
                           ORDER BY logit_rank DESC, doc_id) AS _rn,
                       count(*) OVER (PARTITION BY source) AS _n
                FROM scores)
            SELECT source, count(*)::BIGINT AS n_kept,
                   sum(n_tokens)::BIGINT AS tokens_kept,
                   sum(logit_sum)::BIGINT AS logit_kept
            FROM ranked WHERE _rn * 2 <= _n
            GROUP BY source""",
        # full lifecycle twin: the SQL replays build+probe over the
        # UNION of the two build generations (%8==0 ∪ %8==4 = %4==0) —
        # hash equality proves extend-then-merge ≡ build-on-union, the
        # monoid law the append-only index relies on; false positives
        # are part of the deterministic double-hash spec and reproduce
        # bit-for-bit
        "bloom_firewall": BL.bloom_firewall_sql(
            "documents WHERE doc_id % 4 = 0", "documents",
            "text", "doc_id"),
        # the stateless gate computes the exact verdicts the joined
        # probe computes — the same bit-replay twin applies verbatim
        "stream_bloom": BL.bloom_firewall_sql(
            "documents WHERE doc_id % 4 = 0", "documents",
            "text", "doc_id"),
        # the composed streaming gate: both stateless screens compute
        # their batch forms' exact values, so the twin joins the Bloom
        # bit replay with the batch train+score twin (INNER: the Spark
        # side filters the NULL-verdict rows, matching each twin's
        # absent-row semantics) and re-derives the same AND
        "stream_ingest_gate": f"""
            WITH _member AS ({BL.bloom_firewall_sql(
                "documents WHERE doc_id % 4 = 0", "documents",
                "text", "doc_id")}),
            _weights AS ({CLF.train_logodds_classifier_sql(
                "(SELECT text, (lang = 'en') AS _is_en FROM documents)",
                "text", "_is_en",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT)}),
            _scores AS ({CLF.classifier_score_sql(
                "documents", "_weights", "text", "doc_id",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT,
                carry=("source",))})
            SELECT s.doc_id, s.source, m.maybe_dup,
                   (s.logit_rank >= 0) AS quality_ok,
                   (NOT m.maybe_dup AND s.logit_rank >= 0) AS accept
            FROM _scores s JOIN _member m ON m.doc_id = s.doc_id""",
        # the FULL streaming gate: the stateless twins above plus the
        # exhaustive cross-corpus Jaccard near-dup set (the ingest_gate
        # convention, same corpus invariant) — LEFT-joined and coalesced
        # to False exactly like the probe's no-shingles convention
        # streaming twin of the contamination firewall: probe ≡
        # recompute, so the twin LEFT-joins the contamination CTE onto
        # the incoming id set (clean docs: NULL evidence, accept=true)
        "stream_decontaminate": f"""
            WITH cont AS ({RET.ngram_contamination_sql(
                train_sel=("SELECT doc_id, text FROM documents "
                           "WHERE doc_id % 4 != 0"),
                eval_sel="SELECT text FROM documents WHERE doc_id % 4 = 0",
                text_col="text", id_col="doc_id", n=5)})
            SELECT d.doc_id, c.n_grams, c.n_hit, c.hit_frac,
                   (c.doc_id IS NOT NULL) AS is_contaminated,
                   (c.doc_id IS NULL) AS accept
            FROM (SELECT doc_id FROM documents WHERE doc_id % 4 != 0) d
            LEFT JOIN cont c ON d.doc_id = c.doc_id""",
        "stream_ingest_gate_v2": f"""
            WITH _member AS ({BL.bloom_firewall_sql(
                "documents WHERE doc_id % 4 = 0", "documents",
                "text", "doc_id")}),
            _weights AS ({CLF.train_logodds_classifier_sql(
                "(SELECT text, (lang = 'en') AS _is_en FROM documents)",
                "text", "_is_en",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT)}),
            _scores AS ({CLF.classifier_score_sql(
                "documents", "_weights", "text", "doc_id",
                n_buckets=_QCLF_BUCKETS, salt=_QCLF_SALT,
                carry=("source",))}),
            _v2_nd AS (
                SELECT DISTINCT id_a AS doc_id FROM ({_cross_all_pairs}))
            SELECT s.doc_id, s.source, m.maybe_dup,
                   (s.logit_rank >= 0) AS quality_ok,
                   (nd.doc_id IS NOT NULL) AS is_near_dup,
                   (NOT m.maybe_dup AND s.logit_rank >= 0
                    AND nd.doc_id IS NULL) AS accept
            FROM _scores s
            JOIN _member m ON m.doc_id = s.doc_id
            LEFT JOIN _v2_nd nd ON nd.doc_id = s.doc_id""",
        # generation replay: extend writes exactly one merged word-row
        # set per batch, so rows-per-word is engine-derivable from the
        # same three modular batches; popcount over bit_or is the
        # compaction-integrity invariant
        "bloom_gen_stats": BL.bloom_generation_stats_sql(
            ["(SELECT * FROM documents WHERE doc_id % 8 = 0)",
             "(SELECT * FROM documents WHERE doc_id % 8 = 4)",
             "(SELECT * FROM documents WHERE doc_id % 8 = 2)"],
            "text", max_read_amp=2),
        # before-twin = the 3-batch generation replay; after-twin = the
        # SAME documents as ONE batch (compaction ≡ build-on-union per
        # word — the bit_or monoid law), fpr^k by the shared
        # repeated-multiplication spec so the double is engine-exact
        "bloom_compact_roundtrip": f"""
            SELECT 'before_compact' AS stage, n_words, n_rows,
                   max_generations, set_bits, m_bits, needs_compaction,
                   expected_fpr
            FROM ({BL.expected_fpr_sql(
                ["(SELECT * FROM documents WHERE doc_id % 8 = 0)",
                 "(SELECT * FROM documents WHERE doc_id % 8 = 4)",
                 "(SELECT * FROM documents WHERE doc_id % 8 = 2)"],
                "text", max_read_amp=2)})
            UNION ALL
            SELECT 'after_compact' AS stage, n_words, n_rows,
                   max_generations, set_bits, m_bits, needs_compaction,
                   expected_fpr
            FROM ({BL.expected_fpr_sql(
                ["(SELECT * FROM documents WHERE doc_id % 8 IN (0, 4, 2))"],
                "text", max_read_amp=2)})""",
        # same markers, same null-safe equality, same CASE precedence;
        # the snapshot views are the deterministic modular scenario
        "corpus_diff": CDC.snapshot_diff_sql(
            "(SELECT doc_id, CASE WHEN doc_id % 7 = 3 "
            "THEN text || ' (draft)' ELSE text END AS text "
            "FROM documents WHERE doc_id % 10 <> 0)",
            "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 5)",
            ["doc_id"], TX.fingerprint_sql("text")),
        # same salted hash, same distinct->rank->k-min staging, same
        # combined-k-min estimator; the twin nests the two generated
        # sketch subqueries
        "kmv_overlap": (lambda ov: f"""
            WITH _src AS (
                SELECT * FROM {FRQ.kmv_sketch_sql(
                    "(SELECT source, "
                    + TX.normalized_sql("text")
                    + " AS _norm FROM documents)",
                    ["source"], "_norm", k=64)} _s),
            _ref AS (
                SELECT kmv AS kmv_ref FROM {FRQ.kmv_sketch_sql(
                    "(SELECT "
                    + TX.normalized_sql("text")
                    + " AS _norm FROM documents WHERE doc_id % 4 = 0)",
                    [], "_norm", k=64)} _r)
            SELECT source,
                   {ov["kmv_matches"]} AS kmv_matches,
                   {ov["kmv_k"]} AS kmv_k,
                   {ov["est_jaccard"]} AS est_jaccard
            FROM _src, _ref""")(FRQ.kmv_overlap_sql("kmv", "kmv_ref", k=64)),
        # build+estimate replayed from the same salted-md5 column spec;
        # the deliberately small geometry makes collision overcounts
        # part of the proven values
        "sketch_cms": f"""
            WITH _toks AS (SELECT unnest({TX.tokens_sql('text')}) AS token
                           FROM documents),
            _est AS ({FRQ.cms_estimate_sql(
                "_toks", "(SELECT DISTINCT token FROM _toks)",
                "token", w=16, d=2)}),
            _true AS (SELECT token, count(*)::BIGINT AS true_count
                      FROM _toks GROUP BY token)
            SELECT e.token, e.est_count, t.true_count,
                   (e.est_count - t.true_count)::BIGINT AS overcount
            FROM _est e JOIN _true t USING (token)""",
        # the oracle is the FULL repack over the whole corpus — hash
        # equality proves incremental ≡ repack (every count additive,
        # straddled tail blocks merge exactly), cross-engine
        "pack_extend": PK.pack_sequences_sql(
            "(SELECT doc_id, source, "
            f"{TX.token_count_sql('text')} AS n_tokens_doc FROM documents)",
            "n_tokens_doc", 256, ["doc_id"], ["source"]),
        # generated from the same rule-constant table as the Spark
        # expressions; every verdict is an integer comparison, the
        # rollup all-BIGINT — engine-exact, no rounding grid
        "gopher_rules": (lambda _r: f"""
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(CASE WHEN pass_gopher THEN 1 ELSE 0 END)::BIGINT
                       AS n_pass,
                   {", ".join(
                       f"sum(CASE WHEN NOT {name} THEN 1 ELSE 0 END)::BIGINT"
                       f" AS fail_{name[2:]}"
                       for name in _r if name != "pass_gopher")}
            FROM (SELECT source, {", ".join(
                      f"{expr} AS {name}" for name, expr in _r.items())}
                  FROM documents)
            GROUP BY source""")(TX.gopher_rules_sql("text")),
        # the composed admission gate: Bloom bit replay + exhaustive
        # cross-corpus Jaccard + generated rule twins over the same %4
        # split, joined per incoming doc; accept reproduces the same
        # three-valued AND
        "ingest_gate": (lambda wc, c4: f"""
            WITH _ig_in AS (
                SELECT doc_id, source, text,
                       {TX.resentence_sql("text")} AS sent
                FROM documents WHERE doc_id % 4 <> 0),
            _ig_q AS (
                SELECT doc_id, source,
                       ({wc} AND {c4}) AS quality_ok
                FROM _ig_in),
            _ig_member AS ({BL.bloom_firewall_sql(
                "documents WHERE doc_id % 4 = 0",
                "documents WHERE doc_id % 4 <> 0", "text", "doc_id")}),
            _ig_nd AS (
                SELECT DISTINCT id_a AS doc_id FROM ({_cross_pairs}))
            SELECT q.doc_id, q.source, q.quality_ok,
                   m.maybe_dup AS is_member,
                   (nd.doc_id IS NOT NULL) AS is_near_dup,
                   (q.quality_ok AND NOT m.maybe_dup
                    AND nd.doc_id IS NULL) AS accept
            FROM _ig_q q
            LEFT JOIN _ig_member m ON m.doc_id = q.doc_id
            LEFT JOIN _ig_nd nd ON nd.doc_id = q.doc_id""")(
                TX.gopher_rules_sql("text")["r_word_count"],
                TX.c4_rules_sql("sent")["pass_c4"]),
        # same generated-twin shape as gopher_rules plus the line
        # filter's keep accounting — all-BIGINT, engine-exact; the
        # re-sentencing shim and the pre-computed kept-lines list both
        # come from the shared TX generators (same staging as Spark)
        "c4_rules": (lambda _r: f"""
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(CASE WHEN pass_c4 THEN 1 ELSE 0 END)::BIGINT
                       AS n_pass,
                   {", ".join(
                       f"sum(CASE WHEN NOT {name} THEN 1 ELSE 0 END)::BIGINT"
                       f" AS fail_{name[2:]}"
                       for name in _r if name != "pass_c4")},
                   sum(n_lines)::BIGINT AS sum_lines,
                   sum(n_kept)::BIGINT AS sum_kept
            FROM (SELECT source,
                         len(string_split(text, chr(10))) AS n_lines,
                         len(_kept) AS n_kept,
                         {", ".join(
                             f"{expr} AS {name}"
                             for name, expr in _r.items())}
                  FROM (SELECT source, text,
                               {TX.c4_kept_lines_sql("text")} AS _kept
                        FROM (SELECT source,
                                     {TX.resentence_sql("text")} AS text
                              FROM documents)))
            GROUP BY source""")(TX.c4_rules_sql("text", kept="_kept")),
        # the generated mixture twin nests as a derived table; the
        # rollup over the kept set is all-BIGINT
        "temperature_mixture": f"""
            SELECT source, count(*)::BIGINT AS n_kept,
                   sum(n_chars)::BIGINT AS chars_kept
            FROM ({SMP.temperature_mixture_sql(
                "documents", "source", "doc_id", 0.5, "tmix")})
            GROUP BY source""",
        # DSIR: importance model = target-vs-raw log-odds twin over the
        # union pool, score twin over the raw split, the generated
        # Gumbel-priority twin, and the serial row_number form of the
        # top_fraction cut (fuzz-pinned equivalent)
        "dsir_select": f"""
            WITH _dsir_pool AS (
                SELECT text AS _dsir_text, TRUE AS _dsir_t
                FROM documents WHERE doc_id % 5 = 0
                UNION ALL
                SELECT text AS _dsir_text, FALSE AS _dsir_t
                FROM documents WHERE doc_id % 5 <> 0),
            _dsir_w AS ({CLF.train_logodds_classifier_sql(
                "_dsir_pool", "_dsir_text", "_dsir_t",
                n_buckets=_QCLF_BUCKETS, salt="dsir")}),
            _dsir_s AS ({CLF.classifier_score_sql(
                "(SELECT * FROM documents WHERE doc_id % 5 <> 0)",
                "_dsir_w", "text", "doc_id",
                n_buckets=_QCLF_BUCKETS, salt="dsir",
                carry=("source",))}),
            _dsir_p AS (
                SELECT *, {SMP.dsir_priority_sql(
                    "doc_id", "logit_sum", salt="dsir")} AS dsir_priority
                FROM _dsir_s),
            _dsir_r AS (
                SELECT *, row_number() OVER (PARTITION BY source
                           ORDER BY dsir_priority DESC, doc_id) AS _rn,
                       count(*) OVER (PARTITION BY source) AS _n
                FROM _dsir_p)
            SELECT doc_id, source, n_tokens, logit_sum, logit_rank,
                   dsir_priority
            FROM _dsir_r WHERE _rn * 2 <= _n""",
        # same nesting at the paper's full (1,2)-gram feature set: the
        # bigram stream is the same slice-zip-join construction in both
        # engines (classifier.feature_tokens_sql)
        "dsir_select_bigram": f"""
            WITH _dsir_pool AS (
                SELECT text AS _dsir_text, TRUE AS _dsir_t
                FROM documents WHERE doc_id % 5 = 0
                UNION ALL
                SELECT text AS _dsir_text, FALSE AS _dsir_t
                FROM documents WHERE doc_id % 5 <> 0),
            _dsir_w AS ({CLF.train_logodds_classifier_sql(
                "_dsir_pool", "_dsir_text", "_dsir_t",
                n_buckets=_QCLF_BUCKETS, salt="dsir", ngram=(1, 2))}),
            _dsir_s AS ({CLF.classifier_score_sql(
                "(SELECT * FROM documents WHERE doc_id % 5 <> 0)",
                "_dsir_w", "text", "doc_id",
                n_buckets=_QCLF_BUCKETS, salt="dsir",
                carry=("source",), ngram=(1, 2))}),
            _dsir_p AS (
                SELECT *, {SMP.dsir_priority_sql(
                    "doc_id", "logit_sum", salt="dsir")} AS dsir_priority
                FROM _dsir_s),
            _dsir_r AS (
                SELECT *, row_number() OVER (PARTITION BY source
                           ORDER BY dsir_priority DESC, doc_id) AS _rn,
                       count(*) OVER (PARTITION BY source) AS _n
                FROM _dsir_p)
            SELECT doc_id, source, n_tokens, logit_sum, logit_rank,
                   dsir_priority
            FROM _dsir_r WHERE _rn * 2 <= _n""",
        # composed twin: curation stages nest verbatim, selection ranks
        # on the same integer lp_rank key with the same integer rank
        # compare, and pack_sequences_sql runs over the kept-CTE
        "corpus_to_sequences": f"""
            WITH cleaned AS (
                {DD.remove_duplicated_lines_sql('documents', 'text', 'doc_id')}),
            scored AS (
                {QL.unigram_lm_score_sql('cleaned', 'clean_text', 'doc_id',
                                         rank_key=True)}),
            ranked AS (
                SELECT d.source, d.doc_id, s.n_tokens,
                       row_number() OVER (PARTITION BY d.source
                           ORDER BY s.lp_rank DESC, d.doc_id) AS _rn,
                       count(*) OVER (PARTITION BY d.source) AS _n
                FROM documents d JOIN scored s USING (doc_id)),
            kept AS (
                SELECT source, doc_id, n_tokens FROM ranked
                WHERE _rn * 5 <= _n * 3)
            SELECT * FROM (
                {PK.pack_sequences_sql('kept', 'n_tokens', 256,
                                       ['doc_id'], ['source'])})""",
        # band predicate + ID-emitting recursive-CTE greedy scan +
        # window-offset chunking, nested verbatim: every ID in every
        # sequence is hash-proven, order included
        "corpus_to_token_ids": _corpus_to_token_ids_oracle(),
        # full-corpus encode+repack: hash equality proves the
        # incremental extend ≡ repack law cross-engine
        "token_ids_extend": _token_ids_extend_oracle(),
        "dedup_clusters": f"""
            WITH RECURSIVE
            p AS (SELECT id_a AS u, id_b AS v
                  FROM ({_self_pairs})),
            e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
            reach(id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.id),
            comp AS (SELECT id AS doc_id, min(r) AS cluster_id
                     FROM reach GROUP BY id)
            SELECT doc_id, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM comp""",
        # Same transitive-closure CTE as dedup_clusters, then the shared
        # hash_split CASE drawn on the CLUSTER id — near-dups provably
        # land in one split because they share the hash input.
        "leakage_safe_split": f"""
            WITH RECURSIVE
            p AS (SELECT id_a AS u, id_b AS v
                  FROM ({_self_pairs})),
            e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
            reach(id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.id),
            comp AS (SELECT id AS doc_id, min(r) AS split_key
                     FROM reach GROUP BY id)
            SELECT d.doc_id, d.source, comp.split_key,
                   {SMP.hash_split_sql_case('split_key', _SPLIT_WEIGHTS,
                                            'ls1')} AS split
            FROM comp JOIN documents d ON comp.doc_id = d.doc_id""",
        "ann_bruteforce": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
                 scored AS (
                   SELECT a.query_id, b.vec_id, {cos.replace('a.embedding', 'a.embedding').replace('b.embedding', 'b.embedding')} AS cosine_sim
                   FROM q a JOIN c b ON true)
            SELECT query_id, vec_id, cosine_sim, rank FROM (
              SELECT query_id, vec_id, cosine_sim,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine_sim DESC, vec_id) AS rank
              FROM scored)
            WHERE rank <= 5""",
        # FULL value oracle for an APPROXIMATE operator: the SRP planes
        # are deterministic given the seed, so the whole LSH pipeline
        # (signatures, multiprobe-or-exact bucket match == per-table
        # Hamming<=1, scoring, tie-breaks, recall) replays in DuckDB from
        # the same spec constants — the same pattern as the simhash
        # oracle.  Generated by similarity.srp_ann_oracle_sql.
        "ann_srp": SIM.srp_ann_oracle_sql(
            "embeddings", "vec_id", "embedding",
            query_max_id=5, k=5, dim=64, n_planes=5, n_tables=8),
        # FULL value oracle for IVF, same deterministic-spec pattern:
        # the trained centroids are a pure function of (sample SET, seed)
        # — train_ivf_centroids lexsorts its ≤20k-row sample before the
        # seeded init — so replay_ivf_centroids re-derives them
        # bit-identically from the parquet with pyarrow+numpy, and the
        # whole pipeline (assignment argmax, probe set, probed-list-only
        # exact scoring, rounding, tie-breaks, recall@5 vs global brute
        # force) replays in DuckDB.  One SQL string serves both the
        # transient and the persisted-index paths: bucketing the inverted
        # lists changes the physical plan, never the result.  (The
        # ann_ivf / ann_ivf_indexed entries are added AFTER this literal
        # inside a try/except — see the tail of this function.)
        # identical by contract to ann_bruteforce (exact top-k, same
        # rounding/tie-break), just computed via the block-join path
        "ann_bruteforce_joined": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
                 scored AS (
                   SELECT a.query_id, b.vec_id, {cos} AS cosine_sim
                   FROM q a JOIN c b ON true)
            SELECT query_id, vec_id, cosine_sim, rank FROM (
              SELECT query_id, vec_id, cosine_sim,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine_sim DESC, vec_id) AS rank
              FROM scored)
            WHERE rank <= 5""",
        # FULL value oracle with NO rounding grid: power-of-two
        # quantization is bit-exact in both engines and everything after
        # it is bounded-integer arithmetic (operators/quantized.py —
        # the twin pins the two measured engine sharp edges: NULL-
        # skipping greatest/least and NULL-skipping list_sum)
        "ann_int8": QZ.quantized_topk_sql(
            "embeddings", "vec_id", "embedding",
            query_pred="vec_id < 5", corpus_pred="vec_id >= 5", k=5),
        "embedding_neardup": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine_sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {cos} >= 0.3""",
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY hour, event_type""",
        "stream_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY hour, event_type""",
        "stream_sessions": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
                   CAST(sum(n_events) AS BIGINT) AS n_events,
                   round(sum(sum_value), 2) AS sum_value
            FROM (SELECT user_id, count(*) AS n_events,
                         round(sum(value), 2) AS sum_value
                  FROM (SELECT user_id, value, ts,
                               sum(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
                        FROM (SELECT user_id, value, ts, event_id,
                                     CASE WHEN lag(ts) OVER w IS NULL
                                               OR date_diff('microsecond',
                                                            lag(ts) OVER w, ts)
                                                  >= 1800000000
                                          THEN 1 ELSE 0 END AS new_session
                              FROM events
                              WINDOW w AS (PARTITION BY user_id
                                           ORDER BY ts, event_id)))
                  GROUP BY user_id, session_id)
            GROUP BY user_id""",
        "stream_stateful": """
            SELECT event_type, count(*) AS n
            FROM events GROUP BY event_type""",
        # batch twin of the sliding-window streaming query: each event
        # belongs to the two 1h/30m windows starting at bucket(ts) and
        # bucket(ts)-30m; only windows with end <= max(ts)+1min (the final
        # watermark the staged 'tick' row produces) are emitted in append
        # mode, and the staged late rows are watermark-dropped — so the
        # oracle aggregates the on-time rows only, window-filtered.
        # DuckDB's time_bucket origin (2000-01-01) and Spark's (epoch) are
        # both half-hour-aligned, so the grids agree.
        "stream_sliding": """
            WITH wm AS (SELECT max(ts) + INTERVAL 1 MINUTE AS w FROM events),
            expl AS (
                SELECT event_type, value,
                       time_bucket(INTERVAL '30 minutes', ts)
                           - s.i * INTERVAL '30 minutes' AS window_start
                FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) s
            )
            SELECT window_start, event_type, count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM expl, wm
            WHERE window_start + INTERVAL '1 hour' <= wm.w
            GROUP BY window_start, event_type""",
        "stream_join": """
            SELECT c.user_id, count(*) AS n_pairs,
                   count(DISTINCT c.event_id) AS n_clicks,
                   count(DISTINCT v.event_id) AS n_views
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id
             AND v.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
            GROUP BY c.user_id""",
        # stream-static enrichment: availableNow replays the full input,
        # so the batch LEFT join (unmatched user_ids keep a NULL
        # segment group) + rollup is the full value twin
        "stream_enrich": """
            SELECT c.c_mktsegment AS segment,
                   count(*) AS n,
                   round(sum(e.value), 2) AS sum_value
            FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
            GROUP BY segment""",
        "events_json": """
            SELECT event_type,
                   round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type""",
        "sessionize": """
            SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
            FROM (SELECT user_id,
                         CASE WHEN lag(ts) OVER w IS NULL
                                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
                              THEN 1 ELSE 0 END AS new_session
                  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            GROUP BY user_id""",
        "tpch_q3": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10""",
        "tpch_q5": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name""",
        "tpch_q18": """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice, sum_qty
            FROM orders
            JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING round(sum(l_quantity), 2) > 300)
                 ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
            LIMIT 100""",
        "join_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name""",
        "pivot": """
            SELECT l_linestatus,
                   round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS A,
                   round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS N,
                   round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS R
            FROM lineitem GROUP BY l_linestatus""",
        "unpivot": """
            WITH wide AS (
                SELECT l_returnflag,
                       round(sum(l_quantity), 2) AS sum_qty,
                       round(sum(l_extendedprice), 2) AS sum_price,
                       round(sum(l_tax), 2) AS sum_tax
                FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
            UNION ALL
            SELECT l_returnflag, 'sum_price', sum_price FROM wide
            UNION ALL
            SELECT l_returnflag, 'sum_tax', sum_tax FROM wide""",
        # the rig's integer-cent staging: exact BIGINT sums, one
        # division for the sum, a half-up integer division for the mean
        "salted_agg": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(c) AS BIGINT) / 100.0 AS sum_value,
                   CASE WHEN count(c) > 0 THEN
                     CAST((2 * sum(c) * 10000 + count(c))
                          // (2 * count(c)) AS BIGINT) / 1e6
                   END AS avg_value,
                   round(max(value), 2) AS max_value
            FROM (SELECT event_type, value,
                         CAST(round(value * 100) AS BIGINT) AS c
                  FROM events)
            GROUP BY event_type""",
        # The sketch itself is implementation-specific; what IS exact is
        # the count_distinct twin and the guarantee that the HLL estimate
        # sits inside its 3*rsd envelope — encoded as within_tol = 1.
        # A drifting sketch flips the bit and the driver hash catches it.
        "sketch_distinct": """
            SELECT event_type,
                   count(DISTINCT user_id) AS exact_users,
                   1 AS within_tol
            FROM events GROUP BY event_type""",
        "stream_dedup": """
            SELECT event_type, count(*) AS n_users
            FROM (SELECT DISTINCT user_id, event_type FROM events)
            GROUP BY event_type""",
        "quality_score": f"""
            SELECT source, round(avg({TX.quality_score_sql('text')}), 6) AS avg_quality
            FROM documents GROUP BY source""",
        "asof_join": """
            SELECT c.event_id, c.user_id,
                   round(c.value, 2) AS click_value,
                   round(v.value, 2) AS view_value,
                   date_diff('microsecond', v.ts, c.ts) AS age_us
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id AND c.ts >= v.ts""",
        # fixed-point centroid-distance replay — integer-exact twin
        "label_outliers": SIM.label_outliers_sql(
            "embeddings", "embedding", "vec_id", "label", k=20),
        # composed: the outlier twin nests as the kNN vote's query CTE
        "mislabel_knn": SIM.knn_label_vote_sql(
            "embeddings",
            "SELECT e.* FROM embeddings e JOIN ("
            + SIM.label_outliers_sql(
                "embeddings", "embedding", "vec_id", "label", k=20)
            + ") _o USING (vec_id)",
            "embedding", "vec_id", "label", k=5),
        # layout family: replay the z-order write's segment arithmetic
        # from the source table; the Spark side reports parquet FOOTER
        # stats of the files it wrote — equality proves layout + stats
        "zorder_extents": LA.zorder_fixed_extents_sql(
            _ZORDER_SRC_SQL, _ZORDER_COLS,
            bits=_ZORDER_BITS, n_files=_ZORDER_FILES),
        # pruning value of that layout: replay the extents, apply the
        # same interval-disjointness prune the footer scan applies
        "zorder_pruning": f"""
            WITH _ext AS ({LA.zorder_fixed_extents_sql(
                _ZORDER_SRC_SQL, _ZORDER_COLS,
                bits=_ZORDER_BITS, n_files=_ZORDER_FILES)}),
            _cls AS (SELECT *,
                (price_max < {_ZPRUNE_BOX['price'][0]!r}
                 OR price_min > {_ZPRUNE_BOX['price'][1]!r}
                 OR cust_max < {_ZPRUNE_BOX['cust'][0]!r}
                 OR cust_min > {_ZPRUNE_BOX['cust'][1]!r}) AS _pruned
                FROM _ext)
            SELECT count(*) AS files_total,
                   CAST(sum(CASE WHEN _pruned THEN 1 ELSE 0 END) AS BIGINT)
                       AS files_pruned,
                   CAST(sum(CASE WHEN _pruned THEN 0 ELSE num_rows END)
                        AS BIGINT) AS rows_in_read_files,
                   (SELECT count(*) FROM ({_ZORDER_SRC_SQL})
                    WHERE price BETWEEN {_ZPRUNE_BOX['price'][0]!r}
                                AND {_ZPRUNE_BOX['price'][1]!r}
                      AND cust BETWEEN {_ZPRUNE_BOX['cust'][0]!r}
                                AND {_ZPRUNE_BOX['cust'][1]!r})
                       AS rows_selected
            FROM _cls""",
        # shared verbatim with asof_join: the sliced path is
        # result-identical by contract on a unique-(by, ts) right side
        "asof_sliced": """
            SELECT c.event_id, c.user_id,
                   round(c.value, 2) AS click_value,
                   round(v.value, 2) AS view_value,
                   date_diff('microsecond', v.ts, c.ts) AS age_us
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id AND c.ts >= v.ts""",
        "asof_forward": """
            SELECT c.event_id, c.user_id,
                   round(c.value, 2) AS click_value,
                   round(v.value, 2) AS view_value,
                   date_diff('microsecond', c.ts, v.ts) AS lead_us
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id AND c.ts <= v.ts""",
        "asof_tolerance": """
            SELECT c.event_id, c.user_id,
                   round(c.value, 2) AS click_value,
                   CASE WHEN date_diff('microsecond', v.ts, c.ts) <= 900000000
                        THEN round(v.value, 2) END AS view_value,
                   CASE WHEN date_diff('microsecond', v.ts, c.ts) <= 900000000
                        THEN date_diff('microsecond', v.ts, c.ts) END AS age_us
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id AND c.ts >= v.ts""",
        "range_join": """
            SELECT e.event_id AS error_id, count(*) AS n_clicks,
                   min(c.event_id) AS first_click_id
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON e.user_id = c.user_id
             AND c.ts BETWEEN e.ts AND e.ts + INTERVAL 1 HOUR
            GROUP BY e.event_id""",
        "media_meta": f"""
            SELECT true_mime AS mime, count(*) AS n,
                   CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
                   max(true_width) AS max_width,
                   max(true_height) AS max_height,
                   max(true_duration_ms) AS max_duration_ms
            FROM '{MEDIA_PARQUET}' GROUP BY true_mime""",
        "media_features": f"""
            SELECT doc_id, round(true_feat_mean, 4) AS feat_mean
            FROM '{MEDIA_PARQUET}' WHERE feat_check""",
        # pre-encode ground-truth bands + all-pairs Hamming pairing:
        # banding is recall-exact below n_bands (pigeonhole) and
        # precision-exact (full-Hamming verify), so all-pairs SQL is the
        # same relation the banded equi-join computes
        "image_near_dup": f"""
            WITH _ind_sigs AS (
                SELECT doc_id, true_b0 AS b0, true_b1 AS b1,
                       true_b2 AS b2, true_b3 AS b3
                FROM '{IMAGE_DEDUP_PARQUET}'),
            _ind_pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       bit_count(xor(a.b0, b.b0))
                     + bit_count(xor(a.b1, b.b1))
                     + bit_count(xor(a.b2, b.b2))
                     + bit_count(xor(a.b3, b.b3)) AS hd
                FROM _ind_sigs a JOIN _ind_sigs b
                  ON a.doc_id < b.doc_id),
            _ind_near AS (SELECT * FROM _ind_pairs WHERE hd <= 3),
            _ind_part AS (
                SELECT id_a AS doc_id, hd FROM _ind_near
                UNION ALL
                SELECT id_b AS doc_id, hd FROM _ind_near),
            _ind_agg AS (
                SELECT doc_id, count(*) AS n_near, min(hd) AS best
                FROM _ind_part GROUP BY doc_id)
            SELECT s.doc_id,
                   s.b0::INTEGER AS b0, s.b1::INTEGER AS b1,
                   s.b2::INTEGER AS b2, s.b3::INTEGER AS b3,
                   COALESCE(a.n_near, 0)::BIGINT AS n_near,
                   COALESCE(a.best, -1)::INTEGER AS best_hamming
            FROM _ind_sigs s LEFT JOIN _ind_agg a USING (doc_id)""",
        # the image_near_dup oracle shape over the pHash truth columns
        "image_near_dup_phash": f"""
            WITH _inp_sigs AS (
                SELECT doc_id, true_p0 AS b0, true_p1 AS b1,
                       true_p2 AS b2, true_p3 AS b3
                FROM '{IMAGE_DEDUP_PARQUET}'),
            _inp_pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       bit_count(xor(a.b0, b.b0))
                     + bit_count(xor(a.b1, b.b1))
                     + bit_count(xor(a.b2, b.b2))
                     + bit_count(xor(a.b3, b.b3)) AS hd
                FROM _inp_sigs a JOIN _inp_sigs b
                  ON a.doc_id < b.doc_id),
            _inp_near AS (SELECT * FROM _inp_pairs WHERE hd <= 3),
            _inp_part AS (
                SELECT id_a AS doc_id, hd FROM _inp_near
                UNION ALL
                SELECT id_b AS doc_id, hd FROM _inp_near),
            _inp_agg AS (
                SELECT doc_id, count(*) AS n_near, min(hd) AS best
                FROM _inp_part GROUP BY doc_id)
            SELECT s.doc_id,
                   s.b0::INTEGER AS b0, s.b1::INTEGER AS b1,
                   s.b2::INTEGER AS b2, s.b3::INTEGER AS b3,
                   COALESCE(a.n_near, 0)::BIGINT AS n_near,
                   COALESCE(a.best, -1)::INTEGER AS best_hamming
            FROM _inp_sigs s LEFT JOIN _inp_agg a USING (doc_id)""",
        # same pre-encode-truth + all-pairs shape over the audio fixture
        "audio_near_dup": f"""
            WITH _and_sigs AS (
                SELECT doc_id, true_b0 AS b0, true_b1 AS b1,
                       true_b2 AS b2, true_b3 AS b3
                FROM '{AUDIO_DEDUP_PARQUET}'),
            _and_pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       bit_count(xor(a.b0, b.b0))
                     + bit_count(xor(a.b1, b.b1))
                     + bit_count(xor(a.b2, b.b2))
                     + bit_count(xor(a.b3, b.b3)) AS hd
                FROM _and_sigs a JOIN _and_sigs b
                  ON a.doc_id < b.doc_id),
            _and_near AS (SELECT * FROM _and_pairs WHERE hd <= 3),
            _and_part AS (
                SELECT id_a AS doc_id, hd FROM _and_near
                UNION ALL
                SELECT id_b AS doc_id, hd FROM _and_near),
            _and_agg AS (
                SELECT doc_id, count(*) AS n_near, min(hd) AS best
                FROM _and_part GROUP BY doc_id)
            SELECT s.doc_id,
                   s.b0::INTEGER AS b0, s.b1::INTEGER AS b1,
                   s.b2::INTEGER AS b2, s.b3::INTEGER AS b3,
                   COALESCE(a.n_near, 0)::BIGINT AS n_near,
                   COALESCE(a.best, -1)::INTEGER AS best_hamming
            FROM _and_sigs s LEFT JOIN _and_agg a USING (doc_id)""",
        # extend≡rebuild law + pre-encode-truth all-pairs replay of the
        # banded probe (recall-exact by pigeonhole for hamming < 4,
        # precision-exact by the full-signature verify) — per kind,
        # even doc_ids are the eval suite (build %4==0, extend %4==2),
        # odd doc_ids the incoming training batch
        "media_contamination_firewall": f"""
            WITH _mcf_sigs AS (
                SELECT 'image' AS kind, doc_id, true_b0 AS b0,
                       true_b1 AS b1, true_b2 AS b2, true_b3 AS b3
                FROM '{IMAGE_DEDUP_PARQUET}'
                UNION ALL
                SELECT 'audio' AS kind, doc_id, true_b0 AS b0,
                       true_b1 AS b1, true_b2 AS b2, true_b3 AS b3
                FROM '{AUDIO_DEDUP_PARQUET}'),
            _mcf_hits AS (
                SELECT i.kind, i.doc_id,
                       count(DISTINCT e.doc_id)::BIGINT AS n_eval_hits,
                       min(bit_count(xor(i.b0, e.b0))
                         + bit_count(xor(i.b1, e.b1))
                         + bit_count(xor(i.b2, e.b2))
                         + bit_count(xor(i.b3, e.b3)))::INTEGER AS best
                FROM _mcf_sigs i JOIN _mcf_sigs e
                  ON i.kind = e.kind
                 AND i.doc_id % 2 = 1 AND e.doc_id % 2 = 0
                 AND bit_count(xor(i.b0, e.b0))
                   + bit_count(xor(i.b1, e.b1))
                   + bit_count(xor(i.b2, e.b2))
                   + bit_count(xor(i.b3, e.b3)) <= 3
                GROUP BY i.kind, i.doc_id)
            SELECT s.kind, s.doc_id,
                   COALESCE(h.n_eval_hits, 0)::BIGINT AS n_eval_hits,
                   COALESCE(h.best, -1)::INTEGER AS best_hamming,
                   (h.doc_id IS NOT NULL) AS contaminated
            FROM _mcf_sigs s LEFT JOIN _mcf_hits h
              ON s.kind = h.kind AND s.doc_id = h.doc_id
            WHERE s.doc_id % 2 = 1""",
        # per-frame pre-encode truth -> digest + all-pairs frame
        # matching + census (the image_near_dup oracle lifted to frames)
        "video_near_dup": f"""
            WITH _vnd_sigs AS (
                SELECT doc_id, frame_idx,
                       true_b0::VARCHAR || ':' || true_b1::VARCHAR
                       || ':' || true_b2::VARCHAR || ':'
                       || true_b3::VARCHAR AS fs,
                       true_b0 AS b0, true_b1 AS b1,
                       true_b2 AS b2, true_b3 AS b3
                FROM '{VIDEO_DEDUP_TRUTH}'),
            _vnd_digest AS (
                SELECT doc_id, count(*)::INTEGER AS n_frames,
                       md5(string_agg(fs, ',' ORDER BY frame_idx))
                           AS frames_md5
                FROM _vnd_sigs GROUP BY doc_id),
            _vnd_fp AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       bit_count(xor(a.b0, b.b0))
                     + bit_count(xor(a.b1, b.b1))
                     + bit_count(xor(a.b2, b.b2))
                     + bit_count(xor(a.b3, b.b3)) AS hd
                FROM _vnd_sigs a JOIN _vnd_sigs b
                  ON a.doc_id < b.doc_id),
            _vnd_m AS (
                SELECT id_a, id_b, count(*)::BIGINT AS nm
                FROM _vnd_fp WHERE hd <= 3
                GROUP BY id_a, id_b HAVING count(*) >= 2),
            _vnd_part AS (
                SELECT id_a AS doc_id, nm FROM _vnd_m
                UNION ALL SELECT id_b AS doc_id, nm FROM _vnd_m),
            _vnd_agg AS (
                SELECT doc_id, count(*)::BIGINT AS n_near,
                       max(nm)::BIGINT AS best
                FROM _vnd_part GROUP BY doc_id)
            SELECT d.doc_id, d.n_frames, d.frames_md5,
                   COALESCE(a.n_near, 0)::BIGINT AS n_near,
                   COALESCE(a.best, 0)::BIGINT AS best_matched
            FROM _vnd_digest d LEFT JOIN _vnd_agg a USING (doc_id)""",
        "running_total": """
            SELECT o_custkey, max(running) AS final_total,
                   count(*) AS n_orders
            FROM (SELECT o_custkey,
                         round(sum(o_totalprice) OVER (
                             PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
                  FROM orders)
            GROUP BY o_custkey""",
        "chunk_docs": RET.chunk_by_tokens_sql_select(
            "documents", "text", "doc_id", size=64, stride=48),
        "bm25": RET.bm25_sql("documents", "text", "doc_id", BM25_TERMS, k=15),
        # the firewall probes a persisted build(A)+extend(B) index; the
        # oracle recomputes from scratch over the UNION eval side — the
        # extend≡rebuild law is what makes these the same query
        "contamination_firewall": RET.ngram_contamination_sql(
            train_sel=("SELECT doc_id, text FROM documents "
                       "WHERE doc_id % 4 != 0"),
            eval_sel="SELECT text FROM documents WHERE doc_id % 4 = 0",
            text_col="text", id_col="doc_id", n=5),
        # serial-window twin of the bucket-decomposed budget cut: exact
        # integer sums re-associate, so the forms are identical
        "token_budget_sample": ("SELECT doc_id, source, n_tokens, "
                                "tokens_through FROM ("
                                + SMP.token_budget_sample_sql(
                                    ("(SELECT doc_id, source, "
                                     f"CAST({TX.token_count_sql('text')} "
                                     "AS BIGINT) AS n_tokens "
                                     "FROM documents)"),
                                    cost_expr="n_tokens",
                                    key_col="doc_id", budget=600,
                                    by="source", salt="mix0") + ")"),
        # removal half: the same recompute CTE, left-joined back with
        # conditional sums so fully-contaminated sources still report
        "decontaminate_corpus": f"""
            WITH cont AS ({RET.ngram_contamination_sql(
                train_sel=("SELECT doc_id, text FROM documents "
                           "WHERE doc_id % 4 != 0"),
                eval_sel="SELECT text FROM documents WHERE doc_id % 4 = 0",
                text_col="text", id_col="doc_id", n=5)})
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_in,
                   CAST(count(c.doc_id) AS BIGINT) AS n_dropped,
                   CAST(sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN c.doc_id IS NULL
                                 THEN {TX.token_count_sql('text')} END)
                        AS BIGINT) AS tokens_kept
            FROM (SELECT doc_id, source, text FROM documents
                  WHERE doc_id % 4 != 0) d
            LEFT JOIN cont c USING (doc_id)
            GROUP BY source""",
        "contamination": RET.ngram_contamination_sql(
            train_sel=("SELECT doc_id, text FROM documents WHERE "
                       + SMP.hash_split_sql_case("doc_id", _CONT_WEIGHTS,
                                                 _CONT_SALT) + " = 'train'"),
            eval_sel=("SELECT text FROM documents WHERE "
                      + SMP.hash_split_sql_case("doc_id", _CONT_WEIGHTS,
                                                _CONT_SALT) + " = 'eval'"),
            text_col="text", id_col="doc_id", n=5),
        "shuffle_pos": "SELECT doc_id, shuffle_pos FROM ("
                       + SMP.deterministic_shuffle_sql(
                           "documents", "doc_id", salt="epoch0") + ")",
        "sql_revenue": _SQL_REVENUE,  # the SAME text Spark executes
        "dup_spans": DD.duplicated_spans_sql(
            "documents", "text", "doc_id", k=8, min_count=2),
        # composed twin: the table-parametric generators nest verbatim —
        # line-dedup over documents, LM scoring over its output
        "curate_corpus": f"""
            WITH cleaned AS (
                {DD.remove_duplicated_lines_sql('documents', 'text', 'doc_id')}),
            scored AS (
                {QL.unigram_lm_score_sql('cleaned', 'clean_text', 'doc_id')})
            SELECT d.source,
                   count(*) AS n_docs,
                   sum(CASE WHEN s.perplexity IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_empty,
                   sum(CASE WHEN NOT (s.perplexity <= {_CURATE_MAX_PPL})
                            THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
                   CAST(sum(CASE WHEN s.perplexity <= {_CURATE_MAX_PPL}
                            THEN s.n_tokens END) AS BIGINT) AS kept_tokens,
                   CASE WHEN sum(CASE WHEN s.perplexity <= {_CURATE_MAX_PPL}
                                 THEN 1 ELSE 0 END) > 0 THEN
                     CAST((2 * sum(CASE WHEN s.perplexity <= {_CURATE_MAX_PPL}
                                   THEN CAST(round(s.perplexity * 1000, 0)
                                             AS BIGINT) END) * 1000
                           + sum(CASE WHEN s.perplexity <= {_CURATE_MAX_PPL}
                                 THEN 1 ELSE 0 END))
                          // (2 * sum(CASE WHEN s.perplexity <= {_CURATE_MAX_PPL}
                                      THEN 1 ELSE 0 END)) AS BIGINT) / 1e6
                   END AS avg_kept_ppl
            FROM documents d LEFT JOIN scored s USING (doc_id)
            GROUP BY d.source""",
        # v2: same composed twins + lang-id, thresholds as a VALUES
        # table — the per-language gate joins exactly like the Spark side
        "curate_corpus_v2": f"""
            WITH cleaned AS (
                {DD.remove_duplicated_lines_sql('documents', 'text', 'doc_id')}),
            scored AS (
                {QL.unigram_lm_score_sql('cleaned', 'clean_text', 'doc_id')}),
            lang AS (
                SELECT doc_id, source, {TX.lang_id_sql('text')} AS pred_lang
                FROM documents),
            thr(pred_lang, max_ppl) AS (VALUES {", ".join(
                f"('{k}', {v!r})" for k, v in sorted(_CURATE_LANG_PPL.items()))})
            SELECT l.source, l.pred_lang,
                   count(*) AS n_docs,
                   sum(CASE WHEN s.perplexity IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_empty,
                   sum(CASE WHEN NOT (s.perplexity <= t.max_ppl)
                            THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
                   CAST(sum(CASE WHEN s.perplexity <= t.max_ppl
                            THEN s.n_tokens END) AS BIGINT) AS kept_tokens,
                   CASE WHEN sum(CASE WHEN s.perplexity <= t.max_ppl
                                 THEN 1 ELSE 0 END) > 0 THEN
                     CAST((2 * sum(CASE WHEN s.perplexity <= t.max_ppl
                                   THEN CAST(round(s.perplexity * 1000, 0)
                                             AS BIGINT) END) * 1000
                           + sum(CASE WHEN s.perplexity <= t.max_ppl
                                 THEN 1 ELSE 0 END))
                          // (2 * sum(CASE WHEN s.perplexity <= t.max_ppl
                                      THEN 1 ELSE 0 END)) AS BIGINT) / 1e6
                   END AS avg_kept_ppl
            FROM lang l LEFT JOIN scored s USING (doc_id)
            JOIN thr t ON t.pred_lang = l.pred_lang
            GROUP BY l.source, l.pred_lang""",
        "remove_dup_lines": f"""
            SELECT doc_id, md5(clean_text) AS clean_md5,
                   n_lines, n_lines_removed
            FROM ({DD.remove_duplicated_lines_sql('documents', 'text', 'doc_id')})""",
        # apply half: same span replay wrapped with the positional cut
        "remove_dup_spans": f"""
            SELECT doc_id, md5(clean_text) AS clean_md5,
                   CAST(n_tokens AS INT) AS n_tokens,
                   CAST(n_tokens_removed AS INT) AS n_tokens_removed,
                   CAST(n_spans_removed AS INT) AS n_spans_removed
            FROM ({DD.remove_duplicated_spans_sql('documents', 'text', 'doc_id')})""",
        "corpus_report": f"""
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS total_tokens,
                   round(avg({TX.quality_score_sql('text')}), 6) AS avg_quality,
                   CAST(sum(CASE WHEN {TX.lang_id_sql('text')} = 'en'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
                   count(DISTINCT {TX.fingerprint_sql('text')}) AS distinct_docs,
                   round(1.0 - CAST(count(DISTINCT {TX.fingerprint_sql('text')})
                                    AS DOUBLE) / count(*), 6) AS dup_frac
            FROM documents GROUP BY source""",
        "retention": """
            WITH first AS (
              SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
              FROM events GROUP BY user_id)
            SELECT f.cohort_day,
                   CAST(date_diff('day', f.cohort_day,
                                  CAST(e.ts AS DATE)) AS INT) AS age_days,
                   count(DISTINCT e.user_id) AS n_users
            FROM events e JOIN first f USING (user_id)
            GROUP BY f.cohort_day, age_days""",
        "chunk_dedup": f"""
            WITH chunks AS ({RET.chunk_by_tokens_sql_select(
                "documents", "text", "doc_id", size=32, stride=32)}),
                 per_chunk AS (
                   SELECT d.source, c.chunk_md5, count(*) AS _n
                   FROM chunks c JOIN documents d USING (doc_id)
                   GROUP BY d.source, c.chunk_md5)
            SELECT source,
                   CAST(sum(_n) AS BIGINT) AS total_chunks,
                   count(*) AS distinct_chunks,
                   CAST(sum(_n) - count(*) AS BIGINT) AS dup_chunks,
                   round(CAST(sum(_n) - count(*) AS DOUBLE)
                         / nullif(sum(_n), 0), 6) AS dup_frac
            FROM per_chunk GROUP BY source""",
        "percentile_native": """
            SELECT event_type,
                   round(CAST(q[1] AS DOUBLE), 6) AS p50,
                   round(CAST(q[2] AS DOUBLE), 6) AS p90,
                   round(CAST(q[3] AS DOUBLE), 6) AS p99
            FROM (SELECT event_type,
                         quantile_cont(value, [0.5, 0.9, 0.99]) AS q
                  FROM events GROUP BY event_type)""",
        "cdc_compact": """
            SELECT user_id, event_type AS last_type,
                   round(value, 6) AS last_value,
                   event_id AS last_event_id
            FROM (SELECT user_id, event_type, value, event_id,
                         row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1 AND event_type <> 'error'""",
        # Generated from the same E-S variate spec as the Spark side
        # (operators/sampling.py weighted_sample_sql) — identical hash,
        # identical -ln(u)/w priority, identical tie-break.
        "weighted_sample": """
            SELECT doc_id, source, n_chars, round(pri, 6) AS priority
            FROM ({inner})
        """.format(inner=SMP.weighted_sample_sql(
            "documents", 60, "n_chars", "doc_id", salt="r4",
            priority_col="pri")),
        # Exact top-15 token counts hashed; the sketch's Misra-Gries
        # envelope bit asserted as the constant 1 (worst-case theorem,
        # checked Spark-side against est/upper from the sketch).
        "sketch_heavy_hitters": f"""
            SELECT token, n, 1 AS within_bounds
            FROM (SELECT token, count(*) AS n
                  FROM (SELECT unnest({_sql_tokens('text')}) AS token
                        FROM documents)
                  WHERE len(token) >= 4
                  GROUP BY token
                  ORDER BY n DESC, token LIMIT 15)""",
        # The MERGE oracle is the BATCH recompute: incremental
        # (compact prefix -> merge suffix) must equal full-log
        # compaction at any cutoff — identical SQL to cdc_compact by
        # design; the Spark side takes the incremental path.
        "merge_upsert": """
            SELECT user_id, event_type AS last_type,
                   round(value, 6) AS last_value,
                   event_id AS last_event_id
            FROM (SELECT user_id, event_type, value, event_id,
                         row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1 AND event_type <> 'error'""",
        # Exact-quantile twins hashed; the sketch's accountability bits
        # are asserted as the constant 1 (the GK rank-error guarantee,
        # checked Spark-side against exact percentiles at p +/- 3*eps).
        "sketch_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS exact_p50,
                   round(quantile_cont(value, 0.9), 6) AS exact_p90,
                   1 AS within_tol_p50,
                   1 AS within_tol_p90
            FROM events GROUP BY event_type""",
        "clean_corpus": f"""
            WITH scored AS (
              SELECT doc_id, source,
                     {TX.lang_id_sql('text')} AS lid,
                     round({TX.quality_score_sql('text')}, 6) AS q,
                     {TX.redact_pii_sql('text')} AS clean_text
              FROM documents),
            kept AS (
              SELECT *, {TX.fingerprint_sql('clean_text')} AS fp
              FROM scored WHERE lid = 'en' AND q >= 0.7),
            dedup AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY fp
                              ORDER BY doc_id) AS rn
                FROM kept)
              WHERE rn = 1)
            SELECT source, count(*) AS n_docs,
                   CAST(sum({TX.token_count_sql('clean_text')}) AS BIGINT)
                       AS total_tokens,
                   round(avg(q), 6) AS avg_quality
            FROM dedup GROUP BY source""",
        "scd2": """
            WITH hist AS (
              SELECT user_id, event_type, value, ts, event_id,
                     lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS valid_to
              FROM events),
            surv AS (
              SELECT *, row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
              FROM hist WHERE event_type <> 'error')
            SELECT user_id, count(*) AS n_versions,
                   CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_current,
                   CASE WHEN count(valid_to) > 0 THEN
                     ((2 * sum(date_diff('microsecond', ts, valid_to))
                       + count(valid_to)) // (2 * count(valid_to))) / 1e6
                   END AS avg_version_s,
                   round(max(CASE WHEN rn = 1 THEN value END), 6)
                       AS current_value
            FROM surv GROUP BY user_id""",
        "anti_join": """
            SELECT n_name, count(*) AS n_custs
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 300000)
            GROUP BY n_name""",
        "funnel": """
            SELECT user_id, count(*) AS n_clicks,
                   count(np) AS n_converted,
                   CASE WHEN count(np) > 0 THEN
                     ((2 * sum(date_diff('microsecond', ts, np)) + count(np))
                      // (2 * count(np))) / 1e6 END AS avg_delay_s
            FROM (SELECT user_id, ts, event_type,
                         min(CASE WHEN event_type = 'purchase' THEN ts END)
                             OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN CURRENT ROW
                                            AND UNBOUNDED FOLLOWING) AS np
                  FROM events)
            WHERE event_type = 'click'
            GROUP BY user_id""",
    }
    # tokenizer_oov: the twin SQL is generated from the SAME inventories
    # the rig encodes with (the subword_step_case_sql convention) — no
    # data-dependent constants, so no replay guard needed.
    out["tokenizer_oov"] = f"""
        SELECT 'frozen' AS tokenizer, * FROM (
            {TKZ.tokenizer_oov_stats_sql(
                "documents", "text", "doc_id",
                max_fallback_milli=_OOV_MAX_FALLBACK_MILLI)})
        UNION ALL
        SELECT 'tiny' AS tokenizer, * FROM (
            {TKZ.tokenizer_oov_stats_sql(
                "documents", "text", "doc_id", inventory=_OOV_TINY_INV,
                max_fallback_milli=_OOV_MAX_FALLBACK_MILLI)})"""
    # The IVF twin replays data-dependent centroids from the fixture's
    # embeddings parquet EAGERLY; if the resolved fixture lacks the file
    # or outgrows the replay's sample_limit, that must cost only the two
    # ann_ivf entries (rows-only checks), never the whole oracle dict
    # (r5 ADVICE).
    try:
        ivf = _ivf_oracle()
        out["ann_ivf"] = ivf
        out["ann_ivf_indexed"] = ivf
    except Exception as exc:  # noqa: BLE001 — degrade, don't break all
        import sys
        print(f"# ann_ivf oracle unavailable for this fixture: {exc}",
              file=sys.stderr)
    # Same replay guard for the IVF maintenance arc (r12): both twins
    # embed BUILD-slice-trained centroid literals.
    try:
        out["ann_ivf_extend"] = _ivf_extend_oracle()
        out["ivf_drift"] = _ivf_drift_oracle()
    except Exception as exc:  # noqa: BLE001 — degrade, don't break all
        import sys
        print(f"# ivf extend/drift oracle unavailable for this fixture: "
              f"{exc}", file=sys.stderr)
    # Same replay guard for the IVF-PQ arc (r13): coarse centroids AND
    # int64 residual codebooks are build-slice-trained literals.
    try:
        out["ann_ivf_pq"] = _ivf_pq_oracle()
    except Exception as exc:  # noqa: BLE001 — degrade, don't break all
        import sys
        print(f"# ann_ivf_pq oracle unavailable for this fixture: {exc}",
              file=sys.stderr)
    # Same replay, same guard, for the SemDeDup twin (min_id=0 corpus).
    try:
        out["semantic_dedup"] = _semantic_dedup_oracle()
    except Exception as exc:  # noqa: BLE001 — degrade, don't break all
        import sys
        print(f"# semantic_dedup oracle unavailable for this fixture: {exc}",
              file=sys.stderr)
    # Same data-dependent-constant guard for the Bloom re-size twin
    # (the after-geometry derives from the fixture's exact distinct
    # count at oracle-generation time).
    try:
        out["bloom_resize_roundtrip"] = _bloom_resize_oracle()
    except Exception as exc:  # noqa: BLE001 — degrade, don't break all
        import sys
        print(f"# bloom_resize oracle unavailable for this fixture: {exc}",
              file=sys.stderr)
    out["drift_psi_quantile"] = _drift_psi_quantile_oracle()
    out["stream_drift"] = _stream_drift_oracle()
    out["event_transitions"] = """
        WITH _et_pairs AS (
            SELECT event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       AS next_type
            FROM events),
        _et_c AS (
            SELECT event_type, next_type, count(*)::BIGINT AS n
            FROM _et_pairs WHERE next_type IS NOT NULL
            GROUP BY 1, 2),
        _et_t AS (SELECT event_type, sum(n)::BIGINT AS _t
                  FROM _et_c GROUP BY 1)
        SELECT _et_c.event_type, next_type, n, round(n / _t, 6) AS p
        FROM _et_c JOIN _et_t USING (event_type)"""
    out["compaction_plan"] = LA.compaction_plan_sql(
        "SELECT source, source || '_' || lang AS file, "
        "CAST(sum(n_chars) AS BIGINT) AS bytes "
        "FROM documents GROUP BY source, lang",
        "file", "bytes", target_bytes=4000, partition_cols=["source"])
    out["drift_psi"] = QL.psi_drift_sql(
        "SELECT n_chars FROM documents WHERE lang = 'en'",
        "SELECT n_chars FROM documents WHERE lang <> 'en'",
        "n_chars", 0, 600, n_bins=12)
    out["entropy_filter"] = (
        "SELECT * FROM ("
        + QL.token_entropy_profile_sql("documents", "text", "doc_id")
        + ") ORDER BY entropy_micro, doc_id LIMIT 25")
    from frames_map_reduce_spark.operators.temporal import rolling_zscore_sql
    out["anomaly_zscore"] = f"""
        SELECT user_id, event_id, round(value, 2) AS value,
               n_window, round(z, 6) AS z
        FROM ({rolling_zscore_sql("events", "value", "ts", ["user_id"],
                                  "event_id", window=20, min_periods=8)})
        WHERE abs(z) >= 2.5"""
    out["psi_lifecycle"] = _psi_lifecycle_oracle()
    out["profile_corpus"] = LA.profile_frame_sql(
        "documents", ["doc_id", "source", "lang", "n_chars"])
    out["quality_dashboard"] = _quality_dashboard_oracle()
    out["token_ids_roundtrip"] = _token_ids_roundtrip_oracle()
    return out
