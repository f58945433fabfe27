"""Key-coarsening aggregation (reference ``src/Frames/Aggregation.hs``).

The packaged pattern: re-key rows through a ``RecordKeyMap`` (e.g.
age → age-band), then re-aggregate the data columns under the coarser key,
holding optional constant key columns fixed
(reference src/Frames/Aggregation.hs:28-31,94-136).

Spark rendering (SURVEY §3.2): the key map is a ``withColumn`` projection
(or a broadcast join against a mapping table for data-driven maps), the
old fine keys are dropped, and one ``groupBy(constant ++ coarse).agg``
finishes the job.  The reference implements the held-fixed variant as a
*nested* map-reduce (Aggregation/General.hs:191-196); Spark needs no
nesting — one flat groupBy has identical semantics and one shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from frames_map_reduce_spark.folds import Fold
from frames_map_reduce_spark.mapreduce import fold_and_add_key, map_reduce, split_on_keys, unpack_no_op
from frames_map_reduce_spark.schema import require_columns, require_disjoint


@dataclass(frozen=True)
class KeyMap:
    """``RecordKeyMap k k'`` (reference src/Frames/Aggregation.hs:62-63):
    a total function coarsening key columns ``in_cols`` into new key
    columns given by ``exprs`` (out name → Column expression over the
    input key columns)."""

    in_cols: tuple[str, ...]
    exprs: tuple[tuple[str, Column], ...]

    @property
    def out_cols(self) -> list[str]:
        return [n for n, _ in self.exprs]


def key_map(in_col: str, out_col: str,
            fn: Callable[[Column], Column] | Column) -> KeyMap:
    """Lift a single-column value function to a key map (reference
    ``keyMap``, src/Frames/Aggregation.hs:76-83).  ``fn`` is a Column
    expression or a callable Column→Column (e.g. a ``F.when`` chain for a
    categorical re-coding — the Spark form of the reference's
    ``Snd a -> Snd b`` Haskell lambda)."""
    expr = fn(F.col(in_col)) if callable(fn) else fn
    return KeyMap((in_col,), ((out_col, expr),))


def combine_key_aggregations(a: KeyMap, b: KeyMap) -> KeyMap:
    """Product of key maps over disjoint column sets, disjointness checked
    at plan time exactly as the reference type-checks it
    (``combineKeyAggregations``, src/Frames/Aggregation.hs:65-74 with
    ``Disjoint a' b' ~ 'True``)."""
    require_disjoint(a.in_cols, b.in_cols, "key-map inputs")
    require_disjoint(a.out_cols, b.out_cols, "key-map outputs")
    return KeyMap(a.in_cols + b.in_cols, a.exprs + b.exprs)


def identity_key_map(cols: Sequence[str]) -> KeyMap:
    """``id`` over constant keys — what ``aggregateFold`` composes in for
    the held-fixed columns (reference src/Frames/Aggregation.hs:130-133)."""
    return KeyMap(tuple(cols), tuple((c, F.col(c)) for c in cols))


def aggregate_all_fold(df: DataFrame, km: KeyMap, data_fold: Fold) -> DataFrame:
    """Re-key every row, drop the old keys, group by the new keys, fold the
    data (reference ``aggregateAllFold``, src/Frames/Aggregation.hs:85-121;
    the flatMap-Unpack at :116-118 appends new key cols and drops old —
    here a withColumns projection, a strictly 1→1 rewrite)."""
    require_columns(df, km.in_cols, "key-map input")
    rekeyed = df.withColumns(dict(km.exprs))
    drop = [c for c in km.in_cols if c not in km.out_cols]
    if drop:
        rekeyed = rekeyed.drop(*drop)
    return map_reduce(
        rekeyed,
        unpack=unpack_no_op(),
        assign=split_on_keys(km.out_cols),
        reduce=fold_and_add_key(data_fold),
    )


def aggregate_fold(df: DataFrame, km: KeyMap, data_fold: Fold,
                   constant_keys: Sequence[str] = ()) -> DataFrame:
    """Same, holding ``constant_keys`` fixed (reference ``aggregateFold``,
    src/Frames/Aggregation.hs:123-136: ``combineKeyAggregations @k @k id f``
    then delegate)."""
    full = combine_key_aggregations(identity_key_map(constant_keys), km) \
        if constant_keys else km
    return aggregate_all_fold(df, full, data_fold)


def merge_data_folds(*folds: Fold) -> Fold:
    """Applicative product of data folds (reference ``mergeDataFolds``,
    src/Frames/Aggregation.hs:169-173) — one pass for all outputs."""
    if not folds:
        raise ValueError("merge_data_folds of zero folds")
    return folds[0].merge(*folds[1:])


def rollup_fold(df: DataFrame, key_cols: Sequence[str], data_fold: Fold,
                level_col: str = "grouping_level") -> DataFrame:
    """Hierarchical key-coarsening in ONE pass: fold the data at every
    prefix level of ``key_cols`` (full keys, each rollup, grand total).

    This generalizes ``aggregate_fold``'s single coarsening into the
    whole hierarchy — the reference would run one ``aggregateFold`` per
    level and concatenate (src/Frames/Aggregation.hs:123-136 +
    frameConcat); Spark's ``rollup`` computes all levels from one
    shuffle with partial aggregation, so the N-pass concat collapses
    into one job.  Rolled-up key columns come back NULL (SQL ROLLUP
    convention); ``level_col`` carries ``grouping_id`` (bigint — 0 for
    the finest level) so NULL-as-rolled-up and NULL-as-data stay
    distinguishable.
    """
    require_columns(df, key_cols)
    return (df.rollup(*key_cols)
              .agg(F.grouping_id().cast("bigint").alias(level_col),
                   *data_fold.columns())
              .select(*key_cols, level_col, *data_fold.output_names))


def cube_fold(df: DataFrame, key_cols: Sequence[str], data_fold: Fold,
              level_col: str = "grouping_level") -> DataFrame:
    """Like :func:`rollup_fold` but over EVERY subset of ``key_cols``
    (2^n groupings), still one shuffle."""
    require_columns(df, key_cols)
    return (df.cube(*key_cols)
              .agg(F.grouping_id().cast("bigint").alias(level_col),
                   *data_fold.columns())
              .select(*key_cols, level_col, *data_fold.output_names))


def key_map_from_table(df: DataFrame, mapping: DataFrame, in_col: str,
                       out_col: str, default: Column | None = None) -> DataFrame:
    """Data-driven key map: join against a small mapping table.  At scale
    this is the right form for large categorical re-codings — the mapping
    side is broadcast (bounded dimension), so no shuffle of the fact table.
    """
    require_columns(df, [in_col], "key-map input")
    require_columns(mapping, [in_col, out_col], "mapping column")
    joined = df.join(F.broadcast(mapping), on=in_col, how="left")
    if default is not None:
        joined = joined.withColumn(out_col, F.coalesce(F.col(out_col), default))
    return joined
