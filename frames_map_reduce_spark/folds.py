"""The Fold algebra — composable one-pass aggregates.

The reference's universal aggregate representation is ``FL.Fold x b`` from
the `foldl` package (reference src/Frames/Folds.hs:78): a strict one-pass
fold, composed *applicatively* so a record of folds runs as a single pass
over each group (``sequenceRecFold`` = ``rtraverse``,
src/Frames/Folds.hs:147-154).

Spark translation: a :class:`Fold` holds a list of named aggregate
``Column`` expressions.  The applicative product is list concatenation, and
execution is ONE ``.agg(*exprs)`` call — which Spark runs as a single
``HashAggregateExec`` pass with map-side partial aggregation, exactly the
fold-fusion property the reference engineers by hand.  Arbitrary Python
folds fall back to Arrow-batched GROUPED_AGG pandas UDFs (still one pass,
still partial-aggregatable by Spark).

Reference-parity map (reference file:line → here):
- ``EndoFold`` / ``fieldFold``        src/Frames/Folds.hs:77-84   → any ctor below
- ``recFieldF`` (fold of derived val) src/Frames/Folds.hs:105-113 → ctors accept Column exprs
- ``fieldToFieldFold`` (x → out y)    src/Frames/Folds.hs:115-123 → ``.alias`` / ``out=`` arg
- ``sequenceRecFold`` (record of folds→fold of records) :147-154  → ``Fold.merge`` / ``&``
- ``foldAll``                         src/Frames/Folds.hs:197-206 → :func:`fold_all`
- ``foldAllConstrained @Num``         src/Frames/Folds.hs:208-225 → :func:`fold_all_constrained`
- ``foldAllMonoid``                   src/Frames/Folds.hs:229-249 → :func:`fold_all_monoid`
- ``filteredFold`` (null-skipping)    src/Frames/Folds/General.hs:109-112 → Spark default
- ``functorFoldAllConstrained`` (null-PROPAGATING)
                                      src/Frames/Folds/General.hs:260-273 → ``null_propagating``
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frames_map_reduce_spark.schema import numeric_columns, require_numeric

ColumnLike = "Column | str"


def _c(col: Column | str) -> Column:
    return col if isinstance(col, Column) else F.col(col)


class Fold:
    """An applicatively-composable one-pass aggregate.

    ``Fold`` wraps an ordered list of aliased aggregate Columns.  Compose
    with ``&`` (or :meth:`merge`): the product of two folds is a single
    fold evaluating both in the same pass — the Spark rendering of the
    reference's Applicative fold composition (``mergeDataFolds``,
    src/Frames/Aggregation.hs:169-173).
    """

    def __init__(self, exprs: Sequence[tuple], pandas_names: Sequence[str] = ()):
        names = [n for n, _ in exprs]
        if len(set(names)) != len(names):
            dupes = sorted({n for n in names if names.count(n) > 1})
            raise ValueError(f"duplicate fold output names: {dupes}")
        self._exprs: list[tuple[str, Column]] = list(exprs)
        # outputs backed by GROUPED_AGG pandas UDFs: Spark refuses to mix
        # them with native aggregates in one .agg(), so FoldReduce needs
        # to know which is which to split the passes
        self._pandas_names: frozenset[str] = frozenset(pandas_names)

    # -- algebra -----------------------------------------------------------
    def merge(self, *others: "Fold") -> "Fold":
        """Applicative product: all outputs, still one pass."""
        exprs = list(self._exprs)
        pandas_names = set(self._pandas_names)
        for o in others:
            exprs.extend(o._exprs)
            pandas_names |= o._pandas_names
        return Fold(exprs, pandas_names)

    def __and__(self, other: "Fold") -> "Fold":
        return self.merge(other)

    def rename(self, mapping: dict[str, str]) -> "Fold":
        """Rename outputs (cf. ``fieldToFieldFold``, Folds.hs:115-123)."""
        return Fold([(mapping.get(n, n), e) for n, e in self._exprs],
                    {mapping.get(n, n) for n in self._pandas_names})

    # -- accessors ---------------------------------------------------------
    @property
    def output_names(self) -> list[str]:
        return [n for n, _ in self._exprs]

    def columns(self) -> list[Column]:
        """The aliased aggregate expressions, ready for one ``.agg()``."""
        return [e.alias(n) for n, e in self._exprs]

    def split_pandas(self) -> tuple[list[Column], list[Column]]:
        """(native agg columns, pandas GROUPED_AGG columns) — each list in
        declaration order; empty second list means one .agg() suffices."""
        native = [e.alias(n) for n, e in self._exprs if n not in self._pandas_names]
        pand = [e.alias(n) for n, e in self._exprs if n in self._pandas_names]
        return native, pand


def of(expr: Column, out: str) -> Fold:
    """Wrap an arbitrary aggregate Column expression as a Fold."""
    return Fold([(out, expr)])


# ---------------------------------------------------------------------------
# Fold vocabulary.  Every ctor accepts a column NAME or an arbitrary Column
# EXPRESSION — the latter is the reference's ``recFieldF`` / ``FL.premap``
# (fold over a derived per-row value, src/Frames/Folds.hs:105-113).
# ---------------------------------------------------------------------------

def _named(col: Column | str, out: str | None, fn_name: str) -> str:
    if out is not None:
        return out
    if isinstance(col, str):
        return col
    raise ValueError(f"{fn_name} over an expression needs an explicit out= name")


def sum_(col: Column | str, out: str | None = None) -> Fold:
    """``FL.sum`` (used at reference Readme.md:111). Null-skipping."""
    return Fold([(_named(col, out, "sum_"), F.sum(_c(col)))])


def mean_(col: Column | str, out: str | None = None) -> Fold:
    return Fold([(_named(col, out, "mean_"), F.avg(_c(col)))])


def min_(col: Column | str, out: str | None = None) -> Fold:
    return Fold([(_named(col, out, "min_"), F.min(_c(col)))])


def max_(col: Column | str, out: str | None = None) -> Fold:
    return Fold([(_named(col, out, "max_"), F.max(_c(col)))])


def count_(col: Column | str, out: str | None = None) -> Fold:
    """Count of non-null values of ``col``."""
    return Fold([(_named(col, out, "count_"), F.count(_c(col)))])


def count_star(out: str = "count") -> Fold:
    return Fold([(out, F.count(F.lit(1)))])


def count_distinct(col: Column | str, out: str | None = None) -> Fold:
    return Fold([(_named(col, out, "count_distinct"), F.count_distinct(_c(col)))])


def var_(col: Column | str, out: str | None = None) -> Fold:
    return Fold([(_named(col, out, "var_"), F.var_samp(_c(col)))])


def stddev_(col: Column | str, out: str | None = None) -> Fold:
    return Fold([(_named(col, out, "stddev_"), F.stddev_samp(_c(col)))])


def first_(col: Column | str, out: str | None = None) -> Fold:
    return Fold([(_named(col, out, "first_"), F.first(_c(col), ignorenulls=True))])


def last_(col: Column | str, out: str | None = None) -> Fold:
    """``FL.last`` (cf. foldAll example, reference src/Frames/Folds.hs:197)."""
    return Fold([(_named(col, out, "last_"), F.last(_c(col), ignorenulls=True))])


def collect_sorted(col: Column | str, out: str | None = None) -> Fold:
    """``FL.list`` (reference examples/AddRowsByLabel.hs:116) — but sorted:
    group order is nondeterministic in a distributed engine, so the
    deterministic rendering of "collect the group" is the sorted multiset."""
    return Fold([(_named(col, out, "collect_sorted"), F.sort_array(F.collect_list(_c(col))))])


def collect_set_sorted(col: Column | str, out: str | None = None) -> Fold:
    return Fold([(_named(col, out, "collect_set_sorted"), F.sort_array(F.collect_set(_c(col))))])


def weighted_mean(value: Column | str, weight: Column | str, out: str | None = None) -> Fold:
    """``sum(x*w)/sum(w)`` — the reference's weighted-mean data fold built
    from ``FL.premap`` + product (reference Readme.md:119-127).

    Uses try_divide so an all-zero/all-null weight group yields NULL rather
    than erroring under ANSI mode.
    """
    v, w = _c(value), _c(weight)
    name = out if out is not None else (value if isinstance(value, str) else None)
    if name is None:
        raise ValueError("weighted_mean over expressions needs out=")
    return Fold([(name, F.try_divide(F.sum(v * w), F.sum(w)))])


def null_propagating(agg: Callable[[Column], Column], col: Column | str,
                     out: str | None = None) -> Fold:
    """Null-PROPAGATING aggregation: any null in the group ⇒ NULL out.

    The reference's ``functorFoldAllConstrained`` folds over the functor
    values themselves (``Fold (Maybe a) (Maybe a)``,
    src/Frames/Folds/General.hs:260-273), letting the user pick a null
    algebra; the natural one propagates.  Spark's default (and the
    reference's ``filteredFold`` path) *skips* nulls, so this variant is a
    composite expression: compare null-skipping count to group size.
    """
    c = _c(col)
    expr = F.when(F.count(c) < F.count(F.lit(1)), F.lit(None)).otherwise(agg(c))
    return Fold([(_named(col, out, "null_propagating"), expr)])


def approx_count_distinct(col: Column | str, out: str | None = None,
                          rsd: float = 0.05) -> Fold:
    """HyperLogLog++ distinct count — THE 100 TB cardinality fold: fixed
    sketch memory per group vs count_distinct's full shuffle of values."""
    return Fold([(_named(col, out, "approx_count_distinct"),
                  F.approx_count_distinct(_c(col), rsd))])


def approx_quantiles(col: Column | str, probs: Sequence[float],
                     out: str | None = None, accuracy: int = 10000) -> Fold:
    """Approximate percentiles (GK sketch) — bounded-memory alternative to
    exact medians for groups too large to materialize."""
    arr = F.array(*[F.lit(float(p)) for p in probs])
    return Fold([(_named(col, out, "approx_quantiles"),
                  F.percentile_approx(_c(col), arr, F.lit(accuracy)))])


# ---------------------------------------------------------------------------
# Whole-schema fold builders (foldAll family)
# ---------------------------------------------------------------------------

def fold_all(df_or_cols: DataFrame | Sequence[str],
             fold_ctor: Callable[[str], Fold],
             exclude: Sequence[str] = ()) -> Fold:
    """Apply one fold ctor to every column (reference ``foldAll``,
    src/Frames/Folds.hs:197-206)."""
    cols = df_or_cols.columns if isinstance(df_or_cols, DataFrame) else list(df_or_cols)
    cols = [c for c in cols if c not in set(exclude)]
    if not cols:
        raise ValueError("fold_all over zero columns")
    out = fold_ctor(cols[0])
    return out.merge(*[fold_ctor(c) for c in cols[1:]])


def fold_all_constrained(df: DataFrame,
                         fold_ctor: Callable[[str], Fold] = sum_,
                         among: Sequence[str] | None = None,
                         exclude: Sequence[str] = ()) -> Fold:
    """``foldAllConstrained @Num`` (reference src/Frames/Folds.hs:208-225,
    used as ``foldAllConstrained @Num FL.sum`` at Readme.md:111): apply a
    fold to every *numeric* column, with the dtype check performed eagerly
    at plan-build time (the runtime stand-in for the ``@Num`` constraint)."""
    cols = [c for c in numeric_columns(df, among) if c not in set(exclude)]
    if among is not None:
        # explicit columns must ALL satisfy the constraint, like GHC would
        require_numeric(df, [c for c in among if c not in set(exclude)])
    if not cols:
        raise ValueError("fold_all_constrained matched zero numeric columns")
    return fold_all(cols, fold_ctor)


MONOIDS: dict[str, Callable[..., Fold]] = {
    "sum": sum_,
    "min": min_,
    "max": max_,
    "first": first_,
    "last": last_,
    "list": collect_sorted,
}


def fold_all_monoid(df: DataFrame, monoid: str,
                    among: Sequence[str] | None = None) -> Fold:
    """``foldAllMonoid`` (reference src/Frames/Folds.hs:229-249): derive the
    endo-fold from a monoid name (Sum/Min/Max/First/Last/List) and apply to
    all (numeric, where the monoid demands it) columns."""
    if monoid not in MONOIDS:
        raise ValueError(f"unknown monoid {monoid!r}; choose from {sorted(MONOIDS)}")
    ctor = MONOIDS[monoid]
    if monoid == "sum":
        return fold_all_constrained(df, ctor, among)
    cols = list(among) if among is not None else df.columns
    return fold_all(cols, ctor)


# ---------------------------------------------------------------------------
# Arbitrary-Python fold fallback: GROUPED_AGG pandas UDF (Arrow-batched).
# ---------------------------------------------------------------------------

def pandas_fold(fn: Callable[..., Any], return_type: str | T.DataType,
                *cols: Column | str, out: str) -> Fold:
    """A custom fold the expression language can't say: ``fn`` receives one
    pandas Series per input column (the whole group, Arrow-transferred) and
    returns a scalar.

    This is the engine's rendering of an arbitrary ``FL.Fold`` — slower
    than native exprs (no partial aggregation), so reserve it for folds
    with no Column-expression form.  Still vastly faster than row-at-a-time
    UDFs (vectorized over Arrow batches).
    """
    def agg(*s: pd.Series) -> Any:
        # Series in, scalar out: the type hints make this a GROUPED_AGG UDF
        return fn(*s)

    udf = F.pandas_udf(agg, returnType=return_type)
    return Fold([(out, udf(*[_c(c) for c in cols]))], pandas_names=[out])
