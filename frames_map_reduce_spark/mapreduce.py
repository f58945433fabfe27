"""Unpack → Assign → Reduce: the map-reduce pipeline surface.

Reference: ``src/Frames/MapReduce.hs`` (plus its ``.Maybe``/``.General``
variants, which collapse into this one API because nullability is
value-level in Spark — SURVEY §1.3).

The reference fuses the three stages into a single in-memory fold
(``mapReduceFold``, engine re-export at src/Frames/MapReduce.hs:58-64).
Here each stage contributes a declarative piece of ONE DataFrame plan:

    unpack → ``df.filter`` / ``df.select`` / explode
    assign → ``df.groupBy(keys)`` (+ plan-time key/data validation)
    reduce → ``.agg(*fold)``  or  ``.applyInPandas`` for whole-group fns

so Catalyst sees the whole pipeline and applies predicate pushdown, column
pruning, and partial (map-side) aggregation — the distributed equivalents
of the reference's hand-built fold fusion (SURVEY §4).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable, Iterable, Sequence
from functools import reduce as _freduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frames_map_reduce_spark.folds import Fold
from frames_map_reduce_spark.schema import (
    SchemaError,
    complement,
    require_columns,
    require_disjoint,
)

Predicate = Callable[[Column], Column]


# ---------------------------------------------------------------------------
# Unpack stage — filters & row multiplication (reference §2.2)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Unpack:
    """Base: identity unpack (``unpackNoOp``,
    reference src/Frames/MapReduce/General.hs:136-138)."""

    def apply(self, df: DataFrame) -> DataFrame:
        return df


@dataclass(frozen=True)
class FilterRow(Unpack):
    """Whole-row predicate (``unpackFilterRow``,
    reference src/Frames/MapReduce.hs:97-100).  ``pred`` is a Column
    boolean expression or a callable DataFrame→Column."""

    pred: Column | Callable[[DataFrame], Column]

    def apply(self, df: DataFrame) -> DataFrame:
        p = self.pred(df) if callable(self.pred) else self.pred
        return df.filter(p)


@dataclass(frozen=True)
class FilterOnField(Unpack):
    """Single-column predicate, null-aware (``unpackFilterOnField`` and the
    General variants that let the predicate see the null,
    reference src/Frames/MapReduce.hs:102-108, General.hs:146-161).

    ``require_present=True`` reproduces ``unpackFilterOnGoodField``
    (absent cell ⇒ drop row, General.hs:154-161)."""

    fieldname: str
    pred: Predicate
    require_present: bool = True

    def apply(self, df: DataFrame) -> DataFrame:
        require_columns(df, [self.fieldname], "filter field")
        c = F.col(self.fieldname)
        p = self.pred(c)
        if self.require_present:
            p = c.isNotNull() & p
        return df.filter(p)


@dataclass(frozen=True)
class GoodRows(Unpack):
    """``unpackGoodRows`` (reference src/Frames/MapReduce.hs:110-116):
    project to ``subset`` AND drop rows with any null in it — projection +
    null-filter in one step.  With ``project=False`` it is
    ``unpackGoodRecRows`` (keep the full row;
    reference src/Frames/MapReduce/Maybe.hs:70-74)."""

    subset: Sequence[str]
    project: bool = True
    pred: Callable[[DataFrame], Column] | None = None  # General.hs:163-171

    def apply(self, df: DataFrame) -> DataFrame:
        require_columns(df, self.subset, "good-rows subset")
        out = df.select(*self.subset) if self.project else df
        out = out.na.drop("any", subset=list(self.subset))
        if self.pred is not None:
            out = out.filter(self.pred(out))
        return out


@dataclass(frozen=True)
class FlatMap(Unpack):
    """Generalized ``MR.Unpack (x -> g y)`` — one row to 0..n rows
    (used by aggregateAllFold, reference src/Frames/Aggregation.hs:116-118).

    Declarative form: ``exploded`` names an array/map Column expression to
    explode into column ``out``; ``select`` optionally reshapes first.
    For 1→1 rewrites prefer plain ``withColumn`` (see aggregation.py)."""

    exploded: Column | None = None
    out: str = "value"
    keep: Sequence[str] = field(default_factory=tuple)

    def apply(self, df: DataFrame) -> DataFrame:
        if self.exploded is None:
            return df
        keep = list(self.keep) or [c for c in df.columns]
        return df.select(*keep, F.explode(self.exploded).alias(self.out))


def unpack_no_op() -> Unpack:
    return Unpack()


def unpack_filter_row(pred: Column | Callable[[DataFrame], Column]) -> FilterRow:
    return FilterRow(pred)


def unpack_filter_on_field(fieldname: str, pred: Predicate,
                           require_present: bool = True) -> FilterOnField:
    return FilterOnField(fieldname, pred, require_present)


def unpack_good_rows(subset: Sequence[str], project: bool = True,
                     pred: Callable[[DataFrame], Column] | None = None) -> GoodRows:
    return GoodRows(tuple(subset), project, pred)


def unpack_flat_map(exploded: Column, out: str, keep: Sequence[str] = ()) -> FlatMap:
    return FlatMap(exploded, out, tuple(keep))


# ---------------------------------------------------------------------------
# Assign stage — key/data splitting (reference §2.3)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Assign:
    """Key/data split.  ``data=None`` ⇒ resolve at plan time.

    ``resolve`` validates the split (the reference's type-level
    guarantees) and hands Reduce the key and data column lists; each
    Reduce projects from them.  A fold's ``agg`` names its inputs, so
    Catalyst prunes the rest.  Catalyst cannot see inside a Python
    function, so :class:`GroupMapReduce` projects to keys ∪ the data
    columns its function reads before grouping."""

    keys: Sequence[str]
    data: Sequence[str] | None = None          # None ⇒ complement of keys
    data_is_whole_row: bool = False            # assignKeys: reduce sees full rows

    def resolve(self, df: DataFrame) -> tuple[list[str], list[str]]:
        require_columns(df, self.keys, "group key")
        if self.data_is_whole_row:
            return list(self.keys), list(df.columns)
        if self.data is None:
            return list(self.keys), complement(df, self.keys)
        require_columns(df, self.data, "data column")
        require_disjoint(self.keys, self.data, "keys and data")
        return list(self.keys), list(self.data)


def assign_keys_and_data(keys: Sequence[str], data: Sequence[str]) -> Assign:
    """Both sides explicit (reference src/Frames/MapReduce.hs:118-125)."""
    return Assign(tuple(keys), tuple(data))


def assign_keys(keys: Sequence[str]) -> Assign:
    """Data = the whole row, keys included
    (reference src/Frames/MapReduce.hs:127-133)."""
    return Assign(tuple(keys), None, data_is_whole_row=True)


def split_on_keys(keys: Sequence[str]) -> Assign:
    """Data = complement of keys (reference src/Frames/MapReduce.hs:135-141)."""
    return Assign(tuple(keys), None)


def split_on_data(data: Sequence[str]) -> "SplitOnData":
    """Dual: name the data, key is everything else
    (reference src/Frames/MapReduce.hs:143-149)."""
    return SplitOnData(tuple(data))


@dataclass(frozen=True)
class SplitOnData(Assign):
    data_cols: Sequence[str] = ()

    def __init__(self, data_cols: Sequence[str]):
        object.__setattr__(self, "keys", ())
        object.__setattr__(self, "data", None)
        object.__setattr__(self, "data_is_whole_row", False)
        object.__setattr__(self, "data_cols", tuple(data_cols))

    def resolve(self, df: DataFrame) -> tuple[list[str], list[str]]:
        require_columns(df, self.data_cols, "data column")
        return complement(df, self.data_cols), list(self.data_cols)


# ---------------------------------------------------------------------------
# Reduce stage (reference §2.4)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Reduce:
    def apply(self, df: DataFrame, keys: list[str], data: list[str]) -> DataFrame:
        raise NotImplementedError


@dataclass(frozen=True)
class FoldReduce(Reduce):
    """``foldAndAddKey`` (reference src/Frames/MapReduce.hs:161-167) — THE
    workhorse: streaming fold of each group to one row, key re-attached.
    Spark: ``groupBy(keys).agg(*fold)`` — output layout is keys ++ fold
    outputs, the reference's ``ks ++ cs``; partial aggregation and fold
    fusion are automatic."""

    fold: Fold

    def apply(self, df: DataFrame, keys: list[str], data: list[str]) -> DataFrame:
        clash = set(self.fold.output_names) & set(keys)
        if clash:
            raise SchemaError(f"fold outputs {sorted(clash)} collide with group keys")
        native, pand = self.fold.split_pandas()
        if not pand or not native:
            return df.groupBy(*keys).agg(*self.fold.columns())
        # Spark refuses GROUPED_AGG pandas UDFs mixed with native
        # aggregates in one .agg() (INVALID_PANDAS_UDF_PLACEMENT): run two
        # aggregation passes over the same grouped input and join them
        # null-safely on the keys (NULL keys are groups, cf. §2.3), then
        # restore declaration order.
        left = df.groupBy(*keys).agg(*native)
        right = df.groupBy(*keys).agg(*pand)
        rr = right
        for k in keys:
            rr = rr.withColumnRenamed(k, f"_r_{k}")
        cond = None
        for k in keys:
            c = left[k].eqNullSafe(rr[f"_r_{k}"])
            cond = c if cond is None else (cond & c)
        joined = left.join(rr, cond, "inner").drop(*[f"_r_{k}" for k in keys])
        return joined.select(*keys, *self.fold.output_names)


# Special methods Python looks up on the type, bypassing ``__getattribute__``:
# :class:`_ColumnLookups` refuses every one of them.
_REFUSED = (
    "__setitem__", "__delitem__", "__iter__", "__reversed__", "__contains__",
    "__bool__", "__hash__", "__eq__", "__ne__", "__lt__", "__le__", "__gt__",
    "__ge__", "__neg__", "__pos__", "__abs__", "__invert__", "__repr__",
    "__str__", "__format__",
    *(f"__{side}{op}__" for side in ("", "r", "i")
      for op in ("add", "sub", "mul", "matmul", "truediv", "floordiv", "mod",
                 "pow", "and", "or", "xor", "lshift", "rshift")),
)


class _ColumnLookups:
    """Stand-in for a pandas frame that answers only the column lookups
    ``s["c"]`` and ``s[["a", "b"]]``, after reporting their names to
    ``on_lookup``, and ``len(s)`` when ``answer_len``.  Any other attribute,
    operator or special method calls ``refuse``, which raises."""

    __slots__ = ("_frame", "_on_lookup", "_refuse", "_answer_len")

    def __init__(self, frame: pd.DataFrame,
                 on_lookup: Callable[[list[str]], None],
                 refuse: Callable[[], None], answer_len: bool):
        for name, val in (("_frame", frame), ("_on_lookup", on_lookup),
                          ("_refuse", refuse), ("_answer_len", answer_len)):
            object.__setattr__(self, name, val)

    def _refused(self, *_args, **_kwargs):
        object.__getattribute__(self, "_refuse")()

    __getattribute__ = _refused

    def __getitem__(self, key):
        own = object.__getattribute__
        names = [key] if isinstance(key, str) else key
        if not (isinstance(names, list)
                and all(isinstance(n, str) for n in names)):
            own(self, "_refuse")()
        own(self, "_on_lookup")(names)
        return own(self, "_frame")[key]

    def __len__(self):
        if not object.__getattribute__(self, "_answer_len"):
            _ColumnLookups._refused(self)
        return len(object.__getattribute__(self, "_frame"))


for _name in _REFUSED:
    setattr(_ColumnLookups, _name, _ColumnLookups._refused)


def _trace_reads(fn: Callable[[pd.DataFrame], pd.DataFrame],
                 schema: T.StructType) -> list[str] | None:
    """The columns ``fn`` looks up, found by calling it once on a zero-row
    stand-in for a pandas frame of ``schema``; ``None`` when ``fn`` does
    anything else with it (see :class:`GroupMapReduce`)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    reads: list[str] = []
    spoiled = False

    def spoil():
        nonlocal spoiled
        spoiled = True
        raise TypeError("the column trace follows only column lookups")

    try:
        empty = to_arrow_schema(schema).empty_table().to_pandas()
        stand = _ColumnLookups(empty, reads.extend, spoil, answer_len=False)
        out = fn(stand)
    except Exception:   # a type without an Arrow form, or fn failing on 0 rows
        return None
    return None if spoiled or out is stand else reads


@dataclass(frozen=True)
class GroupMapReduce(Reduce):
    """``reduceAndAddKey`` / ``makeRecsWithKey`` (reference
    src/Frames/MapReduce.hs:151-159,169-191): an arbitrary whole-group
    function → exactly 1 row (``many=False``) or n rows (``many=True``),
    with the group key re-attached automatically.

    Spark: grouped-map ``applyInPandas``.  The user function sees ONLY data
    columns (a pandas DataFrame, Arrow-transferred) and returns a pandas
    DataFrame of the output columns WITHOUT keys; key re-attachment (the
    reference's ``V.rappend``) happens here.  Memory caveat shared with
    the reference is inverted: their per-group fold streams, ours
    materializes the group — so prefer FoldReduce whenever the fold is
    expressible (SURVEY §4 physical-execution note).

    Only the data columns ``fn`` reads are scanned, shuffled and shipped
    to Python (the reference's Reduce likewise gets only the data
    columns).  At plan time ``fn`` runs ONCE on the driver, on a zero-row
    stand-in of the data columns that records ``pdf["c"]`` and
    ``pdf[["a", "b"]]`` lookups; the input is then projected to keys ∪
    those columns before the ``groupBy``.  Every data column is shipped,
    and ``fn`` gets a plain pandas frame of them, when ``fn`` does
    anything else with the stand-in (``len``, any attribute such as
    ``.loc`` or ``.columns``, item assignment, iteration, arithmetic,
    ...), when it raises, when it returns the stand-in, or when the
    zero-row frame cannot be built for the data types.  So ``fn`` must be
    free of side effects and cheap on zero rows.

    When fewer columns are shipped, each group reaches ``fn`` through the
    same stand-in over the real rows, which answers lookups of shipped
    columns and ``len``.  A function that acts on its frame differently
    on some groups than on zero rows (``if pdf["x"].sum() > 5:
    pdf["y"]``, or ``pdf.mean()`` after such a test) fails there with a
    ``SchemaError``; it never computes from the wrong columns.  Doing the
    same thing unconditionally at the top of ``fn`` ships what it needs.
    """

    fn: Callable[[pd.DataFrame], pd.DataFrame]
    output_schema: str | T.StructType  # schema of fn's output, WITHOUT keys
    many: bool = True

    def shipped(self, df: DataFrame, data: list[str]) -> list[str]:
        """The data columns handed to ``fn``: those the zero-row trace saw,
        else all of ``data``.  One column cannot be pruned: pyspark hands
        Python at least one."""
        if len(data) < 2:
            return list(data)
        traced = _trace_reads(self.fn, T.StructType([df.schema[c] for c in data]))
        return list(data) if traced is None else [c for c in data if c in traced]

    def apply(self, df: DataFrame, keys: list[str], data: list[str]) -> DataFrame:
        out_schema = (
            T._parse_datatype_string(self.output_schema)
            if isinstance(self.output_schema, str) else self.output_schema
        )
        key_fields = [df.schema[k] for k in keys]
        clash = {f.name for f in out_schema.fields} & set(keys)
        if clash:
            raise SchemaError(f"reduce outputs {sorted(clash)} collide with group keys")
        full_schema = T.StructType(key_fields + list(out_schema.fields))
        fn, many = self.fn, self.many
        shipped = self.shipped(df, data)
        unshipped = set(data) - set(shipped)

        def looked_up(names: list[str]) -> None:
            missed = [c for c in names if c in unshipped]
            if missed:
                raise SchemaError(
                    f"grouped-map fn looked up data column(s) {missed} on a "
                    f"group but not on zero rows, so only {shipped} were "
                    f"shipped; look them up on every call, e.g. at the top "
                    f"of fn")

        def refuse() -> None:
            raise SchemaError(
                f"grouped-map fn used its frame beyond column lookups on a "
                f"group but not on zero rows, so only {shipped} were shipped; "
                f"do that on every call, e.g. at the top of fn, to ship "
                f"every data column")

        def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            group = pdf[shipped]
            if unshipped:
                group = _ColumnLookups(group, looked_up, refuse, answer_len=True)
            out = fn(group)
            if not many and len(out) != 1:
                raise ValueError(
                    f"reduce_and_add_key fn returned {len(out)} rows, not 1")
            for name, val in zip(keys, key):
                if name not in out.columns:
                    out[name] = val
            # reorder: keys first, then declared outputs (ks ++ cs)
            return out[[f.name for f in full_schema.fields]]

        # pyspark cannot hand Python a group with zero columns: keep one
        cols = list(dict.fromkeys([*keys, *shipped])) or data[:1]
        return df.select(*cols).groupBy(*keys).applyInPandas(run, schema=full_schema)


def fold_and_add_key(fold: Fold) -> FoldReduce:
    return FoldReduce(fold)


def reduce_and_add_key(fn: Callable[[pd.DataFrame], pd.DataFrame],
                       output_schema: str | T.StructType) -> GroupMapReduce:
    """Whole-group function → exactly one output row (reference
    src/Frames/MapReduce.hs:151-159).  ``fn`` also runs once on the driver,
    on zero rows, to find the columns it reads (see
    :class:`GroupMapReduce`): it must be free of side effects."""
    return GroupMapReduce(fn, output_schema, many=False)


def make_recs_with_key(fn: Callable[[pd.DataFrame], pd.DataFrame],
                       output_schema: str | T.StructType) -> GroupMapReduce:
    """Whole-group function → many output rows, key on each (reference
    src/Frames/MapReduce.hs:169-179; cf. flatMapGroupsInPandas).  ``fn``
    also runs once on the driver, on zero rows, as for
    :func:`reduce_and_add_key`."""
    return GroupMapReduce(fn, output_schema, many=True)



# ---------------------------------------------------------------------------
# Engine-combinator aliases (reference Control.MapReduce re-exports, used
# at src/Frames/MapReduce.hs:158,166,177 and MapReduce/General.hs:230-260).
# In the reference these are the generic engine combinators that the
# frames-level wrappers specialize by passing ``V.rappend`` (or a custom
# record constructor) as the key-label function.  In the Spark rendering
# the label step is structural — groupBy keys REMAIN columns of the
# aggregate/applyInPandas output — so the generic form and the frames
# wrapper are the same operator; these aliases keep the reference's
# engine-level names callable for API parity.
# ---------------------------------------------------------------------------

def fold_and_label(fold: Fold) -> FoldReduce:
    """``MR.foldAndLabel fld rappend`` (src/Frames/MapReduce.hs:166):
    identical to :func:`fold_and_add_key` — see block comment above."""
    return fold_and_add_key(fold)


def process_and_label(fn: Callable[[pd.DataFrame], pd.DataFrame],
                      output_schema: str | T.StructType) -> GroupMapReduce:
    """``MR.processAndLabel process rappend`` (src/Frames/MapReduce.hs:158):
    identical to :func:`reduce_and_add_key`."""
    return reduce_and_add_key(fn, output_schema)


def reduce_map_with_key(fn: Callable[[pd.DataFrame], pd.DataFrame],
                        output_schema: str | T.StructType) -> GroupMapReduce:
    """``MR.reduceMapWithKey addKey reduceToY`` (src/Frames/MapReduce.hs:177):
    identical to :func:`make_recs_with_key`."""
    return make_recs_with_key(fn, output_schema)


# ---------------------------------------------------------------------------
# The pipeline driver (reference §3.1)
# ---------------------------------------------------------------------------

def map_reduce(df: DataFrame, unpack: Unpack, assign: Assign,
               reduce: Reduce) -> DataFrame:
    """``concatFold $ mapReduceFold unpack assign reduce`` (reference
    Readme.md:105-117; engine at src/Frames/MapReduce.hs:58-64), as one
    declarative Spark plan.  The reference's final concat of per-group
    frames (``concatFold``, src/Frames/MapReduce.hs:200-205) is free here:
    ``agg``/``applyInPandas`` already return a single DataFrame."""
    unpacked = unpack.apply(df)
    keys, data = assign.resolve(unpacked)
    return reduce.apply(unpacked, keys, data)


def frame_concat(dfs: Iterable[DataFrame]) -> DataFrame:
    """Union-all of many frames (reference ``frameConcat``,
    src/Frames/MapReduce.hs:194-198).  The reference needs a 600-frame
    strategy heuristic; Spark's lazy linear union does not."""
    dfs = list(dfs)
    if not dfs:
        raise ValueError("frame_concat of zero frames")
    return _freduce(lambda a, b: a.unionByName(b), dfs)
