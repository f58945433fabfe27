"""Core pipeline tests, including the reference's golden fixtures.

F1/F2 fixtures and pinned expectations from FIXTURES.md, which mirrors
reference examples/AddRowsByLabel.hs.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frames_map_reduce_spark import (
    assign_keys,
    fold_and_add_key,
    folds,
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
from frames_map_reduce_spark.schema import SchemaError

from tests.conftest import rows_sorted


@pytest.fixture(scope="module")
def f1(spark):
    """F1 labeled_xy — deterministic variant of the reference's 1000-row
    random frame (examples/AddRowsByLabel.hs:134-144)."""
    rows = [((chr(ord("A") + (i * 7) % 26)), float(i % 10), float(i % 5))
            for i in range(1000)]
    return spark.createDataFrame(rows, "label string, y double, x double")


@pytest.fixture(scope="module")
def f2(spark):
    """F2 labeled_xy_nullable — the reference's 4-row 'holy rows' fixture
    (examples/AddRowsByLabel.hs:146-155): bad cells are null, rows survive."""
    rows = [("A", 2.0, 1.0), ("Z", 3.0, None), ("A", None, 4.0), ("Z", 6.0, 5.0)]
    return spark.createDataFrame(rows, "label string, y double, x double")


def test_readme_pipeline_f1(f1):
    """The Readme pipeline (reference Readme.md:105-117): filter labels,
    group by label, sum all numeric columns."""
    out = map_reduce(
        f1,
        unpack=unpack_filter_on_field("label", lambda c: c.isin("A", "B", "C")),
        assign=split_on_keys(["label"]),
        reduce=fold_and_add_key(folds.fold_all_constrained(f1, folds.sum_, exclude=["label"])),
    )
    assert out.columns == ["label", "y", "x"]
    expected = {}
    for i in range(1000):
        lbl = chr(ord("A") + (i * 7) % 26)
        if lbl in ("A", "B", "C"):
            y, x = expected.get(lbl, (0.0, 0.0))
            expected[lbl] = (y + i % 10, x + i % 5)
    got = {r["label"]: (r["y"], r["x"]) for r in out.collect()}
    assert got == pytest.approx(expected)


def test_null_skipping_semantics_f2(f2):
    """Pinned golden output (reference examples/AddRowsByLabel.hs:126-127):
    null cells are SKIPPED by the column fold while the same row's other
    cells still contribute — null-skipping, not row-dropping."""
    out = map_reduce(
        f2,
        unpack=unpack_no_op(),
        assign=split_on_keys(["label"]),
        reduce=fold_and_add_key(folds.sum_("x") & folds.sum_("y")),
    )
    got = {r["label"]: (r["x"], r["y"]) for r in out.collect()}
    assert got == {"A": (5.0, 2.0), "Z": (5.0, 9.0)}


def test_null_propagating_variant(f2):
    """functorFoldAllConstrained semantics (General.hs:260-273): any null
    in the group propagates to the output."""
    out = map_reduce(
        f2,
        unpack=unpack_no_op(),
        assign=split_on_keys(["label"]),
        reduce=fold_and_add_key(
            folds.null_propagating(F.sum, "x") & folds.null_propagating(F.sum, "y")),
    )
    got = {r["label"]: (r["x"], r["y"]) for r in out.collect()}
    assert got == {"A": (5.0, None), "Z": (None, 9.0)}


def test_weighted_mean(f2):
    """Weighted-mean fold from reference Readme.md:119-127:
    (sum y, sum(x*y)/sum y)."""
    out = map_reduce(
        f2,
        unpack=unpack_good_rows(["label", "x", "y"]),
        assign=split_on_keys(["label"]),
        reduce=fold_and_add_key(
            folds.sum_("y") & folds.weighted_mean("x", "y")),
    )
    got = {r["label"]: (r["y"], r["x"]) for r in out.collect()}
    # good rows only: A:(2,1), Z:(6,5)
    assert got == {"A": (2.0, 1.0), "Z": (6.0, 5.0)}


def test_good_rows_projection(f2):
    out = unpack_good_rows(["label", "x"]).apply(f2)
    assert out.columns == ["label", "x"]
    assert out.count() == 3  # drops the (A, y=None... x=4) row? no: drops Z x=None


def test_good_rows_keep_full_row(f2):
    out = unpack_good_rows(["x", "y"], project=False).apply(f2)
    assert out.columns == ["label", "y", "x"]
    assert out.count() == 2


def test_filter_row_and_assign_keys(f1):
    out = map_reduce(
        f1,
        unpack=unpack_filter_row(F.col("y") > 5),
        assign=assign_keys(["label"]),
        reduce=fold_and_add_key(folds.count_star("n")),
    )
    total = sum(r["n"] for r in out.collect())
    assert total == f1.filter("y > 5").count()


def test_split_on_data(f1):
    out = map_reduce(
        f1,
        unpack=unpack_no_op(),
        assign=split_on_data(["x", "y"]),
        reduce=fold_and_add_key(folds.sum_("x") & folds.sum_("y")),
    )
    assert out.columns == ["label", "x", "y"]
    assert out.count() == 26


def test_flat_map_unpack(spark):
    df = spark.createDataFrame([("a", [1, 2]), ("b", [3])], "k string, vs array<int>")
    out = map_reduce(
        df,
        unpack=unpack_flat_map(F.col("vs"), out="v", keep=["k"]),
        assign=split_on_keys(["k"]),
        reduce=fold_and_add_key(folds.sum_("v")),
    )
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {"a": 3, "b": 3}


def test_reduce_and_add_key_whole_group(f2):
    def med(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"med_y": [pdf["y"].median()]})

    out = map_reduce(
        f2,
        unpack=unpack_no_op(),
        assign=split_on_keys(["label"]),
        reduce=reduce_and_add_key(med, "med_y double"),
    )
    got = {r["label"]: r["med_y"] for r in out.collect()}
    assert got == {"A": 2.0, "Z": 4.5}


def test_make_recs_with_key_multi_row(f1):
    def top2(pdf: pd.DataFrame) -> pd.DataFrame:
        return (pdf.sort_values(["y", "x"], ascending=[False, True])
                   .head(2)[["y", "x"]])

    out = map_reduce(
        f1,
        unpack=unpack_filter_on_field("label", lambda c: c.isin("A", "B")),
        assign=split_on_keys(["label"]),
        reduce=make_recs_with_key(top2, "y double, x double"),
    )
    rows = out.collect()
    assert len(rows) == 4  # 2 labels × 2 rows
    assert set(out.columns) == {"label", "y", "x"}


def test_schema_validation_errors(f1):
    with pytest.raises(SchemaError):
        map_reduce(f1, unpack_no_op(), split_on_keys(["nope"]),
                   fold_and_add_key(folds.sum_("x")))
    with pytest.raises(SchemaError):
        # fold output collides with group key
        map_reduce(f1, unpack_no_op(), split_on_keys(["label"]),
                   fold_and_add_key(folds.sum_("x", out="label")))
    with pytest.raises(SchemaError):
        from frames_map_reduce_spark.mapreduce import assign_keys_and_data
        map_reduce(f1, unpack_no_op(), assign_keys_and_data(["label"], ["label", "x"]),
                   fold_and_add_key(folds.sum_("x")))


def test_fold_all_constrained_rejects_non_numeric(f1):
    with pytest.raises(SchemaError):
        folds.fold_all_constrained(f1, folds.sum_, among=["label", "x"])


def test_duplicate_fold_output_names():
    with pytest.raises(ValueError):
        folds.sum_("x") & folds.mean_("x")


def test_frame_concat(spark):
    a = spark.createDataFrame([(1,)], "v int")
    b = spark.createDataFrame([(2,)], "v int")
    assert rows_sorted(frame_concat([a, b])) == [(1,), (2,)]


def test_collect_sorted_fold(f2):
    out = map_reduce(
        f2, unpack_no_op(), split_on_keys(["label"]),
        fold_and_add_key(folds.collect_sorted("y", out="ys")))
    got = {r["label"]: r["ys"] for r in out.collect()}
    assert got == {"A": [2.0], "Z": [3.0, 6.0]}


def test_mixed_pandas_and_native_folds(spark):
    """GROUPED_AGG pandas folds can't share an .agg() with native
    aggregates (INVALID_PANDAS_UDF_PLACEMENT) — FoldReduce must split the
    passes and re-join null-safely, preserving NULL-key groups and
    declaration order."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0), (None, 2.0)], "k string, x double")

    def rng(s):
        return float(s.max() - s.min())

    out = map_reduce(
        df, unpack_no_op(), split_on_keys(["k"]),
        fold_and_add_key(folds.pandas_fold(rng, "double", "x", out="rng")
                         & folds.sum_("x")))
    assert out.columns == ["k", "rng", "x"]
    got = {r["k"]: (r["rng"], r["x"]) for r in out.collect()}
    assert got == {"a": (2.0, 4.0), "b": (0.0, 5.0), None: (0.0, 2.0)}


def test_engine_aliases(spark, lineitem):
    """The reference's engine-level combinators (Control.MapReduce
    foldAndLabel/processAndLabel/reduceMapWithKey, used at reference
    src/Frames/MapReduce.hs:158,166,177) collapse onto the frames-level
    wrappers in the Spark rendering — the aliases must be the same
    callables producing the same results."""
    from frames_map_reduce_spark import (
        fold_and_add_key, fold_and_label, make_recs_with_key, map_reduce,
        process_and_label, reduce_and_add_key, reduce_map_with_key,
        split_on_keys, unpack_no_op, folds)

    r1 = map_reduce(lineitem, unpack_no_op(), split_on_keys(["l_returnflag"]),
                    fold_and_label(folds.sum_("l_quantity", "q")))
    r2 = map_reduce(lineitem, unpack_no_op(), split_on_keys(["l_returnflag"]),
                    fold_and_add_key(folds.sum_("l_quantity", "q")))
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, r2.collect()))

    def one_row(pdf):
        import pandas as pd
        return pd.DataFrame({"n": [len(pdf)]})

    s1 = map_reduce(lineitem, unpack_no_op(), split_on_keys(["l_returnflag"]),
                    process_and_label(one_row, "n long"))
    s2 = map_reduce(lineitem, unpack_no_op(), split_on_keys(["l_returnflag"]),
                    reduce_and_add_key(one_row, "n long"))
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))

    def two_rows(pdf):
        import pandas as pd
        return pd.DataFrame({"n": [1, 2]})

    t1 = map_reduce(lineitem, unpack_no_op(), split_on_keys(["l_returnflag"]),
                    reduce_map_with_key(two_rows, "n long"))
    t2 = map_reduce(lineitem, unpack_no_op(), split_on_keys(["l_returnflag"]),
                    make_recs_with_key(two_rows, "n long"))
    assert sorted(map(tuple, t1.collect())) == sorted(map(tuple, t2.collect()))


# ---------------------------------------------------------------------------
# Grouped maps ship only the data columns their function reads
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def kxyz(spark):
    rows = [("a", 1.0, 2.0, 3.0), ("a", 4.0, None, 6.0), ("a", 2.0, 5.0, 1.0),
            ("b", 7.0, 8.0, None), (None, 3.0, 3.0, 3.0), (None, 0.0, 9.0, 2.0)]
    return spark.createDataFrame(rows, "k string, x double, y double, z double")


def _above_one(pdf):
    return pdf.loc[pdf["x"] > 1, ["y"]]


def _lowest_x(pdf):
    return pdf.sort_values(["x", "y"]).head(1)[["y"]]


def _whole(pdf):
    return pdf


def _doubled(pdf):
    pdf["w"] = pdf["x"] * 2
    return pdf[["w"]]


def _first_x(pdf):
    return pd.DataFrame({"first": [pdf["x"].iloc[0]]})   # IndexError on 0 rows


def _count(pdf):
    return pd.DataFrame({"n": [len(pdf)]})


def _sum_xz(pdf):
    return pd.DataFrame({"s": [float(pdf[["x", "z"]].sum().sum())]})


def _empty_guard_sum(pdf):
    if len(pdf) == 0:
        return pd.DataFrame({"s": [0.0]})
    return pd.DataFrame({"s": [float(pdf.sum().sum())]})


@pytest.mark.parametrize("fn, schema, many, shipped", [
    (_above_one, "y double", True, ["x", "y", "z"]),
    (_lowest_x, "y double", True, ["x", "y", "z"]),
    (_whole, "x double, y double, z double", True, ["x", "y", "z"]),
    (_doubled, "w double", True, ["x", "y", "z"]),
    (_first_x, "first double", False, ["x", "y", "z"]),
    (_count, "n long", False, ["x", "y", "z"]),
    (_empty_guard_sum, "s double", False, ["x", "y", "z"]),
    (_sum_xz, "s double", False, ["x", "z"]),
], ids=["loc", "sort_values", "returns_pdf", "item_assignment",
        "raises_on_empty", "len", "empty_guard", "lookups"])
def test_grouped_map_ships_traced_columns(kxyz, fn, schema, many, shipped):
    """The zero-row trace ships only plain lookups, falls back to every
    data column on anything else, and never changes the answer."""
    make = make_recs_with_key if many else reduce_and_add_key
    assert make(fn, schema).shipped(kxyz, ["x", "y", "z"]) == shipped
    got = map_reduce(kxyz, unpack_no_op(), split_on_keys(["k"]), make(fn, schema))
    # .copy() is not a lookup, so every data column reaches the wrapper
    whole = make(lambda pdf: fn(pdf.copy()), schema)
    assert whole.shipped(kxyz, ["x", "y", "z"]) == ["x", "y", "z"]
    want = map_reduce(kxyz, unpack_no_op(), split_on_keys(["k"]), whole)
    assert rows_sorted(got) == rows_sorted(want)


def _y_if_big(pdf):
    if pdf["x"].sum() > 5:      # group "a" only; 0 on zero rows
        return pd.DataFrame({"s": [float(pdf["y"].sum())]})
    return pd.DataFrame({"s": [0.0]})


def _mean_unless_all_null(pdf):
    if pdf["x"].isna().all():   # true on zero rows, false on every group
        return pd.DataFrame({"s": [0.0]})
    return pd.DataFrame({"s": [float(pdf.mean().sum())]})


@pytest.mark.parametrize("fn, match", [
    (_y_if_big, r"SchemaError.*looked up data column\(s\) \['y'\]"),
    (_mean_unless_all_null, r"SchemaError.*beyond column lookups"),
], ids=["lookup", "whole_frame"])
def test_content_dependent_use_fails_loudly(kxyz, fn, match):
    """A use of the frame that the zero-row trace never made is an error,
    not an answer computed from the wrong columns."""
    assert reduce_and_add_key(fn, "s double").shipped(kxyz, ["x", "y", "z"]) == ["x"]
    out = map_reduce(kxyz, unpack_no_op(), split_on_keys(["k"]),
                     reduce_and_add_key(fn, "s double"))
    with pytest.raises(Exception, match=match):
        out.collect()


def test_unrelated_key_error_is_not_rewritten(kxyz):
    """A KeyError from fn's own dict lookup stays a KeyError, even when the
    key is also the name of an unshipped data column."""
    def lookup_table(pdf):
        if pdf["x"].sum() > 5:
            return pd.DataFrame({"s": [float({"x": 1.0}["y"])]})
        return pd.DataFrame({"s": [0.0]})

    out = map_reduce(kxyz, unpack_no_op(), split_on_keys(["k"]),
                     reduce_and_add_key(lookup_table, "s double"))
    with pytest.raises(Exception, match="KeyError") as err:
        out.collect()
    assert "SchemaError" not in str(err.value)


def test_reduce_and_add_key_rejects_zero_rows(kxyz):
    """reduceAndAddKey yields exactly one record per group (reference
    src/Frames/MapReduce.hs:151-159): an empty result is an error, not a
    dropped group."""
    def nothing(pdf):
        return pdf[["x"]].iloc[:0]

    out = map_reduce(kxyz, unpack_no_op(), split_on_keys(["k"]),
                     reduce_and_add_key(nothing, "x double"))
    with pytest.raises(Exception, match="returned 0 rows"):
        out.collect()


# ---------------------------------------------------------------------------
# Column names with dots are names, not struct field paths
# ---------------------------------------------------------------------------

def _reduce_named(kind, x, y):
    """A grouped-map or fold reduce over data columns named ``x``, ``y``."""
    if kind == "grouped_map":       # reads two of three data columns
        return reduce_and_add_key(
            lambda pdf: pd.DataFrame({"s": [float(pdf[x].sum())],
                                      "m": [float(pdf[y].max())]}),
            "s double, m double")
    # a pandas fold with a native one takes the two-pass join path
    return fold_and_add_key(
        folds.pandas_fold(lambda s: float(s.max() - s.min()), "double",
                          f"`{y}`", out="rng")
        & folds.sum_(f"`{x}`", "s"))


@pytest.mark.parametrize("kind", ["grouped_map", "fold"])
@pytest.mark.parametrize("dotted", ["key", "data"])
def test_dotted_column_names(kxyz, kind, dotted):
    """A key or data column named like ``k.1`` groups and reduces exactly
    as the same query over plain names."""
    names = {"k": "k.1"} if dotted == "key" else {"x": "x.1"}
    k, x = names.get("k", "k"), names.get("x", "x")
    out = map_reduce(kxyz.withColumnsRenamed(names), unpack_no_op(),
                     split_on_keys([k]), _reduce_named(kind, x, "y"))
    want = map_reduce(kxyz, unpack_no_op(), split_on_keys(["k"]),
                      _reduce_named(kind, "x", "y"))
    assert out.columns == [names.get(c, c) for c in want.columns]
    assert rows_sorted(out) == rows_sorted(want)
