"""Sources & sinks.

The reference library consumes any ``Foldable`` of rows and has no storage
layer of its own (SURVEY §2.1); its ecosystem ingest paths are in-memory
row lists (``F.toFrame``, reference examples/AddRowsByLabel.hs:134-144) and
permissive CSV parsing where an unparseable *cell* becomes a missing value,
not a row failure (``F.readRec``, examples/AddRowsByLabel.hs:146-155).

Here those become: createDataFrame, permissive CSV with per-column
try-cast, and the columnar formats a 100 TB deployment actually uses
(parquet first).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def to_frame(spark: SparkSession, rows: Iterable, schema) -> DataFrame:
    """``F.toFrame`` (reference examples/AddRowsByLabel.hs:134-144)."""
    return spark.createDataFrame(list(rows), schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_tables(spark: SparkSession, sf_dir: str,
                tables: Sequence[str] = STAR_TABLES) -> dict[str, DataFrame]:
    """Load the driver's star schema from an sf directory."""
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in tables}


def register_views(spark: SparkSession, sf_dir: str,
                   tables: Sequence[str] = STAR_TABLES) -> dict[str, DataFrame]:
    """Register the star tables as temp views — the SQL surface of the
    engine: after this, ``spark.sql("SELECT ... FROM lineitem ...")``
    works alongside the DataFrame combinators, and Catalyst plans both
    identically (views are just named logical plans, so pushdown,
    pruning, and broadcast decisions are unchanged)."""
    out = read_tables(spark, sf_dir, tables)
    for t, df in out.items():
        df.createOrReplaceTempView(t)
    return out


def read_csv_permissive(spark: SparkSession, path: str, schema: T.StructType,
                        header: bool = True) -> DataFrame:
    """Per-cell-failure CSV read: read as string, then try-cast each column,
    so a bad cell (the reference's ``"NaN"``/``"lol"``,
    examples/AddRowsByLabel.hs:146-155 and Readme.md:207-216) becomes NULL
    in that cell while the rest of the row survives — the exact
    ``Rec (Maybe :. ElField)`` ingestion semantics.

    (Spark's own PERMISSIVE mode nulls the whole row on a malformed cell;
    the reference's semantics are finer-grained, hence the explicit
    string-read + try_cast.)"""
    raw = spark.read.csv(path, header=header)
    out = raw
    for f2 in schema.fields:
        out = out.withColumn(f2.name, F.col(f2.name).try_cast(f2.dataType))
    return out.select(*[f2.name for f2 in schema.fields])


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: Sequence[str] = ()) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning properties as parquet
    (both are covered by the partition-pruning and pushdown plan tests)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: Sequence[str] = ()) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_json_lines(spark: SparkSession, path: str,
                    schema: T.StructType | None = None) -> DataFrame:
    """JSON-lines scan.  Passing an explicit schema skips the extra
    inference pass over the data — mandatory at 100 TB."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def arrow_rows(df: DataFrame, *cols: str) -> list[tuple]:
    """Bounded driver collect over the Arrow path (``toPandas``) instead
    of row-pickled ``collect()`` — measured ~6× faster for the >10k-row
    bounded spines this engine collects by contract (a 131k-row Bloom
    word table: 1.20 s collect vs 0.22 s Arrow; guide §6 "Arrow for
    driver transfers").  Returns ``[(c1, c2, …), …]`` as plain Python
    scalars.  Only for NULL-free columns: pandas would coerce NULL
    integers to NaN, silently changing values — callers here collect
    aggregation outputs that are non-null by construction."""
    pdf = df.select(*cols).toPandas()
    return list(zip(*[pdf[c].tolist() for c in cols])) if len(pdf) else []


def clamp_buckets(est_bytes: int, lo: int = 8, hi: int = 32768,
                  per_bucket: int = 32 << 20) -> int:
    """Scale-adaptive bucket count for a persisted index table: size
    each bucket at ~``per_bucket`` bytes (32 MB default — parquet files
    land well under the guide §6 128 MB–1 GB target only when an index
    is small enough for that not to matter), floored at ``lo`` (keeps
    probe-side scan parallelism non-degenerate) and capped at ``hi``
    (bounds file counts; at the cap, buckets grow past ``per_bucket``
    instead — the correct trade at 100 TB where a million files costs
    more than fat buckets).  Replaces constant bucket counts tuned for
    neither local mode nor the cluster (r13; guide §2 'make
    partitioning scale-adaptive'): a 64-bucket write of a 4k-row word
    table paid ~0.8 s of pure task/file overhead per build at sf0.1
    (measured 12 ms per extra task+file), while 64 buckets at a
    production geometry would under-split."""
    return max(lo, min(hi, int(est_bytes) // per_bucket))


def write_bucketed(df: DataFrame, table: str, bucket_cols: Sequence[str],
                   n_buckets: int, spec: Mapping[str, str] | None = None
                   ) -> None:
    """Replace ``table`` with ``df`` as a bucketed table — the one
    replace path of every persisted index.  Bucketing pre-shuffles once
    at write time so later joins and aggregations on ``bucket_cols`` are
    shuffle-free — the co-location primitive for repeated 100 TB joins.

    The input is repartitioned on ``bucket_cols`` into ``n_buckets``
    partitions before the write: ``repartition(n, cols)`` is the SAME
    hash partitioning (pmod(murmur3, n)) Spark's bucket spec uses, so
    each write task holds exactly one bucket and emits exactly one file.
    Without it a bucketed write fans out one file per (task, bucket) —
    measured 2048 files for a 17 MB index table (32 scan partitions ×
    64 buckets) — paying thousands of file creations/commits at write
    time and thousands of footer reads on every probe scan (guide-class
    small-files problem; r13 optimization round).  At 100 TB the same
    repartition is what keeps file counts proportional to n_buckets
    instead of tasks × n_buckets; size n_buckets for ~128 MB-1 GB per
    bucket there.

    ``spec`` (from :func:`index_spec`) is the index's stamp: recorded as
    table properties before the swap, so the live table is never
    unstamped, and checked by :func:`require_spec` on every extend and
    probe.

    Replace contract: ``df`` is written to ``{table}_rebuild`` and
    swapped in by rename-rename-drop (``table`` → ``{table}_old``,
    ``{table}_rebuild`` → ``table``, drop ``{table}_old``).  So a write
    that fails leaves the live table as it was, and ``df`` may read the
    table it replaces.  The swap is not atomic, but it never destroys
    data: a crash between the renames leaves no ``table``, yet both
    datasets survive under ``{table}_old`` / ``{table}_rebuild`` and one
    manual rename recovers.  A leftover ``_rebuild`` or ``_old`` — a
    catalog entry, or in a fresh session a bare warehouse directory — is
    cleared by the next replace through the Hadoop FileSystem API (so
    for hdfs://, s3a://, file://, whatever the warehouse URI names).
    Plans created before the replace hold the old file listing and must
    be re-created: re-collecting one raises ``FAILED_READ_FILE``."""
    if isinstance(n_buckets, bool) or not isinstance(n_buckets, int):
        # bool is an int subclass: n_buckets=True would write 1 bucket
        raise ValueError(f"n_buckets must be an int, got {n_buckets!r}")
    spark = df.sparkSession
    tmp, old = f"{table}_rebuild", f"{table}_old"
    spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")
    _clear_location(spark, tmp)
    _save_bucketed(df, tmp, bucket_cols, n_buckets, "overwrite")
    if spec:
        props = ", ".join(f"'{k}' = '{v}'" for k, v in spec.items())
        spark.sql(f"ALTER TABLE `{tmp}` SET TBLPROPERTIES ({props})")
    spark.sql(f"DROP TABLE IF EXISTS `{old}`")
    _clear_location(spark, old)
    live = spark.catalog.tableExists(table)
    if live:
        spark.sql(f"ALTER TABLE `{table}` RENAME TO `{old}`")
    else:
        # a fresh session's catalog does not know a table a previous
        # process left in the warehouse, and the rename refuses to
        # move onto its directory
        _clear_location(spark, table)
    spark.sql(f"ALTER TABLE `{tmp}` RENAME TO `{table}`")
    if live:
        spark.sql(f"DROP TABLE `{old}`")
    spark.catalog.refreshTable(table)


def append_bucketed(df: DataFrame, table: str) -> None:
    """Append ``df`` to a table :func:`write_bucketed` wrote, under the
    bucket spec the catalog recorded for it — the one append path of
    every persisted index, so an extend can never write under a bucket
    count or columns other than the build's.  Appends keep the stamp."""
    n_buckets, bucket_cols, _ = table_spec(df.sparkSession, table)
    _save_bucketed(df, table, bucket_cols, n_buckets, "append")


def index_spec(family: str, **values) -> dict[str, str]:
    """The stamp of a ``family`` index: ``fmr.<family>.<name>`` → the
    value as text, in the caller's order — what :func:`write_bucketed`
    records and :func:`require_spec` checks."""
    return {f"fmr.{family}.{name}": str(v) for name, v in values.items()}


def require_spec(spark: SparkSession, table: str,
                 spec: Mapping[str, str]) -> None:
    """Refuse to extend or probe ``table`` under a spec other than the
    one its build stamped: an index read or grown under another spec
    (n-gram size, signature seed, filter geometry, centroids …) answers
    silently wrong.  One catalog read, no Spark job.  A table that
    records none of ``spec``'s keys was written outside a build and has
    nothing to check against."""
    stamp = table_spec(spark, table).stamp
    if not any(k in stamp for k in spec):
        return
    if any(stamp.get(k) != v for k, v in spec.items()):
        def show(values: Mapping[str, str]) -> str:
            return ", ".join(f"{k.rsplit('.', 1)[1]}={values.get(k)}"
                             for k in spec)
        raise ValueError(
            f"`{table}` was built with {show(stamp)} — got {show(spec)}; "
            "the build's spec (filter geometry, signature seed, n-gram "
            "size, centroids …) is part of the index: rebuild to change it")


def table_num_buckets(spark: SparkSession, table: str) -> int:
    """The bucket count the catalog recorded for ``table`` — the catalog,
    not a caller parameter, owns the bucket spec of a persisted index.
    Raises ``ValueError`` when none is recorded (see :func:`table_spec`)."""
    return table_spec(spark, table).n_buckets


class TableSpec(NamedTuple):
    n_buckets: int
    bucket_cols: list[str]
    stamp: dict[str, str]


def table_spec(spark: SparkSession, table: str) -> TableSpec:
    """The bucket spec and the stamp (its ``fmr.*`` table properties) of
    a persisted index table, from one ``DESCRIBE TABLE EXTENDED``
    collected and read on the driver: the command result is local, so
    this runs no Spark job (a DataFrame filter over it would run two).
    A table WITHOUT a recorded bucket spec (externally created, or
    written unbucketed) raises rather than assuming one: appending under
    a guessed spec would silently break the probe's pruned bucketed-scan
    contract."""
    # the detailed-table section follows the column rows, so its keys win
    desc = {r["col_name"]: r["data_type"] for r in
            spark.sql(f"DESCRIBE TABLE EXTENDED `{table}`").collect()}
    if "Num Buckets" not in desc:
        raise ValueError(
            f"`{table}` has no 'Num Buckets' in the catalog — it was not "
            "written by write_bucketed; refusing to assume a bucket spec")
    cols = [c.strip().strip("`")
            for c in desc["Bucket Columns"].strip("[]").split(",")]
    # rendered "[k1=v1, k2=v2]"; stamp values never hold ", "
    props = desc.get("Table Properties", "").strip("[]").split(", ")
    stamp = dict(p.split("=", 1) for p in props
                 if p.startswith("fmr.") and "=" in p)
    return TableSpec(int(desc["Num Buckets"]), cols, stamp)


def _save_bucketed(df: DataFrame, table: str, bucket_cols: Sequence[str],
                   n_buckets: int, mode: str) -> None:
    (df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
       .write.mode(mode)
       .bucketBy(n_buckets, *bucket_cols)
       .sortBy(*bucket_cols)
       .format("parquet")
       .saveAsTable(table))


def _clear_location(spark: SparkSession, table: str) -> None:
    """Delete the warehouse directory a managed ``table`` would own, if
    one is there."""
    path = spark._jvm.org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.lower())
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)
