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

from collections.abc import Iterable, Sequence

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
                   n_buckets: int, mode: str = "overwrite") -> None:
    """Bucketed sink: pre-shuffles once at write time so later joins and
    aggregations on ``bucket_cols`` are shuffle-free — the co-location
    primitive for repeated 100 TB joins.

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
    bucket there."""
    if mode == "overwrite":
        # A fresh session's catalog doesn't know tables a previous process
        # left in the warehouse dir, and saveAsTable refuses to reuse the
        # stale location — drop both the entry and the directory.
        import os
        import shutil
        from urllib.parse import urlparse
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = os.path.join(wh, table.lower())
        if os.path.exists(loc):
            shutil.rmtree(loc)
    (df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
       .write.mode(mode)
       .bucketBy(n_buckets, *bucket_cols)
       .sortBy(*bucket_cols)
       .format("parquet")
       .saveAsTable(table))


def table_num_buckets(spark: SparkSession, table: str) -> int:
    """The bucket count the catalog recorded for ``table`` — the catalog,
    not a caller parameter, owns the bucket spec of a persisted index.
    A table WITHOUT a recorded bucket spec (externally created, or
    written unbucketed) raises rather than assuming one: appending under
    a guessed spec would silently break the probe's pruned bucketed-scan
    contract."""
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED `{table}`") \
                .filter(F.col("col_name") == "Num Buckets").first()
    if desc is None:
        raise ValueError(
            f"`{table}` has no 'Num Buckets' in the catalog — it was not "
            "written by write_bucketed; refusing to write under an "
            "assumed bucket spec")
    return int(desc["data_type"])
