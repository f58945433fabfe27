"""SparkSession construction tuned for this engine, and the engine's one
runtime default for its Python workers.

Session defaults are chosen for scale-out behavior (AQE on, skew-join
handling on, Arrow for the pandas interchange paths) while remaining
correct on ``local[N]`` for tests.

Codegen default: every fold pipeline and operator runs as whole-stage
Java that Janino compiles, 7-11 ms of CPU per class, and Spark keeps the
compiled classes in one JVM-wide cache bounded by the static conf
``spark.sql.codegen.cache.maxEntries`` (100 by default).  One pass of the
``corpus_ingest`` benchmark workload needs about 330-360 classes, so at
100 a session that runs the same operators again recompiles nearly all
of them (~275 per pass).  The session raises the bound to 1024, so a
long-lived session compiles each operator's code once.

Worker default: PySpark calls ``importlib.invalidate_caches()`` at the
start of every Python task (``pyspark/worker_util.py``,
``setup_spark_files``), so that a file shipped by ``addPyFile`` becomes
importable.  Before CPython 3.13 that call makes every ``zipimporter`` on
the path re-parse its archive's central directory in pure Python: a warm
worker holds a dozen importers on ``pyspark.zip`` plus the py4j zip and
the spark-core jar, about 27k entries and ~190 ms of CPU per task, which
dwarfs the engine's few-KB Python stages.  When this module is imported
inside a task, :func:`skip_unchanged_zip_reloads` replaces
``zipimporter.invalidate_caches`` with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the last read.  A zip
newly shipped by ``addPyFile`` gets a fresh importer and a rewritten one
changes its stat, so what the per-task call is for still works.  CPython
3.13 made the call lazy itself, so there (and on the driver) nothing is
replaced.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession


def skip_unchanged_zip_reloads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's modification time or size changed
    since that archive was last read; otherwise the importer keeps the
    cached directory.  Idempotent; does nothing on CPython >= 3.13."""
    stock = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(stock, "stat_checked", False):
        return
    read_at: dict[str, tuple[int, int]] = {}   # archive -> stat at last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        seen = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == seen:
            self._files = files
            return
        # stat before the read: a rewrite in between shows as a new stat
        stock(self)
        read_at[self.archive] = seen

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def get_spark(
    app_name: str = "frames-map-reduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - AQE enabled: runtime coalescing of shuffle partitions, skew-join
      splitting — the knobs that matter when the same plan must run at
      sf0.01 locally and at 100 TB on a cluster.
    - Arrow enabled: every applyInPandas / pandas_udf path in this engine
      moves batches over Arrow, never row-at-a-time pickling.
    - Codegen class cache of 1024 entries
      (``spark.sql.codegen.cache.maxEntries``, Spark's default is 100):
      about 3x the ~330-360 classes one ``corpus_ingest`` benchmark pass
      compiles, so the operators a session runs again hit the cache
      instead of recompiling, and still bounded, so the metaspace the
      loaded classes hold cannot grow without limit.  It is a STATIC
      conf, read once per JVM: ``getOrCreate()`` over a session that
      already exists keeps that session's value, and only a fresh JVM
      picks up a new one (``extra_conf`` overrides it like any default).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions
                or (int(cpus) * 2 if str(cpus).isdigit() else 64)),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # the engine's integer staging RELIES on overflow being loud
        # (rolling_zscore's windowed moments, hash arithmetic): pin ANSI
        # on explicitly rather than trusting the deployment default —
        # a non-ANSI session would silently wrap BIGINT instead of
        # throwing (r10 ADVICE)
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


if TaskContext.get() is not None:
    skip_unchanged_zip_reloads()
