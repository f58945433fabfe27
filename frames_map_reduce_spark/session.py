"""SparkSession construction tuned for this engine.

Defaults chosen for scale-out behavior (AQE on, skew-join handling on,
Arrow for the pandas interchange paths) while remaining correct on
``local[N]`` for tests.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

