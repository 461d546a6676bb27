"""SparkSession factory, and ``materialized``: the scope for lineage-cut
intermediates that releases their blocks on every path.

Defaults are tuned for the local[32] test harness but chosen so the same
code is correct on a 1000-executor cluster:

- AQE on (runtime coalescing + skew-join splitting) so shuffle partition
  counts self-correct at any scale factor.
- ``spark.sql.shuffle.partitions`` defaults to 2x local cores; on a real
  cluster this should be ~2-3x total executor cores (or left to AQE).
- Session timezone pinned to UTC: the reference mixes naive datetimes,
  ISO strings and epoch seconds (see SURVEY.md §7.5); we standardize on
  UTC TimestampType end-to-end, and UTC is required for DuckDB-oracle
  value parity.
- Arrow enabled for every pandas interchange (pandas UDFs, toPandas).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "newsify_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the session.

    On a real cluster, drop the ``master`` call and submit with
    ``spark-submit``; every other conf below is scale-agnostic.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # files.maxPartitionBytes left at 128m: right for both local fixtures
        # and TB-scale scans (more splits = more parallelism, AQE coalesces).
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def materialized(spark: SparkSession) -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Scope for lineage-cut intermediates: ``with materialized(spark) as
    cut:`` yields ``cut(df)``, which evaluates ``df`` once into executor
    blocks (``localCheckpoint(eager=True)``) and returns a DataFrame that
    reads them back with no lineage behind it. On exit, on every path,
    the scope releases exactly the blocks its own ``cut`` calls created,
    including those of a cut whose job failed part-way (that RDD is
    already pinned and has no other handle). The created RDDs are the
    ones that appear in the context's persistent-RDD map during a cut,
    so no other thread may persist on the same context meanwhile.

    A cut DataFrame is unreadable once the scope exits: whatever must
    outlive it is written first and read back from storage. A lost
    executor loses its blocks and fails the next read of the cut, so a
    scope suits work that is safe to rerun as a whole."""
    pinned = spark.sparkContext._jsc.getPersistentRDDs
    created: set[int] = set()

    def cut(df: DataFrame) -> DataFrame:
        before = set(pinned().keySet().toArray())
        try:
            return df.localCheckpoint(eager=True)
        finally:
            created.update(set(pinned().keySet().toArray()) - before)

    try:
        yield cut
    finally:
        rdds = pinned()
        for rid in created:
            if rdds.containsKey(rid):
                rdds.get(rid).unpersist(False)
