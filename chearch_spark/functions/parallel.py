"""Scale-adaptive scan spreading (optimization guide §2 / §6).

Small parquet inputs defeat Spark's scan parallelism: split planning
floors every split at ``spark.sql.files.openCostInBytes`` (4 MB), and a
single-row-group file cannot split at all, so a few-MB corpus scans as
1-2 tasks and every tokenize/explode-heavy map stage that follows runs
on 1-2 of the cluster's cores.  At 100 TB the same operators see
thousands of input splits and need no help.

:func:`spread_small_scan` makes the parallelism *scale-adaptive*
(guide §2.2: derive partitioning from input size, never a constant
tuned for one scale): when the optimizer's size estimate for the input
says the whole relation is smaller than ``cores x bytes-per-core``, it
round-robin repartitions to ``defaultParallelism`` — a bounded, tiny
shuffle (at most ``SPREAD_MAX_BYTES_PER_CORE x cores`` estimated
bytes, 16 MiB x cores by default) that buys a ``cores``-wide map
stage.  Above the threshold the input is returned UNCHANGED, so the
100 TB plan shape (scan -> map, no extra exchange) is preserved by
construction.

The threshold is parameterised via the Spark conf
``spark.chearch.spread.maxBytesPerCore`` (bytes; default 16 MiB) so a
cluster deployment can widen or disable it (0 disables) without code
changes.

Row order is the only thing a round-robin repartition changes, and
every caller is order-insensitive (aggregations, joins, hash-keyed
kernels); results are pinned rank/value-identical across parallelism
by the repo's determinism rules, and the oracle gates in
tests/test_entry_contract.py verify exactly that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SPREAD_MAX_BYTES_PER_CORE = 16 * 1024 * 1024  # 16 MiB


def _max_bytes_per_core(spark) -> int:
    """``spark.chearch.spread.maxBytesPerCore`` (default 16 MiB; the
    default too when unreadable; 0 or less disables spreading)."""
    try:
        return int(
            spark.conf.get(
                "spark.chearch.spread.maxBytesPerCore",
                str(SPREAD_MAX_BYTES_PER_CORE),
            )
        )
    except Exception:
        return SPREAD_MAX_BYTES_PER_CORE


def _size_estimate(df: DataFrame) -> int:
    """Catalyst's size-in-bytes estimate for the optimized plan (file
    size for parquet scans).  -1 when unavailable."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return -1


def spread_small_scan(df: DataFrame, cores: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` across ``cores`` (default
    ``sparkContext.defaultParallelism``) partitions — but ONLY when the
    optimizer's size estimate says the relation is small enough that
    the scan would otherwise run on fewer tasks than cores.  Returns
    ``df`` unchanged for large inputs (no extra exchange at scale) and
    whenever the estimate is unavailable."""
    spark = df.sparkSession
    if cores is None:
        cores = spark.sparkContext.defaultParallelism
    if cores <= 1:
        return df
    per_core = _max_bytes_per_core(spark)
    if per_core <= 0:
        return df
    est = _size_estimate(df)
    if est < 0 or est > cores * per_core:
        return df
    return df.repartition(cores)


def is_small_input(df: DataFrame) -> bool:
    """True when ``df``'s optimizer size estimate is under the SAME
    size threshold :func:`spread_small_scan` uses (cores x
    maxBytesPerCore).  Used to guard broadcast-join hints on relations
    DERIVED from ``df`` whose own post-aggregation estimates drift
    with filter/join selectivity (e.g. a per-doc sizes aggregate
    behind a df-cap join): if the whole INPUT is small, any per-doc
    aggregate of it is broadcastable, so the hint PINS the broadcast
    against estimate drift; above the threshold no hint is given and
    the planner keeps the scale-safe choice."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    per_core = _max_bytes_per_core(spark)
    if per_core <= 0:
        return False
    est = _size_estimate(df)
    return 0 <= est <= max(cores, 1) * per_core
