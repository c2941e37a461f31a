"""SparkSession factory.

Tuned for the test harness (local[N], single JVM) but with settings chosen for
cluster scale: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (deterministic timestamp semantics that
match the DuckDB oracle), Arrow enabled for the pandas-UDF paths.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "rspl-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession.

    At 100 TB scale the same logical plans run on a real cluster; everything
    configured here is cluster-safe: no hard-coded memory sizes, AQE handles
    partition-count right-sizing at runtime, and shuffle partitions default to
    the parallelism of the harness (overridden by AQE coalescing anyway).
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Adaptive query execution: runtime shuffle-partition coalescing,
        # skew-join splitting, dynamic broadcast conversion.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        # Dimension tables (region/nation/supplier/part at test SFs) broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for every pandas interchange (pandas_udf / applyInPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate rewrites explode(expr) into
        # Filter(size(expr)>0) + Generate; the filter is (a) interpreted,
        # not codegen'd, and (b) after projection pushdown INLINES the
        # generator's whole expression tree — for the nested-lambda
        # shingle/trigram arrays here that re-evaluates the token-hash
        # transform per sequence element, O(tokens^2) md5 calls per row
        # (measured r15: the corpus->shards decontamination explode
        # 40.9s -> 0.13s at sf0.1 with the rule off; same blowup class
        # on every explode-over-computed-array operator). The inferred
        # filter is purely redundant work for explode (empty/null arrays
        # emit nothing anyway), so excluding it cannot change results —
        # scale-independent, not a local[32] artifact.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Deterministic timestamps — matches DuckDB reading the same parquet.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()


def grouped_map_parallelism(spark: SparkSession) -> int:
    """Partition count to PIN on Python-compute-bound grouped-map
    stages (applyInPandas with quadratic or heavy per-group work),
    where AQE's byte-size exchange coalescing is the wrong objective
    (measured r13: a 1M-row/1000-key stage coalesced onto 8 of 32
    cores).

    Cluster-safe per r13 ADVICE: ``defaultParallelism`` alone under-pins
    with dynamic allocation (few executors at PLAN time → a pin far
    below eventual cluster cores, and AQE-exempt so never corrected)
    and is unavailable on Spark Connect (no ``sparkContext``). Take
    max(defaultParallelism, spark.sql.shuffle.partitions) — the larger
    of "cores now" and "the cluster's configured shuffle width".
    """
    dp = 0
    try:
        dp = spark.sparkContext.defaultParallelism
    except AttributeError:  # Spark Connect: PySparkAttributeError, no sparkContext
        pass
    sp = 0
    try:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # e.g. "auto" on some platforms
        pass
    return max(dp, sp) or 200


def _parse_bytes(v: str) -> int:
    v = v.strip().lower()
    for suf, mult in (("tb", 2**40), ("gb", 2**30), ("mb", 2**20),
                      ("kb", 2**10), ("t", 2**40), ("g", 2**30),
                      ("m", 2**20), ("k", 2**10), ("b", 1)):
        if v.endswith(suf):
            return int(float(v[: -len(suf)]) * mult)
    return int(v)


def advisory_width(spark: SparkSession, nbytes: int) -> int:
    """The AQE coalescing rule, for plans AQE cannot re-plan:
    ceil(nbytes / spark.sql.adaptive.advisoryPartitionSizeInBytes),
    clamped to [1, spark.sql.shuffle.partitions]. At cluster scale the
    byte term saturates at the configured shuffle width, so the scaled
    plan is unchanged — this is NOT a local[N] constant."""
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        cap = 200
    try:
        advisory = _parse_bytes(
            spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
            )
        )
    except Exception:
        advisory = 64 * 2**20
    return max(1, min(cap, math.ceil(nbytes / max(advisory, 1))))
