"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (single JVM); production targets a real
cluster — every default below is chosen to survive that transition:
AQE on (runtime coalesce + skew-join handling), shuffle partitions sized
explicitly instead of the 200 default, UTC session timezone so results are
oracle-comparable, Arrow enabled for the Pandas-UDF slow path, and a
generated-class cache large enough that a repeated pipeline reuses its
compiled code instead of recompiling it on every run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "orientdb_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a cluster, ``master`` comes from spark-submit and is left unset here;
    locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # a curation pipeline (text metrics, then minhash dedup) generates
        # more classes than the default 100 entries hold, so each rerun
        # recompiled them and reruns never reached a steady time; a static
        # conf, so it is set before the session starts
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_profile(
    total_cores: int = 4000,
    executor_mem_gb: int = 32,
    executor_cores: int = 8,
) -> dict[str, str]:
    """SQL-conf block for a REAL cluster at the 100 TB design point —
    the settings SCALE.md's plan shapes assume, so a deploy doesn't
    silently inherit the local[32] test defaults. Every key is a
    runtime-settable SQL conf: apply via ``get_spark(extra_conf=...)``
    at build time or ``spark.conf.set`` on a live session.

    The sizing DERIVES from the executor shape (not constants), keyed to
    SCALE.md ("Cluster posture"):

    - ``shuffle.partitions`` = 3× total cores — oversized on purpose;
      AQE coalesces down per stage, and a too-small static value is the
      one mistake AQE cannot undo (it merges, never splits, the map side).
    - ``advisoryPartitionSizeInBytes`` = per-task memory
      (mem/cores) / 32, clamped to [32 MB, 256 MB] — AQE's coalesce
      target; a compressed partition decompresses 3-5× and the hash
      aggregates need working headroom on top, so 1/32 of task memory
      keeps the post-shuffle stage out of spill (32 GB / 8 cores →
      128 MB, the local-bench-validated shape; 16 GB / 16 cores → 32 MB).
    - ``files.maxPartitionBytes`` = 2× advisory — scan granularity:
      at the default shape 100 TB / 256 MB ≈ 400k scan tasks, amortizing
      task overhead while keeping any single task re-runnable in seconds
      on straggler retry.
    - ``autoBroadcastJoinThreshold`` = executor_mem / 128, clamped to
      [16 MB, 512 MB] — one broadcast hash table lives per executor
      heap, so the dim-table ceiling must scale with executor memory
      (32 GB → 256 MB); raising it past the local 10 MB default is what
      keeps nation/region/part-scale dims off the shuffle path.
    - skew-join split ON: factor 4, threshold 2× advisory — a skewed
      fact-fact partition splits instead of stalling a task for hours
      (the salting operators remain for DETERMINISTIC hot keys;
      AQE handles the emergent ones).
    - ``maxRecordsPerBatch`` 10k — Arrow batch size for the Pandas-UDF
      stages (multimodal/codec paths): bounds per-batch Python memory at
      wide binary columns.
    """
    if total_cores < 1 or executor_cores < 1 or executor_mem_gb < 1:
        raise ValueError("cluster_profile sizes must be positive")
    mb = 1024 * 1024
    per_task_mb = executor_mem_gb * 1024 // executor_cores
    advisory_mb = min(256, max(32, per_task_mb // 32))
    broadcast_mb = min(512, max(16, executor_mem_gb * 1024 // 128))
    return {
        "spark.sql.shuffle.partitions": str(3 * int(total_cores)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{advisory_mb}m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "4",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": (
            f"{2 * advisory_mb}m"
        ),
        "spark.sql.files.maxPartitionBytes": str(2 * advisory_mb * mb),
        "spark.sql.autoBroadcastJoinThreshold": str(broadcast_mb * mb),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
    }


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column regardless of fixture storage type.

    Fixture generations have stored ``ts`` as TIMESTAMP(NANOS) — read as
    bigint under ``spark.sql.legacy.parquet.nanosAsLong`` — or as plain
    ``timestamp[us]``. Branch on the observed dtype:

    - ``bigint`` (nanos-as-long): floor-divide to micros, matching DuckDB's
      nanos→micros truncation, then ``timestamp_micros``.
    - ``timestamp_ntz``: cast to TIMESTAMP. Session TZ is pinned UTC, so
      the naive wall-clock is reinterpreted as the same UTC instant and
      hour-bucketing/formatting matches the TZ-naive DuckDB oracle.
    - ``timestamp``: pass through.

    Any other dtype fails loudly so a future fixture-schema change surfaces
    as one clear message instead of N analysis exceptions downstream.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        return df
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if dtype == "timestamp_ntz":
        # This reinterpretation is only instant-preserving when the
        # session clock is UTC — enforce the precondition instead of
        # silently shifting event times against the TZ-naive oracle.
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
            raise RuntimeError(
                f"normalize_ts requires spark.sql.session.timeZone=UTC to cast "
                f"timestamp_ntz safely (session has {tz!r}); use "
                f"orientdb_etl_spark.get_spark() which pins it"
            )
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if dtype == "timestamp":
        return df
    raise TypeError(
        f"fixture column {col!r} has unsupported dtype {dtype!r}; expected "
        "bigint (nanos-as-long), timestamp_ntz, or timestamp — the testdata "
        "fixture schema has changed; update orientdb_etl_spark.session.normalize_ts"
    )
