"""SparkSession construction / normalization.

The engine requires a handful of runtime-settable SQL confs; they are safe
to apply to an externally-created session (the test driver owns its own
``SparkSession``), so ``configure_session`` is idempotent and only touches
runtime confs.

Scale posture (SURVEY.md §7 "100 TB posture"): AQE on (skew-join splitting
+ post-shuffle coalescing), broadcast threshold left at Spark default so
dimension tables broadcast, shuffle partitions tuned by the caller per
deployment (local tests use the core count; a 1000-executor cluster would
use 2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime confs the engine depends on. All are settable on a live session.
_RUNTIME_CONFS = {
    # Deterministic timestamp semantics: testdata parquet is TIMESTAMP_NTZ;
    # with a UTC session, NTZ -> TIMESTAMP casts are timezone-free, so
    # epoch arithmetic matches any ANSI engine (DuckDB oracle).
    "spark.sql.session.timeZone": "UTC",
    # Some testdata generations store events.ts as TIMESTAMP(NANOS),
    # which Spark's vectorized reader rejects; read those as epoch-nanos
    # BIGINT (exact). Micros-precision generations are unaffected and
    # arrive as TIMESTAMP_NTZ — loaders.epoch_us handles both layouts.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime shuffle-partition coalescing and skew
    # join splitting — essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / applyInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Right-size shuffles for the host (Spark's 200 default means
    # hundreds of near-empty tasks per stage on local test scales; on a
    # real cluster deployments override via SPARK_GRAFT_CPUS / submit
    # conf). Runtime-settable, semantics-free.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent).

    ``spark.sql.shuffle.partitions`` is only adjusted when still at
    Spark's 200 default — an explicit caller/cluster setting wins."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if k == "spark.sql.shuffle.partitions":
                if spark.conf.get(k, "200") == "200":
                    spark.conf.set(k, v)
            else:
                spark.conf.set(k, v)
        except Exception:  # conf removed/renamed on some Spark builds
            pass
    return spark


def get_spark(
    app_name: str = "hudi_spark_plus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32)
    for local runs; on a real cluster pass ``None`` master via spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    import tempfile

    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    builder = (
        # after _RUNTIME_CONFS so an explicit argument wins
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # static conf — keep bucketed-table tests/demos out of the cwd
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "hsp_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session whose conf the
    # builder couldn't touch; normalize runtime confs, then re-assert the
    # explicit shuffle_partitions argument (it wins over the env default).
    configure_session(spark)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    except Exception:
        pass
    return spark
