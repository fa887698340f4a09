"""SparkSession factory.

Mirrors the role of the reference's ``config.yaml`` loader
(reference: auto_kafka_redis.py:43-67) — one place that turns
configuration into a ready-to-use engine handle.

The builder carries only what must be fixed before the session
exists (master, driver memory, UI, the state-store provider) plus the
broadcast threshold. Every runtime conf — shuffle partitions sized to
the session's cores, AQE, UTC session timezone, Arrow, RocksDB
changelog checkpointing — comes from ``catalog.tune_session``, the
same function that tunes a vanilla session built by the caller of
``__spark_entry__``, so both kinds of session plan alike.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from eventstream_notify_spark.catalog import tune_session


def get_spark(app_name: str = "eventstream-notify-spark") -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Honors the driver env contract:
    - ``SPARK_GRAFT_CPUS``: local[] parallelism (default ``*``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- streaming state at scale: RocksDB, not heap ----------
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # 12g default: local[32] means driver heap = the WHOLE JVM
        # (all 32 executor threads' operators + state stores + any
        # sink residue). 8g left ~0 headroom in a 276-query session —
        # the r8 bench OOM needed the memory-sink fix AND margin; the
        # box has 128 GiB, so 12g is still conservative.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    tune_session(spark)
    return spark
