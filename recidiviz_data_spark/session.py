"""SparkSession factory tuned for this engine.

Local mode is a stand-in for a multi-executor cluster: `local[N]` = one JVM,
N executor threads. Every knob below is also correct on a real cluster —
AQE, Arrow, UTC session time, and shuffle partitions sized to parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    *,
    app_name: str = "recidiviz_data_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Parameters follow the session brief: AQE on (runtime re-plan, skew-join
    splitting, partition coalescing), Arrow on (pandas UDF fast path), UTC
    session timezone (DuckDB-oracle comparability), shuffle partitions sized
    to the local parallelism rather than the 200 default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = (os.cpu_count() or 8) if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # smaller input splits: keeps wide scans parallel even for fat files
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_WAREHOUSE_DIR", "/tmp/rds_spark_warehouse"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # table reads pass the manifest's explicit file paths; Spark's parallel
        # listing (a job of one task per path past 32 paths) exists to discover
        # files under directories, so no read may reach its threshold. Only the
        # session conf removes the job: a reader .option() does not.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (needed to switch master between bench runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        # Spark caches the JVM gateway; a fresh builder after stop() is fine.
        SparkSession.builder._options = {}  # type: ignore[attr-defined]


def materialize(df):
    """Multi-consumer materialization point (localCheckpoint) for derived
    tables that several plan branches consume — the plain DAG re-runs the
    whole derivation per consumer (AQE's join reshaping defeats exchange
    reuse)."""
    return df.localCheckpoint()


def materialize_lazily(df):
    """``materialize`` without its own job: the shuffle stages run now, the
    last stage inside the first action that reads the result, which keeps
    it for every later consumer."""
    return df.localCheckpoint(eager=False)
